package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._

/** Counter totals at one instant; differences give a window's work. */
final case class Counters(jobs: Long, stages: Long, tasks: Long, runMs: Long,
                          shuffleWrite: Long, spill: Long, inBytes: Long,
                          outBytes: Long) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, runMs - o.runMs, shuffleWrite - o.shuffleWrite,
    spill - o.spill, inBytes - o.inBytes, outBytes - o.outBytes)
}

/** Listener for the traced run: job, stage and task counts, task metrics
  * and every task's [launch, finish] interval (for idle time). */
final class JobStats(sc: SparkContext) extends SparkListener {
  private var c = Counters(0, 0, 0, 0, 0, 0, 0, 0)
  private val intervals = ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { c = c.copy(jobs = c.jobs + 1) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c = c.copy(stages = c.stages + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    c = if (m == null) c.copy(tasks = c.tasks + 1)
    else c.copy(
      tasks = c.tasks + 1,
      runMs = c.runMs + m.executorRunTime,
      shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
      spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
      inBytes = c.inBytes + m.inputMetrics.bytesRead,
      outBytes = c.outBytes + m.outputMetrics.bytesWritten)
    intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
  }

  /** Counters after every event posted so far has been delivered. */
  def snap(): Counters = { PerfbenchBus.drain(sc); synchronized(c) }

  /** Milliseconds of the wall-clock window [from, to] (epoch ms) during
    * which no task was running. Call after [[snap]]. */
  def idleMs(from: Long, to: Long): Long = synchronized {
    val clipped = intervals.iterator
      .map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var busy = 0L
    var end = from
    clipped.foreach { case (a, b) =>
      if (b > end) { busy += b - math.max(a, end); end = b }
    }
    (to - from) - busy
  }
}

/** Spans at each layer boundary, kept in memory and written when the run
  * ends. A disabled tracer runs the body and records nothing. */
final class Tracer(val enabled: Boolean) {
  private final case class Span(id: Int, parent: Int, name: String, op: Int,
                        startNs: Long, endNs: Long)
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var next = 0
  private val origin = System.nanoTime()

  def apply[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = next
      next += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, op, t0 - origin, System.nanoTime() - origin)
        stack = stack.tail
      }
    }

  /** Span records with self time = duration minus the part of it that
    * child spans cover. */
  def records: Seq[Map[String, Any]] = {
    val kids = spans.groupBy(_.parent)
    spans.sortBy(_.id).toSeq.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(k => math.min(k.endNs, s.endNs) - math.max(k.startNs, s.startNs))
        .filter(_ > 0).sum
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
        "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6,
        "self_ms" -> (s.endNs - s.startNs - covered) / 1e6)
    }
  }
}

/** Minimal JSON writer for the driver's result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
}
