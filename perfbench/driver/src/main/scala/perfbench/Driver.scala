package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Benchmark driver: runs one workload against the program's public entry
  * points and writes a JSON result file (operation latencies, counters,
  * outputs to check). `perfbench/run.py` generates the inputs, launches
  * this driver, checks the outputs and prints the metrics.
  *
  * Arguments: --workload W --trace 0|1 --seconds S --input DIR --out DIR
  * --result FILE --trace-file FILE [--queries FILE]. */
object Driver {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(args("out"), "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val trace = args("trace") == "1"
    val stats =
      if (!trace) None
      else {
        val js = new JobStats(spark.sparkContext)
        spark.sparkContext.addSparkListener(js)
        Some(js)
      }
    val run = new Run(spark, stats, new Tracer(trace), args("seconds").toDouble,
      args("input"), args("out"))
    args("workload") match {
      case "customer360_etl" => run.customer360Etl()
      case "query_registry" =>
        run.queryRegistry(scala.io.Source.fromFile(args("queries")).getLines()
          .map(_.trim).filter(n => n.nonEmpty && !n.startsWith("#")).toSet)
      case "stream_ingest" => run.streamIngest()
      case other => sys.error(s"unknown workload $other")
    }
    spark.stop()
    Files.write(Paths.get(args("result")), Json(run.result).getBytes("UTF-8"))
    if (trace)
      Files.write(Paths.get(args("trace-file")),
        Json(Map("spans" -> run.tracer.records, "queries" -> run.queryRecords))
          .getBytes("UTF-8"))
  }
}

object Run {
  /** Untimed warm-up of the pipelines workload, in seconds. */
  val WarmupSeconds = 20.0
}

/** One run of one workload. Timed operations go through [[op]]; every
  * figure the run reports lands in [[result]]. */
final class Run(spark: SparkSession, stats: Option[JobStats], val tracer: Tracer,
                seconds: Double, input: String, out: String) {

  private val ops = ArrayBuffer.empty[Map[String, Any]]
  private val errors = ArrayBuffer.empty[String]
  private val layers = LinkedHashMap.empty[String, Double]
  private val checks = LinkedHashMap.empty[String, Any]
  private val perOp = ArrayBuffer.empty[Counters]
  private val perOpIdle = ArrayBuffer.empty[Long]
  val queryRecords = ArrayBuffer.empty[Map[String, Any]]
  private var firstOpEpoch = 0.0
  private var phaseStart = 0L
  private var gcAtStart = 0L
  private var phase = Map.empty[String, Double]

  private def epochNow: Double = {
    val t = java.time.Instant.now()
    t.getEpochSecond + t.getNano / 1e9
  }

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  private def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def vmHwmMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def beginPhase(): Unit = {
    gcAtStart = gcMs
    phaseStart = System.nanoTime()
  }

  private def phaseOver: Boolean = secondsSince(phaseStart) >= seconds

  private def endPhase(): Unit =
    phase = Map("wall_s" -> secondsSince(phaseStart),
      "gc_ms" -> (gcMs - gcAtStart).toDouble, "vm_hwm_mb" -> vmHwmMb)

  /** Listener counters around `body` (traced runs only; the drain sits
    * outside the caller's timing). */
  private def counted[T](body: => T): (T, Counters, Long) = stats match {
    case None => (body, Counters(0, 0, 0, 0, 0, 0, 0, 0), 0L)
    case Some(js) =>
      val c0 = js.snap()
      val w0 = System.currentTimeMillis()
      val r = body
      val w1 = System.currentTimeMillis()
      val c1 = js.snap()
      (r, c1 - c0, js.idleMs(w0, w1))
  }

  /** One timed operation: latency recorded, failure counted, never
    * rethrown. */
  private def op(name: String, round: Int)(body: => Unit): Boolean = {
    if (firstOpEpoch == 0.0) firstOpEpoch = epochNow
    val id = ops.size
    var secs = 0.0
    val (ok, c, idle) = counted {
      val t0 = System.nanoTime()
      val ok =
        try { tracer(s"op:$name", id)(body); true }
        catch { case NonFatal(e) => errors += s"$name: $e"; false }
      secs = secondsSince(t0)
      ok
    }
    ops += Map("name" -> name, "round" -> round, "s" -> secs, "ok" -> ok)
    perOp += c
    perOpIdle += idle
    ok
  }

  private def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  private def materialize(df: DataFrame): Unit = df.queryExecution.toRdd.count()

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Per-operation means of the listener counters over the successful
    * timed operations. */
  private def opCounters(names: (String, Counters => Double)*): Unit = {
    val ok = perOp.indices.filter(i => ops(i)("ok") == true)
    names.foreach { case (n, f) => layers(n) = mean(ok.map(i => f(perOp(i)))) }
  }

  /** Layer outputs materialized in pipeline order, `rounds` times; each
    * layer's self time is its cumulative time minus the previous
    * layer's (clamped at 0), median over rounds, added to the layer's
    * total. */
  private def prefixProbe(rounds: Int, steps: Seq[(String, () => Unit)]): Unit = {
    val selfTimes = steps.map(_._1 -> ArrayBuffer.empty[Double]).toMap
    (0 until rounds).foreach { r =>
      var prev = 0.0
      steps.foreach { case (name, action) =>
        val (_, ms) = timeMs(tracer(s"probe:$name", -1 - r)(action()))
        selfTimes(name) += math.max(0.0, ms - prev)
        prev = ms
      }
    }
    steps.foreach { case (name, _) =>
      layers(name) = layers.getOrElse(name, 0.0) + median(selfTimes(name).toSeq)
    }
  }

  private def jvmLayers(): Unit = {
    layers("jvm.gc_ms") = phase("gc_ms")
    layers("jvm.heap_peak_mb") = heapPeakMb
  }

  // --------------------------------------------------------- pipelines

  /** One operation = the two Customer360 pipelines back to back: A
    * (interaction profile) then B (behavior trend), each into its sink. */
  def customer360Etl(): Unit = {
    import graft.operators.{ContentTypeMap, Engagement, TopKeyword}
    import graft.pipeline.{BehaviorPipeline, InteractionPipeline}
    import graft.semantic.RuleClassifier
    import graft.sources.{ParquetSink, Sources}
    val paths = new File(input, "interactions").listFiles().map(_.getPath)
      .filter(_.endsWith(".json")).sorted.toSeq
    val days = new File(input, "search").listFiles().filter(_.isDirectory)
      .map(_.getPath).sorted.toSeq
    val june = days.filter(_.split('/').last.startsWith("202206"))
    val july = days.filter(_.split('/').last.startsWith("202207"))
    def etl(dir: String): Unit = {
      tracer("pipeline:interaction", ops.size)(
        InteractionPipeline.run(spark, paths, ParquetSink(dir)))
      tracer("pipeline:behavior", ops.size)(
        BehaviorPipeline.run(spark, june, july, ParquetSink(dir)))
    }
    // untimed warm-up until the JIT has compiled the hot paths: at least
    // two operations and WarmupSeconds of them (the first timed
    // operations were still 40 % slower after two)
    val warm0 = System.nanoTime()
    var warmed = 0
    while (warmed < 2 || secondsSince(warm0) < Run.WarmupSeconds) {
      etl(s"$out/warm")
      warmed += 1
    }
    beginPhase()
    var i = 0
    while (!phaseOver) {
      val dir = s"$out/ops/op$i"
      if (op(s"etl$i", i)(etl(dir))) {
        output("profiles", s"$dir/interaction_data")
        output("trends", s"$dir/behavior_data")
      }
      i += 1
    }
    endPhase()
    if (tracer.enabled) {
      opCounters(
        "pipeline.jobs" -> (_.jobs.toDouble),
        "pipeline.stages" -> (_.stages.toDouble),
        "sources.input_bytes" -> (_.inBytes.toDouble),
        "sources.output_bytes" -> (_.outBytes.toDouble),
        "operators.shuffle_write_bytes" -> (_.shuffleWrite.toDouble),
        "operators.spill_bytes" -> (_.spill.toDouble),
        "operators.executor_run_ms" -> (_.runMs.toDouble))
      layers("pipeline.build_ms") = median((0 until 3).map(_ => timeMs(tracer("probe:build", -1) {
        InteractionPipeline.build(spark, paths)
        BehaviorPipeline.build(spark, june, july)
      })._2))
      // A. The source layer's output is taken as the pipeline consumes it
      // (the map step projects these columns).
      def src = Sources.interactionLogs(spark, paths)
      prefixProbe(2, Seq(
        "sources.scan_ms" -> (() =>
          materialize(src.select("Contract", "AppName", "TotalDuration", "log_date"))),
        "operators.content_type_map_ms" -> (() => materialize(ContentTypeMap(src))),
        "operators.pivot_daily_ms" -> (() =>
          materialize(Engagement.pivotDaily(ContentTypeMap(src)))),
        "operators.profile_ms" -> (() =>
          materialize(Engagement(ContentTypeMap(src)))),
        "sources.sink_ms" -> (() =>
          InteractionPipeline.run(spark, paths, ParquetSink(s"$out/probe")))))
      // B, added to the shared source and sink layers
      val months = Seq(june -> "T6", july -> "T7")
      def search(days: Seq[String]) = Sources.searchLogs(spark, days)
      prefixProbe(2, Seq(
        "sources.scan_ms" -> (() =>
          months.foreach(m => materialize(search(m._1).select("user_id", "keyword")))),
        "operators.top_keyword_ms" -> (() =>
          months.foreach(m => materialize(TopKeyword(search(m._1))))),
        "semantic.classify_ms" -> (() =>
          months.foreach { case (d, s) =>
            materialize(BehaviorPipeline.monthProfile(spark, d, s, RuleClassifier))
          }),
        "operators.trend_ms" -> (() =>
          materialize(BehaviorPipeline.build(spark, june, july))),
        "sources.sink_ms" -> (() =>
          BehaviorPipeline.run(spark, june, july, ParquetSink(s"$out/probe")))))
      // work shared per classification: rows entering the distinct
      // classification step per distinct keyword classified
      val tops = months.map(m => TopKeyword(search(m._1)))
      val distinct = tops.map(_.select("most_search").na.drop().distinct().count()).sum
      val rows = tops.map(_.count()).sum
      layers("semantic.distinct_keywords") = distinct.toDouble
      layers("semantic.rows_per_keyword") = rows.toDouble / math.max(1L, distinct)
      jvmLayers()
    }
  }

  // ---------------------------------------------------------- registry

  def queryRegistry(names: Set[String]): Unit = {
    import graft.{SparkEntry, Tables}
    import graft.operators.IndexBuilds
    import graft.sources.IndexCatalog
    val sf = input
    val slice = SparkEntry.all.filter(q => names(q.name)).sortBy(_.name)
    checks("missing_queries") = (names -- slice.map(_.name)).toSeq.sorted
    // untimed warm-up: session, codegen and scan paths
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, sf).selectExpr("sum(l_quantity)").collect()
    val results = ArrayBuffer.empty[(String, Int, StructType, Array[Row])]
    beginPhase()
    var round = 0
    while (!phaseOver) {
      slice.foreach { q =>
        var res: (StructType, Array[Row]) = null
        val built0 = IndexCatalog.buildCount.get()
        val ok = op(q.name, round) {
          if (!tracer.enabled) {
            val df = q.run(spark, sf)
            res = (df.schema, df.collect())
          } else res = tracedQuery(q.name, round, q.run(spark, sf))
        }
        spark.catalog.clearCache()
        if (IndexCatalog.buildCount.get() > built0) lazyBuilds += q.name
        if (ok) results += ((q.name, round, res._1, res._2))
      }
      round += 1
    }
    endPhase()
    // result dumps for the oracle comparison, outside the timed phase,
    // written from a few threads (each dump is a tiny one-task job)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      results.map { case (name, r, schema, rows) =>
        val dir = s"$out/results/r$r/$name"
        output("results", dir)
        pool.submit(new Runnable {
          def run(): Unit = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
            .coalesce(1).write.parquet(dir)
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    val oracles = SparkEntry.oracleSql
    checks("oracle_sql") = slice.flatMap(q => oracles.get(q.name).map(q.name -> _)).toMap
    checks("lazy_builds") = lazyBuilds.toSeq
    if (tracer.enabled) {
      // cold prebuild of every index artifact into this run's fresh catalog
      val built0 = IndexCatalog.buildCount.get()
      val ((_, buildMs), idx, _) = counted(timeMs {
        tracer("index.prebuild", -1) {
          IndexBuilds.all.foreach { case (name, fn) =>
            tracer(s"index:$name", -1) {
              try fn(spark, sf)
              catch { case NonFatal(e) => errors += s"$name: $e" }
            }
            spark.catalog.clearCache()
          }
        }
      })
      val trained = IndexCatalog.buildCount.get() - built0
      val adopted = IndexCatalog.provenance.values.count(_ == "adopted")
      checks("index_trained") = trained
      checks("index_adopted") = adopted
      checks("index_builders") = IndexBuilds.all.size
      layers("index.build_ms") = buildMs
      layers("index.jobs") = idx.jobs.toDouble
      layers("index.trained") = trained.toDouble
      layers("index.adopted") = adopted.toDouble
      val recs = queryRecords.toSeq
      def avg(k: String) = mean(recs.map(_(k).asInstanceOf[Double]))
      Seq("construct_ms", "construct_jobs", "analysis_ms", "optimization_ms",
        "planning_ms", "exec_ms", "exec_jobs", "exec_stages", "tasks",
        "executor_run_ms", "task_idle_ms").foreach(k => layers(s"registry.$k") = avg(k))
      val reads = Seq[(SparkSession, String) => DataFrame](Tables.region, Tables.nation,
        Tables.customer, Tables.supplier, Tables.part, Tables.orders,
        Tables.lineitem, Tables.events, Tables.documents, Tables.embeddings)
      val probes = reads.map { read =>
        val ((_, ms), c, _) = counted(timeMs(tracer("probe:tables", -1)(read(spark, sf))))
        (ms, c.jobs)
      }
      layers("tables.read_ms") = probes.map(_._1).sum
      layers("tables.read_jobs") = probes.map(_._2).sum.toDouble
      jvmLayers()
    }
  }

  /** One registry query split into construction (the `run` call),
    * Catalyst phases and execution, with jobs attributed to the window
    * they started in. */
  private def tracedQuery(name: String, round: Int,
                          build: => DataFrame): (StructType, Array[Row]) = {
    val ((df, constructMs), cc, _) = counted(timeMs(tracer("construct", -1)(build)))
    val ((_, planMs), pc, _) = counted(timeMs(tracer("plan", -1)(df.queryExecution.executedPlan)))
    val ((rows, execMs), ec, idle) = counted(timeMs(tracer("execute", -1)(df.collect())))
    val phases = df.queryExecution.tracker.phases
    def phase(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    queryRecords += Map("query" -> name, "round" -> round,
      "construct_ms" -> constructMs, "construct_jobs" -> cc.jobs.toDouble,
      "analysis_ms" -> phase("analysis"), "optimization_ms" -> phase("optimization"),
      "planning_ms" -> phase("planning"), "plan_window_ms" -> planMs,
      "plan_jobs" -> pc.jobs.toDouble, "exec_ms" -> execMs,
      "exec_jobs" -> ec.jobs.toDouble, "exec_stages" -> ec.stages.toDouble,
      "tasks" -> ec.tasks.toDouble, "executor_run_ms" -> ec.runMs.toDouble,
      "task_idle_ms" -> idle.toDouble)
    (df.schema, rows)
  }

  // ------------------------------------------------------------ stream

  def streamIngest(): Unit = {
    import graft.streaming.{DedupStreams, IngestTelemetry}
    val corpusT = "pb_corpus"
    val pairT = "pb_pairs"
    val bandDir = s"$out/bands"
    def docs(f: String) = spark.read.schema("doc_id BIGINT, text STRING")
      .parquet(new File(input, s"stream/$f").getPath)
    val batches = new File(input, "stream").list().filter(_.startsWith("batch_")).sorted
    def telemetry = IngestTelemetry.snapshot.filter(_._1 == "doc ids")
      .flatMap(_._2).groupMapReduce(_._1)(_._2)(_ + _)
    val (_, seedMs) = timeMs(tracer("streaming.seed", -1)(
      DedupStreams.seedCorpus(spark, docs("seed.parquet"), corpusT, bandDir)))
    layers("streaming.seed_ms") = seedMs
    // two untimed batches: the first one's absent bloom ledger forces an
    // exact scan, the second one warms the steady-state path
    (0 to 1).foreach(k =>
      DedupStreams.processBatch(docs(batches(k)), k.toLong, corpusT, pairT, bandDir))
    var last = 1
    val tel0 = telemetry
    beginPhase()
    var failed = false
    // a failed batch leaves the stored state behind the input: stop there
    while (!phaseOver && !failed && last + 1 < batches.length) {
      val k = last + 1
      failed = !op(s"batch$k", k)(
        DedupStreams.processBatch(docs(batches(k)), k.toLong, corpusT, pairT, bandDir))
      if (!failed) last = k
    }
    endPhase()
    val tel = telemetry.map { case (k, n) => k -> (n - tel0.getOrElse(k, 0L)) }
    spark.table(pairT).write.parquet(s"$out/pairs_final")
    DedupStreams.processBatch(docs(batches(last)), last.toLong, corpusT, pairT, bandDir)
    spark.table(pairT).write.parquet(s"$out/pairs_replay")
    checks("batches") = batches.take(last + 1).toSeq
    checks("oracle_sql") = graft.SparkEntry.oracleSql("q_dedup_incremental")
    if (tracer.enabled) {
      val n = math.max(1, ops.size).toDouble
      opCounters(
        "streaming.batch_jobs" -> (_.jobs.toDouble),
        "streaming.batch_exec_ms" -> (_.runMs.toDouble),
        "streaming.bytes_written" -> (_.outBytes.toDouble))
      layers("streaming.task_idle_ms") = mean(perOpIdle.map(_.toDouble))
      layers("streaming.bloom_probes") =
        (tel.getOrElse("cheap_pass", 0L) + tel.getOrElse("bloom_hit_exact", 0L)) / n
      layers("streaming.exact_scans") = tel.collect {
        case (k, v) if k.endsWith("_exact") => v
      }.sum / n
      jvmLayers()
    }
  }

  /** Output directories to check, by kind. */
  private val outputs = LinkedHashMap.empty[String, ArrayBuffer[String]]
  private def output(kind: String, dir: String): Unit =
    outputs.getOrElseUpdate(kind, ArrayBuffer.empty) += dir
  private val lazyBuilds = ArrayBuffer.empty[String]

  def result: Map[String, Any] = Map(
    "first_op_epoch_s" -> firstOpEpoch,
    "ops" -> ops.toSeq,
    "errors" -> errors.toSeq,
    "phase" -> phase,
    "layers" -> layers.toMap,
    "check" -> (checks.toMap + ("outputs" -> outputs.map { case (k, v) => k -> v.toSeq }.toMap)))
}
