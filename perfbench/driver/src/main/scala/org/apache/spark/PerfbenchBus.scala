package org.apache.spark

/** The listener bus is package-private in Spark; the benchmark needs its
  * drain so that every task-end event of a finished job is counted
  * before a counter snapshot is taken (no sleeps). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
