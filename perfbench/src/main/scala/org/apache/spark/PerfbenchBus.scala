package org.apache.spark

/** Lets the benchmark wait for Spark's asynchronous listener bus, so
  * every job, task and streaming-progress event of a run has reached its
  * listeners before the counters are read. `listenerBus` is private to
  * the `org.apache.spark` package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
