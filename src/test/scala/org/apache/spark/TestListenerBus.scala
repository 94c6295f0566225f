package org.apache.spark

/** Lets a spec wait for Spark's asynchronous listener bus, so every job
  * event of an action has reached its listeners before a count is read.
  * `listenerBus` is private to the `org.apache.spark` package. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
