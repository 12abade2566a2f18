package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so task totals read after an operation include all of its
  * tasks. The listener bus is private to Spark; this object lives in its
  * package for that one call.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
