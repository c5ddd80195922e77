package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark's listener totals are complete before they are read. The
  * listener bus drain is package-private to Spark; this forwarder is the
  * only reason the file lives in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
