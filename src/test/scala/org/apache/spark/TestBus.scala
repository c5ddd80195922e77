package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * spec's listener has seen every query that already ran. The drain is
  * package-private to Spark; this forwarder is why the file lives here. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
