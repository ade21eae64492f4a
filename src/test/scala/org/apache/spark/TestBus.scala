package org.apache.spark

/** The listener bus is package-private; specs that count Spark jobs drain
  * it before they read their listener, so no event of an already finished
  * request is still queued.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
