package org.apache.spark

/** The listener bus is package-private; the benchmark drains it before it
  * reads per-request job, stage and storage counts, so no event of an
  * already finished request is still queued.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
