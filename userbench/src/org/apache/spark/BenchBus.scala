package org.apache.spark

/** The listener bus's drain is package-private to Spark; the traced
  * benchmark run needs it so per-layer numbers are computed only after
  * every job, query and stream event has been delivered. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
