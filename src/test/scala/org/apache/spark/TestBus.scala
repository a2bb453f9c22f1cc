package org.apache.spark

/** The listener bus's drain is package-private to Spark; specs that
  * count jobs or read the status tracker call it so every event posted
  * so far has been delivered. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
