package org.apache.spark

/** Specs that count Spark jobs through a listener read their count
  * only after every event posted so far has been delivered. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
