package org.apache.spark

/** Listener events arrive asynchronously: anything that reads a
  * listener-derived count (Bench's `max_stage_tasks`, job-counting
  * specs) drains the bus first, so every event posted so far has
  * been delivered. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
