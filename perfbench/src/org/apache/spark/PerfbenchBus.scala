package org.apache.spark

/** Lets the traced run wait until every listener event posted so far
  * has been delivered, so job accounting is read only after the bus
  * has drained. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    scala.util.Try(sc.listenerBus.waitUntilEmpty(timeoutMs))
}
