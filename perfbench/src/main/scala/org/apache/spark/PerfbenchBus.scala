package org.apache.spark

/** Waits until every event posted so far has reached the listeners.
  * Lives in Spark's package because the listener bus is not public;
  * only the traced run calls it, between timed operations.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
