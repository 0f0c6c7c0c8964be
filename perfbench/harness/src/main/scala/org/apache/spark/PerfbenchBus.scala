package org.apache.spark

/** The listener bus drain is private to Spark; the harness needs it to
  * know that every event of a finished phase has reached its listeners.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
