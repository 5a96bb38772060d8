package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so a
  * listener can be read (or removed) without losing late task-end events.
  * Lives in Spark's package because the bus is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
