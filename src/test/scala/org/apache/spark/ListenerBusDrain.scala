package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so a
  * test listener can be read without missing late job events. Lives in
  * Spark's package because the bus is package-private. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
