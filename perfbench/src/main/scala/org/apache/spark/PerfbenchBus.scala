package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced run reads complete job and stage records. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
