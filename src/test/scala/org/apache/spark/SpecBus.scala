package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * spec's listener counts are complete before they are read. The bus is
  * package-private to Spark, hence this one-method bridge.
  */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
