package org.apache.spark

/** Waits until the listener bus (`private[spark]`) has delivered every posted event. */
object GraftAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
