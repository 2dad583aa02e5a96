package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * spec can read a listener's counts right after its action returns
  * without sleeping. The wait is `private[spark]`, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
