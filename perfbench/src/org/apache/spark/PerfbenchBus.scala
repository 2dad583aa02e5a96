package org.apache.spark

/** Waits until the listener bus has delivered every posted event. The bus
  * is asynchronous, so a span that snapshots listener counts right after
  * its action returns would miss the last task and progress events; the
  * wait is `private[spark]`, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
