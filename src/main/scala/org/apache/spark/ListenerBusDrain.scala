package org.apache.spark

/** The listener bus delivers events asynchronously; a profile summary must
  * see every event posted before it runs. `waitUntilEmpty` is
  * package-private, hence this one-line bridge. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
