package org.apache.spark

/** The listener bus delivers events asynchronously; the trace summary must
  * see every event posted before it runs. `waitUntilEmpty` is
  * package-private, hence this one-line bridge. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
