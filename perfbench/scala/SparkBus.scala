package org.apache.spark

/** The listener bus delivers events asynchronously; a traced call must see
  * every event its jobs posted before its counters are read. The drain is
  * `private[spark]`, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
