package org.apache.spark

/** Listener events are delivered asynchronously; the bus's drain call is
  * package-private, so the benchmark reaches it from this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
