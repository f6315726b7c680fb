package org.apache.spark

/** Listener events are delivered asynchronously; the benchmark reads its
  * counters only after the bus has delivered everything posted so far.
  * `listenerBus` is package-private, hence this one-method bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
