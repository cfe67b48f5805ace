package org.apache.spark

/** Listener events are delivered asynchronously; the benchmark reads its
  * listener only after every event posted so far has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
