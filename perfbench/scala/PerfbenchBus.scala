package org.apache.spark

/** Listener events are delivered asynchronously; the benchmark reads its
  * counters only after the bus has delivered every event posted so far.
  * `listenerBus` is private to Spark, hence this file's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
