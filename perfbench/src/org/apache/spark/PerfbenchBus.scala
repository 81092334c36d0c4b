package org.apache.spark

/** The listener bus drain the traced run needs to attribute events to the
  * query that caused them; `SparkContext.listenerBus` is spark-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
