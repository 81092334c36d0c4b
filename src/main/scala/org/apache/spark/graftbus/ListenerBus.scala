package org.apache.spark.graftbus

import org.apache.spark.SparkContext

/** Access to the listener bus (`private[spark]`) from outside Spark's
  * packages: wait until every event posted so far has reached the
  * listeners, so a listener's view of the jobs that ran is complete. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
