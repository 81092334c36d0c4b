package org.apache.spark.graftbus

import org.apache.spark.SparkContext

/** Test access to the listener bus (`private[spark]`): wait until every
  * event posted so far has reached the listeners. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
