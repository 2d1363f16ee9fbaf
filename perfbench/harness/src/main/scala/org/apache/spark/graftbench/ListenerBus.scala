package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** `LiveListenerBus.waitUntilEmpty` is `private[spark]`. The traced run
  * drains the bus at every operation boundary so that each Spark event
  * is attributed to the operation that caused it.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
