package org.apache.spark.sql.graftext

import org.apache.spark.SparkContext

/** Blocks until the context's listener bus has delivered every event
  * posted so far, so a listener's counts include all jobs submitted
  * before the call. The bus is `private[spark]`, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
