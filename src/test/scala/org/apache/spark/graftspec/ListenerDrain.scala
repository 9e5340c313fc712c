package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; a spec that counts them waits
  * until the bus is empty before it reads its counts. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
