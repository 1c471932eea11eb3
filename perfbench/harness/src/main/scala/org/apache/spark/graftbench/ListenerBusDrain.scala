package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Lets the trace wait for the listener bus to deliver every event of
  * the op that just finished, so events are attributed to the right op.
  * `LiveListenerBus.waitUntilEmpty` is `private[spark]`.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
