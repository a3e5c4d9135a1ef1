package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Listener-bus drain. `SparkContext.listenerBus` is `private[spark]`;
  * living inside the `org.apache.spark` namespace lets callers wait until
  * every posted event has reached its listeners instead of sleeping and
  * hoping the queue emptied (the same bridge pattern as
  * `org.apache.spark.sql.graftbridge.ColumnBridge`). */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
