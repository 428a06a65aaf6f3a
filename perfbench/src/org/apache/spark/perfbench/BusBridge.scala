package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to driver internals that are `private[spark]`.
  *
  * `drain`: the traced run drains the listener bus after each operation,
  * so every task, stage and query-execution event of that operation has
  * been delivered before the operation's span is closed.
  *
  * `stopStateStores`: unloads the streaming state-store providers and
  * stops their maintenance thread before the session stops, so no
  * state-store log lines land after the harness's record is written.
  */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def stopStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
}
