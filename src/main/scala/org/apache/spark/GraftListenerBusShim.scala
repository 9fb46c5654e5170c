package org.apache.spark

/** Bridge into `SparkContext.listenerBus` (private[spark]), the same
  * minimal-bridge pattern as [[org.apache.spark.sql.GraftColumnBridge]].
  * `waitUntilEmpty` blocks until every posted event has reached every
  * listener, so a reader sees all events of the work it just ran; on
  * deadline it throws TimeoutException instead of returning early.
  * Callers: `graft.tools.Profile` reads its job/task counters after it,
  * AqeFinalPlanSpec flushes before unregistering its plan listener. */
object GraftListenerBusShim {
  @throws[java.util.concurrent.TimeoutException]
  def waitUntilEmpty(sc: SparkContext, timeoutMillis: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
