package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; the listener layer
  * (`graft.Observe`) needs to drain it so an entry's byte deltas,
  * phases and plan walks are complete before they are read. Same
  * minimal-bridge pattern as
  * `org.apache.spark.sql.graftbridge.ColumnBridge`.
  */
object ListenerBridge {
  /** Block until all queued listener events are delivered. Returns
    * false when the bus did not drain within the timeout — the caller
    * gets a slightly-stale (approximate) read of its counters rather
    * than an exception aborting the whole harness run
    * (`waitUntilEmpty` throws TimeoutException on a busy bus).
    */
  def drain(sc: SparkContext, timeoutMillis: Long = 30000L): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMillis); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
