package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Listener-bus drain. Listener events are delivered asynchronously,
  * so a listener that sums job or task metrics may not yet have seen
  * the events of a job that already returned. `SparkContext.listenerBus`
  * is `private[spark]`; this forwarder lives under the org.apache.spark
  * package so callers can wait for delivery instead of guessing with a
  * sleep. Only this call crosses the boundary.
  */
object ListenerBusBridge {
  /** Blocks until every event posted so far has reached every
    * listener. Spark posts a job's task-end and job-end events before
    * the job's action returns, so after `count()` and one `drain`
    * every listener has seen that job. Returns false when the queues
    * did not empty within 10 s (the events arrive late). */
  def drain(sc: SparkContext): Boolean =
    try { sc.listenerBus.waitUntilEmpty(10000L); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
