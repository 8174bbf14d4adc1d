package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Drain the context's listener bus (the `private[spark]` seam Spark's own
  * tests use): blocks until every event posted so far has been delivered,
  * or throws a `TimeoutException` after `timeoutMs`.
  */
object BusShim {
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
