package graft.queries

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, StreamingQueryProgress, Trigger}

/** How the streaming gates run their queries: one place to start, finish,
  * rethrow and stop. Bounded gates [[drain]] under `Trigger.AvailableNow`
  * (every input present at start, then the query ends itself). The
  * `ProcessingTime` gates start their own query and poll it [[until]] its
  * progress events show the work done — the query's progress is its
  * monitoring contract, so the poll runs no Spark job of its own.
  */
private[queries] object Streams {

  private val PollMs = 25L
  private val StopWaitMs = 1000L

  /** A memory-sink writer: `df`'s rows collect in the in-memory table
    * `name`, which also names the query.
    */
  def memory(df: DataFrame, name: String, outputMode: String): DataStreamWriter[Row] =
    df.writeStream.format("memory").queryName(name).outputMode(outputMode)

  /** Run `writer` to completion under `Trigger.AvailableNow`. A query that
    * fails rethrows its failure here.
    */
  def drain(writer: DataStreamWriter[Row]): Unit =
    writer.trigger(Trigger.AvailableNow()).start().awaitTermination()

  /** [[drain]] `df` into the memory table `name`; returns that table. */
  def drain(df: DataFrame, name: String, outputMode: String): DataFrame = {
    drain(memory(df, name, outputMode))
    df.sparkSession.table(name)
  }

  /** Poll `query`'s progress every [[PollMs]] until `done` holds. The
    * query's own failure is rethrown, and at `timeoutMs` the wait fails
    * with `timedOut`'s message. The query is stopped on every path.
    */
  def until(query: StreamingQuery, timeoutMs: Long)(
      done: Array[StreamingQueryProgress] => Boolean,
      timedOut: Array[StreamingQueryProgress] => String): Unit =
    try {
      val deadline = System.currentTimeMillis() + timeoutMs
      var progress = query.recentProgress
      while (!done(progress) && query.isActive &&
        System.currentTimeMillis() < deadline) {
        query.awaitTermination(PollMs) // throws if the query failed
        progress = query.recentProgress
      }
      query.exception.foreach(e => throw e)
      require(done(progress), timedOut(progress))
    } finally stopBetweenTriggers(query)

  /** `stop()` interrupts the micro-batch thread and cancels its jobs, and
    * a batch cut mid-write logs its abort at ERROR. So wait up to
    * [[StopWaitMs]] for the running trigger to end, then stop. It spins
    * rather than sleeps: a trigger that starts right behind the last one
    * (a batch longer than its interval) leaves a gap of microseconds, and
    * a stop that misses it still cuts a batch.
    */
  private def stopBetweenTriggers(query: StreamingQuery): Unit = {
    val giveUp = System.currentTimeMillis() + StopWaitMs
    while (query.isActive && query.status.isTriggerActive &&
      System.currentTimeMillis() < giveUp) Thread.onSpinWait()
    query.stop()
  }
}
