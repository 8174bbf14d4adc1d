package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.SparkSpec

/** The streaming gates' run helper: a failed query fails the run instead of
  * handing back what its sink held, and a progress wait ends at its deadline
  * with the query stopped.
  */
class StreamsSpec extends SparkSpec {

  /** A file stream over ids 1..10 whose batch throws on id 7. */
  private def failingStream() = {
    val in = GateTemp.dir("graft-streams-spec").resolve("in").toString
    spark.range(1, 11).toDF("id").write.parquet(in)
    spark.readStream
      .schema(spark.read.parquet(in).schema)
      .parquet(in)
      .select(
        when(col("id") === 7, raise_error(lit("boom on id 7")))
          .otherwise(col("id")).as("id"))
  }

  test("drain rethrows a failed batch instead of returning a partial table") {
    val e = intercept[StreamingQueryException] {
      Streams.drain(failingStream(), "streams_spec_failing", "append")
    }
    e.getMessage should include("boom on id 7")
    spark.streams.active shouldBe empty
  }

  test("until fails at its deadline with the caller's message and stops the query") {
    val q = Streams
      .memory(spark.readStream.format("rate").load(), "streams_spec_rate", "append")
      .trigger(Trigger.ProcessingTime(10L))
      .start()
    val t0 = System.nanoTime()
    val e = intercept[IllegalArgumentException] {
      Streams.until(q, 500L)(_ => false, p => s"never done after ${p.length} batches")
    }
    (System.nanoTime() - t0) / 1000000L should be >= 500L
    e.getMessage should include("never done after")
    q.isActive shouldBe false
    spark.streams.active shouldBe empty
  }

  test("until rethrows the query's own failure") {
    val q = Streams
      .memory(failingStream(), "streams_spec_failing_poll", "append")
      .trigger(Trigger.ProcessingTime(10L))
      .start()
    val e = intercept[StreamingQueryException] {
      Streams.until(q, 60000L)(_ => false, _ => "unreachable")
    }
    e.getMessage should include("boom on id 7")
    spark.streams.active shouldBe empty
  }
}
