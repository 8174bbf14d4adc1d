package graft.streaming

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.http.{HttpOptions, RequestCallback}
import graft.http.testkit.StubServer

class HttpPollingSourceSpec extends SparkSpec {

  private def checkpoint() =
    Files.createTempDirectory("graft-poll-ckpt").toString

  test("polls endpoint and splits JSON array into rows") {
    val server = new StubServer()
      .route("/feed")(_ => (200, """[{"id":1},{"id":2},{"id":3}]"""))
      .start()
    try {
      val df = spark.readStream
        .format("graft-http-poll")
        .option("url", server.url("/feed"))
        .load()
      val q = df.writeStream
        .format("memory")
        .queryName("poll_feed")
        .option("checkpointLocation", checkpoint())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000) shouldBe true
      val rows = spark
        .sql("SELECT poll_id, item_index, status, body FROM poll_feed ORDER BY item_index")
        .collect()
      rows.length shouldBe 3
      rows.map(_.getLong(0)).toSet shouldBe Set(1L)
      rows.map(_.getInt(1)).toSeq shouldBe Seq(0, 1, 2)
      rows.map(_.getInt(2)).toSet shouldBe Set(200)
      rows.head.getString(3) shouldBe """{"id":1}"""
      server.requestCount shouldBe 1
    } finally server.stop()
  }

  test("split-array=false keeps the whole body as one row") {
    val server = new StubServer()
      .route("/one")(_ => (200, """[1,2,3]"""))
      .start()
    try {
      val df = spark.readStream
        .format("graft-http-poll")
        .option("url", server.url("/one"))
        .option(HttpOptions.PollSplitArray, "false")
        .load()
      val q = df.writeStream
        .format("memory")
        .queryName("poll_one")
        .option("checkpointLocation", checkpoint())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000) shouldBe true
      val rows = spark.sql("SELECT body FROM poll_one").collect()
      rows.length shouldBe 1
      rows.head.getString(0) shouldBe "[1,2,3]"
    } finally server.stop()
  }

  test("a POST poll sends the body option as its request body") {
    val server = new StubServer()
      .route("/search")(_ => (200, """[{"id":7}]"""))
      .start()
    try {
      val q = spark.readStream
        .format("graft-http-poll")
        .option(HttpOptions.Url, server.url("/search"))
        .option(HttpOptions.LookupMethod, "POST")
        .option(HttpOptions.PollBody, """{"since":42}""")
        .load()
        .writeStream
        .format("memory")
        .queryName("poll_post")
        .option("checkpointLocation", checkpoint())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000) shouldBe true
      server.requests.map(r => (r.method, r.body)) shouldBe
        List(("POST", """{"since":42}"""))
      spark.sql("SELECT body FROM poll_post").collect().map(_.getString(0)) shouldBe
        Array("""{"id":7}""")
    } finally server.stop()
  }

  test("a second latestOffset inside min-poll-interval sends no request") {
    val server = new StubServer().route("/tick")(_ => (200, "[1]")).start()
    try {
      val throttled = new HttpPollingMicroBatchStream(Map(
        HttpOptions.Url -> server.url("/tick"),
        HttpOptions.PollMinInterval -> "1h"))
      throttled.latestOffset() shouldBe PollOffset(1L)
      throttled.latestOffset() shouldBe PollOffset(1L)
      server.requestCount shouldBe 1
      // without the throttle every call polls
      val eager = new HttpPollingMicroBatchStream(
        Map(HttpOptions.Url -> server.url("/tick")))
      eager.latestOffset() shouldBe PollOffset(1L)
      eager.latestOffset() shouldBe PollOffset(2L)
      server.requestCount shouldBe 3
    } finally server.stop()
  }

  test("the named request callback sees one request per poll at the configured level") {
    val requests = new java.util.concurrent.atomic.AtomicInteger()
    val levels = new java.util.concurrent.ConcurrentLinkedQueue[RequestCallback.Level]()
    RequestCallback.register("poll-counter", level => {
      levels.add(level)
      new RequestCallback {
        def onRequest(m: String, u: String, b: Option[String]): Unit = { requests.incrementAndGet(); () }
        def onResponse(m: String, u: String, s: Int): Unit = ()
        def onException(m: String, u: String, e: Throwable): Unit = ()
      }
    })
    val server = new StubServer().route("/cb")(_ => (200, """[{"id":1}]""")).start()
    try {
      val q = spark.readStream
        .format("graft-http-poll")
        .option("url", server.url("/cb"))
        .option("http.source.lookup.request-callback", "poll-counter")
        .option("http.logging.level", "REQ_RESP")
        .load()
        .writeStream
        .format("memory")
        .queryName("poll_cb")
        .option("checkpointLocation", checkpoint())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000) shouldBe true
      server.requestCount shouldBe 1
      requests.get() shouldBe 1
      levels.asScala.toSet shouldBe Set(RequestCallback.Level.ReqResp)
    } finally server.stop()
  }

  test("continuous trigger polls repeatedly, one batch per poll") {
    val counter = new java.util.concurrent.atomic.AtomicInteger()
    val server = new StubServer()
      .route("/seq")(_ => (200, s"""{"n":${counter.incrementAndGet()}}"""))
      .start()
    try {
      val df = spark.readStream
        .format("graft-http-poll")
        .option("url", server.url("/seq"))
        .load()
      val q = df.writeStream
        .format("memory")
        .queryName("poll_seq")
        .option("checkpointLocation", checkpoint())
        .trigger(Trigger.ProcessingTime(25))
        .start()
      try {
        val deadline = System.currentTimeMillis() + 60000
        var polls = 0L
        while (polls < 3 && System.currentTimeMillis() < deadline) {
          Thread.sleep(50)
          polls = spark.sql("SELECT count(DISTINCT poll_id) FROM poll_seq")
            .collect().head.getLong(0)
        }
        polls should be >= 3L
        val bodies = spark
          .sql("SELECT body FROM poll_seq WHERE poll_id <= 3 ORDER BY poll_id")
          .collect().map(_.getString(0))
        bodies.take(3) shouldBe Array("{\"n\":1}", "{\"n\":2}", "{\"n\":3}")
      } finally q.stop()
    } finally server.stop()
  }

  test("composes with from_json decode and windowed aggregation downstream") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val server = new StubServer()
      .route("/ev")(_ => (200,
        """[{"user":"u1","ts":"2024-01-01 10:00:10","v":2},
          |{"user":"u1","ts":"2024-01-01 10:00:40","v":3},
          |{"user":"u2","ts":"2024-01-01 10:01:05","v":5}]""".stripMargin))
      .start()
    try {
      val schema = StructType(Seq(
        StructField("user", StringType),
        StructField("ts", TimestampType),
        StructField("v", LongType)))
      val agg = spark.readStream
        .format("graft-http-poll")
        .option("url", server.url("/ev"))
        .load()
        .select(from_json(col("body"), schema).as("e"))
        .select(col("e.user"), col("e.ts"), col("e.v"))
        .groupBy(window(col("ts"), "1 minute"), col("user"))
        .agg(sum(col("v")).as("total"))
      val q = agg.writeStream
        .format("memory")
        .queryName("poll_windowed")
        .outputMode("complete")
        .option("checkpointLocation", checkpoint())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000) shouldBe true
      val rows = spark
        .sql("SELECT user, total FROM poll_windowed ORDER BY user")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      rows.toSeq shouldBe Seq(("u1", 5L), ("u2", 5L))
    } finally server.stop()
  }

  test("restart resumes the offset from the checkpoint (no silent drop)") {
    // Regression: a fresh instance started with polls=0 while the checkpoint
    // held N, so post-restart polls (ids 1..N) were evicted by commit(end<=N)
    // without being planned — new data silently dropped until the counter
    // caught up. The counter must rehydrate from the start offset.
    val counter = new java.util.concurrent.atomic.AtomicInteger()
    val server = new StubServer()
      .route("/r")(_ => (200, s"""{"n":${counter.incrementAndGet()}}"""))
      .start()
    val ckpt = checkpoint()
    val out = Files.createTempDirectory("graft-poll-out").toString
    def runOnce(): Unit = {
      val q = spark.readStream
        .format("graft-http-poll")
        .option("url", server.url("/r"))
        .load()
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000) shouldBe true
    }
    try {
      runOnce() // first run commits poll 1
      runOnce() // fresh stream instance; must continue at poll 2, not regress
      val rows = spark.read.parquet(out)
        .selectExpr("poll_id", "body").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      rows.toSeq shouldBe Seq((1L, """{"n":1}"""), (2L, """{"n":2}"""))
    } finally server.stop()
  }

  test("non-success response does not advance the offset (no rows emitted)") {
    val server = new StubServer()
      .route("/down")(_ => (404, "not found"))
      .start()
    try {
      val df = spark.readStream
        .format("graft-http-poll")
        .option("url", server.url("/down"))
        .load()
      val q = df.writeStream
        .format("memory")
        .queryName("poll_down")
        .option("checkpointLocation", checkpoint())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000) shouldBe true
      spark.sql("SELECT * FROM poll_down").collect() shouldBe empty
    } finally server.stop()
  }
}
