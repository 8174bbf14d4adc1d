package graft.streaming

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec
import graft.http.{HeaderPreprocessor, HeaderValuePreprocessor, HttpLookup}
import graft.http.testkit.StubServer

/** [[HttpLookup.joinStateCached]]: the lookup cache lives in the streaming
  * state store, so a checkpointed RESTART serves cached keys with zero
  * re-fetches — the Spark re-expression of the reference's
  * cache-survives-with-the-job semantics (Flink operator state).
  *
  * Sink is `foreachBatch` into a concurrent map (the memory sink refuses
  * checkpoint recovery), and the specs poll for expected rows instead of
  * `processAllAvailable`: a ProcessingTimeTimeout query re-triggers batches
  * continuously to evaluate timers, so "all available" never quiesces (the
  * same reason Spark's own FlatMapGroupsWithStateSuite drives timeouts with
  * a manual clock).
  */
class StateCachedLookupSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private var server: StubServer = _
  private val hits = new AtomicInteger()

  override def beforeAll(): Unit = {
    super.beforeAll()
    server = StubServer()
      .route("/user") { req =>
        hits.incrementAndGet()
        StubServer.queryMap(req.query).get("id") match {
          case Some(id) => (200, s"""{"name": "user-$id"}""")
          case None => (400, "no id")
        }
      }
      .route("/search") { req =>
        hits.incrementAndGet()
        // body-based lookup: {"id":"<v>"} → name echo
        val id = "\"id\"\\s*:\\s*\"([^\"]+)\"".r
          .findFirstMatchIn(req.body).map(_.group(1)).getOrElse("?")
        (200, s"""{"name": "post-$id"}""")
      }
      .route("/flaky") { _ =>
        hits.incrementAndGet()
        (500, "boom")
      }
      .start()
  }

  override def afterAll(): Unit = {
    server.stop()
    super.afterAll()
  }

  private val responseSchema = StructType(Seq(StructField("name", StringType)))

  private def options(ttl: String): Map[String, String] = Map(
    "url" -> server.url("/user"),
    "lookup-method" -> "GET",
    "lookup.partial-cache.expire-after-write" -> ttl)

  /** event -> looked-up name, accumulated across batches (idempotent under
    * foreachBatch replay).
    */
  private def startQuery(
      input: MemoryStream[(Long, String)],
      ckpt: String,
      sink: ConcurrentHashMap[Long, String],
      ttl: String = "10 min"): StreamingQuery =
    HttpLookup.joinStateCached(
      input.toDF().toDF("event", "id"),
      keyCols = Seq("id"),
      responseSchema = responseSchema,
      options = options(ttl))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.collect().foreach(r => sink.put(r.getLong(0), r.getString(2)))
      }
      .start()

  private def awaitEvents(
      q: StreamingQuery,
      sink: ConcurrentHashMap[Long, String],
      events: Long*): Unit = {
    val deadline = System.currentTimeMillis() + 120000L
    while (!events.forall(sink.containsKey(_))) {
      if (System.currentTimeMillis() > deadline)
        fail(s"sink never saw events ${events.mkString(",")}; has " +
          s"${sink.keySet()} (query exception: ${q.exception})")
      Thread.sleep(100)
    }
  }

  test("state-store cache: in-batch dedup, cross-batch hits, restart survival") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-state-lookup").toString
    hits.set(0)

    val input = MemoryStream[(Long, String)]
    // batch 1: keys 1,2 (key 1 twice -> in-batch dedup, one call per key)
    input.addData((100L, "1"), (101L, "2"), (102L, "1"))
    val sink1 = new ConcurrentHashMap[Long, String]()
    val q1 = startQuery(input, ckpt, sink1)
    try {
      awaitEvents(q1, sink1, 100L, 101L, 102L)
      hits.get() shouldBe 2
      // batch 2: same keys -> pure cache hits
      input.addData((103L, "1"), (104L, "2"))
      awaitEvents(q1, sink1, 103L, 104L)
      hits.get() shouldBe 2
      sink1.get(103L) shouldBe "user-1"
    } finally q1.stop()

    // RESTART from the same checkpoint: a NEW run restores the state store
    // from checkpoint files; cached keys must not re-fetch. The fresh
    // MemoryStream is pre-fed the committed rows so its offsets line up
    // with the checkpoint (the engine may replay the final batch — those
    // keys are cache hits, which is exactly the property under test).
    val input2 = MemoryStream[(Long, String)]
    input2.addData((100L, "1"), (101L, "2"), (102L, "1"))
    input2.addData((103L, "1"), (104L, "2"))
    val before = hits.get()
    val sink2 = new ConcurrentHashMap[Long, String]()
    val q2 = startQuery(input2, ckpt, sink2)
    try {
      input2.addData((200L, "1"), (201L, "2"), (202L, "3"))
      awaitEvents(q2, sink2, 200L, 201L, 202L)
      // keys 1,2 restored from the checkpointed state -> only "3" fetched
      hits.get() shouldBe (before + 1)
      sink2.get(202L) shouldBe "user-3"
      sink2.get(200L) shouldBe "user-1"
    } finally q2.stop()
  }

  test("body-based POST lookups key the state by rendered body") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-state-lookup-post").toString
    hits.set(0)

    val input = MemoryStream[(Long, String)]
    input.addData((1L, "a"), (2L, "b"), (3L, "a"))
    val sink = new ConcurrentHashMap[Long, String]()
    val q = HttpLookup.joinStateCached(
      input.toDF().toDF("event", "id"),
      keyCols = Seq("id"),
      responseSchema = responseSchema,
      options = Map(
        "url" -> server.url("/search"),
        "lookup-method" -> "POST",
        "lookup.partial-cache.expire-after-write" -> "10 min"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.collect().foreach(r => sink.put(r.getLong(0), r.getString(2)))
      }
      .start()
    try {
      awaitEvents(q, sink, 1L, 2L, 3L)
      // two distinct bodies -> two calls; duplicate body served from group
      hits.get() shouldBe 2
      sink.get(1L) shouldBe "post-a"
      sink.get(3L) shouldBe "post-a"
      sink.get(2L) shouldBe "post-b"
    } finally q.stop()
  }

  test("error outcomes are not cached; continue-on-error yields null enrichment") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-state-lookup-err").toString
    hits.set(0)

    val input = MemoryStream[(Long, String)]
    input.addData((1L, "x"))
    val sink = new ConcurrentHashMap[Long, String]()
    val q = HttpLookup.joinStateCached(
      input.toDF().toDF("event", "id"),
      keyCols = Seq("id"),
      responseSchema = responseSchema,
      options = Map(
        "url" -> server.url("/flaky"),
        "lookup-method" -> "GET",
        "http.source.lookup.continue-on-error" -> "true",
        "lookup.partial-cache.expire-after-write" -> "10 min"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.collect().foreach(r =>
          sink.put(r.getLong(0), Option(r.getString(2)).getOrElse("<null>")))
      }
      .start()
    try {
      awaitEvents(q, sink, 1L)
      sink.get(1L) shouldBe "<null>"
      val after = hits.get()
      after should be >= 1
      // a 500 outcome must NOT be cached: the next batch re-attempts
      input.addData((2L, "x"))
      awaitEvents(q, sink, 2L)
      hits.get() should be > after
    } finally q.stop()
  }

  test("stale entry for a failing key is removed, not timer-retained") {
    // Validity is write-based but eviction is access-based: a fresh-hit
    // access re-arms the timer past the entry's staleness point, so a later
    // access in the (stale, timer-armed) window that re-fetches and FAILS
    // must remove the entry — otherwise periodic traffic on a persistently
    // failing key re-arms the timer forever and the dead entry never leaves
    // the store. Observed via the state operator's numRowsTotal.
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-state-lookup-stale").toString
    val failing = new java.util.concurrent.atomic.AtomicBoolean(false)
    val srv = StubServer()
      .route("/mut") { _ =>
        if (failing.get()) (500, "down") else (200, """{"name":"ok"}""")
      }
      .start()
    val ttlMs = 10000L
    val input = MemoryStream[(Long, String)]
    val sink = new ConcurrentHashMap[Long, String]()
    val q = HttpLookup.joinStateCached(
      input.toDF().toDF("event", "id"),
      keyCols = Seq("id"),
      responseSchema = responseSchema,
      options = Map(
        "url" -> srv.url("/mut"),
        "lookup-method" -> "GET",
        "http.source.lookup.continue-on-error" -> "true",
        "lookup.partial-cache.expire-after-write" -> s"$ttlMs ms"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.collect().foreach(r =>
          sink.put(r.getLong(0), Option(r.getString(2)).getOrElse("<null>")))
      }
      .start()
    try {
      input.addData((1L, "k"))
      awaitEvents(q, sink, 1L)
      sink.get(1L) shouldBe "ok"
      // fetchedAtMs is at most "now" (the fetch finished before the sink
      // write we just observed) — sleeping a full TTL from here guarantees
      // the entry is stale at the next access
      val fetchUpper = System.currentTimeMillis()
      failing.set(true)
      Thread.sleep(ttlMs - (System.currentTimeMillis() - fetchUpper) + 500)
      input.addData((2L, "k")) // stale access; re-fetch fails -> remove
      awaitEvents(q, sink, 2L)
      sink.get(2L) shouldBe "<null>" // proves the stale path ran, not a hit
      // WITH the fix the entry leaves the store in that same batch; WITHOUT
      // it the access re-armed the timer to a full TTL, so a poll window of
      // ttl/2 from here cannot be satisfied by timer eviction
      val deadline = System.currentTimeMillis() + ttlMs / 2
      var rows = -1L
      while (rows != 0L && System.currentTimeMillis() < deadline) {
        rows = Option(q.lastProgress)
          .map(_.stateOperators.apply(0).numRowsTotal)
          .getOrElse(-1L)
        if (rows != 0L) Thread.sleep(200)
      }
      rows shouldBe 0L
    } finally {
      q.stop()
      srv.stop()
    }
  }

  test("one exchange per task: headers render per task, not per fetched key") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-state-lookup-tasks").toString
    hits.set(0)
    StateCachedLookupSpec.renders.set(0)

    val input = MemoryStream[(Long, String)]
    input.addData((1 to 20).map(i => (i.toLong, i.toString)): _*)
    val sink = new ConcurrentHashMap[Long, String]()
    val q = HttpLookup.joinStateCached(
      input.toDF().toDF("event", "id"),
      keyCols = Seq("id"),
      responseSchema = responseSchema,
      options = options("10 min") + ("http.source.lookup.header.X-Trace" -> "t"),
      headerPreprocessors = Seq(
        HeaderPreprocessor("X-Trace", StateCachedLookupSpec.CountingRender)))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.collect().foreach(r => sink.put(r.getLong(0), r.getString(2)))
      }
      .start()
    try {
      awaitEvents(q, sink, (1L to 20L): _*)
      hits.get() shouldBe 20
      // every fetch came in the first batch, whose state operator runs one
      // task per shuffle partition; later batches fetch nothing
      StateCachedLookupSpec.renders.get() should be >= 1
      StateCachedLookupSpec.renders.get() should be <=
        spark.conf.get("spark.sql.shuffle.partitions").toInt
    } finally q.stop()
  }

  test("expire-after-write forces a re-fetch once the entry is stale") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-state-lookup-ttl").toString
    hits.set(0)

    val input = MemoryStream[(Long, String)]
    input.addData((1L, "9"))
    val sink = new ConcurrentHashMap[Long, String]()
    val q = startQuery(input, ckpt, sink, ttl = "300 ms")
    try {
      awaitEvents(q, sink, 1L)
      hits.get() shouldBe 1
      Thread.sleep(600)
      input.addData((2L, "9"))
      awaitEvents(q, sink, 2L)
      hits.get() shouldBe 2
    } finally q.stop()
  }
}

object StateCachedLookupSpec {

  /** Header renders: the chain runs once per opened exchange. */
  val renders = new AtomicInteger()

  object CountingRender extends HeaderValuePreprocessor {
    def preprocess(rawValue: String): String = {
      renders.incrementAndGet()
      rawValue
    }
  }
}
