package graft.http

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec
import graft.http.testkit.StubServer

/** Sink behavior: batching, single mode, error classification, auth,
  * streaming (reference: HttpSinkConnectionTest / BatchRequestSubmitterTest /
  * HttpDynamicSinkInsertTest coverage).
  */
class HttpSinkSpec extends SparkSpec with BeforeAndAfterAll {

  private var server: StubServer = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    server = StubServer()
      .route("/ok") { _ => (200, "{}") }
      .route("/reject") { _ => (422, "no") }
      .start()
  }

  override def afterAll(): Unit = { server.stop(); super.afterAll() }

  private def df(n: Int) = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, s"name$i")).toDF("id", "name").coalesce(1)
  }

  test("batch mode frames JSON arrays of request.batch.size") {
    server.clear()
    HttpSink.write(
      df(25),
      Map(
        "url" -> server.url("/ok"),
        "http.sink.request.batch.size" -> "10"))
    val bodies = server.requests.filter(_.path == "/ok").map(_.body)
    bodies should have size 3
    val sizes = bodies.map(b => Json.mapper.readTree(b).size()).sorted
    sizes shouldBe List(5, 10, 10)
    val first = Json.mapper.readTree(bodies.head).get(0)
    first.has("id") shouldBe true
    first.has("name") shouldBe true
  }

  test("single mode posts one record per request, raw object body") {
    server.clear()
    HttpSink.write(
      df(4),
      Map(
        "url" -> server.url("/ok"),
        "http.sink.writer.request.mode" -> "single"))
    val bodies = server.requests.filter(_.path == "/ok").map(_.body)
    bodies should have size 4
    all(bodies.map(_.startsWith("{"))) shouldBe true
  }

  test("PUT method honored") {
    server.clear()
    HttpSink.write(
      df(2),
      Map("url" -> server.url("/ok"), "insert-method" -> "PUT"))
    server.requests.last.method shouldBe "PUT"
  }

  test("error status fails the job (default 4XX/5XX)") {
    a[Throwable] should be thrownBy HttpSink.write(
      df(3),
      Map("url" -> server.url("/reject")))
  }

  test("excluded error code tolerated") {
    HttpSink.write(
      df(3),
      Map(
        "url" -> server.url("/reject"),
        "http.sink.error.code.exclude" -> "422"))
  }

  test("custom payload column (element converter analog)") {
    server.clear()
    HttpSink.write(
      df(2),
      Map(
        "url" -> server.url("/ok"),
        "http.sink.writer.request.mode" -> "single"),
      payload = Some(concat(lit("id="), col("id"))))
    server.requests.map(_.body).sorted shouldBe List("id=1", "id=2")
  }

  test("sink headers + basic auth") {
    server.clear()
    HttpSink.write(
      df(1),
      Map(
        "url" -> server.url("/ok"),
        "http.sink.header.Authorization" -> "u:p",
        "http.sink.header.X-K" -> "v"))
    val req = server.requests.last
    req.headers("Authorization").head should startWith("Basic ")
    req.headers("X-k").head shouldBe "v"
  }

  test("per-row ForeachWriter sink applies Basic-auth header preprocessing") {
    server.clear()
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    val query = input
      .toDF()
      .select(to_json(struct(col("value").as("v"))).as("payload"))
      .writeStream
      .foreach(new HttpForeachWriter(Map(
        "url" -> server.url("/ok"),
        "http.sink.header.Authorization" -> "u:p")))
      .start()
    try {
      input.addData(1L, 2L)
      query.processAllAvailable()
      val reqs = server.requests.filter(_.path == "/ok")
      reqs should have size 2
      // same transformation as the batch sink: 'u:p' -> Basic base64(u:p)
      all(reqs.map(_.headers("Authorization").head)) should startWith("Basic ")
    } finally query.stop()
  }

  test("streaming foreachBatch sink delivers all rows") {
    server.clear()
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    val query = input
      .toDF()
      .toDF("v")
      .writeStream
      .foreachBatch(HttpSink.foreachBatchWriter(Map(
        "url" -> server.url("/ok"),
        "http.sink.request.batch.size" -> "3")))
      .start()
    try {
      input.addData(1L to 7L: _*)
      query.processAllAvailable()
      val n = server.requests
        .filter(_.path == "/ok")
        .map(b => Json.mapper.readTree(b.body).size())
        .sum
      n shouldBe 7
    } finally query.stop()
  }

  test("flush-buffer.timeout flushes a partial batch before the micro-batch ends") {
    // slow streaming micro-batch: each row takes ~700ms to reach the sink
    // (sleeping UDF drained by the partition iterator), batch.size is never
    // reached — without the timeout all rows would sit buffered until the
    // batch ends; with it the first row's request must land while the
    // iterator is still sleeping.
    server.clear()
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val slow = udf { (v: Long) => Thread.sleep(700); v }
    val input = MemoryStream[Long]
    val query = input
      .toDF()
      .repartition(1)
      .select(slow(col("value")).as("v"))
      .writeStream
      .foreachBatch(HttpSink.foreachBatchWriter(Map(
        "url" -> server.url("/ok"),
        "http.sink.request.batch.size" -> "100",
        "sink.flush-buffer.timeout" -> "300 ms")))
      .start()
    try {
      input.addData(1L to 4L: _*)
      query.processAllAvailable()
      val reqs = server.requests.filter(_.path == "/ok")
      // one request per timed-out single-row batch (plus possibly a tail
      // flush) instead of ONE request for the whole micro-batch
      reqs.size should be > 1
      reqs.map(b => Json.mapper.readTree(b.body).size()).sum shouldBe 4
    } finally query.stop()
  }

  test("idempotency keys: replayed write re-sends identical keys; epochs differ") {
    def keysFor(epoch: Long): List[String] = {
      server.clear()
      HttpSink.write(
        df(25),
        Map(
          "url" -> server.url("/ok"),
          "http.sink.request.batch.size" -> "10",
          "http.sink.idempotency.header" -> "Idempotency-Key"),
        epochId = epoch)
      server.requests
        .filter(_.path == "/ok")
        .flatMap(_.headers.getOrElse("Idempotency-key", Nil))
        .sorted
    }
    val first = keysFor(7L)
    first should have size 3
    first.distinct should have size 3
    // keys embed epoch-partition-bodyhash-occurrence
    all(first) should fullyMatch regex "7-0-[0-9a-f]{16}-\\d+"
    // a replay of the same epoch (task retry / recovered micro-batch)
    // re-sends byte-identical requests under the SAME keys …
    keysFor(7L) shouldBe first
    // … while a different epoch (genuinely new data) gets fresh keys
    keysFor(8L) should not be first
  }

  test("idempotency keys are pinned for fixed batch- and single-mode fixtures") {
    import spark.implicits._
    // multi-byte payloads (e-acute, CJK, an astral emoji) pin that the key
    // hashes the UTF-8 bytes of the body; the single-mode duplicate pins
    // the occurrence suffix
    def keys(mode: String, rows: Seq[(Long, String)]): List[String] = {
      server.clear()
      HttpSink.write(
        rows.toDF("id", "name").coalesce(1),
        Map(
          "url" -> server.url("/ok"),
          "http.sink.writer.request.mode" -> mode,
          "http.sink.request.batch.size" -> "4",
          "http.sink.idempotency.header" -> "Idempotency-Key"),
        epochId = 3L)
      server.requests
        .filter(_.path == "/ok")
        .flatMap(_.headers.getOrElse("Idempotency-key", Nil))
        .sorted
    }
    val batch = (1 to 10).map(i => (i.toLong, s"n\u00e9$i\u4e2d\ud83d\ude00"))
    keys("batch", batch) shouldBe List(
      "3-0-1d6ee65fd1fb0c7d-0", "3-0-4685e51b4affeeee-0", "3-0-7c1a273533224942-0")
    val single = Seq((1L, "a"), (1L, "a"), (2L, "\u00e9\u4e2d\ud83d\ude00\t\"q\""))
    keys("single", single) shouldBe List(
      "3-0-7f0fc1050a42a0cb-0", "3-0-7f0fc1050a42a0cb-1", "3-0-d98791697335281f-0")
  }

  test("idempotency keys off by default: no header emitted") {
    server.clear()
    HttpSink.write(df(3), Map("url" -> server.url("/ok")))
    server.requests.filter(_.path == "/ok").foreach { r =>
      r.headers.keys.exists(_.equalsIgnoreCase("Idempotency-key")) shouldBe false
    }
  }

  test("per-row ForeachWriter carries per-epoch idempotency keys") {
    server.clear()
    val w = new HttpForeachWriter(Map(
      "url" -> server.url("/ok"),
      "http.sink.idempotency.header" -> "X-Request-Id"))
    def replay(): List[String] = {
      w.open(partitionId = 3L, epochId = 11L) shouldBe true
      Seq("""{"a":1}""", """{"a":2}""").foreach { p =>
        w.process(org.apache.spark.sql.Row(p))
      }
      w.close(null)
      val ks = server.requests
        .filter(_.path == "/ok")
        .flatMap(_.headers.getOrElse("X-request-id", Nil))
      server.clear()
      ks
    }
    val first = replay()
    first should have size 2
    all(first) should fullyMatch regex "11-3-[0-9a-f]{16}-\\d+"
    // epoch replay after failure: open() resets occurrence counts → same keys
    replay() shouldBe first
  }

  test("per-row ForeachWriter honours sink.requests.max-inflight") {
    // the route only answers once 2 requests are on the wire together: a
    // writer that ignores the option (one at a time) breaks the barrier
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val srv = StubServer()
      .route("/pair") { _ =>
        barrier.await(10, java.util.concurrent.TimeUnit.SECONDS)
        (200, "{}")
      }
      .start()
    try {
      val w = new HttpForeachWriter(Map(
        "url" -> srv.url("/pair"),
        "sink.requests.max-inflight" -> "2"))
      w.open(partitionId = 0L, epochId = 0L) shouldBe true
      Seq("""{"a":1}""", """{"a":2}""").foreach(p => w.process(org.apache.spark.sql.Row(p)))
      w.close(null)
      srv.requestCount shouldBe 2
    } finally srv.stop()
  }

  test("single-mode idempotency key set is invariant under partition reorder") {
    import spark.implicits._
    // same multiset of rows — including a duplicate payload — in two
    // different within-partition orders, as a post-shuffle replay could
    // deliver them (Spark fixes partition CONTENTS, not fetch ORDER)
    val rowsAsc = Seq(1L, 2L, 2L, 3L, 4L)
    def keysFor(rows: Seq[Long]): List[String] = {
      server.clear()
      HttpSink.write(
        rows.toDF("id").coalesce(1),
        Map(
          "url" -> server.url("/ok"),
          "http.sink.writer.request.mode" -> "single",
          "http.sink.idempotency.header" -> "Idempotency-Key"),
        epochId = 5L)
      server.requests
        .filter(_.path == "/ok")
        .flatMap(_.headers.getOrElse("Idempotency-key", Nil))
    }
    val asc = keysFor(rowsAsc)
    asc should have size 5
    asc.distinct should have size 5 // the duplicate body got occurrence 1
    keysFor(rowsAsc.reverse).sorted shouldBe asc.sorted
  }

  test("idempotency.sort makes batch bodies and keys order-stable") {
    import spark.implicits._
    def run(rows: Seq[Long]): (List[String], List[String]) = {
      server.clear()
      HttpSink.write(
        rows.toDF("id").coalesce(1),
        Map(
          "url" -> server.url("/ok"),
          "http.sink.request.batch.size" -> "4",
          "http.sink.idempotency.sort" -> "true",
          "http.sink.idempotency.header" -> "Idempotency-Key"),
        epochId = 9L)
      val reqs = server.requests.filter(_.path == "/ok")
      (
        reqs.map(_.body).sorted,
        reqs.flatMap(_.headers.getOrElse("Idempotency-key", Nil)).sorted)
    }
    val rows = Seq(5L, 3L, 9L, 1L, 7L, 2L, 8L)
    val (bodiesA, keysA) = run(rows)
    bodiesA should have size 2 // 4 + 3
    // a reordered replay frames the SAME batches and re-carries the SAME keys
    run(rows.reverse) shouldBe ((bodiesA, keysA))
    // without the sort, the reordered replay frames different batch bodies
    def unsortedBodies(rs: Seq[Long]): List[String] = {
      server.clear()
      HttpSink.write(
        rs.toDF("id").coalesce(1),
        Map(
          "url" -> server.url("/ok"),
          "http.sink.request.batch.size" -> "4"))
      server.requests.filter(_.path == "/ok").map(_.body).sorted
    }
    unsortedBodies(rows) should not be unsortedBodies(rows.reverse)
  }

  test("idempotency nonce separates intentional batch re-runs") {
    def keysFor(nonce: String): List[String] = {
      server.clear()
      HttpSink.write(
        df(5),
        Map(
          "url" -> server.url("/ok"),
          "http.sink.idempotency.header" -> "Idempotency-Key",
          "http.sink.idempotency.nonce" -> nonce))
      server.requests
        .filter(_.path == "/ok")
        .flatMap(_.headers.getOrElse("Idempotency-key", Nil))
        .sorted
    }
    val run1 = keysFor("run-2026-08-12a")
    all(run1) should startWith("run-2026-08-12a-0-")
    keysFor("run-2026-08-12a") shouldBe run1 // same nonce = replay identity
    keysFor("run-2026-08-12b") should not be run1 // fresh nonce = new delivery
  }

  test("idempotency header replaces a same-named static sink header") {
    server.clear()
    HttpSink.write(
      df(1),
      Map(
        "url" -> server.url("/ok"),
        "http.sink.header.Idempotency-Key" -> "static-value",
        "http.sink.idempotency.header" -> "Idempotency-Key"))
    val vals = server.requests
      .filter(_.path == "/ok")
      .flatMap(_.headers.getOrElse("Idempotency-key", Nil))
    vals should have size 1 // replaced, not appended
    vals.head should not be "static-value"
  }

  test("a configured Content-Type header is the one Content-Type a sink sends") {
    server.clear()
    HttpSink.write(
      df(3),
      Map(
        "url" -> server.url("/ok"),
        "http.sink.header.Content-Type" -> "application/x-ndjson"))
    val reqs = server.requests.filter(_.path == "/ok")
    reqs should not be empty
    // not List(application/json, application/x-ndjson): the format's
    // default yields to the configured header
    reqs.map(_.headers("Content-type")).distinct shouldBe
      List(List("application/x-ndjson"))
  }

  test("a writer blocked on its in-flight bound does not stall other writers' timed flushes") {
    // the flush timer is ONE thread per JVM: writer A, saturated at
    // max-inflight=1 by an endpoint that holds requests ~3 s and blocked in
    // add(), must not hold up writer B's timed partial-batch flush
    val release = new java.util.concurrent.CountDownLatch(1)
    val srv = StubServer()
      .route("/slow") { _ =>
        release.await(3, java.util.concurrent.TimeUnit.SECONDS)
        (200, "{}")
      }
      .route("/fast") { _ => (200, "{}") }
      .start()
    def writer(path: String, extra: (String, String)*) = SinkRuntime(
      Map(
        "url" -> srv.url(path),
        "http.sink.request.batch.size" -> "2",
        "sink.flush-buffer.timeout" -> "50 ms") ++ extra,
      Nil).newPartitionWriter()
    def arrived(path: String) = srv.requests.count(_.path == path)
    val a = writer("/slow", "sink.requests.max-inflight" -> "1")
    val b = writer("/fast", "http.sink.request.batch.size" -> "100")
    val adder = new Thread(() => (1 to 4).foreach(i =>
      a.add(org.apache.spark.unsafe.types.UTF8String.fromString(s"""{"a":$i}"""))))
    adder.setDaemon(true)
    try {
      adder.start()
      // A's first batch is held on the wire; its second waits for the
      // permit, and A's own timer ticks meanwhile
      val deadline = System.nanoTime() + 5000000000L
      while (arrived("/slow") == 0 && System.nanoTime() < deadline) Thread.sleep(10)
      Thread.sleep(200)
      arrived("/slow") shouldBe 1
      adder.isAlive shouldBe true

      val t0 = System.nanoTime()
      b.add(org.apache.spark.unsafe.types.UTF8String.fromString("""{"b":1}"""))
      while (arrived("/fast") == 0 && System.nanoTime() - t0 < 5000000000L)
        Thread.sleep(5)
      val waitedMs = (System.nanoTime() - t0) / 1000000L
      arrived("/fast") shouldBe 1
      waitedMs should be < 1000L
      b.flush()
    } finally {
      release.countDown()
      adder.join(10000)
      a.abort()
      b.abort()
      srv.stop()
    }
  }
}
