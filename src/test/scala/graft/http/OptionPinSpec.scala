package graft.http

import java.net.{InetSocketAddress, ServerSocket, Socket}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec
import graft.http.testkit.StubServer

/** Option-level pinning for every HTTP connector option that is implemented
  * but not exercised by a driver gate — each test drives the OPTION KEY
  * end-to-end through `HttpLookup.join` / `HttpSink.write` (not the
  * underlying class directly), so a regression in option plumbing fails
  * here even when the mechanism's unit spec stays green.
  *
  * Reference semantics: Flink's lookup partial-cache options
  * (`table/http.md` cache section), `HttpConnectorConfigConstants.java`.
  */
class OptionPinSpec extends SparkSpec with BeforeAndAfterAll {

  private val userSchema = StructType(Seq(
    StructField("name", StringType),
    StructField("balance", DoubleType)))

  private def oneRowProbe = {
    import spark.implicits._
    Seq((1L, "42")).toDF("event", "id").repartition(1)
  }

  private def okUsers(server: StubServer, path: String): StubServer =
    server.route(path) { _ => (200, """{"name": "alice", "balance": 10.5}""") }

  // ---------------------------------------------------------------------
  // lookup.partial-cache.expire-after-access
  // ---------------------------------------------------------------------

  test("expire-after-access: live entry served from cache (option-driven)") {
    LookupCache.clearAll()
    val server = okUsers(StubServer(), "/u").start()
    try {
      val opts = Map(
        "url" -> server.url("/u"),
        "lookup.cache" -> "PARTIAL",
        "lookup.partial-cache.expire-after-access" -> "10 min")
      HttpLookup.join(oneRowProbe, Seq("id"), userSchema, opts).count()
      HttpLookup.join(oneRowProbe, Seq("id"), userSchema, opts).count()
      server.requests.count(_.path == "/u") shouldBe 1
    } finally server.stop()
  }

  test("expire-after-access: an entry past the access TTL re-fetches") {
    LookupCache.clearAll()
    val server = okUsers(StubServer(), "/u").start()
    try {
      val opts = Map(
        "url" -> server.url("/u"),
        "lookup.cache" -> "PARTIAL",
        "lookup.partial-cache.expire-after-access" -> "200 ms")
      HttpLookup.join(oneRowProbe, Seq("id"), userSchema, opts).count()
      Thread.sleep(600L) // comfortably past the 200 ms TTL
      HttpLookup.join(oneRowProbe, Seq("id"), userSchema, opts).count()
      server.requests.count(_.path == "/u") shouldBe 2
    } finally server.stop()
  }

  // ---------------------------------------------------------------------
  // lookup.partial-cache.cache-missing-key
  // ---------------------------------------------------------------------

  test("cache-missing-key default: a missing key's 404 is cached (one wire call)") {
    LookupCache.clearAll()
    val server = StubServer().route("/miss") { _ => (404, "missing") }.start()
    try {
      val opts = Map(
        "url" -> server.url("/miss"),
        "lookup.cache" -> "PARTIAL",
        "http.source.lookup.ignored-response-codes" -> "404")
      HttpLookup.join(oneRowProbe, Seq("id"), userSchema, opts).count()
      HttpLookup.join(oneRowProbe, Seq("id"), userSchema, opts).count()
      server.requests.count(_.path == "/miss") shouldBe 1
    } finally server.stop()
  }

  test("cache-missing-key=false: a repeated missing key hits the wire twice") {
    LookupCache.clearAll()
    val server = StubServer().route("/miss") { _ => (404, "missing") }.start()
    try {
      val opts = Map(
        "url" -> server.url("/miss"),
        "lookup.cache" -> "PARTIAL",
        "lookup.partial-cache.cache-missing-key" -> "false",
        "http.source.lookup.ignored-response-codes" -> "404")
      HttpLookup.join(oneRowProbe, Seq("id"), userSchema, opts).count()
      HttpLookup.join(oneRowProbe, Seq("id"), userSchema, opts).count()
      server.requests.count(_.path == "/miss") shouldBe 2
    } finally server.stop()
  }

  // ---------------------------------------------------------------------
  // http.source.lookup.connection.timeout
  // ---------------------------------------------------------------------

  test("connection.timeout parses through ClientConfig") {
    HttpClientFactory.ClientConfig
      .fromOptions(HttpOptions(
        "http.source.lookup.connection.timeout" -> "250 ms"))
      .connectTimeoutMs shouldBe Some(250L)
  }

  test("connection.timeout fires against an unreachable endpoint and classifies EXCEPTION") {
    // A listener whose accept queue is saturated: bind with backlog 1,
    // never accept, and hold connections open until a probe connect times
    // out — from then on every new connect hangs in SYN retransmit, the
    // deterministic local stand-in for a non-routable address (the sandbox
    // NAT answers arbitrary remote addresses, so a 10.x blackhole is NOT
    // reliable here).
    val listener = new ServerSocket()
    listener.bind(new InetSocketAddress("127.0.0.1", 0), 1)
    val held = Seq.newBuilder[Socket]
    try {
      var saturated = false
      var attempts = 0
      while (!saturated && attempts < 16) {
        attempts += 1
        val s = new Socket()
        try {
          s.connect(
            new InetSocketAddress("127.0.0.1", listener.getLocalPort), 250)
          held += s
        } catch {
          case _: java.net.SocketTimeoutException =>
            s.close(); saturated = true
        }
      }
      assume(saturated, "could not saturate the listen backlog on this kernel")

      val t0 = System.currentTimeMillis()
      val out = HttpLookup
        .join(
          oneRowProbe,
          Seq("id"),
          userSchema,
          Map(
            "url" -> s"http://127.0.0.1:${listener.getLocalPort}/u",
            "http.source.lookup.connection.timeout" -> "400 ms",
            "lookup.max-retries" -> "0",
            "http.source.lookup.continue-on-error" -> "true"),
          includeMetadata = true)
        .collect()
      val elapsed = System.currentTimeMillis() - t0
      out should have size 1
      out.head.getAs[String](HttpLookup.MetaCompletionState) shouldBe
        CompletionState.Exception
      out.head.getAs[String](HttpLookup.MetaErrorString).toLowerCase should
        include("timed out")
      // without connectTimeout the JDK client would hang in SYN retransmit
      // for minutes; the configured 400 ms (plus plan/scheduling overhead,
      // generous for CPU-starved runners) must come back well inside this
      elapsed should be < 30000L
    } finally {
      held.result().foreach(s => try s.close() catch { case _: Throwable => () })
      listener.close()
    }
  }

  // ---------------------------------------------------------------------
  // http.sink.request.timeout
  // ---------------------------------------------------------------------

  private def oneRowDf = {
    import spark.implicits._
    Seq((1, "a")).toDF("k", "v").repartition(1)
  }

  test("http.sink.request.timeout fails a slow endpoint; a generous timeout passes") {
    val server = StubServer()
      .route("/slow") { _ => Thread.sleep(800L); (200, "ok") }
      .start()
    try {
      val t = intercept[Throwable] {
        HttpSink.write(
          oneRowDf,
          Map(
            "url" -> server.url("/slow"),
            "http.sink.request.timeout" -> "100 ms"))
      }
      val chain = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(16)
      chain.exists(e =>
        e.isInstanceOf[java.net.http.HttpTimeoutException] ||
          String.valueOf(e.getMessage).toLowerCase.contains("timed out"))
        .shouldBe(true)
      // same write with a generous timeout succeeds
      HttpSink.write(
        oneRowDf,
        Map(
          "url" -> server.url("/slow"),
          "http.sink.request.timeout" -> "30 s"))
      server.requests.count(_.path == "/slow") should be >= 2
    } finally server.stop()
  }

  // ---------------------------------------------------------------------
  // sink.batch.max-size / sink.flush-buffer.size / sink.requests.max-buffered
  // (the AsyncSinkBase two-stage batching knobs, HttpSinkBuilder.java:70-76)
  // ---------------------------------------------------------------------

  private def batchSizes(server: StubServer, path: String): Seq[Int] =
    server.requests.filter(_.path == path).map { r =>
      // json array framing: count top-level elements
      Json.mapper.readTree(r.body).size()
    }

  test("sink.batch.max-size truncates request framing at the stage-1 boundary") {
    import spark.implicits._
    val server = StubServer().route("/b") { _ => (200, "ok") }.start()
    try {
      val df = (1 to 12).map(i => (i, s"v$i")).toDF("k", "v").repartition(1)
      // stage-2 requests of 4, stage-1 flush every 6 rows: framing 4,2,4,2
      HttpSink.write(
        df,
        Map(
          "url" -> server.url("/b"),
          "http.sink.request.batch.size" -> "4",
          "sink.batch.max-size" -> "6"))
      batchSizes(server, "/b").sorted shouldBe Seq(2, 2, 4, 4)
      // control: without the stage-1 boundary the same rows frame as 4,4,4
      server.clear()
      HttpSink.write(
        df,
        Map(
          "url" -> server.url("/b"),
          "http.sink.request.batch.size" -> "4"))
      batchSizes(server, "/b") shouldBe Seq(4, 4, 4)
    } finally server.stop()
  }

  test("sink.flush-buffer.size flushes the partial batch at the byte threshold") {
    import spark.implicits._
    val server = StubServer().route("/bytes") { _ => (200, "ok") }.start()
    try {
      // ~20-byte payloads against a 64-byte buffer: requests must flush
      // every ~3 rows even though the 1000-row batch never fills
      val df = (1 to 9).map(i => (i, "x" * 8)).toDF("k", "v").repartition(1)
      HttpSink.write(
        df,
        Map(
          "url" -> server.url("/bytes"),
          "http.sink.request.batch.size" -> "1000",
          "sink.flush-buffer.size" -> "64"))
      val sizes = batchSizes(server, "/bytes")
      sizes.size should be >= 3
      sizes.sum shouldBe 9 // nothing lost, nothing duplicated
      all(sizes) should be <= 4
    } finally server.stop()
  }

  test("sink.flush-buffer.size counts multi-byte payloads in exact UTF-8 bytes") {
    import spark.implicits._
    val server = StubServer().route("/utf8") { _ => (200, "ok") }.start()
    try {
      // each record {"v":"<e-acute><CJK><emoji>"} is 6 + 2 + 3 + 4 + 2 = 17
      // UTF-8 bytes (12 UTF-16 chars): a 51-byte buffer fills at exactly 3
      // rows, a 52-byte one at 4
      val df = Seq.fill(9)("\u00e9\u4e2d\ud83d\ude00").toDF("v").repartition(1)
      def sizesAt(threshold: Int): Seq[Int] = {
        server.clear()
        HttpSink.write(
          df,
          Map(
            "url" -> server.url("/utf8"),
            "http.sink.request.batch.size" -> "1000",
            "sink.flush-buffer.size" -> threshold.toString))
        batchSizes(server, "/utf8").sorted
      }
      sizesAt(51) shouldBe Seq(3, 3, 3)
      sizesAt(52) shouldBe Seq(1, 4, 4)
    } finally server.stop()
  }

  test("sink.requests.max-buffered below the batch size is a config error") {
    import spark.implicits._
    val server = StubServer().route("/mb") { _ => (200, "ok") }.start()
    try {
      val df = Seq((1, "a")).toDF("k", "v")
      an[HttpConfigException] should be thrownBy HttpSink.write(
        df,
        Map(
          "url" -> server.url("/mb"),
          "http.sink.request.batch.size" -> "100",
          "sink.requests.max-buffered" -> "10"))
      // at or above the batch size it is honored by construction
      HttpSink.write(
        df,
        Map(
          "url" -> server.url("/mb"),
          "http.sink.request.batch.size" -> "100",
          "sink.requests.max-buffered" -> "100"))
    } finally server.stop()
  }

  // ---------------------------------------------------------------------
  // http.sink.error.code (the non-exclude form REPLACES the default set)
  // ---------------------------------------------------------------------

  test("http.sink.error.code replaces the default 4XX/5XX set") {
    val server = StubServer().route("/nf") { _ => (404, "no") }.start()
    try {
      // default set: 404 is an error
      a[Throwable] should be thrownBy HttpSink.write(
        oneRowDf, Map("url" -> server.url("/nf")))
      // replaced with 5XX only: the same 404 is tolerated
      HttpSink.write(
        oneRowDf,
        Map("url" -> server.url("/nf"), "http.sink.error.code" -> "5XX"))
    } finally server.stop()
  }

  // ---------------------------------------------------------------------
  // http.source.lookup.use-raw-authorization-header
  // ---------------------------------------------------------------------

  test("use-raw-authorization-header=true passes a custom scheme to the wire") {
    val server = okUsers(StubServer(), "/u").start()
    try {
      HttpLookup
        .join(
          oneRowProbe,
          Seq("id"),
          userSchema,
          Map(
            "url" -> server.url("/u"),
            "http.source.lookup.use-raw-authorization-header" -> "true",
            "http.source.lookup.header.Authorization" -> "CustomScheme tok"))
        .count()
      server.requests.last.headers("Authorization").head shouldBe
        "CustomScheme tok"
      // control: without the option the Basic-auth transformation rewrites
      // the same value
      server.clear()
      HttpLookup
        .join(
          oneRowProbe,
          Seq("id"),
          userSchema,
          Map(
            "url" -> server.url("/u"),
            "http.source.lookup.header.Authorization" -> "CustomScheme tok"))
        .count()
      server.requests.last.headers("Authorization").head should
        startWith("Basic ")
    } finally server.stop()
  }

  // ---------------------------------------------------------------------
  // http.source.lookup.http-version / http.logging.level /
  // dedup-keys / partitions
  // ---------------------------------------------------------------------

  test("http-version parses through ClientConfig and HTTP_1_1 lookups work") {
    HttpClientFactory.ClientConfig
      .fromOptions(HttpOptions(
        "http.source.lookup.http-version" -> "HTTP_1_1"))
      .httpVersion shouldBe Some("HTTP_1_1")
    val server = okUsers(StubServer(), "/u").start()
    try {
      HttpLookup
        .join(
          oneRowProbe,
          Seq("id"),
          userSchema,
          Map(
            "url" -> server.url("/u"),
            "http.source.lookup.http-version" -> "HTTP_1_1"))
        .count() shouldBe 1L
    } finally server.stop()
  }

  test("an unknown lookup.cache kind or http-version fails in join, not in a task") {
    Seq("lookup.cache" -> "WAT", "http.source.lookup.http-version" -> "HTTP_9")
      .foreach { bad =>
        an[HttpConfigException] should be thrownBy HttpLookup.join(
          oneRowProbe, Seq("id"), userSchema, Map("url" -> "http://127.0.0.1:9/u", bad))
      }
  }

  test("http.logging.level validates on the driver (fail-fast on bad levels)") {
    val server = okUsers(StubServer(), "/u").start()
    try {
      an[HttpConfigException] should be thrownBy HttpLookup.join(
        oneRowProbe,
        Seq("id"),
        userSchema,
        Map("url" -> server.url("/u"), "http.logging.level" -> "WAT"))
      // every documented level runs
      Seq("MIN", "REQ_RESP", "MAX").foreach { lvl =>
        HttpLookup
          .join(
            oneRowProbe,
            Seq("id"),
            userSchema,
            Map("url" -> server.url("/u"), "http.logging.level" -> lvl))
          .count() shouldBe 1L
      }
    } finally server.stop()
  }

  test("dedup-keys collapses wire calls to distinct rendered requests") {
    import spark.implicits._
    LookupCache.clearAll()
    val server = okUsers(StubServer(), "/u").start()
    try {
      // 12 probe rows over 2 distinct keys, cache OFF: without dedup-keys
      // every row hits the wire; with it exactly the 2 distinct requests do
      val probe = (1 to 12).map(i => (i.toLong, (i % 2).toString))
        .toDF("event", "id").repartition(2)
      HttpLookup
        .join(
          probe,
          Seq("id"),
          userSchema,
          Map(
            "url" -> server.url("/u"),
            "http.source.lookup.dedup-keys" -> "true"))
        .count() shouldBe 12L
      server.requests.count(_.path == "/u") shouldBe 2
    } finally server.stop()
  }

  // ---------------------------------------------------------------------
  // http.security.oidc.token.expiry.reduction
  // ---------------------------------------------------------------------

  private def tokenCountingServer(): (StubServer, () => Int) = {
    val hits = new java.util.concurrent.atomic.AtomicInteger()
    val server = StubServer()
      .route("/token") { _ =>
        val n = hits.incrementAndGet()
        (200, s"""{"access_token": "tok-$n", "expires_in": 60}""")
      }
    okUsers(server, "/u")
    (server.start(), () => hits.get())
  }

  test("oidc expiry.reduction shortens the cached token's effective lifetime") {
    // reduction 59 s of a 60 s token -> 1 s effective lifetime: a second
    // lookup 3 s later MUST re-request the token (deterministic: the
    // deadline is long past). Distinct token request bodies per test keep
    // the per-executor OidcManagers registry entries separate.
    val (server, tokenHits) = tokenCountingServer()
    try {
      val opts = Map(
        "url" -> server.url("/u"),
        "http.security.oidc.token.request" -> "grant_type=reduced",
        "http.security.oidc.token.endpoint.url" -> server.url("/token"),
        "http.security.oidc.token.expiry.reduction" -> "59 s")
      HttpLookup.join(oneRowProbe, Seq("id"), userSchema, opts).count()
      tokenHits() shouldBe 1
      Thread.sleep(3000L)
      HttpLookup.join(oneRowProbe, Seq("id"), userSchema, opts).count()
      tokenHits() shouldBe 2
    } finally server.stop()
  }

  test("oidc bearer refreshes inside one exchange: each send asks the manager") {
    // a long-lived exchange (the polling source keeps one per stream) must
    // not keep sending its first token after that token expires
    val hits = new java.util.concurrent.atomic.AtomicInteger()
    val server = StubServer()
      .route("/token") { _ =>
        val n = hits.incrementAndGet()
        (200, s"""{"access_token": "tok$n", "expires_in": 1}""")
      }
    okUsers(server, "/u").start()
    try {
      val exchange = HttpEndpoint.lookup(
        HttpOptions(
          "http.security.oidc.token.request" -> "grant_type=per-request",
          "http.security.oidc.token.endpoint.url" -> server.url("/token")),
        Nil).exchange()
      HttpExchange.await(exchange.send("GET", server.url("/u"), None))
      Thread.sleep(1200L)
      HttpExchange.await(exchange.send("GET", server.url("/u"), None))
      server.requests.filter(_.path == "/u").map(_.headers("Authorization")) shouldBe
        List(List("Bearer tok1"), List("Bearer tok2"))
    } finally server.stop()
  }

  test("oidc token stays cached inside the reduced lifetime (control)") {
    val (server, tokenHits) = tokenCountingServer()
    try {
      val opts = Map(
        "url" -> server.url("/u"),
        "http.security.oidc.token.request" -> "grant_type=control",
        "http.security.oidc.token.endpoint.url" -> server.url("/token"),
        "http.security.oidc.token.expiry.reduction" -> "1 s")
      HttpLookup.join(oneRowProbe, Seq("id"), userSchema, opts).count()
      HttpLookup.join(oneRowProbe, Seq("id"), userSchema, opts).count()
      tokenHits() shouldBe 1 // 59 s effective lifetime: second task reuses
    } finally server.stop()
  }

  // ---------------------------------------------------------------------
  // the internal match marker (a private join parameter the SQL LEFT-join
  // rewrite sets; not a user option)
  // ---------------------------------------------------------------------

  test("emit-match-column marks matched vs kept-unmatched LEFT rows") {
    import spark.implicits._
    val server = okUsers(StubServer(), "/u")
      .route("/u2") { req =>
        if (StubServer.queryMap(req.query).get("id").contains("1"))
          (200, """{"name": "alice", "balance": 10.5}""")
        else (404, "missing")
      }
      .start()
    try {
      val probe = Seq((1L, "1"), (2L, "9")).toDF("event", "id").repartition(1)
      val out = HttpLookup
        .join(
          probe,
          Seq("id"),
          userSchema,
          Map(
            "url" -> server.url("/u2"),
            "http.source.lookup.join-type" -> "left",
            "http.source.lookup.ignored-response-codes" -> "404"),
          includeMetadata = false,
          headerPreprocessors = Nil,
          emitMatchColumn = true)
        .orderBy("event")
        .collect()
      out.map(_.getAs[Boolean](HttpLookup.MatchedColumn)).toSeq shouldBe
        Seq(true, false)
    } finally server.stop()
  }
}
