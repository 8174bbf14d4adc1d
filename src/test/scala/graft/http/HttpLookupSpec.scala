package graft.http

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec
import graft.http.testkit.StubServer

/** End-to-end lookup join over Spark (the reference's
  * HttpLookupTableSourceITCaseTest analog, against the local stub).
  */
class HttpLookupSpec extends SparkSpec with BeforeAndAfterAll {

  private var server: StubServer = _

  private val userSchema = StructType(Seq(
    StructField("name", StringType),
    StructField("balance", DoubleType)))

  override def beforeAll(): Unit = {
    super.beforeAll()
    val users = Map(
      "1" -> """{"name": "alice", "balance": 10.5}""",
      "2" -> """{"name": "bob", "balance": -3.25}""",
      "3" -> """{"name": "carol", "balance": 0.0}""")
    server = StubServer()
      .route("/user") { req =>
        StubServer.queryMap(req.query).get("id").flatMap(users.get) match {
          case Some(j) => (200, j)
          case None => (404, "missing")
        }
      }
      .route("/user-post") { req =>
        val id = Json.mapper.readTree(req.body).path("id").asText()
        users.get(id).map((200, _)).getOrElse((404, "missing"))
      }
      .route("/multi") { req =>
        (200, """[{"name": "a", "balance": 1.0}, {"name": "b", "balance": 2.0}]""")
      }
      .route("/broken") { _ => (200, "this is not json") }
      .route("/empty-arr") { _ => (200, "[]") }
      .route("/broken-arr") { _ => (200, "not an array at all") }
      .start()
  }

  override def afterAll(): Unit = { server.stop(); super.afterAll() }

  import org.apache.spark.sql.DataFrame
  private def probe: DataFrame = {
    import spark.implicits._
    Seq((100L, "1"), (101L, "2"), (102L, "3"), (103L, "4"))
      .toDF("event", "id")
  }

  test("GET lookup join enriches probe rows; missing keys dropped via ignored 404") {
    val out = HttpLookup
      .join(
        probe,
        Seq("id"),
        userSchema,
        Map(
          "url" -> server.url("/user"),
          "http.source.lookup.ignored-response-codes" -> "404"))
      .orderBy("event")
      .collect()
    out.map(_.getLong(0)).toSeq shouldBe Seq(100L, 101L, 102L)
    out.map(_.getAs[String]("name")).toSeq shouldBe Seq("alice", "bob", "carol")
    out.map(_.getAs[Double]("balance")).toSeq shouldBe Seq(10.5, -3.25, 0.0)
  }

  test("join-type=left keeps no-match rows with null enrichment") {
    val out = HttpLookup
      .join(
        probe,
        Seq("id"),
        userSchema,
        Map(
          "url" -> server.url("/user"),
          "http.source.lookup.join-type" -> "left",
          "http.source.lookup.ignored-response-codes" -> "404"))
      .orderBy("event")
      .collect()
    // the inner variant above drops the 404 row; LEFT keeps it, enrichment null
    out.map(_.getLong(0)).toSeq shouldBe Seq(100L, 101L, 102L, 103L)
    out.map(r => Option(r.getAs[String]("name"))).toSeq shouldBe
      Seq(Some("alice"), Some("bob"), Some("carol"), None)
  }

  test("async polling preserves order and matches sync results") {
    val out = HttpLookup
      .join(
        probe,
        Seq("id"),
        userSchema,
        Map(
          "url" -> server.url("/user"),
          "asyncPolling" -> "true",
          "http.source.lookup.request.thread-pool.size" -> "4",
          "http.source.lookup.ignored-response-codes" -> "404"))
      .orderBy("event")
      .collect()
    out.map(_.getAs[String]("name")).toSeq shouldBe Seq("alice", "bob", "carol")
  }

  test("response.thread-pool.size alone provisions async in-flight concurrency") {
    // reference parity knob: the pipelined iterator has one worker pool, so
    // either pool option must raise the in-flight bound. The stub barrier
    // only releases once 4 requests are simultaneously in flight — a
    // smaller effective pool would deadlock until the await times out.
    val barrier = new java.util.concurrent.CyclicBarrier(4)
    val srv = StubServer()
      .route("/barrier") { _ =>
        barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
        (200, """{"name":"z","balance":1.0}""")
      }
      .start()
    try {
      val rows = (1L to 4L).map(i => (i, i.toString))
      import spark.implicits._
      val out = HttpLookup
        .join(
          rows.toDF("event", "id").repartition(1),
          Seq("id"),
          userSchema,
          Map(
            "url" -> srv.url("/barrier"),
            "asyncPolling" -> "true",
            "http.source.lookup.response.thread-pool.size" -> "4"))
        .collect()
      out should have length 4
    } finally srv.stop()
  }

  test("async window emits rows in input order when earlier keys answer slower") {
    // key k answers after (9 - k) x 40 ms: with 4 requests in flight the
    // later keys complete first, so completion-order emission would reorder
    val srv = StubServer()
      .route("/slow-first") { req =>
        val k = StubServer.queryMap(req.query)("id").toInt
        Thread.sleep((9 - k) * 40L)
        (200, s"""{"name":"n$k","balance":$k.0}""")
      }
      .start()
    try {
      import spark.implicits._
      val input = (1 to 8).map(k => (100L + k, k.toString))
      val out = HttpLookup
        .join(
          input.toDF("event", "id").coalesce(1),
          Seq("id"),
          userSchema,
          Map(
            "url" -> srv.url("/slow-first"),
            "asyncPolling" -> "true",
            "http.source.lookup.request.thread-pool.size" -> "4"))
        .collect() // no orderBy: the output sequence itself is checked
      out.map(_.getLong(0)).toSeq shouldBe input.map(_._1)
      out.map(_.getAs[String]("name")).toSeq shouldBe (1 to 8).map(k => s"n$k")
    } finally srv.stop()
  }

  test("a failing lookup task cancels the exchanges still in its window") {
    // row 1 fails fast (400, continue-on-error off) while rows 2-4 sit on a
    // route that would hold them for 30 s: the task must fail at once and
    // its completion listener must cancel the three in-flight exchanges
    val sent = new java.util.concurrent.atomic.AtomicInteger()
    RequestCallback.register("window-cancel-counter", _ => new RequestCallback {
      def onRequest(m: String, u: String, b: Option[String]): Unit = { sent.incrementAndGet(); () }
      def onResponse(m: String, u: String, s: Int): Unit = ()
      def onException(m: String, u: String, e: Throwable): Unit = ()
    })
    val srv = StubServer()
      .route("/early-400") { req =>
        if (StubServer.queryMap(req.query)("id") == "1") (400, "bad key")
        else { Thread.sleep(30000); (200, """{"name":"late","balance":0.0}""") }
      }
      .start()
    try {
      import spark.implicits._
      val before = HttpExchange.pending.get()
      val started = System.nanoTime()
      a[Throwable] should be thrownBy HttpLookup
        .join(
          Seq((1L, "1"), (2L, "2"), (3L, "3"), (4L, "4")).toDF("event", "id").coalesce(1),
          Seq("id"),
          userSchema,
          Map(
            "url" -> srv.url("/early-400"),
            "asyncPolling" -> "true",
            "http.source.lookup.request.thread-pool.size" -> "4",
            "http.source.lookup.request-callback" -> "window-cancel-counter"))
        .collect()
      (System.nanoTime() - started) / 1000000L should be < 20000L
      sent.get() shouldBe 4 // the whole window was on the wire
      HttpExchange.pending.get() shouldBe before
    } finally srv.stop()
  }

  test("one JDK client per config: a 4-partition lookup starts one selector thread") {
    import scala.jdk.CollectionConverters._
    val selector = """HttpClient-\d+-SelectorManager""".r
    def selectors(): Set[String] = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && selector.matches(t.getName)).map(_.getName).toSet
    val before = selectors()
    HttpLookup
      .join(
        probe.repartition(4),
        Seq("id"),
        userSchema,
        Map(
          "url" -> server.url("/user"),
          // a connect timeout no other spec sets: a config with no client yet
          "http.source.lookup.connection.timeout" -> "17 s",
          "http.source.lookup.ignored-response-codes" -> "404"))
      .count() shouldBe 3L
    // names carry the client's id, so a client collected meanwhile cannot
    // hide a new one
    (selectors() -- before).size shouldBe 1
  }

  test("cache hits take no request slot: a later miss goes out while an earlier one waits") {
    // pool 2, PARTIAL cache warmed with h1..h3. Miss A's route waits on a
    // latch that only miss B's arrival opens; the hits between them used to
    // fill a 2-row window, so B was never sent while A was out
    val bArrived = new java.util.concurrent.CountDownLatch(1)
    val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    val srv = StubServer()
      .route("/read-ahead") { req =>
        StubServer.queryMap(req.query)("id") match {
          case "A" => released.set(bArrived.await(10, java.util.concurrent.TimeUnit.SECONDS))
          case "B" => bArrived.countDown()
          case _ => ()
        }
        (200, """{"name":"x","balance":1.0}""")
      }
      .start()
    try {
      import spark.implicits._
      val opts = Map(
        "url" -> srv.url("/read-ahead"),
        "asyncPolling" -> "true",
        "http.source.lookup.request.thread-pool.size" -> "2",
        "lookup.cache" -> "PARTIAL")
      def lookup(keys: Seq[String]) = HttpLookup
        .join(
          keys.zipWithIndex.map { case (k, i) => (i.toLong, k) }
            .toDF("event", "id").coalesce(1),
          Seq("id"),
          userSchema,
          opts)
        .collect()
      val hits = Seq("h1", "h2", "h3")
      lookup(hits) should have length 3 // warms the cache
      val out = lookup("A" +: hits :+ "B")
      out.map(_.getLong(0)).toSeq shouldBe (0L to 4L)
      released.get() shouldBe true
      srv.requests.count(_.query == "id=h1") shouldBe 1
    } finally srv.stop()
  }

  test("the window never has more wire requests out than the request pool") {
    val now = new java.util.concurrent.atomic.AtomicInteger()
    val peak = new java.util.concurrent.atomic.AtomicInteger()
    val srv = StubServer()
      .route("/bound") { req =>
        peak.accumulateAndGet(now.incrementAndGet(), math.max)
        try {
          Thread.sleep(5)
          val k = StubServer.queryMap(req.query)("id")
          (200, s"""{"name":"n$k","balance":1.0}""")
        } finally { now.decrementAndGet(); () }
      }
      .start()
    try {
      import spark.implicits._
      // 600 rows over up to 150 keys in a seeded order: first sightings
      // (misses) spread among repeats (hits)
      val rnd = new scala.util.Random(7)
      val input = (0 until 600).map(i => (i.toLong, rnd.nextInt(150).toString))
      val out = HttpLookup
        .join(
          input.toDF("event", "id").coalesce(1),
          Seq("id"),
          userSchema,
          Map(
            "url" -> srv.url("/bound"),
            "asyncPolling" -> "true",
            "http.source.lookup.request.thread-pool.size" -> "3",
            "lookup.cache" -> "PARTIAL"))
        .collect()
      out.map(_.getLong(0)).toSeq shouldBe input.map(_._1)
      out.map(_.getAs[String]("name")).toSeq shouldBe input.map("n" + _._2)
      peak.get() should (be > 1 and be <= 3)
      // a repeat is a cache hit or shares its key's request in the window
      srv.requests.size shouldBe input.map(_._2).distinct.size
    } finally srv.stop()
  }

  test("a repeat of a key whose request is in the window is not sent again") {
    // pool 8, PARTIAL cache warmed with h1..h10; K's route takes 300 ms, so
    // the second K enters the window while the first is still out
    val srv = StubServer()
      .route("/in-window") { req =>
        val k = StubServer.queryMap(req.query)("id")
        if (k == "K") Thread.sleep(300)
        (200, s"""{"name":"n$k","balance":1.0}""")
      }
      .start()
    try {
      import spark.implicits._
      def lookup(keys: Seq[String]) = HttpLookup
        .join(
          keys.zipWithIndex.map { case (k, i) => (i.toLong, k) }
            .toDF("event", "id").coalesce(1),
          Seq("id"),
          userSchema,
          Map(
            "url" -> srv.url("/in-window"),
            "asyncPolling" -> "true",
            "http.source.lookup.request.thread-pool.size" -> "8",
            "lookup.cache" -> "PARTIAL"))
        .collect()
      val hits = (1 to 10).map("h" + _)
      lookup(hits) should have length 10 // warms the cache
      val keys = "K" +: hits :+ "K"
      val out = lookup(keys)
      out.map(_.getLong(0)).toSeq shouldBe keys.indices.map(_.toLong)
      out.map(_.getAs[String]("name")).toSeq shouldBe keys.map("n" + _)
      srv.requests.count(_.query == "id=K") shouldBe 1
    } finally srv.stop()
  }

  test("a lookup client completes on its selector: no worker pool, no callback there") {
    import scala.jdk.CollectionConverters._
    val responders = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    RequestCallback.register("response-thread-recorder", _ => new RequestCallback {
      override def wantsBody: Boolean = false
      def onRequest(m: String, u: String, b: Option[String]): Unit = ()
      def onResponse(m: String, u: String, s: Int): Unit = {
        responders.add(Thread.currentThread.getName); ()
      }
      def onException(m: String, u: String, e: Throwable): Unit = ()
    })
    def live(): Set[String] = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith("HttpClient-")).map(_.getName).toSet
    val before = live()
    HttpLookup
      .join(
        probe.repartition(4),
        Seq("id"),
        userSchema,
        Map(
          "url" -> server.url("/user"),
          "asyncPolling" -> "true",
          "http.source.lookup.request.thread-pool.size" -> "4",
          // a connect timeout no other spec sets: a config with no client yet
          "http.source.lookup.connection.timeout" -> "19 s",
          "http.source.lookup.request-callback" -> "response-thread-recorder",
          "http.source.lookup.ignored-response-codes" -> "404"))
      .count() shouldBe 3L
    val started = live() -- before
    started.filter("""HttpClient-\d+-SelectorManager""".r.matches) should have size 1
    started.filter("""HttpClient-\d+-Worker-\d+""".r.matches) shouldBe empty
    responders should not be empty
    responders.asScala.filter(_.endsWith("-SelectorManager")) shouldBe empty
  }

  test("POST body lookup (keys as JSON body)") {
    val out = HttpLookup
      .join(
        probe.limit(2),
        Seq("id"),
        userSchema,
        Map(
          "url" -> server.url("/user-post"),
          "lookup-method" -> "POST",
          "http.source.lookup.ignored-response-codes" -> "404"))
      .orderBy("event")
      .collect()
    out.map(_.getAs[String]("name")).toSeq shouldBe Seq("alice", "bob")
    val posted = server.requests.filter(_.path == "/user-post")
    posted.last.headers("Content-type").head should include("json")
  }

  test("array result type explodes each element to a row") {
    val out = HttpLookup
      .join(
        probe.limit(1),
        Seq("id"),
        userSchema,
        Map(
          "url" -> server.url("/multi"),
          "http.source.lookup.result-type" -> "array"))
      .collect()
    out.map(_.getAs[String]("name")).sorted.toSeq shouldBe Seq("a", "b")
  }

  test("array result: valid empty array emits no row (not a deserialization error)") {
    val out = HttpLookup
      .join(
        probe.limit(1),
        Seq("id"),
        userSchema,
        Map(
          "url" -> server.url("/empty-arr"),
          "http.source.lookup.result-type" -> "array"),
        includeMetadata = true)
      .collect()
    out shouldBe empty
  }

  test("array result: undecodable body still flags UNABLE_TO_DESERIALIZE") {
    val out = HttpLookup
      .join(
        probe.limit(1),
        Seq("id"),
        userSchema,
        Map(
          "url" -> server.url("/broken-arr"),
          "http.source.lookup.result-type" -> "array"),
        includeMetadata = true)
      .collect()
    out should have size 1
    out.head.getAs[String](HttpLookup.MetaCompletionState) shouldBe
      CompletionState.UnableToDeserialize
    out.head.getAs[String](HttpLookup.MetaErrorString) shouldBe
      "not an array at all"
    out.head.getAs[String]("name") shouldBe null
  }

  test("metadata columns surface status / state; 404 rows kept with metadata") {
    val out = HttpLookup
      .join(
        probe,
        Seq("id"),
        userSchema,
        Map(
          "url" -> server.url("/user"),
          "http.source.lookup.ignored-response-codes" -> "404"),
        includeMetadata = true)
      .orderBy("event")
      .collect()
    out should have size 4
    val missing = out.last
    missing.getAs[Int](HttpLookup.MetaStatusCode) shouldBe 404
    missing.getAs[String](HttpLookup.MetaCompletionState) shouldBe
      CompletionState.IgnoreStatusCode
    missing.getAs[String]("name") shouldBe null
    out.head.getAs[String](HttpLookup.MetaCompletionState) shouldBe
      CompletionState.Success
    out.head.getAs[Map[String, Seq[String]]](HttpLookup.MetaHeadersMap)
      .keySet should contain("content-type")
  }

  test("undeserializable body -> UNABLE_TO_DESERIALIZE_RESPONSE with body as error") {
    val out = HttpLookup
      .join(
        probe.limit(1),
        Seq("id"),
        userSchema,
        Map("url" -> server.url("/broken")),
        includeMetadata = true)
      .collect()
    out.head.getAs[String](HttpLookup.MetaCompletionState) shouldBe
      CompletionState.UnableToDeserialize
    out.head.getAs[String](HttpLookup.MetaErrorString) shouldBe "this is not json"
    out.head.getAs[String]("name") shouldBe null
  }

  test("error status fails the job unless continue-on-error") {
    val noRoute = Map(
      "url" -> server.url("/user"),
      "lookup.max-retries" -> "0")
    // default: 404 not ignored -> HTTP_ERROR_STATUS -> job fails
    a[Throwable] should be thrownBy HttpLookup
      .join(probe, Seq("id"), userSchema, noRoute)
      .collect()
    // continue-on-error: row survives with null enrichment
    val out = HttpLookup
      .join(
        probe,
        Seq("id"),
        userSchema,
        noRoute + ("http.source.lookup.continue-on-error" -> "true"))
      .orderBy("event")
      .collect()
    out should have size 4
    out.last.getAs[String]("name") shouldBe null
  }

  test("partial cache bounds request volume to unique keys") {
    LookupCache.clearAll()
    server.clear()
    val big = probe
      .crossJoin(spark.range(50).toDF("rep")) // 200 probe rows, 4 unique keys
      .select(col("event"), col("id"))
    HttpLookup
      .join(
        big,
        Seq("id"),
        userSchema,
        Map(
          "url" -> server.url("/user"),
          "lookup.cache" -> "PARTIAL",
          "lookup.partial-cache.max-rows" -> "100",
          "http.source.lookup.ignored-response-codes" -> "404"))
      .count()
    val calls = server.requests.count(_.path == "/user")
    calls should be < 20 // 4 unique keys; allow races between partitions
  }

  test("custom headers and basic auth transformation reach the wire") {
    server.clear()
    HttpLookup
      .join(
        probe.limit(1),
        Seq("id"),
        userSchema,
        Map(
          "url" -> server.url("/user"),
          "http.source.lookup.header.Authorization" -> "user:password",
          "http.source.lookup.header.X-Extra" -> "v1"))
      .collect()
    val req = server.requests.filter(_.path == "/user").last
    req.headers("Authorization").head shouldBe "Basic dXNlcjpwYXNzd29yZA=="
    req.headers("X-extra").head shouldBe "v1"
  }

  test("body-template and url-map query creator render request from columns") {
    server.clear()
    import spark.implicits._
    val p = Seq(("c1", "o9", 7L)).toDF("customerId", "orderId", "n")
    HttpLookup
      .join(
        p,
        Seq("customerId", "orderId"),
        userSchema,
        Map(
          "url" -> (server.url("/user") + "?id={{cid}}&o={{oid}}"),
          "lookup-method" -> "POST",
          "lookup-query-creator" -> QueryCreator.GenericJsonUrl,
          "http.request.url-map" -> "cid:customerId,oid:orderId",
          "http.request.body-template" ->
            """{"customer": {{customerId}}, "order": {{orderId}}, "n": {{n}}, "tag": "fixed"}""",
          "http.source.lookup.ignored-response-codes" -> "404"),
        includeMetadata = true)
      .collect()
    val req = server.requests.filter(_.path == "/user").last
    req.query shouldBe "id=c1&o=o9"
    req.body shouldBe """{"customer": "c1", "order": "o9", "n": 7, "tag": "fixed"}"""
  }

  test("a POST lookup sends a non-ASCII rendered body as its UTF-8 text") {
    server.clear()
    import spark.implicits._
    val cities = Seq("Z\u00fcrich", "\u6771\u4eac") // Zurich, Tokyo
    HttpLookup
      .join(
        cities.toDF("city").repartition(1),
        Seq("city"),
        userSchema,
        Map(
          "url" -> server.url("/user-post"),
          "lookup-method" -> "POST",
          "lookup-query-creator" -> QueryCreator.GenericJsonUrl,
          "http.request.body-template" -> """{"id": {{city}}}""",
          "http.source.lookup.ignored-response-codes" -> "404"),
        includeMetadata = true)
      .collect()
    val posted = server.requests.filter(_.path == "/user-post")
    posted.map(_.body) shouldBe cities.map(c => s"""{"id": "$c"}""")
    posted.map(_.headers("Content-type")).distinct shouldBe List(List("application/json"))
  }

  test("elasticsearch-lite query creator renders lucene q param") {
    server.clear()
    import spark.implicits._
    val p = Seq(("v 1", "w")).toDF("key1", "key2")
    HttpLookup
      .join(
        p,
        Seq("key1", "key2"),
        userSchema,
        Map(
          "url" -> server.url("/user"),
          "lookup-query-creator" -> QueryCreator.ElasticLite,
          "http.source.lookup.ignored-response-codes" -> "404"),
        includeMetadata = true)
      .collect()
    val req = server.requests.filter(_.path == "/user").last
    java.net.URLDecoder.decode(req.query, "UTF-8") shouldBe
      """q=key1:"v 1" AND key2:"w""""
  }

  test("streaming lookup join (MemoryStream enrichment)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val enriched = HttpLookup.join(
      input.toDF().toDF("event", "id"),
      Seq("id"),
      userSchema,
      Map(
        "url" -> server.url("/user"),
        "http.source.lookup.ignored-response-codes" -> "404"))
    val query = enriched.writeStream
      .format("memory")
      .queryName("enriched_stream")
      .outputMode("append")
      .start()
    try {
      input.addData((1L, "1"), (2L, "4"), (3L, "2"))
      query.processAllAvailable()
      val rows = spark.sql("SELECT * FROM enriched_stream ORDER BY event").collect()
      rows.map(_.getAs[String]("name")).toSeq shouldBe Seq("alice", "bob")
    } finally query.stop()
  }
}
