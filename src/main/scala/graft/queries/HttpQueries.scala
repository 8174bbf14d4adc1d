package graft.queries

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types._

import graft.http.{HttpLookup, HttpSink}
import graft.http.testkit.{SelfSignedCert, StubServer}

/** Driver-gated HTTP connector queries.
  *
  * Correctness strategy: a localhost stub (zero egress) serves the *same
  * parquet data* the DuckDB oracle reads, so the HTTP lookup join must
  * reproduce a plain relational join and the sink round-trip must reproduce
  * the aggregation it posted — the full encode → HTTP → decode path is
  * inside the hash-compared result. In local mode executors share the stub's
  * JVM; on a real cluster the same operator simply points at a real service.
  */
object HttpQueries {

  // one stub per (purpose, sfDir), started lazily, never torn down (driver
  // process exits at the end of Verify/Bench)
  private val lookupServers = new ConcurrentHashMap[String, StubServer]()
  private val flakyAttempts =
    new ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()
  // wire-call counter for the /customer-cached route (L6 gate): the cache
  // assertion needs to see how many requests actually reached the stub
  private val cachedRouteHits = new java.util.concurrent.atomic.AtomicLong()
  private val cacheAsserted =
    ConcurrentHashMap.newKeySet[String]()
  /** Stub-side concurrency tracker: an instrumented route counts itself
    * live while it serves and folds that count into the observed max — the
    * driver-run proof that bounded-async machinery is both CONCURRENT
    * (max >= 2) and BOUNDED (max <= the configured in-flight cap).
    */
  private final class InflightTracker {
    private val live = new java.util.concurrent.atomic.AtomicInteger()
    private val peak = new java.util.concurrent.atomic.AtomicInteger()
    def reset(): Unit = { live.set(0); peak.set(0) }
    def max: Int = peak.get()

    /** `answer`, after a `sleepMs` sleep that sustains the overlap. */
    def serve(sleepMs: Long)(answer: => (Int, String)): (Int, String) = {
      peak.accumulateAndGet(live.incrementAndGet(), Math.max(_, _))
      try { Thread.sleep(sleepMs); answer }
      finally live.decrementAndGet()
    }
  }
  private val lookupInflight = new InflightTracker
  private val sinkInflight = new InflightTracker
  private val asyncAsserted =
    ConcurrentHashMap.newKeySet[String]()
  // wire-call counter for the /customer-state route (L27 gate): the
  // restart assertion counts fetches against the checkpoint-restored
  // state cache
  private val stateRouteHits = new java.util.concurrent.atomic.AtomicLong()
  private val proxyServers =
    new ConcurrentHashMap[String, graft.http.testkit.ProxyServer]()

  private def proxyFor(dir: String): graft.http.testkit.ProxyServer =
    proxyServers.computeIfAbsent(
      dir,
      _ => new graft.http.testkit.ProxyServer().start())

  private val proxyAsserted =
    ConcurrentHashMap.newKeySet[String]()
  private val sinkServers = new ConcurrentHashMap[String, StubServer]()

  // ----- paginated feed stub for the DSv2 polling source (L22) -----
  // Serves the nation table in 3 JSON-array pages; the page index CYCLES
  // (counter % pages) so the gate stays deterministic under bench re-runs
  // in the same JVM: any 3+ consecutive polls cover every page, and the
  // gate's final distinct() collapses whatever page the cycle started on.
  private val pollServers = new ConcurrentHashMap[String, StubServer]()

  private[queries] val PollPages = 3

  private def pollStub(spark: SparkSession, dir: String): StubServer =
    pollServers.computeIfAbsent(
      dir,
      _ => {
        val rows = spark.read
          .parquet(s"$dir/nation.parquet")
          .orderBy(col("n_nationkey"))
          .select(to_json(struct(
            col("n_nationkey"), col("n_name"), col("n_regionkey"))))
          .collect()
          .map(_.getString(0))
        require(
          rows.nonEmpty,
          s"$dir/nation.parquet decoded to zero rows — cannot build the " +
            "polling-source feed")
        val per = math.max(1, math.ceil(rows.length.toDouble / PollPages).toInt)
        val pages = rows.grouped(per).toArray.map(_.mkString("[", ",", "]"))
        // counter lives in this once-per-dir closure — per-JVM cycling state
        val counter = new java.util.concurrent.atomic.AtomicInteger()
        StubServer
          .serveOnly()
          .route("/nation-feed") { _ =>
            (200, pages(counter.getAndIncrement() % pages.length))
          }
          .start()
      })

  /** The customer fixture as key → JSON payload — shared by the plain and
    * TLS lookup stubs so both serve byte-identical responses.
    */
  private def customerRowsMap(
      spark: SparkSession,
      dir: String): Map[String, String] =
    spark.read
      .parquet(s"$dir/customer.parquet")
      .select(
        col("c_custkey").cast(StringType).as("key"),
        to_json(
          struct(
            col("c_name"),
            col("c_nationkey"),
            col("c_acctbal"),
            col("c_mktsegment"))).as("payload"))
      .collect()
      .map(r => r.getString(0) -> r.getString(1))
      .toMap

  /** The customer answer every customer route shares: the row for `key`
    * as a JSON object (200), else 404.
    */
  private def customerAnswer(
      rows: Map[String, String],
      key: Option[String]): (Int, String) =
    key.flatMap(rows.get) match {
      case Some(json) => (200, json)
      case None => (404, """{"error":"not found"}""")
    }

  private def custkey(req: StubServer#Recorded): Option[String] =
    StubServer.queryMap(req.query).get("c_custkey")

  /** Customer-lookup stub: GET /customer?c_custkey=N → the customer row as
    * a JSON object (404 for unknown keys).
    */
  private def lookupStub(spark: SparkSession, dir: String): StubServer =
    lookupServers.computeIfAbsent(
      dir,
      _ => {
        val rows = customerRowsMap(spark, dir)
        def answer(key: Option[String]) = customerAnswer(rows, key)
        // the n-th attempt for key `k` in counter namespace `ns`
        def attempt(ns: String, k: String) = flakyAttempts
          .computeIfAbsent(ns + k, _ => new java.util.concurrent.atomic.AtomicInteger())
          .incrementAndGet()
        val keyInBody = "\"c_custkey\"\\s*:\\s*\"?(-?\\d+)\"?".r
        val server = StubServer
          .serveOnly()
          .route("/customer")(req => answer(custkey(req)))
          // POST twin: the key arrives in a JSON body rendered from the
          // `http.request.body-template` creator instead of the query string
          .route("/customer-post") { req =>
            answer(keyInBody.findFirstMatchIn(req.body).map(_.group(1)))
          }
          // Elasticsearch-lite twin: the key arrives as a Lucene-style
          // `q=c_custkey:"N"` query param (url-decoded by queryMap)
          .route("/customer-es") { req =>
            val q = StubServer.queryMap(req.query).getOrElse("q", "")
            answer("c_custkey:\"(-?\\d+)\"".r.findFirstMatchIn(q).map(_.group(1)))
          }
          // renamed-param twin: the probe column c_custkey maps to the API
          // field `cust` via http.request.query-param-fields-with-key
          .route("/customer-renamed") { req =>
            answer(StubServer.queryMap(req.query).get("cust"))
          }
          // auth-gated twin: requires the Basic header the preprocessor
          // builds from the raw `user:pass` option value
          .route("/customer-auth") { req =>
            val expected = "Basic " + java.util.Base64.getEncoder
              .encodeToString("svc:secret".getBytes("UTF-8"))
            if (!req.headers.get("Authorization").exists(_.contains(expected)))
              (401, """{"error":"unauthorized"}""")
            else answer(custkey(req))
          }
          // OIDC twins: a token endpoint issuing a fixed bearer token, and
          // a customer route that only answers that bearer
          .route("/token") { req =>
            if (req.method == "POST" && req.body.contains("grant_type"))
              (200, """{"access_token":"graft-tok-1","expires_in":3600}""")
            else (400, """{"error":"bad token request"}""")
          }
          .route("/customer-oidc") { req =>
            if (!req.headers
                .get("Authorization")
                .exists(_.contains("Bearer graft-tok-1")))
              (401, """{"error":"unauthorized"}""")
            else answer(custkey(req))
          }
          // cache-assertion twin (L6): byte-identical to /customer but
          // counts every request that reaches the wire — the partial-cache
          // gate asserts FAR fewer wire calls than probe rows
          .route("/customer-cached") { req =>
            cachedRouteHits.incrementAndGet()
            answer(custkey(req))
          }
          // drifted-schema twin (L23 strict decode): the SAME customer
          // rows with c_mktsegment REMOVED from every payload — the
          // endpoint "drifted" out of the declared schema. Default decode
          // PERMISSIVE-nulls the column; json.fail-on-missing-field must
          // fail the job on it.
          .route("/customer-drift") { req =>
            answer(custkey(req)) match {
              case (200, json) =>
                (200, json.replaceAll(",?\"c_mktsegment\":\"[^\"]*\"", ""))
              case miss => miss
            }
          }
          // state-cache twin (L27): byte-identical to /customer but counts
          // wire calls — the checkpoint-restart gate asserts restored
          // state suppresses re-fetches of already-seen keys
          .route("/customer-state") { req =>
            stateRouteHits.incrementAndGet()
            answer(custkey(req))
          }
          // timeout twin (L15): keys divisible by 100 respond only after
          // 1.5s — far past the gate's 250ms request timeout, so the
          // client must classify them EXCEPTION (the stub thread pool is
          // per-connection; a sleeping handler never blocks other keys)
          .route("/customer-slow") { req =>
            val key = custkey(req)
            if (key.exists(k => k.toLongOption.exists(_ % 100 == 0)))
              Thread.sleep(1500)
            answer(key)
          }
          // custom-header twin (L12): answers ONLY requests carrying both
          // configured static headers — a dropped or misnamed header
          // yields 403s and a hash mismatch
          .route("/customer-headers") { req =>
            // StubServer normalizes header keys to First-upper-rest-lower
            val ok = req.headers.get("X-api-key").exists(_.contains("graft-k1")) &&
              req.headers.get("X-tenant").exists(_.contains("acme"))
            if (!ok) (403, """{"error":"missing headers"}""")
            else answer(custkey(req))
          }
          // async-concurrency twin (L2): byte-identical to /customer but
          // tracks how many requests are being served at once; the small
          // sleep sustains overlap so the async lookup's in-flight window
          // is observable (thread-per-connection — sleeps don't serialize)
          .route("/customer-async") { req =>
            lookupInflight.serve(3)(answer(custkey(req)))
          }
          // flaky twin: the FIRST attempt for every key fails 503; the
          // retry policy must recover (per-JVM counters — later bench
          // iterations see a warm stub, which only makes retries moot)
          .route("/customer-flaky") { req =>
            val key = custkey(req)
            if (key.exists(attempt("", _) == 1)) (503, """{"error":"warming up"}""")
            else answer(key)
          }
          // twice-failing twin (exponential-retry gate): the first TWO
          // attempts per key 503 — recovery requires attempt 3, i.e. a
          // retry schedule that actually advances through its backoff
          // sequence (distinct counter namespace from /customer-flaky)
          .route("/customer-flaky2") { req =>
            val key = custkey(req)
            if (key.exists(attempt("exp:", _) <= 2)) (503, """{"error":"warming up"}""")
            else answer(key)
          }
        server.start()
        server
      })

  private def customerServiceUrl(spark: SparkSession, dir: String): String =
    lookupStub(spark, dir).url("/customer")

  // ----- HTTPS customer stub (L17): the same fixture served over TLS with
  // a keytool-generated self-signed certificate. The gate trusts it via the
  // EXPLICIT `http.security.cert.server` trust-store path (not
  // allowSelfSigned), so a green result proves the PEM loader, the custom
  // trust store, the handshake, and the lookup decode compose end-to-end —
  // the reference's security/SecurityContext.java surface, driver-gated.
  // Returns (base https URL, PEM path the connector must trust, PKCS12
  // keystore path holding the same key+cert — the keystore-file trust
  // route of h_tls_keystore).
  private val tlsServers =
    new ConcurrentHashMap[String, (String, String, String)]()

  private def tlsStub(spark: SparkSession, dir: String): (String, String, String) =
    tlsServers.computeIfAbsent(
      dir,
      _ => {
        val rows = customerRowsMap(spark, dir)
        val cert = SelfSignedCert.create(GateTemp.dir("graft-tls-gate"))
        val server = new StubServer(recording = false, tls = Some(cert.serverContext()))
          .route("/customer")(req => customerAnswer(rows, custkey(req)))
          .start()
        (server.url(""), cert.pem.toString, cert.keyStore.toString)
      })

  private def sinkServer(dir: String): StubServer =
    sinkServers.computeIfAbsent(
      dir,
      _ => {
        val server = StubServer()
          .route("/ingest")(_ => (200, """{"ok":true}"""))
          .route("/ingest-table")(_ => (200, """{"ok":true}"""))
          // idempotency-key twin (K13): plain 200s — the gate reads the
          // captured Idempotency-Key headers back out of `requests`
          .route("/ingest-idem")(_ => (200, """{"ok":true}"""))
          // bounded-in-flight twin (K3): tracks concurrent handlers; the
          // sleep makes the client's in-flight window observable
          .route("/ingest-slow") { _ =>
            sinkInflight.serve(50)((200, """{"ok":true}"""))
          }
          // time-based-flush twin (K14): plain 200s — the gate counts how
          // many separate partial-batch requests landed
          .route("/ingest-flush")(_ => (200, """{"ok":true}"""))
          // error-classification twin (K4): ALWAYS answers 500 — whether
          // that fails the job is exactly what the error-code
          // include/exclude grammar decides
          .route("/ingest-err")(_ => (500, """{"error":"always"}"""))
        server.start()
        server
      })

  private val customerResponseSchema = StructType(Seq(
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  /** Options every customer-lookup gate starts from: GET, per-partition key
    * dedup, 2XX success and 404 as the no-match answer. Total in-flight =
    * partitions × threads; the JDK HTTP/1.1 client degrades SUPER-linearly
    * past ~100 concurrent connections (measured: 15k loopback GETs cold —
    * 64 in-flight 1.8s, 256 in-flight 6.3s, 512 in-flight 12-18s with
    * multi-second p99 tails). Low-latency endpoints want few in-flight;
    * raise only for high-latency remote services.
    */
  private val lookupBase = Map(
    "lookup-method" -> "GET",
    "http.source.lookup.request.thread-pool.size" -> "2",
    "http.source.lookup.dedup-keys" -> "true",
    "http.source.lookup.success-codes" -> "2XX",
    "http.source.lookup.ignored-response-codes" -> "404")

  /** [[lookupBase]] plus a partial cache that holds every customer. */
  private val cachedLookup = lookupBase ++ Map(
    "lookup.cache" -> "PARTIAL",
    "lookup.partial-cache.max-rows" -> "200000")

  /** The DSv2 lookup tables' options. */
  private def tableLookup(url: String): Map[String, String] =
    cachedLookup ++ Map("url" -> url, "asyncPolling" -> "true")

  /** `opts` as quoted SQL option pairs, key and value joined by `sep`:
    * `", "` for the TVF's arguments, `" "` for a table's OPTIONS clause.
    */
  private def sqlOptions(opts: Map[String, String], sep: String): String =
    opts.toSeq.sorted.map { case (k, v) => s"'$k'$sep'$v'" }.mkString(",\n  ")

  // Dedicated session carrying GraftExtensions (the driver's Verify/Bench
  // session is extension-free), built once per JVM on the shared
  // SparkContext.
  private val extSessions = new ConcurrentHashMap[String, SparkSession]()
  private def extensionsSession(s: SparkSession): SparkSession =
    extSessions.computeIfAbsent("x", _ => graft.GraftSession.withExtensions(s))

  /** Every `every`-th order with its customer key: the lookup gates' probe. */
  private def ordersProbe(s: SparkSession, dir: String, every: Int): DataFrame =
    s.read
      .parquet(s"$dir/orders.parquet")
      .filter(col("o_orderkey") % every === 0)
      .select(col("o_orderkey"), col("o_custkey").as("c_custkey"))

  /** `probe` enriched from a customer route on `c_custkey`, projected to
    * `cols`.
    */
  private def customerLookup(
      probe: DataFrame,
      options: Map[String, String],
      includeMetadata: Boolean = false)(cols: Column*): DataFrame =
    HttpLookup
      .join(
        probe,
        keyCols = Seq("c_custkey"),
        responseSchema = customerResponseSchema,
        options = options,
        includeMetadata = includeMetadata)
      .select(cols: _*)

  /** Customers and their exact balance sum per nation: what the sink gates
    * post. Decimal sum rounded at decimal precision, then cast to double.
    */
  private def nationAgg(s: SparkSession, dir: String): DataFrame =
    s.read
      .parquet(s"$dir/customer.parquet")
      .groupBy(col("c_nationkey"))
      .agg(
        count(lit(1)).as("n_customers"),
        round(sum(col("c_acctbal").cast(DecimalType(18, 2))), 2)
          .cast(DoubleType).as("sum_acctbal"))

  /** [[nationAgg]] in DuckDB: the oracle of every gate that posts it. */
  private val nationAggOracle =
    """SELECT c_nationkey, count(*) AS n_customers,
      |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_acctbal
      |FROM customer GROUP BY c_nationkey""".stripMargin

  /** How a sink frames the records of the bodies it posts. */
  private sealed trait Framing
  private case object JsonArray extends Framing // batch mode, json
  private case object JsonObject extends Framing // single mode, one per request
  private case object CsvLines extends Framing // batch mode, csv

  private val nationRecord = StructType(Seq(
    StructField("c_nationkey", IntegerType),
    StructField("n_customers", LongType),
    StructField("sum_acctbal", DoubleType)))

  /** The [[nationAgg]] records a stub captured in `bodies`, decoded back. */
  private def postedRecords(
      s: SparkSession,
      bodies: Seq[String],
      framing: Framing): DataFrame = {
    import s.implicits._
    val body = s.createDataset(bodies).toDF("body")
    val recs = framing match {
      case JsonArray =>
        body.select(explode(from_json(col("body"), ArrayType(nationRecord))).as("rec"))
      case JsonObject =>
        body.select(from_json(col("body"), nationRecord).as("rec"))
      case CsvLines =>
        body
          .select(explode(split(col("body"), "\n")).as("line"))
          .filter(col("line") =!= "")
          .select(from_csv(col("line"), nationRecord, Map.empty[String, String]).as("rec"))
    }
    recs.select(col("rec.c_nationkey"), col("rec.n_customers"), col("rec.sum_acctbal"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----- HTTP lookup join: orders enriched from the customer service -----
    "h_lookup_join" -> { (s, dir) =>
      val probe = s.read
        .parquet(s"$dir/orders.parquet")
        .select(
          col("o_orderkey"),
          col("o_custkey").as("c_custkey"),
          col("o_totalprice"))
      customerLookup(
        probe,
        cachedLookup ++ Map(
          "url" -> customerServiceUrl(s, dir),
          "asyncPolling" -> "true"))(
        col("o_orderkey"),
        col("c_custkey"),
        col("o_totalprice").cast(DecimalType(18, 2)).cast(DoubleType)
          .as("o_totalprice_r"),
        col("c_name"),
        col("c_nationkey"),
        col("c_acctbal"),
        col("c_mktsegment"))
    },

    // ----- strict decode (L23, NEW r13): json.fail-on-missing-field.
    // Pass 1 points the SAME probe slice at the drifted twin endpoint
    // (c_mktsegment removed from every payload) under strict decode and
    // MUST fail naming the missing field — a strict mode that silently
    // PERMISSIVE-nulls passes bad data through and fails this require.
    // Pass 2 runs strict against the complete endpoint: same writes
    // succeed, result hash-gated vs the relational join. -----
    "h_strict_lookup" -> { (s, dir) =>
      val probe = ordersProbe(s, dir, 31)
      def strict(url: String) = customerLookup(
        probe,
        lookupBase ++ Map(
          "url" -> url,
          "json.fail-on-missing-field" -> "true"))(
        col("o_orderkey"),
        col("c_custkey"),
        col("c_name"),
        col("c_mktsegment"))
      val failed =
        try {
          // noop write: count() would prune the projection and the
          // raise_error column under test would never evaluate
          strict(lookupStub(s, dir).url("/customer-drift"))
            .write.format("noop").mode("overwrite").save()
          false
        } catch {
          case t: Throwable =>
            val msgs = Iterator
              .iterate(t)(_.getCause)
              .takeWhile(_ != null)
              .take(16)
              .map(e => String.valueOf(e.getMessage))
              .mkString("\n")
            if (!(msgs.contains("missing declared field") &&
                msgs.contains("c_mktsegment"))) throw t
            true
        }
      require(
        failed,
        "h_strict_lookup: a drifted endpoint (c_mktsegment removed) did " +
          "NOT fail the job under json.fail-on-missing-field — strict " +
          "decode is silently tolerating schema drift")
      strict(customerServiceUrl(s, dir))
    },

    // ----- POST lookup: key rendered into a JSON body template (L3/L4) ---
    "h_post_lookup" -> { (s, dir) =>
      customerLookup(
        ordersProbe(s, dir, 5),
        cachedLookup ++ Map(
          "url" -> lookupStub(s, dir).url("/customer-post"),
          "lookup-method" -> "POST",
          "http.request.body-template" -> """{"c_custkey": {{c_custkey}}}"""))(
        col("o_orderkey"),
        col("c_custkey"),
        col("c_name"),
        col("c_acctbal"))
    },

    // ----- Elasticsearch-lite creator: Lucene q= query string (L5) -----
    "h_es_lookup" -> { (s, dir) =>
      customerLookup(
        ordersProbe(s, dir, 7),
        cachedLookup ++ Map(
          "url" -> lookupStub(s, dir).url("/customer-es"),
          "lookup-query-creator" -> "elasticsearch-lite"))(
        col("o_orderkey"),
        col("c_custkey"),
        col("c_name"),
        col("c_mktsegment"))
    },

    // ----- query-param rename (L21), basic auth (L13), retries (L7) -----
    "h_param_rename" -> { (s, dir) =>
      customerLookup(
        ordersProbe(s, dir, 11),
        cachedLookup ++ Map(
          "url" -> lookupStub(s, dir).url("/customer-renamed"),
          "http.request.query-param-fields-with-key" -> "c_custkey:cust"))(
        col("o_orderkey"), col("c_custkey"), col("c_name"))
    },
    "h_auth_lookup" -> { (s, dir) =>
      customerLookup(
        ordersProbe(s, dir, 13),
        cachedLookup ++ Map(
          "url" -> lookupStub(s, dir).url("/customer-auth"),
          // raw user:pass — the Basic preprocessor base64s it
          "http.source.lookup.header.Authorization" -> "svc:secret"))(
        col("o_orderkey"), col("c_custkey"), col("c_acctbal"))
    },
    "h_retry_lookup" -> { (s, dir) =>
      customerLookup(
        ordersProbe(s, dir, 17),
        cachedLookup ++ Map(
          "url" -> lookupStub(s, dir).url("/customer-flaky"),
          "lookup.max-retries" -> "3",
          "http.source.lookup.retry-codes" -> "503",
          // 1ms delay: the gate exercises the retry PATH, not the wait
          // (default fixed-delay 1s x one-retry-per-key would serialize
          // ~900 seconds of sleep through a 2-thread pool)
          "http.source.lookup.retry-strategy.fixed-delay.delay" -> "1ms"))(
        col("o_orderkey"), col("c_custkey"), col("c_nationkey"))
    },

    // ----- exponential-delay retry strategy e2e (L7 exponential path,
    // NEW r13): the stub fails the first TWO attempts per key, so
    // recovery happens only on attempt 3 — an exponential schedule that
    // stalls after one retry (or a broken multiplier loop) never reaches
    // it and the gate's relational result goes empty/fails. Tiny
    // backoffs: the gate exercises the SCHEDULE, not the wait. -----
    "h_retry_exp" -> { (s, dir) =>
      customerLookup(
        ordersProbe(s, dir, 47),
        cachedLookup ++ Map(
          "url" -> lookupStub(s, dir).url("/customer-flaky2"),
          "lookup.max-retries" -> "3",
          "http.source.lookup.retry-codes" -> "503",
          "http.source.lookup.retry-strategy.type" -> "exponential-delay",
          "http.source.lookup.retry-strategy.exponential-delay.initial-backoff" -> "1ms",
          "http.source.lookup.retry-strategy.exponential-delay.max-backoff" -> "8ms",
          "http.source.lookup.retry-strategy.exponential-delay.backoff-multiplier" -> "2.0"))(
        col("o_orderkey"), col("c_custkey"), col("c_acctbal"))
    },

    // ----- OIDC bearer lookup (L14): token endpoint + Bearer gate -----
    "h_oidc_lookup" -> { (s, dir) =>
      val stub = lookupStub(s, dir)
      customerLookup(
        ordersProbe(s, dir, 19),
        cachedLookup ++ Map(
          "url" -> stub.url("/customer-oidc"),
          "http.security.oidc.token.request" ->
            "grant_type=client_credentials&client_id=graft",
          "http.security.oidc.token.endpoint.url" -> stub.url("/token")))(
        col("o_orderkey"), col("c_custkey"), col("c_name"))
    },

    // ----- lookup through an authenticated-capable forward proxy (L16) --
    "h_proxy_lookup" -> { (s, dir) =>
      val proxy = proxyFor(dir)
      val probe = ordersProbe(s, dir, 23)
      val before = proxy.requestCount
      val out = customerLookup(
        probe,
        cachedLookup ++ Map(
          "url" -> customerServiceUrl(s, dir),
          "http.source.lookup.proxy.host" -> proxy.host,
          "http.source.lookup.proxy.port" -> proxy.port.toString))(
        col("o_orderkey"), col("c_custkey"), col("c_mktsegment"))
      // a correct RESULT is not enough for this gate: a silently dropped
      // proxy config would connect straight to the stub and still match
      // the oracle. On the FIRST invocation in this JVM (cold partial
      // cache — lookups must hit the wire) force one evaluation and
      // require the proxy saw traffic; later invocations ride the cache
      // (zero proxied requests, legitimately) and skip the probe.
      if (proxyAsserted.add(dir)) {
        out.count()
        require(
          proxy.requestCount > before,
          "h_proxy_lookup: no request traversed the forward proxy")
      }
      out
    },

    // ----- TLS lookup via a keystore FILE (L17 keystore route, NEW r12):
    // the same HTTPS fixture trusted through http.security.keystore.path
    // (the PKCS12 holding the server key+cert, read through the
    // reference's hardcoded-JKS dual-format route) — a migrated Flink DDL
    // carrying a keystore works unchanged -----
    "h_tls_keystore" -> { (s, dir) =>
      val (base, _, ksPath) = tlsStub(s, dir)
      customerLookup(
        ordersProbe(s, dir, 53),
        cachedLookup ++ Map(
          "url" -> s"$base/customer",
          "http.security.keystore.path" -> ksPath,
          "http.security.keystore.password" -> SelfSignedCert.Password))(
        col("o_orderkey"),
        col("c_custkey"),
        col("c_name"),
        col("c_nationkey"))
    },

    // ----- TLS lookup (L17): HTTPS + explicit server-cert trust store -----
    "h_tls_lookup" -> { (s, dir) =>
      val (base, certPem, _) = tlsStub(s, dir)
      customerLookup(
        ordersProbe(s, dir, 29),
        cachedLookup ++ Map(
          "url" -> s"$base/customer",
          // trust ONLY the stub's self-signed cert — not allowSelfSigned;
          // the handshake fails unless the PEM trust store is honored
          "http.security.cert.server" -> certPem))(
        col("o_orderkey"),
        col("c_custkey"),
        col("c_name"),
        col("c_acctbal"))
    },

    // ----- custom static headers (L12): the stub answers ONLY requests
    // carrying both configured `http.source.lookup.header.*` headers —
    // a dropped or renamed header 403s every row and fails the hash -----
    "h_header_lookup" -> { (s, dir) =>
      customerLookup(
        ordersProbe(s, dir, 43),
        lookupBase ++ Map(
          "url" -> lookupStub(s, dir).url("/customer-headers"),
          "http.source.lookup.header.X-Api-Key" -> "graft-k1",
          "http.source.lookup.header.X-Tenant" -> "acme"))(
        col("o_orderkey"),
        col("c_custkey"),
        col("c_name"),
        col("c_nationkey"))
    },

    // ----- metadata columns (L9): every probe row emits one output row
    // with http_status_code / http_completion_state populated — known keys
    // are SUCCESS/200, negated keys 404 and (with metadata declared)
    // KEPT as IGNORE_STATUS_CODE rows with null enrichment, the
    // reference's "Available Metadata" contract -----
    "h_lookup_meta" -> { (s, dir) =>
      val probe = s.read
        .parquet(s"$dir/orders.parquet")
        .filter(col("o_orderkey") % 37 === 0)
        .select(
          col("o_orderkey"),
          when(col("o_orderkey") % 3 === 0, -col("o_custkey"))
            .otherwise(col("o_custkey")).as("c_custkey"))
      customerLookup(
        probe,
        lookupBase + ("url" -> customerServiceUrl(s, dir)),
        includeMetadata = true)(
        col("o_orderkey"),
        col("c_custkey"),
        col("c_name"),
        col(HttpLookup.MetaStatusCode),
        col(HttpLookup.MetaCompletionState))
    },

    // ----- partial LRU cache (L6): 5000 probe rows over 100 distinct keys
    // with per-partition key-dedup OFF — only the shared partial cache
    // stands between the probe and 5000 wire calls. Result gated against
    // the relational join; the wire-call ceiling is asserted on the first
    // (cold-cache) evaluation in this JVM, the h_proxy_lookup pattern -----
    "h_cached_lookup" -> { (s, dir) =>
      val probe = s.read
        .parquet(s"$dir/orders.parquet")
        .filter(col("o_orderkey") % 3 === 0)
        .select(
          col("o_orderkey"),
          (col("o_custkey") % 100 + 1).as("c_custkey"))
      val before = cachedRouteHits.get()
      val out = customerLookup(
        probe,
        lookupBase ++ Map(
          "url" -> lookupStub(s, dir).url("/customer-cached"),
          "http.source.lookup.dedup-keys" -> "false",
          "lookup.cache" -> "PARTIAL",
          "lookup.partial-cache.max-rows" -> "1000"))(
        col("o_orderkey"), col("c_custkey"), col("c_name"), col("c_mktsegment"))
      if (cacheAsserted.add(dir)) {
        val rows = out.count()
        val distinctKeys = probe
          .select(countDistinct(col("c_custkey"))).head().getLong(0)
        val wire = cachedRouteHits.get() - before
        // >= distinct keys (every key fetched at least once — the cache
        // cannot conjure responses); <= 8x distinct keys (concurrent tasks
        // may race the same cold key, but the cache must absorb the rest);
        // and strictly below the probe row count — without the cache and
        // with dedup off, every row would be one wire call
        require(
          wire >= distinctKeys && wire <= distinctKeys * 8 && wire < rows,
          s"h_cached_lookup: $wire wire calls for $rows probe rows over " +
            s"$distinctKeys distinct keys — the partial cache is not " +
            "absorbing repeats")
        // strict warm-pass bound (r12, closing the r11 verdict's tolerance
        // nit): every key now sits in the per-executor cache (100 entries
        // well under the 1000-row cap, no TTL configured), so a full
        // re-evaluation must make ZERO wire calls — a cache that "mostly"
        // works cannot pass this
        val warmBefore = cachedRouteHits.get()
        out.count()
        val warmWire = cachedRouteHits.get() - warmBefore
        require(
          warmWire == 0,
          s"h_cached_lookup: warm re-evaluation made $warmWire wire calls " +
            "— the partial cache is not serving fully-cached keys")
      }
      out
    },

    // ----- request timeout (L15): keys divisible by 100 hang 1.5s at the
    // stub; the 250ms request timeout must classify exactly those keys
    // EXCEPTION (null status, null enrichment) while the rest stay
    // SUCCESS/200 — metadata columns gate the classification -----
    "h_timeout_lookup" -> { (s, dir) =>
      customerLookup(
        ordersProbe(s, dir, 41),
        lookupBase ++ Map(
          "url" -> lookupStub(s, dir).url("/customer-slow"),
          "http.source.lookup.request.timeout" -> "250",
          "lookup.max-retries" -> "0",
          "http.source.lookup.continue-on-error" -> "true",
          "http.source.lookup.request.thread-pool.size" -> "4"),
        includeMetadata = true)(
        col("o_orderkey"),
        col("c_custkey"),
        col("c_name"),
        col(HttpLookup.MetaStatusCode),
        col(HttpLookup.MetaCompletionState))
    },

    // ----- state-store-backed streaming lookup cache across RESTART
    // (L27, NEW r12): the Flink operator-state semantics — the lookup
    // cache lives in the streaming state store and survives WITH the job.
    // Run 1 streams half the probe slice through joinStateCached (each
    // distinct key = exactly ONE wire call); the FULL slice is then
    // redelivered as new input files and run 2 restarts from the same
    // checkpoint: the restored state must suppress every already-seen
    // key, so run 2's wire calls must equal exactly the NEW distinct
    // keys. Output gated hash-exact vs the batch relational join. -----
    "h_state_lookup" -> { (s, dir) =>
      graft.ops.Par.withShufflePartitions(s, 8) {
        val probe = ordersProbe(s, dir, 61)
        val root = GateTemp.dir("graft-state-lookup-gate").toString
        val (inDir, outDir, ckptDir) = (s"$root/in", s"$root/out", s"$root/ckpt")
        val half = probe.filter(col("o_orderkey") % 2 === 0)
        half.repartition(2).write.parquet(inDir)
        val stagedSchema = s.read.parquet(inDir).schema

        // NOT AvailableNow: the state cache's processing-time eviction
        // timers keep AvailableNow servicing no-data batches until the TTL
        // fires (measured: 1500+ empty batches). Poll the query's progress
        // instead and stop once every input row has committed: a progress
        // event is emitted only AFTER its batch commits, and sink and state
        // commit in the same batch transaction, so reaching the count means
        // the cache state is durable too (the file sink reports no output
        // rows; this stream is row-preserving, one output per input).
        def runOnce(expectedRows: Long): Unit = {
          val stream = s.readStream.schema(stagedSchema).parquet(inDir)
          val q = HttpLookup
            .joinStateCached(
              stream,
              keyCols = Seq("c_custkey"),
              responseSchema = customerResponseSchema,
              // a streaming probe skips key dedup and the async window
              options = lookupBase ++ Map(
                "url" -> lookupStub(s, dir).url("/customer-state"),
                "lookup.partial-cache.expire-after-write" -> "10 min"))
            .select(
              col("o_orderkey"),
              col("c_custkey"),
              col("c_name"),
              col("c_mktsegment"))
            .writeStream
            .format("parquet")
            .option("path", outDir)
            .option("checkpointLocation", ckptDir)
            .outputMode("append")
            // wide interval: batch 0 fires immediately and carries ALL
            // available files; the interval only paces the empty batches
            // we stop before (each empty batch would commit 8 state
            // stores — the measured cost of a tight trigger here)
            .trigger(
              org.apache.spark.sql.streaming.Trigger.ProcessingTime(5000L))
            .start()
          def committed(p: Array[StreamingQueryProgress]) = p.map(_.numInputRows).sum
          Streams.until(q, 120000L)(
            committed(_) >= expectedRows,
            p => s"h_state_lookup: sink committed ${committed(p)} rows, " +
              s"expected $expectedRows within 120s")
        }

        // r16: the four expectation scalars in ONE aggregate pass over the
        // probe slice (was 4 separate driver count jobs, each re-scanning
        // orders.parquet)
        // count(when), not sum(when): sum over ZERO rows is SQL NULL, so an
        // empty probe slice would NPE at getLong instead of failing the
        // gate's require with its message (r16 advice)
        val expectations = probe
          .agg(
            count(when(col("o_orderkey") % 2 === 0, 1)),
            count(lit(1)),
            count_distinct(
              when(col("o_orderkey") % 2 === 0, col("c_custkey"))),
            count_distinct(col("c_custkey")))
          .head()
        val nHalf = expectations.getLong(0)
        val nTotal = expectations.getLong(1)
        val keysHalf = expectations.getLong(2)
        val keysTotal = expectations.getLong(3)
        val before1 = stateRouteHits.get()
        runOnce(nHalf) // run #1: half the slice, one wire call per key
        val wire1 = stateRouteHits.get() - before1
        require(
          wire1 == keysHalf,
          s"h_state_lookup: run 1 made $wire1 wire calls for $keysHalf " +
            "distinct keys — the state cache is not deduplicating fetches")

        // redeliver EVERYTHING (run-1 keys included) as new input files
        probe.repartition(2).write.mode("append").parquet(inDir)
        val before2 = stateRouteHits.get()
        // r16: expectations are PER-RUN now that the poll reads the
        // query's own progress (run 2 processes exactly the newly
        // delivered full slice — the checkpoint skips run-1 files)
        runOnce(nTotal) // run #2: restart from the same checkpoint
        val wire2 = stateRouteHits.get() - before2
        require(
          wire2 == keysTotal - keysHalf,
          s"h_state_lookup: run 2 made $wire2 wire calls but only " +
            s"${keysTotal - keysHalf} keys are new — the checkpoint-" +
            "restored state cache is not suppressing re-fetches")

        // run-1 rows were redelivered and re-enriched: distinct() collapses
        // the duplicate deliveries to the full-slice relation
        s.read.parquet(outDir).distinct()
      }
    },

    // ----- SQL TVF surface (L25, NEW r12): the http_lookup(...) table-
    // valued function — pure spark.sql users running the full lookup
    // pipeline with literal options, gated hash-exact vs the relational
    // join (the h_table_lookup_join check through the TVF instead of the
    // catalog-table route) -----
    "h_tvf_lookup" -> { (s, dir) =>
      val url = customerServiceUrl(s, dir)
      val x = extensionsSession(s)
      ordersProbe(x, dir, 59).createOrReplaceTempView("orders_probe_tvf")
      x.sql(
        s"""SELECT o_orderkey, c_custkey, c_name, c_mktsegment
           |FROM http_lookup(
           |  'orders_probe_tvf',
           |  'c_custkey',
           |  'c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING',
           |  ${sqlOptions(cachedLookup + ("url" -> url), ", ")})""".stripMargin)
    },

    // ----- DSv2 lookup TABLE: pure-SQL DDL + JOIN via HttpLookupJoinRule ---
    "h_table_lookup_join" -> { (s, dir) =>
      val url = customerServiceUrl(s, dir)
      val x = extensionsSession(s)
      x.sql("DROP TABLE IF EXISTS customer_api")
      x.sql(
        s"""CREATE TABLE customer_api (
           |  c_custkey STRING, c_name STRING, c_nationkey INT,
           |  c_acctbal DOUBLE, c_mktsegment STRING)
           |USING `graft-http-lookup`
           |OPTIONS (
           |  ${sqlOptions(tableLookup(url), " ")})""".stripMargin)
      x.read.parquet(s"$dir/orders.parquet")
        .createOrReplaceTempView("orders_probe")
      // WHERE on a lookup column rides through the join rewrite
      x.sql(
        """SELECT p.o_orderkey, a.c_name, a.c_nationkey, a.c_acctbal
          |FROM orders_probe p JOIN customer_api a
          |  ON p.o_custkey = a.c_custkey
          |WHERE a.c_acctbal > 0""".stripMargin)
    },

    // ----- DSv2 lookup TABLE, LEFT JOIN: probe rows without a match (the
    // stub 404s unknown keys; every third probe key is negated so it cannot
    // exist) survive with null enrichment AND a null echoed key — plain SQL
    // outer-join semantics over the HTTP lookup. -----
    "h_table_lookup_left" -> { (s, dir) =>
      val url = customerServiceUrl(s, dir)
      val x = extensionsSession(s)
      x.sql("DROP TABLE IF EXISTS customer_api_left")
      x.sql(
        s"""CREATE TABLE customer_api_left (
           |  c_custkey STRING, c_name STRING, c_nationkey INT,
           |  c_acctbal DOUBLE, c_mktsegment STRING)
           |USING `graft-http-lookup`
           |OPTIONS (
           |  ${sqlOptions(tableLookup(url), " ")})""".stripMargin)
      x.read.parquet(s"$dir/orders.parquet")
        .withColumn(
          "probe_key",
          when(col("o_orderkey") % 3 === 0, -col("o_custkey"))
            .otherwise(col("o_custkey")))
        .createOrReplaceTempView("orders_probe_left")
      x.sql(
        """SELECT p.o_orderkey, p.probe_key,
          |  CAST(a.c_custkey AS BIGINT) AS c_custkey_r,
          |  a.c_name, a.c_nationkey, a.c_acctbal
          |FROM orders_probe_left p LEFT JOIN customer_api_left a
          |  ON p.probe_key = a.c_custkey""".stripMargin)
    },

    // ----- HTTP sink round-trip: aggregate → POST batches → reassemble -----
    "h_sink_roundtrip" -> { (s, dir) =>
      val server = sinkServer(dir)
      server.clear()
      HttpSink.write(
        nationAgg(s, dir).repartition(2),
        Map(
          "url" -> server.url("/ingest"),
          "insert-method" -> "POST",
          "http.sink.writer.request.mode" -> "batch",
          "http.sink.request.batch.size" -> "10"))
      postedRecords(s, server.requests.map(_.body), JsonArray)
    },

    // ----- csv sink framing: to_csv rows joined by newline (K11) -----
    "h_sink_csv" -> { (s, dir) =>
      val server = sinkServer(dir)
      server.clear()
      HttpSink.write(
        nationAgg(s, dir).repartition(2),
        Map(
          "url" -> server.url("/ingest"),
          "insert-method" -> "POST",
          "http.sink.writer.request.mode" -> "batch",
          "http.sink.request.batch.size" -> "10",
          "format" -> "csv"))
      postedRecords(s, server.requests.map(_.body), CsvLines)
    },

    // ----- DSv2 sink TABLE (K12): pure-SQL DDL + INSERT INTO through the
    // graft-http-sink TableProvider; the stub records the batched POST
    // bodies, which decode back to the aggregate — the h_sink_roundtrip
    // check, driven through the catalog instead of the writer API -----
    "h_sink_table" -> { (s, dir) =>
      val server = sinkServer(dir)
      server.clear()
      s.sql("DROP TABLE IF EXISTS h_sink_table_out")
      s.sql(
        s"""CREATE TABLE h_sink_table_out
           |  (c_nationkey INT, n_customers BIGINT, sum_acctbal DOUBLE)
           |USING `graft-http-sink`
           |OPTIONS (url '${server.url("/ingest-table")}',
           |         `insert-method` 'POST',
           |         `http.sink.writer.request.mode` 'batch',
           |         `http.sink.request.batch.size` '10')""".stripMargin)
      try {
        s.sql(
          s"""INSERT INTO h_sink_table_out
             |SELECT c_nationkey, count(*),
             |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
             |FROM parquet.`$dir/customer.parquet`
             |GROUP BY c_nationkey""".stripMargin)
        val bodies = server.requests
          .filter(_.path == "/ingest-table")
          .map(_.body)
        postedRecords(s, bodies, JsonArray)
      } finally s.sql("DROP TABLE IF EXISTS h_sink_table_out")
    },

    // ----- DSv2 streaming HTTP polling source, end-to-end (L22) -----
    // The one HTTP surface that had no [S] gate: poll the paginated stub
    // across N micro-batches (one poll per batch), accumulate the emitted
    // rows in a memory sink, decode the JSON bodies and compare the
    // accumulated relation to the plain nation table in DuckDB. distinct()
    // collapses page-cycle overlap if the trigger fires a 4th poll between
    // the threshold check and stop() (see pollStub). The 100 ms trigger is
    // above a warm batch (about 45-85 ms at sf0.1, local[4]), so batches
    // do not fall behind and the stop meets an idle gap between triggers.
    "h_poll_source" -> { (s, dir) =>
      val server = pollStub(s, dir)
      val sinkName = s"h_poll_source_out_${System.nanoTime()}"
      val polled = s.readStream
        .format("graft-http-poll")
        .option("url", server.url("/nation-feed"))
        .load()
      val q = Streams.memory(polled, sinkName, "append")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L))
        .start()
      // one poll per micro-batch: batches with rows = polls in the sink
      def polls(p: Array[StreamingQueryProgress]) = p.count(_.numInputRows > 0)
      Streams.until(q, 60000L)(
        polls(_) >= PollPages,
        p => s"polling source produced ${polls(p)}/$PollPages micro-batches in 60s")
      val recSchema = StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType)))
      s.table(sinkName)
        .select(from_json(col("body"), recSchema).as("r"))
        .select(col("r.n_nationkey"), col("r.n_name"), col("r.n_regionkey"))
        .distinct()
    },

    // ----- single-mode sink: one request per row (K2), PUT method -----
    "h_sink_single" -> { (s, dir) =>
      val server = sinkServer(dir)
      server.clear()
      HttpSink.write(
        nationAgg(s, dir).repartition(2),
        Map(
          "url" -> server.url("/ingest"),
          "insert-method" -> "PUT",
          "http.sink.writer.request.mode" -> "single"))
      postedRecords(s, server.requests.map(_.body), JsonObject)
    },

    // ----- STREAMING HTTP lookup join (L20, NEW r12): the reference's
    // native context — a Structured Streaming probe side enriched
    // through the HTTP lookup (stateless row-by-row enrichment, the
    // `FOR SYSTEM_TIME AS OF` shape), AvailableNow over the event
    // fixture, accumulated output gated hash-exact against the batch
    // relational join -----
    "h_stream_lookup" -> { (s, dir) =>
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val probe = s.readStream
        .schema(schema)
        .parquet(s"$dir/events*.parquet")
        .filter(col("event_id") % 7 === 0)
        .select(col("event_id"), col("user_id").as("c_custkey"))
      val enriched = customerLookup(
        probe,
        cachedLookup + ("url" -> customerServiceUrl(s, dir)))(
        col("event_id"),
        col("c_custkey"),
        col("c_name"),
        col("c_mktsegment"))
      Streams.drain(enriched, "h_stream_lookup_out", "append")
    },

    // ----- async lookup concurrency (L2): the stub's in-flight tracker
    // must observe BOTH concurrency (>= 2 — a silently dropped thread pool
    // serializes every request and fails this) and the configured bound
    // (<= partitions x pool = 8 — a runaway unbounded pool fails that).
    // Result stays the relational join, hash-gated. -----
    "h_async_lookup" -> { (s, dir) =>
      val out = customerLookup(
        ordersProbe(s, dir, 97).repartition(4),
        lookupBase ++ Map(
          "url" -> lookupStub(s, dir).url("/customer-async"),
          "asyncPolling" -> "true",
          // cache and key-dedup OFF: every probe row must hit the wire,
          // so the concurrency window is sustained and measurable
          "http.source.lookup.dedup-keys" -> "false"))(
        col("o_orderkey"),
        col("c_custkey"),
        col("c_name"),
        col("c_acctbal"))
      // quiet-window methodology (SURVEY par.5): assert on the FIRST
      // evaluation in this JVM only — later bench iterations measure
      // timing, and the physics (4 partitions x 2-deep pipelines over a
      // 5 ms handler) don't change
      if (asyncAsserted.add(dir)) {
        // the >= 2 lower bound is wall-clock-sensitive (5 ms handlers on a
        // possibly CPU-starved runner): observe once, and re-observe a
        // single time before failing — the <= 8 bound is checked on every
        // observation (an unbounded pool must never pass)
        def observe(): Int = {
          lookupInflight.reset()
          out.count()
          val maxSeen = lookupInflight.max
          require(
            maxSeen <= 8,
            s"h_async_lookup: max $maxSeen concurrent requests observed — " +
              "exceeds the 4 partitions x 2 thread-pool in-flight bound")
          maxSeen
        }
        val maxSeen = { val first = observe(); if (first >= 2) first else observe() }
        require(
          maxSeen >= 2,
          s"h_async_lookup: max $maxSeen concurrent request(s) observed — " +
            "the async lookup path is not actually concurrent")
      }
      out
    },

    // ----- sink idempotency keys (K13): single-mode sink with
    // `http.sink.idempotency.header` on; the stub-captured key set must
    // equal the DuckDB replay of (nonce, epoch, partition, sha256(body)
    // prefix, occurrence), and a full re-run with the same nonce must
    // reproduce the set bit-exact (the replay-dedup delivery contract of
    // the reference's checkpointed AsyncSink buffer,
    // sink/HttpSinkWriterStateSerializer.java:30-41). -----
    "h_sink_idempotency" -> { (s, dir) =>
      val agg = s.read
        .parquet(s"$dir/customer.parquet")
        .groupBy(col("c_nationkey"))
        .agg(
          count(lit(1)).as("n_customers"),
          // integer cents: the body string must be byte-identical in the
          // DuckDB replay, so no doubles anywhere near the payload
          (sum(col("c_acctbal").cast(DecimalType(18, 2))) * 100)
            .cast(LongType).as("cents"))
      // every body occurs exactly TWICE in the one partition: occurrence
      // keying (-0/-1 suffixes) is part of the gated relation, and
      // repartition(1) pins the key's partition component to 0
      val doubled = agg.union(agg).repartition(1)
      val server = sinkServer(dir)
      val opts = Map(
        "url" -> server.url("/ingest-idem"),
        "insert-method" -> "POST",
        "http.sink.writer.request.mode" -> "single",
        "http.sink.idempotency.header" -> "Idempotency-Key",
        "http.sink.idempotency.nonce" -> "r12")
      def keysOnce(): Seq[String] = {
        server.clear()
        HttpSink.write(doubled, opts)
        server.requests
          .filter(_.path == "/ingest-idem")
          // StubServer normalizes header keys to First-upper-rest-lower
          .flatMap(_.headers.getOrElse("Idempotency-key", Nil))
      }
      val run1 = keysOnce()
      val run2 = keysOnce()
      require(
        run1.nonEmpty && run1.distinct.size == run1.size,
        s"h_sink_idempotency: ${run1.size} keys, " +
          s"${run1.distinct.size} distinct — occurrence keying broke")
      require(
        run1.sorted == run2.sorted,
        "h_sink_idempotency: an identical re-run did not reproduce the " +
          "idempotency key set bit-exact — replay would not deduplicate")
      import s.implicits._
      s.createDataset(run1).toDF("idem_key")
    },

    // ----- sink bounded in-flight (K3): single-mode requests against a
    // 50 ms handler with max-inflight 2 — the stub tracker must see
    // exactly-bounded concurrency. A dropped semaphore exceeds the bound;
    // a synchronous submitter never reaches 2. -----
    "h_sink_inflight" -> { (s, dir) =>
      val agg = nationAgg(s, dir)
      val server = sinkServer(dir)
      // the >= 2 lower bound is wall-clock-sensitive (50 ms handlers on a
      // possibly CPU-starved runner): re-run the write once before failing
      // it; the <= 2 bound is checked on EVERY run (a dropped semaphore
      // must never pass)
      def observe(): Int = {
        server.clear()
        sinkInflight.reset()
        HttpSink.write(
          agg.repartition(1),
          Map(
            "url" -> server.url("/ingest-slow"),
            "insert-method" -> "PUT",
            "http.sink.writer.request.mode" -> "single",
            "sink.requests.max-inflight" -> "2",
            "http.sink.writer.thread-pool.size" -> "4"))
        val maxSeen = sinkInflight.max
        require(
          maxSeen <= 2,
          s"h_sink_inflight: $maxSeen concurrent requests observed — the " +
            "configured sink.requests.max-inflight bound (2) is not enforced")
        maxSeen
      }
      val maxSeen = { val first = observe(); if (first >= 2) first else observe() }
      require(
        maxSeen >= 2,
        s"h_sink_inflight: max $maxSeen concurrent request(s) — the " +
          "bounded submitter is not actually asynchronous")
      val bodies = server.requests.filter(_.path == "/ingest-slow").map(_.body)
      postedRecords(s, bodies, JsonObject)
    },

    // ----- sink error-code classification (K4, NEW r12): the stub always
    // answers 500. Pass 1 (default error codes 4XX u 5XX) must FAIL the
    // job — a silently-degraded classifier passes bad batches through and
    // fails this require. Pass 2 excludes 500 (`http.sink.error.code
    // .exclude`), so the same writes succeed; the bodies the stub captured
    // in pass 2 decode back to the aggregate, hash-gated. -----
    "h_sink_errcode" -> { (s, dir) =>
      val agg = nationAgg(s, dir)
      val server = sinkServer(dir)
      // the failure must be the CLASSIFIER's (HttpStatusCodeValidation-
      // FailedException naming the 500 somewhere in the Spark-wrapped
      // cause chain) — an unrelated Throwable (bind error, analysis
      // exception, OOM) must NOT satisfy this gate
      val failed =
        try {
          HttpSink.write(
            agg.repartition(1),
            Map(
              "url" -> server.url("/ingest-err"),
              "insert-method" -> "POST",
              "http.sink.writer.request.mode" -> "single"))
          false
        } catch {
          case t: Throwable =>
            val chain = Iterator
              .iterate[Throwable](t)(_.getCause)
              .takeWhile(_ != null)
              .take(16)
              .toSeq
            val classifierFailure = chain.exists {
              case e: graft.http.HttpStatusCodeValidationFailedException =>
                e.getMessage != null && e.getMessage.contains("status 500")
              // Spark can surface task failures with the original class
              // flattened into the message (e.g. after deserialization)
              case e =>
                String.valueOf(e.getMessage)
                  .contains("HTTP sink got error status 500")
            }
            if (!classifierFailure) throw t
            true
        }
      require(
        failed,
        "h_sink_errcode: a 500-answering endpoint did NOT fail the job " +
          "under the default error-code set (4XX,5XX) — the sink error " +
          "classifier is not classifying")
      server.clear()
      HttpSink.write(
        agg.repartition(1),
        Map(
          "url" -> server.url("/ingest-err"),
          "insert-method" -> "POST",
          "http.sink.writer.request.mode" -> "single",
          "http.sink.error.code.exclude" -> "500"))
      val bodies = server.requests.filter(_.path == "/ingest-err").map(_.body)
      postedRecords(s, bodies, JsonObject)
    },

    // ----- sink time-based flush (K14): batch size 1000 never fills, the
    // partition iterator is artificially slow (60 ms/row via a sleeping
    // UDF), so ONLY the 150 ms flush-buffer timeout can emit more than the
    // single end-of-partition request. Requiring >= 3 requests proves the
    // timer KEEPS firing (a fired-once-then-dead timer yields exactly 2:
    // one flush + the end-of-partition submit); ~25 rows x 60 ms against a
    // 150 ms timer expects ~8, so the bound holds even under heavy CPU
    // starvation. The reassembled bodies stay hash-gated. -----
    "h_sink_flush" -> { (s, dir) =>
      // nondeterministic: the optimizer must not move the sleeping
      // projection below the repartition exchange — it has to run in the
      // SAME task as the sink's partition iterator so each row pull
      // really takes 60 ms at the buffer
      val slowId = udf((k: Int) => { Thread.sleep(60L); k }).asNondeterministic()
      val agg = nationAgg(s, dir)
        .repartition(1)
        .select(
          slowId(col("c_nationkey")).as("c_nationkey"),
          col("n_customers"),
          col("sum_acctbal"))
      val server = sinkServer(dir)
      server.clear()
      HttpSink.write(
        agg,
        Map(
          "url" -> server.url("/ingest-flush"),
          "insert-method" -> "POST",
          "http.sink.writer.request.mode" -> "batch",
          "http.sink.request.batch.size" -> "1000",
          "sink.flush-buffer.timeout" -> "150"))
      val reqs = server.requests.filter(_.path == "/ingest-flush")
      require(
        reqs.size >= 3,
        s"h_sink_flush: ${reqs.size} request(s) for a ~1.5 s partition " +
          "with a 150 ms flush-buffer.timeout — the time-based flush " +
          "did not keep firing (2 = one flush then a dead timer)")
      postedRecords(s, reqs.map(_.body), JsonArray)
    })

  val oracles: Map[String, String] = Map(
    "h_lookup_join" ->
      """SELECT o_orderkey, o_custkey AS c_custkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice_r,
        |  c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin,
    "h_strict_lookup" ->
      """SELECT o_orderkey, o_custkey AS c_custkey, c_name, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 31 = 0""".stripMargin,
    "h_post_lookup" ->
      """SELECT o_orderkey, o_custkey AS c_custkey, c_name, c_acctbal
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 5 = 0""".stripMargin,
    "h_es_lookup" ->
      """SELECT o_orderkey, o_custkey AS c_custkey, c_name, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 7 = 0""".stripMargin,
    "h_param_rename" ->
      """SELECT o_orderkey, o_custkey AS c_custkey, c_name
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 11 = 0""".stripMargin,
    "h_auth_lookup" ->
      """SELECT o_orderkey, o_custkey AS c_custkey, c_acctbal
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 13 = 0""".stripMargin,
    "h_retry_exp" ->
      """SELECT o_orderkey, o_custkey AS c_custkey, c_acctbal
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 47 = 0""".stripMargin,
    "h_retry_lookup" ->
      """SELECT o_orderkey, o_custkey AS c_custkey, c_nationkey
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 17 = 0""".stripMargin,
    "h_oidc_lookup" ->
      """SELECT o_orderkey, o_custkey AS c_custkey, c_name
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 19 = 0""".stripMargin,
    "h_proxy_lookup" ->
      """SELECT o_orderkey, o_custkey AS c_custkey, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 23 = 0""".stripMargin,
    "h_tls_lookup" ->
      """SELECT o_orderkey, o_custkey AS c_custkey, c_name, c_acctbal
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 29 = 0""".stripMargin,
    "h_tls_keystore" ->
      """SELECT o_orderkey, o_custkey AS c_custkey, c_name, c_nationkey
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 53 = 0""".stripMargin,
    "h_header_lookup" ->
      """SELECT o_orderkey, o_custkey AS c_custkey, c_name, c_nationkey
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 43 = 0""".stripMargin,
    "h_lookup_meta" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 3 = 0 THEN -o_custkey ELSE o_custkey END
        |    AS c_custkey,
        |  c_name,
        |  CAST(CASE WHEN c_custkey IS NULL THEN 404 ELSE 200 END AS INTEGER)
        |    AS http_status_code,
        |  CASE WHEN c_custkey IS NULL THEN 'IGNORE_STATUS_CODE'
        |       ELSE 'SUCCESS' END AS http_completion_state
        |FROM orders LEFT JOIN customer
        |  ON (CASE WHEN o_orderkey % 3 = 0 THEN -o_custkey
        |      ELSE o_custkey END) = c_custkey
        |WHERE o_orderkey % 37 = 0""".stripMargin,
    "h_cached_lookup" ->
      """SELECT o_orderkey, (o_custkey % 100) + 1 AS c_custkey,
        |  c_name, c_mktsegment
        |FROM orders JOIN customer ON ((o_custkey % 100) + 1) = c_custkey
        |WHERE o_orderkey % 3 = 0""".stripMargin,
    "h_timeout_lookup" ->
      """SELECT o_orderkey, o_custkey AS c_custkey,
        |  CASE WHEN o_custkey % 100 = 0 THEN NULL ELSE c_name END AS c_name,
        |  CAST(CASE WHEN o_custkey % 100 = 0 THEN NULL ELSE 200 END
        |    AS INTEGER) AS http_status_code,
        |  CASE WHEN o_custkey % 100 = 0 THEN 'EXCEPTION'
        |       ELSE 'SUCCESS' END AS http_completion_state
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 41 = 0""".stripMargin,
    "h_sink_table" -> nationAggOracle,
    "h_table_lookup_join" ->
      """SELECT o_orderkey, c_name, c_nationkey, c_acctbal
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_acctbal > 0""".stripMargin,
    "h_table_lookup_left" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 3 = 0 THEN -o_custkey ELSE o_custkey END
        |    AS probe_key,
        |  c_custkey AS c_custkey_r, c_name, c_nationkey, c_acctbal
        |FROM orders LEFT JOIN customer
        |  ON (CASE WHEN o_orderkey % 3 = 0 THEN -o_custkey
        |      ELSE o_custkey END) = c_custkey""".stripMargin,
    "h_sink_csv" -> nationAggOracle,
    "h_sink_single" -> nationAggOracle,
    "h_sink_roundtrip" -> nationAggOracle,
    "h_poll_source" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    "h_async_lookup" ->
      """SELECT o_orderkey, o_custkey AS c_custkey, c_name, c_acctbal
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 97 = 0""".stripMargin,
    "h_stream_lookup" ->
      """SELECT event_id, user_id AS c_custkey, c_name, c_mktsegment
        |FROM events JOIN customer ON user_id = c_custkey
        |WHERE event_id % 7 = 0""".stripMargin,
    "h_tvf_lookup" ->
      """SELECT o_orderkey, o_custkey AS c_custkey, c_name, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 59 = 0""".stripMargin,
    "h_state_lookup" ->
      """SELECT o_orderkey, o_custkey AS c_custkey, c_name, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 61 = 0""".stripMargin,
    // replays the key derivation exactly: nonce 'r12', epoch 0, partition 0
    // (repartition(1)), first 16 hex chars of sha256 over the to_json body
    // (integer fields only — byte-identical cross-engine), occurrences 0
    // and 1 for the doubled aggregate
    "h_sink_idempotency" ->
      """WITH agg AS (
        |  SELECT c_nationkey, count(*) AS n_customers,
        |    CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) * 100 AS BIGINT)
        |      AS cents
        |  FROM customer GROUP BY c_nationkey
        |)
        |SELECT 'r12-0-0-' ||
        |    substr(sha256('{"c_nationkey":' || c_nationkey ||
        |      ',"n_customers":' || n_customers ||
        |      ',"cents":' || cents || '}'), 1, 16) ||
        |    '-' || occ AS idem_key
        |FROM agg CROSS JOIN (SELECT 0 AS occ UNION ALL SELECT 1) occs""".stripMargin,
    "h_sink_inflight" -> nationAggOracle,
    "h_sink_errcode" -> nationAggOracle,
    "h_sink_flush" -> nationAggOracle
  )
}
