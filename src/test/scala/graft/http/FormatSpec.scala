package graft.http

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec
import graft.http.testkit.StubServer

/** Pluggable payload formats (PayloadFormats registry) and composable header
  * preprocessors, end-to-end against the stub server — the parity analogs of
  * the reference's DecodingFormat SPI discovery and
  * ComposeHeaderPreprocessor.
  */
class FormatSpec extends SparkSpec with BeforeAndAfterAll {

  private var server: StubServer = _
  private val sunkBodies = new ConcurrentLinkedQueue[String]()
  private val seenTokens = new ConcurrentLinkedQueue[String]()
  private val seenContentTypes = new ConcurrentLinkedQueue[String]()

  private val userSchema = StructType(Seq(
    StructField("name", StringType),
    StructField("balance", DoubleType)))

  // csv rows keyed by id — the "CSV REST endpoint" a reference user would
  // point 'format'='csv' at
  private val csvUsers = Map(
    "1" -> "alice,10.5",
    "2" -> "bob,-3.25",
    "3" -> "carol,0.0")

  override def beforeAll(): Unit = {
    super.beforeAll()
    server = StubServer()
      .route("/csv-user") { req =>
        StubServer.queryMap(req.query).get("id").flatMap(csvUsers.get) match {
          case Some(line) => (200, line)
          case None => (404, "missing")
        }
      }
      .route("/csv-user-post") { req =>
        // POST body is itself CSV (lookup-request.format=csv): a single
        // id field per record
        csvUsers.get(req.body.trim) match {
          case Some(line) => (200, line)
          case None => (404, "missing")
        }
      }
      .route("/csv-sink") { req =>
        sunkBodies.add(req.body)
        seenContentTypes.add(
          req.headers.getOrElse("Content-type",
            req.headers.getOrElse("Content-Type", Nil)).headOption.getOrElse(""))
        (200, "ok")
      }
      .route("/header-echo") { req =>
        req.headers.get("X-token").orElse(req.headers.get("X-Token"))
          .flatMap(_.headOption).foreach(seenTokens.add)
        (200, """{"name": "x", "balance": 1.0}""")
      }
      .start()
  }

  override def afterAll(): Unit = { server.stop(); super.afterAll() }

  private def probe: DataFrame = {
    import spark.implicits._
    Seq((100L, "1"), (101L, "2"), (102L, "3")).toDF("event", "id")
  }

  test("csv response format decodes a CSV lookup endpoint") {
    val out = HttpLookup
      .join(
        probe,
        Seq("id"),
        userSchema,
        Map(
          "url" -> server.url("/csv-user"),
          "format" -> "csv"))
      .orderBy("event")
      .collect()
    out.map(_.getAs[String]("name")).toSeq shouldBe Seq("alice", "bob", "carol")
    out.map(_.getAs[Double]("balance")).toSeq shouldBe Seq(10.5, -3.25, 0.0)
  }

  test("csv request format renders the POST lookup body as CSV") {
    val out = HttpLookup
      .join(
        probe,
        Seq("id"),
        userSchema,
        Map(
          "url" -> server.url("/csv-user-post"),
          "lookup-method" -> "POST",
          "lookup-request.format" -> "csv",
          "format" -> "csv"))
      .orderBy("event")
      .collect()
    out.map(_.getAs[String]("name")).toSeq shouldBe Seq("alice", "bob", "carol")
  }

  test("multi-line csv body classifies UNABLE_TO_DESERIALIZE, not first-line data") {
    // from_csv alone would silently parse line one of a header+data or
    // multi-record response; the single-record contract routes such bodies
    // to the corrupt column instead. A trailing newline is tolerated.
    import spark.implicits._
    val multiServer = StubServer()
      .route("/multi") { _ => (200, "name,balance\nalice,10.5") }
      .route("/trailing-nl") { _ => (200, "alice,10.5\n") }
      .start()
    try {
      val one = Seq(("1")).toDF("id")
      val multi = HttpLookup
        .join(
          one,
          Seq("id"),
          userSchema,
          Map("url" -> multiServer.url("/multi"), "format" -> "csv"),
          includeMetadata = true)
        .collect()
      multi.head.getAs[String](HttpLookup.MetaCompletionState) shouldBe
        CompletionState.UnableToDeserialize
      multi.head.getAs[String]("name") shouldBe null
      val ok = HttpLookup
        .join(
          one,
          Seq("id"),
          userSchema,
          Map("url" -> multiServer.url("/trailing-nl"), "format" -> "csv"))
        .collect()
      ok.head.getAs[String]("name") shouldBe "alice"
      ok.head.getAs[Double]("balance") shouldBe 10.5
    } finally multiServer.stop()
  }

  test("result-type=array with csv format is a config error") {
    val e = intercept[HttpConfigException] {
      HttpLookup.join(
        probe,
        Seq("id"),
        userSchema,
        Map(
          "url" -> server.url("/csv-user"),
          "format" -> "csv",
          "http.source.lookup.result-type" -> "array"))
    }
    e.getMessage should include("array")
  }

  test("csv sink renders rows as CSV lines with text/csv content type") {
    import spark.implicits._
    sunkBodies.clear()
    seenContentTypes.clear()
    val df = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("k", "v")
    HttpSink.write(
      df.coalesce(1),
      Map(
        "url" -> server.url("/csv-sink"),
        "format" -> "csv",
        "http.sink.request.batch.size" -> "10"))
    val body = sunkBodies.poll()
    body.split("\n").sorted.toSeq shouldBe Seq("a,1", "b,2", "c,3")
    seenContentTypes.poll() shouldBe "text/csv"
  }

  test("unknown format names fail fast listing the registry") {
    val e = intercept[HttpConfigException] {
      HttpLookup.join(
        probe, Seq("id"), userSchema,
        Map("url" -> server.url("/csv-user"), "format" -> "avro"))
    }
    e.getMessage should (include("avro") and include("csv") and include("json"))
  }

  test("a caller-registered custom format resolves by name") {
    object UpperJson extends PayloadFormat {
      def name = "upperjson"
      def contentType = "application/json"
      def encode(record: org.apache.spark.sql.Column) = upper(to_json(record))
      def decode(body: org.apache.spark.sql.Column, schema: StructType, corruptField: String) =
        JsonPayloadFormat.decode(lower(body), schema, corruptField)
      def decodeArray(body: org.apache.spark.sql.Column, schema: StructType, corruptField: String) =
        None
      val framing = BatchFraming("[", ",", "]")
    }
    PayloadFormats.register(UpperJson)
    PayloadFormats("upperjson").name shouldBe "upperjson"
    PayloadFormats.known should contain("upperjson")
  }

  test("composed header preprocessors apply in order on a custom header") {
    // two preprocessors on X-Token: first wraps with a prefix, second signs
    // with a suffix — composition must apply both, in sequence order
    val prefix = new HeaderValuePreprocessor {
      def preprocess(v: String): String = "pre-" + v
    }
    val suffix = new HeaderValuePreprocessor {
      def preprocess(v: String): String = v + "-signed"
    }
    seenTokens.clear()
    val out = HttpLookup.join(
      probe,
      Seq("id"),
      userSchema,
      Map(
        "url" -> server.url("/header-echo"),
        "http.source.lookup.header.X-Token" -> "t0"),
      headerPreprocessors = Seq(
        HeaderPreprocessor("X-Token", prefix),
        HeaderPreprocessor("X-Token", suffix)))
    out.collect().length shouldBe 3
    seenTokens.peek() shouldBe "pre-t0-signed"
  }

  test("compose leaves non-matching headers untouched and chains matching ones") {
    val add1 = HeaderPreprocessor("A", new HeaderValuePreprocessor {
      def preprocess(v: String): String = v + "1"
    })
    val add2 = HeaderPreprocessor("a", new HeaderValuePreprocessor {
      def preprocess(v: String): String = v + "2"
    })
    val out = HeaderPreprocessors.compose(Seq(add1, add2))(
      Seq("A" -> "x", "B" -> "y"))
    out shouldBe Seq("A" -> "x12", "B" -> "y")
  }
}

/** SQL surface: `http_lookup` TVF round-trip against the stub server. */
class HttpLookupTvfSpec extends SparkSpec with BeforeAndAfterAll {

  private var server: StubServer = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    val users = Map(
      "1" -> """{"name": "alice", "balance": 10.5}""",
      "2" -> """{"name": "bob", "balance": -3.25}""")
    server = StubServer()
      .route("/user") { req =>
        StubServer.queryMap(req.query).get("id").flatMap(users.get) match {
          case Some(j) => (200, j)
          case None => (404, "missing")
        }
      }
      .start()
    graft.plans.GraftExtensions.register(spark)
  }

  override def afterAll(): Unit = { server.stop(); super.afterAll() }

  test("SQL users can run the HTTP lookup join without Scala") {
    import spark.implicits._
    Seq((100L, "1"), (101L, "2"), (102L, "9"))
      .toDF("event", "id")
      .createOrReplaceTempView("tvf_probe")
    val out = spark.sql(
      s"""SELECT event, name, balance FROM http_lookup(
         |  'tvf_probe', 'id', 'name STRING, balance DOUBLE',
         |  'url', '${server.url("/user")}',
         |  'http.source.lookup.ignored-response-codes', '404')
         |ORDER BY event""".stripMargin)
      .collect()
    out.map(_.getLong(0)).toSeq shouldBe Seq(100L, 101L)
    out.map(_.getString(1)).toSeq shouldBe Seq("alice", "bob")
    out.map(_.getDouble(2)).toSeq shouldBe Seq(10.5, -3.25)
  }

  test("TVF rejects non-literal and malformed argument lists") {
    import spark.implicits._
    Seq((1L, "1")).toDF("event", "id").createOrReplaceTempView("tvf_probe2")
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM http_lookup('tvf_probe2', 'id')").collect()
    }
    e.getMessage should include("http_lookup")
  }

  test("TVF composes with ordinary SQL (aggregation over the lookup)") {
    import spark.implicits._
    Seq((100L, "1"), (101L, "2"), (102L, "1"))
      .toDF("event", "id")
      .createOrReplaceTempView("tvf_probe3")
    val out = spark.sql(
      s"""SELECT name, count(*) AS n, sum(balance) AS total
         |FROM http_lookup(
         |  'tvf_probe3', 'id', 'name STRING, balance DOUBLE',
         |  'url', '${server.url("/user")}',
         |  'http.source.lookup.ignored-response-codes', '404')
         |GROUP BY name ORDER BY name""".stripMargin)
      .collect()
    out.map(r => (r.getString(0), r.getLong(1))).toSeq shouldBe
      Seq(("alice", 2L), ("bob", 1L))
  }
}
