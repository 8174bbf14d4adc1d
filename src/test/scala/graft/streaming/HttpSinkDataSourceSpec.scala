package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec
import graft.http.{HttpConfigException, Json}
import graft.http.testkit.StubServer

/** DSv2 sink table: batch save(), SQL CREATE TABLE + INSERT INTO, and
  * writeStream — the SQL-first sink surface the reference exposes via
  * `'connector'='http-async-sink'` DDL.
  */
class HttpSinkDataSourceSpec extends SparkSpec with BeforeAndAfterAll {

  private var server: StubServer = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    server = StubServer()
      .route("/ok") { _ => (200, "{}") }
      .start()
  }

  override def afterAll(): Unit = { server.stop(); super.afterAll() }

  private def df(n: Int) = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, s"name$i")).toDF("id", "name").coalesce(1)
  }

  test("df.write.format(graft-http-sink) posts JSON batches") {
    server.clear()
    df(25).write
      .format("graft-http-sink")
      .option("url", server.url("/ok"))
      .option("http.sink.request.batch.size", "10")
      .mode("append")
      .save()
    val bodies = server.requests.filter(_.path == "/ok").map(_.body)
    bodies should have size 3
    bodies.map(b => Json.mapper.readTree(b).size()).sorted shouldBe
      List(5, 10, 10)
    // submission is async: arrival order is not row order
    val rows = bodies.flatMap { b =>
      val arr = Json.mapper.readTree(b)
      (0 until arr.size()).map(arr.get)
    }
    rows.map(_.get("id").asLong()).toSet shouldBe (1L to 25L).toSet
    rows.find(_.get("id").asLong() == 1L).get
      .get("name").asText() shouldBe "name1"
  }

  test("SQL users can CREATE TABLE ... USING graft-http-sink and INSERT") {
    server.clear()
    spark.sql("DROP TABLE IF EXISTS http_out")
    spark.sql(
      s"""CREATE TABLE http_out (id BIGINT, name STRING)
         |USING `graft-http-sink`
         |OPTIONS (url '${server.url("/ok")}',
         |         `http.sink.request.batch.size` '100')""".stripMargin)
    try {
      spark.sql(
        "INSERT INTO http_out SELECT id, concat('n', id) FROM range(7)")
      val bodies = server.requests.filter(_.path == "/ok").map(_.body)
      bodies should not be empty
      val rows = bodies.flatMap { b =>
        val arr = Json.mapper.readTree(b)
        (0 until arr.size()).map(arr.get)
      }
      rows should have size 7
      rows.map(_.get("name").asText()).toSet should contain("n0")
    } finally spark.sql("DROP TABLE IF EXISTS http_out")
  }

  test("csv format renders one line per record with text/csv content type") {
    server.clear()
    df(3).write
      .format("graft-http-sink")
      .option("url", server.url("/ok"))
      .option("format", "csv")
      .mode("append")
      .save()
    val reqs = server.requests.filter(_.path == "/ok")
    reqs should have size 1
    reqs.head.body.split("\n").toSeq shouldBe
      Seq("1,name1", "2,name2", "3,name3")
    reqs.head.headers
      .getOrElse("Content-type", reqs.head.headers.getOrElse("Content-Type", Nil))
      .headOption.getOrElse("") should startWith("text/csv")
  }

  test("writeStream.format(graft-http-sink) posts each micro-batch") {
    server.clear()
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long]
    val q = mem.toDF().toDF("id")
      .writeStream
      .format("graft-http-sink")
      .option("url", server.url("/ok"))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-sink-ck").toString)
      .trigger(Trigger.AvailableNow())
    mem.addData(1L, 2L, 3L)
    val run = q.start()
    run.awaitTermination(30000)
    val rows = server.requests.filter(_.path == "/ok").flatMap { r =>
      val arr = Json.mapper.readTree(r.body)
      (0 until arr.size()).map(arr.get(_).get("id").asLong())
    }
    rows.toSet shouldBe Set(1L, 2L, 3L)
  }

  test("idempotency.sort plans the required ordering: keys replay-stable") {
    import spark.implicits._
    // two inserts of the same multiset in opposite input orders must frame
    // identical batches with identical idempotency keys — the write declares
    // RequiresDistributionAndOrdering, so SPARK plans the partition-local
    // sort; nothing here pre-sorts
    def run(rows: Seq[Long]): (List[String], List[String]) = {
      server.clear()
      rows.toDF("id").coalesce(1).write
        .format("graft-http-sink")
        .option("url", server.url("/ok"))
        .option("http.sink.request.batch.size", "4")
        .option("http.sink.idempotency.sort", "true")
        .option("http.sink.idempotency.header", "Idempotency-Key")
        .mode("append")
        .save()
      val reqs = server.requests.filter(_.path == "/ok")
      (
        reqs.map(_.body).sorted,
        reqs.flatMap(_.headers.getOrElse("Idempotency-key", Nil)).sorted)
    }
    val rows = Seq(6L, 1L, 9L, 4L, 2L, 8L, 3L)
    val (bodies, keys) = run(rows)
    bodies should have size 2
    keys should have size 2
    run(rows.reverse) shouldBe ((bodies, keys))
  }

  test("HttpSink.write and the graft-http-sink table send identical bodies") {
    // one renderer for every surface: the table's rows go through the same
    // PayloadFormat.encode expression HttpSink.write plans
    import spark.implicits._
    val rows = (1 to 23).map { i =>
      (i.toLong, s"n,$i", i * 0.1, java.sql.Date.valueOf(s"2024-01-${i % 28 + 1}"),
        java.sql.Timestamp.valueOf(f"2024-03-01 10:$i%02d:05.25"))
    }.toDF("id", "name", "score", "day", "ts").coalesce(1)
    for (format <- Seq("json", "csv")) {
      val options = Map(
        "url" -> server.url("/ok"),
        "format" -> format,
        "http.sink.request.batch.size" -> "5")
      def bodies(write: => Unit): List[String] = {
        server.clear()
        write
        server.requests.filter(_.path == "/ok").map(_.body).sorted
      }
      val viaScala = bodies(graft.http.HttpSink.write(rows, options))
      val viaTable = bodies(
        rows.write.format("graft-http-sink").options(options).mode("append").save())
      withClue(s"format $format: ") {
        viaScala should have size 5
        viaTable shouldBe viaScala
      }
    }
  }

  test("a registered custom format renders through the table") {
    graft.http.PayloadFormats.register(new graft.http.PayloadFormat {
      def name = "dsv2test"
      def contentType = "text/plain"
      def encode(record: org.apache.spark.sql.Column) =
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("<"),
          org.apache.spark.sql.functions.to_json(record),
          org.apache.spark.sql.functions.lit(">"))
      def decode(
          body: org.apache.spark.sql.Column,
          schema: org.apache.spark.sql.types.StructType,
          corruptField: String) =
        graft.http.JsonPayloadFormat.decode(body, schema, corruptField)
      def decodeArray(
          body: org.apache.spark.sql.Column,
          schema: org.apache.spark.sql.types.StructType,
          corruptField: String) = None
      val framing = graft.http.BatchFraming("", "\n", "")
    })
    server.clear()
    df(2).write
      .format("graft-http-sink")
      .option("url", server.url("/ok"))
      .option("format", "dsv2test")
      .mode("append")
      .save()
    val reqs = server.requests.filter(_.path == "/ok")
    reqs.map(_.body) shouldBe List(
      """<{"id":1,"name":"name1"}>""" + "\n" + """<{"id":2,"name":"name2"}>""")
    reqs.head.headers
      .getOrElse("Content-type", reqs.head.headers.getOrElse("Content-Type", Nil))
      .headOption.getOrElse("") should startWith("text/plain")

    val unknown = intercept[HttpConfigException] {
      df(1).write
        .format("graft-http-sink")
        .option("url", server.url("/ok"))
        .option("format", "nope")
        .mode("append")
        .save()
    }
    unknown.getMessage should include("Unknown payload format")

    val noColumns = intercept[HttpConfigException] {
      df(1).select().write
        .format("graft-http-sink")
        .option("url", server.url("/ok"))
        .mode("append")
        .save()
    }
    noColumns.getMessage should include("at least one column")
  }
}
