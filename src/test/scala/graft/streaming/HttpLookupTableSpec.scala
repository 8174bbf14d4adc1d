package graft.streaming

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec
import graft.http.{HttpConfigException, Json}
import graft.http.testkit.StubServer

/** DSv2 lookup TABLE: `CREATE TABLE … USING graft-http-lookup` + plain SQL
  * JOIN planned as an HTTP lookup by [[graft.plans.HttpLookupJoinRule]] —
  * the reference's SQL-first lookup surface
  * (`table/lookup/HttpLookupTableSourceFactory.java`).
  */
class HttpLookupTableSpec extends SparkSpec with BeforeAndAfterAll {

  private var server: StubServer = _
  // dedicated session: analyzer rules require the extensions at build time
  private var xspark: SparkSession = _

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
      .start()
    // share the JVM-wide SparkContext; build a second session carrying the
    // extensions (getOrCreate would return the shared session otherwise)
    xspark = graft.GraftSession.withExtensions(spark)
  }

  override def afterAll(): Unit = {
    server.stop()
    super.afterAll()
  }

  private def ddl(tableName: String): Unit = {
    xspark.sql(s"DROP TABLE IF EXISTS $tableName")
    xspark.sql(
      s"""CREATE TABLE $tableName (id STRING, name STRING, balance DOUBLE)
         |USING `graft-http-lookup`
         |OPTIONS (url '${server.url("/user")}',
         |         `http.source.lookup.ignored-response-codes` '404')""".stripMargin)
  }

  private def probeView(): Unit = {
    val sx = xspark
    import sx.implicits._
    Seq((100L, "1"), (101L, "2"), (102L, "3"), (103L, "4"))
      .toDF("event", "id")
      .createOrReplaceTempView("probe_t")
  }

  test("CREATE TABLE + JOIN is planned as an HTTP lookup join") {
    ddl("api_users")
    probeView()
    try {
      val rows = xspark.sql(
        """SELECT p.event, a.name, a.balance
          |FROM probe_t p JOIN api_users a ON p.id = a.id
          |ORDER BY p.event""".stripMargin).collect()
      // id=4 → 404 → ignored → dropped (inner-join semantics)
      rows.map(r => (r.getLong(0), r.getString(1), r.getDouble(2))) shouldBe
        Array((100L, "alice", 10.5), (101L, "bob", -3.25), (102L, "carol", 0.0))
    } finally xspark.sql("DROP TABLE IF EXISTS api_users")
  }

  test("join keys may have different probe-side names; echoed key column works") {
    ddl("api_users2")
    val sx = xspark
    import sx.implicits._
    Seq((7L, "2")).toDF("seq", "custkey").createOrReplaceTempView("probe_r")
    try {
      // select the LOOKUP table's key column too: echoed from the probe
      val rows = xspark.sql(
        """SELECT a.id, a.name, p.seq
          |FROM probe_r p JOIN api_users2 a ON p.custkey = a.id""".stripMargin)
        .collect()
      rows.map(r => (r.getString(0), r.getString(1), r.getLong(2))) shouldBe
        Array(("2", "bob", 7L))
    } finally xspark.sql("DROP TABLE IF EXISTS api_users2")
  }

  test("probe/response column name collisions resolve to the response value") {
    ddl("api_users3")
    val sx = xspark
    import sx.implicits._
    // the probe carries its OWN 'name' column; a.name must still be the
    // HTTP response's value and p.name the probe's
    Seq(("probe-name", "1")).toDF("name", "id")
      .createOrReplaceTempView("probe_c")
    try {
      val rows = xspark.sql(
        """SELECT p.name, a.name
          |FROM probe_c p JOIN api_users3 a ON p.id = a.id""".stripMargin)
        .collect()
      rows.map(r => (r.getString(0), r.getString(1))) shouldBe
        Array(("probe-name", "alice"))
    } finally xspark.sql("DROP TABLE IF EXISTS api_users3")
  }

  test("WHERE on lookup columns filters the enrichment") {
    ddl("api_users4")
    probeView()
    try {
      val rows = xspark.sql(
        """SELECT p.id FROM probe_t p JOIN api_users4 a ON p.id = a.id
          |WHERE a.balance > 0""".stripMargin).collect()
      rows.map(_.getString(0)) shouldBe Array("1")
    } finally xspark.sql("DROP TABLE IF EXISTS api_users4")
  }

  test("lookup table works on either side of the JOIN") {
    ddl("api_users5")
    probeView()
    try {
      val rows = xspark.sql(
        """SELECT a.name, p.event
          |FROM api_users5 a JOIN probe_t p ON p.id = a.id
          |ORDER BY p.event""".stripMargin).collect()
      rows.map(r => (r.getString(0), r.getLong(1))) shouldBe
        Array(("alice", 100L), ("bob", 101L), ("carol", 102L))
    } finally xspark.sql("DROP TABLE IF EXISTS api_users5")
  }

  test("LEFT JOIN keeps unmatched probe rows with null enrichment AND null echoed key") {
    ddl("api_left1")
    probeView()
    try {
      val rows = xspark.sql(
        """SELECT p.event, a.id, a.name, a.balance
          |FROM probe_t p LEFT JOIN api_left1 a ON p.id = a.id
          |ORDER BY p.event""".stripMargin).collect()
      rows.length shouldBe 4
      // id=4 → 404 → kept, with a.* ALL null (echoed key included)
      val unmatched = rows.find(_.getLong(0) == 103L).get
      unmatched.isNullAt(1) shouldBe true
      unmatched.isNullAt(2) shouldBe true
      unmatched.isNullAt(3) shouldBe true
      rows.find(_.getLong(0) == 100L).get.getString(2) shouldBe "alice"
    } finally xspark.sql("DROP TABLE IF EXISTS api_left1")
  }

  test("RIGHT JOIN preserving the probe side is routed like LEFT") {
    ddl("api_left2")
    probeView()
    try {
      val rows = xspark.sql(
        """SELECT p.event, a.name
          |FROM api_left2 a RIGHT JOIN probe_t p ON p.id = a.id
          |ORDER BY p.event""".stripMargin).collect()
      rows.length shouldBe 4
      rows.find(_.getLong(0) == 103L).get.isNullAt(1) shouldBe true
    } finally xspark.sql("DROP TABLE IF EXISTS api_left2")
  }

  test("LEFT JOIN: probe/response collisions and WHERE behave like SQL outer joins") {
    ddl("api_left3")
    val sx = xspark
    import sx.implicits._
    Seq(("probe-name", "1"), ("probe-name4", "4")).toDF("name", "id")
      .createOrReplaceTempView("probe_lc")
    try {
      val rows = xspark.sql(
        """SELECT p.name, a.name
          |FROM probe_lc p LEFT JOIN api_left3 a ON p.id = a.id
          |ORDER BY p.id""".stripMargin).collect()
      rows.map(r => (r.getString(0), Option(r.getString(1)))) shouldBe
        Array(("probe-name", Some("alice")), ("probe-name4", None))
      // IS NULL on a lookup column: the standard find-the-unmatched idiom
      val misses = xspark.sql(
        """SELECT p.id FROM probe_lc p LEFT JOIN api_left3 a ON p.id = a.id
          |WHERE a.name IS NULL""".stripMargin).collect()
      misses.map(_.getString(0)) shouldBe Array("4")
    } finally xspark.sql("DROP TABLE IF EXISTS api_left3")
  }

  test("outer joins preserving the LOOKUP side produce guidance errors") {
    ddl("api_left4")
    probeView()
    try {
      val e = intercept[Throwable] {
        xspark.sql(
          """SELECT * FROM api_left4 a LEFT JOIN probe_t p
            |ON p.id = a.id""".stripMargin).collect()
      }
      causeChain(e).map(_.getMessage).mkString("\n") should
        include("preserving the probe side")
    } finally xspark.sql("DROP TABLE IF EXISTS api_left4")
  }

  test("non-equi ON predicates and bare scans produce guidance errors") {
    ddl("api_users6")
    probeView()
    try {
      val e = intercept[Throwable] {
        xspark.sql(
          """SELECT * FROM probe_t p JOIN api_users6 a
            |ON p.id = a.id AND a.balance > 1""".stripMargin).collect()
      }
      causeChain(e).exists(_.getMessage != null) shouldBe true
      causeChain(e).map(_.getMessage).mkString("\n") should
        include("unsupported graft-http-lookup join predicate")

      val s = intercept[Throwable] {
        xspark.sql("SELECT * FROM api_users6").collect()
      }
      causeChain(s).map(_.getMessage).mkString("\n") should
        include("cannot be scanned")
    } finally xspark.sql("DROP TABLE IF EXISTS api_users6")
  }

  private def causeChain(t: Throwable): List[Throwable] =
    t :: Option(t.getCause).map(causeChain).getOrElse(Nil)
}
