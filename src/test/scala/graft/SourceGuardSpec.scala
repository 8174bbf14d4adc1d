package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Keeps the session configuration, the run-metrics listener, the
  * hashed shingle set, the HTTP server, the exchange-option parse and the
  * streaming-gate runner in one place each: every session comes from
  * [[GraftSession]], every listener in the main sources is [[RunStats]],
  * every hashed shingle set is `Dedup.hashedShingleSet`, every HTTP fixture
  * runs on `testkit.StubServer`, every exchange option is parsed by the
  * `HttpEndpoint` factories, every streaming gate runs through
  * `queries.Streams`, and the `h_*` gates' customer lookup, nation
  * aggregate and aggregate oracle are written once.
  */
class SourceGuardSpec extends AnyFunSuite with Matchers {

  private val builderCall = """SparkSession\s*\.\s*builder\b""".r
  private val listener =
    """(extends|new)\s+(org\.apache\.spark\.scheduler\.)?SparkListener\b""".r

  /** `transform(` applied directly to a `shingleSet(` / `charShingleSet(`
    * result (no comma before the call, so it is transform's first argument).
    */
  private val hashedShingles = """transform\([^,]*?[sS]hingleSet\(""".r

  private val jdkHttpServer = """com\.sun\.net\.httpserver""".r
  private val listeningSocket = """new\s+ServerSocket\s*\(|SSLServerSocket""".r

  private val jdkClient = """HttpClient\s*\.\s*(newBuilder|newHttpClient)\b""".r

  private val exchangeParse =
    """StatusPolicy\s*\.\s*(lookup|sink)\(|(RetryPolicy|ClientConfig)\s*\.\s*fromOptions\(""".r

  private val stringBody = """BodyPublishers\s*\.\s*ofString\b""".r

  private val streamRun =
    """format\(\s*"memory"\s*\)|awaitTermination|Trigger\s*\.\s*AvailableNow""".r

  /** The `h_*` gates' shared plumbing: the customer lookup join, the
    * nation aggregate and the aggregate's DuckDB oracle.
    */
  private val gatePlumbing = Seq(
    """HttpLookup\s*\.\s*join\s*\(""".r,
    """round\(sum\(col\("c_acctbal"\)""".r,
    """CAST\(round\(sum\(CAST\(c_acctbal AS DECIMAL\(18,2\)\)\), 2\) AS DOUBLE\) AS sum_acctbal""".r)

  /** (file name, match count) of the Scala files under `root` (this spec
    * excluded) that `pattern` matches.
    */
  private def matchCounts(root: String, pattern: scala.util.matching.Regex) = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> pattern.findAllIn(Files.readString(p)).size)
      .filter { case (name, n) => n > 0 && name != "SourceGuardSpec.scala" }
      .toSeq.sorted
    finally walk.close()
  }

  private def matching(root: String, pattern: scala.util.matching.Regex) =
    matchCounts(root, pattern).map(_._1)

  test("SparkSession.builder is called only in GraftSession") {
    matching("src/main/scala", builderCall) shouldBe Seq("GraftSession.scala")
    matching("src/test/scala", builderCall) shouldBe empty
  }

  test("RunStats is the only SparkListener in the main sources") {
    matching("src/main/scala", listener) shouldBe Seq("RunStats.scala")
  }

  test("a document's hashed shingle set is built in one place") {
    // Dedup.hashedShingleSet is the near-dup family's (and Decontaminate's)
    // one definition; the DuckDB oracles mirror it in hashedShinglesSql
    matchCounts("src/main/scala", hashedShingles) shouldBe Seq("Dedup.scala" -> 1)
  }

  test("StubServer is the only HTTP server") {
    matching("src/main/scala", jdkHttpServer) shouldBe empty
    matching("src/test/scala", jdkHttpServer) shouldBe empty
    matching("src/main/scala", listeningSocket) shouldBe Seq("StubServer.scala")
    // OptionPinSpec's saturated-backlog listener never answers: not a server
    matching("src/test/scala", listeningSocket) shouldBe Seq("OptionPinSpec.scala")
  }

  test("every JDK HttpClient is built by HttpClientFactory") {
    // one client per config: a sharded or per-call client would add
    // selector threads and connection pools behind the factory's back
    matching("src/main/scala", jdkClient) shouldBe Seq("HttpClientFactory.scala")
  }

  test("exchange options are parsed only by the HttpEndpoint factories") {
    // one parsed HttpEndpoint per surface: a second parse site would let a
    // surface drift from the others or re-read options inside a task
    matching("src/main/scala", exchangeParse) shouldBe Seq("HttpExchange.scala")
  }

  test("HTTP request bodies go out as bytes, except the OIDC token POST") {
    // HttpExchange.send takes bytes: a String publisher means a second path
    matching("src/main/scala/graft/http", stringBody) shouldBe Seq("Auth.scala")
  }

  test("the streaming gates start, await and sink through Streams") {
    // scoped to the gates: the polling source names AvailableNow in its docs
    matching("src/main/scala/graft/queries", streamRun) shouldBe Seq("Streams.scala")
  }

  test("the h_* gates share one customer lookup, nation aggregate and oracle") {
    // each gate body keeps only its route, options, assertions and columns
    val gates = Files.readString(Paths.get("src/main/scala/graft/queries/HttpQueries.scala"))
    withClue(gatePlumbing.mkString("matches of ", ", ", ": ")) {
      gatePlumbing.map(_.findAllIn(gates).size) shouldBe Seq(1, 1, 1)
    }
  }
}
