package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Keeps the session configuration, the run-metrics listener and the
  * hashed shingle set in one place each: every session comes from
  * [[GraftSession]], every listener in the main sources is [[RunStats]],
  * and every hashed shingle set is `Dedup.hashedShingleSet`.
  */
class SourceGuardSpec extends AnyFunSuite with Matchers {

  private val builderCall = """SparkSession\s*\.\s*builder\b""".r
  private val listener =
    """(extends|new)\s+(org\.apache\.spark\.scheduler\.)?SparkListener\b""".r

  /** `transform(` applied directly to a `shingleSet(` / `charShingleSet(`
    * result (no comma before the call, so it is transform's first argument).
    */
  private val hashedShingles = """transform\([^,]*?[sS]hingleSet\(""".r

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
}
