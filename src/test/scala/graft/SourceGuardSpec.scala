package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Keeps the session configuration and the run-metrics listener in one
  * place each: every session comes from [[GraftSession]], every listener
  * in the main sources is [[RunStats]].
  */
class SourceGuardSpec extends AnyFunSuite with Matchers {

  private val builderCall = """SparkSession\s*\.\s*builder\b""".r
  private val listener =
    """(extends|new)\s+(org\.apache\.spark\.scheduler\.)?SparkListener\b""".r

  /** Names of the Scala files under `root` (this spec excluded) that
    * `pattern` matches.
    */
  private def matching(root: String, pattern: scala.util.matching.Regex) = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => pattern.findFirstIn(Files.readString(p)).isDefined)
      .map(_.getFileName.toString)
      .filterNot(_ == "SourceGuardSpec.scala")
      .toSeq.sorted
    finally walk.close()
  }

  test("SparkSession.builder is called only in GraftSession") {
    matching("src/main/scala", builderCall) shouldBe Seq("GraftSession.scala")
    matching("src/test/scala", builderCall) shouldBe empty
  }

  test("RunStats is the only SparkListener in the main sources") {
    matching("src/main/scala", listener) shouldBe Seq("RunStats.scala")
  }
}
