package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for specs (one JVM-wide session — Spark tests
  * are dominated by session startup otherwise).
  */
trait SparkSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sc = spark.sparkContext
}

object SparkSpec {
  // the exact session `graft.tools.Probe shape` prints plan shapes from
  lazy val session: SparkSession = GraftSession.local(4)
}
