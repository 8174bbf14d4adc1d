package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** [[RunStats]] read right after an action, with no sleep: `snapshot()`
  * drains the listener bus, so the action's trailing events are counted.
  */
class RunStatsSpec extends SparkSpec {

  private lazy val stats = RunStats.install(spark)

  override def afterAll(): Unit = {
    sc.removeSparkListener(stats)
    super.afterAll()
  }

  private def groupByJob(): Unit =
    spark.range(0, 1000, 1, 4).groupBy(col("id") % 10).count()
      .write.format("noop").mode("overwrite").save()

  test("a 7-partition foreach is one job, one stage, seven tasks") {
    stats.reset()
    // a slow listener on the same bus queue holds back the events RunStats
    // sees: only a read that drains the bus counts all seven tasks
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(100)
    }
    sc.addSparkListener(slow)
    val s =
      try { spark.range(0, 700, 1, 7).foreach(_ => ()); stats.snapshot() }
      finally sc.removeSparkListener(slow)
    (s.jobs, s.stages, s.tasks) shouldBe ((1L, 1L, 7L))
    s.perStage.values.map(_.tasks) shouldBe Seq(7)
  }

  test("a groupBy shuffles, and only its reduce stage reads shuffle records") {
    // without AQE the map and reduce stages run as one two-stage job
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      stats.reset()
      groupByJob()
      val s = stats.snapshot()
      s.shuffleWriteBytes should be > 0L
      s.shuffleReadBytes should be > 0L
      val reads = s.perStage.toSeq.sortBy(_._1).map(_._2.maxTaskReadRecords)
      reads should have size 2
      reads.head shouldBe 0L // the map stage reads no shuffle
      reads(1) should be > 0L
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("reset() zeroes every counter") {
    groupByJob()
    stats.snapshot().tasks should be > 0L
    stats.reset()
    stats.snapshot() shouldBe RunStats.Snapshot()
  }
}
