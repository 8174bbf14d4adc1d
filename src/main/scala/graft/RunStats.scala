package graft

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The one run-metrics listener: what the actions since the last
  * [[reset]] cost in jobs, stages, tasks, task time, shuffle, spill,
  * memory and whole-stage-codegen compilation. Counters are JVM-wide for
  * the context (every session on it, every thread).
  */
final class RunStats private (sc: SparkContext) extends SparkListener {
  import RunStats._

  private var s = Snapshot()
  // CodegenMetrics / CodeGenerator totals at the last reset: compilation
  // runs in-process (local mode) and is counted JVM-wide since start
  private var codegenBase = codegenTotals()

  /** Zero every counter (after draining the events of earlier actions). */
  def reset(): Unit = {
    drain()
    synchronized { s = Snapshot(); codegenBase = codegenTotals() }
  }

  /** The counters since the last [[reset]], including every event of the
    * actions that have returned: the listener bus is drained first, so a
    * read right after an action never misses its trailing task ends.
    */
  def snapshot(): Snapshot = {
    drain()
    synchronized {
      val (compiles, compileNs) = codegenTotals()
      s.copy(
        codegenCompiles = compiles - codegenBase._1,
        codegenCompileNs = compileNs - codegenBase._2)
    }
  }

  private def drain(): Unit =
    org.apache.spark.sql.graft.BusShim.drain(sc, DrainTimeoutMs)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { s = s.copy(jobs = s.jobs + 1) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val wallMs = (for (a <- info.submissionTime; b <- info.completionTime)
      yield b - a).getOrElse(0L)
    synchronized {
      val st = s.perStage.getOrElse(info.stageId, Stage())
      s = s.copy(
        stages = s.stages + 1,
        perStage = s.perStage.updated(
          info.stageId,
          st.copy(name = info.name, tasks = info.numTasks, wallMs = wallMs)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    s = s.copy(tasks = s.tasks + 1)
    val m = e.taskMetrics
    if (m != null) {
      val read = m.shuffleReadMetrics.recordsRead
      val st = s.perStage.getOrElse(e.stageId, Stage())
      s = s.copy(
        runMs = s.runMs + m.executorRunTime,
        cpuNs = s.cpuNs + m.executorCpuTime,
        gcMs = s.gcMs + m.jvmGCTime,
        shuffleWriteBytes = s.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        shuffleWriteRecords =
          s.shuffleWriteRecords + m.shuffleWriteMetrics.recordsWritten,
        shuffleReadBytes = s.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
        spillBytes = s.spillBytes + m.diskBytesSpilled,
        peakExecMemBytes = math.max(s.peakExecMemBytes, m.peakExecutionMemory),
        perStage = s.perStage.updated(
          e.stageId,
          st.copy(maxTaskReadRecords = math.max(st.maxTaskReadRecords, read))))
    }
  }
}

object RunStats {

  // the bus only has the events of actions that already returned to
  // drain; a wait this long means a stalled listener, not a slow query
  private val DrainTimeoutMs = 30000L

  /** Register a fresh listener on `spark`'s context. */
  def install(spark: SparkSession): RunStats = {
    val stats = new RunStats(spark.sparkContext)
    spark.sparkContext.addSparkListener(stats)
    stats
  }

  /** One stage: its name and task count (set when it completes), wall
    * time, and the largest shuffle-read record count of any one task —
    * the skew signal: a reduce task that must read a hot key's full
    * fan-in shows up here even when totals look linear.
    */
  final case class Stage(
      name: String = "",
      tasks: Int = 0,
      wallMs: Long = 0,
      maxTaskReadRecords: Long = 0)

  /** Counters since a reset. Times: `runMs`/`gcMs` summed task
    * milliseconds, `cpuNs` summed task CPU nanoseconds; `spillBytes` is
    * disk spill; `peakExecMemBytes` the largest peak of any one task.
    */
  final case class Snapshot(
      jobs: Long = 0,
      stages: Long = 0,
      tasks: Long = 0,
      runMs: Long = 0,
      cpuNs: Long = 0,
      gcMs: Long = 0,
      shuffleWriteBytes: Long = 0,
      shuffleWriteRecords: Long = 0,
      shuffleReadBytes: Long = 0,
      spillBytes: Long = 0,
      peakExecMemBytes: Long = 0,
      codegenCompiles: Long = 0,
      codegenCompileNs: Long = 0,
      perStage: Map[Int, Stage] = Map.empty)

  private def codegenTotals(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
}
