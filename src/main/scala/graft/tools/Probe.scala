package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.{GraftSession, RunStats, SparkEntry}
import graft.ops.Par

/** Dev measurement tool over the gated queries, on the Bench/Verify
  * session ([[GraftSession]]) and the testdata at `SPARK_GRAFT_SF_DIR`.
  * Every timed run writes to the noop sink (full evaluation of every
  * output column, as Bench does) and releases caches afterwards.
  *
  * {{{
  * runMain graft.tools.Probe profile <name,...> [iters]   wall + RunStats per run
  * runMain graft.tools.Probe stages <name>                 per-stage tasks, wall, max task read
  * runMain graft.tools.Probe pair <nameA> <nameB> [iters]  interleaved runs + medians
  * runMain graft.tools.Probe plan <name,...|all> [outDir tag]
  * runMain graft.tools.Probe shape <name> [name ...]       the counts PlanGuardSpec pins
  * }}}
  *
  * `plan` prints `explain("formatted")` to stdout, or writes
  * `outDir/<name>_<tag>.txt` per gate. `shape` runs on `local(4)`, the
  * session the specs use, whatever `SPARK_GRAFT_CPUS` says, and counts
  * the named gates in the order given on that one session. A gate whose
  * cached frames an earlier gate has materialized counts fewer exchanges
  * than it does alone, so `shape` prints the counts `PlanGuardSpec`
  * checks only when given the spec's whole pinned list in spec order
  * (`p_prefix_jaccard` alone: 8 exchanges; in the spec: 6).
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val usage = "usage: Probe profile|stages|pair|plan|shape <args> (see the Scaladoc)"
    require(args.nonEmpty, usage)
    val sfDir = GraftSession.sfDir
    val spark = GraftSession.local(
      if (args(0) == "shape") 4 else GraftSession.cpus)
    def gate(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)
    def names(arg: String): Seq[String] =
      if (arg == "all") SparkEntry.queries.keys.toSeq.sorted
      else arg.split(',').toSeq
    def run(name: String): Double = {
      val t0 = System.nanoTime()
      gate(name).write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      Par.releaseCaches(blocking = true)
      secs
    }
    args(0) match {
      case "profile" => profile(spark, sfDir, names(args(1)),
        args.lift(2).map(_.toInt).getOrElse(2), run)
      case "stages" => stages(spark, args(1), run)
      case "pair" => pair(args(1), args(2),
        args.lift(3).map(_.toInt).getOrElse(10), run)
      case "plan" => plan(names(args(1)), args.lift(2).map(_ -> args(3)), gate)
      case "shape" => shape(args.drop(1).toSeq, gate)
      case _ => sys.error(usage)
    }
    spark.stop()
    // exit explicitly: a lingering non-daemon thread must not hang the run
    sys.exit(0)
  }

  /** Wall time and the run's jobs/stages/tasks, task/CPU/GC time, codegen
    * compile time and shuffle/spill volume, so "overhead-dominated" claims
    * are measured, not guessed.
    */
  private def profile(spark: SparkSession, sfDir: String, names: Seq[String],
      iters: Int, run: String => Double): Unit = {
    GraftSession.warm(spark, sfDir)
    val stats = RunStats.install(spark)
    def mib(b: Long) = b / 1048576.0
    for (name <- names; i <- 1 to iters) {
      stats.reset()
      val wall = run(name)
      val s = stats.snapshot()
      println(f"[profile] $name iter$i wall=$wall%.2fs jobs=${s.jobs}" +
        f" stages=${s.stages} tasks=${s.tasks} taskTime=${s.runMs / 1e3}%.2fs" +
        f" cpu=${s.cpuNs / 1e9}%.2fs gc=${s.gcMs / 1e3}%.2fs" +
        f" compile=${s.codegenCompileNs / 1e9}%.2fs/${s.codegenCompiles}" +
        f" shufRead=${mib(s.shuffleReadBytes)}%.1fMiB" +
        f" shufWrite=${mib(s.shuffleWriteBytes)}%.1fMiB" +
        f" spill=${mib(s.spillBytes)}%.1fMiB" +
        f" peakMem=${mib(s.peakExecMemBytes)}%.1fMiB")
    }
  }

  /** Every stage of one run, so partition-count overhead and skew are
    * attributable stage by stage.
    */
  private def stages(spark: SparkSession, name: String,
      run: String => Double): Unit = {
    val stats = RunStats.install(spark)
    val wall = run(name)
    val s = stats.snapshot()
    s.perStage.toSeq.sortBy(_._1).foreach { case (id, st) =>
      println(f"[stage] $id%4d tasks=${st.tasks}%4d wall=${st.wallMs / 1e3}%6.2fs" +
        f" maxTaskRead=${st.maxTaskReadRecords}%9d  ${st.name.take(90)}")
    }
    println(f"[stages] $name wall=$wall%.2fs jobs=${s.jobs} stages=${s.stages}" +
      s" tasks=${s.tasks}")
  }

  /** Two gates interleaved in one JVM: a time-localized stall hits both
    * symmetrically instead of poisoning whichever ran during it.
    */
  private def pair(a: String, b: String, iters: Int,
      run: String => Double): Unit = {
    run(a); run(b) // untimed warm-up of both paths
    val (as, bs) = (Array.ofDim[Double](iters), Array.ofDim[Double](iters))
    for (i <- 0 until iters) {
      as(i) = run(a)
      bs(i) = run(b)
      println(f"[pair] iter=$i $a=${as(i)}%.2fs $b=${bs(i)}%.2fs")
    }
    def med(xs: Array[Double]): Double = xs.sorted.apply(xs.length / 2)
    println(f"[pair] MEDIAN $a=${med(as)}%.2fs $b=${med(bs)}%.2fs " +
      f"ratio=${med(bs) / med(as)}%.2f")
  }

  /** `explain("formatted")` per gate, so plan-shape claims in the round
    * notes are checkable without running Spark.
    */
  private def plan(names: Seq[String], out: Option[(String, String)],
      gate: String => DataFrame): Unit = {
    out.foreach { case (dir, _) => Files.createDirectories(Paths.get(dir)) }
    names.foreach { name =>
      try {
        val text = gate(name).queryExecution.explainString(FormattedMode)
        out match {
          case Some((dir, tag)) =>
            Files.writeString(Paths.get(s"$dir/${name}_$tag.txt"), text)
            println(s"[plan] $name ok (${text.linesIterator.size} lines)")
          case None =>
            println(s"===== $name =====")
            println(text)
        }
      } catch {
        case e: Throwable => println(s"[plan] $name FAILED: ${e.getMessage}")
      } finally Par.releaseCaches()
    }
  }

  /** Caches stay live across gates, as in PlanGuardSpec's loop. */
  private def shape(names: Seq[String], gate: String => DataFrame): Unit =
    names.foreach { name =>
      try {
        val s = PlanShapeProbe.shapeOf(gate(name).queryExecution.executedPlan)
        println(
          s"SHAPE $name exchanges=${s("exchange")} bnlj=${s("bnlj")} " +
            s"cartesian=${s("cartesian")} smj=${s("smj")} bhj=${s("bhj")} " +
            s"globalSort=${s("sort_global")} hash61=${s("hash61")}")
      } catch {
        case e: Throwable => println(s"SHAPE $name ERROR ${e.getMessage}")
      }
    }
}
