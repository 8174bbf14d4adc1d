package graft.perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

import graft.ops.Par

/** Benchmark entry point; see `perfbench/run.py` for how it is built and
  * launched.
  *
  * One run: build the session, then three set-up cycles (start the stub
  * service, generate and materialize the seeded inputs and reference
  * results, one checked warm-up call), then [[SettleSeconds]] of checked
  * calls while the JIT still speeds calls up, then measured calls until
  * `--seconds` of measured time have passed. With `--trace 1` the measured
  * calls alternate between untraced and traced, and standalone calls into
  * each layer follow.
  *
  * Output: one `metric` line per metric, then one JSON line.
  */
object Main {
  final case class Metric(name: String, unit: String)

  val EndToEnd: Seq[Metric] = Seq(
    Metric("rows_per_s", "rows/s"),
    Metric("cpu_ms_per_krow", "ms/krow"),
    Metric("setup_s", "s"))

  val PerLayer: Seq[Metric] = Seq(
    Metric("api_calls_per_row", "calls/row"),
    Metric("error_rate", "ratio"),
    Metric("spark.jobs", "count"),
    Metric("spark.stages", "count"),
    Metric("spark.tasks", "count"),
    Metric("spark.executor_run_s", "s"),
    Metric("spark.executor_cpu_s", "s"),
    Metric("spark.gc_s", "s"),
    Metric("spark.shuffle_write_bytes", "bytes"),
    Metric("spark.shuffle_read_bytes", "bytes"),
    Metric("spark.spill_bytes", "bytes"),
    Metric("spark.peak_exec_mem_bytes", "bytes"),
    Metric("spark.codegen_compiles", "count"),
    Metric("spark.codegen_compile_s", "s"),
    Metric("stub.requests", "count"),
    Metric("stub.status_2xx", "count"),
    Metric("stub.status_404", "count"),
    Metric("stub.status_503", "count"),
    Metric("stub.bytes_in", "bytes"),
    Metric("stub.bytes_out", "bytes"),
    Metric("stub.handler_s", "s"),
    Metric("stub.inflight_max", "count"),
    Metric("engine.attempts", "count"),
    Metric("engine.retries", "count"),
    Metric("engine.exceptions", "count"),
    Metric("engine.wire_ms_p50", "ms"),
    Metric("engine.wire_ms_p99", "ms"),
    Metric("engine.wire_samples", "count"),
    Metric("engine.wire_s", "s"),
    Metric("engine.inflight_max", "count"),
    Metric("jvm.threads_peak", "count"),
    Metric("lookup.task_s", "s"),
    Metric("lookup.self_s", "s"),
    Metric("cache.hit_ratio", "ratio"),
    Metric("render.s", "s"),
    Metric("decode.s", "s"),
    Metric("encode.s", "s"),
    Metric("frame.s", "s"),
    Metric("sink.requests", "count"),
    Metric("sink.rows_per_request", "rows"),
    Metric("dedup.shingle_hash_s", "s"),
    Metric("dedup.minhash_s", "s"),
    Metric("dedup.lsh_pairs_s", "s"),
    Metric("dedup.prefix_join_s", "s"),
    Metric("dedup.true_pairs", "count"),
    Metric("dedup.found_pairs", "count"),
    Metric("dedup.recall", "ratio"),
    Metric("trace.overhead_frac", "ratio"))

  val SetupCycles = 3
  /** Checked warm-up calls per set-up cycle. */
  val WarmupCalls = 1
  /** Untimed checked calls after set-up, before measuring: on a 4-cpu host
    * the JIT still speeds calls up this long after the set-up cycles.
    */
  val SettleSeconds = 8
  val MinCalls = 3
  /** Hard stop for one run, well inside the 180 s a run may take. */
  val DeadlineSeconds = 165

  /** CPU time so far of the JVM's JIT compiler threads, read from
    * `/proc/self/task` (Linux, 100 clock ticks a second). It is taken out of
    * `cpu_ms_per_krow`: compilation goes on at a varying rate for minutes
    * after warm-up and is not work of the program under test. `run.py`
    * keeps the compiler threads alive for the whole run
    * (`-XX:-UseDynamicNumberOfCompilerThreads`) so none of it is lost.
    */
  def jitCpuNanos(): Long = {
    val tasks = new java.io.File("/proc/self/task").listFiles()
    require(tasks != null, "/proc/self/task is not readable")
    tasks.iterator.map { t =>
      val stat = try new String(java.nio.file.Files.readAllBytes(t.toPath.resolve("stat")))
        catch { case _: java.io.IOException => "" } // the thread has ended
      val close = stat.lastIndexOf(')')
      val comm = if (close < 0) "" else stat.substring(stat.indexOf('(') + 1, close)
      if (!comm.contains("CompilerThre")) 0L
      else {
        val f = stat.substring(close + 2).split(' ')
        (f(11).toLong + f(12).toLong) * 10000000L
      }
    }.sum
  }

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      kv.getOrElse("--trace", "0") == "1")
  }

  def session(cores: Int, workDir: String): SparkSession = {
    // the graft.Bench session configs, so this times the engine Bench times
    val conf = Seq(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> "5000",
      "spark.ui.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.local.dir" -> s"$workDir/spark-local",
      "spark.sql.warehouse.dir" -> s"$workDir/spark-warehouse")
    println(s"config master=local[$cores]")
    conf.foreach { case (k, v) => println(s"config $k=$v") }
    val spark = conf.foldLeft(SparkSession.builder().master(s"local[$cores]")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One measured call and what it left behind. */
  final case class Call(
      traced: Boolean,
      rows: Long,
      wallS: Double,
      cpuS: Double,
      failedRows: Long,
      error: Option[String],
      requests: Long,
      layers: Map[String, Double])

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--self-check")) sys.exit(SelfCheck.run())
    val args = parse(argv)
    val watchdog = new Thread(() => {
      Thread.sleep(DeadlineSeconds * 1000L)
      System.err.println(s"[perfbench] no result after $DeadlineSeconds s; giving up")
      Runtime.getRuntime.halt(3)
    }, "perfbench-watchdog")
    watchdog.setDaemon(true)
    watchdog.start()

    val t0 = System.nanoTime()
    // Spark gets half the processors: the stub, the HTTP client, GC and JIT
    // threads run beside the tasks, and a stage does not wait on a task
    // whose processor the host has taken away for a moment
    val cores = math.max(1, Runtime.getRuntime.availableProcessors / 2)
    val spark = session(cores, sys.props.getOrElse("perfbench.work", ".bench_build"))
    val sessionS = (System.nanoTime() - t0) / 1e9
    val jvmUpS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    System.err.println(f"[perfbench] session: $sessionS%.3f s, $jvmUpS%.3f s after JVM start")
    Trace.init()
    val listener = if (args.trace) Some(new Trace.Listener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val threads = ManagementFactory.getThreadMXBean
    val w = Workload(args.workload, spark, args.seed, cores)
    var n = 0

    def call(traced: Boolean): Call = {
      n += 1
      w.fixture.foreach(_.reset())
      w.fixture.foreach { f =>
        f.captureResponses = traced
        if (traced) f.responses.clear()
      }
      Trace.Wire.reset()
      System.gc() // every call starts from the same heap state
      val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed >> 20
      val before = listener.filter(_ => traced).map(_.mark(spark.sparkContext))
      val jit0 = jitCpuNanos()
      val cpu0 = os.getProcessCpuTime
      val w0 = System.nanoTime()
      val result =
        try Right(Trace.span(if (traced) "call.traced" else "call")(
          w.run(s"${args.seed}-$n", traced)))
        catch { case e: Exception => Left(e) }
      Par.releaseCaches(blocking = true)
      val wallS = (System.nanoTime() - w0) / 1e9
      val processS = (os.getProcessCpuTime - cpu0) / 1e9
      val jitS = (jitCpuNanos() - jit0) / 1e9
      val cpuS = processS - jitS
      val spark1 = before.map(b => listener.get.snapshot(spark.sparkContext) - b)
      val c0 = System.nanoTime()
      val error = result.fold(e => Some(e.toString), r =>
        try w.check(r) catch { case e: Exception => Some(s"check failed: $e") })
      System.err.println(f"[perfbench] ${w.name} call $n%d traced=$traced: $wallS%.3f s, " +
        f"cpu $processS%.3f s, jit $jitS%.3f s, threads ${threads.getThreadCount}%d, heap ${heapMb}%d MB, " +
        f"check ${(System.nanoTime() - c0) / 1e9}%.3f s")
      error.foreach(e => System.err.println(s"[perfbench] ${w.name} call $n failed: $e"))
      val failed =
        if (error.isDefined) w.rowsPerCall else result.map(w.failedRows).getOrElse(0L)
      val layers = spark1.map { c =>
        val stub = w.fixture.map { f =>
          Map(
            "stub.status_2xx" -> f.status2xx.sum().toDouble,
            "stub.status_404" -> f.status404.sum().toDouble,
            "stub.status_503" -> f.status503.sum().toDouble,
            "stub.bytes_in" -> f.bytesIn.sum().toDouble,
            "stub.bytes_out" -> f.bytesOut.sum().toDouble,
            "stub.handler_s" -> f.handlerNanos.sum() / 1e9,
            "stub.inflight_max" -> f.inflightMax.get.toDouble)
        }.getOrElse(Map.empty)
        stub ++ Map(
          "spark.jobs" -> c.jobs.toDouble,
          "spark.stages" -> c.stages.toDouble,
          "spark.tasks" -> c.tasks.toDouble,
          "spark.executor_run_s" -> c.runMs / 1e3,
          "spark.executor_cpu_s" -> c.cpuNs / 1e9,
          "spark.gc_s" -> c.gcMs / 1e3,
          "spark.shuffle_write_bytes" -> c.shuffleWrite.toDouble,
          "spark.shuffle_read_bytes" -> c.shuffleRead.toDouble,
          "spark.spill_bytes" -> c.spill.toDouble,
          "spark.peak_exec_mem_bytes" -> c.peakExecMem.toDouble,
          "engine.attempts" -> Trace.Wire.attempts.sum().toDouble,
          "engine.retries" -> Trace.Wire.retries.sum().toDouble,
          "engine.exceptions" -> Trace.Wire.exceptions.sum().toDouble,
          "engine.wire_s" -> Trace.Wire.wireNanos.sum() / 1e9,
          "engine.inflight_max" -> Trace.Wire.inflightMax.get.toDouble)
      }.getOrElse(Map.empty)
      Call(traced, w.rowsPerCall, wallS, cpuS, failed, error,
        w.fixture.map(_.requests.sum()).getOrElse(0L), layers)
    }

    // set-up: several cycles, the median charged to setup_s
    val warmups = collection.mutable.ArrayBuffer.empty[Call]
    val cycles = (1 to SetupCycles).map { _ =>
      val c0 = System.nanoTime()
      Trace.span("setup") {
        w.release()
        Trace.span("prepare")(w.prepare())
        (1 to WarmupCalls).foreach(_ => warmups += call(traced = false))
      }
      val cycleS = (System.nanoTime() - c0) / 1e9
      System.err.println(f"[perfbench] set-up cycle: $cycleS%.3f s")
      cycleS
    }
    val setupS = sessionS + Stats.median(cycles)

    val s0 = System.nanoTime()
    while ((System.nanoTime() - s0) / 1e9 < SettleSeconds) warmups += call(traced = false)

    // measured calls
    threads.resetPeakThreadCount()
    val wireSamples = collection.mutable.ArrayBuffer.empty[Double]
    val calls = collection.mutable.ArrayBuffer.empty[Call]
    def measured(traced: Boolean) = calls.filter(_.traced == traced)
    def enough(traced: Boolean) = {
      val it = measured(traced)
      it.size >= MinCalls && it.map(_.wallS).sum >= args.seconds / (if (args.trace) 2 else 1)
    }
    val m0 = System.nanoTime()
    val budgetS = DeadlineSeconds - 45 - (m0 - t0) / 1e9
    while ((!enough(false) || (args.trace && !enough(true))) &&
      (System.nanoTime() - m0) / 1e9 < budgetS) {
      val traced = args.trace && measured(true).size < measured(false).size
      calls += call(traced)
      if (traced) Trace.Wire.samplesMs.forEach(s => wireSamples += s.doubleValue)
    }
    val threadsPeak = threads.getPeakThreadCount
    val (compiles, compileNs) = Trace.codegen()

    // end-to-end, from untraced measured calls that passed their check
    val all = warmups ++ calls
    val attempted = all.map(_.rows).sum
    val failed = all.map(_.failedRows).sum
    val correct = all.forall(_.error.isEmpty)
    def rps(it: Iterable[Call]) = Stats.median(it.filter(_.error.isEmpty).map(i => i.rows / i.wallS).toSeq)
    val ok = measured(false).filter(_.error.isEmpty)
    val e2e = Map(
      "rows_per_s" -> rps(ok),
      "cpu_ms_per_krow" -> Stats.median(ok.map(i => i.cpuS * 1e3 / (i.rows / 1e3)).toSeq),
      "setup_s" -> setupS)
    val okAll = calls.filter(_.error.isEmpty)
    val apiCalls = Stats.ratio(okAll.map(_.requests).sum.toDouble, okAll.map(_.rows).sum.toDouble)
    val errorRate = Stats.ratio(failed.toDouble, attempted.toDouble)

    // per layer, from traced measured calls plus standalone layer calls
    val layers: Map[String, Double] =
      if (!args.trace) Map.empty
      else {
        val traced = measured(true).filter(_.error.isEmpty)
        val keys = traced.flatMap(_.layers.keys).distinct
        val mean = keys.map { k =>
          k -> (if (k.endsWith("inflight_max")) traced.map(_.layers(k)).max
                else traced.map(_.layers(k)).sum / traced.size)
        }.toMap.withDefaultValue(0.0)
        val rows = traced.map(_.rows).sum.toDouble / math.max(1, traced.size)
        val isLookup = w.isInstanceOf[LookupWorkload]
        val lookupTask = if (isLookup) mean("spark.executor_run_s") else 0.0
        val stubRequests = Stats.ratio(
          traced.map(_.requests).sum.toDouble, math.max(1, traced.size).toDouble)
        val sinkStats = w match {
          case _: SinkWorkload => Map(
            "sink.requests" -> stubRequests,
            "sink.rows_per_request" -> Stats.ratio(rows, stubRequests))
          case _ => Map.empty
        }
        val dedupStats = w match {
          case d: DedupWorkload => Map(
            "dedup.true_pairs" -> d.report(0).toDouble,
            "dedup.found_pairs" -> d.report(1).toDouble,
            "dedup.recall" -> d.report(4) / 1e6)
          case _ => Map.empty
        }
        val probes = Trace.span("layer-probes")(w.layerProbes())
        mean ++ sinkStats ++ dedupStats ++ probes ++ Map(
          "api_calls_per_row" -> apiCalls,
          "error_rate" -> errorRate,
          "spark.codegen_compiles" -> compiles.toDouble,
          "spark.codegen_compile_s" -> compileNs / 1e9,
          "stub.requests" -> stubRequests,
          "engine.wire_ms_p50" -> Stats.percentile(wireSamples.toSeq, 0.5),
          "engine.wire_ms_p99" -> Stats.percentile(wireSamples.toSeq, 0.99),
          "engine.wire_samples" -> wireSamples.size.toDouble,
          "jvm.threads_peak" -> threadsPeak.toDouble,
          "lookup.task_s" -> lookupTask,
          "lookup.self_s" -> (if (isLookup) lookupTask - mean("engine.wire_s") else 0.0),
          "cache.hit_ratio" -> (if (isLookup)
            1 - Stats.ratio(mean("engine.attempts") - mean("engine.retries"), rows) else 0.0),
          "trace.overhead_frac" -> (1 - Stats.ratio(rps(traced), rps(ok))))
      }

    if (args.trace) {
      val file = java.nio.file.Paths.get(sys.props.getOrElse("perfbench.work", ".bench_build"),
        "trace", s"${w.name}-seed${args.seed}.jsonl")
      Trace.writeSpans(file)
      System.err.println(s"[perfbench] spans written to $file")
    }

    def finite(v: Double) = if (v.isNaN || v.isInfinite) 0.0 else v
    val samples = ok.size
    def line(m: Metric, v: Double, k: Int): Unit =
      println(s"metric workload=${w.name} name=${m.name} value=${finite(v)} unit=${m.unit} samples=$k")
    EndToEnd.foreach(m => line(m, e2e(m.name), if (m.name == "setup_s") SetupCycles else samples))
    if (!args.trace) {
      line(Metric("api_calls_per_row", "calls/row"), apiCalls, okAll.size)
      line(Metric("error_rate", "ratio"), errorRate, all.size)
    } else PerLayer.foreach(m => line(m, layers.getOrElse(m.name, 0.0), measured(true).size))

    val reported = if (args.trace) PerLayer.map(m => m -> layers.getOrElse(m.name, 0.0))
                   else EndToEnd.map(m => m -> e2e(m.name))
    val metricsJson = reported.map { case (m, v) =>
      s""""${m.name}": {"value": ${finite(v)}, "unit": "${m.unit}"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": ${correct && samples > 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": $metricsJson}""")
    System.out.flush()
    w.release()
    spark.stop()
    sys.exit(0)
  }
}
