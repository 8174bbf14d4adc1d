package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = GraftSession.sfDir
    val spark = GraftSession.local(GraftSession.cpus)
    GraftSession.warm(spark, sfDir)
    // Force FULL evaluation of every output column: .count() lets Catalyst
    // prune projections the count doesn't reference (timing the scan, not the
    // operator); the noop sink consumes every row and column.
    //
    // Median of 3 timed iterations per query: single-run numbers on this
    // box swing ±2-4s from JIT/codegen warmup and scheduling noise, masking
    // real regressions. Caches are released between iterations so every
    // iteration recomputes from the parquet scans (cold data, warm JVM).
    // Iterations are ROUND-ROBIN (all queries once, then repeat), not
    // back-to-back per query: a time-localized stall (GC pause on a large
    // heap, transient host contention) then lands on at most ONE sample per
    // query and the median discards it. BENCH_r04 showed what back-to-back
    // sampling does — a ~90s stall poisoned all 3 consecutive iterations of
    // the two queries running in that window (q04 22.9s, q06 9.8s median vs
    // ~1s steady-state) while every neighbor stayed fast.
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    // Optional subset filter (local probes only — the driver runs the full
    // set): comma-separated exact names, or `prefix*` globs. Used for the
    // r10 quiet-window HTTP medians (10×-interleaved `h_*`) recorded in
    // SURVEY §5.
    val only: Option[Array[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(','))
    val qseq = SparkEntry.queries.toSeq.filter { case (n, _) =>
      only.forall(_.exists(p =>
        if (p.endsWith("*")) n.startsWith(p.dropRight(1)) else n == p))
    }
    // Warm the HTTP query FIXTURES untimed (same rationale as the generic
    // warmup above): the first lookup-table query otherwise pays one-time
    // costs — the stub server's driver-side parquet collect and the
    // extensions-session build — that belong to the harness, not the
    // operator. Measured: with cold fixtures `h_table_lookup_join` medians
    // 6.6s in a round-robin bench while a warmed interleaved probe of the
    // same query settles at 1.7s (= its Scala twin). Per-sample execution
    // stays fully timed.
    locally {
      try
        graft.SparkEntry.queries("h_table_lookup_join")(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () } // a warmup failure will re-surface timed
    }
    val samples = collection.mutable.Map[String, List[Double]]()
    val failed = collection.mutable.SortedSet[String]()
    for (_ <- 1 to iters; (name, fn) <- qseq) {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      } catch {
        case e: Throwable =>
          // a failed query must not read as a fast query: record it, and
          // surface the failure in the JSON instead of a flattering ~0s
          failed += name
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
      }
      // blocking: cache-removal work must land in THIS query's window,
      // not poison the successor's sample (guide §1.4)
      graft.ops.Par.releaseCaches(blocking = true)
      val dt = (System.nanoTime() - t0) / 1e9
      samples(name) = dt :: samples.getOrElse(name, Nil)
    }
    // A failed query appears in EXACTLY one place: `failed`. Timing a throw
    // reads as a fast query to anything parsing the timings map alone
    // (BENCH_r08 had q_events_hourly at 0.07s AND in `failed`).
    val results = qseq.collect { case (name, _) if !failed.contains(name) =>
      val times = samples(name).sorted
      name -> times(times.length / 2)
    }
    // 4-decimal timings (0.1ms — far below run-to-run noise): the driver
    // captures this line through a bounded tail buffer, and full 17-digit
    // double reprs truncated BENCH_r08 mid-map, losing ~34 timings
    def f4(v: Double): String = // ROOT locale: '.' decimal point always
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f4(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val failedJson =
      if (failed.isEmpty) ""
      else failed.map("\"" + _ + "\"").mkString(""","failed":[""", ",", "]")
    val line =
      s"""{"metric":"total","value":${f4(total)},"unit":"sec","queries":$qs$failedJson,"sf":"$sfDir"}"""
    println(line)
    // belt-and-braces recoverable artifact: the same line on disk, immune
    // to any stdout buffer truncation
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_LOCAL.json"), line + "\n")
    spark.stop()
    // exit explicitly: a lingering non-daemon thread must not hang the run
    sys.exit(0)
  }
}
