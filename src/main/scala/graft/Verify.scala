package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg (local dev only): comma-separated query-name filter
    val (only, unknown) = select(SparkEntry.queries.keySet, args.lift(2))
    // SPARK_GRAFT_STATE_PROVIDER=rocksdb: replay the stateful streaming
    // gates on the RocksDB state store (the 100-TB-state provider) — the
    // driver-artifact proof that gate results are provider-independent
    val stateStore =
      if (sys.env.get("SPARK_GRAFT_STATE_PROVIDER").exists(_.equalsIgnoreCase("rocksdb")))
        Seq("spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      else Nil
    val spark = GraftSession.local(GraftSession.cpus, stateStore: _*)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only(name) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, sfDir)
        // fail LOUDLY (a visible [verify] FAILED line) rather than letting
        // the driver's pandas harness crash on a nested column (the r9
        // s_mean_pool failure shape)
        GateContract.assertGateable(name, df.schema)
        df.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        println(f"[verify] $name ok (${(System.nanoTime() - t0) / 1e9}%.1fs)")
      } catch { case e: Throwable =>
        println(s"[verify] $name FAILED: ${e.getMessage}")
        e.printStackTrace()
      } finally graft.ops.Par.releaseCaches()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // a requested name that is no gate fails the run, so a mistyped name
    // cannot pass a scripted check
    unknown.foreach(name => println(s"[verify] $name UNKNOWN"))
    spark.stop()
    // exit explicitly: a lingering non-daemon thread must not hang the run
    sys.exit(if (unknown.isEmpty) 0 else 1)
  }

  /** The gates a run covers (every gate without a filter) and the names
    * in the comma-separated `filter` that are not gates, in request order.
    */
  def select(gates: Set[String], filter: Option[String]): (String => Boolean, Seq[String]) =
    filter match {
      case None => (_ => true, Nil)
      case Some(list) =>
        val names = list.split(',').toSeq.distinct
        (names.toSet, names.filterNot(gates))
    }
}
