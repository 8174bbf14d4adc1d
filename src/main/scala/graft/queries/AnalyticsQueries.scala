package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Relational / analytics query suite over the driver's TPC-H-ish tables.
  *
  * Every query here is paired with a DuckDB oracle in [[AnalyticsQueries.oracles]]
  * (driver correctness gate). Determinism rules used throughout:
  *   - money-ish doubles are cast to DECIMAL before SUM so aggregation is
  *     exact and engine/order independent; averages divide the exact decimal
  *     sum as double and round;
  *   - every computed column carries the same alias in Spark and SQL;
  *   - top-k uses explicit deterministic tie-breaks.
  *
  * Scale posture (100 TB): filters sit directly on scans (pushdown), dims
  * (region/nation/customer/supplier/part) are broadcast, facts aggregate
  * partially map-side before their single shuffle; no driver-side loops.
  */
object AnalyticsQueries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Events with `ts` normalized to a UTC TIMESTAMP whatever the runtime
    * decoded — one shared owner ([[Tables.events]]) for batch AND the
    * streaming twin so the parity sides cannot drift.
    */
  private def events(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)

  // stateful streaming gates scope their state-store count to the fixture
  // size (see Par.withShufflePartitions scaladoc)
  private def withShufflePartitions[A](s: SparkSession, n: Int)(body: => A): A =
    graft.ops.Par.withShufflePartitions(s, n)(body)

  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact decimal sum, rounded AT DECIMAL precision and only then cast to
    * double — rounding the exact decimal is engine-portable, while rounding
    * the cast double hits .xx5 representation boundaries differently per
    * engine (observed on q03).
    */
  private def sumDec2R(c: Column): Column =
    round(sum(dec2(c)), 2).cast(DoubleType)

  /** Exact decimal sum as double (for ratios computed identically in both
    * engines — no rounding needed, bits match by construction).
    */
  private def sumDec2(c: Column): Column = sum(dec2(c)).cast(DoubleType)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----- Q1-style pricing summary: filtered scan + multi-agg groupBy -----
    "q01_pricing_summary" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast(TimestampType))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sumDec2R(col("l_quantity")).as("sum_qty"),
          sumDec2R(col("l_extendedprice")).as("sum_base_price"),
          round(
            sum(dec2(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) -
              dec2(col("l_discount")))),
            2).cast(DoubleType).as("sum_disc_price"),
          (sumDec2(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          (sumDec2(col("l_discount")) / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
    },

    // ----- Q3-style: 3-way join + group agg -----
    "q03_shipping_priority" -> { (s, dir) =>
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1998-01-01").cast(TimestampType))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1998-01-01").cast(TimestampType))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(
          round(
            sum(dec2(col("l_extendedprice")) *
              (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount")))),
            2).cast(DoubleType).as("revenue"))
    },

    // ----- Q5-style: 5-way join through both customer and supplier -----
    "q05_local_supplier_volume" -> { (s, dir) =>
      val region = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val nation = t(s, dir, "nation")
      val cust = t(s, dir, "customer")
      val supp = t(s, dir, "supplier")
      val ord = t(s, dir, "orders")
        .filter(
          col("o_orderdate") >= lit("1996-01-01").cast(TimestampType) &&
            col("o_orderdate") < lit("1998-01-01").cast(TimestampType))
      val li = t(s, dir, "lineitem")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(
          broadcast(cust),
          col("o_custkey") === col("c_custkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(
          round(
            sum(dec2(col("l_extendedprice")) *
              (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount")))),
            2).cast(DoubleType).as("revenue"))
    },

    // ----- Q6-style selective filter aggregate -----
    "q06_forecast_revenue" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(
          col("l_shipdate") >= lit("1997-01-01").cast(TimestampType) &&
            col("l_shipdate") < lit("1998-01-01").cast(TimestampType) &&
            col("l_discount").between(0.03, 0.07) &&
            col("l_quantity") < 24)
        .agg(
          round(sum(dec2(col("l_extendedprice")) * dec2(col("l_discount"))), 2)
            .cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_items"))
    },

    // ----- Q4-style semi-join: orders with at least one late-shipped item --
    "q04_priority_semi" -> { (s, dir) =>
      val ord = t(s, dir, "orders")
      val late = t(s, dir, "lineitem")
      ord
        .join(
          late,
          ord("o_orderkey") === late("l_orderkey") &&
            late("l_shipdate") > ord("o_orderdate"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    },

    // ----- anti-join: customers that never ordered -----
    "q22_customers_no_orders" -> { (s, dir) =>
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
      cust
        .join(ord, cust("c_custkey") === ord("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_customers"),
          sumDec2R(col("c_acctbal")).as("sum_acctbal"))
    },

    // ----- window: top-3 orders per customer by price -----
    "q_window_topk" -> { (s, dir) =>
      val w = Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(
          col("o_custkey"),
          col("o_orderkey"),
          col("rn"),
          dec2(col("o_totalprice")).cast(DoubleType).as("o_totalprice_r"))
    },

    // ----- window: running revenue per customer over time -----
    "q_window_running" -> { (s, dir) =>
      val w = Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .withColumn(
          "running_spend",
          round(sum(dec2(col("o_totalprice"))).over(w), 2).cast(DoubleType))
        .select(col("o_custkey"), col("o_orderkey"), col("running_spend"))
    },

    // ----- window: RANGE frame — 30-day trailing spend per customer
    // (value-based frame over epoch seconds: peers with equal order
    // instants aggregate together in both engines, so the result is
    // tie-order independent — unlike a ROWS frame) -----
    "q_window_trailing" -> { (s, dir) =>
      // o_orderdate decodes as TIMESTAMP_NTZ on this runtime; the cast to
      // session-zone TIMESTAMP is value-preserving (sessions run UTC) and
      // a no-op on runtimes that already decode TIMESTAMP
      val w = Window
        .partitionBy(col("o_custkey"))
        .orderBy(unix_micros(col("o_orderdate").cast(TimestampType)))
        .rangeBetween(-30L * 86400L * 1000000L, 0L)
      t(s, dir, "orders")
        .withColumn(
          "trailing_30d",
          round(sum(dec2(col("o_totalprice"))).over(w), 2).cast(DoubleType))
        .select(col("o_custkey"), col("o_orderkey"), col("trailing_30d"))
    },

    // ----- rollup over nation -> region -----
    // ----- bucketed co-located join (NEW r13, driver-gates X7): pay the
    // shuffle ONCE at write (bucketBy on the join key, both sides, same
    // bucket count), then every subsequent join on that key plans ZERO
    // exchanges — REQUIRED in-gate on the planned join with broadcast
    // disabled, then the joined aggregate is hash-gated. The 100 TB
    // pattern for fact tables joined repeatedly on one key -----
    "q_bucketed_join" -> { (s, dir) =>
      val root = GateTemp.dir("graft-bucketed-join")
      val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s.sql("DROP TABLE IF EXISTS g_gate_orders_bucketed")
        s.sql("DROP TABLE IF EXISTS g_gate_customer_bucketed")
        t(s, dir, "orders").select(col("o_custkey"), col("o_totalprice"))
          .write.format("parquet")
          .bucketBy(8, "o_custkey").sortBy("o_custkey")
          .option("path", s"$root/orders").mode("overwrite")
          .saveAsTable("g_gate_orders_bucketed")
        t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
          .write.format("parquet")
          .bucketBy(8, "c_custkey").sortBy("c_custkey")
          .option("path", s"$root/customer").mode("overwrite")
          .saveAsTable("g_gate_customer_bucketed")
        val joined = s.table("g_gate_orders_bucketed").join(
          s.table("g_gate_customer_bucketed"),
          col("o_custkey") === col("c_custkey"))
        val exchanges = graft.tools.PlanShapeProbe
          .shapeOf(joined.queryExecution.executedPlan)("exchange")
        require(
          exchanges == 0,
          s"bucketed join planned $exchanges exchanges — co-location broken")
        joined
          .groupBy(col("c_mktsegment"))
          .agg(
            count(lit(1)).as("n_orders"),
            sumDec2R(col("o_totalprice")).as("total_price"))
      } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    },

    // ----- scan pushdown + column pruning, driver-gated (NEW r13): the
    // X6 posture claims "filters reach the scan, scans read only the
    // projection" — this gate REQUIRES both on the planned scan (the
    // shipdate predicate must appear in PushedFilters; the required
    // schema must be exactly the 3 referenced columns of the 16-column
    // table), then hash-gates the filtered aggregate. At 100 TB this IS
    // the difference between reading a slice and reading the corpus -----
    "q_scan_pruning" -> { (s, dir) =>
      val df = t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-06-01").cast(TimestampType))
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n_rows"),
          sumDec2R(col("l_quantity")).as("sum_qty"))
      val scans = df.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      require(scans.nonEmpty, "no file scan in the plan")
      val pushed = scans.map(_.metadata.getOrElse("PushedFilters", "")).mkString
      require(
        pushed.contains("l_shipdate"),
        s"shipdate predicate NOT pushed to the scan (PushedFilters=$pushed)")
      val read = scans.flatMap(_.requiredSchema.fieldNames).toSet
      require(
        read == Set("l_returnflag", "l_quantity", "l_shipdate"),
        s"scan reads $read — column pruning broken")
      df
    },

    "q_rollup_nation" -> { (s, dir) =>
      val cust = t(s, dir, "customer")
      val nation = t(s, dir, "nation")
      val region = t(s, dir, "region")
      cust
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(
          count(lit(1)).as("n_customers"),
          sumDec2R(col("c_acctbal")).as("sum_acctbal"))
    },

    // ----- distinct aggregates -----
    "q_distinct_custs" -> { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          countDistinct(col("o_custkey")).as("n_custs"),
          count(lit(1)).as("n_orders"))
    },

    // ----- correlated-style: customers above their nation's average balance --
    "q_above_avg_balance" -> { (s, dir) =>
      val cust = t(s, dir, "customer")
      val nationAvg = cust
        .groupBy(col("c_nationkey").as("nk"))
        .agg((sumDec2(col("c_acctbal")) / count(lit(1))).as("avg_bal"))
      cust
        .join(broadcast(nationAvg), col("c_nationkey") === col("nk"))
        .filter(col("c_acctbal") > col("avg_bal"))
        .groupBy(col("c_nationkey"))
        .agg(
          count(lit(1)).as("n_above"),
          sumDec2R(col("c_acctbal")).as("sum_bal"))
    },

    // ----- tumbling-window aggregation over the event stream (batch view) --
    "q_events_hourly" -> { (s, dir) =>
      events(s, dir)
        .groupBy(
          window(col("ts"), "1 hour").getField("start").as("hour_start"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          round(sum(col("value").cast(DecimalType(18, 6))), 4)
            .cast(DoubleType).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
    },

    // ----- cohort retention (NEW r10): the classic product-analytics
    // matrix — users grouped by first-seen day, retention = distinct
    // users active `day_offset` days later over the cohort size. Pure
    // integer day buckets (epoch-seconds floor-div 86400 — no calendar
    // functions, so both engines agree byte-for-byte), exact ppm -----
    "q_retention" -> { (s, dir) =>
      // exact IntegralDivide floor (repo convention — double division
      // is only exact below 2^53)
      def intDiv(x: Column, y: Column): Column =
        graft.ops.Sampling.divFloor(x, y)
      val ev = events(s, dir)
        .select(
          col("user_id"),
          intDiv(unix_timestamp(col("ts")), lit(86400L)).as("day"))
      val cohort = ev
        .groupBy(col("user_id"))
        .agg(min(col("day")).as("cohort_day"))
      val sizes = cohort
        .groupBy(col("cohort_day"))
        .agg(count(lit(1)).as("cohort_size"))
      ev.distinct()
        .join(cohort, "user_id")
        .groupBy(
          col("cohort_day"),
          (col("day") - col("cohort_day")).as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .join(sizes, "cohort_day")
        .withColumn(
          "retention_ppm",
          intDiv(col("n_users") * 1000000L, col("cohort_size")))
    },

    // ----- STREAMING/batch parity through the batch oracle: the same
    // hourly aggregation as a Structured Streaming query (file source,
    // an AvailableNow drain, complete mode into a memory sink) — the
    // driver's DuckDB compare then gates streaming semantics itself.
    // countDistinct is unsupported on streams, so this twin carries the
    // count + exact-decimal sum columns only.
    "q_stream_events_hourly" -> { (s, dir) => withShufflePartitions(s, 8) {
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val agg = s.readStream
        .schema(schema)
        // glob, not the bare file path: the file stream source requires a
        // directory basePath, which it infers from the glob's parent
        .parquet(s"$dir/events*.parquet")
        .withColumn("ts", Tables.normalizeEventTs(schema("ts").dataType))
        .groupBy(
          window(col("ts"), "1 hour").getField("start").as("hour_start"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          round(sum(col("value").cast(DecimalType(18, 6))), 4)
            .cast(DoubleType).as("sum_value"))
      Streams.drain(agg, "q_stream_events_hourly_out", "complete")
    }},

    // ----- watermarked streaming dedup (NEW r10): the exactly-once event
    // dedup every ingest pipeline runs — at-least-once delivery simulated
    // by unioning the stream with itself (every event exactly twice), then
    // `dropDuplicatesWithinWatermark` on the event id with a 1h watermark
    // (bounded state: ids older than the watermark are evicted, which the
    // unbounded `dropDuplicates` cannot do on an infinite stream). Append
    // mode; oracle = the distinct events -----
    "q_stream_dedup_watermark" -> { (s, dir) => withShufflePartitions(s, 8) {
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      def leg = s.readStream
        .schema(schema)
        .parquet(s"$dir/events*.parquet")
        .withColumn("ts", Tables.normalizeEventTs(schema("ts").dataType))
        .select(
          col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"),
          col("ts"))
      val deduped = leg.union(leg)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .drop("ts")
      Streams.drain(deduped, "q_stream_dedup_watermark_out", "append")
    }},

    // ----- checkpoint RESTART (NEW r11): exactly-once ACROSS a stop — the
    // property Flink's checkpointed operators actually guarantee, and the
    // one thing a single AvailableNow pass cannot witness. Run #1 streams
    // HALF the event fixture through dropDuplicates into a parquet file
    // sink and terminates (provably mid-stream: the sink then holds
    // exactly the half-count). The full fixture is then appended to the
    // input dir — so every run-1 event id is REDELIVERED, simulating
    // at-least-once delivery across an outage. Run #2 restarts from the
    // SAME checkpoint: the recovered file-source log must skip processed
    // files, and the recovered dedup STATE STORE must drop every
    // redelivered id. Output = each event exactly once, gated hash-exact
    // against the plain batch table; a lost state store, a replayed file,
    // or a broken sink commit log all duplicate rows and fail the hash. --
    "q_stream_restart" -> { (s, dir) => withShufflePartitions(s, 8) {
      val ev = events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      val root = GateTemp.dir("graft-stream-restart").toString
      val (inDir, outDir, ckptDir) =
        (s"$root/in", s"$root/out", s"$root/ckpt")
      val half = ev.filter(col("event_id") % 2 === 0)
      half.repartition(2).write.parquet(inDir)
      val stagedSchema = s.read.parquet(inDir).schema

      def runOnce(): Unit = Streams.drain(
        s.readStream
          .schema(stagedSchema)
          .parquet(inDir)
          .dropDuplicates("event_id")
          .writeStream
          .format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", ckptDir)
          .outputMode("append"))

      runOnce() // run #1: sees only the half fixture, then terminates
      // r17 (guide §5): both expectation scalars in ONE aggregate pass
      // over the events scan (was two separate count jobs); count(when)
      // — not sum — so an empty fixture still yields 0, not SQL NULL
      val cnts = ev
        .agg(
          count(lit(1)),
          count(when(col("event_id") % 2 === 0, 1)))
        .head()
      val (nTotal, nHalf) = (cnts.getLong(0), cnts.getLong(1))
      val afterRun1 = s.read.parquet(outDir).count()
      require(
        afterRun1 == nHalf && nHalf < nTotal,
        s"q_stream_restart: run 1 must stop mid-stream with exactly the " +
          s"half fixture written (got $afterRun1, half=$nHalf, total=$nTotal)")

      // redeliver EVERYTHING (run-1 ids included) as new input files
      ev.repartition(2).write.mode("append").parquet(inDir)
      runOnce() // run #2: restart from the same checkpoint

      s.read.parquet(outDir)
        .select(
          col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
    }},

    // ----- stream-stream LEFT OUTER interval join (NEW r11): the last
    // stream-stream join surface after the inner interval join (Q24) —
    // every signup emits, purchases within 2h attach, and unmatched
    // signups surface as null-joined rows only once both watermarks pass
    // their join window (the eventual-emission semantics under test;
    // AvailableNow's trailing no-data batch performs the flush). The
    // fixture is staged into a temp dir with a far-future sentinel FILE
    // (one signup user −1 + one purchase user −2, processed last via
    // maxFilesPerTrigger=1 + later mtime) that advances BOTH sides'
    // watermarks past every window; the 45-day delay exceeds the
    // fixture's 30-day span so no real row is ever late (and the single
    // data batch runs under the initial 1970 watermark anyway). Two traps this
    // gate pins, both found empirically: the sentinels must carry REAL
    // event types (an '__flush' type dies on the event-type filters,
    // which Catalyst pushes BELOW the watermark node), and the
    // sentinel-removal filter must run in the BATCH read of the sink —
    // inside the streaming plan, `signup_id > −1` is pushed down to the
    // left scan and eats the sentinel before the watermark sees it
    // (watermark stuck, zero outer rows — the measured failure mode).
    // Oracle = the plain batch LEFT JOIN.
    "q_stream_outer_join" -> { (s, dir) => withShufflePartitions(s, 8) {
      val ev = events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      val root = GateTemp.dir("graft-stream-outer").toString
      val (inDir, outDir, ckptDir) =
        (s"$root/in", s"$root/out", s"$root/ckpt")
      ev.repartition(2).write.parquet(inDir)
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
      import s.implicits._
      Seq(
        (-1L, -1L, "signup",
          new java.sql.Timestamp(maxTs.getTime + 47L * 24 * 3600 * 1000)),
        (-2L, -2L, "purchase",
          new java.sql.Timestamp(maxTs.getTime + 47L * 24 * 3600 * 1000)))
        .toDF("event_id", "user_id", "event_type", "ts")
        .repartition(1) // ONE file: both watermark nodes must see it
        .write.mode("append").parquet(inDir)
      val stagedSchema = s.read.parquet(inDir).schema

      // no maxFilesPerTrigger: ONE data batch (watermark still 1970 while
      // it runs, so nothing is late) + the trailing no-data batch that
      // flushes the outer state once the sentinel has advanced the
      // watermark — two batches total (the per-file batching this gate
      // debuted with tripled its bench cost for no extra coverage)
      def stream = s.readStream
        .schema(stagedSchema)
        .parquet(inDir)
        .withWatermark("ts", "45 days")
      val signups = stream
        .filter(col("event_type") === "signup")
        .select(
          col("event_id").as("signup_id"),
          col("user_id"),
          col("ts").as("s_ts"))
      val purchases = stream
        .filter(col("event_type") === "purchase")
        .select(
          col("event_id").as("purchase_id"),
          col("user_id").as("p_user"),
          col("ts").as("p_ts"))
      val joined = signups
        .join(
          purchases,
          col("user_id") === col("p_user") &&
            col("p_ts") >= col("s_ts") &&
            col("p_ts") <= col("s_ts") + expr("INTERVAL 2 HOURS"),
          "leftOuter")
        .select(
          col("signup_id"),
          col("user_id"),
          col("purchase_id"),
          unix_micros(col("s_ts")).as("s_ts_us"))
      Streams.drain(joined.writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckptDir)
        .outputMode("append"))
      // sentinel removal HERE, not in the streaming plan (see above)
      s.read.parquet(outDir).filter(col("signup_id") > -1)
    }},

    // ----- stream-static enrichment join (NEW r10): the remaining core
    // Structured Streaming join surface — an event stream joined to a
    // broadcast dimension table (stateless, append mode; the streaming
    // counterpart of every lookup-enrichment batch join) -----
    "q_stream_static_join" -> { (s, dir) =>
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val cust = s.read
        .parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      val joined = s.readStream
        .schema(schema)
        .parquet(s"$dir/events*.parquet")
        .select(col("event_id"), col("user_id"), col("event_type"))
        .join(broadcast(cust), col("user_id") === col("c_custkey"))
        .select(
          col("event_id"), col("user_id"), col("event_type"),
          col("c_name"), col("c_mktsegment"))
      Streams.drain(joined, "q_stream_static_join_out", "append")
    },

    // ----- custom-state streaming sessionization (Q9b, NEW r12): the
    // flatMapGroupsWithState sessionizer over the event fixture. Only
    // sessions CLOSED by a later same-user event emit (append mode);
    // each user's final open session stays in state BY DESIGN, so the
    // oracle is the batch gaps-and-islands replay minus each user's
    // last session. Determinism: the whole fixture is available at
    // batch 0, the state handler's arithmetic is java.sql.Timestamp
    // MILLIS (getTime truncates the micros) — so the oracle replays the
    // boundaries in epoch_ms; equal-ms ties cannot split a session
    // (diff 0 <= gap), so tie order is irrelevant on both sides. -----
    "q_stream_sessions" -> { (s, dir) => withShufflePartitions(s, 8) {
      import s.implicits._
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val stream = s.readStream
        .schema(schema)
        .parquet(s"$dir/events*.parquet")
        .withColumn("ts", Tables.normalizeEventTs(schema("ts").dataType))
        .select(col("user_id").cast(LongType).as("user_id"), col("ts"))
        .as[graft.streaming.StreamingSessions.Event]
      val sessions = graft.streaming.StreamingSessions
        .sessionize(stream, gapMillis = 1800000L)
      Streams.drain(
        sessions
          .toDF()
          .select(
            col("user_id"),
            unix_millis(col("session_start")).as("start_ms"),
            unix_millis(col("session_end")).as("end_ms"),
            col("n_events")),
        "q_stream_sessions_out",
        "append")
    }},

    // ----- sessionization (gaps-and-islands, 30 min inactivity gap) -----
    "q_sessionize" -> { (s, dir) =>
      val byUser = Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val ev = events(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn(
          "new_session",
          when(
            col("prev_ts").isNull ||
              unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L,
            1L).otherwise(0L))
        .withColumn(
          "session_id",
          sum(col("new_session"))
            .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      ev.groupBy(col("user_id"))
        .agg(
          max(col("session_id")).as("n_sessions"),
          count(lit(1)).as("n_events"))
    },

    // ----- streaming SCD-2 (NEW r13, Q33 streaming twin): the dimension
    // history builds INCREMENTALLY via flatMapGroupsWithState; append-mode
    // emission contract = closed versions only (the oracle is the batch
    // history minus each user's open run) -----
    "q_stream_scd2" -> { (s, dir) => withShufflePartitions(s, 8) {
      import s.implicits._
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val stream = s.readStream
        .schema(schema)
        .parquet(s"$dir/events*.parquet")
        .withColumn("ts", Tables.normalizeEventTs(schema("ts").dataType))
        .select(
          col("user_id").cast(LongType).as("key"),
          unix_micros(col("ts")).as("us"),
          col("event_id").cast(LongType).as("tie"),
          col("event_type").as("attr"))
        .as[graft.streaming.StreamingScd.Obs]
      Streams.drain(
        graft.streaming.StreamingScd.history(stream)
          .toDF()
          .select(
            col("key").as("user_id"),
            col("version"),
            col("attr").as("event_type"),
            col("eff_from_us").as("from_us"),
            col("eff_to_us").as("to_us")),
        "q_stream_scd2_out",
        "append")
    }},

    // ----- temporal (point-in-time) join (NEW r13): enrich facts with
    // the dimension VERSION valid at fact time — FOR SYSTEM_TIME AS OF
    // against the SCD-2 history (the reference's temporal-table join,
    // table-versioned instead of HTTP-backed). Composition: Q33's
    // history + the as-of union-and-window (ONE key exchange, no range
    // join; at equal timestamps the version applies AT its eff_from —
    // half-open semantics) -----
    "q_temporal_join" -> { (s, dir) =>
      val ev = events(s, dir)
      val hist = graft.ops.Scd.scd2History(
        ev, Seq("user_id"), "event_type", "ts", "event_id")
      val facts = ev
        .filter(col("event_id") % 3 === 0)
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.ops.AsOfJoin.leftAsOf(
        facts,
        "ts",
        hist,
        "eff_from",
        keys = Seq(("user_id", "user_id")),
        payload = Seq("version", "event_type"),
        tieBreak = Some("version"))
        .select(
          col("event_id"),
          col("user_id"),
          unix_micros(col("ts")).as("fact_us"),
          col("version"),
          col("event_type"))
    },

    // ----- CDC latest-wins snapshot (NEW r13): materialize the current
    // table from a keyed changelog — argmax by (ts, event_id) combines
    // map-side (one exchange, no window), tombstones ('error') erase the
    // key -----
    "q_cdc_snapshot" -> { (s, dir) =>
      graft.ops.Scd.latestSnapshot(
        events(s, dir).select(
          col("user_id"), col("event_id"), col("ts"),
          col("event_type"), col("value")),
        Seq("user_id"),
        "ts",
        "event_id",
        col("event_type") === "error")
        .select(
          col("user_id"),
          unix_micros(col("ts")).as("last_us"),
          col("event_id"),
          col("event_type"),
          col("value"))
    },

    // ----- SCD-2 history compaction (NEW r13, Q32): per-user event_type
    // changelog -> versioned validity intervals (half-open, null eff_to on
    // the open row). One key exchange feeds all three window passes; the
    // gate emits epoch micros so both engines hash the same integers -----
    "q_scd2_history" -> { (s, dir) =>
      graft.ops.Scd.scd2History(
        events(s, dir), Seq("user_id"), "event_type", "ts", "event_id")
        .select(
          col("user_id"),
          col("version"),
          col("event_type"),
          unix_micros(col("eff_from")).as("from_us"),
          unix_micros(col("eff_to")).as("to_us"),
          col("is_current"))
    },

    // ----- interval-union coverage (NEW r13, Q33): per-supplier in-transit
    // day coverage over deterministic half-open shipment windows
    // [shipdate, shipdate + 2*linenumber + 1) — the gaps-and-islands
    // aggregation naive sum(end-start) double-counts. One key exchange +
    // two windows + a partial-agg'd island rollup -----
    "q_interval_coverage" -> { (s, dir) =>
      val li = t(s, dir, "lineitem").withColumn(
        "__day",
        datediff(col("l_shipdate"), lit("1992-01-01").cast(DateType)).cast(LongType))
      graft.ops.Intervals.coverage(
        li,
        Seq("l_suppkey"),
        col("__day"),
        col("__day") + col("l_linenumber") * 2L + 1L,
        col("l_orderkey") * 10L + col("l_linenumber"))
    })

  /** DuckDB oracles — must stay column-name-aligned with the Spark queries. */
  val oracles: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q03_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority""".stripMargin,
    "q05_local_supplier_volume" ->
      """SELECT n_name,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name""".stripMargin,
    "q06_forecast_revenue" ->
      """SELECT
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q04_priority_semi" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE EXISTS (
        |  SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority""".stripMargin,
    "q22_customers_no_orders" ->
      """SELECT c_mktsegment, count(*) AS n_customers,
        |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_acctbal
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment""".stripMargin,
    "q_window_topk" ->
      """SELECT o_custkey, o_orderkey, rn,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice_r
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders)
        |WHERE rn <= 3""".stripMargin,
    "q_window_running" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running_spend
        |FROM orders""".stripMargin,
    "q_window_trailing" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)
        |    RANGE BETWEEN 2592000000000 PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
        |    AS trailing_30d
        |FROM orders""".stripMargin,
    // the pushdown/pruning claims live in the in-gate requires; the
    // oracle replays the filtered aggregate's values
    "q_scan_pruning" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE)
        |    AS sum_qty
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-06-01'
        |GROUP BY l_returnflag""".stripMargin,
    // the co-location claim lives in the in-gate zero-exchange require;
    // the oracle replays the join's values
    "q_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
        |    AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q_rollup_nation" ->
      """SELECT r_name, n_name, count(*) AS n_customers,
        |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)""".stripMargin,
    "q_distinct_custs" ->
      """SELECT o_orderpriority,
        |  count(DISTINCT o_custkey) AS n_custs,
        |  count(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "q_above_avg_balance" ->
      """WITH nation_avg AS (
        |  SELECT c_nationkey AS nk,
        |    CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_bal
        |  FROM customer GROUP BY c_nationkey)
        |SELECT c_nationkey, count(*) AS n_above,
        |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_bal
        |FROM customer JOIN nation_avg ON c_nationkey = nk
        |WHERE c_acctbal > avg_bal
        |GROUP BY c_nationkey""".stripMargin,
    "q_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |  count(*) AS n_events,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY 1, 2""".stripMargin,
    "q_retention" ->
      """WITH e AS (
        |  SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
        |  FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1),
        |s AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_size
        |      FROM c GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, day FROM e),
        |r AS (
        |  SELECT c.cohort_day, a.day - c.cohort_day AS day_offset,
        |    CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
        |  FROM a JOIN c ON a.user_id = c.user_id GROUP BY 1, 2)
        |SELECT r.cohort_day, r.day_offset, r.n_users, s.cohort_size,
        |  (r.n_users * 1000000) // s.cohort_size AS retention_ppm
        |FROM r JOIN s ON r.cohort_day = s.cohort_day""".stripMargin,
    "q_stream_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |  count(*) AS n_events,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2""".stripMargin,
    // each event appears exactly twice in the doubled stream; the
    // watermarked dedup must emit it exactly once
    "q_stream_dedup_watermark" ->
      """SELECT event_id, user_id, event_type,
        |  CAST(epoch_us(ts) AS BIGINT) AS ts_us
        |FROM events""".stripMargin,
    "q_stream_static_join" ->
      """SELECT e.event_id, e.user_id, e.event_type, c.c_name, c.c_mktsegment
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey""".stripMargin,
    "q_stream_restart" ->
      """SELECT event_id, user_id, event_type,
        |  CAST(epoch_us(ts) AS BIGINT) AS ts_us
        |FROM events""".stripMargin,
    "q_stream_outer_join" ->
      """SELECT s.event_id AS signup_id, s.user_id,
        |  p.event_id AS purchase_id,
        |  CAST(epoch_us(s.ts) AS BIGINT) AS s_ts_us
        |FROM events s LEFT JOIN events p
        |  ON s.user_id = p.user_id AND p.event_type = 'purchase'
        |  AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 2 HOUR
        |WHERE s.event_type = 'signup'""".stripMargin,
    "q_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |sessions AS (
        |  SELECT user_id,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged)
        |SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM sessions GROUP BY user_id""".stripMargin,
    // gaps-and-islands in epoch_ms (the state handler's Timestamp.getTime
    // domain), sessions aggregated per (user, island), each user's LAST
    // (still-open) session excluded — the append-mode emission contract
    "q_stream_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, ms,
        |    CASE WHEN lag(ms) OVER w IS NULL OR ms - lag(ms) OVER w > 1800000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ms ASC, event_id ASC)),
        |sess AS (
        |  SELECT user_id, ms,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ms ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged),
        |agg AS (
        |  SELECT user_id, sid, min(ms) AS start_ms, max(ms) AS end_ms,
        |    count(*) AS n_events
        |  FROM sess GROUP BY user_id, sid),
        |last AS (SELECT user_id, max(sid) AS maxsid FROM agg GROUP BY user_id)
        |SELECT CAST(a.user_id AS BIGINT) AS user_id,
        |  CAST(a.start_ms AS BIGINT) AS start_ms,
        |  CAST(a.end_ms AS BIGINT) AS end_ms,
        |  a.n_events
        |FROM agg a JOIN last l
        |  ON a.user_id = l.user_id AND a.sid < l.maxsid""".stripMargin,

    // the batch history MINUS each user's open run — the append-mode
    // closed-version emission contract, encoded in the oracle itself
    // (the q_stream_sessions pattern)
    "q_stream_scd2" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |runs AS (
        |  SELECT user_id, event_id, event_type, us,
        |    CASE WHEN row_number() OVER w = 1
        |           OR lag(event_type) OVER w IS DISTINCT FROM event_type
        |         THEN 1 ELSE 0 END AS opens
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us ASC, event_id ASC)),
        |c AS (SELECT user_id, event_id, event_type, us FROM runs WHERE opens = 1),
        |v AS (
        |  SELECT user_id, event_type, us,
        |    CAST(row_number() OVER w2 AS INT) AS version,
        |    lead(us) OVER w2 AS to_us
        |  FROM c
        |  WINDOW w2 AS (PARTITION BY user_id ORDER BY us ASC, event_id ASC))
        |SELECT user_id, version, event_type,
        |  CAST(us AS BIGINT) AS from_us,
        |  CAST(to_us AS BIGINT) AS to_us
        |FROM v WHERE to_us IS NOT NULL""".stripMargin,

    // the point-in-time replay: facts join the history version whose
    // half-open validity interval contains the fact timestamp
    "q_temporal_join" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |runs AS (
        |  SELECT user_id, event_id, event_type, us,
        |    CASE WHEN row_number() OVER w = 1
        |           OR lag(event_type) OVER w IS DISTINCT FROM event_type
        |         THEN 1 ELSE 0 END AS opens
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us ASC, event_id ASC)),
        |c AS (SELECT user_id, event_id, event_type, us FROM runs WHERE opens = 1),
        |v AS (
        |  SELECT user_id, event_type, us AS from_us,
        |    CAST(row_number() OVER w2 AS INT) AS version,
        |    lead(us) OVER w2 AS to_us
        |  FROM c
        |  WINDOW w2 AS (PARTITION BY user_id ORDER BY us ASC, event_id ASC)),
        |facts AS (
        |  SELECT user_id, event_id, us FROM e WHERE event_id % 3 = 0)
        |SELECT f.event_id, f.user_id, CAST(f.us AS BIGINT) AS fact_us,
        |  v.version, v.event_type
        |FROM facts f JOIN v ON f.user_id = v.user_id
        |  AND v.from_us <= f.us AND (v.to_us IS NULL OR f.us < v.to_us)"""
        .stripMargin,

    // latest row per key by (us, event_id), tombstoned keys erased
    "q_cdc_snapshot" ->
      """WITH r AS (
        |  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, CAST(us AS BIGINT) AS last_us, event_id,
        |  event_type, value
        |FROM r WHERE rn = 1 AND event_type <> 'error'""".stripMargin,

    // run-collapse via null-safe lag-change detection, then versions +
    // half-open validity from lead() over the change rows — all in
    // epoch_us (the events fixture is microsecond-grained). The rn=1 OR
    // arm mirrors the Spark op's first-row branch: lag() alone would
    // never open a key whose FIRST event_type is NULL (lag returns NULL
    // for both no-previous-row and a NULL value)
    "q_scd2_history" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |runs AS (
        |  SELECT user_id, event_id, event_type, us,
        |    CASE WHEN row_number() OVER w = 1
        |           OR lag(event_type) OVER w IS DISTINCT FROM event_type
        |         THEN 1 ELSE 0 END AS opens
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us ASC, event_id ASC)),
        |c AS (SELECT user_id, event_id, event_type, us FROM runs WHERE opens = 1),
        |v AS (
        |  SELECT user_id, event_type, us,
        |    CAST(row_number() OVER w2 AS INT) AS version,
        |    lead(us) OVER w2 AS to_us
        |  FROM c
        |  WINDOW w2 AS (PARTITION BY user_id ORDER BY us ASC, event_id ASC))
        |SELECT user_id, version, event_type,
        |  CAST(us AS BIGINT) AS from_us,
        |  CAST(to_us AS BIGINT) AS to_us,
        |  CASE WHEN to_us IS NULL THEN 1 ELSE 0 END AS is_current
        |FROM v""".stripMargin,

    // identical gaps-and-islands machinery: running max(end) over
    // strictly-preceding rows marks island openers, running sum numbers
    // the islands, coverage = per-island max(end)-min(start)
    "q_interval_coverage" ->
      """WITH iv AS (
        |  SELECT l_suppkey,
        |    CAST(date_diff('day', DATE '1992-01-01',
        |      CAST(l_shipdate AS DATE)) AS BIGINT) AS s,
        |    CAST(date_diff('day', DATE '1992-01-01',
        |      CAST(l_shipdate AS DATE)) + 2 * l_linenumber + 1 AS BIGINT) AS e,
        |    l_orderkey * 10 + l_linenumber AS tie
        |  FROM lineitem),
        |m AS (
        |  SELECT l_suppkey, s, e,
        |    max(e) OVER (PARTITION BY l_suppkey ORDER BY s ASC, e ASC, tie ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max,
        |    tie
        |  FROM iv WHERE e > s),
        |fl AS (
        |  SELECT l_suppkey, s, e, tie,
        |    CASE WHEN prev_max IS NULL OR s >= prev_max THEN 1 ELSE 0 END AS opens
        |  FROM m),
        |isl AS (
        |  SELECT l_suppkey, s, e,
        |    sum(opens) OVER (PARTITION BY l_suppkey ORDER BY s ASC, e ASC, tie ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM fl),
        |g AS (
        |  SELECT l_suppkey, island, count(*) AS n, min(s) AS i_s, max(e) AS i_e
        |  FROM isl GROUP BY l_suppkey, island)
        |SELECT l_suppkey,
        |  CAST(sum(n) AS BIGINT) AS n_intervals,
        |  CAST(count(*) AS BIGINT) AS n_islands,
        |  CAST(sum(i_e - i_s) AS BIGINT) AS covered
        |FROM g GROUP BY l_suppkey""".stripMargin
  )
}
