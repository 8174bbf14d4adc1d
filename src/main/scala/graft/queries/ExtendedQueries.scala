package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.AsOfJoin

/** Second wave of driver-gated coverage: as-of join, sliding windows, cube,
  * semi-structured JSON extraction, ratio aggregates.
  */
object ExtendedQueries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Shared events reader — ts-normalization branch lives in [[Tables]]. */
  private def events(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)

  private def dec2(c: org.apache.spark.sql.Column) =
    c.cast(DecimalType(18, 2))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----- as-of join: latest order at-or-before each event -----
    "q_asof_last_order" -> { (s, dir) =>
      val ev = events(s, dir).select(col("event_id"), col("user_id"), col("ts"))
      val ord = t(s, dir, "orders").select(col("o_custkey"), col("o_orderdate"))
      AsOfJoin
        .leftAsOf(
          ev,
          "ts",
          ord,
          "o_orderdate",
          keys = Seq(("user_id", "o_custkey")),
          payload = Seq("o_orderdate"))
        .select(
          col("event_id"),
          col("user_id"),
          col("o_orderdate").as("last_order_date"))
    },

    // ----- bucketized range join (point-in-interval): events inside the
    // 2h window following each same-user signup — the RangeJoin equi-join
    // rewrite (1h buckets for 2h spans) vs DuckDB's native BETWEEN join -----
    "q_range_join" -> { (s, dir) =>
      val hour2 = 2L * 3600L * 1000000L
      val ev = events(s, dir).select(
        col("event_id"),
        col("user_id"),
        unix_micros(col("ts")).as("pt"))
      val iv = events(s, dir)
        .filter(col("event_type") === "signup")
        .select(
          col("event_id").as("signup_id"),
          col("user_id").as("iv_user"),
          unix_micros(col("ts")).as("lo"),
          (unix_micros(col("ts")) + lit(hour2)).as("hi"))
      graft.ops.RangeJoin
        .pointInInterval(
          ev, "pt", iv, "lo", "hi",
          bucket = 3600L * 1000000L, // 1h buckets for 2h spans
          keys = Seq(("user_id", "iv_user")))
        .filter(col("event_id") =!= col("signup_id"))
        .select(col("event_id"), col("signup_id"))
    },

    // ----- the SAME range join through the SQL TVF surface (NEW r10):
    // `range_join(...)` splices the bucketized equi-join plan into SQL,
    // where a raw BETWEEN join would plan the cartesian scale killer.
    // No key-pair args on the TVF, so the user predicate rides WHERE -----
    "q_range_join_sql" -> { (s, dir) =>
      graft.plans.GraftExtensions.register(s)
      val hour2 = 2L * 3600L * 1000000L
      events(s, dir).select(
        col("event_id"),
        col("user_id"),
        unix_micros(col("ts")).as("pt"))
        .createOrReplaceTempView("rj_points")
      events(s, dir)
        .filter(col("event_type") === "signup")
        .select(
          col("event_id").as("signup_id"),
          col("user_id").as("iv_user"),
          unix_micros(col("ts")).as("lo"),
          (unix_micros(col("ts")) + lit(hour2)).as("hi"))
        .createOrReplaceTempView("rj_intervals")
      s.sql(
        s"""SELECT event_id, signup_id
           |FROM range_join('rj_points', 'pt', 'rj_intervals',
           |  'lo', 'hi', ${3600L * 1000000L})
           |WHERE user_id = iv_user AND event_id <> signup_id""".stripMargin)
    },

    // ----- STREAM-STREAM interval join twin of q_range_join: both sides
    // are streams (all events ⋈ signup windows) joined on user + an
    // event-time range — the Structured Streaming join surface, gated by
    // the SAME relational oracle (the q_stream_events_hourly pattern).
    // Inner stream-stream joins are legal without watermarks (unbounded
    // state); the bounded AvailableNow run emits the complete result.
    "q_stream_range_join" -> { (s, dir) =>
      graft.ops.Par.withShufflePartitions(s, 8) {
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      def stream = s.readStream
        .schema(schema)
        .parquet(s"$dir/events*.parquet")
        .withColumn("ts", Tables.normalizeEventTs(schema("ts").dataType))
      val pts = stream.select(col("event_id"), col("user_id"), col("ts"))
      val ivs = stream
        .filter(col("event_type") === "signup")
        .select(
          col("event_id").as("signup_id"),
          col("user_id").as("iv_user"),
          col("ts").as("iv_ts"))
      val joined = pts
        .join(
          ivs,
          col("user_id") === col("iv_user") &&
            col("ts") >= col("iv_ts") &&
            col("ts") <= col("iv_ts") + expr("INTERVAL 2 HOURS") &&
            col("event_id") =!= col("signup_id"))
        .select(col("event_id"), col("signup_id"))
      Streams.drain(joined, "q_stream_range_join_out", "append")
    }},

    // ----- ordered funnel (signup → view → purchase): per-user earliest
    // qualifying timestamp per stage, each stage strictly after the
    // previous — three per-user aggregations, one summary row -----
    "q_funnel" -> { (s, dir) =>
      val ev = events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"))
      val s1 = ev
        .filter(col("event_type") === "signup")
        .groupBy(col("user_id"))
        .agg(min(col("ts")).as("t1"))
      val s2 = ev
        .filter(col("event_type") === "view")
        .join(s1, "user_id")
        .filter(col("ts") > col("t1"))
        .groupBy(col("user_id"))
        .agg(min(col("ts")).as("t2"))
      val s3 = ev
        .filter(col("event_type") === "purchase")
        .join(s2, "user_id")
        .filter(col("ts") > col("t2"))
        .groupBy(col("user_id"))
        .agg(min(col("ts")).as("t3"))
      s1.agg(count(lit(1)).as("n_signup"))
        .crossJoin(s2.agg(count(lit(1)).as("n_view_after")))
        .crossJoin(s3.agg(count(lit(1)).as("n_purchase_after")))
    },

    // ----- sliding windows (1h window, 30m slide) -----
    "q_sliding_windows" -> { (s, dir) =>
      events(s, dir)
        .groupBy(
          window(col("ts"), "1 hour", "30 minutes")
            .getField("start").as("ws"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          round(sum(col("value").cast(DecimalType(18, 6))), 4)
            .cast(DoubleType).as("sum_value"))
    },

    // ----- cube over region x market segment -----
    "q_cube_region_segment" -> { (s, dir) =>
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .cube(col("r_name"), col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_customers"),
          round(sum(dec2(col("c_acctbal"))), 2).cast(DoubleType).as("sum_acctbal"))
    },

    // ----- Q14-style promo revenue ratio -----
    "q14_promo_ratio" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .filter(
          col("l_shipdate") >= lit("1997-01-01").cast(TimestampType) &&
            col("l_shipdate") < lit("1998-01-01").cast(TimestampType))
      val revenue = dec2(col("l_extendedprice")) *
        (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount")))
      li.join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .agg(
          (lit(100.0d) *
            sum(when(col("p_type") === "PROMO", revenue)
              .otherwise(lit(0).cast(DecimalType(18, 2)))).cast(DoubleType) /
            sum(revenue).cast(DoubleType)).as("promo_ratio"),
          count(lit(1)).as("n_items"))
    },

    // ----- JSON property extraction over the event stream -----
    // get_json_object extracts the one path without materializing a struct
    // per row (from_json built a full row object to read a single field —
    // measured 9.7s -> ~2s at sf0.1); matches the oracle's `props->>'k'`.
    // try_cast, not cast: Spark 4 defaults to ANSI mode, where a plain cast
    // THROWS on a non-integer props.k; try_cast yields null, matching the
    // oracle's TRY_CAST group-under-null behavior on dirty data.
    "q_events_json" -> { (s, dir) =>
      events(s, dir)
        .groupBy(
          get_json_object(col("props"), "$.k").try_cast(IntegerType).as("k"))
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
    },

    // ----- semi-structured extraction via Spark 4 VARIANT -----
    // The modern path for schema-on-read JSON: parse once into the binary
    // variant encoding, extract typed paths with variant_get. Here the
    // variant is consumed BEFORE the aggregation, so only the extracted
    // int (never the variant blob) reaches the shuffle; at scale
    // parse_json replaces repeated string re-parsing when several paths
    // are read (get_json_object re-scans the JSON text per path).
    "q_events_variant" -> { (s, dir) =>
      events(s, dir)
        .select(
          try_variant_get(parse_json(col("props")), "$.k", "int").as("k"),
          col("value"))
        .groupBy((col("k") % 10).as("k_bucket"))
        .agg(
          count(lit(1)).as("n_events"),
          round(sum(col("value").cast(DecimalType(18, 6))), 4)
            .cast(DoubleType).as("sum_value"))
    },

    // ----- salted skew join, gated for transparency -----
    // A deterministic power-law: 3 of every 4 events collapse onto hot key
    // 0, the worst single-task hot-spot shape for a shuffle join. The gate
    // proves [[graft.ops.SkewJoin.saltedInnerJoin]] is RESULT-TRANSPARENT
    // (oracle = the plain unsalted join); the task-spread mechanism itself
    // is asserted in SkewJoinSpec via per-task shuffle-read metrics.
    "q_skew_salted_join" -> { (s, dir) =>
      val ev = events(s, dir).select(
        col("event_id"),
        col("value"),
        when(col("user_id") % 4 =!= 0, lit(0L))
          .otherwise(col("user_id")).as("hot_key"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      graft.ops.SkewJoin
        .saltedInnerJoin(ev, "hot_key", "event_id", cust, "c_custkey",
          salts = 8)
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_events"),
          round(sum(col("value").cast(DecimalType(18, 6))), 4)
            .cast(DoubleType).as("sum_value"))
    })

  val oracles: Map[String, String] = Map(
    // the ground truth is the naive BETWEEN join — DuckDB plans it
    // natively (IEJoin); the Spark side must reproduce it exactly through
    // the bucketized equi-join rewrite
    "q_range_join" ->
      """SELECT e.event_id, i.signup_id
        |FROM events e JOIN (
        |  SELECT event_id AS signup_id, user_id,
        |    epoch_us(ts) AS lo, epoch_us(ts) + 7200000000 AS hi
        |  FROM events WHERE event_type = 'signup') i
        |ON e.user_id = i.user_id
        |  AND epoch_us(e.ts) >= i.lo AND epoch_us(e.ts) <= i.hi
        |  AND e.event_id <> i.signup_id""".stripMargin,
    // the SQL-TVF surface must reproduce the SAME relation
    "q_range_join_sql" ->
      """SELECT e.event_id, i.signup_id
        |FROM events e JOIN (
        |  SELECT event_id AS signup_id, user_id,
        |    epoch_us(ts) AS lo, epoch_us(ts) + 7200000000 AS hi
        |  FROM events WHERE event_type = 'signup') i
        |ON e.user_id = i.user_id
        |  AND epoch_us(e.ts) >= i.lo AND epoch_us(e.ts) <= i.hi
        |  AND e.event_id <> i.signup_id""".stripMargin,
    // the streaming twin must reproduce the SAME relation
    "q_stream_range_join" ->
      """SELECT e.event_id, i.signup_id
        |FROM events e JOIN (
        |  SELECT event_id AS signup_id, user_id,
        |    epoch_us(ts) AS lo, epoch_us(ts) + 7200000000 AS hi
        |  FROM events WHERE event_type = 'signup') i
        |ON e.user_id = i.user_id
        |  AND epoch_us(e.ts) >= i.lo AND epoch_us(e.ts) <= i.hi
        |  AND e.event_id <> i.signup_id""".stripMargin,
    "q_asof_last_order" ->
      """SELECT event_id, user_id, o_orderdate AS last_order_date
        |FROM events ASOF LEFT JOIN orders
        |  ON user_id = o_custkey AND ts >= o_orderdate""".stripMargin,
    "q_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
        |SELECT (SELECT count(*) FROM s1) AS n_signup,
        |  (SELECT count(*) FROM s2) AS n_view_after,
        |  (SELECT count(*) FROM s3) AS n_purchase_after""".stripMargin,
    "q_sliding_windows" ->
      """SELECT ws, event_type, count(*) AS n_events,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value
        |FROM (
        |  SELECT unnest([time_bucket(INTERVAL 30 minutes, ts),
        |                 time_bucket(INTERVAL 30 minutes, ts) - INTERVAL 30 minutes]) AS ws,
        |         event_type, value
        |  FROM events)
        |GROUP BY ws, event_type""".stripMargin,
    "q_cube_region_segment" ->
      """SELECT r_name, c_mktsegment, count(*) AS n_customers,
        |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY CUBE(r_name, c_mktsegment)""".stripMargin,
    "q14_promo_ratio" ->
      """SELECT
        |  100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) /
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS promo_ratio,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'""".stripMargin,
    "q_events_json" ->
      // TRY_CAST mirrors Spark's null-on-bad-cast: a non-integer props.k
      // would make Spark emit null while a plain CAST would error the
      // whole oracle run instead of grouping under null
      """SELECT TRY_CAST(props->>'k' AS INT) AS k, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1""".stripMargin,
    "q_events_variant" ->
      """SELECT TRY_CAST(props->>'k' AS INT) % 10 AS k_bucket,
        |  count(*) AS n_events,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,
    "q_skew_salted_join" ->
      // the plain (unsalted) join: salting must be result-transparent
      """SELECT c_mktsegment, count(*) AS n_events,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value
        |FROM (SELECT CASE WHEN user_id % 4 <> 0 THEN 0 ELSE user_id END AS hot_key,
        |             value
        |      FROM events) e
        |JOIN customer ON hot_key = c_custkey
        |GROUP BY c_mktsegment""".stripMargin
  )
}
