package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.http.{CompletionState, HttpLookup, HttpOptions, HttpSink, PayloadFormats, QueryCreator}
import graft.ops.{Dedup, Par, TextFunctions}

/** One benchmark workload: inputs, the measured call into graft's public
  * API, and an independent correctness check of its output.
  */
trait Workload {
  def name: String
  def rowsPerCall: Long

  /** The stub service, for workloads that talk HTTP. */
  def fixture: Option[Fixture]

  /** Start the fixture, build and materialize the inputs and the
    * reference results. Called once per set-up cycle.
    */
  def prepare(): Unit

  /** Stop the fixture and drop the inputs of the last [[prepare]]. */
  def release(): Unit

  /** The measured call. `tag` is unique per call. */
  def run(tag: String, traced: Boolean): Any

  /** Untimed: None when `result` is correct, else why not. */
  def check(result: Any): Option[String]

  /** Rows of a correct `result` that still ended in a failed state. */
  def failedRows(result: Any): Long = 0L

  /** Standalone calls into the workload's layers (traced runs only):
    * metric name to seconds.
    */
  def layerProbes(): Seq[(String, Double)]
}

object Workload {
  val Names: Seq[String] = Seq("lookup_wire", "lookup_cached", "sink_batch", "dedup_near")

  def apply(name: String, spark: SparkSession, seed: Long, cores: Int): Workload =
    name match {
      case "lookup_wire" => new LookupWorkload(spark, seed, cores, cached = false)
      case "lookup_cached" => new LookupWorkload(spark, seed, cores, cached = true)
      case "sink_batch" => new SinkWorkload(spark, seed, cores)
      case "dedup_near" => new DedupWorkload(spark, seed, cores)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (one of ${Names.mkString(", ")})")
    }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Median seconds of `reps` timed calls after one untimed warm call. */
  def timed(span: String, reps: Int)(body: => Unit): Double = {
    body
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime()
      Trace.span(span)(body)
      (System.nanoTime() - t0) / 1e9
    })
  }

  /** (rows, hash sums, failed rows) over `cols` — the order-independent
    * identity of a frame's content, computed in one Spark job.
    */
  def fingerprint(df: DataFrame, cols: Seq[String], failed: Column): Seq[Long] = {
    val h = df.select(xxhash64(cols.map(col): _*).as("h"), failed.as("f"))
    val r = h.agg(
      count(lit(1)),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)),
      coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)),
      coalesce(sum(col("f")), lit(0L))).head()
    (0 until 4).map(r.getLong)
  }

  def cache(df: DataFrame): DataFrame = {
    val c = df.cache()
    c.count()
    c
  }
}

/** `lookup_wire` (every row one GET, no cache, sync path) and
  * `lookup_cached` (Zipf keys, PARTIAL cache, 404s ignored and cached, 1%
  * of keys 503 once then retried, async path with metadata columns).
  * The probe has one partition per Spark core: one request in flight per
  * partition on the sync path, two (request pool 2) on the async one, so
  * nproc at most.
  */
final class LookupWorkload(spark: SparkSession, seed: Long, cores: Int, cached: Boolean)
    extends Workload {
  val name: String = if (cached) "lookup_cached" else "lookup_wire"
  val rowsPerCall: Long = if (cached) 40000L else 20000L

  private val responseSchema = StructType(Seq(
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))
  private val outCols = Seq("o_orderkey", "c_custkey") ++ responseSchema.fieldNames ++
    (if (cached) Seq(HttpLookup.MetaStatusCode, HttpLookup.MetaCompletionState) else Nil)

  private var stub: Fixture = _
  private var probe: DataFrame = _
  private var expected: Seq[Long] = _
  private var flakyDrawn = 0L
  private var cacheRows = 0L
  def fixture: Option[Fixture] = Option(stub)

  private def keyOf(i: Long): Long =
    if (cached) Gen.skewedKey(seed, i) else Gen.uniformKey(seed, i)

  def prepare(): Unit = {
    stub = new Fixture(seed, flakyFirst = cached)
    val (s, c, n) = (seed, cached, rowsPerCall)
    probe = Workload.cache(spark.range(0, n, 1, cores)
      .map { i =>
        val k = if (c) Gen.skewedKey(s, i) else Gen.uniformKey(s, i)
        (i.longValue, k)
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .toDF("o_orderkey", "c_custkey"))
    val distinct = (0L until n).iterator.map(keyOf).toSet
    flakyDrawn = if (cached) distinct.count(Gen.flaky(seed, _)).toLong else 0L
    cacheRows = math.max(1L, distinct.size / 10L)
    // reference: the relational join of the same probe with customer
    val customers = spark.range(0, Gen.CustomerKeys, 1, 1).map { k =>
      val cu = Gen.customer(s, k)
      (cu.key, cu.name, cu.nation, cu.acctbal, cu.segment)
    }(Encoders.tuple(Encoders.scalaLong, Encoders.STRING, Encoders.scalaInt,
      Encoders.scalaDouble, Encoders.STRING))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val reference =
      if (!cached) probe.join(customers, "c_custkey")
      else probe.join(customers, Seq("c_custkey"), "left")
        .withColumn(HttpLookup.MetaStatusCode,
          when(col("c_name").isNull, lit(404)).otherwise(lit(200)))
        .withColumn(HttpLookup.MetaCompletionState,
          when(col("c_name").isNull, lit(CompletionState.IgnoreStatusCode))
            .otherwise(lit(CompletionState.Success)))
    expected = Workload.fingerprint(reference, outCols, lit(0L))
  }

  def release(): Unit = {
    if (stub != null) stub.stop()
    if (probe != null) probe.unpersist(blocking = true)
  }

  def options(tag: String, traced: Boolean): Map[String, String] = {
    val common = Map(
      HttpOptions.Url -> stub.url("/customer"),
      HttpOptions.LookupMethod -> "GET",
      // a fresh cache identity per call: the per-executor cache is
      // keyed by the whole options map
      "perfbench.call" -> tag) ++
      (if (traced) Map(HttpOptions.SourceRequestCallback -> Trace.CallbackName) else Map.empty)
    if (!cached) common ++ Map(
      HttpOptions.AsyncPolling -> "false",
      HttpOptions.LookupCacheKind -> "NONE")
    else common ++ Map(
      HttpOptions.AsyncPolling -> "true",
      HttpOptions.RequestThreadPool -> "2",
      HttpOptions.LookupCacheKind -> "PARTIAL",
      HttpOptions.CacheMaxRows -> cacheRows.toString,
      HttpOptions.CacheMissingKey -> "true",
      HttpOptions.IgnoredCodes -> "404",
      HttpOptions.RetryFixedDelay -> "2ms")
  }

  private def failedState: Column =
    if (!cached) lit(0L)
    else when(col(HttpLookup.MetaCompletionState)
      .isin(CompletionState.Success, CompletionState.IgnoreStatusCode), lit(0L))
      .otherwise(lit(1L))

  def run(tag: String, traced: Boolean): Any = {
    val out = HttpLookup.join(probe, Seq("c_custkey"), responseSchema,
      options(tag, traced), includeMetadata = cached)
    Workload.fingerprint(out, outCols, failedState)
  }

  def check(result: Any): Option[String] = {
    val got = result.asInstanceOf[Seq[Long]]
    val s503 = stub.status503.sum()
    if (got != expected) Some(s"output fingerprint $got != reference $expected")
    else if (s503 != flakyDrawn)
      Some(s"$s503 responses were 503, expected one per drawn flaky key ($flakyDrawn)")
    else None
  }

  override def failedRows(result: Any): Long = result.asInstanceOf[Seq[Long]](3)

  def layerProbes(): Seq[(String, Double)] = {
    val o = options("probe", traced = false)
    val q = QueryCreator.fromOptions(HttpOptions(o)).compile(probe, Seq("c_custkey"))
    val render = Workload.timed("render", 3)(Workload.noop(
      probe.select(q.url, q.body.getOrElse(lit(null).cast(StringType)))))
    val bodies = stub.responses.asScala.toSeq
    val decode =
      if (bodies.isEmpty) 0.0
      else {
        val df = Workload.cache(spark.createDataFrame(bodies.map(Tuple1(_))).toDF("body"))
        try Workload.timed("decode", 3)(Workload.noop(df.select(
          PayloadFormats("json").decode(col("body"), responseSchema, "__corrupt"))))
        finally df.unpersist(blocking = true)
      }
    Seq("render.s" -> render, "decode.s" -> decode)
  }
}

/** `sink_batch`: a seeded permutation of 600k lineitem rows POSTed as
  * JSON-array batches of 500 from one partition per Spark core, one
  * request in flight per partition.
  */
final class SinkWorkload(spark: SparkSession, seed: Long, cores: Int) extends Workload {
  val name = "sink_batch"
  val rowsPerCall: Long = Gen.LineitemRows.toLong
  val batchSize = 500

  private var stub: Fixture = _
  private var input: DataFrame = _
  private lazy val expected: Multiset = {
    var (c, a, b) = (0L, 0L, 0L)
    for (p <- 0L until rowsPerCall) {
      val m = Multiset.Empty.add(Gen.lineitemHash(Gen.lineitemAt(seed, rowsPerCall, p)))
      c += 1; a += m.sumA; b += m.sumB
    }
    Multiset(c, a, b)
  }
  def fixture: Option[Fixture] = Option(stub)

  def prepare(): Unit = {
    stub = new Fixture(seed, flakyFirst = false)
    val (s, n) = (seed, rowsPerCall)
    val raw = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("shipday", IntegerType)))
    val rows = spark.range(0, n, 1, cores).map { p =>
      val l = Gen.lineitemAt(s, n, p)
      Row(l.orderkey, l.partkey, l.suppkey, l.linenumber, l.quantity, l.extendedprice,
        l.discount, l.tax, l.returnflag, l.linestatus, l.shipday)
    }(Encoders.row(raw))
    input = Workload.cache(rows
      .withColumn("l_shipdate", expr("date_from_unix_date(shipday)"))
      .drop("shipday"))
    expected
  }

  def release(): Unit = {
    if (stub != null) stub.stop()
    if (input != null) input.unpersist(blocking = true)
  }

  private def options(traced: Boolean): Map[String, String] = Map(
    HttpOptions.Url -> stub.url("/sink"),
    HttpOptions.SinkRequestMode -> "batch",
    HttpOptions.SinkBatchSize -> batchSize.toString,
    HttpOptions.SinkMaxInflight -> "1") ++
    (if (traced) Map(HttpOptions.SinkRequestCallback -> Trace.CallbackName) else Map.empty)

  def run(tag: String, traced: Boolean): Any = HttpSink.write(input, options(traced))

  def check(result: Any): Option[String] = {
    val got = stub.sinkBodies.parallelStream()
      .map[Multiset](SinkWorkload.received)
      .reduce(Multiset.Empty, (a: Multiset, b: Multiset) => a ++ b)
    if (got != expected) Some(s"received records $got != input $expected")
    else None
  }

  def layerProbes(): Seq[(String, Double)] = {
    val fmt = PayloadFormats("json")
    val record = struct(input.columns.toSeq.map(col): _*)
    val encode = Workload.timed("encode", 3)(Workload.noop(input.select(fmt.encode(record))))
    val payloads = Workload.cache(input.select(fmt.encode(record).cast(StringType).as("p")))
    val size = batchSize
    val frame =
      try Workload.timed("frame", 3)(Workload.noop(payloads.mapPartitions { it =>
        it.map(_.getString(0)).grouped(size).map(g => fmt.frameBatch(g).length.toLong)
      }(Encoders.scalaLong).toDF()))
      finally payloads.unpersist(blocking = true)
    Seq("encode.s" -> encode, "frame.s" -> frame)
  }
}

object SinkWorkload {
  import com.fasterxml.jackson.core.JsonToken

  private val json = new com.fasterxml.jackson.core.JsonFactory()
  private val Fields = Array("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate")
  private val FieldIndex = Fields.zipWithIndex.toMap

  /** Day number of a `yyyy-MM-dd` date. */
  private def epochDay(d: String): Int =
    java.time.LocalDate.of(d.substring(0, 4).toInt, d.substring(5, 7).toInt,
      d.substring(8, 10).toInt).toEpochDay.toInt

  /** Multiset of the lineitems in one received batch body; throws on a
    * body that is not a JSON array of complete lineitem records.
    */
  val received: java.util.function.Function[String, Multiset] = body => {
    val p = json.createParser(body)
    var m = Multiset.Empty
    require(p.nextToken() == JsonToken.START_ARRAY, "batch body is not a JSON array")
    while (p.nextToken() == JsonToken.START_OBJECT) {
      var (orderkey, partkey, suppkey, linenumber) = (0L, 0L, 0L, 0)
      var (quantity, extendedprice, discount, tax) = (0.0, 0.0, 0.0, 0.0)
      var (returnflag, linestatus, shipday) = ("", "", 0)
      var seen = 0
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val name = p.currentName()
        p.nextToken()
        val i = FieldIndex.getOrElse(name, -1)
        require(i >= 0, s"unexpected field $name")
        seen |= 1 << i
        i match {
          case 0 => orderkey = p.getLongValue
          case 1 => partkey = p.getLongValue
          case 2 => suppkey = p.getLongValue
          case 3 => linenumber = p.getIntValue
          case 4 => quantity = p.getDoubleValue
          case 5 => extendedprice = p.getDoubleValue
          case 6 => discount = p.getDoubleValue
          case 7 => tax = p.getDoubleValue
          case 8 => returnflag = p.getText
          case 9 => linestatus = p.getText
          case 10 => shipday = epochDay(p.getText)
        }
      }
      require(seen == (1 << Fields.length) - 1, "incomplete lineitem record")
      m = m.add(Gen.lineitemHash(Gen.LineItem(orderkey, partkey, suppkey, linenumber,
        quantity, extendedprice, discount, tax, returnflag, linestatus, shipday)))
    }
    m
  }
}

/** `dedup_near`: `Dedup.lshRecallReport` (3-word shingles, 2 bands,
  * jaccard 0.5) over a seeded corpus with planted near-duplicates.
  */
final class DedupWorkload(spark: SparkSession, seed: Long, cores: Int) extends Workload {
  val name = "dedup_near"
  val rowsPerCall = 1200L
  def fixture: Option[Fixture] = None

  private var docs: DataFrame = _
  private var plantedAbove = 0
  private var truth = 0
  private var firstReport: Option[Seq[Long]] = None

  def prepare(): Unit = {
    val corpus = Gen.corpus(seed, rowsPerCall.toInt)
    val rows = corpus.texts.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    docs = Workload.cache(spark.createDataFrame(rows).toDF("doc_id", "text")
      .repartition(cores))
    // reference: the size of the exact truth set, counted without Spark
    truth = Gen.jaccardPairs(corpus.texts).size
    plantedAbove = corpus.planted.count { case (a, b) =>
      val (inter, union) = Gen.shingleJaccard(corpus.texts(a), corpus.texts(b))
      2 * inter >= union
    }
  }

  def release(): Unit = if (docs != null) docs.unpersist(blocking = true)

  def run(tag: String, traced: Boolean): Any = {
    val r = Dedup.lshRecallReport(docs, "doc_id", "text", n = 3, bands = 2, threshold = 0.5)
      .head()
    (0 until 5).map(r.getLong)
  }

  /** (n_true, n_found, n_hit, n_missed, recall_ppm) of the first run. */
  def report: Seq[Long] = firstReport.getOrElse(Seq.fill(5)(0L))

  def check(result: Any): Option[String] = {
    val got = result.asInstanceOf[Seq[Long]]
    if (firstReport.isEmpty) firstReport = Some(got)
    if (plantedAbove == 0) Some("no planted pair lands above the threshold")
    else if (got(0) != truth) Some(s"${got(0)} true pairs, the exact count is $truth")
    else if (got(1) != got(2)) Some(s"LSH found ${got(1)} pairs but only ${got(2)} are true")
    else if (got != report) Some(s"report $got differs from the first run's $report")
    else None
  }

  def layerProbes(): Seq[(String, Double)] = {
    val hashed = transform(TextFunctions.shingleSet(col("text"), 3), s => TextFunctions.hash61(s))
    val shingle = Workload.timed("shingle_hash", 3)(Workload.noop(docs.select(hashed)))
    val sh = Workload.cache(docs.select(array_distinct(hashed).as("sh")))
    val minhash =
      try Workload.timed("minhash", 3)(Workload.noop(sh.select(Dedup.minhashSignature(col("sh")))))
      finally sh.unpersist(blocking = true)
    val lsh = Workload.timed("lsh_pairs", 1) {
      Dedup.minhashLshPairs(docs, "doc_id", "text", n = 3, bands = 2, threshold = 0.5).count()
      Par.releaseCaches(blocking = true)
    }
    val prefix = Workload.timed("prefix_join", 1) {
      Dedup.prefixJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5).count()
      Par.releaseCaches(blocking = true)
    }
    Seq("dedup.shingle_hash_s" -> shingle, "dedup.minhash_s" -> minhash,
      "dedup.lsh_pairs_s" -> lsh, "dedup.prefix_join_s" -> prefix)
  }
}
