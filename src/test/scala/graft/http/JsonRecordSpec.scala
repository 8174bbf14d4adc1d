package graft.http

import java.math.{BigDecimal => JBigDecimal}
import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.StructsToJson
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{FlatJsonRecord, JsonRecord}
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Differential spec: `JsonPayloadFormat.encode` (the schema-specialized
  * encoder) against Spark's `to_json`, compared byte for byte, on the
  * whole-stage-codegen path and on the interpreted path.
  */
class JsonRecordSpec extends SparkSpec {

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // an RDD-backed frame: a LocalRelation would be folded on the driver
  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private def hex(b: Array[Byte]): String = b.map(x => f"$x%02X").mkString

  /** Every row's encoder bytes equal to_json's, codegen and interpreted;
    * a flat record must really run the specialized encoder.
    */
  private def assertSameBytes(df: DataFrame, record: Column, flat: Boolean = true): Unit =
    for (confs <- Seq(
      Nil,
      Seq(
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))) withConf(confs: _*) {
      val q = df.select(
        JsonPayloadFormat.encode(record).cast(BinaryType).as("got"),
        to_json(record).cast(BinaryType).as("want"))
      val usesEncoder = q.queryExecution.optimizedPlan.expressions
        .exists(_.exists(_.isInstanceOf[FlatJsonRecord]))
      withClue(s"$confs: ") { usesEncoder shouldBe flat }
      val rows = q.collect()
      rows should not be empty
      rows.foreach { r =>
        val (got, want) = (r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1))
        withClue(s"$confs ${new String(want, "UTF-8")}: ") { hex(got) shouldBe hex(want) }
      }
    }

  private val scalarSchema = StructType(Seq(
    StructField("bool", BooleanType), StructField("b", ByteType),
    StructField("s", ShortType), StructField("i", IntegerType),
    StructField("l", LongType), StructField("f", FloatType),
    StructField("d", DoubleType), StructField("dec", DecimalType(10, 2)),
    StructField("wide", DecimalType(38, 18)), StructField("str", StringType),
    StructField("date", DateType), StructField("ts", TimestampType),
    StructField("ntz", TimestampNTZType)))

  private def all(df: DataFrame): Column = struct(df.columns.map(col).toSeq: _*)

  test("every covered scalar type, nulls under both values of ignoreNullFields") {
    val rows = Seq(
      Row(true, 1.toByte, 2.toShort, 3, 4L, 1.5f, 2.25, new JBigDecimal("12.34"),
        new JBigDecimal("-0.000000000000000001"), "x", Date.valueOf("2024-02-29"),
        Timestamp.valueOf("2024-02-29 12:34:56.789"),
        java.time.LocalDateTime.parse("2024-02-29T12:34:56.000001")),
      Row(false, Byte.MinValue, Short.MinValue, Int.MinValue, Long.MinValue, -0.0f, -0.0,
        new JBigDecimal("-99999999.99"), new JBigDecimal("1E+19"), "",
        Date.valueOf("1970-01-01"), new Timestamp(0L),
        java.time.LocalDateTime.parse("1970-01-01T00:00:00")),
      Row.fromSeq(Seq.fill(13)(null)),
      Row(null, 7.toByte, null, 9, null, null, 0.1, null, null, "y", null,
        new Timestamp(1L), null))
    val df = frame(scalarSchema, rows)
    for (ignore <- Seq("true", "false"))
      withConf("spark.sql.jsonGenerator.ignoreNullFields" -> ignore) {
        assertSameBytes(df, all(df))
      }
  }

  test("number edge cases: non-finite, signed zero, exponents, extremes") {
    val doubles = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0,
      0.0, 1e21, 1e20, 1.0e-7, 1.0e-3, 123456789.0, 0.1 + 0.2, Double.MinPositiveValue,
      Double.MaxValue, -Double.MaxValue, 2e-323, 1e7, 9999999.0)
    val floats = Seq(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity, -0.0f, 1e21f,
      1.0e-7f, Float.MinPositiveValue, Float.MaxValue, 0.1f, 1e7f, 16777217f)
    val longs = Seq(Long.MinValue, Long.MaxValue, 0L, -1L, 10L, 99L, 100L, -1000000000000L,
      Int.MinValue.toLong, 1000000000000000000L, 999999999999999999L)
    val n = Seq(doubles.size, floats.size, longs.size).max
    val schema = StructType(Seq(
      StructField("d", DoubleType), StructField("f", FloatType), StructField("l", LongType),
      StructField("i", IntegerType)))
    val rows = (0 until n).map(k => Row(
      doubles.lift(k).orNull, floats.lift(k).orNull, longs.lift(k).orNull,
      longs.lift(k).map(v => (v % Int.MaxValue).toInt).orNull))
    val df = frame(schema, rows)
    assertSameBytes(df, all(df))
  }

  test("strings: every ASCII byte, non-ASCII, surrogate pairs and invalid UTF-8") {
    val ascii = (0 until 128).map(c => Row(Array(c.toByte)))
    val mixed = Seq(
      (0 until 128).map(_.toByte).toArray,
      "plain".getBytes("UTF-8"),
      "\u00e9\u4e2d\ud83d\ude00 \"q\" \\ /   \u007f".getBytes("UTF-8"),
      Array(0xc3, 0x28), // bad continuation
      Array(0xed, 0xa0, 0x80), // an encoded surrogate
      Array(0xc0, 0xaf), // overlong
      Array(0xe2, 0x82), // truncated
      Array(0xf4, 0x90, 0x80, 0x80), // above U+10FFFF
      Array(0xff, 0x41), Array(0x41, 0x80, 0x42),
      Array(0xf0, 0x9f, 0x98, 0x80, 0x0a), // a valid 4-byte sequence
      Array(0xe0, 0xa0, 0x80, 0xef, 0xbf, 0xbf, 0xf4, 0x8f, 0xbf, 0xbf) // range edges
    ).map {
      case b: Array[Byte] => Row(b)
      case ints: Array[Int] => Row(ints.map(_.toByte))
    }
    val df = frame(StructType(Seq(StructField("raw", BinaryType))), ascii ++ mixed)
      .select(col("raw").cast(StringType).as("s"), lit(1).as("n"))
    assertSameBytes(df, all(df))
  }

  test("a field name that needs escaping") {
    val df = frame(
      StructType(Seq(StructField("v", IntegerType))), Seq(Row(1), Row(null)))
    val record = struct(
      col("v").as("we\"ird\\name\n\t\u0001\u00e9/"),
      col("v").as("\ud83d\ude00"),
      col("v").as(""))
    withConf("spark.sql.jsonGenerator.ignoreNullFields" -> "false") {
      assertSameBytes(df, record)
    }
  }

  test("dates before 1582 and after 9999, timestamps in non-UTC session zones") {
    val days = Seq(-1000000, -719162, -141428, -141427, -1, 0, 2932896, 2932897, 3000000)
    val micros = Seq(Long.MinValue / 2, -62135596800000000L, -12219292800000001L, -1L, 0L,
      1234567L, 1700000000123456L, 253402300799999999L, 253402300800000000L,
      Long.MaxValue / 2)
    val n = math.max(days.size, micros.size)
    val base = frame(
      StructType(Seq(StructField("days", IntegerType), StructField("us", LongType))),
      (0 until n).map(k => Row(days.lift(k).orNull, micros.lift(k).orNull)))
    for (tz <- Seq("UTC", "America/Los_Angeles", "Asia/Kolkata", "Australia/Lord_Howe"))
      withConf("spark.sql.session.timeZone" -> tz) {
        val df = base.select(
          expr("date_from_unix_date(days)").as("date"),
          expr("timestamp_micros(us)").as("ts"),
          expr("cast(timestamp_micros(us) as timestamp_ntz)").as("ntz"))
        assertSameBytes(df, all(df))
      }
  }

  test("a decimal with negative scale") {
    withConf("spark.sql.legacy.allowNegativeScaleOfDecimal" -> "true") {
      val df = frame(
        StructType(Seq(StructField("dec", DecimalType(5, -3)), StructField("k", IntegerType))),
        Seq(Row(new JBigDecimal("1.23E+5"), 1), Row(new JBigDecimal("-9.9999E+7"), 2),
          Row(null, 3)))
      assertSameBytes(df, all(df))
    }
  }

  test("records with a nested struct, array or map field plan StructsToJson") {
    val df = frame(
      StructType(Seq(StructField("a", IntegerType), StructField("t", StringType))),
      Seq(Row(1, "x"), Row(2, null)))
    val nested = Seq(
      struct(col("a"), struct(col("t")).as("inner")),
      struct(col("a"), array(col("a"), col("a")).as("arr")),
      struct(col("a"), map(lit("k"), col("a")).as("m")),
      struct(col("a"), col("t").cast(BinaryType).as("bin")))
    for (record <- nested) {
      val q = df.select(JsonPayloadFormat.encode(record).as("j"))
      val encoders = q.queryExecution.analyzed.expressions
        .flatMap(_.collect { case j: JsonRecord => j })
      encoders should have size 1
      encoders.head.replacement shouldBe a[StructsToJson]
      // exactly the plan to_json plans
      q.queryExecution.optimizedPlan.sameResult(
        df.select(to_json(record).as("j")).queryExecution.optimizedPlan) shouldBe true
      assertSameBytes(df, record, flat = false)
    }
  }
}
