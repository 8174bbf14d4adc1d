package org.apache.spark.sql.graft

import java.util.Arrays

import com.fasterxml.jackson.core.JsonFactory
import com.fasterxml.jackson.core.io.CharTypes

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{CreateNamedStruct, DefaultStringProducingExpression, Expression, RuntimeReplaceable, StructsToJson, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.json.JSONOptions
import org.apache.spark.sql.catalyst.trees.TreePattern.{RUNTIME_REPLACEABLE, TreePattern}
import org.apache.spark.sql.catalyst.util.{DateFormatter, DateTimeUtils, LegacyDateFormats, TimestampFormatter}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `to_json(record)` specialized to the record's schema.
  *
  * A record that is a `CreateNamedStruct` of scalar fields (boolean,
  * integral, float, double, decimal, string, date, timestamp,
  * timestamp_ntz) is replaced by [[FlatJsonRecord]], which writes the
  * field values straight to UTF-8 bytes without building the struct row.
  * Every other record is replaced by Spark's own `StructsToJson`, so a
  * nested, array, map, binary, interval or variant record plans exactly
  * what `to_json` plans. Both replacements render the same bytes.
  */
case class JsonRecord(child: Expression, timeZoneId: Option[String] = None)
    extends UnaryExpression
    with RuntimeReplaceable
    with TimeZoneAwareExpression
    with DefaultStringProducingExpression {

  override def dataType: DataType = super[DefaultStringProducingExpression].dataType
  override def nullable: Boolean = child.nullable
  override def nodePatternsInternal(): Seq[TreePattern] = Seq(RUNTIME_REPLACEABLE)
  override def prettyName: String = "to_json"

  override lazy val replacement: Expression = child match {
    case s: CreateNamedStruct
        if s.valExprs.forall(e => JsonRecordWriter.method.isDefinedAt(e.dataType)) =>
      FlatJsonRecord(s.dataType, s.valExprs.toIndexedSeq, timeZoneId)
    case _ => StructsToJson(Map.empty, child, timeZoneId)
  }

  // the type check to_json makes; it needs no time zone, so it holds
  // before the analyzer resolves one
  override def checkInputDataTypes(): TypeCheckResult =
    StructsToJson(Map.empty, child, timeZoneId).checkInputDataTypes()

  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Option(timeZoneId))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The flat-record encoder behind [[JsonRecord]]: one JSON object per row,
  * its fields in `schema` order, written by a per-task [[JsonRecordWriter]]
  * held in an instance field (interpreted) or a field of the generated
  * class (codegen).
  */
case class FlatJsonRecord(
    schema: StructType,
    children: IndexedSeq[Expression],
    timeZoneId: Option[String])
    extends Expression
    with DefaultStringProducingExpression {

  override def nullable: Boolean = false
  override def prettyName: String = "graft_json_record"
  override protected def stringArgs: Iterator[Any] = children.iterator

  def newWriter(): JsonRecordWriter = new JsonRecordWriter(schema, timeZoneId.get)

  @transient private lazy val writer = newWriter()

  override def eval(input: InternalRow): Any = {
    val w = writer
    w.begin()
    var i = 0
    while (i < children.length) {
      w.write(i, children(i).eval(input))
      i += 1
    }
    w.finish()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("jsonRecord", this)
    val w = ctx.addMutableState(
      classOf[JsonRecordWriter].getName,
      "jsonWriter",
      v => s"$v = $self.newWriter();",
      forceInline = true)
    val writes = children.zipWithIndex.map { case (c, i) =>
      val e = c.genCode(ctx)
      val method = JsonRecordWriter.method(schema(i).dataType)
      s"""${e.code}
         |if (${e.isNull}) {
         |  $w.writeNull($i);
         |} else {
         |  $w.$method($i, ${e.value});
         |}""".stripMargin
    }
    ev.copy(
      code = code"""
        |$w.begin();
        |${ctx.splitExpressionsWithCurrentInputs(writes)}
        |UTF8String ${ev.value} = $w.finish();""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

/** One task's UTF-8 writer for flat JSON records, byte-identical to Spark's
  * `to_json` (`JacksonGenerator` over `JSONOptions(Map.empty, timeZoneId)`):
  *   - field names are rendered once, by Jackson;
  *   - strings are escaped with Jackson's table
  *     (`CharTypes.get7BitOutputEscapes`): short escapes for `"`, `\` and
  *     `\b\f\n\r\t`, `\u00XX` for the other control characters, every
  *     other byte raw; invalid UTF-8 goes through `toString` first, as
  *     `to_json` does, so its malformed bytes become U+FFFD;
  *   - numbers use `Long`/`Float`/`Double.toString`, non-finite floats
  *     quoted, decimals `BigDecimal.toString`;
  *   - dates and timestamps use the formatters `JacksonGenerator` builds;
  *   - a null field is written or skipped as `ignoreNullFields` (and
  *     `writeNullIfWithDefaultValue`) say.
  * Not thread-safe: one instance per task.
  */
final class JsonRecordWriter(schema: StructType, timeZoneId: String) {
  import JsonRecordWriter._

  private val options = new JSONOptions(Map.empty[String, String], timeZoneId)
  private val names: Array[Array[Byte]] = schema.fieldNames.map(renderName)
  private val kinds: Array[String] = schema.fields.map(f => method(f.dataType))
  private val keepNull: Array[Boolean] = schema.fields.map(f =>
    !options.ignoreNullFields ||
      (options.writeNullIfWithDefaultValue && f.getExistenceDefaultValue().isDefined))

  private lazy val dates = DateFormatter(
    options.dateFormatInWrite, options.locale, LegacyDateFormats.FAST_DATE_FORMAT,
    isParsing = false)
  private lazy val timestamps = TimestampFormatter(
    options.timestampFormatInWrite, options.zoneId, options.locale,
    LegacyDateFormats.FAST_DATE_FORMAT, isParsing = false)
  private lazy val timestampsNtz = TimestampFormatter(
    options.timestampNTZFormatInWrite, options.zoneId, LegacyDateFormats.FAST_DATE_FORMAT,
    isParsing = false, forTimestampNTZ = true)

  private var buf = new Array[Byte](256)
  private var len = 0
  private var first = true

  def begin(): Unit = {
    len = 0
    first = true
    put('{')
  }

  def finish(): UTF8String = {
    put('}')
    UTF8String.fromBytes(Arrays.copyOf(buf, len))
  }

  /** Interpreted entry: `value` is the field's Catalyst value or null. */
  def write(i: Int, value: Any): Unit =
    if (value == null) writeNull(i)
    else kinds(i) match {
      case "writeBoolean" => writeBoolean(i, value.asInstanceOf[Boolean])
      case "writeLong" => writeLong(i, value match {
        case b: Byte => b.toLong
        case s: Short => s.toLong
        case n: Int => n.toLong
        case l: Long => l
      })
      case "writeFloat" => writeFloat(i, value.asInstanceOf[Float])
      case "writeDouble" => writeDouble(i, value.asInstanceOf[Double])
      case "writeDecimal" => writeDecimal(i, value.asInstanceOf[Decimal])
      case "writeString" => writeString(i, value.asInstanceOf[UTF8String])
      case "writeDate" => writeDate(i, value.asInstanceOf[Int])
      case "writeTimestamp" => writeTimestamp(i, value.asInstanceOf[Long])
      case "writeTimestampNtz" => writeTimestampNtz(i, value.asInstanceOf[Long])
    }

  def writeNull(i: Int): Unit =
    if (keepNull(i)) { field(i); putAscii("null") }

  def writeBoolean(i: Int, v: Boolean): Unit = { field(i); putAscii(if (v) "true" else "false") }

  def writeLong(i: Int, v: Long): Unit = { field(i); putLong(v) }

  def writeFloat(i: Int, v: Float): Unit = {
    field(i)
    if (java.lang.Float.isFinite(v)) putAscii(java.lang.Float.toString(v))
    else putQuoted(java.lang.Float.toString(v))
  }

  def writeDouble(i: Int, v: Double): Unit = {
    field(i)
    if (java.lang.Double.isFinite(v)) putAscii(java.lang.Double.toString(v))
    else putQuoted(java.lang.Double.toString(v))
  }

  def writeDecimal(i: Int, v: Decimal): Unit = { field(i); putAscii(v.toJavaBigDecimal.toString) }

  def writeString(i: Int, v: UTF8String): Unit = { field(i); putQuoted(v) }

  def writeDate(i: Int, days: Int): Unit = { field(i); putQuoted(dates.format(days)) }

  def writeTimestamp(i: Int, micros: Long): Unit = {
    field(i)
    putQuoted(timestamps.format(micros))
  }

  def writeTimestampNtz(i: Int, micros: Long): Unit = {
    field(i)
    putQuoted(timestampsNtz.format(DateTimeUtils.microsToLocalDateTime(micros)))
  }

  private def field(i: Int): Unit = {
    val name = names(i)
    ensure(name.length + 1)
    if (!first) { buf(len) = ','; len += 1 }
    first = false
    System.arraycopy(name, 0, buf, len, name.length)
    len += name.length
  }

  private def ensure(n: Int): Unit =
    if (len + n > buf.length) buf = Arrays.copyOf(buf, math.max(buf.length * 2, len + n))

  private def put(b: Char): Unit = { ensure(1); buf(len) = b.toByte; len += 1 }

  private def putAscii(s: String): Unit = {
    ensure(s.length)
    var k = 0
    while (k < s.length) { buf(len + k) = s.charAt(k).toByte; k += 1 }
    len += s.length
  }

  // Long.toString's digits without the String
  private def putLong(v: Long): Unit =
    if (v == Long.MinValue) putAscii("-9223372036854775808")
    else {
      ensure(20)
      var x = v
      if (x < 0) { buf(len) = '-'; len += 1; x = -x }
      var digits = 1
      var p = 10L
      while (digits < 19 && x >= p) { digits += 1; p *= 10 }
      var k = len + digits - 1
      while (k >= len) { buf(k) = ('0' + (x % 10)).toByte; x /= 10; k -= 1 }
      len += digits
    }

  // an ASCII control or JSON-special byte, escaped as Jackson escapes it;
  // the caller has reserved 6 bytes
  private def putEscape(b: Int): Unit = {
    val esc = Escapes(b)
    buf(len) = '\\'
    if (esc > 0) {
      buf(len + 1) = esc.toByte
      len += 2
    } else {
      buf(len + 1) = 'u'
      buf(len + 2) = '0'
      buf(len + 3) = '0'
      buf(len + 4) = Hex(b >> 4)
      buf(len + 5) = Hex(b & 0xf)
      len += 6
    }
  }

  private def putQuoted(s: UTF8String): Unit = {
    val start = len
    val n = s.numBytes
    ensure(n + 2)
    buf(len) = '"'
    len += 1
    var j = 0
    while (j < n) {
      val b = s.getByte(j)
      if (b >= 0) {
        if (Escapes(b) == 0) { buf(len) = b; len += 1 }
        else { ensure(n - j + 6); putEscape(b) }
        j += 1
      } else {
        val w = sequenceLength(s, j, n)
        if (w == 0) {
          // malformed UTF-8: render what to_json renders, the U+FFFD-
          // replaced decode
          len = start
          putQuoted(UTF8String.fromString(s.toString))
          return
        }
        var k = 0
        while (k < w) { buf(len + k) = s.getByte(j + k); k += 1 }
        len += w
        j += w
      }
    }
    buf(len) = '"'
    len += 1
  }

  private def putQuoted(s: String): Unit = {
    val start = len
    ensure(s.length + 2)
    buf(len) = '"'
    len += 1
    var k = 0
    while (k < s.length) {
      val c = s.charAt(k)
      if (c >= 0x80) {
        len = start
        putQuoted(UTF8String.fromString(s))
        return
      }
      if (Escapes(c) == 0) { buf(len) = c.toByte; len += 1 }
      else { ensure(s.length - k + 6); putEscape(c) }
      k += 1
    }
    buf(len) = '"'
    len += 1
  }
}

object JsonRecordWriter {
  private val Escapes: Array[Int] = CharTypes.get7BitOutputEscapes()
  private val Hex: Array[Byte] = "0123456789ABCDEF".getBytes("US-ASCII")
  private val factory = new JsonFactory()

  /** The writer method for each scalar field type: the types a flat
    * record may hold.
    */
  val method: PartialFunction[DataType, String] = {
    case BooleanType => "writeBoolean"
    case ByteType | ShortType | IntegerType | LongType => "writeLong"
    case FloatType => "writeFloat"
    case DoubleType => "writeDouble"
    case _: DecimalType => "writeDecimal"
    case _: StringType => "writeString"
    case DateType => "writeDate"
    case TimestampType => "writeTimestamp"
    case TimestampNTZType => "writeTimestampNtz"
  }

  /** `"name":` as Jackson writes it inside an object, in UTF-8. */
  private def renderName(name: String): Array[Byte] = {
    val out = new java.io.CharArrayWriter()
    val gen = factory.createGenerator(out)
    gen.writeStartObject()
    gen.writeFieldName(name)
    gen.writeNull()
    gen.writeEndObject()
    gen.close()
    val obj = out.toString // {"name":null}
    UTF8String.fromString(obj.substring(1, obj.length - "null}".length)).getBytes
  }

  /** Length of the well-formed UTF-8 sequence (Unicode Table 3-7, the
    * sequences Java's decoder accepts) whose lead byte is at `j`, or 0.
    */
  private def sequenceLength(s: UTF8String, j: Int, n: Int): Int = {
    def cont(k: Int, lo: Int, hi: Int): Boolean =
      k < n && { val c = s.getByte(k) & 0xff; c >= lo && c <= hi }
    val b = s.getByte(j) & 0xff
    if (b >= 0xc2 && b <= 0xdf) { if (cont(j + 1, 0x80, 0xbf)) 2 else 0 }
    else if (b >= 0xe0 && b <= 0xef) {
      val lo = if (b == 0xe0) 0xa0 else 0x80
      val hi = if (b == 0xed) 0x9f else 0xbf
      if (cont(j + 1, lo, hi) && cont(j + 2, 0x80, 0xbf)) 3 else 0
    } else if (b >= 0xf0 && b <= 0xf4) {
      val lo = if (b == 0xf0) 0x90 else 0x80
      val hi = if (b == 0xf4) 0x8f else 0xbf
      if (cont(j + 1, lo, hi) && cont(j + 2, 0x80, 0xbf) && cont(j + 3, 0x80, 0xbf)) 4
      else 0
    } else 0
  }
}
