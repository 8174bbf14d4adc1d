package graft.http

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnShim, JsonRecord}
import org.apache.spark.sql.types._

/** Pluggable payload (de)serialization for the HTTP lookup source and sink —
  * the Spark-native analog of the reference's format discovery
  * (`table/lookup/HttpLookupTableSourceFactory.java:103-112`
  * `discoverDecodingFormat`, `table/SerializationSchemaElementConverter
  * .java`): where Flink discovers `DecodingFormat` factories through SPI and
  * runs them row-by-row, a graft format is a CATALYST EXPRESSION builder —
  * encode/decode stay inside whole-stage codegen, and custom formats
  * register Columns, not codecs.
  *
  * The lookup source resolves the response format from `format` and the
  * request-body format from `lookup-request.format`; the sink resolves its
  * payload format from `format`. Anything registered via
  * [[PayloadFormats.register]] is resolvable by name.
  *
  * A registered format's contract with the sink: `encode` yields one
  * string per record, and [[framing]] names the three parts a batch body
  * is built from. The sink never sees anything else, so it frames every
  * batch in bytes, without Strings.
  */
trait PayloadFormat extends Serializable {

  /** Registry/option name (`json`, `csv`, ...). */
  def name: String

  /** `Content-Type` sent with request bodies rendered by this format. */
  def contentType: String

  /** Render a struct column (the request key fields / the sink row) into a
    * body string column.
    */
  def encode(record: Column): Column

  /** Decode one response body into `schema` plus a trailing `corruptField`
    * string column that is non-null when the body is undecodable (the
    * PERMISSIVE corrupt-record contract — the lookup pipeline classifies
    * such responses as UNABLE_TO_DESERIALIZE_RESPONSE).
    */
  def decode(body: Column, schema: StructType, corruptField: String): Column

  /** Decode an array-of-records response (`result-type=array`), or None when
    * the wire format has no array framing.
    */
  def decodeArray(
      body: Column,
      schema: StructType,
      corruptField: String): Option[Column]

  /** How a sink batch is framed: its body is the UTF-8 bytes of `open`,
    * the rendered payloads joined by `separator`, then `close`. The sink's
    * partition writer copies each payload's bytes into its buffer between
    * these parts, so a registered format frames batches through these
    * three strings alone.
    */
  def framing: BatchFraming

  /** One sink-batch request body as a String, framed by [[framing]]. */
  final def frameBatch(payloads: Seq[String]): String =
    payloads.mkString(framing.open, framing.separator, framing.close)

  /** Column of the TOP-LEVEL key names present in one record body (null
    * when the body is undecodable), or None when the wire format cannot
    * enumerate keys — strict missing-field decode
    * (`json.fail-on-missing-field`) is then unsupported for this format.
    */
  def recordKeys(body: Column): Option[Column] = None

  /** Per-element key names for an array-of-records body (array of arrays,
    * null when undecodable); None when unsupported.
    */
  def recordKeysArray(body: Column): Option[Column] = None
}

/** JSON wire format (the reference's only bundled format). */
case object JsonPayloadFormat extends PayloadFormat {
  def name = "json"
  def contentType = "application/json"

  // to_json's bytes from an encoder specialized to the record's schema
  // (org.apache.spark.sql.graft.JsonRecord)
  def encode(record: Column): Column =
    ColumnShim.column(JsonRecord(ColumnShim.expression(record)))

  private def withCorrupt(schema: StructType, corruptField: String) =
    StructType(schema.fields :+ StructField(corruptField, StringType))

  def decode(body: Column, schema: StructType, corruptField: String): Column =
    from_json(
      body,
      withCorrupt(schema, corruptField),
      Map("columnNameOfCorruptRecord" -> corruptField))

  def decodeArray(
      body: Column,
      schema: StructType,
      corruptField: String): Option[Column] =
    Some(
      from_json(
        body,
        ArrayType(withCorrupt(schema, corruptField)),
        Map("columnNameOfCorruptRecord" -> corruptField)))

  val framing = BatchFraming("[", ",", "]")

  // strict-decode support: a MapType re-parse keeps EVERY top-level key
  // (nested values render as their raw json), so `map_keys` enumerates the
  // body's fields regardless of the declared schema — all inside codegen
  override def recordKeys(body: Column): Option[Column] =
    Some(map_keys(from_json(body, MapType(StringType, StringType))))

  override def recordKeysArray(body: Column): Option[Column] =
    Some(
      transform(
        from_json(body, ArrayType(MapType(StringType, StringType))),
        e => map_keys(e)))
}

/** CSV wire format: one record per line, RFC-4180-style quoting via Spark's
  * native `to_csv`/`from_csv` (codegen'd). `result-type=array` is not
  * supported — CSV has no array framing; sink batches frame as one record
  * per line.
  *
  * Lookup decode contract: the response body must be exactly ONE CSV record
  * (`from_csv` would otherwise silently parse just the first line — a header
  * row as data, or record one of many). A trailing newline is tolerated; any
  * other embedded `\r`/`\n` (multi-record bodies, header+data responses,
  * quoted embedded newlines) routes the whole body to the corrupt column and
  * classifies as UNABLE_TO_DESERIALIZE_RESPONSE.
  */
case object CsvPayloadFormat extends PayloadFormat {
  def name = "csv"
  def contentType = "text/csv"

  def encode(record: Column): Column = to_csv(record)

  def decode(body: Column, schema: StructType, corruptField: String): Column = {
    val record = regexp_replace(body, "[\\r\\n]+\\z", "")
    val corrupt = struct(
      schema.fields.map(f => lit(null).cast(f.dataType).as(f.name)) :+
        body.as(corruptField): _*)
    when(record.rlike("[\\r\\n]"), corrupt)
      .otherwise(
        from_csv(
          record,
          StructType(schema.fields :+ StructField(corruptField, StringType)),
          Map(
            "columnNameOfCorruptRecord" -> corruptField,
            "mode" -> "PERMISSIVE")))
  }

  def decodeArray(
      body: Column,
      schema: StructType,
      corruptField: String): Option[Column] = None

  val framing = BatchFraming("", "\n", "")
}

/** The three parts a sink batch body is framed from (see
  * [[PayloadFormat.framing]]).
  */
final case class BatchFraming(open: String, separator: String, close: String)

object PayloadFormats {
  private val registry = TrieMap[String, PayloadFormat](
    JsonPayloadFormat.name -> JsonPayloadFormat,
    CsvPayloadFormat.name -> CsvPayloadFormat)

  /** Register a caller-supplied format (the SPI-discovery analog). */
  def register(format: PayloadFormat): Unit =
    registry.put(format.name.toLowerCase, format)

  def known: Seq[String] = registry.keys.toSeq.sorted

  def apply(name: String): PayloadFormat =
    registry.getOrElse(
      name.toLowerCase,
      throw new HttpConfigException(
        s"Unknown payload format '$name' (registered: ${known.mkString(", ")})"))
}
