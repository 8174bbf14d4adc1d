package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, CreateNamedStruct, Literal, SafeProjection, StructsToCsv, StructsToJson}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.http.{HttpConfigException, SinkRuntime}

/** DSv2 write surface for the HTTP sink — the `spark.sql` analog of the
  * reference's SQL-first sink table (`table/sink/HttpDynamicSinkFactory
  * .java`: `CREATE TABLE … WITH ('connector'='http-async-sink', …)` +
  * `INSERT INTO`). Batch and Structured Streaming writes share one
  * implementation:
  *
  * {{{
  * df.write.format("graft-http-sink").option("url", …).mode("append").save()
  * stream.writeStream.format("graft-http-sink").option("url", …).start()
  * CREATE TABLE t (…) USING `graft-http-sink` OPTIONS (url '…');
  * INSERT INTO t SELECT …;
  * }}}
  *
  * Rows are rendered executor-side by the same Catalyst expressions the
  * Scala API plans (`StructsToJson` / `StructsToCsv` over the write schema)
  * and submitted through the shared [[graft.http.SinkRuntime]]
  * bounded-in-flight partition writer — identical batching, status
  * classification, auth and retry-by-task semantics on every surface.
  * Delivery is at-least-once (failed tasks retry and re-post their
  * partition), matching the reference's AsyncSink posture.
  *
  * Custom registered [[graft.http.PayloadFormat]]s encode through Column
  * trees that need full plan analysis; the DSv2 writer supports the bundled
  * `json`/`csv` formats and points custom-format users at
  * `HttpSink.write(df, …)`.
  */
class HttpSinkDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "graft-http-sink"

  override def supportsExternalMetadata(): Boolean = true

  // write-only source: the effective schema is the written query's schema
  // (LogicalWriteInfo), surfaced via ACCEPT_ANY_SCHEMA
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType()

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new HttpSinkTable(schema, properties.asScala.toMap)
}

private[streaming] class HttpSinkTable(
    schema0: StructType,
    options: Map[String, String]) extends Table with SupportsWrite {

  override def name(): String =
    s"graft-http-sink(${options.getOrElse("url", "?")})"

  override def schema(): StructType = schema0

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE,
      TableCapability.ACCEPT_ANY_SCHEMA)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // ACCEPT_ANY_SCHEMA hands us the QUERY's schema; when the table was
    // declared with DDL (CREATE TABLE ... USING graft-http-sink), the
    // table's column NAMES are the wire contract — take them positionally
    // over the query's auto-generated expression names, keeping the query's
    // physical types.
    val qSchema = info.schema()
    val wireSchema =
      if (schema0.isEmpty) qSchema
      else if (schema0.length == qSchema.length)
        StructType(qSchema.fields.zip(schema0.fields).map {
          case (q, t) => q.copy(name = t.name)
        })
      else
        throw new HttpConfigException(
          s"graft-http-sink: written query has ${qSchema.length} columns " +
            s"but the table declares ${schema0.length}")
    // fail fast on the driver for bad config / unsupported format
    HttpSinkDataWriterFactory.validate(wireSchema, options)
    val sortForIdempotency = graft.http.HttpOptions(options)
      .bool(graft.http.HttpOptions.SinkIdempotencySort, default = false)
    new WriteBuilder {
      override def build(): Write =
        if (sortForIdempotency)
          // idempotency.sort on the DSv2 surface: declare a required
          // ordering over every written column so Spark PLANS the
          // intra-partition sort — writer input order (hence batch framing
          // and idempotency keys) becomes replay-stable even when the
          // inserted query ends in a shuffle (see graft.http.IdempotencyKeys)
          new HttpSinkWrite(wireSchema, options)
            with RequiresDistributionAndOrdering {
            override def requiredDistribution(): Distribution =
              Distributions.unspecified()
            override def requiredNumPartitions(): Int = 0
            override def requiredOrdering(): Array[SortOrder] =
              // query attribute names, not the DDL wire names — the sort is
              // planned against the INSERTed query's own output columns
              info.schema().fieldNames.map(n =>
                Expressions.sort(
                  Expressions.column(quoteIfNeeded(n)),
                  SortDirection.ASCENDING))
          }
        else new HttpSinkWrite(wireSchema, options)
    }
  }

  // minimal identifier quoting for Expressions.column's multi-part parser
  private def quoteIfNeeded(name: String): String =
    if (name.matches("[a-zA-Z_][a-zA-Z0-9_]*")) name
    else "`" + name.replace("`", "``") + "`"
}

private[streaming] class HttpSinkWrite(
    schema: StructType,
    options: Map[String, String]) extends Write {
  override def toBatch: BatchWrite = new HttpSinkBatchWrite(schema, options)
  override def toStreaming: StreamingWrite =
    new HttpSinkStreamingWrite(schema, options)
}

private[streaming] class HttpSinkBatchWrite(
    schema: StructType,
    options: Map[String, String]) extends BatchWrite {
  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new HttpSinkDataWriterFactory(schema, options)
  // writers post during write(); task retry provides at-least-once
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private[streaming] class HttpSinkStreamingWrite(
    schema: StructType,
    options: Map[String, String]) extends StreamingWrite {
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new HttpSinkDataWriterFactory(schema, options)
  override def commit(
      epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(
      epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = ()
}

private[streaming] object HttpSinkDataWriterFactory {
  /** Driver-side validation: parse options and reject formats the DSv2
    * writer cannot render without plan analysis.
    */
  def validate(schema: StructType, options: Map[String, String]): Unit = {
    val rt = SinkRuntime(options, Nil)
    rt.format.name match {
      case "json" | "csv" => ()
      case other =>
        throw new HttpConfigException(
          s"graft-http-sink supports the bundled json/csv formats; " +
            s"custom format '$other' renders through Column expressions — " +
            "use HttpSink.write(df, options) instead")
    }
    if (schema.isEmpty)
      throw new HttpConfigException(
        "graft-http-sink: written query must have at least one column")
  }
}

private[streaming] class HttpSinkDataWriterFactory(
    schema: StructType,
    options: Map[String, String])
    extends DataWriterFactory with StreamingDataWriterFactory {

  override def createWriter(
      partitionId: Int,
      taskId: Long): DataWriter[InternalRow] = make(0L, partitionId)

  override def createWriter(
      partitionId: Int,
      taskId: Long,
      epochId: Long): DataWriter[InternalRow] = make(epochId, partitionId)

  private def make(epochId: Long, partitionId: Int): DataWriter[InternalRow] =
    new HttpSinkDataWriter(schema, options, epochId, partitionId)
}

private[streaming] object HttpSinkCommit extends WriterCommitMessage

private[streaming] class HttpSinkDataWriter(
    schema: StructType,
    options: Map[String, String],
    epochId: Long = 0L,
    partitionId: Int = 0) extends DataWriter[InternalRow] {

  private val rt = SinkRuntime(options, Nil)
  private val pw = rt.newPartitionWriter(epochId, partitionId)

  // The same rendering the Scala API plans with to_json/to_csv, as a bound
  // (pre-resolved) expression over the write schema — evaluated per row in
  // the writer, no analyzer pass needed. UTC pins timestamp rendering.
  private val render = {
    val structExpr = CreateNamedStruct(
      schema.fields.toIndexedSeq.zipWithIndex.flatMap { case (f, i) =>
        Seq(
          Literal(f.name),
          BoundReference(i, f.dataType, f.nullable))
      })
    val payloadExpr = rt.format.name match {
      case "json" => StructsToJson(Map.empty, structExpr, Option("UTC"))
      case "csv" => StructsToCsv(Map.empty, structExpr, Option("UTC"))
      case other => // validated driver-side; defensive
        throw new HttpConfigException(s"unsupported DSv2 sink format '$other'")
    }
    // RuntimeReplaceable (StructsToJson in Spark 4) cannot eval directly —
    // substitute replacements the way the optimizer's ReplaceExpressions
    // rule would before building the projection
    def runtimeReady(
        e: org.apache.spark.sql.catalyst.expressions.Expression)
        : org.apache.spark.sql.catalyst.expressions.Expression =
      e.transformUp {
        case r: org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable =>
          runtimeReady(r.replacement)
      }
    SafeProjection.create(Seq(runtimeReady(payloadExpr)))
  }

  override def write(row: InternalRow): Unit =
    pw.add(render(row).getUTF8String(0).toString)

  override def commit(): WriterCommitMessage = {
    pw.flush()
    HttpSinkCommit
  }

  // cancel the recurring flush timer and the in-flight requests on the
  // failure path — an orphaned timer would outlive the task and double-send
  // the buffered partial batch alongside Spark's retry; idempotent after a
  // successful commit
  override def abort(): Unit = pw.abort()

  override def close(): Unit = pw.abort()
}
