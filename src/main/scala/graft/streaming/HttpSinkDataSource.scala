package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, RuntimeReplaceable, SafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.functions.{col, struct}
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
  * The driver parses one [[graft.http.SinkRuntime]] per write and builds
  * the row renderer from the configured [[graft.http.PayloadFormat]]'s
  * `encode` over the wire columns — the expression `HttpSink.write` plans,
  * so bundled (`json`, `csv`) and registered formats render byte-identical
  * bodies, timestamps in the session time zone. Executors evaluate the
  * bound renderer per row and submit through the shared bounded-in-flight
  * partition writer — identical batching, status classification, auth and
  * retry-by-task semantics on every surface. Delivery is at-least-once
  * (failed tasks retry and re-post their partition), matching the
  * reference's AsyncSink posture.
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
    // parsed once, on the driver: bad config fails fast here, and the
    // writers get the parsed runtime and the bound renderer
    val rt = SinkRuntime(options, Nil)
    if (wireSchema.isEmpty)
      throw new HttpConfigException(
        "graft-http-sink: written query must have at least one column")
    val render = renderer(rt, wireSchema)
    new WriteBuilder {
      override def build(): Write =
        if (rt.idempotencySort)
          // idempotency.sort on the DSv2 surface: declare a required
          // ordering over every written column so Spark PLANS the
          // intra-partition sort — writer input order (hence batch framing
          // and idempotency keys) becomes replay-stable even when the
          // inserted query ends in a shuffle (see graft.http.IdempotencyKeys)
          new HttpSinkWrite(rt, render) with RequiresDistributionAndOrdering {
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
        else new HttpSinkWrite(rt, render)
    }
  }

  /** The payload expression `HttpSink.write` plans —
    * `rt.format.encode(struct(<wire columns>))` cast to string — analyzed
    * over an empty relation of the wire schema (which resolves the session
    * time zone) and bound to the written row's ordinals. RuntimeReplaceable
    * nodes (the json format's `JsonRecord`, Spark 4's `to_json`) cannot
    * eval directly, so they are substituted the way the optimizer's
    * ReplaceExpressions rule would.
    */
  private def renderer(rt: SinkRuntime, wire: StructType): Expression = {
    val spark = SparkSession.active
    val rel = spark.createDataFrame(java.util.Collections.emptyList[Row](), wire)
    val record = struct(wire.fieldNames.toSeq.map(n => col(quoteIfNeeded(n))): _*)
    val Project(Seq(payload), child) =
      rel.select(rt.format.encode(record).cast("string")).queryExecution.analyzed
    def runtimeReady(e: Expression): Expression = e.transformUp {
      case r: RuntimeReplaceable => runtimeReady(r.replacement)
    }
    BindReferences.bindReference(runtimeReady(payload.children.head), child.output)
  }

  // minimal identifier quoting for the multi-part name parsers of
  // Expressions.column and col
  private def quoteIfNeeded(name: String): String =
    if (name.matches("[a-zA-Z_][a-zA-Z0-9_]*")) name
    else "`" + name.replace("`", "``") + "`"
}

/** The one write for batch and streaming: the writers post during
  * `write()`, task retry provides at-least-once, so commit and abort have
  * nothing to do.
  */
private[streaming] class HttpSinkWrite(rt: SinkRuntime, render: Expression)
    extends Write with BatchWrite with StreamingWrite {
  override def toBatch: BatchWrite = this
  override def toStreaming: StreamingWrite = this
  // both parents default to true; Scala needs the tie broken explicitly
  override def useCommitCoordinator(): Boolean = true
  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new HttpSinkDataWriterFactory(rt, render)
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new HttpSinkDataWriterFactory(rt, render)
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  override def commit(
      epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(
      epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = ()
}

private[streaming] class HttpSinkDataWriterFactory(
    rt: SinkRuntime,
    render: Expression)
    extends DataWriterFactory with StreamingDataWriterFactory {

  override def createWriter(
      partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new HttpSinkDataWriter(rt, render, 0L, partitionId)

  override def createWriter(
      partitionId: Int,
      taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new HttpSinkDataWriter(rt, render, epochId, partitionId)
}

private[streaming] object HttpSinkCommit extends WriterCommitMessage

private[streaming] class HttpSinkDataWriter(
    rt: SinkRuntime,
    render: Expression,
    epochId: Long,
    partitionId: Int) extends DataWriter[InternalRow] {

  private val pw = rt.newPartitionWriter(epochId, partitionId)
  private val project = SafeProjection.create(Seq(render))

  override def write(row: InternalRow): Unit =
    pw.add(project(row).getUTF8String(0))

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
