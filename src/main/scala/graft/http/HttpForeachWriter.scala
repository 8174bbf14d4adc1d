package graft.http

import org.apache.spark.sql.{ForeachWriter, Row}
import org.apache.spark.unsafe.types.UTF8String

/** Per-row streaming HTTP sink: `writeStream.foreach(new HttpForeachWriter
  * (options, colIdx))` — the streaming analog of the reference sink's
  * `single` submission mode (reference: `sink/httpclient/PerRequestSubmitter
  * .java`), for pipelines that need one request per record with
  * back-pressure from the stream engine itself.
  *
  * The row is expected to carry the rendered payload string at `payloadIdx`
  * (stage it with `to_json(struct(...))` in the stream's select — same
  * render-in-Catalyst design as the batch sink). Each partition-epoch is a
  * single-mode [[SinkRuntime]] partition writer, so every sink option
  * (headers, auth, `http.sink.request-callback`, `sink.requests.max-inflight`,
  * idempotency keys) means what it means for the batch sink, except that
  * `sink.requests.max-inflight` defaults to 1: one request at a time, in
  * row order.
  */
final class HttpForeachWriter(
    options: Map[String, String],
    payloadIdx: Int = 0,
    headerPreprocessors: Seq[HeaderPreprocessor] = Nil)
    extends ForeachWriter[Row] {

  private val runtime = SinkRuntime(
    Map(HttpOptions.SinkMaxInflight -> "1") ++ options +
      (HttpOptions.SinkRequestMode -> "single"),
    headerPreprocessors)
  @transient private var writer: SinkRuntime.PartitionWriter = _

  override def open(partitionId: Long, epochId: Long): Boolean = {
    writer = runtime.newPartitionWriter(epochId, partitionId.toInt)
    true
  }

  override def process(row: Row): Unit =
    writer.add(UTF8String.fromString(row.getString(payloadIdx)))

  override def close(errorOrNull: Throwable): Unit =
    if (errorOrNull == null) writer.flush() else writer.abort()
}
