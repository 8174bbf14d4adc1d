package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.http.{CompletionState, HttpEndpoint, HttpExchange, HttpOptions, Json}

/** Rate-polling streaming HTTP source: `spark.readStream
  * .format("graft-http-poll").option("url", …)`. Goes beyond the reference's
  * lookup-join surface (which only *enriches* an existing stream) by making
  * an HTTP endpoint itself a stream: each micro-batch issues one GET/POST to
  * `url` and emits the response as rows.
  *
  * Semantics and scale posture:
  *   - The poll happens once per micro-batch on the DRIVER (an HTTP poll is
  *     inherently a single-endpoint, request-count-bound operation — there is
  *     nothing to distribute); the fetched rows are shipped to executors
  *     through the planned partition, so everything downstream (parse,
  *     window, join) runs distributed.
  *   - A JSON-array response body is split into one row per element
  *     (`split-array`, default true) with the element re-serialized as JSON —
  *     decode downstream with `from_json` inside codegen.
  *   - Offsets count successful polls. Responses are buffered driver-side
  *     until `commit()`; a restart cannot re-issue a historical HTTP request
  *     (the remote endpoint is not a replayable log), so uncommitted batches
  *     lost in a crash are re-planned as empty — at-most-once across
  *     restarts, exactly-once within a run. This mirrors the reference's
  *     at-least-/at-most-once posture for non-replayable HTTP (docs
  *     `table/http.md` delivery-guarantee notes).
  *   - `min-poll-interval` throttles: `latestOffset` only advances (and
  *     polls) after the interval elapses, otherwise the engine sees no new
  *     data and skips the batch.
  *
  * Reuses the lookup's [[graft.http.HttpEndpoint]] (client/TLS, headers +
  * auth, request callback, status classification, retry; reference:
  * `JavaNetHttpPollingClient.java` semantics), parsed with the stream and
  * opened into one exchange that it keeps; each poll waits on its exchange
  * with an interruptible get.
  *
  * Output schema: `poll_id BIGINT, item_index INT, status INT, body STRING,
  * poll_ts TIMESTAMP`.
  */
class HttpPollingSourceProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "graft-http-poll"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    HttpPollingSourceProvider.Schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new HttpPollingTable(properties.asScala.toMap)
}

object HttpPollingSourceProvider {
  val Schema: StructType = StructType(Seq(
    StructField("poll_id", LongType, nullable = false),
    StructField("item_index", IntegerType, nullable = false),
    StructField("status", IntegerType, nullable = true),
    StructField("body", StringType, nullable = true),
    StructField("poll_ts", TimestampType, nullable = false)))
}

private[streaming] class HttpPollingTable(options: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String =
    s"graft-http-poll(${options.getOrElse("url", "?")})"
  override def schema(): StructType = HttpPollingSourceProvider.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(caseInsensitive: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = HttpPollingSourceProvider.Schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new HttpPollingMicroBatchStream(options)
      }
    }
}

/** Offset = number of successful polls so far. */
private[streaming] final case class PollOffset(polls: Long) extends Offset {
  override def json(): String = s"""{"polls":$polls}"""
}

private[streaming] object PollOffset {
  private val Re = """\{"polls":(\d+)\}""".r
  def parse(json: String): PollOffset = json.trim match {
    case Re(n) => PollOffset(n.toLong)
    case other => throw new IllegalArgumentException(s"Bad poll offset: $other")
  }
}

private[streaming] class HttpPollingMicroBatchStream(opts: Map[String, String])
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private val o = HttpOptions(opts.toSeq: _*)
  private val url = o.required(HttpOptions.Url)
  private val method = o.str(HttpOptions.LookupMethod, "GET").toUpperCase
  private val body = o.strOpt(HttpOptions.PollBody).map(_.getBytes(UTF_8))
  private val splitArray = o.bool(HttpOptions.PollSplitArray, default = true)
  private val minPollIntervalMs = o.durationMs(HttpOptions.PollMinInterval, 0L)

  // no content type: a POST poll sends its body bare
  private val endpoint = HttpEndpoint.lookup(o, Nil)
  @transient private lazy val exchange = endpoint.exchange()

  // poll_id -> rows fetched by that poll, evicted on commit
  private val buffered =
    new ConcurrentHashMap[Long, Array[HttpPollingMicroBatchStream.PollRow]]()
  @volatile private var polls = 0L
  @volatile private var lastPollAtMs = 0L

  // Trigger.AvailableNow: one poll up front, then the run drains to that
  // fixed target and stops. The poll itself is deferred to the first
  // latestOffset(start, _) call so the counter can be rehydrated from the
  // checkpoint first (prepareForTriggerAvailableNow doesn't see the offset).
  @volatile private var availableNowRequested = false
  @volatile private var availableNowTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowRequested = true
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Restart contract: a fresh instance starts with polls=0, but the
    * checkpoint's committed offset is N — without rehydration every reported
    * offset would regress below the commit and fresh polls (ids 1..N) would be
    * evicted by commit(end<=N) without ever being planned. Fast-forward the
    * counter to the checkpointed start before polling.
    */
  private def rehydrate(start: Offset): Unit = {
    val n = start.asInstanceOf[PollOffset].polls
    if (n > polls) polls = n
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    rehydrate(start)
    if (availableNowRequested) {
      if (availableNowTarget.isEmpty) {
        pollOnce()
        availableNowTarget = Some(polls)
      }
      PollOffset(availableNowTarget.get)
    } else latestOffset()
  }

  override def reportLatestOffset(): Offset = PollOffset(polls)

  override def initialOffset(): Offset = PollOffset(0L)
  override def deserializeOffset(json: String): Offset = PollOffset.parse(json)

  override def latestOffset(): Offset = {
    pollOnce()
    PollOffset(polls)
  }

  private def pollOnce(): Unit = {
    val now = System.currentTimeMillis()
    if (now - lastPollAtMs >= minPollIntervalMs) {
      lastPollAtMs = now
      val outcome = HttpExchange.await(exchange.send(method, url, body))
      if (outcome.state == CompletionState.Success && outcome.body != null) {
        val rows = HttpPollingMicroBatchStream
          .toRows(polls + 1, outcome.status, outcome.body, now, splitArray)
        buffered.put(polls + 1, rows)
        polls += 1
      }
      // non-success → no offset advance; next trigger re-polls
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    rehydrate(start)
    val from = start.asInstanceOf[PollOffset].polls
    val to = end.asInstanceOf[PollOffset].polls
    val rows = ((from + 1) to to).flatMap { id =>
      // missing ids = buffered data lost to a restart (see Scaladoc)
      Option(buffered.get(id)).getOrElse(Array.empty[HttpPollingMicroBatchStream.PollRow])
    }.toArray
    Array(HttpPollPartition(rows))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new HttpPollPartitionReader(p.asInstanceOf[HttpPollPartition].rows)
    }

  override def commit(end: Offset): Unit = {
    val upTo = end.asInstanceOf[PollOffset].polls
    buffered.keySet().asScala.filter(_ <= upTo).foreach(buffered.remove(_))
  }

  override def stop(): Unit = ()
}

private[streaming] object HttpPollingMicroBatchStream {
  /** (poll_id, item_index, status, body, poll epoch millis) */
  type PollRow = (Long, Int, Int, String, Long)

  def toRows(
      pollId: Long,
      status: Int,
      body: String,
      nowMs: Long,
      splitArray: Boolean): Array[PollRow] = {
    val items: Seq[String] =
      if (splitArray && body.trim.startsWith("[")) {
        try {
          val node = Json.mapper.readTree(body)
          if (node.isArray)
            node.elements().asScala.map(Json.mapper.writeValueAsString).toSeq
          else Seq(body)
        } catch { case _: Exception => Seq(body) }
      } else Seq(body)
    items.zipWithIndex.map { case (item, i) =>
      (pollId, i, status, item, nowMs)
    }.toArray
  }
}

private[streaming] final case class HttpPollPartition(
    rows: Array[HttpPollingMicroBatchStream.PollRow]) extends InputPartition

private[streaming] final class HttpPollPartitionReader(
    rows: Array[HttpPollingMicroBatchStream.PollRow])
    extends PartitionReader[InternalRow] {
  private var i = -1
  override def next(): Boolean = { i += 1; i < rows.length }
  override def get(): InternalRow = {
    val (pollId, idx, status, body, ms) = rows(i)
    InternalRow(
      pollId,
      idx,
      status,
      if (body == null) null else UTF8String.fromString(body),
      ms * 1000L) // TimestampType internal value is epoch micros
  }
  override def close(): Unit = ()
}
