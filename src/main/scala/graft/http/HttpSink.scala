package graft.http

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{CancellationException, Semaphore}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** HTTP sink — the Spark-native re-expression of the reference's sink
  * (`sink/HttpSinkInternal.java`, `sink/httpclient/BatchRequestSubmitter.java`,
  * `table/sink/HttpDynamicSink.java`).
  *
  * Rows are rendered *in Catalyst* by the configured [[PayloadFormat]]
  * (`format`, default `json` → the schema-specialized `JsonRecord`
  * encoder, byte-identical to `to_json`, codegen) before the I/O layer
  * ever sees them, and stay UTF-8 bytes from there to the wire: `write`
  * runs over the plan's `InternalRow`s and hands each rendered
  * `UTF8String` to the partition writer, which copies its bytes into
  * one buffer per task. Each partition submits payloads to the endpoint
  * either in `batch` mode (bodies of `http.sink.request.batch.size`
  * records framed by the format, default 500 — reference docs "Batch
  * submission mode") or `single` mode (one request per row), with bounded
  * in-flight concurrency (`sink.requests.max-inflight` /
  * `http.sink.writer.thread-pool.size`).
  *
  * Failure semantics: a response classified as error (default `4XX,5XX`,
  * configurable via `http.sink.error.code` / `.exclude`) or an IOException
  * fails the Spark task — Spark's task retry then re-submits the partition,
  * giving the same at-least-once delivery as the reference's AsyncSink
  * requeue. Batches are independent, so scale-out is linear in partitions.
  *
  * For Structured Streaming use [[HttpSink.foreachBatchWriter]] with
  * `writeStream.foreachBatch` (append mode, at-least-once), mirroring the
  * reference's streaming sink. Every sink surface — this object,
  * [[HttpForeachWriter]] and the DSv2 `graft-http-sink` table — parses one
  * [[SinkRuntime]] per write and sends through its partition writer.
  */
object HttpSink {

  /** Write `df` to the configured endpoint. `payload` defaults to the
    * whole-row record rendered by the configured format
    * (`format.encode(struct(*))`), matching the reference's format element
    * converter (`table/SerializationSchemaElementConverter.java`); pass a
    * custom Column for custom wire formats (the DataStream-API
    * `ElementConverter` analog).
    */
  def write(
      df: DataFrame,
      options: Map[String, String],
      payload: Option[Column] = None,
      headerPreprocessors: Seq[HeaderPreprocessor] = Nil,
      epochId: Long = 0L): Unit = {
    val rt = SinkRuntime(options, headerPreprocessors)
    val payloadCol =
      payload.getOrElse(rt.format.encode(struct(df.columns.map(col): _*)))
    val rendered = df.select(payloadCol.cast("string").as("payload"))
    // idempotency.sort: deterministic intra-partition order (local sort, no
    // shuffle) so batch framing — and with it every idempotency key — is
    // replay-stable even when the upstream plan ends in a shuffle, whose
    // reduce-side fetch order Spark does not fix (see IdempotencyKeys)
    val staged =
      if (rt.idempotencySort) rendered.sortWithinPartitions("payload")
      else rendered

    // the rendered payloads stay UTF8String from the encoder to the
    // writer's byte buffer: no Row decode, no String; still one SQL
    // execution, as foreachPartition would run
    val qe = staged.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("HttpSink.write")) {
      qe.toRdd.foreachPartition { rows =>
        val w = rt.newPartitionWriter(
          epochId,
          org.apache.spark.TaskContext.getPartitionId())
        // one writer per task: abort it (timer + in-flight requests) when
        // the task ends; a no-op after a successful flush()
        HttpExchange.onTaskEnd(w.abort())
        rows.foreach(r => w.add(r.getUTF8String(0)))
        w.flush()
      }
    }
  }

  /** `writeStream.foreachBatch(HttpSink.foreachBatchWriter(options))`.
    * The micro-batch id becomes the replay epoch for idempotency keys: a
    * re-run batch (post-failure recovery) re-sends the same key SET —
    * exactly, in single mode or under `http.sink.idempotency.sort`; see
    * [[IdempotencyKeys]] for the precise guarantee.
    */
  def foreachBatchWriter(
      options: Map[String, String],
      payload: Option[Column] = None,
      headerPreprocessors: Seq[HeaderPreprocessor] = Nil): (DataFrame, Long) => Unit =
    (batchDf, batchId) =>
      write(batchDf, options, payload, headerPreprocessors, epochId = batchId)
}

/** Deterministic request identity for replay deduplication.
  *
  * The reference persists un-flushed sink buffers in Flink checkpoint state
  * (`sink/HttpSinkWriterStateSerializer.java:30-41`) so a restored job
  * re-submits exactly the buffered requests. Spark's recovery unit is the
  * partition/micro-batch — a failed task or a recovered stream REPLAYS the
  * partition. The Spark-idiomatic equivalent of the reference's guarantee is
  * deterministic request IDENTITY: every request carries a key an endpoint
  * that stores seen keys (the standard `Idempotency-Key` contract) can
  * deduplicate on, turning at-least-once delivery into effectively-once.
  * Enabled by setting `http.sink.idempotency.header` to the header name the
  * endpoint expects; off by default.
  *
  * '''What is actually guaranteed.''' The key is
  * `[nonce-]<epoch>-<partition>-<sha256(body) first 16 hex>-<occurrence>`
  * where `occurrence` counts prior requests with the SAME body hash in this
  * (epoch, partition) — NOT an arrival sequence number. A replayed
  * partition therefore re-emits the identical key SET under any
  * within-partition reorder of its rows in `single` mode, because the
  * multiset of request bodies is order-invariant. Spark guarantees
  * partition CONTENTS are deterministic on replay (hash partitioning is
  * content-addressed; round-robin repartition sorts first —
  * `spark.sql.execution.sortBeforeRepartition`), but NOT reduce-side fetch
  * ORDER, which is exactly the gap occurrence keying closes.
  *
  * In `batch` mode the request body itself concatenates `batch.size` rows
  * in arrival order, so reorder changes the bodies, not just the keys. Set
  * `http.sink.idempotency.sort=true` to sort payloads WITHIN each partition
  * before batching (a local spillable sort, no shuffle; on the DSv2 table
  * it is declared as the write's required ordering so Spark plans the
  * sort) — batch boundaries and bodies are then replay-stable too.
  *
  * Batch-mode `write` runs on the default epoch 0: two intentional job runs
  * over identical data emit identical keys, and an endpoint still holding
  * the first run's keys will drop the second's — set
  * `http.sink.idempotency.nonce` per run when re-runs must be distinct
  * deliveries (streaming replays of a FAILED epoch must NOT set a fresh
  * nonce: same nonce = same keys is what makes the replay deduplicable).
  */
private[graft] object IdempotencyKeys {

  private[http] def bodyHex(body: Array[Byte]): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256").digest(body)
    d.take(8).map(b => f"$b%02x").mkString
  }

  /** Per-(epoch, partition) key generator. Occurrence counting needs one
    * map entry per DISTINCT request body in the partition — bounded by the
    * partition's request count (batches, or rows in single mode), the same
    * order of memory the in-flight request machinery already implies.
    */
  final class Keyer(nonce: String, epochId: Long, partitionId: Int)
      extends Serializable {
    private val seen = new scala.collection.mutable.LongMap[Int]()
    private val prefix = (if (nonce.isEmpty) "" else s"$nonce-") +
      s"$epochId-$partitionId-"

    def keyFor(body: Array[Byte]): String = {
      val hex = bodyHex(body)
      val h = java.lang.Long.parseUnsignedLong(hex, 16)
      val occ = seen.getOrElse(h, 0)
      seen(h) = occ + 1
      s"$prefix$hex-$occ"
    }
  }
}

/** Fully-parsed sink configuration, shared by every sink surface (the Scala
  * `HttpSink.write`, `foreachBatch`, [[HttpForeachWriter]] and the DSv2
  * `graft-http-sink` table): built once per write, on the driver, by
  * [[SinkRuntime.apply]] — the only place sink defaults live — shipped to
  * executors, which open one [[SinkRuntime.newPartitionWriter partition
  * writer]] per task. Every surface hands the writer rendered payloads as
  * `UTF8String`s; only [[HttpForeachWriter]], whose rows are external,
  * converts from a String.
  */
private[graft] final case class SinkRuntime(
    url: String,
    format: PayloadFormat,
    method: String,
    mode: String,
    batchSize: Int,
    maxInflight: Int,
    endpoint: HttpEndpoint,
    idempotencyHeader: Option[String],
    idempotencyNonce: String,
    idempotencySort: Boolean,
    flushTimeoutMs: Long,
    stage1MaxRows: Int,
    flushBufferBytes: Long) {

  /** Executor-side writer for one task. `epochId`/`partitionId` seed
    * deterministic [[IdempotencyKeys]] when `http.sink.idempotency.header`
    * is configured.
    */
  def newPartitionWriter(
      epochId: Long = 0L,
      partitionId: Int = 0): SinkRuntime.PartitionWriter =
    new SinkRuntime.PartitionWriter(this, epochId, partitionId)
}

private[graft] object SinkRuntime {

  def apply(
      options: Map[String, String],
      headerPreprocessors: Seq[HeaderPreprocessor]): SinkRuntime = {
    val o = HttpOptions(options)
    val url = o.required(HttpOptions.Url)
    // `format` resolves payload rendering, batch framing and the content
    // type through the PayloadFormats registry (reference:
    // SerializationSchemaElementConverter discovers the table's format)
    val format = PayloadFormats(o.str(HttpOptions.Format, "json"))
    val method = o.str(HttpOptions.InsertMethod, "POST").toUpperCase
    if (method != "POST" && method != "PUT")
      throw new HttpConfigException(
        s"insert-method must be POST or PUT, got '$method'")
    val mode = o.str(HttpOptions.SinkRequestMode, "batch")
    val batchSize = mode match {
      case "batch" => o.int(HttpOptions.SinkBatchSize, 500)
      case "single" => 1
      case other =>
        throw new HttpConfigException(s"Unknown sink request mode '$other'")
    }
    validateMaxBuffered(o, batchSize)
    SinkRuntime(
      url = url,
      format = format,
      method = method,
      mode = mode,
      batchSize = batchSize,
      maxInflight = math.max(
        1,
        math.min(
          o.int(HttpOptions.SinkMaxInflight, 4),
          o.int(HttpOptions.SinkThreadPool, 4))),
      endpoint = HttpEndpoint.sink(o, headerPreprocessors)
        .withDefaultContentType(format.contentType),
      idempotencyHeader = o.strOpt(HttpOptions.SinkIdempotencyHeader),
      idempotencyNonce = o.str(HttpOptions.SinkIdempotencyNonce, ""),
      idempotencySort = o.bool(HttpOptions.SinkIdempotencySort, default = false),
      flushTimeoutMs = o.durationMs(HttpOptions.SinkFlushTimeout, 0L),
      stage1MaxRows = o.int(HttpOptions.SinkBatchMaxSize, 500),
      flushBufferBytes = o.long(HttpOptions.SinkFlushBufferSize, 5L * 1024 * 1024))
  }

  /** `sink.requests.max-buffered` (reference maxBufferedRequests, default
    * 10000): the pull-based partition writer buffers at most one request's
    * rows, so any value >= the request batch size is honored by
    * construction — and anything smaller is impossible, a config error.
    */
  private[graft] def validateMaxBuffered(o: HttpOptions, batchSize: Int): Unit = {
    val maxBuffered = o.int(HttpOptions.SinkMaxBuffered, 10000)
    if (maxBuffered < batchSize)
      throw new HttpConfigException(
        s"${HttpOptions.SinkMaxBuffered}=$maxBuffered is below " +
          s"${HttpOptions.SinkBatchSize}=$batchSize — the writer must " +
          "buffer up to one full batch")
  }

  /** Shared daemon scheduler for time-based partial-batch flushes: one
    * thread per executor JVM regardless of task count (the checks are
    * microsecond no-ops unless a flush fires).
    */
  private lazy val flushScheduler =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-http-sink-flush")
      t.setDaemon(true)
      t
    })

  /** One task's sink writer (reference: `sink/httpclient/
    * BatchRequestSubmitter.java` — async submit, bounded in-flight, errors
    * surface on flush). It copies each payload's UTF-8 bytes into one
    * growable buffer, framed as it goes by the format's open, separator
    * and close parts ([[PayloadFormat.framing]]); a taken batch is one
    * exact-size byte array, which the idempotency key hashes and
    * [[HttpExchange.send]] sends as it is. Requests go through the
    * writer's own [[HttpExchange]] with at most `maxInflight` on the wire;
    * the first async failure is recorded: `add` rethrows it at the next
    * send, `flush` submits the tail batch, waits for every response and
    * rethrows it (failing the task → Spark retry → at-least-once).
    * `sink.flush-buffer.size` counts the payloads' UTF-8 bytes exactly.
    *
    * The writer's monitor guards the buffer and the idempotency keyer and
    * is held only for non-blocking work: the task thread waits for an
    * in-flight permit outside it, so a saturated writer never stalls the
    * shared flush-timer thread.
    */
  private[graft] final class PartitionWriter(
      rt: SinkRuntime,
      epochId: Long,
      partitionId: Int) {
    import rt.{batchSize, flushBufferBytes, flushTimeoutMs, stage1MaxRows}

    private val exchange = rt.endpoint.exchange()
    private val permits = new Semaphore(rt.maxInflight)
    @volatile private var failure: Throwable = _
    private val keying = rt.idempotencyHeader.map(h =>
      (h, new IdempotencyKeys.Keyer(rt.idempotencyNonce, epochId, partitionId)))

    // the batch being built, framed as it grows: `open`, payloads joined by
    // `separator` (`close` is appended when it is taken); single mode sends
    // the one payload as-is, unframed
    private val framed = rt.mode != "single"
    private val open = rt.format.framing.open.getBytes(UTF_8)
    private val separator = rt.format.framing.separator.getBytes(UTF_8)
    private val close = rt.format.framing.close.getBytes(UTF_8)
    private var buf = new Array[Byte](4096)
    private var len = 0
    private var rowsInBatch = 0
    private var oldestAddNanos = 0L
    private var bytesInBatch = 0L
    private var rowsSinceStage1 = 0

    // `sink.flush-buffer.timeout`: bound how long a partially-filled batch
    // can sit while the partition iterator is slow (long streaming
    // micro-batches) — the AsyncSink maxTimeInBufferMS analog. Single mode
    // never buffers, so no timer.
    private val timer: Option[java.util.concurrent.ScheduledFuture[_]] =
      if (flushTimeoutMs > 0 && batchSize > 1)
        Some(flushScheduler.scheduleWithFixedDelay(
          () => timedFlush(),
          flushTimeoutMs,
          math.max(flushTimeoutMs / 2, 10L),
          java.util.concurrent.TimeUnit.MILLISECONDS))
      else None

    // Runs on the SHARED scheduler thread: must neither block (one
    // saturated writer would stall every writer's timed flush in the JVM)
    // nor throw (ScheduledExecutorService silently suppresses all later
    // runs of a task that threw). No free permit → skip this tick, retry
    // next; a recorded failure is left for the task thread to surface.
    private def timedFlush(): Unit =
      if (failure == null && permits.tryAcquire()) {
        var sent = false
        try synchronized {
          if (rowsInBatch > 0 &&
            System.nanoTime() - oldestAddNanos >= flushTimeoutMs * 1000000L) {
            send(takeBody())
            sent = true
          }
        } catch { case t: Throwable => fail(t) }
        finally if (!sent) permits.release()
      }

    def add(payload: UTF8String): Unit = {
      val body = synchronized {
        if (rowsInBatch == 0) {
          oldestAddNanos = System.nanoTime()
          if (framed) append(open)
        } else append(separator)
        val n = payload.numBytes
        ensure(n)
        payload.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + len)
        len += n
        rowsInBatch += 1
        bytesInBatch += n
        rowsSinceStage1 += 1
        // three flush triggers, mirroring the reference's two-stage
        // batching: stage-2 request full; stage-1 runtime-flush boundary
        // every `sink.batch.max-size` rows (truncates the partial request,
        // exactly as Flink's buffered flush would); byte threshold
        // `sink.flush-buffer.size` over the buffered UTF-8 payload bytes
        val stage2Full = rowsInBatch >= batchSize
        val stage1Boundary = stage1MaxRows > 0 && rowsSinceStage1 >= stage1MaxRows
        val bytesFull = flushBufferBytes > 0 && bytesInBatch >= flushBufferBytes
        if (stage1Boundary) rowsSinceStage1 = 0
        if (stage2Full || stage1Boundary || bytesFull) takeBody() else null
      }
      if (body != null) submit(body)
    }

    def flush(): Unit = {
      timer.foreach(_.cancel(false))
      val tail = synchronized(if (rowsInBatch > 0) takeBody() else null)
      if (tail != null) submit(tail)
      // a permit is held until its response is classified, so holding all
      // of them means nothing is in flight and every failure is recorded
      permits.acquire(rt.maxInflight)
      permits.release(rt.maxInflight)
      checkFailure()
    }

    /** Failure-path cleanup: cancel the flush timer WITHOUT submitting the
      * buffered partial batch — a failed task's rows will be re-sent by
      * Spark's retry, and an orphaned recurring timer would both leak the
      * schedule for the executor's lifetime and double-send those rows
      * outside the idempotency-key replay guarantee — and abort the
      * requests still in flight. Idempotent; a no-op after a successful
      * [[flush]]. Each sink surface calls it on its own failure path: a
      * per-writer task listener would pile up over a task's epochs.
      */
    def abort(): Unit = {
      timer.foreach(_.cancel(false))
      synchronized { clear() }
      exchange.cancelAll()
    }

    /** Close and clear the buffered batch (caller holds the monitor): a
      * batch body is framed by the format (a JSON array `[e1,e2,…]` for
      * json, one record per line for csv); single mode sends the payload
      * as-is (reference docs "Request submission").
      */
    private def takeBody(): Array[Byte] = {
      if (framed) append(close)
      val body = java.util.Arrays.copyOf(buf, len)
      clear()
      body
    }

    private def clear(): Unit = {
      len = 0
      rowsInBatch = 0
      bytesInBatch = 0L
    }

    private def append(bytes: Array[Byte]): Unit = {
      ensure(bytes.length)
      System.arraycopy(bytes, 0, buf, len, bytes.length)
      len += bytes.length
    }

    private def ensure(n: Int): Unit =
      if (len + n > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + n))

    // task thread: wait for a permit outside the monitor; a failure
    // recorded meanwhile stops this request
    private def submit(body: Array[Byte]): Unit = {
      permits.acquire()
      try { checkFailure(); synchronized(send(body)) }
      catch { case t: Throwable => permits.release(); throw t }
    }

    // Caller holds a permit and the monitor (the keyer is not
    // thread-safe), so a key is drawn only for a body that is sent. Once
    // this returns, the permit is the response callback's to release; if
    // it throws, the caller's.
    private def send(body: Array[Byte]): Unit =
      exchange.send(
        rt.method,
        rt.url,
        Some(body),
        keying.map { case (h, keyer) => h -> keyer.keyFor(body) }.toSeq)
        .whenComplete { (oc, err) =>
          try {
            if (err != null) {
              // a cancelled request belongs to a task that is already ending
              if (!err.isInstanceOf[CancellationException]) fail(err)
            } else if (oc.state == CompletionState.Exception) fail(oc.cause)
            else if (oc.state != CompletionState.Success)
              fail(new HttpStatusCodeValidationFailedException(
                s"HTTP sink got error status ${oc.status} from ${rt.url}"))
          } finally permits.release()
        }

    private def fail(t: Throwable): Unit = if (failure == null) failure = t

    private def checkFailure(): Unit = {
      val f = failure
      if (f != null) f match {
        case e: RuntimeException => throw e
        case e => throw new RuntimeException(e)
      }
    }
  }
}
