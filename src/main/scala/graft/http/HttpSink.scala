package graft.http

import java.util.concurrent.{CancellationException, Semaphore}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HTTP sink — the Spark-native re-expression of the reference's sink
  * (`sink/HttpSinkInternal.java`, `sink/httpclient/BatchRequestSubmitter.java`,
  * `table/sink/HttpDynamicSink.java`).
  *
  * Rows are serialized to JSON *in Catalyst* (`to_json`, codegen) before the
  * I/O layer ever sees them; each partition then submits payloads to the
  * endpoint either in `batch` mode (JSON-array bodies of
  * `http.sink.request.batch.size` elements, default 500 — reference docs
  * "Batch submission mode") or `single` mode (one request per row), with
  * bounded in-flight concurrency (`sink.requests.max-inflight` /
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
  * reference's streaming sink.
  */
object HttpSink {

  final case class SinkReport(requests: Long, records: Long)
      extends Serializable

  /** Write `df` to the configured endpoint. `payload` defaults to the
    * whole-row JSON object (`to_json(struct(*))`), matching the reference's
    * json format element converter (`table/SerializationSchemaElementConverter
    * .java`); pass a custom Column for custom wire formats
    * (the DataStream-API `ElementConverter` analog).
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

    staged.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      val w = rt.newPartitionWriter(
        epochId,
        org.apache.spark.TaskContext.getPartitionId())
      // one writer per task: abort it (timer + in-flight requests) when the
      // task ends; a no-op after a successful flush()
      HttpExchange.onTaskEnd(w.abort())
      rows.foreach(r => w.add(r.getString(0)))
      w.flush()
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

  /** Bounded-in-flight async submitter for one partition (reference:
    * `sink/httpclient/BatchRequestSubmitter.java` semantics: async submit,
    * bounded by writer thread-pool / max-inflight; errors surface on flush).
    */
  private[http] final class BatchSubmitter(
      exchange: HttpExchange,
      url: String,
      method: String,
      maxInflight: Int) {
    private val permits = new Semaphore(maxInflight)
    @volatile private var failure: Throwable = _

    def submit(body: String, extraHeaders: Seq[(String, String)] = Nil): Unit = {
      permits.acquire()
      // checked after the wait: a request that failed meanwhile stops this one
      try checkFailure() catch { case t: Throwable => permits.release(); throw t }
      send(body, extraHeaders)
    }

    /** Non-blocking submit for the shared flush-timer thread: sends only
      * if an in-flight permit is free RIGHT NOW and no async failure is
      * recorded (a recorded failure is the task thread's to throw, at its
      * next blocking call). Returns whether the body was submitted.
      */
    def trySubmit(
        body: String,
        extraHeaders: Seq[(String, String)] = Nil): Boolean =
      failure == null && permits.tryAcquire() && {
        send(body, extraHeaders)
        true
      }

    // a permit is held until the response is classified, so holding all
    // of them means nothing is in flight and every failure is recorded
    private def send(body: String, extraHeaders: Seq[(String, String)]): Unit =
      try
        exchange.send(method, url, Some(body), extraHeaders).whenComplete { (oc, err) =>
          try {
            if (err != null) {
              // a cancelled request belongs to a task that is already ending
              if (!err.isInstanceOf[CancellationException]) failure = err
            } else if (oc.state == CompletionState.Exception) failure = oc.cause
            else if (oc.state != CompletionState.Success)
              failure = new HttpStatusCodeValidationFailedException(
                s"HTTP sink got error status ${oc.status} from $url")
          } finally permits.release()
        }
      catch { case t: Throwable => permits.release(); throw t }

    def awaitAll(): Unit = {
      permits.acquire(maxInflight)
      permits.release(maxInflight)
      checkFailure()
    }

    /** Abort every request still in flight (failure path). */
    def cancelAll(): Unit = exchange.cancelAll()

    private def checkFailure(): Unit = {
      val f = failure
      if (f != null) f match {
        case e: RuntimeException => throw e
        case e => throw new RuntimeException(e)
      }
    }
  }
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

  private[http] def bodyHex(body: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val d = md.digest(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
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

    def keyFor(body: String): String = {
      val hex = bodyHex(body)
      val h = java.lang.Long.parseUnsignedLong(hex, 16)
      val occ = seen.getOrElse(h, 0)
      seen(h) = occ + 1
      s"$prefix$hex-$occ"
    }
  }
}

/** Fully-parsed sink configuration, shared by every sink surface (the Scala
  * `HttpSink.write`, `foreachBatch`, and the DSv2 `graft-http-sink` table):
  * parse once on the driver, ship to executors, build one
  * [[SinkRuntime.newPartitionWriter partition writer]] per task.
  */
private[graft] final case class SinkRuntime(
    url: String,
    format: PayloadFormat,
    method: String,
    mode: String,
    batchSize: Int,
    classifier: SinkErrorClassifier,
    timeoutMs: Long,
    maxInflight: Int,
    endpoint: HttpEndpoint,
    idempotencyHeader: Option[String] = None,
    idempotencyNonce: String = "",
    idempotencySort: Boolean = false,
    flushTimeoutMs: Long = 0L,
    stage1MaxRows: Int = 500,
    flushBufferBytes: Long = 5L * 1024 * 1024)
    extends Serializable {

  /** Executor-side: a buffering writer over a bounded-in-flight submitter.
    * `add` payload strings; `flush` submits the tail batch and surfaces any
    * async failure (failing the task → Spark retry → at-least-once).
    * `epochId`/`partitionId` seed deterministic [[IdempotencyKeys]] when
    * `http.sink.idempotency.header` is configured.
    */
  def newPartitionWriter(
      epochId: Long = 0L,
      partitionId: Int = 0): SinkRuntime.PartitionWriter = {
    val submitter = new HttpSink.BatchSubmitter(
      // the sink only classifies: no ignored codes, no retries (a failed
      // request fails the task and Spark's task retry re-sends)
      endpoint.exchange(
        StatusPolicy(code => !classifier.isError(code)),
        FixedDelayRetry(0, 0L),
        timeoutMs,
        Some(format.contentType)),
      url,
      method,
      maxInflight)
    new SinkRuntime.PartitionWriter(
      submitter, batchSize, mode, format,
      idempotencyHeader.map(h =>
        (h, new IdempotencyKeys.Keyer(idempotencyNonce, epochId, partitionId))),
      flushTimeoutMs, stage1MaxRows, flushBufferBytes)
  }
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
      classifier = SinkErrorClassifier(
        o.str(HttpOptions.SinkErrorCodes, SinkErrorClassifier.DefaultErrorExpr),
        o.str(HttpOptions.SinkErrorCodesExclude, "")),
      timeoutMs = o.durationMs(HttpOptions.SinkRequestTimeout, 30000L),
      maxInflight = math.max(
        1,
        math.min(
          o.int(HttpOptions.SinkMaxInflight, 4),
          o.int(HttpOptions.SinkThreadPool, 4))),
      endpoint = HttpEndpoint.sink(o, headerPreprocessors),
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

  private[graft] final class PartitionWriter(
      submitter: HttpSink.BatchSubmitter,
      batchSize: Int,
      mode: String,
      format: PayloadFormat,
      keying: Option[(String, IdempotencyKeys.Keyer)] = None,
      flushTimeoutMs: Long = 0L,
      stage1MaxRows: Int = 500,
      flushBufferBytes: Long = 5L * 1024 * 1024) {
    private val batch = new scala.collection.mutable.ArrayBuffer[String](batchSize)
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
    // saturated submitter would stall every writer's timed flush in the
    // JVM) nor throw (ScheduledExecutorService silently suppresses all
    // later runs of a task that threw). Submission is attempted
    // non-blocking; no permit → skip this tick, retry next. A recorded
    // async failure is left for the task thread to surface at the next
    // add()/flush() checkFailure.
    private def timedFlush(): Unit =
      try synchronized {
        if (batch.nonEmpty &&
          System.nanoTime() - oldestAddNanos >= flushTimeoutMs * 1000000L) {
          val body = frame(batch.toSeq)
          if (submitter.trySubmit(body, keyed(body))) { batch.clear(); bytesInBatch = 0L }
        }
      } catch { case _: Throwable => () }

    private def submit(body: String): Unit = submitter.submit(body, keyed(body))

    private def keyed(body: String): Seq[(String, String)] =
      keying.map { case (h, keyer) => h -> keyer.keyFor(body) }.toSeq

    // UTF-8 length without materializing a byte[] copy per row (the
    // payload is only encoded once, at submit time)
    private def utf8Length(s: String): Long = {
      var n = 0L
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        n += (if (c < 0x80) 1
              else if (c < 0x800) 2
              else if (Character.isHighSurrogate(c)) { i += 1; 4 }
              else 3)
        i += 1
      }
      n
    }

    def add(payload: String): Unit = synchronized {
      if (batch.isEmpty) oldestAddNanos = System.nanoTime()
      batch += payload
      bytesInBatch += utf8Length(payload)
      rowsSinceStage1 += 1
      // three flush triggers, mirroring the reference's two-stage
      // batching: stage-2 request full; stage-1 runtime-flush boundary
      // every `sink.batch.max-size` rows (truncates the partial request,
      // exactly as Flink's buffered flush would); byte threshold
      // `sink.flush-buffer.size` over the buffered UTF-8 payload
      val stage2Full = batch.size >= batchSize
      val stage1Boundary = stage1MaxRows > 0 && rowsSinceStage1 >= stage1MaxRows
      val bytesFull = flushBufferBytes > 0 && bytesInBatch >= flushBufferBytes
      if (stage2Full || stage1Boundary || bytesFull) {
        submit(frame(batch.toSeq))
        batch.clear()
        bytesInBatch = 0L
        if (stage1Boundary) rowsSinceStage1 = 0
      }
    }

    def flush(): Unit = {
      timer.foreach(_.cancel(false))
      synchronized {
        if (batch.nonEmpty) {
          submit(frame(batch.toSeq))
          batch.clear()
          bytesInBatch = 0L
        }
      }
      submitter.awaitAll()
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
      synchronized { batch.clear(); bytesInBatch = 0L }
      submitter.cancelAll()
    }

    /** Batch bodies are framed by the format (JSON arrays `[e1,e2,…]` for
      * json, one record per line for csv); single mode sends the payload
      * as-is (reference docs "Request submission").
      */
    private def frame(b: Seq[String]): String =
      if (mode == "single") b.head else format.frameBatch(b)
  }
}
