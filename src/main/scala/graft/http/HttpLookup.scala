package graft.http

import java.util.concurrent.CompletableFuture

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** HTTP lookup join — the Spark-native re-expression of the reference's HTTP
  * lookup table source (`table/lookup/HttpLookupTableSource.java`,
  * `HttpTableLookupFunction.java`, `AsyncHttpTableLookupFunction.java`).
  *
  * Where Flink's planner inserts a lookup-join operator probing a
  * `LookupTableSource`, we enrich a (batch or streaming) DataFrame directly:
  *
  *   1. the request URL/body are rendered *inside Catalyst* by the configured
  *      [[QueryCreator]] (whole-stage codegen; no per-row interpretation),
  *   2. a narrow `mapPartitions` performs the HTTP I/O through the shared
  *      [[HttpExchange]] (per-executor client + cache, one ordered window
  *      of async requests per task, retries, classification) — it maps
  *      `String → String + metadata` and shuffles nothing,
  *   3. the JSON response is decoded by `from_json` (+ `explode_outer` for
  *      `result-type=array`) back in Catalyst.
  *
  * At 1000-executor scale this keeps pressure on the REST endpoint bounded by
  * `tasks × thread-pool size` in flight, de-duplicates calls through the
  * per-executor cache, and leaves the plan fully pipelined (no shuffle, no
  * driver round-trips).
  *
  * Output columns = probe columns ++ response-schema columns (response fields
  * whose names collide with probe columns are dropped — by construction these
  * are the join keys echoed back) ++ optional metadata columns
  * `http_status_code`, `error_string`, `http_headers_map`,
  * `http_completion_state` (reference: "Available Metadata" docs table).
  */
object HttpLookup {

  private val ReqUrl = "__graft_req_url"
  private val ReqBody = "__graft_req_body"
  private val RespStatus = "__graft_resp_status"
  private val RespBody = "__graft_resp_body"
  private val RespHeaders = "__graft_resp_headers"
  private val RespState = "__graft_resp_state"
  private val RespError = "__graft_resp_error"
  private val RespParsed = "__graft_resp_parsed"

  val MetaStatusCode = "http_status_code"
  val MetaErrorString = "error_string"
  val MetaHeadersMap = "http_headers_map"
  val MetaCompletionState = "http_completion_state"

  /** Emitted only under [[HttpOptions.EmitMatchColumn]] (internal). */
  val MatchedColumn = "__graft_matched"

  /** Serializable per-task I/O config. */
  private final case class IoConfig(
      method: String,
      endpoint: HttpEndpoint,
      policy: StatusPolicy,
      retryPolicy: RetryPolicy,
      requestTimeoutMs: Long,
      contentType: Option[String],
      concurrency: Int,
      continueOnError: Boolean,
      cacheMissingKey: Boolean) {

    /** Executor-side exchange, client shard = the task's partition. */
    def exchange(): HttpExchange = endpoint.exchange(
      policy,
      retryPolicy,
      requestTimeoutMs,
      contentType,
      shard = Option(org.apache.spark.TaskContext.get()).map(_.partitionId()).getOrElse(0))

    def cacheable(oc: HttpOutcome): Boolean =
      oc.state == CompletionState.Success ||
        (cacheMissingKey && oc.state == CompletionState.IgnoreStatusCode)

    /** The I/O op's output row: the input row ++ the outcome columns. */
    def emit(row: Row, oc: HttpOutcome): Row = {
      if (!continueOnError &&
        (oc.state == CompletionState.HttpErrorStatus ||
          oc.state == CompletionState.Exception))
        throw new HttpStatusCodeValidationFailedException(
          s"HTTP lookup failed (${oc.error}); set " +
            s"'${HttpOptions.ContinueOnError}'='true' to continue with null " +
            "enrichment columns")
      Row.fromSeq(
        row.toSeq ++ Seq(oc.status, oc.body, oc.headers, oc.state, oc.error))
    }
  }

  /** The I/O op's output schema: its input ++ the outcome columns. */
  private def withOutcome(in: StructType): StructType = StructType(
    in.fields ++ Array(
      StructField(RespStatus, IntegerType),
      StructField(RespBody, StringType),
      StructField(RespHeaders, MapType(StringType, ArrayType(StringType))),
      StructField(RespState, StringType),
      StructField(RespError, StringType)))

  /** Render each probe row's request in Catalyst (url + body columns) and
    * parse the per-task I/O config.
    */
  private def stage(
      probe: DataFrame,
      keyCols: Seq[String],
      o: HttpOptions,
      headerPreprocessors: Seq[HeaderPreprocessor]): (DataFrame, IoConfig) = {
    // reference `lookup-request.format` / `format` (both default json):
    // request serialization and response deserialization resolve through the
    // PayloadFormats registry (the SPI-discovery analog) — a CSV endpoint is
    // 'format'='csv', a custom wire format is PayloadFormats.register(...)
    val requestFormat =
      PayloadFormats(o.str(HttpOptions.LookupRequestFormat, "json"))
    val compiled = QueryCreator.fromOptions(o, requestFormat).compile(probe, keyCols)
    val staged = probe
      .withColumn(ReqUrl, compiled.url)
      .withColumn(ReqBody, compiled.body.getOrElse(lit(null).cast(StringType)))
    val method = o.str(HttpOptions.LookupMethod, "GET").toUpperCase
    val endpoint = HttpEndpoint.lookup(o, headerPreprocessors)
    (staged, IoConfig(
      method = method,
      endpoint = endpoint,
      policy = StatusPolicy.lookup(o),
      retryPolicy = RetryPolicy.fromOptions(o),
      requestTimeoutMs = o.durationMs(HttpOptions.RequestTimeout, 30000L),
      // body-based lookups default to the request format's content type
      // (reference: BodyBasedRequestFactory sets application/json for the
      // bundled json format)
      contentType =
        if (method != "GET" &&
          !endpoint.headers.exists(_._1.equalsIgnoreCase("Content-Type")))
          Some(requestFormat.contentType)
        else None,
      // one ordered window of in-flight exchanges per task; the reference's
      // two async pool knobs both size it (see HttpOptions.ResponseThreadPool)
      concurrency =
        if (o.bool(HttpOptions.AsyncPolling, default = false)) {
          val req = o.int(HttpOptions.RequestThreadPool, 8)
          math.max(req, o.int(HttpOptions.ResponseThreadPool, req))
        } else 1,
      continueOnError = o.bool(HttpOptions.ContinueOnError, default = false),
      cacheMissingKey = o.bool(HttpOptions.CacheMissingKey, default = true)))
  }

  def join(
      probe: DataFrame,
      keyCols: Seq[String],
      responseSchema: StructType,
      options: Map[String, String],
      includeMetadata: Boolean = false,
      headerPreprocessors: Seq[HeaderPreprocessor] = Nil): DataFrame = {
    val o = HttpOptions(options)
    val (staged, io) = stage(probe, keyCols, o, headerPreprocessors)

    // dedup-keys: when probe keys repeat heavily (classic enrichment), call
    // the service once per DISTINCT rendered request and join the responses
    // back — request volume drops from |rows| to |unique keys| and AQE
    // broadcasts the (small) response relation, so the probe itself never
    // shuffles. Batch-only (distinct isn't available on streams); the
    // per-executor cache covers the streaming case instead.
    val dedupKeys =
      o.bool(HttpOptions.DedupKeys, default = false) && !probe.isStreaming

    // AQE coalesces the (byte-tiny) distinct-keys shuffle down to one
    // partition, which would serialize all the I/O onto a single task —
    // spread the requests explicitly: latency-bound work wants parallelism
    // by request count, not by data size.
    val ioPartitions = o.int(
      HttpOptions.LookupPartitions,
      probe.sparkSession.sparkContext.defaultParallelism)
    val ioInput =
      if (dedupKeys)
        staged.select(col(ReqUrl), col(ReqBody)).distinct()
          .repartition(ioPartitions)
      else staged

    val urlIdx = ioInput.schema.fieldIndex(ReqUrl)
    val bodyIdx = ioInput.schema.fieldIndex(ReqBody)

    val ioResults = ioInput.mapPartitions { iter =>
      executePartition(iter, io, urlIdx, bodyIdx)
    }(Encoders.row(withOutcome(ioInput.schema)))

    val ioDf =
      if (dedupKeys) {
        // null-safe equality: ReqBody is null for GET lookups
        val r = ioResults
          .withColumnRenamed(ReqUrl, ReqUrl + "_r")
          .withColumnRenamed(ReqBody, ReqBody + "_r")
        staged
          .join(
            r,
            col(ReqUrl) === col(ReqUrl + "_r") &&
              col(ReqBody) <=> col(ReqBody + "_r"))
          .drop(ReqUrl + "_r", ReqBody + "_r")
      } else ioResults

    decodeProject(ioDf, probe.columns.toSeq, responseSchema, o, includeMetadata)
  }

  /** Serializable state-store record for [[joinStateCached]]. */
  private[http] final case class CachedLookup(
      status: Option[Int],
      body: String,
      headers: Map[String, Seq[String]],
      state: String,
      error: String,
      fetchedAtMs: Long)

  /** Streaming lookup join whose cache lives in the STREAMING STATE STORE —
    * the Spark-native re-expression of Flink's cache-in-operator-state
    * restart semantics (the reference's lookup runs inside a Flink job whose
    * state survives restarts; the per-executor LRU of [[join]] dies with the
    * executor). Each micro-batch groups probe rows by rendered request; one
    * state entry per distinct request holds the classified response with its
    * fetch timestamp. A checkpointed restart RESTORES the cache — cached
    * keys are served with zero re-fetches by the new run. Entries expire
    * `lookup.partial-cache.expire-after-write` (default 10 min) after their
    * fetch and are evicted via processing-time timeouts, so state size is
    * bounded by the distinct-request working set, not stream length.
    *
    * Costs one shuffle per micro-batch (the groupByKey on the rendered
    * request) — the same keyed exchange Flink's lookup operator implies.
    * Requests also de-duplicate within the batch for free (one group = one
    * call). Use [[join]] when restart-transparent caching is not needed and
    * the narrow shuffle-free plan matters more.
    *
    * Because eviction uses processing-time timers, the engine re-triggers
    * batches even without data to evaluate them — run the query with a
    * `Trigger.ProcessingTime(...)` interval so an idle stream doesn't
    * busy-loop empty batches.
    */
  def joinStateCached(
      probe: DataFrame,
      keyCols: Seq[String],
      responseSchema: StructType,
      options: Map[String, String],
      includeMetadata: Boolean = false,
      headerPreprocessors: Seq[HeaderPreprocessor] = Nil): DataFrame = {
    require(
      probe.isStreaming,
      "joinStateCached needs a streaming probe; use join for batch inputs")
    val o = HttpOptions(options)
    val (staged, io) = stage(probe, keyCols, o, headerPreprocessors)
    val ttlMs = o.durationMs(HttpOptions.CacheExpireAfterWrite, 600000L)
    val urlIdx = staged.schema.fieldIndex(ReqUrl)
    val bodyIdx = staged.schema.fieldIndex(ReqBody)

    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val keyEnc = Encoders.tuple(Encoders.STRING, Encoders.STRING)
    val stateEnc = Encoders.product[CachedLookup]
    val outEnc = Encoders.row(withOutcome(staged.schema))

    val grouped = staged.groupByKey { row =>
      (row.getString(urlIdx), Option(rowBody(row, bodyIdx)).getOrElse(""))
    }(keyEnc)

    val ioDf = grouped.flatMapGroupsWithState[CachedLookup, Row](
      OutputMode.Append,
      GroupStateTimeout.ProcessingTimeTimeout) {
      (key: (String, String), rows: Iterator[Row], state: GroupState[CachedLookup]) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          val buffered = rows.toSeq // bounded: rows for ONE key in ONE batch
          val now = System.currentTimeMillis()
          val cached = state.getOption
          val oc = cached
            .filter(c => now - c.fetchedAtMs < ttlMs)
            .map(c => HttpOutcome(
              c.status.map(Integer.valueOf).orNull,
              c.body, c.headers, c.state, c.error))
            .getOrElse {
              val body = buffered.headOption
                .map(r => rowBody(r, bodyIdx)).orNull
              val outcome = HttpExchange.await(
                io.exchange().send(io.method, key._1, Option(body)))
              if (io.cacheable(outcome)) {
                state.update(CachedLookup(
                  Option(outcome.status).map(_.intValue),
                  outcome.body, outcome.headers, outcome.state,
                  outcome.error, now))
              } else if (cached.isDefined) {
                // Validity is write-based but eviction is access-based:
                // without this, a stale entry for a persistently failing key
                // would have its timer re-armed on every access and never
                // leave the store.
                state.remove()
              }
              outcome
            }
          // keep the eviction clock armed whenever state exists
          if (state.exists) state.setTimeoutDuration(ttlMs)
          buffered.iterator.map(io.emit(_, oc))
        }
    }(stateEnc, outEnc)

    decodeProject(ioDf.toDF(), probe.columns.toSeq, responseSchema, o, includeMetadata)
  }

  /** Back in Catalyst after the I/O op: decode + classify + project.
    *
    * A corrupt-record field detects undecodable bodies (PERMISSIVE decode
    * yields an all-null struct, not a null struct, on garbage — the corrupt
    * column is the reliable signal). Decoding goes through the resolved
    * PayloadFormat, so a csv (or registered custom) endpoint plugs in here.
    */
  private def decodeProject(
      ioDf: DataFrame,
      probeColumns: Seq[String],
      responseSchema: StructType,
      o: HttpOptions,
      includeMetadata: Boolean): DataFrame = {
    val responseFormat = PayloadFormats(o.str(HttpOptions.Format, "json"))
    val Corrupt = "__graft_corrupt"
    val schemaWithCorrupt =
      StructType(responseSchema.fields :+ StructField(Corrupt, StringType))
    val resultType = o.str(HttpOptions.ResultType, "single-value")
    val isArray = resultType match {
      case "array" => true
      case "single-value" => false
      case other =>
        throw new HttpConfigException(s"Unknown result-type '$other'")
    }
    // Array mode keeps the PRE-explode parse around: "parse failed" must be
    // judged on the whole body, not per exploded element — a valid empty
    // array `[]` explodes (outer) to one null element, which is "parsed
    // empty", not "undecodable".
    val ArrParsed = "__graft_resp_arr"
    var out =
      if (isArray) {
        val arr = responseFormat
          .decodeArray(col(RespBody), responseSchema, Corrupt)
          .getOrElse(throw new HttpConfigException(
            s"result-type=array is not supported by format " +
              s"'${responseFormat.name}'"))
        ioDf
          .withColumn(ArrParsed, arr)
          .withColumn(RespParsed, explode_outer(col(ArrParsed)))
      } else
        ioDf.withColumn(
          RespParsed,
          responseFormat.decode(col(RespBody), responseSchema, Corrupt))

    // SUCCESS but undecodable body → UNABLE_TO_DESERIALIZE_RESPONSE with the
    // raw body as error-string (reference: "Available Metadata" doc rules).
    // Materialize the predicate BEFORE rewriting any column it references —
    // chained withColumn re-resolves by name, so updating RespState first
    // would silently change the predicate for the later updates.
    val Undec = "__graft_undec"
    val parseFailed =
      if (isArray)
        col(ArrParsed).isNull ||
          col(RespParsed).getField(Corrupt).isNotNull
      else
        col(RespParsed).isNull ||
          col(RespParsed).getField(Corrupt).isNotNull
    out = out.withColumn(
      Undec,
      col(RespState) === CompletionState.Success &&
        col(RespBody).isNotNull && parseFailed)
    out = out
      .withColumn(
        RespError,
        when(col(Undec), col(RespBody)).otherwise(col(RespError)))
      .withColumn(
        RespState,
        when(col(Undec), lit(CompletionState.UnableToDeserialize))
          .otherwise(col(RespState)))
      // null the parsed struct so enrichment columns come out null rather
      // than partially parsed
      .withColumn(
        RespParsed,
        when(col(Undec), lit(null).cast(schemaWithCorrupt))
          .otherwise(col(RespParsed)))

    // strict decode (`json.fail-on-missing-field`): a SUCCESS response
    // that PARSED but lacks a declared top-level field fails the job at
    // evaluation time (raise_error stays inside codegen). Undecodable
    // bodies keep their UNABLE_TO_DESERIALIZE classification — strict
    // mode tightens field presence, not body validity.
    val strict =
      o.bool(HttpOptions.JsonFailOnMissingField, default = false) ||
        o.bool(
          HttpOptions.LookupRequestJsonFailOnMissingField,
          default = false)
    if (strict) {
      val keys =
        (if (isArray) responseFormat.recordKeysArray(col(RespBody))
         else responseFormat.recordKeys(col(RespBody)))
          .getOrElse(throw new HttpConfigException(
            s"${HttpOptions.JsonFailOnMissingField} is not supported by " +
              s"format '${responseFormat.name}' (cannot enumerate record keys)"))
      val declared = array(responseSchema.fieldNames.toSeq.map(lit): _*)
      val missingOf: Column => Column =
        ks => filter(declared, n => !array_contains(ks, n))
      // array edge: an element that is not a JSON object parses to a null
      // key map, flatten then yields null and the violation stays false —
      // strict mode polices FIELD PRESENCE on object records; non-object
      // elements are the schema parse's (corrupt-record) concern
      val missing =
        if (isArray) array_distinct(flatten(transform(keys, missingOf)))
        else missingOf(keys)
      val violation = col(RespState) === CompletionState.Success &&
        !col(Undec) && keys.isNotNull && size(missing) > 0
      out = out.withColumn(
        RespParsed,
        when(
          violation,
          raise_error(concat(
            lit(s"${HttpOptions.JsonFailOnMissingField}: response body " +
              "is missing declared field(s) ["),
            array_join(missing, ", "),
            lit("] in body: "),
            col(RespBody))))
          .otherwise(col(RespParsed)))
    }

    val leftOuter = o.str(HttpOptions.LookupJoinType, "inner")
      .toLowerCase match {
      case "inner" => false
      case "left" | "left_outer" | "leftouter" => true
      case other => throw new HttpConfigException(
        s"Unknown ${HttpOptions.LookupJoinType} '$other' (inner|left)")
    }

    if (isArray && !leftOuter) {
      // A valid empty-array response means "no result": the reference's
      // lookup function returns zero rows and the (inner) lookup join emits
      // nothing — drop the explode_outer placeholder row rather than
      // misreporting it. (LEFT keeps it: probe row with null enrichment.)
      out = out.filter(
        !(col(RespState) === CompletionState.Success &&
          col(ArrParsed).isNotNull && size(col(ArrParsed)) === 0))
    }

    if (leftOuter) {
      // LEFT-join semantics: a no-match (ignored status, e.g. 404) keeps
      // the probe row; its enrichment struct is nulled so the response
      // columns come out null rather than parsed from the error body.
      out = out.withColumn(
        RespParsed,
        when(col(RespState) === CompletionState.Success, col(RespParsed))
          .otherwise(lit(null).cast(schemaWithCorrupt)))
    } else if (!includeMetadata) {
      // Inner-join semantics: ignored responses emit no row when no metadata
      // columns are declared (docs: "Available Metadata").
      out = out.filter(col(RespState) =!= CompletionState.IgnoreStatusCode)
    }

    val probeCols = probeColumns.map(col)
    val respCols = responseSchema.fields.toSeq
      .filterNot(f => probeColumns.contains(f.name))
      .map(f => col(RespParsed).getField(f.name).as(f.name))
    val metaCols =
      if (includeMetadata)
        Seq(
          col(RespStatus).as(MetaStatusCode),
          col(RespError).as(MetaErrorString),
          col(RespHeaders).as(MetaHeadersMap),
          col(RespState).as(MetaCompletionState))
      else Seq.empty[Column]
    // internal marker for SQL LEFT-join rewrites: did the lookup produce an
    // actual enrichment struct (vs a kept-but-unmatched probe row)?
    val matchCols =
      if (o.bool(HttpOptions.EmitMatchColumn, default = false))
        Seq((col(RespState) === CompletionState.Success &&
          col(RespParsed).isNotNull).as(MatchedColumn))
      else Seq.empty[Column]

    out.select(probeCols ++ respCols ++ metaCols ++ matchCols: _*)
  }

  // ---------------------------------------------------------------------
  // Per-partition I/O
  // ---------------------------------------------------------------------

  /** One ordered window of up to `concurrency` exchanges per task (1
    * without `asyncPolling`): cache hits enter it as completed futures,
    * misses go straight to the wire, rows leave strictly in input order
    * (the analog of the reference's AsyncHttpTableLookupFunction with
    * ordered wait). Whatever is still in flight when the task ends is
    * cancelled.
    */
  private def executePartition(
      iter: Iterator[Row],
      io: IoConfig,
      urlIdx: Int,
      bodyIdx: Int): Iterator[Row] = {
    val exchange = io.exchange()
    HttpExchange.onTaskEnd(exchange.cancelAll())
    // one cache per distinct lookup configuration
    val o = io.endpoint.options
    val cache = LookupCache.shared(o.options.toSeq.sorted.mkString("|"), o)
    val window =
      new java.util.ArrayDeque[(Row, CompletableFuture[HttpOutcome])](io.concurrency)

    def call(url: String, body: String): CompletableFuture[HttpOutcome] = {
      val key = url + "\u0000" + (if (body == null) "" else body)
      cache.flatMap(_.get(key)) match {
        case Some(hit) => CompletableFuture.completedFuture(hit)
        case None =>
          val sent = exchange.send(io.method, url, Option(body))
          cache.fold(sent)(c => sent.thenApply { oc =>
            if (io.cacheable(oc)) c.put(key, oc)
            oc
          })
      }
    }

    new Iterator[Row] {
      private def fill(): Unit =
        while (window.size < io.concurrency && iter.hasNext) {
          val row = iter.next()
          window.add(row -> call(row.getString(urlIdx), rowBody(row, bodyIdx)))
        }
      def hasNext: Boolean = { fill(); !window.isEmpty }
      def next(): Row = {
        if (!hasNext) throw new NoSuchElementException
        val (row, f) = window.poll()
        io.emit(row, HttpExchange.await(f))
      }
    }
  }

  private def rowBody(row: Row, bodyIdx: Int): String =
    if (row.isNullAt(bodyIdx)) null else row.getString(bodyIdx)
}

/** Reference: `HttpStatusCodeValidationFailedException.java`. */
class HttpStatusCodeValidationFailedException(msg: String)
    extends RuntimeException(msg)
