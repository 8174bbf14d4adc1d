package graft.http

import java.time.Duration

/** Typed view over the connector's string-string option map (the Spark analog
  * of the reference's table DDL `WITH (...)` options; reference:
  * `config/HttpConnectorConfigConstants.java`,
  * `table/lookup/HttpLookupConnectorOptions.java`).
  *
  * Durations accept Flink-style strings: `30s`, `1min`, `250ms`, `1 h`, `2d`,
  * or a bare millisecond count.
  */
final case class HttpOptions(options: Map[String, String]) extends Serializable {
  def str(key: String, default: String): String =
    options.getOrElse(key, default)
  def strOpt(key: String): Option[String] = options.get(key)
  def required(key: String): String =
    options.getOrElse(
      key,
      throw new HttpConfigException(s"Missing required option '$key'"))
  def int(key: String, default: Int): Int =
    options.get(key).map(_.trim.toInt).getOrElse(default)
  def long(key: String, default: Long): Long =
    options.get(key).map(_.trim.toLong).getOrElse(default)
  def double(key: String, default: Double): Double =
    options.get(key).map(_.trim.toDouble).getOrElse(default)
  def bool(key: String, default: Boolean): Boolean =
    options.get(key).map(_.trim.toBoolean).getOrElse(default)

  def durationMs(key: String, defaultMs: Long): Long =
    options.get(key).map(HttpOptions.parseDurationMs).getOrElse(defaultMs)

  /** All options whose key starts with `prefix`, with the prefix stripped —
    * used for `http.source.lookup.header.<NAME>` style maps.
    */
  def withPrefix(prefix: String): Map[String, String] =
    options.collect {
      case (k, v) if k.startsWith(prefix) => k.substring(prefix.length) -> v
    }
}

object HttpOptions {
  def apply(kvs: (String, String)*): HttpOptions = HttpOptions(kvs.toMap)

  private val DurationRe = "(?i)^([0-9]+)\\s*(ms|s|sec|min|m|h|d)?$".r

  def parseDurationMs(s: String): Long = s.trim match {
    case DurationRe(n, unit) =>
      val v = n.toLong
      Option(unit).map(_.toLowerCase) match {
        case None | Some("ms") => v
        case Some("s") | Some("sec") => Duration.ofSeconds(v).toMillis
        case Some("min") | Some("m") => Duration.ofMinutes(v).toMillis
        case Some("h") => Duration.ofHours(v).toMillis
        case Some("d") => Duration.ofDays(v).toMillis
        case _ => throw new HttpConfigException(s"Bad duration '$s'")
      }
    case other => throw new HttpConfigException(s"Bad duration '$other'")
  }

  // Option keys (reference: HttpConnectorConfigConstants.java) — the
  // reference's `gid.connector.` prefix was dropped upstream; we keep the
  // upstream `http.` names.
  val Url = "url"
  val LookupMethod = "lookup-method"
  val AsyncPolling = "asyncPolling"
  val LookupQueryCreator = "lookup-query-creator"
  val LookupCacheKind = "lookup.cache"
  val CacheMaxRows = "lookup.partial-cache.max-rows"
  val CacheExpireAfterWrite = "lookup.partial-cache.expire-after-write"
  val CacheExpireAfterAccess = "lookup.partial-cache.expire-after-access"
  val CacheMissingKey = "lookup.partial-cache.cache-missing-key"
  val MaxRetries = "lookup.max-retries"
  val SourceHeaderPrefix = "http.source.lookup.header."
  val SinkHeaderPrefix = "http.sink.header."
  val SuccessCodes = "http.source.lookup.success-codes"
  val RetryCodes = "http.source.lookup.retry-codes"
  val IgnoredCodes = "http.source.lookup.ignored-response-codes"
  val ContinueOnError = "http.source.lookup.continue-on-error"
  val RequestTimeout = "http.source.lookup.request.timeout"
  val ConnectionTimeout = "http.source.lookup.connection.timeout"
  /** Async lookup (`asyncPolling=true`) in-flight request bound per task:
    * the most wire requests a task's ordered window holds. The window also
    * buffers up to 100 rows (Flink's `table.exec.async-lookup.buffer-capacity`
    * default) waiting for their turn, cache hits among them, which take no
    * request slot. No threads are created for it.
    */
  val RequestThreadPool = "http.source.lookup.request.thread-pool.size"

  /** Reference parity (`table/http.md` option table): Flink's async lookup
    * splits request issuing and response processing into two pools. The
    * Spark re-expression has no pools: each task keeps one ordered window
    * of async exchanges, so there is no separate response stage — the
    * window's in-flight request bound honors BOTH knobs as
    * `max(request-pool, response-pool)`, so a user sizing either one gets at
    * least the in-flight requests they asked for; its row buffer stays at
    * 100 rows (or the request bound, if larger).
    */
  val ResponseThreadPool = "http.source.lookup.response.thread-pool.size"
  val UseRawAuthHeader = "http.source.lookup.use-raw-authorization-header"
  val ResultType = "http.source.lookup.result-type"
  val BodyTemplate = "http.request.body-template"
  val UrlMap = "http.request.url-map"
  val QueryParamFields = "http.request.query-param-fields"
  val QueryParamFieldsWithKey = "http.request.query-param-fields-with-key"
  val SourceRequestCallback = "http.source.lookup.request-callback"
  val SinkRequestCallback = "http.sink.request-callback"
  val LookupRequestFormat = "lookup-request.format"
  val Format = "format"

  /** Strict response decode (reference: the json format's
    * `fail-on-missing-field` option, discovered per nested format by
    * `HttpLookupTableSourceFactory.discoverDecodingFormat`,
    * HttpLookupTableSourceFactory.java:103-112, and spelled
    * `lookup-request.format.json.fail-on-missing-field` in the reference
    * option table, `docs/.../table/http.md`): when true, a SUCCESS
    * response whose decoded record lacks a DECLARED top-level field fails
    * the job loudly instead of PERMISSIVE-nulling the column — the
    * schema-drift tripwire a Flink DDL migration expects. Fields present
    * with a null VALUE do not fire (missing ≠ null, same as Flink). Both
    * the reference's nested spelling and the bare `json.` alias are
    * accepted; formats that cannot enumerate record keys (csv) reject the
    * option.
    */
  val JsonFailOnMissingField = "json.fail-on-missing-field"
  val LookupRequestJsonFailOnMissingField =
    "lookup-request.format.json.fail-on-missing-field"
  val OidcTokenRequest = "http.security.oidc.token.request"
  val OidcTokenEndpoint = "http.security.oidc.token.endpoint.url"
  val OidcExpiryReduction = "http.security.oidc.token.expiry.reduction"
  val ProxyHost = "http.source.lookup.proxy.host"
  val ProxyPort = "http.source.lookup.proxy.port"
  val ProxyUsername = "http.source.lookup.proxy.username"
  val ProxyPassword = "http.source.lookup.proxy.password"
  /** Request/response logging level for the named request callback:
    * `MIN` (default, method+uri+status), `REQ_RESP` (+ bodies), `MAX`
    * (+ headers) (reference: the slf4j logger callbacks in
    * `table/lookup/Slf4JHttpLookupPostRequestCallback.java`).
    */
  val LoggingLevel = "http.logging.level"

  /** Force the JDK client's HTTP version (`HTTP_1_1` | `HTTP_2`); unset =
    * the JDK default (HTTP/2 with 1.1 fallback).
    */
  val HttpVersion = "http.source.lookup.http-version"

  /** Batch-only lookup optimization (graft extension): call the service
    * once per DISTINCT rendered request and join responses back — request
    * volume drops from |rows| to |unique keys| and AQE broadcasts the
    * (small) response relation.
    */
  val DedupKeys = "http.source.lookup.dedup-keys"

  /** PEM/DER trust material (comma-separated paths) added on top of the
    * keystore/defaults (reference: `HttpConnectorConfigConstants`
    * SERVER_TRUSTED_CERT / CLIENT_CERT / CLIENT_PRIVATE_KEY).
    */
  val CertServer = "http.security.cert.server"
  val CertClient = "http.security.cert.client"
  val KeyClient = "http.security.key.client"

  /** Lookup retry strategy (reference `retry-strategy.type` options):
    * `fixed-delay` (default) with `.fixed-delay.delay`, or
    * `exponential-delay` with its `.initial-backoff` / `.max-backoff` /
    * `.backoff-multiplier` sub-options.
    */
  val RetryStrategyType = "http.source.lookup.retry-strategy.type"
  val RetryFixedDelay =
    "http.source.lookup.retry-strategy.fixed-delay.delay"
  val RetryExpInitialBackoff =
    "http.source.lookup.retry-strategy.exponential-delay.initial-backoff"
  val RetryExpMaxBackoff =
    "http.source.lookup.retry-strategy.exponential-delay.max-backoff"
  val RetryExpMultiplier =
    "http.source.lookup.retry-strategy.exponential-delay.backoff-multiplier"

  val InsertMethod = "insert-method"
  val SinkRequestMode = "http.sink.writer.request.mode"
  val SinkBatchSize = "http.sink.request.batch.size"

  /** Reference parity (the AsyncSinkBase two-stage batching knobs,
    * `HttpSinkBuilder.java:70-76`): `sink.batch.max-size` (default 500)
    * is the STAGE-1 flush count — a framing boundary every N rows that
    * truncates the current partial request, exactly as a Flink runtime
    * flush of N records would before stage-2 regroups them into
    * `http.sink.request.batch.size`-row requests; `sink.flush-buffer.size`
    * (default 5 MiB) flushes the buffered partial batch once its UTF-8
    * payload bytes reach the threshold. Both change batch FRAMING —
    * combine with `http.sink.idempotency.sort` if replay-stable batch
    * bodies matter.
    */
  val SinkBatchMaxSize = "sink.batch.max-size"
  val SinkFlushBufferSize = "sink.flush-buffer.size"

  /** Reference parity (`maxBufferedRequests`, default 10000): the cap on
    * records buffered before backpressure. Spark's pull-based partition
    * writer never buffers more than one request's rows by construction,
    * so the option is VALIDATED rather than scheduled: configuring it
    * below `http.sink.request.batch.size` is a config error (the buffer
    * necessarily holds up to one full batch); any larger value is already
    * honored.
    */
  val SinkMaxBuffered = "sink.requests.max-buffered"
  val SinkErrorCodes = "http.sink.error.code"
  val SinkErrorCodesExclude = "http.sink.error.code.exclude"
  val SinkRequestTimeout = "http.sink.request.timeout"
  val SinkThreadPool = "http.sink.writer.thread-pool.size"
  val SinkMaxInflight = "sink.requests.max-inflight"
  /** Reference parity (AsyncSinkBase `maxTimeInBufferMS` /
    * `sink.flush-buffer.timeout`): oldest buffered row age that forces a
    * partial-batch submit, bounding buffer residency inside long streaming
    * micro-batches. 0 (default) disables: batches flush when full and at
    * partition end. Time-based flush makes batch FRAMING time-dependent —
    * don't combine with idempotency keys expecting replay-stable batch
    * bodies (single mode is unaffected).
    */
  val SinkFlushTimeout = "sink.flush-buffer.timeout"

  val SinkIdempotencyHeader = "http.sink.idempotency.header"
  val SinkIdempotencyNonce = "http.sink.idempotency.nonce"
  val SinkIdempotencySort = "http.sink.idempotency.sort"
  val AllowSelfSigned = "http.security.cert.server.allowSelfSigned"

  /** Trust/key material from a keystore FILE (reference:
    * `HttpConnectorConfigConstants.java:100-105`, loaded by
    * `security/SecurityContext.createFromKeyStore` — the store backs BOTH
    * the trust managers and the key managers, and any
    * `http.security.cert.*` PEM/DER material is ADDED on top of it).
    * `.password` is REQUIRED whenever `.path` is set (reference
    * `JavaNetHttpClientFactory.createSecurityContext` fails fast on a
    * missing password). `.type` defaults to JKS like the reference — the
    * JDK's dual-format JKS implementation transparently reads PKCS12
    * files too, so `.type` only matters for stores that need an explicit
    * non-default provider format.
    */
  val KeyStorePath = "http.security.keystore.path"
  val KeyStorePassword = "http.security.keystore.password"
  val KeyStoreType = "http.security.keystore.type"

  /** `inner` (default) or `left`: LEFT keeps probe rows whose lookup found
    * no match (ignored status such as a 404, or a valid empty-array
    * response) with null enrichment columns — the lookup-join analog of
    * Flink's `LEFT JOIN … FOR SYSTEM_TIME AS OF`. Transport errors are
    * still governed by [[ContinueOnError]]: LEFT answers "no such key",
    * not "the service is down".
    */
  val LookupJoinType = "http.source.lookup.join-type"

  /** Polling source (`graft-http-poll`): the request body every poll
    * sends, with whatever `lookup-method` is set (typically POST); unset
    * sends no body.
    */
  val PollBody = "body"

  /** Polling source: split a JSON-array response into one row per element
    * (default `true`), each re-serialized as JSON; `false` emits the whole
    * body as one row.
    */
  val PollSplitArray = "split-array"

  /** Polling source throttle: `latestOffset` polls (and advances) only once
    * this interval has elapsed since the previous poll; inside it the
    * engine sees no new data and sends no request. Default 0 (poll on
    * every trigger).
    */
  val PollMinInterval = "min-poll-interval"
}
