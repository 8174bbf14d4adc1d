package graft.http

import java.io.IOException
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration
import java.util.concurrent.{CompletableFuture, CompletionException, ExecutionException, Executor, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Completion states surfaced through metadata columns (reference:
  * `table/lookup/HttpCompletionState.java` and docs "http-completion-state
  * possible values").
  */
object CompletionState {
  val Success = "SUCCESS"
  val HttpErrorStatus = "HTTP_ERROR_STATUS"
  val Exception = "EXCEPTION"
  val UnableToDeserialize = "UNABLE_TO_DESERIALIZE_RESPONSE"
  val IgnoreStatusCode = "IGNORE_STATUS_CODE"
}

/** Outcome of one HTTP exchange — the only thing the lookup's I/O
  * `mapPartitions` op emits; all parsing happens downstream in Catalyst.
  * `cause` is the transport failure behind an EXCEPTION outcome.
  */
final case class HttpOutcome(
    status: Integer, // null when no response (exception)
    body: String, // null when ignored/failed
    headers: Map[String, Seq[String]],
    state: String,
    error: String,
    cause: Throwable = null)
    extends Serializable

/** One status classification for every surface: a code is a success, an
  * ignored (no-match) code, a retryable code, or else an error.
  */
final case class StatusPolicy(
    success: Int => Boolean,
    ignored: Int => Boolean = _ => false,
    retryable: Int => Boolean = _ => false)

object StatusPolicy {

  /** Lookup source (reference: `status/HttpResponseChecker.java:30-77`):
    * the success set must be non-empty and disjoint from the retry
    * (temporal-error) set; ignored-response codes are no-match answers.
    */
  def lookup(o: HttpOptions): StatusPolicy = {
    val success = HttpCodes.parse(o.str(HttpOptions.SuccessCodes, "2XX"))
    val retry = HttpCodes.parse(o.str(HttpOptions.RetryCodes, "500,503,504"))
    if (success.isEmpty)
      throw new HttpConfigException("Success code list cannot be empty")
    val overlap = success.intersect(retry)
    if (overlap.nonEmpty)
      throw new HttpConfigException(
        s"Http codes $overlap cannot be used as both success and retry codes")
    StatusPolicy(
      success,
      HttpCodes.parse(o.str(HttpOptions.IgnoredCodes, "")),
      retry)
  }

  /** Sinks (reference: `status/ComposeHttpStatusCodeChecker.java`): a code
    * is an error when it is in `http.sink.error.code` (default `4XX,5XX`)
    * and not in its `.exclude` list; every other code succeeds. The sink
    * neither ignores nor retries (a failed request fails the task and
    * Spark's task retry re-sends).
    */
  def sink(o: HttpOptions): StatusPolicy = {
    val errors = HttpCodes.parse(o.str(HttpOptions.SinkErrorCodes, "4XX,5XX")) --
      HttpCodes.parse(o.str(HttpOptions.SinkErrorCodesExclude, ""))
    StatusPolicy(code => !errors.contains(code))
  }
}

/** The connector's one HTTP exchange, shared by the lookup join, the batch
  * and streaming sinks and the polling source (reference:
  * `retry/HttpClientWithRetry.java`,
  * `table/lookup/JavaNetHttpPollingClient.java`,
  * `sink/httpclient/JavaNetSinkHttpClient.java`), opened from an
  * [[HttpEndpoint]]. Its static header chain renders once per exchange; the
  * OIDC bearer is asked for once per request, so a long-lived exchange
  * follows the token's refresh. [[send]] builds the request, fires the
  * [[RequestCallback]], and returns a future outcome:
  *   - success codes → SUCCESS (body kept)
  *   - ignored codes → IGNORE_STATUS_CODE (body dropped)
  *   - retry codes / IOException → retried per [[RetryPolicy]] after a
  *     delay on `delay(ms)` (no thread sleeps); exhausted →
  *     HTTP_ERROR_STATUS / EXCEPTION
  *   - other codes → HTTP_ERROR_STATUS (no retry)
  * Other throwables fail the future. Cancelling the future (or
  * [[cancelAll]]) aborts the attempt on the wire and stops retries.
  */
final class HttpExchange(
    endpoint: HttpEndpoint,
    client: HttpClient,
    delay: Long => Executor = HttpExchange.delayed) {
  import endpoint.{contentType, policy, retry, timeoutMs}

  private val callback = endpoint.callback
  private val bearer = endpoint.oidc.map(OidcManagers.shared(client, _))
  // the bearer replaces any static Authorization header
  private val headers = HeaderPreprocessors
    .render(endpoint.headers, endpoint.useRawAuthHeader, endpoint.preprocessors)
    .filterNot(h => bearer.isDefined && h._1.equalsIgnoreCase("Authorization"))

  private val open = java.util.concurrent.ConcurrentHashMap
    .newKeySet[CompletableFuture[HttpOutcome]]()

  /** Send one request. The body goes to the wire as the bytes given (text
    * bodies are their UTF-8 encoding); the [[RequestCallback]] gets its
    * text, decoded at most once per request and only for a callback that
    * [[RequestCallback.wantsBody wants it]].
    */
  def send(
      method: String,
      url: String,
      body: Option[Array[Byte]],
      extraHeaders: Seq[(String, String)] = Nil): CompletableFuture[HttpOutcome] = {
    val b = HttpRequest
      .newBuilder()
      .uri(URI.create(url))
      .timeout(Duration.ofMillis(timeoutMs))
    contentType.foreach(b.header("Content-Type", _))
    headers.foreach { case (k, v) => b.header(k, v) }
    bearer.foreach(m => b.header("Authorization", "Bearer " + m.authenticate()))
    // setHeader: a per-request header (the sink's idempotency key) REPLACES
    // any same-named static header instead of doubling it
    extraHeaders.foreach { case (k, v) => b.setHeader(k, v) }
    val publisher = body.fold(HttpRequest.BodyPublishers.noBody())(
      HttpRequest.BodyPublishers.ofByteArray)
    val call = new Call(b.method(method, publisher).build(), method, url, body)
    open.add(call.result)
    HttpExchange.pending.incrementAndGet()
    call.result.whenComplete { (_, _) =>
      open.remove(call.result)
      HttpExchange.pending.decrementAndGet()
    }
    call.attempt(0)
    call.result
  }

  /** Cancel every exchange this instance has not finished. */
  def cancelAll(): Unit = open.forEach(_.cancel(true))

  private final class Call(
      req: HttpRequest,
      method: String,
      url: String,
      body: Option[Array[Byte]]) {
    val result = new CompletableFuture[HttpOutcome]()
    private lazy val bodyText = body.map(new String(_, StandardCharsets.UTF_8))

    def attempt(n: Int): Unit =
      try {
        if (!result.isDone) {
          callback.onRequest(method, url, if (callback.wantsBody) bodyText else None)
          val wire = client.sendAsync(req, HttpResponse.BodyHandlers.ofString())
          result.whenComplete((_, _) => if (result.isCancelled) wire.cancel(true))
          wire.whenComplete((resp, err) =>
            try settle(resp, HttpExchange.unwrap(err), n)
            catch { case t: Throwable => result.completeExceptionally(t) })
        }
      } catch { case t: Throwable => result.completeExceptionally(t) }

    private def settle(resp: HttpResponse[String], err: Throwable, n: Int): Unit = {
      def retryOr(last: HttpOutcome): Unit =
        if (n < retry.maxRetries)
          delay(retry.delayMillis(n + 1)).execute(() => attempt(n + 1))
        else result.complete(last)
      err match {
        case null =>
          val code = resp.statusCode()
          callback.onResponse(method, url, code)
          def outcome(state: String, body: String, error: String) =
            HttpOutcome(code, body, HttpExchange.headersOf(resp), state, error)
          if (policy.success(code))
            result.complete(outcome(CompletionState.Success, resp.body(), null))
          else if (policy.ignored(code))
            result.complete(outcome(CompletionState.IgnoreStatusCode, null, null))
          else {
            val failed = outcome(
              CompletionState.HttpErrorStatus, null, s"HTTP error status $code for $url")
            if (policy.retryable(code)) retryOr(failed) else result.complete(failed)
          }
        case e: IOException =>
          callback.onException(method, url, e)
          retryOr(HttpOutcome(null, null, Map.empty, CompletionState.Exception,
            s"${e.getClass.getSimpleName}: ${e.getMessage}", e))
        case e => result.completeExceptionally(e)
      }
    }
  }
}

object HttpExchange {

  /** Default retry-delay seam: run after `ms` on the common pool. */
  val delayed: Long => Executor =
    ms => CompletableFuture.delayedExecutor(ms, TimeUnit.MILLISECONDS)

  /** Exchanges sent and not yet finished, JVM-wide (leak checks). */
  private[graft] val pending = new AtomicLong()

  /** Interruptible wait for an outcome; a failed exchange rethrows its
    * cause rather than the executor wrapper, an interrupted wait cancels
    * the exchange.
    */
  def await[T](f: CompletableFuture[T]): T =
    try f.get()
    catch {
      case e: ExecutionException => throw unwrap(e)
      case e: InterruptedException => f.cancel(true); throw e
    }

  /** Run `cleanup` when the current Spark task ends, whether it succeeded,
    * failed or was killed; no-op outside a task.
    */
  def onTaskEnd(cleanup: => Unit): Unit =
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => cleanup))

  private def unwrap(t: Throwable): Throwable = t match {
    case e @ (_: CompletionException | _: ExecutionException) if e.getCause != null =>
      unwrap(e.getCause)
    case other => other
  }

  private def headersOf(resp: HttpResponse[_]): Map[String, Seq[String]] =
    resp.headers().map().asScala.map { case (k, v) => k -> v.asScala.toSeq }.toMap
}

/** The one parsed description of an HTTP exchange, shared by every surface
  * as the reference's lookup source and sink share their request machinery:
  * client config, static headers and preprocessors, OIDC settings, the
  * named [[RequestCallback]], [[StatusPolicy]], [[RetryPolicy]], timeout and
  * content type. The factories parse it where the query is defined, so a
  * bad option or an unknown callback fails there; executors open it with
  * [[exchange]], which reads no option.
  */
final case class HttpEndpoint(
    policy: StatusPolicy,
    retry: RetryPolicy,
    timeoutMs: Long,
    callbackName: String = "no-op",
    loggingLevel: RequestCallback.Level = RequestCallback.Level.Min,
    headers: Seq[(String, String)] = Nil,
    preprocessors: Seq[HeaderPreprocessor] = Nil,
    useRawAuthHeader: Boolean = false,
    oidc: Option[OidcConfig] = None,
    client: HttpClientFactory.ClientConfig = HttpClientFactory.ClientConfig(),
    contentType: Option[String] = None) {
  callback // fail fast where the endpoint is built, like factory discovery

  def callback: RequestCallback = RequestCallback.named(callbackName, loggingLevel)

  /** This endpoint sending `ct` as its Content-Type unless a Content-Type
    * header is configured, so a request carries exactly one.
    */
  def withDefaultContentType(ct: String): HttpEndpoint =
    if (headers.exists(_._1.equalsIgnoreCase("Content-Type"))) this
    else copy(contentType = Some(ct))

  /** Executor-side: a task's exchange on the JVM's shared client for this
    * config.
    */
  def exchange(): HttpExchange =
    new HttpExchange(this, HttpClientFactory.shared(client))
}

object HttpEndpoint {

  /** The lookup join's (every lookup surface's) and the polling source's
    * endpoint, with no content type: the lookup join sets its own.
    */
  def lookup(o: HttpOptions, preprocessors: Seq[HeaderPreprocessor]): HttpEndpoint =
    parse(o, preprocessors, StatusPolicy.lookup(o), RetryPolicy.fromOptions(o),
      o.durationMs(HttpOptions.RequestTimeout, 30000L),
      o.str(HttpOptions.SourceRequestCallback, "slf4j-lookup-logger"),
      o.withPrefix(HttpOptions.SourceHeaderPrefix).toSeq)

  /** Every sink surface's endpoint, with no content type: the sink sets its
    * format's. A sink request is never retried: a failed request fails the
    * task, and Spark's task retry re-sends.
    */
  def sink(o: HttpOptions, preprocessors: Seq[HeaderPreprocessor]): HttpEndpoint =
    parse(o, preprocessors, StatusPolicy.sink(o), FixedDelayRetry(0, 0L),
      o.durationMs(HttpOptions.SinkRequestTimeout, 30000L),
      o.str(HttpOptions.SinkRequestCallback, "slf4j-logger"),
      o.withPrefix(HttpOptions.SinkHeaderPrefix).toSeq)

  private def parse(
      o: HttpOptions,
      preprocessors: Seq[HeaderPreprocessor],
      policy: StatusPolicy,
      retry: RetryPolicy,
      timeoutMs: Long,
      callbackName: String,
      headers: Seq[(String, String)]): HttpEndpoint =
    HttpEndpoint(policy, retry, timeoutMs, callbackName,
      RequestCallback.Level.parse(o.str(HttpOptions.LoggingLevel, "MIN")),
      headers,
      preprocessors,
      o.bool(HttpOptions.UseRawAuthHeader, default = false),
      o.strOpt(HttpOptions.OidcTokenRequest).map(tokenRequest =>
        OidcConfig(
          tokenRequest,
          o.required(HttpOptions.OidcTokenEndpoint),
          o.durationMs(HttpOptions.OidcExpiryReduction, 1000L))),
      HttpClientFactory.ClientConfig.fromOptions(o))
}

/** Request/response observability hook (reference:
  * `HttpPostRequestCallback.java`, `Slf4JHttpLookupPostRequestCallback.java`,
  * `HttpLogger` levels MIN/REQ_RESP/MAX). Hooks run on the exchange's
  * threads: a first attempt's `onRequest` on the thread that calls
  * [[HttpExchange.send]] (the task thread for lookups and sink writes), a
  * retry's on the delay executor; `onResponse`/`onException` on the
  * `ForkJoinPool.commonPool` thread that completes the JDK client's
  * future (or on the sending thread, when that future has already
  * completed), never on the client's selector. Implementations must be
  * thread-safe. Each exchange resolves its callback by name
  * ([[RequestCallback.named]]) when it opens, on the executor.
  */
trait RequestCallback extends Serializable {

  /** Whether [[onRequest]] reads the body. When true it gets the request
    * body's text, decoded from the sent bytes at most once per request;
    * when false it gets `None`, and nothing is decoded for it.
    */
  def wantsBody: Boolean = true
  def onRequest(method: String, url: String, body: Option[String]): Unit
  def onResponse(method: String, url: String, status: Int): Unit
  def onException(method: String, url: String, e: Throwable): Unit
}

object RequestCallback {
  sealed trait Level
  object Level {
    case object Min extends Level // method+uri+status
    case object ReqResp extends Level // + bodies
    case object Max extends Level // + headers
    def parse(s: String): Level = s.toUpperCase match {
      case "MIN" => Min
      case "REQ_RESP" => ReqResp
      case "MAX" => Max
      case other => throw new HttpConfigException(s"Unknown logging level '$other'")
    }
  }

  /** Default slf4j-style logger callback. */
  final case class Slf4jLogger(level: Level = Level.Min) extends RequestCallback {
    @transient private lazy val log =
      org.slf4j.LoggerFactory.getLogger("graft.http.HttpLogger")
    override def wantsBody: Boolean = level != Level.Min && log.isDebugEnabled
    def onRequest(method: String, url: String, body: Option[String]): Unit =
      if (log.isDebugEnabled) level match {
        case Level.Min => log.debug(s"HTTP $method $url")
        case _ => log.debug(s"HTTP $method $url body=${body.getOrElse("")}")
      }
    def onResponse(method: String, url: String, status: Int): Unit =
      if (log.isDebugEnabled) log.debug(s"HTTP $method $url -> $status")
    def onException(method: String, url: String, e: Throwable): Unit =
      if (log.isDebugEnabled) log.debug(s"HTTP $method $url failed: $e")
  }

  val NoOp: RequestCallback = new RequestCallback {
    override def wantsBody: Boolean = false
    def onRequest(method: String, url: String, body: Option[String]): Unit = ()
    def onResponse(method: String, url: String, status: Int): Unit = ()
    def onException(method: String, url: String, e: Throwable): Unit = ()
  }

  /** Named callback registry (reference: `HttpPostRequestCallbackFactory`
    * ServiceLoader discovery behind `http.source.lookup.request-callback` /
    * `http.sink.request-callback`; defaults `slf4j-lookup-logger` /
    * `slf4j-logger`). Custom callbacks register by name before building the
    * lookup/sink; factories are (loggingLevel) => callback so the
    * `http.logging.level` option composes.
    */
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, Level => RequestCallback]()
  registry.put("slf4j-lookup-logger", lvl => Slf4jLogger(lvl))
  registry.put("slf4j-logger", lvl => Slf4jLogger(lvl))
  registry.put("no-op", _ => NoOp)

  def register(name: String, factory: Level => RequestCallback): Unit =
    registry.put(name, factory)

  def named(name: String, level: Level): RequestCallback =
    Option(registry.get(name)).map(_(level)).getOrElse(
      throw new HttpConfigException(
        s"Unknown request-callback '$name'; registered: " +
          registry.keySet().toArray.mkString(", ")))
}
