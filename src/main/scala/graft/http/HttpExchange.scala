package graft.http

import java.io.IOException
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
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

  /** Lookup source: [[ResponseChecker]] success/retry sets plus the
    * ignored-response codes (reference: `status/HttpResponseChecker.java`).
    */
  def lookup(o: HttpOptions): StatusPolicy = {
    val checker = ResponseChecker(
      o.str(HttpOptions.SuccessCodes, "2XX"),
      o.str(HttpOptions.RetryCodes, "500,503,504"))
    StatusPolicy(
      checker.successCodes,
      HttpCodes.parse(o.str(HttpOptions.IgnoredCodes, "")),
      checker.retryCodes)
  }
}

/** The connector's one HTTP exchange, shared by the lookup join, the batch
  * and streaming sinks and the polling source (reference:
  * `retry/HttpClientWithRetry.java`,
  * `table/lookup/JavaNetHttpPollingClient.java`,
  * `sink/httpclient/JavaNetSinkHttpClient.java`). [[send]] builds the
  * request, fires the [[RequestCallback]], and returns a future outcome:
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
    client: HttpClient,
    headers: Seq[(String, String)],
    callback: RequestCallback,
    policy: StatusPolicy,
    retry: RetryPolicy,
    timeoutMs: Long,
    contentType: Option[String] = None,
    delay: Long => Executor = HttpExchange.delayed) {

  private val open = java.util.concurrent.ConcurrentHashMap
    .newKeySet[CompletableFuture[HttpOutcome]]()

  def send(
      method: String,
      url: String,
      body: Option[String],
      extraHeaders: Seq[(String, String)] = Nil): CompletableFuture[HttpOutcome] = {
    val b = HttpRequest
      .newBuilder()
      .uri(URI.create(url))
      .timeout(Duration.ofMillis(timeoutMs))
    contentType.foreach(b.header("Content-Type", _))
    headers.foreach { case (k, v) => b.header(k, v) }
    // setHeader: a per-request header (the sink's idempotency key) REPLACES
    // any same-named static header instead of doubling it
    extraHeaders.foreach { case (k, v) => b.setHeader(k, v) }
    val publisher = body.fold(HttpRequest.BodyPublishers.noBody())(
      HttpRequest.BodyPublishers.ofString)
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
      body: Option[String]) {
    val result = new CompletableFuture[HttpOutcome]()

    def attempt(n: Int): Unit =
      try {
        if (!result.isDone) {
          callback.onRequest(method, url, body)
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

/** Options → the connection half shared by every HTTP surface: the JDK
  * client, the header chain (Basic → caller preprocessors → OIDC bearer,
  * [[HeaderPreprocessors.render]]) and the named [[RequestCallback]].
  * Built where the query is defined (an unknown callback fails there),
  * opened into an [[HttpExchange]] on the executor.
  */
final case class HttpEndpoint(
    options: HttpOptions,
    headers: Seq[(String, String)],
    callbackName: String,
    preprocessors: Seq[HeaderPreprocessor]) {
  callback // fail fast where the endpoint is built, like factory discovery

  def callback: RequestCallback = RequestCallback.named(
    callbackName,
    RequestCallback.Level.parse(options.str(HttpOptions.LoggingLevel, "MIN")))

  /** Executor-side: the shared client for this config and `shard`, the
    * headers rendered once (OIDC token via the per-executor manager).
    */
  def exchange(
      policy: StatusPolicy,
      retry: RetryPolicy,
      timeoutMs: Long,
      contentType: Option[String] = None,
      shard: Int = 0): HttpExchange = {
    val client =
      HttpClientFactory.shared(HttpClientFactory.ClientConfig.fromOptions(options), shard)
    val oidc = options.strOpt(HttpOptions.OidcTokenRequest).map { tokenReq =>
      val mgr = OidcManagers.shared(
        client,
        tokenReq,
        options.required(HttpOptions.OidcTokenEndpoint),
        options.durationMs(HttpOptions.OidcExpiryReduction, 1000L))
      () => mgr.authenticate()
    }
    val rendered = HeaderPreprocessors.render(
      headers,
      options.bool(HttpOptions.UseRawAuthHeader, default = false),
      oidc,
      preprocessors)
    new HttpExchange(client, rendered, callback, policy, retry, timeoutMs, contentType)
  }
}

object HttpEndpoint {

  def lookup(o: HttpOptions, preprocessors: Seq[HeaderPreprocessor]): HttpEndpoint =
    HttpEndpoint(
      o,
      o.withPrefix(HttpOptions.SourceHeaderPrefix).toSeq,
      o.str(HttpOptions.SourceRequestCallback, "slf4j-lookup-logger"),
      preprocessors)

  def sink(o: HttpOptions, preprocessors: Seq[HeaderPreprocessor]): HttpEndpoint =
    HttpEndpoint(
      o,
      o.withPrefix(HttpOptions.SinkHeaderPrefix).toSeq,
      o.str(HttpOptions.SinkRequestCallback, "slf4j-logger"),
      preprocessors)
}

/** Request/response observability hook (reference:
  * `HttpPostRequestCallback.java`, `Slf4JHttpLookupPostRequestCallback.java`,
  * `HttpLogger` levels MIN/REQ_RESP/MAX). Hooks run on the exchange's
  * threads: a first attempt's `onRequest` on the thread that calls
  * [[HttpExchange.send]] (the task thread for lookups and sink writes), a
  * retry's on the delay executor; `onResponse`/`onException` on a thread
  * of the HTTP client. Implementations must be thread-safe.
  */
trait RequestCallback extends Serializable {
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
