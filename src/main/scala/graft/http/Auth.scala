package graft.http

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.{Duration, Instant}
import java.util.Base64

/** Header value preprocessors (reference:
  * `preprocessor/HeaderValuePreprocessor.java` and friends).
  */
trait HeaderValuePreprocessor extends Serializable {
  def preprocess(rawValue: String): String
}

/** Basic-auth transformation (reference:
  * `table/BasicAuthHeaderValuePreprocessor` semantics, documented in
  * `docs/content/docs/connectors/table/http.md` "Basic Authentication"):
  * values already starting with `Basic ` — or any value when `useRawAuthHeader`
  * — pass through untouched; a `user:password` value is Base64-encoded and
  * prefixed with `Basic `.
  */
final case class BasicAuthHeaderValuePreprocessor(useRawAuthHeader: Boolean = false)
    extends HeaderValuePreprocessor {
  def preprocess(rawValue: String): String =
    if (useRawAuthHeader || rawValue.startsWith("Basic ")) rawValue
    else
      "Basic " + Base64.getEncoder.encodeToString(
        rawValue.getBytes(StandardCharsets.UTF_8))
}

/** A value preprocessor bound to one header name (reference:
  * `preprocessor/HeaderPreprocessor.java`).
  */
final case class HeaderPreprocessor(
    headerName: String,
    preprocessor: HeaderValuePreprocessor)
    extends Serializable

/** Composable header preprocessing (reference:
  * `preprocessor/ComposeHeaderPreprocessor.java`): every preprocessor whose
  * header name matches is applied IN ORDER to that header's value. The
  * standard connector chain ([[HeaderPreprocessors.render]]) — Basic-auth
  * transformation on `Authorization`, then the caller's preprocessors — is
  * shared by every HTTP surface through [[HttpEndpoint]], and callers
  * extend it by passing extra preprocessors.
  */
object HeaderPreprocessors {

  /** Pure composition: apply all matching preprocessors, in sequence order,
    * to each header value.
    */
  def compose(entries: Seq[HeaderPreprocessor])(
      headers: Seq[(String, String)]): Seq[(String, String)] =
    headers.map { case (name, value) =>
      name -> entries
        .filter(_.headerName.equalsIgnoreCase(name))
        .foldLeft(value)((acc, e) => e.preprocessor.preprocess(acc))
    }

  /** The connector's standard static chain: caller preprocessors compose
    * AFTER the Basic-auth step. An OIDC bearer, when configured, replaces
    * any `Authorization` header per request ([[HttpExchange]]; docs: "Http
    * headers" note).
    */
  def render(
      headers: Seq[(String, String)],
      useRawAuthHeader: Boolean,
      extra: Seq[HeaderPreprocessor] = Nil): Seq[(String, String)] =
    compose(HeaderPreprocessor(
      "Authorization",
      BasicAuthHeaderValuePreprocessor(useRawAuthHeader)) +: extra)(headers)
}

/** OIDC access-token manager (reference: `auth/OidcAccessTokenManager.java:
  * 36-140`): POSTs the configured `application/x-www-form-urlencoded` token
  * request to the token endpoint, caches `access_token` until
  * `expires_in - expiryReduction`, and refreshes on demand. Thread-safe —
  * shared per executor.
  */
final class OidcTokenManager(
    client: HttpClient,
    tokenRequestBody: String,
    tokenEndpointUrl: String,
    expiryReduction: Duration = Duration.ofSeconds(1)) {

  private var cachedToken: String = _
  private var cachedExpiry: Instant = _

  def authenticate(): String = synchronized {
    if (cachedToken == null || Instant.now().isAfter(cachedExpiry))
      requestToken()
    cachedToken
  }

  private def requestToken(): Unit = {
    val req = HttpRequest
      .newBuilder()
      .uri(URI.create(tokenEndpointUrl))
      .header("Content-Type", "application/x-www-form-urlencoded")
      .POST(HttpRequest.BodyPublishers.ofString(tokenRequestBody))
      .build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 200)
      throw new IllegalStateException(
        s"Token endpoint returned http status ${resp.statusCode()}")
    val root = Json.mapper.readTree(resp.body())
    cachedToken = root.path("access_token").textValue()
    var expiresIn = Duration.ofSeconds(root.path("expires_in").asInt())
    if (expiresIn.compareTo(expiryReduction) > 0)
      expiresIn = expiresIn.minus(expiryReduction)
    cachedExpiry = Instant.now().plus(expiresIn)
  }
}

/** Parsed OIDC settings (`http.security.oidc.token.*`): the token request
  * body, the token endpoint and the expiry reduction.
  */
final case class OidcConfig(
    tokenRequest: String,
    endpointUrl: String,
    expiryReductionMs: Long)

/** Per-executor OIDC token manager registry (one manager per endpoint+request
  * so the cached token is shared by all tasks on the executor).
  */
object OidcManagers {
  private val instances =
    new java.util.concurrent.ConcurrentHashMap[String, OidcTokenManager]()
  def shared(client: HttpClient, cfg: OidcConfig): OidcTokenManager =
    instances.computeIfAbsent(
      cfg.endpointUrl + "\u0000" + cfg.tokenRequest,
      _ =>
        new OidcTokenManager(
          client,
          cfg.tokenRequest,
          cfg.endpointUrl,
          Duration.ofMillis(cfg.expiryReductionMs)))
}
