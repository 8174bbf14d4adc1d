package graft.http

import java.net.{Authenticator, InetSocketAddress, PasswordAuthentication, ProxySelector}
import java.net.http.HttpClient
import java.security.SecureRandom
import java.security.cert.X509Certificate
import java.time.Duration
import javax.net.ssl.{SSLContext, X509TrustManager}

/** JDK `java.net.http.HttpClient` factory (reference:
  * `utils/JavaNetHttpClientFactory.java`, `utils/ProxyConfig.java`,
  * `security/SelfSignedTrustManager.java`): connect timeout, HTTP version,
  * optional authenticated proxy, optional trust-everything SSL context for
  * `allowSelfSigned`. One client per executor per config — clients are
  * thread-safe and pooled by the JDK.
  */
object HttpClientFactory {

  final case class ClientConfig(
      connectTimeoutMs: Option[Long] = None,
      httpVersion: Option[String] = None, // HTTP_1_1 | HTTP_2
      proxyHost: Option[String] = None,
      proxyPort: Option[Int] = None,
      proxyUsername: Option[String] = None,
      proxyPassword: Option[String] = None,
      allowSelfSigned: Boolean = false,
      ssl: Ssl.SslConfig = Ssl.SslConfig())
      extends Serializable

  object ClientConfig {
    def fromOptions(o: HttpOptions): ClientConfig = ClientConfig(
      connectTimeoutMs =
        o.strOpt(HttpOptions.ConnectionTimeout).map(HttpOptions.parseDurationMs),
      httpVersion = o.strOpt(HttpOptions.HttpVersion),
      proxyHost = o.strOpt(HttpOptions.ProxyHost),
      proxyPort = o.strOpt(HttpOptions.ProxyPort).map(_.toInt),
      proxyUsername = o.strOpt(HttpOptions.ProxyUsername),
      proxyPassword = o.strOpt(HttpOptions.ProxyPassword),
      allowSelfSigned = o.bool(HttpOptions.AllowSelfSigned, default = false),
      ssl = Ssl.SslConfig.fromOptions(o))
  }

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(ClientConfig, Int), HttpClient]()

  /** Per-executor cached client for a config (JDK clients hold a connection
    * pool; one per distinct config per JVM keeps sockets bounded at scale).
    * Sharded: each JDK HttpClient multiplexes ALL its requests through a
    * single selector thread, which caps one client at roughly 1-2k req/s
    * regardless of caller concurrency, so high-fanout operators spread
    * tasks over a small client pool.
    */
  val ClientShards = 8

  def shared(cfg: ClientConfig, shard: Int): HttpClient =
    cache.computeIfAbsent((cfg, shard % ClientShards), c => build(c._1))

  def build(cfg: ClientConfig): HttpClient = {
    val b = HttpClient.newBuilder()
    cfg.connectTimeoutMs.foreach(ms => b.connectTimeout(Duration.ofMillis(ms)))
    // Default to HTTP/1.1: the JDK client's HTTP/2-first negotiation costs
    // ~20x per request against 1.1-only endpoints (measured 23 vs 547 req/s
    // sequential on loopback). The reference exposes the same escape hatch
    // (`http.source.lookup.http-version`) for 1.1-only endpoints; we just
    // flip the default — set HTTP_2 explicitly for h2 services.
    cfg.httpVersion.getOrElse("HTTP_1_1") match {
      case "HTTP_1_1" => b.version(HttpClient.Version.HTTP_1_1)
      case "HTTP_2" => b.version(HttpClient.Version.HTTP_2)
      case other =>
        throw new HttpConfigException(s"Unknown http version '$other'")
    }
    for (host <- cfg.proxyHost; port <- cfg.proxyPort) {
      b.proxy(ProxySelector.of(new InetSocketAddress(host, port)))
      for (user <- cfg.proxyUsername; pass <- cfg.proxyPassword)
        b.authenticator(new Authenticator {
          override def getPasswordAuthentication: PasswordAuthentication =
            new PasswordAuthentication(user, pass.toCharArray)
        })
    }
    Ssl.contextFor(cfg.ssl).foreach(b.sslContext)
    b.build()
  }

  /** Trust-everything context for `http.security.cert.server.allowSelfSigned`
    * (non-production use, mirroring the reference's SelfSignedTrustManager).
    */
  def trustAllContext(): SSLContext = {
    val tm = new X509TrustManager {
      override def checkClientTrusted(c: Array[X509Certificate], a: String): Unit = ()
      override def checkServerTrusted(c: Array[X509Certificate], a: String): Unit = ()
      override def getAcceptedIssuers: Array[X509Certificate] = Array.empty
    }
    val ctx = SSLContext.getInstance("TLS")
    ctx.init(null, Array(tm), new SecureRandom())
    ctx
  }
}
