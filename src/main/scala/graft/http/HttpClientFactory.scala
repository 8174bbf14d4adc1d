package graft.http

import java.net.{Authenticator, InetSocketAddress, PasswordAuthentication, ProxySelector}
import java.net.http.HttpClient
import java.time.Duration

/** JDK `java.net.http.HttpClient` factory (reference:
  * `utils/JavaNetHttpClientFactory.java`, `utils/ProxyConfig.java`):
  * connect timeout, HTTP version, optional authenticated proxy, and the
  * [[Ssl]] context. One client per JVM per config — clients are
  * thread-safe and pooled by the JDK.
  *
  * Dispatch: every client runs the JDK's internal tasks inline
  * (`executor(r => r.run())`), so it starts no `HttpClient-N-Worker` pool
  * and parses each response on its selector thread instead of handing it
  * to a worker. No graft code runs there: on JDK 17 a `sendAsync` future
  * completes on `ForkJoinPool.commonPool` whatever the client's executor,
  * so the exchange's settle, callbacks and cache puts stay on the common
  * pool. Warm `graft.tools.ConnStorm`, 4-vCPU host, JDK pool vs inline
  * req/s at in-flight 4 / 16 / 64: 17.0k vs 31.1k, 21.1k vs 30.6k,
  * 20.5k vs 26.7k. The sink's ~105 KB request bodies go through the one
  * selector thread too: `sink_batch` (same host, 12 alternating pairs)
  * ran at a median 1.70M rows/s inline vs 1.76M on the JDK pool, inside
  * the pool's run-to-run spread (IQR 1.58M-1.86M).
  */
object HttpClientFactory {

  final case class ClientConfig(
      connectTimeoutMs: Option[Long] = None,
      httpVersion: Option[String] = None, // HTTP_1_1 | HTTP_2
      proxyHost: Option[String] = None,
      proxyPort: Option[Int] = None,
      proxyUsername: Option[String] = None,
      proxyPassword: Option[String] = None,
      ssl: Ssl.SslConfig = Ssl.SslConfig())
      extends Serializable

  object ClientConfig {
    def fromOptions(o: HttpOptions): ClientConfig = ClientConfig(
      connectTimeoutMs =
        o.strOpt(HttpOptions.ConnectionTimeout).map(HttpOptions.parseDurationMs),
      // validated here, where the query is defined
      httpVersion = o.strOpt(HttpOptions.HttpVersion).map { v => version(v); v },
      proxyHost = o.strOpt(HttpOptions.ProxyHost),
      proxyPort = o.strOpt(HttpOptions.ProxyPort).map(_.toInt),
      proxyUsername = o.strOpt(HttpOptions.ProxyUsername),
      proxyPassword = o.strOpt(HttpOptions.ProxyPassword),
      ssl = Ssl.SslConfig.fromOptions(o))
  }

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[ClientConfig, HttpClient]()

  /** The JVM's one client for a config. A JDK client multiplexes every
    * request through one selector thread and keeps its own connection
    * pool, so one client per distinct config keeps threads and sockets
    * flat however many tasks share it. One client is no slower than
    * eight: `graft.tools.ConnStorm` warm against the loopback stub, 4-vCPU
    * host, median of three runs per point, req/s at in-flight 4 / 16 / 64
    * = 19.5k / 20.6k / 19.0k with 1 client, 15.1k / 17.7k / 17.3k with 8.
    */
  def shared(cfg: ClientConfig): HttpClient =
    cache.computeIfAbsent(cfg, build(_))

  def build(cfg: ClientConfig): HttpClient = {
    val b = HttpClient.newBuilder()
    cfg.connectTimeoutMs.foreach(ms => b.connectTimeout(Duration.ofMillis(ms)))
    // Default to HTTP/1.1: the JDK client's HTTP/2-first negotiation costs
    // ~20x per request against 1.1-only endpoints (measured 23 vs 547 req/s
    // sequential on loopback). The reference exposes the same escape hatch
    // (`http.source.lookup.http-version`) for 1.1-only endpoints; we just
    // flip the default — set HTTP_2 explicitly for h2 services.
    b.version(version(cfg.httpVersion.getOrElse("HTTP_1_1")))
    b.executor((r: Runnable) => r.run())
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

  private def version(name: String): HttpClient.Version = name match {
    case "HTTP_1_1" => HttpClient.Version.HTTP_1_1
    case "HTTP_2" => HttpClient.Version.HTTP_2
    case other => throw new HttpConfigException(s"Unknown http version '$other'")
  }
}
