package graft.http.testkit

import java.net.{HttpURLConnection, Proxy, URI}
import java.nio.charset.StandardCharsets
import java.util.Base64

import graft.http.testkit.StubServer.Reply

/** Minimal in-process HTTP forward proxy for e2e proxy specs (the container
  * has no proxy daemon; the reference covers `utils/ProxyConfig` only with
  * unit tests — this gives the Spark client factory a real 127.0.0.1 proxy
  * to traverse).
  *
  * One [[StubServer]] route that matches absolute-form `http://` request
  * targets (RFC 7230 §5.3.2), with optional Basic proxy auth (407 +
  * `Proxy-Authenticate` challenge, as the JDK client's `Authenticator`
  * expects). It forwards each authorized request to the origin and answers
  * with the origin's status and body plus `Via: 1.1 graft-proxy`. No
  * CONNECT tunneling — lookup/sink specs are plain HTTP.
  */
final class ProxyServer(requireUser: Option[(String, String)] = None) {

  final case class Proxied(method: String, target: String, authorized: Boolean)

  private val expectedAuth = requireUser.map { case (u, p) =>
    "Basic " + Base64.getEncoder
      .encodeToString(s"$u:$p".getBytes(StandardCharsets.UTF_8))
  }

  private val stub = StubServer().respond("http://") { req =>
    if (!authorized(req))
      Reply(407, "", Seq("Proxy-Authenticate" -> "Basic realm=\"graft\""))
    else forward(req)
  }

  def port: Int = stub.port
  def host: String = "127.0.0.1"

  def requests: List[Proxied] =
    stub.requests.map(r => Proxied(r.method, target(r), authorized(r)))
  def requestCount: Int = stub.requestCount

  def start(): this.type = { stub.start(); this }
  def stop(): Unit = stub.stop()

  private def target(req: StubServer#Recorded): String =
    if (req.query.isEmpty) req.path else s"${req.path}?${req.query}"

  private def authorized(req: StubServer#Recorded): Boolean =
    expectedAuth.forall(e => req.headers.get("Proxy-authorization").exists(_.contains(e)))

  // StubServer's normalized (First-upper-rest-lower) header keys
  private val hopByHop = Set("Proxy-authorization", "Proxy-connection", "Connection")

  /** One direct upstream request; hop-by-hop and proxy headers stay here. */
  private def forward(req: StubServer#Recorded): Reply = {
    val c = URI.create(target(req)).toURL
      .openConnection(Proxy.NO_PROXY).asInstanceOf[HttpURLConnection]
    try {
      c.setInstanceFollowRedirects(false)
      c.setRequestMethod(req.method)
      for {
        (k, vs) <- req.headers
        if !hopByHop(k)
        v <- vs
      } c.addRequestProperty(k, v)
      if (req.body.nonEmpty) {
        c.setDoOutput(true)
        c.getOutputStream.write(req.body.getBytes(StandardCharsets.UTF_8))
      }
      val status = c.getResponseCode
      val in = if (status >= 400) c.getErrorStream else c.getInputStream
      val body =
        if (in == null) ""
        else try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
      Reply(status, body, Seq("Via" -> "1.1 graft-proxy"))
    } finally c.disconnect()
  }
}
