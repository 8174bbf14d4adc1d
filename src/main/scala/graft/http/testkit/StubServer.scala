package graft.http.testkit

import java.io.{BufferedInputStream, BufferedOutputStream, InputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.AtomicInteger
import javax.net.ssl.{SSLContext, SSLServerSocket}
import scala.jdk.CollectionConverters._

/** Local HTTP stub server — the zero-egress analog of the WireMock fixtures
  * the reference uses in its integration tests (e.g.
  * `JavaNetHttpPollingClientWithWireTest.java`,
  * `HttpLookupTableSourceITCaseTest.java`). Serves deterministic responses,
  * records every request, and supports fault injection (fail N times then
  * succeed, fixed status, delays) for retry/classification specs. It is the
  * repository's one HTTP server: given `tls`, it serves HTTPS (and with
  * `needClientAuth`, mTLS); [[ProxyServer]] is a route on it.
  *
  * Engine: hand-rolled blocking HTTP/1.1 with a dedicated accept thread and
  * thread-per-connection keep-alive workers (named
  * `graft-stub-server-<port>`). The JDK's built-in `HttpServer`
  * it replaces multiplexes accept + all connection readiness through ONE
  * dispatcher thread and caps idle keep-alive connections at
  * `sun.net.httpserver.maxIdleConnections` (default 200); under a few hundred
  * concurrent lookup connections its accept queue overflows
  * (`TcpExtListenOverflows`) and dropped SYNs retransmit with 1-2-4-8s
  * backoff — measured as 11s p99 request tails and a 3-10× cold-lookup
  * slowdown. A fixture must never be the bottleneck of what it measures;
  * threads are cheap at test scale.
  */
final class StubServer(
    recording: Boolean = true,
    tls: Option[SSLContext] = None,
    needClientAuth: Boolean = false) {
  import StubServer.Reply

  final case class Recorded(
      method: String,
      path: String,
      query: String,
      body: String,
      headers: Map[String, List[String]])

  // longest prefix first; of equal length, first registered first
  private val routes =
    new java.util.concurrent.CopyOnWriteArrayList[(String, Recorded => Reply)]()
  private val recorded = new ConcurrentLinkedQueue[Recorded]()

  private val socket: ServerSocket = tls match {
    case Some(ctx) =>
      val s = ctx.getServerSocketFactory.createServerSocket()
        .asInstanceOf[SSLServerSocket]
      s.setNeedClientAuth(needClientAuth)
      s
    case None => new ServerSocket()
  }
  socket.setReuseAddress(true)
  socket.bind(new InetSocketAddress("127.0.0.1", 0), 8192)

  // open connections, closed by stop(): a worker blocked in a socket read
  // ignores interrupts, so only closing its socket ends it
  private val connections = ConcurrentHashMap.newKeySet[Socket]()
  private val pool = Executors.newCachedThreadPool((r: Runnable) => {
    val t = new Thread(r, s"graft-stub-server-$port")
    t.setDaemon(true) // never block JVM exit (Verify/Bench mains)
    t
  })
  @volatile private var running = false
  private val acceptor = new Thread(
    () =>
      while (running) {
        try {
          val s = socket.accept()
          s.setTcpNoDelay(true)
          connections.add(s)
          // a connection accepted while stop() ran is closed here
          if (running) pool.execute(() => serve(s)) else s.close()
        } catch { case _: Throwable => () /* socket closed on stop() */ }
      },
    "graft-stub-acceptor")
  acceptor.setDaemon(true)

  def port: Int = socket.getLocalPort
  def url(path: String): String =
    s"${if (tls.isDefined) "https" else "http"}://127.0.0.1:$port$path"

  def requests: List[Recorded] = recorded.asScala.toList
  def requestCount: Int = recorded.size()
  def clear(): Unit = recorded.clear()

  /** Route: handler maps a recorded request to (status, body). Longest
    * registered path prefix wins (same semantics as the JDK
    * `HttpServer.createContext`).
    */
  def route(path: String)(handler: Recorded => (Int, String)): this.type =
    respond(path) { req =>
      val (status, body) = handler(req)
      Reply(status, body)
    }

  /** [[route]] whose handler also sets response headers. */
  def respond(path: String)(handler: Recorded => Reply): this.type =
    routes.synchronized {
      val at = routes.asScala.indexWhere(_._1.length < path.length)
      routes.add(if (at < 0) routes.size else at, path -> handler)
      this
    }

  /** Route that fails with `failStatus` for the first `failures` calls (per
    * route), then delegates — for retry specs.
    */
  def flakyRoute(path: String, failures: Int, failStatus: Int = 503)(
      handler: Recorded => (Int, String)): this.type = {
    val remaining = new AtomicInteger(failures)
    route(path) { req =>
      if (remaining.getAndDecrement() > 0) (failStatus, "transient failure")
      else handler(req)
    }
  }

  def start(): this.type = {
    running = true
    acceptor.start()
    this
  }

  /** Stops accepting and closes every open connection, which ends its
    * worker thread.
    */
  def stop(): Unit = {
    running = false
    try socket.close()
    catch { case _: Throwable => () }
    connections.forEach { s =>
      try s.close()
      catch { case _: Throwable => () }
    }
    pool.shutdownNow()
  }

  // ---- connection loop ----------------------------------------------------

  private def serve(s: Socket): Unit = {
    try {
      val in = new BufferedInputStream(s.getInputStream)
      val out = new BufferedOutputStream(s.getOutputStream)
      var keepAlive = true
      while (keepAlive) {
        readRequest(in) match {
          case None => keepAlive = false
          case Some(req) =>
            if (recording) recorded.add(req)
            val reply = handlerFor(req.path) match {
              case Some(h) =>
                try h(req)
                catch { case e: Throwable => Reply(500, s"stub handler error: $e") }
              case None => Reply(404, """{"error":"no matching route"}""")
            }
            val close = req.headers
              .find(_._1.equalsIgnoreCase("Connection"))
              .flatMap(_._2.headOption)
              .exists(_.equalsIgnoreCase("close"))
            writeResponse(out, reply, close)
            if (close) keepAlive = false
        }
      }
    } catch { case _: Throwable => () } // broken pipe / reset: client went away
    finally {
      connections.remove(s)
      try s.close()
      catch { case _: Throwable => () }
    }
  }

  private def readRequest(in: InputStream): Option[Recorded] = {
    val requestLine = readLine(in)
    if (requestLine == null || requestLine.isEmpty) return None
    val parts = requestLine.split(" ")
    if (parts.length < 2) return None
    val method = parts(0)
    val (path, query) = parts(1).split("\\?", 2) match {
      case Array(p, q) => (p, q)
      case Array(p) => (p, "")
    }
    var headers = Map.empty[String, List[String]]
    var line = readLine(in)
    while (line != null && line.nonEmpty) {
      line.split(":", 2) match {
        case Array(k, v) =>
          // same key normalization as com.sun Headers: First-upper-rest-lower
          val key = normalizeHeaderKey(k.trim)
          headers = headers.updated(key, headers.getOrElse(key, Nil) :+ v.trim)
        case _ => ()
      }
      line = readLine(in)
    }
    if (line == null) return None // EOF mid-headers
    val contentLength = headers
      .find(_._1.equalsIgnoreCase("Content-Length"))
      .flatMap(_._2.headOption)
      .map(_.toInt)
      .getOrElse(0)
    val body =
      if (contentLength > 0)
        new String(in.readNBytes(contentLength), StandardCharsets.UTF_8)
      else ""
    Some(Recorded(method, path, query, body, headers))
  }

  /** Bytes to `\n` (tolerating `\r\n`); null on EOF before any byte. */
  private def readLine(in: InputStream): String = {
    var c = in.read()
    if (c == -1) return null
    val sb = new java.lang.StringBuilder(64)
    while (c != -1 && c != '\n') {
      if (c != '\r') sb.append(c.toChar)
      c = in.read()
    }
    sb.toString
  }

  private def normalizeHeaderKey(k: String): String =
    if (k.isEmpty) k
    else k.substring(0, 1).toUpperCase + k.substring(1).toLowerCase

  private def handlerFor(path: String): Option[Recorded => Reply] =
    routes.asScala.find { case (p, _) => path.startsWith(p) }.map(_._2)

  private def writeResponse(
      out: BufferedOutputStream,
      reply: Reply,
      close: Boolean): Unit = {
    val bytes = reply.body.getBytes(StandardCharsets.UTF_8)
    val head = new java.lang.StringBuilder(128)
    head.append("HTTP/1.1 ").append(reply.status).append(' ')
      .append(StubServer.reason(reply.status)).append("\r\n")
      .append("Content-Type: application/json\r\n")
      .append("Content-Length: ").append(bytes.length).append("\r\n")
    reply.headers.foreach { case (k, v) =>
      head.append(k).append(": ").append(v).append("\r\n")
    }
    if (close) head.append("Connection: close\r\n")
    head.append("\r\n")
    out.write(head.toString.getBytes(StandardCharsets.ISO_8859_1))
    out.write(bytes)
    out.flush()
  }
}

object StubServer {
  def apply(): StubServer = new StubServer(recording = true)

  /** Serving-only stub (skips request capture — for load-bearing fixtures
    * like the bench lookup service).
    */
  def serveOnly(): StubServer = new StubServer(recording = false)

  /** A route's answer: status, body and extra response headers. */
  final case class Reply(
      status: Int,
      body: String,
      headers: Seq[(String, String)] = Nil)

  /** Parse a query string into a name→value map (first value wins). */
  def queryMap(q: String): Map[String, String] =
    q.split("&").filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) =>
          java.net.URLDecoder.decode(k, "UTF-8") ->
            java.net.URLDecoder.decode(v, "UTF-8")
        case Array(k) => java.net.URLDecoder.decode(k, "UTF-8") -> ""
      }
    }.toMap

  private val reasons = Map(
    200 -> "OK", 201 -> "Created", 204 -> "No Content",
    400 -> "Bad Request", 401 -> "Unauthorized", 403 -> "Forbidden",
    404 -> "Not Found", 407 -> "Proxy Authentication Required",
    429 -> "Too Many Requests",
    500 -> "Internal Server Error", 503 -> "Service Unavailable",
    504 -> "Gateway Timeout")

  private[testkit] def reason(status: Int): String =
    reasons.getOrElse(status, "Status")
}
