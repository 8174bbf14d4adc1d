package graft.http

import java.net.{Socket, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.http.testkit.StubServer

/** The fixture server itself: what a plain route puts on the wire, and
  * that `stop()` ends its connection threads.
  */
class StubServerSpec extends AnyFunSuite with Matchers {

  test("a plain route answers with exactly its status line, two headers and body") {
    val server = StubServer.serveOnly().route("/x")(_ => (200, """{"k":"v"}""")).start()
    val socket = new Socket("127.0.0.1", server.port)
    try {
      socket.getOutputStream.write(
        "GET /x?a=1 HTTP/1.1\r\nHost: 127.0.0.1\r\n\r\n".getBytes(StandardCharsets.ISO_8859_1))
      // half-close: the server answers, reads EOF and closes the connection
      socket.shutdownOutput()
      val got = new String(socket.getInputStream.readAllBytes(), StandardCharsets.ISO_8859_1)
      got shouldBe
        "HTTP/1.1 200 OK\r\n" +
        "Content-Type: application/json\r\n" +
        "Content-Length: 9\r\n" +
        "\r\n" +
        """{"k":"v"}"""
    } finally { socket.close(); server.stop() }
  }

  test("the longest matching prefix wins; of equal prefixes, the first registered") {
    val server = StubServer.serveOnly()
      .route("/")(_ => (200, "root"))
      .route("/a")(_ => (200, "a"))
      .route("/a/b")(_ => (200, "a/b"))
      .route("/a/b")(_ => (200, "a/b again"))
      .route("/a/c")(_ => (200, "a/c"))
      .start()
    val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    def body(path: String) = client.send(
      HttpRequest.newBuilder(URI.create(server.url(path))).GET().build(),
      HttpResponse.BodyHandlers.ofString()).body()
    try {
      Seq("/x", "/a", "/ab", "/a/b/c", "/a/c", "/a/d").map(body) shouldBe
        Seq("root", "a", "a", "a/b", "a/c", "a")
    } finally server.stop()
  }

  test("stop() closes kept-alive connections and ends their worker threads") {
    @volatile var worker: Thread = null
    val server = StubServer().route("/t") { _ =>
      worker = Thread.currentThread()
      (200, "ok")
    }.start()
    val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    (1 to 4).foreach { _ =>
      client.send(
        HttpRequest.newBuilder(URI.create(server.url("/t"))).GET().build(),
        HttpResponse.BodyHandlers.ofString()).statusCode() shouldBe 200
    }
    // the client pools its connection, so the worker sits in a socket read
    worker.isAlive shouldBe true
    server.stop()
    worker.join(1000)
    worker.isAlive shouldBe false
    val name = s"graft-stub-server-${server.port}"
    worker.getName shouldBe name
    Thread.getAllStackTraces.keySet.asScala.filter(_.getName == name) shouldBe empty
  }
}
