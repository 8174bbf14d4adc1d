package graft.tools

import java.util.concurrent.{CountDownLatch, Executors, Semaphore}
import java.net.URI
import java.net.http.{HttpRequest, HttpResponse}

import graft.http.HttpClientFactory
import graft.http.testkit.StubServer

/** Pure-JDK microbenchmark: request throughput vs in-flight bound against the
  * stub server, no Spark involved. Isolates connection-ramp cost. Each
  * storm goes through one client, as graft runs one per config;
  * `STORM_INFLIGHT` (default 512) sets the in-flight bound.
  */
object ConnStorm {
  def main(args: Array[String]): Unit = {
    val server = StubServer.serveOnly()
      .route("/ping")(_ => (200, """{"ok":true}"""))
      .start()
    val url = server.url("/ping")

    def storm(label: String, inflight: Int, total: Int): Unit = {
      val client = HttpClientFactory.build(HttpClientFactory.ClientConfig())
      val pool = Executors.newFixedThreadPool(inflight)
      val sem = new Semaphore(inflight)
      val done = new CountDownLatch(total)
      val lat = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val t0 = System.nanoTime()
      var i = 0
      while (i < total) {
        sem.acquire()
        pool.submit(new Runnable {
          def run(): Unit = {
            val r0 = System.nanoTime()
            try {
              val req = HttpRequest.newBuilder(URI.create(url)).GET().build()
              client.send(req, HttpResponse.BodyHandlers.ofString())
            } catch { case e: Exception => println(s"[storm] error: $e") }
            finally { lat.add(System.nanoTime() - r0); sem.release(); done.countDown() }
          }
        })
        i += 1
      }
      done.await()
      val dt = (System.nanoTime() - t0) / 1e9
      val ls = lat.toArray(new Array[java.lang.Long](0)).map(_.longValue / 1000000.0).sorted
      def pct(p: Double) = ls(((ls.length - 1) * p).toInt)
      println(f"[storm] $label inflight=$inflight: $dt%.2f s (${total / dt}%.0f req/s) " +
        f"p50=${pct(0.5)}%.1fms p90=${pct(0.9)}%.1fms p99=${pct(0.99)}%.1fms max=${ls.last}%.0fms")
      pool.shutdown()
    }

    val inflight = sys.env.getOrElse("STORM_INFLIGHT", "512").toInt
    storm("cold", inflight, 15000)
    storm("warm", inflight, 15000)
    sys.exit(0)
  }
}
