package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, LongAdder}

import graft.http.testkit.StubServer

/** The REST service the workloads talk to: graft's in-process
  * [[StubServer]] with the benchmark's own route handlers, which count
  * what the connector puts on the wire.
  *
  *   - `GET /customer?c_custkey=K`: the customer as JSON (200), or 404 for
  *     an unknown key. With `flakyFirst`, a seeded 1% of known keys answer
  *     503 to their first request of a run, then 200.
  *   - `POST /sink`: 200; the body is kept for the correctness check.
  */
final class Fixture(seed: Long, flakyFirst: Boolean) {
  private val customers: Array[String] =
    Array.tabulate(Gen.CustomerKeys)(k => Gen.customerJson(Gen.customer(seed, k)))
  private val notFound = """{"error":"not found"}"""

  val requests = new LongAdder
  val status2xx = new LongAdder
  val status404 = new LongAdder
  val status503 = new LongAdder
  val bytesIn = new LongAdder
  val bytesOut = new LongAdder
  val handlerNanos = new LongAdder
  private val inflight = new AtomicInteger
  val inflightMax = new AtomicInteger

  private val failedOnce = ConcurrentHashMap.newKeySet[java.lang.Long]()
  /** Sink request bodies received since the last [[reset]]. */
  val sinkBodies = new ConcurrentLinkedQueue[String]()
  /** Lookup response bodies, captured while [[captureResponses]] is set;
    * kept across [[reset]].
    */
  val responses = new ConcurrentLinkedQueue[String]()
  @volatile var captureResponses = false

  private val server = StubServer.serveOnly()
    .route("/customer")(req => counted(req.query.length)(lookup(req.query)))
    .route("/sink") { req =>
      counted(req.body.length) {
        sinkBodies.add(req.body)
        (200, "{}")
      }
    }
    .start()

  def url(path: String): String = server.url(path)

  def reset(): Unit = {
    Seq(requests, status2xx, status404, status503, bytesIn, bytesOut, handlerNanos)
      .foreach(_.reset())
    inflightMax.set(0)
    failedOnce.clear()
    sinkBodies.clear()
  }

  def stop(): Unit = server.stop()

  private def counted(inBytes: Int)(h: => (Int, String)): (Int, String) = {
    val t0 = System.nanoTime()
    inflightMax.accumulateAndGet(inflight.incrementAndGet(), math.max)
    try {
      val (status, body) = h
      requests.increment()
      status match {
        case s if s / 100 == 2 => status2xx.increment()
        case 404 => status404.increment()
        case 503 => status503.increment()
        case _ => ()
      }
      bytesIn.add(inBytes)
      bytesOut.add(body.length)
      (status, body)
    } finally {
      inflight.decrementAndGet()
      handlerNanos.add(System.nanoTime() - t0)
    }
  }

  private def lookup(query: String): (Int, String) = {
    val key = StubServer.queryMap(query).get("c_custkey").map(_.toLong).getOrElse(-1L)
    if (key < 0 || key >= Gen.CustomerKeys) (404, notFound)
    else if (flakyFirst && Gen.flaky(seed, key) && failedOnce.add(key))
      (503, "transient failure")
    else {
      val body = customers(key.toInt)
      if (captureResponses) responses.add(body)
      (200, body)
    }
  }
}
