package graft.http

import java.net.http.HttpClient

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.scalatest.BeforeAndAfterAll

import graft.http.testkit.StubServer

/** [[HttpExchange]] behavior against the stub server with the lookup status
  * policy: classification, retries, ignored codes, exceptions (mirrors the
  * reference's JavaNetHttpPollingClientConnectionTest /
  * HttpClientWithRetryTest coverage).
  */
class HttpLookupClientSpec
    extends AnyFunSuite
    with Matchers
    with BeforeAndAfterAll {

  private var server: StubServer = _
  private val delays = scala.collection.mutable.ArrayBuffer.empty[Long]

  private def client(
      maxRetries: Int = 3,
      success: String = "2XX",
      retryCodes: String = "500,503,504",
      ignored: String = "",
      retryPolicy: RetryPolicy = null,
      timeoutMs: Long = 5000L): HttpExchange = {
    delays.clear()
    new HttpExchange(
      HttpClient.newHttpClient(),
      headers = Seq("X-Test" -> "yes"),
      callback = RequestCallback.NoOp,
      StatusPolicy.lookup(HttpOptions(
        HttpOptions.SuccessCodes -> success,
        HttpOptions.RetryCodes -> retryCodes,
        HttpOptions.IgnoredCodes -> ignored)),
      Option(retryPolicy).getOrElse(FixedDelayRetry(maxRetries, 10L)),
      timeoutMs = timeoutMs,
      // record each retry delay and run the retry at once
      delay = ms => { delays += ms; (r: Runnable) => r.run() })
  }

  private implicit class Execute(ex: HttpExchange) {
    def execute(method: String, url: String, body: Option[String]): HttpOutcome =
      HttpExchange.await(ex.send(method, url, body))
  }

  override def beforeAll(): Unit = {
    server = StubServer()
      .route("/ok") { _ => (200, """{"id": 1}""") }
      .route("/gone") { _ => (404, "nope") }
      .route("/boom") { _ => (400, "bad") }
      .route("/slow") { _ => Thread.sleep(1000); (200, "{}") }
      .flakyRoute("/flaky2", failures = 2) { _ => (200, """{"id": 2}""") }
      .flakyRoute("/flaky9", failures = 9) { _ => (200, """{"id": 3}""") }
      .start()
  }

  override def afterAll(): Unit = server.stop()

  test("success returns body and state SUCCESS, headers recorded") {
    val out = client().execute("GET", server.url("/ok?a=1"), None)
    out.state shouldBe CompletionState.Success
    out.status shouldBe 200
    out.body shouldBe """{"id": 1}"""
    out.headers.keySet should contain("content-type")
    server.requests.last.headers("X-test") shouldBe List("yes")
  }

  test("ignored code keeps status, drops body") {
    val out = client(ignored = "404")
      .execute("GET", server.url("/gone"), None)
    out.state shouldBe CompletionState.IgnoreStatusCode
    out.status shouldBe 404
    out.body shouldBe null
  }

  test("non-retryable error -> HTTP_ERROR_STATUS without retry") {
    val out = client().execute("GET", server.url("/boom"), None)
    out.state shouldBe CompletionState.HttpErrorStatus
    out.status shouldBe 400
    delays shouldBe empty
  }

  test("retryable codes retried until success") {
    val out = client().execute("GET", server.url("/flaky2"), None)
    out.state shouldBe CompletionState.Success
    out.body shouldBe """{"id": 2}"""
    delays should have size 2
  }

  test("retries exhausted -> HTTP_ERROR_STATUS") {
    val out = client(maxRetries = 3).execute("GET", server.url("/flaky9"), None)
    out.state shouldBe CompletionState.HttpErrorStatus
    out.status shouldBe 503
    delays should have size 3
  }

  test("exponential backoff delays applied between retries") {
    val out = client(
      retryPolicy = ExponentialDelayRetry(3, 100L, 350L, 2.0))
      .execute("GET", server.url("/flaky9"), None)
    out.state shouldBe CompletionState.HttpErrorStatus
    delays.toSeq shouldBe Seq(100L, 200L, 350L)
  }

  test("connection refused -> EXCEPTION after retries") {
    val out =
      client(maxRetries = 1).execute("GET", "http://127.0.0.1:1/none", None)
    out.state shouldBe CompletionState.Exception
    out.status shouldBe null
    delays should have size 1
  }

  test("request timeout -> EXCEPTION carrying the unwrapped HttpTimeoutException") {
    val out = client(maxRetries = 0, timeoutMs = 100L)
      .execute("GET", server.url("/slow"), None)
    out.state shouldBe CompletionState.Exception
    out.status shouldBe null
    out.cause shouldBe a[java.net.http.HttpTimeoutException]
    out.error should startWith("HttpTimeoutException: ")
  }

  test("POST body is transmitted") {
    client().execute("POST", server.url("/ok"), Some("""{"k":9}"""))
    server.requests.last.body shouldBe """{"k":9}"""
    server.requests.last.method shouldBe "POST"
  }
}

class OidcSpec extends AnyFunSuite with Matchers {
  test("token cached until expiry minus reduction, then refreshed") {
    val counter = new java.util.concurrent.atomic.AtomicInteger()
    val server = StubServer()
      .route("/token") { req =>
        req.body shouldBe "grant_type=client_credentials"
        val n = counter.incrementAndGet()
        (200, s"""{"access_token": "tok$n", "expires_in": 1}""")
      }
      .start()
    try {
      val mgr = new OidcTokenManager(
        java.net.http.HttpClient.newHttpClient(),
        "grant_type=client_credentials",
        server.url("/token"),
        java.time.Duration.ofMillis(800)) // effective TTL 200ms
      mgr.authenticate() shouldBe "tok1"
      mgr.authenticate() shouldBe "tok1" // cached
      Thread.sleep(400)
      mgr.authenticate() shouldBe "tok2" // refreshed after expiry
    } finally server.stop()
  }

  test("non-200 token endpoint fails") {
    val server = StubServer().route("/token")(_ => (500, "err")).start()
    try {
      val mgr = new OidcTokenManager(
        java.net.http.HttpClient.newHttpClient(),
        "x=y",
        server.url("/token"))
      an[IllegalStateException] should be thrownBy mgr.authenticate()
    } finally server.stop()
  }
}
