package graft.http

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class RetryPolicySpec extends AnyFunSuite with Matchers {
  test("fixed delay") {
    val p = RetryPolicy.fromOptions(HttpOptions(
      "lookup.max-retries" -> "5",
      "http.source.lookup.retry-strategy.fixed-delay.delay" -> "250ms"))
    p.maxRetries shouldBe 5
    p.delayMillis(1) shouldBe 250L
    p.delayMillis(4) shouldBe 250L
  }

  test("defaults: fixed 1s, 3 retries") {
    val p = RetryPolicy.fromOptions(HttpOptions())
    p shouldBe FixedDelayRetry(3, 1000L)
  }

  test("exponential delay grows and caps") {
    val p = RetryPolicy.fromOptions(HttpOptions(
      "lookup.max-retries" -> "10",
      "http.source.lookup.retry-strategy.type" -> "exponential-delay",
      "http.source.lookup.retry-strategy.exponential-delay.initial-backoff" -> "100ms",
      "http.source.lookup.retry-strategy.exponential-delay.max-backoff" -> "1s",
      "http.source.lookup.retry-strategy.exponential-delay.backoff-multiplier" -> "2.0"))
    p.delayMillis(1) shouldBe 100L
    p.delayMillis(2) shouldBe 200L
    p.delayMillis(3) shouldBe 400L
    p.delayMillis(5) shouldBe 1000L // capped
    p.delayMillis(9) shouldBe 1000L
  }

  test("unknown strategy rejected") {
    an[HttpConfigException] should be thrownBy RetryPolicy.fromOptions(
      HttpOptions("http.source.lookup.retry-strategy.type" -> "bogus"))
  }
}

class HttpOptionsSpec extends AnyFunSuite with Matchers {
  test("duration parsing") {
    HttpOptions.parseDurationMs("30s") shouldBe 30000L
    HttpOptions.parseDurationMs("1min") shouldBe 60000L
    HttpOptions.parseDurationMs("1 h") shouldBe 3600000L
    HttpOptions.parseDurationMs("250ms") shouldBe 250L
    HttpOptions.parseDurationMs("1500") shouldBe 1500L
    HttpOptions.parseDurationMs("2d") shouldBe 172800000L
    an[HttpConfigException] should be thrownBy HttpOptions.parseDurationMs("abc")
  }

  test("header prefix extraction") {
    val o = HttpOptions(
      "http.source.lookup.header.Origin" -> "*",
      "http.source.lookup.header.X-Content-Type-Options" -> "nosniff",
      "url" -> "http://x")
    o.withPrefix(HttpOptions.SourceHeaderPrefix) shouldBe Map(
      "Origin" -> "*",
      "X-Content-Type-Options" -> "nosniff")
  }

  test("required option") {
    an[HttpConfigException] should be thrownBy HttpOptions().required("url")
  }
}

class BasicAuthSpec extends AnyFunSuite with Matchers {
  test("user:password is base64 encoded with Basic prefix") {
    BasicAuthHeaderValuePreprocessor().preprocess("user:password") shouldBe
      "Basic dXNlcjpwYXNzd29yZA=="
  }

  test("existing Basic prefix passes through") {
    BasicAuthHeaderValuePreprocessor().preprocess("Basic abc") shouldBe "Basic abc"
  }

  test("raw mode passes anything through") {
    BasicAuthHeaderValuePreprocessor(useRawAuthHeader = true)
      .preprocess("CustomScheme tok") shouldBe "CustomScheme tok"
  }
}

class LookupCacheSpec extends AnyFunSuite with Matchers {
  test("LRU eviction at max rows") {
    val c = new LookupCache[String](2, None, None)
    c.put("a", "1"); c.put("b", "2")
    c.get("a") shouldBe Some("1") // touch a → b is LRU
    c.put("c", "3")
    c.get("b") shouldBe None
    c.get("a") shouldBe Some("1")
    c.get("c") shouldBe Some("3")
  }

  test("expire-after-write with injected clock") {
    var now = 0L
    val c = new LookupCache[String](10, Some(100L), None, () => now)
    c.put("k", "v")
    now = 99; c.get("k") shouldBe Some("v")
    now = 100; c.get("k") shouldBe None
  }

  test("expire-after-access refreshes on read") {
    var now = 0L
    val c = new LookupCache[String](10, None, Some(100L), () => now)
    c.put("k", "v")
    now = 90; c.get("k") shouldBe Some("v") // access resets
    now = 180; c.get("k") shouldBe Some("v")
    now = 281; c.get("k") shouldBe None
  }

  test("shared registry honors lookup.cache option") {
    LookupCache.config(HttpOptions()) shouldBe None
    LookupCache.config(HttpOptions("lookup.cache" -> "PARTIAL"))
      .map(LookupCache.shared) shouldBe defined
    an[HttpConfigException] should be thrownBy
      LookupCache.config(HttpOptions("lookup.cache" -> "WAT"))
  }

  test("the shared registry drops the least recently opened config past its bound") {
    LookupCache.clearAll()
    def open(i: Int) = LookupCache.shared(
      LookupCache.config(HttpOptions("lookup.cache" -> "PARTIAL", "tag" -> s"$i")).get)
    val first = open(0)
    first.put("k", HttpOutcome(200, "{}", Map.empty, "SUCCESS", null))
    val second = open(1)
    (2 until LookupCache.MaxConfigs).foreach(open)
    open(1) // reopened: config 0 is now the least recently opened
    val latest = open(LookupCache.MaxConfigs) // bound + 1 distinct configs
    open(1) should be theSameInstanceAs second
    open(LookupCache.MaxConfigs) should be theSameInstanceAs latest
    val reopened = open(0)
    reopened should not be theSameInstanceAs(first)
    reopened.size shouldBe 0
    LookupCache.clearAll()
  }
}

class QueryCreatorTokenizeSpec extends AnyFunSuite with Matchers {
  test("tokenize splits literals and placeholders") {
    GenericJsonUrlQueryCreator.tokenize("http://h/{{a}}?x={{ b }}&y=1") shouldBe
      Seq(
        Left("http://h/"),
        Right("a"),
        Left("?x="),
        Right("b"),
        Left("&y=1"))
  }

  test("url-map parsing") {
    QueryCreator.parseUrlMap("customerId:cid, orderId:oid") shouldBe
      Map("customerId" -> "cid", "orderId" -> "oid")
    an[HttpConfigException] should be thrownBy QueryCreator.parseUrlMap("nocolon")
  }
}
