package graft.http

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Mirrors the reference's HttpCodesParserTest cases (status/HttpCodesParserTest.java). */
class HttpCodesSpec extends AnyFunSuite with Matchers {

  private def range(start: Int, endExcl: Int, excl: Int*): Set[Int] =
    (start until endExcl).toSet -- excl

  test("group with single codes and exclusions") {
    HttpCodes.parse("2XX,404,!203,!205") shouldBe (range(200, 300, 203, 205) + 404)
  }

  test("whitespace tolerated") {
    HttpCodes.parse("  400, 401 , 403, 500,501,  !502") shouldBe
      Set(400, 401, 403, 500, 501)
  }

  test("exclusion listed before inclusion still wins") {
    HttpCodes.parse("!405,1XX,  2XX ,404,!202,405") shouldBe
      (range(100, 300, 202) + 404)
  }

  test("exclude from group") {
    HttpCodes.parse("!404, 4XX") shouldBe range(400, 500, 404)
  }

  test("case-insensitive group markers") {
    HttpCodes.parse("2xX,!401,3Xx,4xx") shouldBe range(200, 500, 401)
  }

  test("invalid expressions throw") {
    for (bad <- Seq("6XX", "1XXX", "600", "99", "1XX,11", "abc", "!1XX",
        "1 2 3", "1X X"))
      withClue(bad) {
        an[HttpConfigException] should be thrownBy HttpCodes.parse(bad)
      }
  }

  test("empty entries are skipped") {
    HttpCodes.parse("200,,201,") shouldBe Set(200, 201)
  }

  private def lookupPolicy(success: String, retry: String) =
    StatusPolicy.lookup(HttpOptions(
      HttpOptions.SuccessCodes -> success, HttpOptions.RetryCodes -> retry))

  test("response checker rejects empty success set and overlap") {
    an[HttpConfigException] should be thrownBy lookupPolicy("", "500")
    an[HttpConfigException] should be thrownBy lookupPolicy("2XX,500", "500")
    val ok = lookupPolicy("2XX", "500,503,504")
    ok.success(204) shouldBe true
    ok.retryable(503) shouldBe true
    ok.retryable(501) shouldBe false
  }

  test("sink classifier: default 4XX/5XX minus excludes") {
    val c = StatusPolicy.sink(HttpOptions(HttpOptions.SinkErrorCodesExclude -> "404,503"))
    c.success(400) shouldBe false
    c.success(404) shouldBe true
    c.success(503) shouldBe true
    c.success(500) shouldBe false
    c.success(302) shouldBe true
  }
}
