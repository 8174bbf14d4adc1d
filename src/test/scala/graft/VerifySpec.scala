package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class VerifySpec extends AnyFunSuite with Matchers {

  private val gates = Set("q01_pricing_summary", "p_lsh_recall", "h_sink_batch")

  test("no filter runs every gate and reports no unknown name") {
    val (only, unknown) = Verify.select(gates, None)
    gates.forall(only) shouldBe true
    unknown shouldBe empty
  }

  test("a filter runs the named gates and reports each name that is no gate") {
    val (only, unknown) = Verify.select(
      gates, Some("p_lsh_recall,p_stream_lsh_registry_out,h_sink_batch,q1"))
    gates.filter(only) shouldBe Set("p_lsh_recall", "h_sink_batch")
    unknown shouldBe Seq("p_stream_lsh_registry_out", "q1")
  }
}
