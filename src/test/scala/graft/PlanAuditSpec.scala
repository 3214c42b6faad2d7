package graft

import org.scalatest.funsuite.AnyFunSuite

/** PlanAudit's plan-text guards on hand-written plan strings. */
class PlanAuditSpec extends AnyFunSuite {
  private val preEncode =
    """(3) Exchange
      |Input [3]: [doc_id#1L, w#2, h#3]
      |Arguments: RoundRobinPartitioning(8), REPARTITION_BY_NUM, [plan_id=7]
      |""".stripMargin

  test("roundRobinPreEncodeOnly must read every round-robin exchange") {
    assert(PlanAudit.roundRobinPreEncodeOnly(preEncode))
    // a post-encode payload column in the exchange's Input list
    assert(!PlanAudit.roundRobinPreEncodeOnly(
      preEncode.replace("h#3", "png#3")))
    // a drifted layout the pattern no longer reads: zero matches for one
    // round-robin exchange must fail, not pass vacuously
    assert(!PlanAudit.roundRobinPreEncodeOnly(preEncode.replace(
      "Arguments:", "Output [3]: [doc_id#1L, w#2, h#3]\nArguments:")))
  }

  test("noSort reads the formatted plan's node names") {
    assert(PlanAudit.noSort(preEncode))
    assert(!PlanAudit.noSort(preEncode + "\n(4) Sort\nInput [1]: [w#2]\n"))
  }
}
