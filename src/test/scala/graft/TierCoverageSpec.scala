package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.LedgerChecks._
import graft.tools.CoverageLedger.Tier

/** The ledger's `tier` obligation: every query owes a non-failed row in
  * `tier_out.json`, the Bench record on the perturbed 10x tier, or a
  * documented exemption.
  */
class TierCoverageSpec extends AnyFunSuite {

  test("every query has a committed tier row or a documented exemption") {
    val owed = unmet(Tier)
    assert(owed.isEmpty, s"queries with NO committed 10x tier row and NO " +
      s"documented exemption ($recipe): ${show(owed)}")
  }

  test("the tier record parses and is plausibly complete") {
    // a reformatted or truncated record shows here, not as a list of
    // queries in the totality case
    assert(records.tier.size >= 200, s"tier_out.json parsed only " +
      s"${records.tier.size} non-failed rows — record truncated or format drifted?")
  }

  test("no stale or overlapping exemptions") {
    val rows = staleRows(Tier) ++ deadExemptions(Tier)
    assert(rows.isEmpty, s"tier rows or exemptions for queries that no longer " +
      s"exist: ${show(rows)}")
    val both = heldExemptions(Tier)
    assert(both.isEmpty, s"queries BOTH measured in tier_out.json and exempt " +
      s"(drop the exemption): ${show(both)}")
    val thin = thinExemptions(Tier)
    assert(thin.isEmpty, s"exemption reasons too thin to count as documented: " +
      show(thin))
  }
}
