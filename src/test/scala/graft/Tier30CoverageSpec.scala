package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.LedgerChecks._
import graft.tools.CoverageLedger.Tier30

/** The ledger's `tier30` obligation: a query whose 10x tier row is >= 5 s
  * and >= 3x its sf0.1 floor (`CoverageLedger.obliged`) owes a `[t10, t30]`
  * row in `tier30_out.json`, or a documented exemption.
  */
class Tier30CoverageSpec extends AnyFunSuite {

  test("every obligee carries a committed 30x probe row or a ledger exemption row") {
    val owed = unmet(Tier30)
    assert(owed.isEmpty, s"queries meeting the 30x obligation rule (tier >= 5 s " +
      s"and >= 3x the sf0.1 floor) with NO committed probe row and NO " +
      s"documented exemption ($recipe): ${show(owed)}")
  }

  test("no stale or overlapping exemptions") {
    val rows = staleRows(Tier30) ++ deadExemptions(Tier30)
    assert(rows.isEmpty, s"probe rows or exemptions for queries that no longer " +
      s"exist: ${show(rows)}")
    val both = heldExemptions(Tier30)
    assert(both.isEmpty, s"exemptions for queries that are probed or not obliged " +
      s"(drop the exemption): ${show(both)}")
    val thin = thinExemptions(Tier30)
    assert(thin.isEmpty, s"exemption reasons too thin to count as documented: " +
      show(thin))
  }
}
