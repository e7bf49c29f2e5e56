package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.LedgerChecks._
import graft.tools.CoverageLedger.Dup

/** The ledger's `dup` obligation: every query owes a non-failed row in
  * `dup_out.json`, the Bench record on the K=10 exact-duplicate tier, or a
  * documented exemption. A covered entry is a dup row; an exempt one is a
  * `(dup, query)` key of `CoverageLedger.exempt`.
  */
class SmokeCoverageSpec extends AnyFunSuite {

  test("covered and exempt are disjoint") {
    val both = heldExemptions(Dup)
    assert(both.isEmpty, s"queries with BOTH a dup row and a dup exemption " +
      s"(drop the exemption): ${show(both)}")
  }

  test("every query is smoke-covered or documented-exempt") {
    val owed = unmet(Dup)
    assert(owed.isEmpty, s"queries with NO dup_out.json row and NO documented " +
      s"exemption ($recipe): ${show(owed)}")
  }

  test("no stale ledger entries for deleted queries") {
    val rows = staleRows(Dup) ++ deadExemptions(Dup)
    assert(rows.isEmpty, s"dup rows or exemptions for queries that no longer " +
      s"exist: ${show(rows)}")
  }

  test("exemption reasons are substantive and covered entries name a section") {
    val thin = thinExemptions(Dup)
    assert(thin.isEmpty, s"exemption reasons too thin to count as documented: " +
      show(thin))
    // A dup row is read against the perturbed 10x tier row of the same
    // query at the same data size; that row is the section it names.
    val alone = records.dup.keySet -- records.tier.keySet
    assert(alone.isEmpty, s"dup rows with no tier_out.json row to take the " +
      s"dup/tier ratio against: ${alone.toSeq.sorted.mkString(", ")}")
  }
}
