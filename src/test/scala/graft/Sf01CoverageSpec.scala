package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.LedgerChecks._
import graft.tools.CoverageLedger.{CertPin, Sf01}

/** The ledger's `sf01` and `cert_pin` obligations: every query owes a
  * passing row in `CORRECTNESS_SF01.json`, the sf0.1 oracle record, and a
  * `sf01_cert_plans.txt` pin equal to its `golden_plans.txt` fingerprint, or
  * a documented exemption. A certification certifies the answers of one
  * plan, so a plan change fails here until the query is re-certified at
  * sf0.1 and re-pinned (`Sf01CertSnapshot`: re-certify first, then pin).
  */
class Sf01CoverageSpec extends AnyFunSuite {

  test("every query is certified green at sf0.1 or carries a documented exemption") {
    val owed = unmet(Sf01)
    assert(owed.isEmpty, s"queries with NO passing CORRECTNESS_SF01.json row " +
      s"and NO documented exemption ($recipe): ${show(owed)}")
  }

  test("the record parses and is plausibly complete") {
    assert(records.sf01Pass.size >= 200, s"CORRECTNESS_SF01.json parsed only " +
      s"${records.sf01Pass.size} passing rows — record truncated or format drifted?")
  }

  test("no stale record entries or stale/overlapping exemptions") {
    val rows = staleRows(Sf01, CertPin) ++ deadExemptions(Sf01, CertPin)
    assert(rows.isEmpty, s"oracle rows, plan pins or exemptions for queries " +
      s"that no longer exist (prune them): ${show(rows)}")
    val both = heldExemptions(Sf01, CertPin)
    assert(both.isEmpty, s"queries BOTH certified and exempt (drop the " +
      s"exemption): ${show(both)}")
    val thin = thinExemptions(Sf01, CertPin)
    assert(thin.isEmpty, s"exemption reasons too thin to count as documented: " +
      show(thin))
  }

  test("no certified query's plan changed since its sf0.1 certification") {
    val owed = unmet(CertPin)
    assert(owed.isEmpty, s"queries whose golden plan differs from (or has no) " +
      s"sf0.1 certification pin: re-certify at sf0.1, then re-pin ($recipe): " +
      show(owed))
  }
}
