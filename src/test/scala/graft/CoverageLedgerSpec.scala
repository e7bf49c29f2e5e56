package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.CoverageLedger._

/** The per-query coverage gate (`tools/CoverageLedger.scala`): every query
  * owes a dup-tier row, a 10× tier row, a 30× probe when obliged, a passing
  * sf0.1 oracle row whose plan pin matches its golden plan, and a COVERAGE.md
  * mention — or a documented exemption. A query added without its rows
  * fails in the same commit. This spec owns the `coverage` obligation and
  * the ledger's pure cases; `SmokeCoverageSpec` (dup), `TierCoverageSpec`,
  * `Tier30CoverageSpec` and `Sf01CoverageSpec` (sf01, cert_pin) own the
  * others.
  *
  * No SparkSession: the gate reads the queries map's keys and the committed
  * records.
  */
class CoverageLedgerSpec extends AnyFunSuite {

  private def records = LedgerChecks.records

  test("every query appears verbatim in COVERAGE.md or is documented exempt") {
    // substring containment, not table parsing: the ledger is prose-shaped,
    // and the failure this exists for is a missing name
    val owed = LedgerChecks.unmet(Coverage)
    assert(owed.isEmpty, s"queries with NO COVERAGE.md mention and NO " +
      s"documented exemption (add the ledger row in the same commit as the " +
      s"query): ${LedgerChecks.show(owed)}")
  }

  test("no stale or overlapping exemptions") {
    val unknown = exempt.keySet.filterNot(p => obligations.contains(p._1))
    assert(unknown.isEmpty, s"exemptions for unknown obligations: $unknown")
    val bad = LedgerChecks.deadExemptions(Coverage) ++
      LedgerChecks.heldExemptions(Coverage) ++ LedgerChecks.thinExemptions(Coverage)
    assert(bad.isEmpty, s"coverage exemptions for deleted queries, for names " +
      s"COVERAGE.md already holds, or with reasons under 40 characters: " +
      LedgerChecks.show(bad))
  }

  test("30x probe rows are sane and the cost-leader seeds are present") {
    for (q <- Seq("q159", "q167", "q193", "q194", "q218", "q226"))
      assert(records.tier30.contains(q), s"seed probe row $q missing")
    for ((q, (t10, t30)) <- records.tier30) {
      assert(t10 > 0 && t30 > 0, s"$q: non-positive probe sample")
      // 3x data: a slope at the quadratic 9x signature is a defect to fix,
      // not a row to commit
      assert(t30 / t10 < 9.0, s"$q: slope ${t30 / t10} for 3x data")
    }
  }

  test("the 30x obligation rule boundary (pure)") {
    val floors = Map("qa" -> 1.0, "qb" -> 1.0, "qc" -> 2.0)
    // qa: expensive and 6x -> obliged. qb: 4.9 s misses the seconds guard
    // even at 4.9x. qc: 6 s at exactly 3.0x -> obliged (inclusive). qd has
    // no floor and never obliges.
    val tier = Map("qa" -> 6.0, "qb" -> 4.9, "qc" -> 6.0, "qd" -> 100.0)
    assert(obliged(tier, floors) == Set("qa", "qc"))
    assert(obliged(Map("qe" -> 9.0), Map("qe" -> 0.0)).isEmpty)
  }

  test("removing any one owed row fails the ledger (pure)") {
    val q = "q1_op"
    val full = Records(
      dup = Map("q1" -> 2.0), tier = Map("q1" -> 9.0),
      tier30 = Map("q1" -> (9.0, 20.0)), sf01Floors = Map("q1" -> 1.0),
      sf01Pass = Set(q), certPlans = Map(q -> "Scan|>Agg"),
      goldenPlans = Map(q -> "Scan|>Agg"), coverage = s"| $q | row |")
    assert(missing(Set(q), full).isEmpty)
    val planted = Seq(
      Dup -> full.copy(dup = Map.empty),
      Tier -> full.copy(tier = Map.empty),
      Tier30 -> full.copy(tier30 = Map.empty),
      Sf01 -> full.copy(sf01Pass = Set.empty),
      CertPin -> full.copy(certPlans = Map.empty),
      CertPin -> full.copy(goldenPlans = Map(q -> "Scan|>Exchange|>>Agg")),
      Coverage -> full.copy(coverage = "| q1_other | row |"))
    for ((o, r) <- planted) assert(missing(Set(q), r) == Set(o -> q), o)
    // a cheap query owes no probe
    assert(missing(Set(q), full.copy(tier = Map("q1" -> 2.0), tier30 = Map.empty)).isEmpty)
    assert(planted.map(_._1).distinct == obligations)
  }

  test("records parse with a JSON reader and fail loudly when malformed (pure)") {
    assert(seconds("""{"metric":"total","queries":{"q1":1.5,"q2":-1.0}}""") ==
      Map("q1" -> 1.5))
    assert(probes("""{"queries":{"q1":[6.2,12.5]}}""") == Map("q1" -> (6.2, 12.5)))
    assert(passing("""{"queries":{"q1_a":{"rows":3,"pass":true},"q2_b":{"pass":false}}}""") ==
      Set("q1_a"))
    assert(floors("""{"sf":"/d/sf0.1","queries":{"q1_a":[0.9,0.7],"q2_b":null}}""") ==
      Map("q1" -> 0.7))
    intercept[Exception](seconds("""{"queries":{"q1":1.5"""))
    intercept[IllegalArgumentException](seconds("""{"queries":{"q1":"1.5"}}"""))
    intercept[IllegalArgumentException](probes("""{"queries":{"q1":[6.2]}}"""))
    intercept[IllegalArgumentException](floors("""{"sf":"/d/sf1","queries":{}}"""))
    intercept[IllegalArgumentException](passing("""{"n_pass":288}"""))
  }
}
