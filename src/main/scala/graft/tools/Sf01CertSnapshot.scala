package graft.tools

/** Refresh the sf0.1 certification fingerprint snapshot
  * (`src/test/resources/sf01_cert_plans.txt`) after RE-CERTIFYING queries
  * at bench scale (round 17, VERDICT r16 item 7).
  *
  * The snapshot pins, for every sf0.1-certified query, the sf0.001 golden
  * plan fingerprint AS OF certification time; Sf01CoverageSpec fails
  * when a certified query's current `golden_plans.txt` entry no longer
  * matches it — i.e. the plan changed in a commit without a same-commit
  * re-certification. The fix is never "run this tool": it is
  *
  *   1. re-certify the query at sf0.1 (recipe in the CoverageLedger
  *      scaladoc) and merge the row into CORRECTNESS_SF01.json,
  *   2. THEN `sbt "runMain graft.tools.Sf01CertSnapshot qNNN_name ..."`
  *      to pin the new fingerprint, in the SAME commit.
  *
  * Named queries only — there is deliberately no refresh-all flag, so the
  * lazy path (blanket-refresh without re-certifying) stays harder than
  * the honest one. The snapshot was initialized as a full copy of
  * golden_plans.txt in round 17, when every query's certification
  * (CORRECTNESS_SF01.json, r16) matched the then-current plans.
  */
object Sf01CertSnapshot {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: Sf01CertSnapshot <query_name> [<query_name> ...] — names you " +
        "just RE-CERTIFIED at sf0.1 (no refresh-all on purpose)")
    val golden = CoverageLedger.tsv(CoverageLedger.goldenPlansPath)
    val snap = CoverageLedger.tsv(CoverageLedger.certPlansPath)
    val unknown = args.filterNot(golden.contains)
    require(unknown.isEmpty,
      s"not in golden_plans.txt (regenerate goldens first?): ${unknown.mkString(", ")}")
    val updated = snap ++ args.map(n => n -> golden(n))
    val out = updated.toSeq.sortBy(_._1)
      .map { case (n, v) => s"$n\t$v" }.mkString("", "\n", "\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(CoverageLedger.certPlansPath),
      out.getBytes("UTF-8"))
    args.foreach(n => println(s"[sf01-cert] pinned $n"))
    println(s"[sf01-cert] ${updated.size} fingerprints in ${CoverageLedger.certPlansPath}")
  }
}
