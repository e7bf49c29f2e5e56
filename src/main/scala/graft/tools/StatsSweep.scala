package graft.tools

import graft.{SparkEntry, SchemaGolden}

/** One-shot full-surface stats-flip sweep (VERDICT r15 item 5).
  *
  * The sf0.1 plan golden (`golden_plans_sf01.txt`, StatsPlanSpec) pins the
  * 18 queries CHOSEN as join-strategy-sensitive; whether that set is the
  * complete flip-sensitive class was argued in EXPLAIN.md, not measured.
  * This main measures it: build EVERY `SparkEntry.queries` plan against
  * the given fixture dir and diff its canonical fingerprint
  * (`SchemaGolden.canonicalPlan` — strategy/exchange/scan shape, nothing
  * environmental) against the committed sf0.001 golden. Any query whose
  * fingerprint differs at scale IS stats-sensitive, whatever operator
  * class the difference is in; any query absent from the diff is
  * demonstrated stable across the scale jump.
  *
  * Run (one-shot; results recorded in EXPLAIN.md, not a spec — eager
  * -construction queries pay real jobs at the target scale, so this is a
  * measurement, not a per-commit gate):
  *   sbt "runMain graft.tools.StatsSweep /root/testdata/sf0.1"
  *   sbt "runMain graft.tools.StatsSweep /tmp/graft_sf1"   # 10x tier
  *   sbt "runMain graft.tools.StatsSweep <dir> qA qB"      # subset, and
  *                                      print got-vs-golden fingerprints
  *
  * Output: one line per query — SAME / DIFF / ERR — then a summary block
  * listing the DIFF set and whether it is covered by
  * `SchemaGolden.statsSensitive`.
  */
object StatsSweep {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.LocalSession(8)

    val golden: Map[String, String] =
      scala.io.Source.fromFile(SchemaGolden.goldenPlanPath).getLines()
        .map { l => val Array(n, p) = l.split("\t", 2); (n, p) }.toMap

    val subset = args.drop(1).toSet
    val picked =
      if (subset.isEmpty) SparkEntry.queries.toSeq.sortBy(_._1)
      else SparkEntry.queries.filter(q => subset(q._1)).toSeq.sortBy(_._1)
    val results = picked.map { case (name, fn) =>
      val r = try {
        val fp = SchemaGolden.canonicalPlan(fn(spark, sfDir))
        if (golden.get(name).contains(fp)) "SAME"
        else {
          if (subset.nonEmpty) {
            println(s"[sweep] $name golden: ${golden.getOrElse(name, "<none>")}")
            println(s"[sweep] $name got:    $fp")
          }
          "DIFF"
        }
      } catch { case e: Throwable => s"ERR ${e.toString.takeWhile(_ != '\n').take(160)}" }
      println(s"[sweep] $name $r")
      (name, r)
    }
    val diffs = results.collect { case (n, "DIFF") => n }
    val errs = results.collect { case (n, r) if r.startsWith("ERR") => n }
    val covered = diffs.filter(SchemaGolden.statsSensitive.contains)
    val uncovered = diffs.filterNot(SchemaGolden.statsSensitive.contains)
    println(s"[sweep] === $sfDir: ${results.size} queries, " +
      s"${diffs.size} DIFF vs sf0.001 golden, ${errs.size} ERR ===")
    println(s"[sweep] DIFF covered by statsSensitive (${covered.size}): " +
      covered.mkString(", "))
    println(s"[sweep] DIFF NOT in statsSensitive (${uncovered.size}): " +
      uncovered.mkString(", "))
    if (errs.nonEmpty) println(s"[sweep] ERR: ${errs.mkString(", ")}")
    spark.stop()
  }
}
