package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Materializes a second scale tier on disk: a K×-replicated (default 10×,
  * ≈ sf1) copy of an sf0.1 fixture directory, written as the same ten
  * parquet tables so `Bench`/`Verify` run against it unchanged via
  * `SPARK_GRAFT_SF_DIR`. This answers VERDICT r12 "Next round" item 7's
  * second half: the 2× bench gate is judged at sf0.1, where most of the 226
  * queries measure per-query fixed cost — a 10× tier makes the
  * compute-bound rows (the ones that preview 100 TB behavior) dominate.
  *
  * Replication discipline (TPC-H-like):
  *   - `region`/`nation` are fixed dimensions — copied unchanged, exactly as
  *     TPC-H holds them constant across scale factors.
  *   - Fact/dim tables get K key-shifted copies with DISJOINT key ranges and
  *     CONSISTENT foreign keys: copy c shifts `c_custkey` and `o_custkey` by
  *     the same offset, `o_orderkey` and `l_orderkey` by the same offset,
  *     etc., so every join finds exactly the sf0.1 match structure, K times.
  *   - Copy 0 is unshifted and unperturbed, so literal predicates in the
  *     query surface (`vec_id < 5` ANN probes, doc_id prefixes) keep their
  *     original selectivity against original rows.
  *   - `documents.text` is perturbed per copy (a per-copy `translate`
  *     permutation over ten high-frequency letters — length-preserving, so
  *     `n_chars` stays consistent) and `embeddings.embedding` is rotated by
  *     c positions (norm-preserving). A real larger corpus is mostly NEW
  *     content, so the tier models growth: cross-copy token/shingle overlap
  *     after translation is near zero, and pair-output-bound operators
  *     (q159's exact set-similarity join) grow ~K×, not K²×.
  *   - `SPARK_GRAFT_TIER_DUP=1` writes the dup tier instead: the same K
  *     key-shifted copies with no perturbation, so every document and
  *     vector becomes a K-sized EXACT-duplicate cluster. That is the
  *     adversarial regime the dedup/LSH scale guards exist for; a query's
  *     dup row over its tier row (same K, same data size) isolates the
  *     exact-duplicate pathology.
  *
  * Run:
  *   sbt "runMain graft.tools.ScaleTier"            # /tmp/graft_sf1, K=10
  *   SPARK_GRAFT_SF_DIR=/tmp/graft_sf1 SPARK_GRAFT_RUNS=1 \
  *     sbt "runMain graft.Bench"                    # the tier bench row
  *   SPARK_GRAFT_TIER_DUP=1 sbt "runMain graft.tools.ScaleTier"  # /tmp/graft_dup
  * Results recorded in PERF.md; measurement infrastructure, not part of the
  * driver contract.
  */
object ScaleTier {
  /** Thirty distinct permutation targets over "aeiousnrtl" — copy c
    * translates with target c. Target 0 is the identity (copy 0
    * unperturbed); the rest are pairwise distinct, so any two copies
    * disagree on most letters and shingle/token sets are (near-)disjoint
    * across copies. */
  private[graft] val alpha = "aeiousnrtl"
  /** Three cyclic classes of ten rotations each (round 17 — the 30×
    * probe needs K up to 30; rotations of ONE base cap at 10). Rotations
    * within a class disagree at EVERY position (all ten alphabet chars
    * are distinct). Across classes, perfect disagreement is impossible:
    * two full rotation classes always total 100 positionwise agreements
    * over their 10×10 cross pairs, and spreading them exactly 1-per-pair
    * would need a complete mapping of Z/10 — which even-order cyclic
    * groups do not have (Hall–Paige), so max cross agreement 2 is the
    * floor. The two extra bases below were searched to hit that floor:
    * every cross-class pair agrees on ≤ 2 of 10 letters, so only tokens
    * built PURELY from those ≤ 2 letters (plus non-alphabet chars) can
    * coincide across copies — for the fixture vocabulary that is zero
    * tokens, keeping pair-output-bound joins ~K×, not K²×. Class order
    * is load-bearing: targets 0–9 are byte-identical to the pre-r17
    * rotation list, so K ≤ 10 tiers regenerate exactly as before.
    * Pinned by ScaleTierSpec. */
  private[graft] val classBases: Seq[String] =
    Seq(alpha, "sinlarueot", "tnsouliear")
  private[graft] val targets: Seq[String] =
    classBases.flatMap(base => (0 until 10).map(c => base.drop(c) + base.take(c)))

  // Shared offsets keep FKs consistent: the custkey shift used by
  // `customer` MUST equal the one used by `orders.o_custkey`, etc.
  val CUST = 1000000L; val ORD = 100000000L; val PART = 1000000L
  val SUPP = 1000000L; val EV = 100000000L; val USER = 1000000L
  val DOC = 1000000L; val VEC = 1000000L

  /** K copies of `df`, copy c adding c × offset to each key column (copy 0
    * unshifted), with an optional per-copy column rewrite applied last. */
  def replicate(df: DataFrame, k: Int, offsets: Map[String, Long],
                perturb: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
    (0 until k).map { c =>
      val shifted = offsets.foldLeft(df) { case (d, (col0, off)) =>
        d.withColumn(col0, col(col0) + lit(c * off))
      }
      perturb(shifted, c)
    }.reduce(_ unionByName _)

  /** K copies of `documents`; unless `dup`, copy c ≥ 1 translates its text
    * with target c. */
  def documents(df: DataFrame, k: Int, dup: Boolean): DataFrame =
    replicate(df, k, Map("doc_id" -> DOC), perturb = (d, c) =>
      if (dup || c == 0) d
      else d.withColumn("text", translate(col("text"), alpha, targets(c))))

  /** K copies of `embeddings`; unless `dup`, copy c ≥ 1 rotates its vector
    * by c positions. */
  def embeddings(df: DataFrame, k: Int, dup: Boolean): DataFrame =
    replicate(df, k, Map("vec_id" -> VEC), perturb = (d, c) =>
      if (dup || c == 0) d
      else d.withColumn("embedding", expr(
        s"concat(slice(embedding, ${c + 1}, size(embedding) - $c), " +
          s"slice(embedding, 1, $c))")))

  def main(args: Array[String]): Unit = {
    val dup = sys.env.getOrElse("SPARK_GRAFT_TIER_DUP", "0") == "1"
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_TIER_OUT",
      if (dup) "/tmp/graft_dup" else "/tmp/graft_sf1")
    val k = sys.env.getOrElse("SPARK_GRAFT_TIER_K", "10").toInt
    require(1 <= k && k <= targets.size,
      s"tier K=$k out of range: need 1 <= K <= ${targets.size} (that many " +
        "distinct text permutations defined; K=0 would make replicate's " +
        "reduce over zero copies throw). K must also stay below the " +
        "64-dim embedding size for the rotation perturbation to stay " +
        "non-identity — 30 does.")
    val spark = graft.LocalSession(32)

    def src(name: String): DataFrame = graft.Tables.load(spark, srcDir, name)

    def write(name: String, df: DataFrame, files: Int): Unit = {
      val t0 = System.nanoTime()
      df.repartition(files)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      val n = spark.read.parquet(s"$outDir/$name.parquet").count()
      println(f"[tier] $name%-12s $n%9d rows  ${(System.nanoTime() - t0) / 1e9}%6.1fs")
    }

    write("region", src("region"), 1)
    write("nation", src("nation"), 1)
    write("customer", replicate(src("customer"), k, Map("c_custkey" -> CUST)), 2)
    write("supplier", replicate(src("supplier"), k, Map("s_suppkey" -> SUPP)), 1)
    write("part", replicate(src("part"), k, Map("p_partkey" -> PART)), 2)
    write("orders", replicate(src("orders"), k,
      Map("o_orderkey" -> ORD, "o_custkey" -> CUST)), 4)
    write("lineitem", replicate(src("lineitem"), k,
      Map("l_orderkey" -> ORD, "l_partkey" -> PART, "l_suppkey" -> SUPP)), 8)
    write("events", replicate(src("events"), k,
      Map("event_id" -> EV, "user_id" -> USER)), 8)
    write("documents", documents(src("documents"), k, dup), 4)
    write("embeddings", embeddings(src("embeddings"), k, dup), 1)

    println(s"[tier] wrote ${k}x ${if (dup) "dup " else ""}tier of $srcDir -> $outDir")
    spark.stop()
  }
}
