package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{Analytics, Prefix}

/** Locks `Analytics.ntileFromIndex` — the closed-form exact-ntile bucket
  * used by the scale-safe two-pass global rank (q198/q209) — against
  * Spark's own `ntile(n)` window function, which is also what the DuckDB
  * oracle runs. Until this spec the div/rem/greatest arithmetic
  * (`Analytics.scala`, ntileFromIndex) was guarded only by the oracle hash
  * at two scale points (r14 VERDICT item 6); here the ACTUAL Column is
  * evaluated over a systematic (row count, n) grid including the c < n,
  * c % n == 0, and n == 1 edges, plus a seeded random sweep of the pure
  * arithmetic against the naive SQL-standard cumulative model, plus the
  * full two-pass pipeline (withGlobalIndex over a multi-partition frame
  * with TIES in the leading order column) vs the plain window forms of
  * both the index and the bucket.
  */
class NtileFormulaSpec extends SparkSpec {

  /** The SQL-standard ntile distribution, derived the obviously-correct
    * way: with q = c div n and rem = c mod n, buckets 1..rem hold q+1
    * rows, buckets rem+1..n hold q; walk the cumulative sizes until the
    * rank fits. */
  private def naiveBucket(rank: Long, c: Long, n: Long): Long = {
    val q = c / n; val rem = c % n
    var cum = 0L
    var b = 1L
    while (b <= n) {
      cum += (if (b <= rem) q + 1 else q)
      if (rank <= cum) return b
      b += 1
    }
    n
  }

  /** Pure-Scala transcription of the formula's long arithmetic (the
    * Spark-binding tests below evaluate the actual SQL Column; this one
    * exists so the arithmetic can be swept over thousands of cases
    * without a job per case). */
  private def formulaBucket(rank: Long, c: Long, n: Long): Long = {
    val q = c / n; val rem = c % n
    if (rank <= (q + 1) * rem) (rank + q) / (q + 1)
    else rem + (rank - (q + 1) * rem + q - 1) / math.max(q, 1L)
  }

  test("formula arithmetic == naive cumulative model (exhaustive small + seeded random)") {
    for (c <- 1L to 40L; n <- 1L to 13L; rank <- 1L to c)
      assert(formulaBucket(rank, c, n) == naiveBucket(rank, c, n),
        s"c=$c n=$n rank=$rank")
    // Random sweep well past the exhaustive range, including c ≫ n and
    // c < n, at ranks spread over the whole 1..c span.
    val gen = Gen.zip(Gen.choose(1L, 2000000L), Gen.choose(1L, 1000L))
    (0 until 400).foreach { i =>
      val (c, n) = gen.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val ranks = Seq(1L, c, (c + 1) / 2, math.min(c, n), math.max(1L, c - n)) ++
        (1 to 8).map(j => 1L + (c - 1) * j / 8)
      ranks.filter(r => r >= 1 && r <= c).foreach { r =>
        assert(formulaBucket(r, c, n) == naiveBucket(r, c, n),
          s"c=$c n=$n rank=$r")
      }
    }
  }

  test("ntileFromIndex Column == Spark ntile(n) over a (c, n) grid with edges") {
    val ns = (1 to 12) ++ Seq(16, 50, 101)
    // c values cover: singleton, c < n, c == n, c % n == 0, c % n != 0,
    // and a few larger frames; one job per c evaluates every n at once.
    for (c <- Seq(1, 2, 3, 4, 5, 7, 10, 12, 20, 49, 50, 51, 100, 257)) {
      val base = spark.range(1, c + 1L)
        .select(col("id").as("_rn"), lit(c.toLong).as("_ct"))
      val w = Window.orderBy(col("_rn"))
      val cols = ns.flatMap { n =>
        Seq(Analytics.ntileFromIndex("_rn", "_ct", n).as(s"f_$n"),
          ntile(n).over(w).cast("bigint").as(s"w_$n"))
      }
      base.select(col("_rn") +: cols: _*).collect().foreach { row =>
        ns.foreach { n =>
          assert(row.getAs[Long](s"f_$n") == row.getAs[Long](s"w_$n"),
            s"c=$c n=$n rank=${row.getLong(0)}")
        }
      }
    }
  }

  test("withGlobalIndex + ntileFromIndex == plain ntile under ties, multi-partition") {
    // Duplicate leading keys force the tiebreak column to carry the total
    // order — exactly the rfm/woe usage — over a frame that actually
    // crosses partition boundaries so the zipWithIndex offset path runs.
    val c = 211L
    val df = spark.range(c)
      .select(col("id"), pmod(col("id") * 37L, lit(7)).as("k"))
      .repartition(4)
    val indexed = Prefix.withGlobalIndex(df,
        Seq(col("k"), col("id")), "_rn")
      .withColumn("_ct", lit(c))
    // the index itself is row_number() under the same total order
    val rn = indexed.select(col("id"),
      (col("_rn") - row_number().over(Window.orderBy(col("k"), col("id"))))
        .as("diff"))
    assert(rn.filter(col("diff") =!= 0).count() == 0 && rn.count() == c)
    for (n <- Seq(1, 4, 5, 10, 250)) {
      val got = indexed
        .select(col("id"), Analytics.ntileFromIndex("_rn", "_ct", n).as("b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expect = df
        .select(col("id"),
          ntile(n).over(Window.orderBy(col("k"), col("id"))).cast("bigint").as("b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect, s"n=$n")
    }
  }
}
