package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Prefix

/** `Prefix.runningSums` against the one plain window it decomposes:
  * `sum(v) OVER (PARTITION BY keys ORDER BY bucket, order)`. In-memory
  * frames only, so the spec needs no fixtures. */
class PrefixSpec extends SparkSpec {

  /** n rows with a unique `id`, a key `g` of three values, a bucket `b`
    * that is not monotone in `id`, a delta `d` in [-2, 1] (a running sum
    * that goes negative, as q140's interval deltas do) and a positive
    * weight `w`. */
  private def frame(n: Long, parts: Int, bucket: Column = pmod(col("id") * 7, lit(5))) =
    spark.range(0, n, 1, parts).select(col("id"), pmod(col("id"), lit(3)).as("g"),
      bucket.as("b"), (pmod(col("id"), lit(4)) - 2).as("d"),
      pmod(col("id") * 3, lit(11)).as("w"))

  private def sums(df: DataFrame, keys: Seq[String]): DataFrame =
    Prefix.runningSums(df, keys, "b", Seq(col("id")),
      Seq(col("d") -> "s_d", col("w") -> "s_w"))

  private def assertMatchesWindow(df: DataFrame, keys: Seq[String]): Unit = {
    def rows(f: DataFrame) = f.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("b"), col("id"))
    val want = rows(df.select(col("id"), sum("d").over(w), sum("w").over(w)))
    val got = sums(df, keys)
    assert(got.columns.toSeq == df.columns.toSeq ++ Seq("s_d", "s_w"))
    assert(rows(got.select("id", "s_d", "s_w")) == want, s"keys=$keys")
  }

  test("runningSums == one plain window: keyed and unkeyed, two sums, 1 and 7 partitions") {
    for (parts <- Seq(1, 7); keys <- Seq(Nil, Seq("g")))
      assertMatchesWindow(frame(200, parts), keys)
    // the deltas drive the unkeyed sum below zero, so signs are exercised
    assert(sums(frame(200, 7), Nil).filter(col("s_d") < 0).count() > 0)
  }

  test("runningSums == one plain window when every row is in one bucket") {
    for (keys <- Seq(Nil, Seq("g")))
      assertMatchesWindow(frame(60, 7, bucket = lit(0L)), keys)
  }

  test("runningSums of an empty frame is empty") {
    for (keys <- Seq(Nil, Seq("g")))
      assert(sums(frame(50, 3).filter(lit(false)), keys).count() == 0)
  }

  test("the offsets frame is broadcast exactly when keys is empty") {
    def hinted(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case j: Join => j.hint.rightHint.isDefined
    }
    assert(hinted(sums(frame(20, 2), Nil)) == Seq(true))
    assert(hinted(sums(frame(20, 2), Seq("g"))) == Seq(false))
  }
}
