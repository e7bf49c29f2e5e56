package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Scale-safe global prefix operations: the range-local pass with a
  * boundary combine (the split/sort/merge of the reference's
  * `MapReduce.h`), written once. No task ever sorts more than one bucket
  * or one range partition of the input, and nothing runs a
  * single-partition window over the data.
  */
private[graft] object Prefix {

  /** Adds one inclusive running sum per `(value, name)` in `sums`, in the
    * two-level form: a window per `(keys, bucket)` gives the sum within
    * the bucket, and a frame of per-bucket totals, summed over the earlier
    * buckets of the same keys, gives each bucket's offset, joined back on
    * `(keys, bucket)`.
    *
    * Contract:
    *  - each result equals one `sum(value) OVER (PARTITION BY keys ORDER
    *    BY bucket, order…)` running from the first row;
    *  - `order` must be total within `(keys, bucket)`, or rows tied on it
    *    get an order-dependent sum;
    *  - the offsets frame is broadcast exactly when `keys` is empty, where
    *    it holds |buckets| rows. Keyed offsets grow with the keys, so
    *    their join is left to the planner;
    *  - rows with a null key or bucket are dropped (the offsets join is an
    *    inner equi-join).
    *
    * Returns the input's columns followed by the named sums. */
  def runningSums(df: DataFrame, keys: Seq[String], bucket: String,
      order: Seq[Column], sums: Seq[(Column, String)]): DataFrame = {
    require(sums.nonEmpty, "runningSums: no sums requested")
    val ix = sums.indices
    val (l, t, o) = (ix.map(i => s"_prefix_l$i"), ix.map(i => s"_prefix_t$i"),
      ix.map(i => s"_prefix_o$i"))
    require(!(sums.map(_._2) ++ l ++ t ++ o).exists(df.columns.contains),
      "runningSums: input must not carry the sum names or _prefix_* columns")
    val part = (keys :+ bucket).map(col)
    val wLoc = Window.partitionBy(part: _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = df.select(col("*") +:
      ix.map(i => sum(sums(i)._1).over(wLoc).as(l(i))): _*)
    val wOff = Window.partitionBy(keys.map(col): _*).orderBy(col(bucket))
      .rowsBetween(Window.unboundedPreceding, -1)
    val totals = ix.map(i => sum(sums(i)._1).as(t(i)))
    val offsets = df.groupBy(part: _*).agg(totals.head, totals.tail: _*)
      .select(part ++ ix.map(i =>
        coalesce(sum(col(t(i))).over(wOff), lit(0L)).as(o(i))): _*)
    local.join(if (keys.isEmpty) broadcast(offsets) else offsets, keys :+ bucket)
      .select(df.columns.map(col) ++
        ix.map(i => (col(o(i)) + col(l(i))).as(sums(i)._2)): _*)
  }

  /** Scale-correct exact global row index under a TOTAL order: range
    * partition + within-partition sort, then the canonical two-pass
    * `zipWithIndex` (per-partition counts → broadcast offsets). NEVER a
    * single-partition `row_number` window: every partition ranks in
    * parallel and only the per-partition COUNTS cross the driver. The
    * order must be total (include a unique id) or the index is
    * partition-boundary-dependent. Index is 1-based (row_number parity).
    */
  def withGlobalIndex(df: DataFrame, order: Seq[Column],
      idxName: String): DataFrame = {
    val sorted = df.repartitionByRange(order: _*).sortWithinPartitions(order: _*)
    val schema = StructType(
      sorted.schema.fields :+ StructField(idxName, LongType, nullable = false))
    df.sparkSession.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ (i + 1L)) },
      schema)
  }
}
