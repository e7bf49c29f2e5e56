package graft

import org.apache.spark.sql.functions._

/** Hive-style partitioned layout + partition pruning: at 100 TB the fact
  * tables are date-partitioned and a year filter must prune directories at
  * planning time (PartitionFilters), not scan-and-filter. */
class PartitionPruningSpec extends SparkSpec {

  test("year filter prunes partitions of a partitioned parquet table") {
    val dir = TempDirs.dir("graft_part").toString
    Tables.orders(spark, sf0001)
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(dir)
    val df = spark.read.parquet(dir).filter(col("o_year") === 1997)
      .select(col("o_orderkey"), col("o_totalprice"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters"), p)
    assert("PartitionFilters: \\[[^\\]]*o_year".r.findFirstIn(p).isDefined,
      s"year filter not in PartitionFilters:\n$p")
    // Pruned read matches the unpartitioned filter result.
    val expected = Tables.orders(spark, sf0001)
      .filter(year(col("o_orderdate")) === 1997).count()
    assert(df.count() == expected)
  }
}
