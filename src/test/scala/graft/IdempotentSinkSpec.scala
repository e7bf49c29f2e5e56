package graft

import graft.streaming.StreamingQueries
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Contract for the exactly-once-style foreachBatch parquet sink: the
  * drained output equals the batch formulation, and redelivering an
  * already-committed batch id (Spark's foreachBatch is at-least-once) is a
  * no-op instead of a duplicate append.
  */
class IdempotentSinkSpec extends SparkSpec {

  private def batchDirs(out: String): Seq[String] =
    Files.list(Paths.get(out)).iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("batch_"))
      .map(_.toString).toSeq

  test("drained parquet == batch aggregation; redelivered batch is skipped") {
    val out = TempDirs.dir("graft_sink_").toString
    StreamingQueries.sinkTumblingToParquet(spark, sf0001, out)

    val dirs = batchDirs(out)
    assert(dirs.nonEmpty, s"no batch dirs under $out")
    val sunk = spark.read.parquet(dirs: _*)
      .orderBy(col("window_start"), col("event_type")).collect()
    val batch = Tables.events(spark, sf0001)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("total"))
      .orderBy(col("window_start"), col("event_type")).collect()
    assert(sunk.toSeq == batch.toSeq)

    // Redeliver batch 0 with DIFFERENT content: the commit marker must make
    // it a no-op — same dirs, same rows.
    import spark.implicits._
    val writer = StreamingQueries.idempotentBatchWriter(out)
    writer(Seq(("poison", 1L)).toDF("window_start", "n"), 0L)
    val after = spark.read.parquet(batchDirs(out): _*)
      .orderBy(col("window_start"), col("event_type")).collect()
    assert(after.toSeq == sunk.toSeq, "redelivered batch mutated the sink")

    // A NEW batch id does land.
    writer(spark.range(1).selectExpr("timestamp_micros(0) AS window_start",
      "'x' AS event_type", "CAST(1 AS BIGINT) AS n", "1.0 AS total"), 999L)
    assert(batchDirs(out).size == dirs.size + 1)
  }
}
