package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** q199's recovery seam on a controlled source: a 3-file directory streams
  * through a checkpointed parquet sink with `maxFilesPerTrigger=1`; the
  * query is stopped after the FIRST committed batch, restarted on the same
  * checkpoint, and drained. The sink (read through `_spark_metadata`) must
  * then hold every source row EXACTLY ONCE — the committed-prefix + resume
  * contract: no batch-1 duplicates from the restart, no hole from the stop.
  * A third start on the fully-drained checkpoint must commit nothing new. */
class CheckpointRecoverySpec extends SparkSpec {
  import spark.implicits._

  test("checkpointed file sink resumes from committed offsets: no duplicates, no holes, idempotent re-start") {
    val root = TempDirs.dir("graft_ckpt_spec")
    val srcDir = root.resolve("src"); Files.createDirectories(srcDir)
    // Three single-row-group files with pinned increasing mtimes so the
    // file source lists them deterministically, one per micro-batch.
    Seq(Seq(1, 2, 3), Seq(4, 5, 6), Seq(7, 8, 9)).zipWithIndex.foreach {
      case (xs, i) =>
        val f = srcDir.resolve(s"f$i")
        xs.toDF("x").coalesce(1).write.mode("overwrite").parquet(f.toString)
        Files.setLastModifiedTime(f,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() + i * 2000L))
    }
    val glob = srcDir.toString + "/*"
    val out = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    val schema = spark.read.parquet(srcDir.resolve("f0").toString).schema
    def start() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(glob)
      .writeStream.outputMode(OutputMode.Append()).format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()

    val q1 = start()
    try {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (q1.recentProgress.count(_.numInputRows > 0) < 1 &&
             System.nanoTime() < deadline) Thread.sleep(20)
    } finally q1.stop()
    val afterStop = spark.read.parquet(out).as[Int].collect().sorted.toSeq
    assert(afterStop.nonEmpty && afterStop == afterStop.distinct,
      s"committed prefix must be duplicate-free: $afterStop")

    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val drained = spark.read.parquet(out).as[Int].collect().sorted.toSeq
    assert(drained == (1 to 9), s"resume must fill exactly the hole: $drained")

    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()
    val again = spark.read.parquet(out).as[Int].collect().sorted.toSeq
    assert(again == (1 to 9), s"re-start on a drained checkpoint must be a no-op: $again")
  }
}
