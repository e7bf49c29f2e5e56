package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Source/sink round-trips (SURVEY §2.2 scans/sinks row: the reference reads
  * newline text only; the engine speaks the standard columnar/row formats).
  * All formats go through the same DataFrameReader/Writer surface, so
  * pushdown/pruning behavior is uniform; SourcesSpec asserts lossless
  * round-trips per format.
  */
object Sources {

  /** Per-JVM staging root for sink round-trips: subdirectories are REUSED
    * across invocations (every write is SaveMode.Overwrite) and the whole
    * root is recursively deleted on JVM exit — so repeated Verify/Bench runs
    * don't accumulate one orphan /tmp/graft_* dir per query invocation. */
  private lazy val stagingRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_staging_")
    graft.LocalSession.deleteAtExit(p)
    p
  }

  /** A stable per-JVM staging path for the named round-trip. */
  def staging(sub: String): String = stagingRoot.resolve(sub).toString

  /** Write `df` as `format` under `path`, read it back with the original
    * schema (CSV/JSON are schemaless-on-read; forcing the schema keeps types
    * lossless). */
  def roundTrip(spark: SparkSession, df: DataFrame, format: String,
      path: String): DataFrame = {
    df.write.format(format).mode(SaveMode.Overwrite).save(path)
    spark.read.format(format).schema(df.schema).load(path)
  }

  /** JDBC sink/source round-trip against the embedded Derby engine that
    * ships with Spark (the only database reachable in this container — the
    * point is certifying Spark's JDBC write/read path itself, which is
    * driver-URL-agnostic). The read back is a PARTITIONED JDBC scan
    * (`partitionColumn`/`numPartitions`), i.e. the form that parallelizes
    * on a cluster — `numPartitions` concurrent range queries — rather than
    * the single-connection default that serializes a large table through
    * one executor. */
  def jdbcRoundTrip(spark: SparkSession, df: DataFrame, dbName: String,
      table: String, partitionCol: String, numPartitions: Int): DataFrame = {
    // Keep derby.log (and the database) inside the shutdown-cleaned staging
    // root instead of polluting the working directory.
    System.setProperty("derby.system.home", stagingRoot.toString)
    val url = s"jdbc:derby:${staging(dbName)};create=true"
    df.write.format("jdbc")
      .option("url", url).option("dbtable", table)
      .mode(SaveMode.Overwrite).save()
    val bounds = df.agg(
      org.apache.spark.sql.functions.min(partitionCol),
      org.apache.spark.sql.functions.max(partitionCol)).head()
    // getAs[Number] (not getLong): the partition column may be any integral
    // type, and an empty frame yields NULL bounds — fail with a message
    // instead of an NPE from a primitive getter.
    require(!bounds.isNullAt(0),
      s"jdbcRoundTrip: input is empty — no $partitionCol bounds to partition by")
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("partitionColumn", partitionCol)
      .option("lowerBound", bounds.getAs[Number](0).longValue())
      .option("upperBound", bounds.getAs[Number](1).longValue())
      .option("numPartitions", numPartitions)
      .load()
  }

  /** Hive-style partitioned parquet sink + read-back: the 100 TB layout
    * primitive — directory keys become partition columns, and a filter on
    * them prunes whole directories at planning time (PartitionFilters in
    * the scan, asserted in PlanSpec). */
  def partitionedRoundTrip(spark: SparkSession, df: DataFrame,
      partCols: Seq[String], path: String): DataFrame = {
    df.write.partitionBy(partCols: _*).mode(SaveMode.Overwrite).parquet(path)
    spark.read.parquet(path)
  }

  /** Small-files compaction: rewrite a directory of many files into
    * ⌈bytes / targetFileBytes⌉ similarly-sized ones (round-robin
    * repartition — even output sizes, no skew by input file). The table
    * contents are unchanged — q98 certifies that under the oracle hash.
    * This is the maintenance op a streaming sink's output needs at scale;
    * on a lakehouse table the same rewrite runs under its transaction log. */
  def compact(spark: SparkSession, inputPath: String, outputPath: String,
      targetFileBytes: Long): DataFrame = {
    require(targetFileBytes >= 1, s"compact: bad target $targetFileBytes")
    val in = spark.read.parquet(inputPath)
    // Size from the actual on-disk bytes of the files the scan RESOLVED
    // (inputFiles handles globs and multi-dir paths that a raw listing of
    // inputPath would not), not optimizer stats — sizeInBytes is an
    // estimate scaled by fileCompressionFactor, so the file count would
    // drift from reality. Proper ceiling division (no +1 on exact
    // multiples), clamped so a pathological bytes/target ratio can't
    // overflow Int into a negative partition count.
    val conf = spark.sparkContext.hadoopConfiguration
    val bytes = in.inputFiles.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }.sum
    val nFiles = math.min(Int.MaxValue.toLong,
      math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)).toInt
    in.repartition(nFiles).write.mode(SaveMode.Overwrite).parquet(outputPath)
    spark.read.parquet(outputPath)
  }

  /** Text sink/source parity with the reference's line-file model
    * (MapReduce.h:219-245): one string column ⇆ newline-delimited files. */
  def textRoundTrip(spark: SparkSession, lines: DataFrame, path: String): DataFrame = {
    lines.write.mode(SaveMode.Overwrite).text(path)
    spark.read.text(path)
  }
}
