package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixture-table loaders (TESTDATA.md / FIXTURES.md).
  *
  * Every query in the engine receives `(SparkSession, sfDir)` and loads its
  * inputs through here, so filters/projections written against these frames
  * reach the Parquet scan via Catalyst pushdown (verified in PlanSpec).
  *
  * Reference analog: the only "source" in AlexShneur/12_mapreduce is a
  * newline-split text file (MapReduce.h:136-176, 219-245); Spark's file
  * sources give the same byte-range splitting natively (SURVEY §1.4).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** Schema-adaptive `events` loader. Fixture generations have shipped
    * `events.ts` under two physical encodings:
    *   - parquet timestamp[ns], which Spark rejects by default
    *     (PARQUET_TYPE_ILLEGAL) — read nanos as long via the legacy conf and
    *     truncate to microseconds (integer `div`; a double division would
    *     lose precision above 2^53);
    *   - parquet timestamp[us], which Spark reads natively as TIMESTAMP (or
    *     TIMESTAMP_NTZ depending on inference conf) — pass through,
    *     normalizing NTZ to session-UTC TIMESTAMP so watermark arithmetic
    *     and the DuckDB oracles (which read timestamp[us] as TIMESTAMP)
    *     agree.
    * Branching on the *loaded* dtype keeps a future regen from silently
    * breaking every events query again (FixtureInvariantSpec covers both). */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventsTs(load(s, d, "events"))
  }

  /** Content fingerprint of a fixture table path, for content-addressed
    * staging (q216's evolve dir, StreamingQueries.stagingDir, binaryStageDir):
    * returns (totalBytes, md5hex). The driver's testdata ships each table
    * as a SINGLE parquet file, but a Spark-written copy — e.g. the 10×
    * scale tier (tools/ScaleTier.scala) — is a DIRECTORY of part files.
    * For a file this digests the raw bytes (unchanged from the original
    * per-site hashing, so existing staged dirs stay valid); for a
    * directory it folds each contained regular file's (relative path,
    * bytes) in sorted-path order, so a data change, a part rename, or a
    * part add/remove all change the fingerprint. Bounded driver read of
    * one fixture table. */
  private[graft] def fixtureFingerprint(p: java.nio.file.Path): (Long, String) = {
    import java.nio.file.Files
    val md = java.security.MessageDigest.getInstance("MD5")
    var total = 0L
    if (Files.isDirectory(p)) {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(p)
      val files =
        try walk.iterator().asScala.filter(Files.isRegularFile(_))
          .map(f => (p.relativize(f).toString, f)).toSeq.sortBy(_._1)
        finally walk.close()
      files.foreach { case (rel, f) =>
        md.update(rel.getBytes("UTF-8")); md.update(0.toByte)
        val bytes = Files.readAllBytes(f)
        total += bytes.length
        md.update(bytes)
      }
    } else {
      val bytes = Files.readAllBytes(p)
      total = bytes.length
      md.update(bytes)
    }
    (total, md.digest().map("%02x".format(_)).mkString)
  }

  /** The ONE place the `ts` physical encoding is adapted — batch loads and
    * every streaming source route through here. */
  private[graft] def normalizeEventsTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other            =>
        throw new IllegalStateException(s"events.ts has unsupported physical type $other")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Register all tables as temp views so spark.sql(...) queries (grouping
    * sets, EXISTS subqueries) can name them exactly as the DuckDB oracle does.
    * `events` goes through [[events]] (nanos→µs conversion) — the raw parquet
    * would fail to read (PARQUET_TYPE_ILLEGAL) and diverge from every events
    * oracle. */
  def registerViews(spark: SparkSession, dir: String): Unit =
    all.foreach {
      case "events" => events(spark, dir).createOrReplaceTempView("events")
      case n        => load(spark, dir, n).createOrReplaceTempView(n)
    }
}
