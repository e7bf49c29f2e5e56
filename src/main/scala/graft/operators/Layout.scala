package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

import scala.jdk.CollectionConverters._

/** Data-layout operators (north-star extension, SURVEY §2.3 family):
  * Z-order (Morton) multi-dimensional clustering.
  *
  * Why this is a first-class 100 TB operator: a lexicographic
  * `sortBy(x, y)` layout only lets scans skip on the LEADING column — a
  * predicate on `y` alone touches every file. Interleaving the key bits
  * (`graft.functions.ZValue`) makes file-level min/max ranges boxes in
  * (x, y) space, so a selective predicate on either dimension (or both)
  * prunes to a bounded set of range partitions / files. This is the same
  * technique behind Delta's OPTIMIZE ZORDER BY and Hudi/Iceberg z-order
  * clustering; here it composes from a native codegen'd expression +
  * `repartitionByRange` + `sortWithinPartitions`, all Spark built-ins.
  * LayoutSpec measures the pruning claim directly (partitions touched by
  * a box predicate: z-order ≪ linear sort on the non-leading dimension).
  */
object Layout {
  type Q = (SparkSession, String) => DataFrame

  /** The 2-D Z-order key column (registers the native expression). */
  def zValue(df: DataFrame, x: Column, y: Column): Column = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    call_function("graft_zvalue", x, y)
  }

  /** Re-clusters `df` for 2-D locality: rows land in `numPartitions` range
    * partitions of the interleaved key and are sorted by it within each —
    * written out as-is, every partition's (x, y) min/max footprint is a
    * tight box, which is what makes scan pruning work on both dimensions.
    * The zval column is kept so sinks can also use it as a sort/stats key. */
  def zorderCluster(df: DataFrame, xCol: String, yCol: String,
      numPartitions: Int = 32): DataFrame = {
    require(numPartitions >= 1,
      s"zorderCluster: numPartitions must be >= 1, got $numPartitions")
    df.withColumn("zval",
        zValue(df, col(xCol).cast("long"), col(yCol).cast("long")))
      .repartitionByRange(numPartitions, col("zval"))
      .sortWithinPartitions(col("zval"))
  }

  /** Gate query: the Z-order keys of the lineitem (part, supplier) pairs —
    * the math the clustering layout sorts by, verified bit-for-bit (the
    * partitioning itself is exercised by LayoutSpec's pruning contract). */
  private val q112: Q = (s, d) => {
    graft.functions.GraftFunctions.register(s)
    Tables.lineitem(s, d)
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      .distinct()
      .select(col("pk"), col("sk"),
        expr("graft_zvalue(pk, sk)").as("zval"))
      .orderBy(col("zval"), col("pk"), col("sk"))
      .limit(100)
  }

  /** Zone-map skipping effectiveness — the diagnostic that justifies a
    * layout choice BEFORE rewriting 100 TB: simulate the file boundaries a
    * layout would produce (global order → rowsPerFile-sized files), take
    * each file's (x, y) min/max zone map, and count how many files a grid
    * of box predicates would have to scan. A z-order layout yields tight
    * boxes on BOTH dimensions; a linear (x, y) sort yields full-width y
    * ranges, so y-selective boxes hit every file — this operator puts the
    * number on that claim, per layout, per box.
    *
    * The global file rank is [[Prefix.withGlobalIndex]] under each
    * layout's total order. Zone maps are one bounded groupBy (n_files
    * rows); the box workload is a grid² literal frame cross-joined against
    * the zone maps (broadcast-tiny by construction). All arithmetic is
    * integer-exact. */
  def skipStats(df: DataFrame, xCol: String, yCol: String,
      rowsPerFile: Int = 1000, grid: Int = 4): DataFrame = {
    require(rowsPerFile >= 1 && grid >= 1 && grid <= 64,
      s"skipStats: need rowsPerFile >= 1 and grid in [1,64], got $rowsPerFile, $grid")
    val s = df.sparkSession
    graft.functions.GraftFunctions.register(s)
    val base = df
      .select(col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull).distinct()
      .withColumn("zval", call_function("graft_zvalue", col("x"), col("y")))
      .localCheckpoint()
    val Array(b) = base.agg(min("x"), max("x"), min("y"), max("y")).collect()
    // empty input: no files to map, no boxes to probe
    if (b.isNullAt(0))
      return base.select(lit("zorder").as("layout"), col("x").as("box_id"),
        col("y").as("files_hit"), col("zval").as("n_files")).limit(0)
    val (x0, x1, y0, y1) = (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val xw = (x1 - x0) / grid + 1
    val yw = (y1 - y0) / grid + 1
    val boxes = s.createDataFrame(
      (for (i <- 0 until grid; j <- 0 until grid) yield
        org.apache.spark.sql.Row((i * grid + j).toLong,
          x0 + i * xw, x0 + (i + 1) * xw - 1,
          y0 + j * yw, y0 + (j + 1) * yw - 1)).toList.asJava,
      org.apache.spark.sql.types.StructType(
        Seq("box_id", "xlo", "xhi", "ylo", "yhi").map(n =>
          org.apache.spark.sql.types.StructField(n,
            org.apache.spark.sql.types.LongType, nullable = false))))
    // Checkpointed so that `base` has no reader left once both layouts are
    // ranked: the index reads it through an RDD, which no leaf of the
    // result reaches, so only the release below can free it.
    def zones(order: Seq[Column], layout: String): DataFrame = {
      val ranked = Prefix.withGlobalIndex(base, order, "_idx")
        .select(col("x"), col("y"),
          expr(s"(_idx - 1) div $rowsPerFile").as("file_id"))
        .localCheckpoint()
      ranked.groupBy(col("file_id"))
        .agg(min("x").as("min_x"), max("x").as("max_x"),
          min("y").as("min_y"), max("y").as("max_y"))
        .withColumn("layout", lit(layout))
    }
    val zm = zones(Seq(col("zval"), col("x"), col("y")), "zorder")
      .unionAll(zones(Seq(col("x"), col("y")), "linear"))
    Dedup.unpersistBlocks(base)
    val files = zm.groupBy(col("layout")).agg(count(lit(1)).as("n_files"))
    zm.join(broadcast(boxes),
        col("min_x") <= col("xhi") && col("max_x") >= col("xlo") &&
          col("min_y") <= col("yhi") && col("max_y") >= col("ylo"))
      .groupBy(col("layout"), col("box_id"))
      .agg(count(lit(1)).as("files_hit"))
      .join(files, "layout")
      .select(col("layout"), col("box_id"), col("files_hit"), col("n_files"))
  }

  private val q169: Q = (s, d) =>
    skipStats(Tables.lineitem(s, d), "l_partkey", "l_suppkey")
      .orderBy(col("layout"), col("box_id"))

  /** Order-invariant per-group table fingerprint + snapshot diff — the
    * constant-output integrity check a lake runs BEFORE q76's row-level
    * table diff: per partition group, (row count, checksum) where the
    * checksum is the SUM of each row's 60-bit canonical hash mod 2^60 —
    * sum is commutative/associative over any shuffle or file order, so
    * two physically different layouts of the same rows fingerprint
    * identically, and any single-row change moves the group's checksum.
    * Comparing two snapshots then touches |groups| rows, not 2 corpora:
    * only the groups flagged `changed` need the expensive row diff.
    *
    * Row canonicalization is the cross-engine contract: columns render
    * as strings (NULL → chr(2) sentinel), joined with the chr(1)
    * separator, hashed by [[CrossHash]]'s md5 60-bit fold. The mod-2^60
    * accumulator rides an exact DECIMAL(38,0) sum (int64 would overflow
    * past ~8000 rows of 2^60-sized hashes; 38 digits carry ~10^20 rows).
    *
    * Shape: per snapshot ONE keyed aggregate with map-side partials
    * (count + sum both fold), output |groups| rows; the diff is a
    * groups-bounded full-outer join. Nothing wide ever shuffles — at
    * 100 TB this reads both corpora once and moves kilobytes. */
  def snapshotFingerprint(a: DataFrame, b: DataFrame, groupCol: String,
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "snapshotFingerprint: need at least one column")
    val canon = cols.map(c => s"coalesce(cast(($c) as string), chr(2))")
      .mkString("concat_ws(chr(1), ", ", ", ")")
    val mod = 1L << 60
    def fp(df: DataFrame, nName: String, fpName: String) =
      df.select(col(groupCol),
          expr(graft.operators.CrossHash.h60Expr(canon)).as("_h"))
        .groupBy(col(groupCol))
        .agg(count(lit(1)).as(nName),
          expr(s"cast(sum(cast(_h as decimal(38,0))) % $mod as bigint)")
            .as(fpName))
    fp(a, "n_a", "fp_a").join(fp(b, "n_b", "fp_b"), Seq(groupCol),
        "full_outer")
      .select(col(groupCol),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        col("fp_a"), col("fp_b"),
        (!(coalesce(col("n_a"), lit(0L)) === coalesce(col("n_b"), lit(0L))
          && (col("fp_a") <=> col("fp_b")))).as("changed"))
  }

  /** Snapshot B simulates the next ingest: every 97th document dropped —
    * a deterministic perturbation that touches some sources and leaves
    * the rest byte-identical, so both verdict branches gate. */
  private val q241: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    snapshotFingerprint(docs, docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
      "source", Seq("doc_id", "lang", "n_chars", "md5(text)"))
      .orderBy(col("source"))
  }

  val queries: Map[String, Q] = Map(
    "q112_zorder" -> q112,
    "q169_skip_stats" -> q169,
    "q241_snapshot_fingerprint" -> q241,
  )

  /** DuckDB replay of the magic-mask interleave: each spread step is the
    * same shift/mask pair, nested (no variables in SQL — the column name is
    * just duplicated; all masks are < 2^63 so BIGINT arithmetic is exact). */
  private def duckSpread(e: String): String = {
    val masks = Seq(
      16 -> 281470681808895L, // 0x0000FFFF0000FFFF
      8 -> 71777214294589695L, // 0x00FF00FF00FF00FF
      4 -> 1085102592571150095L, // 0x0F0F0F0F0F0F0F0F
      2 -> 3689348814741910323L, // 0x3333333333333333
      1 -> 6148914691236517205L) // 0x5555555555555555
    // CAST up front: DuckDB shifts INTEGER in 32-bit and raises on overflow.
    masks.foldLeft(s"(CAST($e AS BIGINT) & 2147483647)") { case (s, (sh, m)) =>
      s"(($s | ($s << $sh)) & $m)"
    }
  }

  val oracles: Map[String, String] = Map(
    "q112_zorder" -> s"""
      WITH d AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem)
      SELECT pk, sk, ${duckSpread("pk")} | (${duckSpread("sk")} << 1) AS zval
      FROM d ORDER BY zval, pk, sk LIMIT 100""",
    // Full replay: ranks via row_number over each layout's total order,
    // simulated 1000-row files, per-file zone maps, 4x4 integer box grid.
    "q169_skip_stats" -> s"""
      WITH d AS (SELECT DISTINCT CAST(l_partkey AS BIGINT) AS x,
                        CAST(l_suppkey AS BIGINT) AS y
                 FROM lineitem
                 WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL),
      z AS (SELECT x, y, ${duckSpread("x")} | (${duckSpread("y")} << 1) AS zval
            FROM d),
      bounds AS (SELECT min(x) AS x0, max(x) AS x1, min(y) AS y0, max(y) AS y1
                 FROM d),
      boxes AS (SELECT CAST(i * 4 + j AS BIGINT) AS box_id,
                       x0 + i * ((x1 - x0) // 4 + 1) AS xlo,
                       x0 + (i + 1) * ((x1 - x0) // 4 + 1) - 1 AS xhi,
                       y0 + j * ((y1 - y0) // 4 + 1) AS ylo,
                       y0 + (j + 1) * ((y1 - y0) // 4 + 1) - 1 AS yhi
                FROM bounds, range(0, 4) t1(i), range(0, 4) t2(j)),
      rz AS (SELECT x, y,
                    (row_number() OVER (ORDER BY zval, x, y) - 1) // 1000 AS file_id
             FROM z),
      rl AS (SELECT x, y,
                    (row_number() OVER (ORDER BY x, y) - 1) // 1000 AS file_id
             FROM d),
      zm AS (
        SELECT 'zorder' AS layout, file_id, min(x) AS min_x, max(x) AS max_x,
               min(y) AS min_y, max(y) AS max_y FROM rz GROUP BY 2
        UNION ALL
        SELECT 'linear', file_id, min(x), max(x), min(y), max(y)
        FROM rl GROUP BY 2),
      files AS (SELECT layout, count(*) AS n_files FROM zm GROUP BY 1)
      SELECT zm.layout, b.box_id, CAST(count(*) AS BIGINT) AS files_hit,
             f.n_files
      FROM zm JOIN boxes b
        ON zm.min_x <= b.xhi AND zm.max_x >= b.xlo
       AND zm.min_y <= b.yhi AND zm.max_y >= b.ylo
      JOIN files f ON zm.layout = f.layout
      GROUP BY zm.layout, b.box_id, f.n_files
      ORDER BY zm.layout, b.box_id""",
    // Replays snapshotFingerprint: the chr(1)/chr(2) row canonical form,
    // the md5 60-bit fold, the HUGEINT sum mod 2^60 per source, the
    // doc_id % 97 snapshot-B perturbation, and the null-safe verdict.
    "q241_snapshot_fingerprint" -> {
      val canon = Seq("doc_id", "lang", "n_chars", "md5(text)")
        .map(c => s"coalesce(CAST(($c) AS VARCHAR), chr(2))")
        .mkString("concat_ws(chr(1), ", ", ", ")")
      val h = graft.operators.CrossHash.h60DuckDb(canon)
      s"""
      WITH fa AS (SELECT source, CAST(count(*) AS BIGINT) AS n_a,
                         CAST(sum(CAST(($h) AS HUGEINT))
                              % 1152921504606846976 AS BIGINT) AS fp_a
                  FROM documents GROUP BY source),
      fb AS (SELECT source, CAST(count(*) AS BIGINT) AS n_b,
                    CAST(sum(CAST(($h) AS HUGEINT))
                         % 1152921504606846976 AS BIGINT) AS fp_b
             FROM documents WHERE doc_id % 97 <> 0 GROUP BY source)
      SELECT coalesce(fa.source, fb.source) AS source,
             coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b, fp_a, fp_b,
             NOT (coalesce(n_a, 0) = coalesce(n_b, 0)
                  AND fp_a IS NOT DISTINCT FROM fp_b) AS changed
      FROM fa FULL OUTER JOIN fb ON fa.source = fb.source
      ORDER BY source"""
    },
  )
}
