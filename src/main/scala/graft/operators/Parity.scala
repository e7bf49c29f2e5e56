package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Tables

/** Reference-parity layer (SURVEY §2.1, §7.2).
  *
  * [[MapReduceJob]] mirrors the reference's entire public API — construct with
  * (mappers, reducers), plug a mapper and a reducer, run
  * (`MapReduce.h:35-51`) — re-expressed as one Spark shuffle:
  * map over the input's own splits (at most `mappers` tasks; the reference's
  * mappers each read their own byte range, `MapReduce.h:53-68`) → hash
  * repartition on key (the key-group-integrity guarantee the reference
  * enforces by range-splitting sorted files, `MapReduce.h:80-86`) →
  * per-partition sort (`MapReduce.h:187`) → ordered streaming fold over
  * adjacent equal keys (the reference's reducer loop, `MapReduce.h:192-208`).
  * The reference's phases 2–3 (external k-way merge + manual shuffle files,
  * `ExternalMergeSort.h:39-118`, `MapReduce.h:263-330`) are exactly what
  * Spark's sort-based shuffle does inside the exchange, so they do not exist
  * here as code.
  *
  * [[UniquePrefix]] is the reference's one shipped query (`main.cpp:8-13`):
  * the minimal prefix length L such that every input line is uniquely
  * identified by its first L code points. Both of its forms read the input
  * range-partitioned and sorted once, the reference's range split plus
  * per-mapper sort; the iterative form then runs the reference's loop over
  * L as one map-only job per round, the single-pass form (and q90) one
  * fold over adjacent pairs.
  */
object Parity {
  type Q = (SparkSession, String) => DataFrame

  /** Single-pass unique-prefix over customer names, scale form: the answer
    * only depends on *adjacent* pairs in sorted order, so range-repartition,
    * sort within partitions, fold each partition to its [[RangeStats]], then
    * combine the ≤ numPartitions stat rows — including the partition-boundary
    * pairs — in one tiny task. One shuffle, no global Window,
    * O(numPartitions) final stage. One job vs the reference's L jobs
    * (`main.cpp:30-68`); same folds as [[UniquePrefix.solve]] but expressed
    * as a DataFrame for the oracle. */
  private val q90: Q = (s, d) => {
    import s.implicits._
    val n = s.sessionState.conf.numShufflePartitions
    val stats = Tables.customer(s, d)
      .select(col("c_name").as("value")).as[String]
      .repartitionByRange(n, col("value"))
      .sortWithinPartitions(col("value"))
      .mapPartitions(RangeStats.fold)
      // pid tags each stat row with its physical partition index — range
      // partition k holds the k-th value range, so sorting the (≤ n) stat
      // rows by pid restores global value order for the boundary pairs.
      .withColumn("pid", spark_partition_id())
    stats
      .coalesce(1).sortWithinPartitions(col("pid"))
      .drop("pid").as[RangeStats]
      .mapPartitions(it => RangeStats.combine(it).map(r => (r.maxLcp + 1, r.dups)).iterator)
      .toDF("minimal_prefix_len", "n_dup_pairs")
  }

  /** Word count through the MapReduceJob facade — the canonical MapReduce
    * workload, exercising mapper UDF + shuffle + ordered reducer fold
    * end-to-end with a SQL oracle. */
  private val q91: Q = (s, d) => {
    import s.implicits._
    val lines: Dataset[String] = Tables.documents(s, d).select(col("text")).as[String]
    val job = MapReduceJob[String, Long, (String, Long)](
      mappers = 8, reducers = 8,
      mapper = line => line.split(' ').iterator.filter(_.nonEmpty).map(t => (t, 1L)),
      reducer = (k, vs) => Iterator.single((k, vs.sum)))
    job.run(s, lines).toDF("tok", "n").orderBy(col("tok"))
  }

  /** The reference's native I/O model under the hash gate: documents.text →
    * newline-delimited files ([[graft.sources.Sources.textRoundTrip]] — the
    * O1 text source / O11 concat sink pair) → re-read → word count. The
    * oracle counts words over the ORIGINAL table, so any line-level loss,
    * duplication or encoding drift in the text sink/source breaks the hash
    * (line *order* is irrelevant to the aggregate, as in the reference's
    * sort-based pipeline; FixtureInvariantSpec guards the no-embedded-
    * newline assumption a line sink needs). */
  private val q92: Q = (s, d) => {
    val tmp = graft.sources.Sources.staging("text_q92")
    val lines = Tables.documents(s, d).select(col("text"))
    graft.sources.Sources.textRoundTrip(s, lines, tmp)
      .select(explode(expr("filter(split(value, ' '), t -> t != '')")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("tok"))
  }

  val queries: Map[String, Q] = Map(
    "q90_unique_prefix" -> q90,
    "q91_mapreduce_wordcount" -> q91,
    "q92_text_scan" -> q92,
  )

  val oracles: Map[String, String] = Map(
    "q90_unique_prefix" -> """
      WITH sorted AS (
        SELECT c_name AS a, lead(c_name) OVER (ORDER BY c_name) AS b FROM customer
      ),
      lcps AS (
        SELECT CASE WHEN b IS NULL OR least(length(a), length(b)) < 1 THEN 0
          ELSE len(list_filter(range(1, least(length(a), length(b)) + 1),
               n -> substr(a, 1, CAST(n AS INT)) = substr(b, 1, CAST(n AS INT)))) END AS lcp,
          (a = b) AS dup
        FROM sorted
      )
      SELECT CAST(max(lcp) + 1 AS INT) AS minimal_prefix_len,
             CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_pairs
      FROM lcps""",
    "q91_mapreduce_wordcount" -> wordCountOracle,
    "q92_text_scan" -> wordCountOracle,
  )

  private lazy val wordCountOracle = """
      SELECT tok, count(*) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      WHERE tok <> ''
      GROUP BY tok
      ORDER BY tok"""
}

/** Typed MapReduce facade — the reference's public API re-expressed on Spark.
  *
  * Reference mapping (file:line from AlexShneur/12_mapreduce):
  *  - `MapReduce(mappers_count, reducers_count)` (`MapReduce.h:35-39`) → the
  *    two parallelism fields. [[mappers]] caps the map tasks: the map runs
  *    over the input's own partitions (a file source's byte-range splits),
  *    merged down to at most `mappers` by a narrow `coalesce`, as a Hadoop
  *    InputFormat decides the split count. An input with fewer partitions
  *    than `mappers` runs that many map tasks; it is not shuffled up to
  *    `mappers`. [[reducers]] is the hash partition count of the key
  *    shuffle;
  *  - `set_mapper` (`MapReduce.h:41-44`) → [[mapper]], generalized from
  *    1-in/1-out to flatMap shape (covers UDTF-style mappers, SURVEY §2.2);
  *  - `set_reducer` (`MapReduce.h:46-49`) → [[reducer]], receiving each key
  *    with the ordered stream of its values — the reference's prev-key-carry
  *    loop (`MapReduce.h:192-208`) grouped for the user;
  *  - `run(input, output)` (`MapReduce.h:51-126`) → [[run]] /[[runTextFile]].
  *
  * Scale notes: the job is one shuffle — no data moves before the map, as in
  * the reference. The reducer consumes values as an Iterator (never
  * materialized), partitioning is hash-by-key (same key-integrity contract as
  * `MapReduce.h:80-86` but load-balanced by hash instead of equal-line-count
  * ranges), and the per-partition sort feeds a streaming adjacent-key fold,
  * so memory is O(1) per group regardless of group size.
  */
final case class MapReduceJob[K, V, O](
    mappers: Int,
    reducers: Int,
    mapper: String => IterableOnce[(K, V)],
    reducer: (K, Iterator[V]) => IterableOnce[O]) {

  /** Run over an already-loaded line Dataset, in at most [[mappers]] map
    * tasks over its partitions (text parity: blank lines are dropped in
    * the map, matching `MapReduce.h:233-234`). */
  def run(spark: SparkSession, lines: Dataset[String])(
      implicit kvEnc: org.apache.spark.sql.Encoder[(K, V)],
      oEnc: org.apache.spark.sql.Encoder[O]): Dataset[O] = {
    val m = mapper; val r = reducer // avoid capturing `this` in task closures
    val mapped = lines
      .coalesce(mappers)
      .mapPartitions((it: Iterator[String]) =>
        it.filter(_.nonEmpty).flatMap(l => m(l).iterator))
    mapped
      .repartition(reducers, col("_1"))
      .sortWithinPartitions(col("_1"))
      .mapPartitions { (it: Iterator[(K, V)]) =>
        // Ordered streaming fold: group runs of equal keys off the sorted
        // iterator (the reference's reducer loop with prev-key state,
        // MapReduce.h:200-204), invoking the user reducer once per key.
        // NB: named `in`, not `buffered` — inside `new Iterator[_]` the
        // inherited `Iterator.buffered` method would shadow the val.
        val in = it.buffered
        new Iterator[O] {
          private var current: Iterator[O] = Iterator.empty
          // The values iterator of the key currently being emitted. Only
          // drained once `current` is exhausted — a reducer may return a LAZY
          // iterator derived from vs (e.g. vs.map(...)), so draining eagerly
          // right after calling the reducer would consume the values out from
          // under it and silently emit nothing.
          private var pendingVs: Iterator[V] = Iterator.empty
          private def advance(): Unit = {
            while (!current.hasNext && in.hasNext) {
              while (pendingVs.hasNext) pendingVs.next() // skip to next key
              if (in.hasNext) {
                val k = in.head._1
                // Values of one key: consume while the head key matches.
                val vs = new Iterator[V] {
                  def hasNext = in.hasNext && in.head._1 == k
                  def next() = in.next()._2
                }
                pendingVs = vs
                current = r(k, vs).iterator
              }
            }
          }
          def hasNext: Boolean = { advance(); current.hasNext }
          def next(): O = { advance(); current.next() }
        }
      }
  }

  /** Text-file-in parity entry point (`mr.run(input, output)` shape). */
  def runTextFile(spark: SparkSession, path: String)(
      implicit kvEnc: org.apache.spark.sql.Encoder[(K, V)],
      oEnc: org.apache.spark.sql.Encoder[O]): Dataset[O] =
    run(spark, spark.read.textFile(path))
}

/** The reference's shipped query (`main.cpp:8-13`), in its two forms.
  *
  * Both forms count prefixes in code points, as Spark's `substring` and
  * `length` do, and both read the non-empty lines range-partitioned and
  * sorted by value ([[sortedLines]]): in that order every group of lines
  * sharing an L-prefix is contiguous, so adjacent pairs, plus the pairs
  * across partition boundaries, decide the answer. */
object UniquePrefix {

  /** Iterative parity form — mirrors the driver loop `main.cpp:30-68`: try
    * L = 1, 2, … until no prefix collides, one check per L. The input never
    * changes between rounds, so it is shuffled, sorted and `persist()`ed
    * once (the reference re-reads and re-sorts it every pass,
    * `main.cpp:53`, `MapReduce.h:80-86`, `:187`):
    *  - one stats job materializes the cache and returns, per non-empty
    *    partition, its first and last line, its maximum length and whether
    *    two adjacent lines are equal;
    *  - each round L runs at most one map-only job over the cached rows,
    *    asking whether two adjacent lines share their first L code points.
    *    The partition-boundary pairs are answered on the driver from the
    *    stats; when one of them collides, the round runs no job.
    * Returns None if duplicate lines exist (the reference would loop
    * forever, `main.cpp:68` — documented divergence, SURVEY §7.5) or if no
    * L up to `maxLen` separates the lines. */
  def iterative(spark: SparkSession, lines: Dataset[String], maxLen: Int = 1024): Option[Int] = {
    val sorted = sortedLines(spark, lines, 0).rdd.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // (first, last, max length, adjacent duplicate) per non-empty
      // partition; RDD.collect keeps partition, hence range, order.
      val stats = sorted.mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val first = it.next()
          var prev = first; var longest = codePoints(first); var dup = false
          while (it.hasNext) {
            val cur = it.next()
            if (cur == prev) dup = true
            longest = math.max(longest, codePoints(cur))
            prev = cur
          }
          Iterator.single((first, prev, longest, dup))
        }
      }.collect()
      // Last line of each partition against the first of the next.
      val boundaries = stats.zip(stats.drop(1)).map { case (a, b) => (a._2, b._1) }
      if (stats.isEmpty || stats.exists(_._4) || boundaries.exists { case (x, y) => x == y })
        return None
      val boundaryLcp = boundaries.map { case (x, y) => lcp(x, y) }.maxOption.getOrElse(0)
      (1 to math.min(stats.map(_._3).max, maxLen)).find { l =>
        boundaryLcp < l &&
          !spark.sparkContext.runJob(sorted, (it: Iterator[String]) => adjacentShare(it, l))
            .contains(true)
      }
    } finally sorted.unpersist()
  }

  /** Single-pass engine-native form (SURVEY §7.2.2): fold each partition
    * to its [[RangeStats]], then combine the k stat rows, partition-boundary
    * pairs included, on the driver (k = numPartitions rows — O(k), not
    * O(N)). One shuffle, one pass, no global window. */
  def solve(spark: SparkSession, lines: Dataset[String], partitions: Int = 0): Option[Int] = {
    import spark.implicits._
    // ≤ numPartitions rows, in range order — the O10-style tiny driver result
    val stats = sortedLines(spark, lines, partitions).mapPartitions(RangeStats.fold).collect()
    // For distinct lines maxLcp < longest always holds; the check only
    // guards degenerate inputs.
    RangeStats.combine(stats.iterator)
      .filter(r => r.dups == 0 && r.maxLcp < r.longest)
      .map(_.maxLcp + 1)
  }

  /** The non-empty lines as column `value`, range-partitioned into
    * `partitions` (0: `spark.sql.shuffle.partitions`) and sorted within
    * each partition: partition k holds the k-th value range. Spark orders
    * strings by their UTF-8 bytes, which is code-point order. */
  private def sortedLines(spark: SparkSession, lines: Dataset[String],
      partitions: Int): Dataset[String] = {
    import spark.implicits._
    val n = if (partitions > 0) partitions else spark.sessionState.conf.numShufflePartitions
    lines.filter((l: String) => l.nonEmpty).toDF("value")
      .repartitionByRange(n, col("value"))
      .sortWithinPartitions(col("value"))
      .as[String]
  }

  /** Whether two adjacent lines of `it` share their first `l` code points.
    * Streams the iterator and stops at the first such pair. */
  private def adjacentShare(it: Iterator[String], l: Int): Boolean = {
    if (!it.hasNext) return false
    var prev = it.next()
    while (it.hasNext) {
      val cur = it.next()
      if (lcp(prev, cur) >= l) return true
      prev = cur
    }
    false
  }

  // codePointCount returns at once on a Latin-1 string (compact strings),
  // so ASCII input pays no scan for these counts.
  private[operators] def codePoints(s: String): Int = s.codePointCount(0, s.length)

  /** Length in code points of the longest common prefix of two well-formed
    * UTF-16 strings. The loop compares chars; a pair that first differs in
    * the low half of a surrogate pair shares no code point there, so the
    * high half before the mismatch is not counted. */
  private[graft] def lcp(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n && a.charAt(i) == b.charAt(i)) i += 1
    if (i > 0 && Character.isHighSurrogate(a.charAt(i - 1))) i -= 1
    a.codePointCount(0, i)
  }

  /** Brute-force oracle for property tests: smallest L, in code points,
    * with all prefixes unique (driver-side; test-only). */
  private[graft] def bruteForce(lines: Seq[String]): Option[Int] = {
    val xs = lines.filter(_.nonEmpty).map(_.codePoints.toArray.toSeq)
    if (xs.isEmpty) return None
    if (xs.distinct.size != xs.size) return None
    val maxL = xs.map(_.length).max
    (1 to maxL).find(l => xs.map(_.take(l)).distinct.size == xs.size)
  }
}

/** What [[UniquePrefix.solve]] and q90 know of a run of sorted lines: the
  * longest common prefix of any two adjacent lines, the number of adjacent
  * equal pairs, the first and last line and the longest line, prefixes
  * and lengths in code points. */
private[graft] final case class RangeStats(
    maxLcp: Int, dups: Long, first: String, last: String, longest: Int)

private[graft] object RangeStats {

  /** The stats of one sorted partition; none for an empty one. */
  def fold(it: Iterator[String]): Iterator[RangeStats] =
    if (!it.hasNext) Iterator.empty
    else {
      val first = it.next()
      var prev = first; var maxLcp = 0; var dups = 0L
      var longest = UniquePrefix.codePoints(first)
      while (it.hasNext) {
        val cur = it.next()
        if (cur == prev) dups += 1
        maxLcp = math.max(maxLcp, UniquePrefix.lcp(prev, cur))
        longest = math.max(longest, UniquePrefix.codePoints(cur))
        prev = cur
      }
      Iterator.single(RangeStats(maxLcp, dups, first, prev, longest))
    }

  /** The stats of consecutive ranges, given in range order, as one range:
    * the last line of each range and the first of the next are a pair too. */
  def combine(ranges: Iterator[RangeStats]): Option[RangeStats] =
    ranges.reduceOption { (a, b) =>
      RangeStats(
        math.max(math.max(a.maxLcp, b.maxLcp), UniquePrefix.lcp(a.last, b.first)),
        a.dups + b.dups + (if (a.last == b.first) 1 else 0),
        a.first, b.last, math.max(a.longest, b.longest))
    }
}
