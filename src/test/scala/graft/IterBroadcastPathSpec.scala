package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Graph}

/** r22 lock for the size-adaptive loop-frame broadcast path.
  *
  * Every iterative graph operator now counts its materialized edge
  * checkpoint and, under `spark.graft.iter.broadcastMaxRows` (default 1M),
  * broadcasts its node-bounded per-round frames into the per-round joins
  * and coalesces their checkpoints (Graph.bcastIf / Graph.compactIf). At
  * every test fixture the small path is the one taken, so this spec pins
  * the OTHER leg: with the ceiling forced to 0 the operators must plan the
  * r21 shuffle joins and still produce byte-identical results — the
  * 100 TB fallback is not allowed to rot behind the fixture-scale path.
  */
class IterBroadcastPathSpec extends SparkSpec {
  import spark.implicits._

  private val ConfKey = "spark.graft.iter.broadcastMaxRows"

  private def withCeiling[T](rows: Long)(f: => T): T = {
    val prev = spark.conf.getOption(ConfKey)
    spark.conf.set(ConfKey, rows.toString)
    try f
    finally prev match {
      case Some(v) => spark.conf.set(ConfKey, v)
      case None => spark.conf.unset(ConfKey)
    }
  }

  // A small multi-component graph with a hub, a cycle, and a pendant path
  // (exercises BFS depth > 1, nonzero k-core/k-truss peels, distinct
  // PageRank masses).
  private lazy val edges = Seq(
    "a" -> "b", "b" -> "c", "c" -> "a", // triangle
    "c" -> "d", "d" -> "e", // pendant path
    "a" -> "d", // extra chord: 4-node dense-ish cluster
    "x" -> "y", "y" -> "z" // second component
  ).toDF("s", "d")

  private def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("broadcast path and shuffle path produce identical results") {
    def runAll(): Map[String, Seq[String]] = Map(
      "pageRank" -> sorted(Graph.pageRank(edges, "s", "d", iters = 3)),
      "ppr" -> sorted(Graph.personalizedPageRank(edges, "s", "d", Seq("a"))),
      "bfs" -> sorted(Graph.shortestPaths(edges, "s", "d", "a", maxDepth = 6)),
      "kcore" -> sorted(Graph.kCore(edges, "s", "d", k = 2)),
      "lpa" -> sorted(Graph.labelPropagation(edges, "s", "d")),
      "hits" -> sorted(Graph.hits(edges, "s", "d")),
      "tri" -> sorted(Graph.triangleCount(edges, "s", "d")),
      "ktruss" -> sorted(Graph.kTruss(edges, "s", "d", k = 3)),
      "bridges" -> sorted(Graph.bridges(edges, "s", "d")),
      "sssp" -> sorted(Graph.sssp(
        edges.withColumn("w", lit(2L)), "s", "d", "w", "a")))
    val small = runAll() // default ceiling: broadcast+compact path
    val big = withCeiling(0L)(runAll()) // forced shuffle path (the r21 plans)
    for ((k, v) <- small)
      assert(big(k) == v, s"$k: shuffle-path result diverged from broadcast path")
    // and the graph answers are sane, not vacuously-equal empties
    assert(small("bfs").size == 5 && small("bridges").nonEmpty)
  }

  // Every operator that runs through Graph's round loop, on `edges`.
  private def roundLoopOps: Seq[(String, () => DataFrame)] = Seq(
    "pageRank" -> (() => Graph.pageRank(edges, "s", "d", iters = 3)),
    "ppr" -> (() => Graph.personalizedPageRank(edges, "s", "d", Seq("a"))),
    "bfs" -> (() => Graph.shortestPaths(edges, "s", "d", "a", maxDepth = 6)),
    "kcore" -> (() => Graph.kCore(edges, "s", "d", k = 2)),
    "lpa" -> (() => Graph.labelPropagation(edges, "s", "d")),
    "hits" -> (() => Graph.hits(edges, "s", "d")),
    "ktruss" -> (() => Graph.kTruss(edges, "s", "d", k = 3)),
    "bridges" -> (() => Graph.bridges(edges, "s", "d")),
    "sssp" -> (() => Graph.sssp(
      edges.withColumn("w", lit(2L)), "s", "d", "w", "a")),
    "cc" -> (() => Dedup.connectedComponents(edges, "s", "d",
      maxDriverEdges = 0)))

  /** Builds `f`'s result, collects it and releases it the way Bench does;
    * returns the Spark jobs that took and the RDDs it left persisted. */
  private def runReleased(f: () => DataFrame): (Int, Set[Int]) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val before = sc.getPersistentRDDs.keySet
    ListenerBusDrain.observe(sc, listener) {
      val df = f()
      df.collect()
      Dedup.unpersistBlocks(df)
    }
    (jobs.get, sc.getPersistentRDDs.keySet.toSet -- before)
  }

  // Jobs per operator on `edges` as (default ceiling, ceiling 0); AQE runs
  // each shuffle map stage as a job of its own, so a count() is two. A
  // round structure change that adds a job fails here; a removed job must
  // be one whose answer the output cannot depend on.
  private val PinnedJobs = Map(
    "pageRank" -> (21, 21), "ppr" -> (25, 25), "bfs" -> (22, 22),
    "kcore" -> (22, 22), "lpa" -> (20, 20), "hits" -> (37, 37),
    "ktruss" -> (16, 17), "bridges" -> (49, 66), "sssp" -> (30, 30),
    "cc" -> (28, 28))

  test("round-loop operators run a pinned number of Spark jobs on both legs") {
    def jobs(): Map[String, Int] =
      roundLoopOps.map { case (k, f) => k -> runReleased(f)._1 }.toMap
    val small = jobs()
    val big = withCeiling(0L)(jobs())
    val got = small.map { case (k, n) => k -> (n, big(k)) }
    assert(got == PinnedJobs, s"job counts (default, ceiling 0): $got")
  }

  // The queries whose operators run Prefix's running sums or global index:
  // each checkpoints intermediate frames that the release must reach.
  private val PrefixQueries = Seq("q74_pack_shards", "q140_concurrency",
    "q163_sorted_neighborhood", "q169_skip_stats", "q184_ks_test",
    "q198_rfm_segments", "q209_woe_iv", "q242_decile_lift",
    "q243_epoch_shuffle", "q249_spearman_corr", "q250_quantile_normalize",
    "q253_kruskal_wallis", "q269_concentration")

  test("round-loop ops, q54/q214 and Prefix queries leave no persisted RDD") {
    val runs = roundLoopOps ++ (Seq(
      "q54_neardup_components", "q214_canonical_pick") ++ PrefixQueries).map(q =>
      q -> (() => SparkEntry.queries(q)(spark, sf0001)))
    val leaks = runs.map { case (k, f) => k -> runReleased(f)._2.size }
      .filter(_._2 > 0)
    assert(leaks.isEmpty, s"persisted RDDs left after release: $leaks")
  }

  test("setSimilarityJoin match-count filter never drops a true pair (brute-force check)") {
    // Corpus with exact dups, near-dups above and below the 0.9 bound,
    // and unrelated docs — small enough to brute-force the truth.
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i j"), // exact dup of 1
      (3L, "a b c d e f g h i k"), // J = 9/11 < 0.9
      (4L, "a b c d e f g h i j k l m n o p q r s t"),
      (5L, "a b c d e f g h i j k l m n o p q r s u"), // J = 19/21 ≥ 0.9
      (6L, "z y x w v u t s r q")
    ).toDF("doc_id", "text")
    val got = Dedup.setSimilarityJoin(docs, "doc_id", "text")
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    // brute force over distinct-token sets
    val toks = Seq(1L -> "a b c d e f g h i j", 2L -> "a b c d e f g h i j",
      3L -> "a b c d e f g h i k",
      4L -> "a b c d e f g h i j k l m n o p q r s t",
      5L -> "a b c d e f g h i j k l m n o p q r s u",
      6L -> "z y x w v u t s r q")
      .map { case (id, t) => id -> t.split(' ').toSet }
    val want = (for {
      (i, si) <- toks; (j, sj) <- toks if i < j
      inter = (si & sj).size
      if inter * 10 >= (si.size + sj.size - inter) * 9
    } yield (i, j)).toSet
    assert(got == want, s"got $got want $want")
  }
}
