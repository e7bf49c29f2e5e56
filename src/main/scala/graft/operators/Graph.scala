package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Graph analytics over relationship edges derived from the star schema
  * (north-star extension, SURVEY §2.3 family): fixed-point PageRank.
  *
  * The reference engine has no graph surface at all (its closest analog is
  * the iterative multi-job driver, `main.cpp:30-68` — re-run jobs until a
  * fixed point); this module generalizes that driver-loop shape to the
  * canonical iterative-dataflow workload. Every iterative operator, and
  * [[Dedup.connectedComponents]], runs through one [[RoundLoop]].
  *
  * Determinism: ranks are SCALED INTEGERS (`Scale` = 1e9 ≙ probability
  * 1.0) and every per-iteration step is integer arithmetic — `div` for the
  * out-degree split and the damping factor, exact long sums for the
  * neighbor fold. Float PageRank cannot be hash-gated across engines (the
  * neighbor sum's addition order differs between Spark's partial aggregates
  * and any oracle), and on a 1000-executor cluster it isn't even
  * reproducible run-to-run; integer mass is order-independent, so the
  * DuckDB oracle replays the iteration bit-for-bit. The `div` flooring
  * leaks ≤ (deg − 1) mass units per node per round — bounded, deterministic,
  * and identical in both engines.
  */
object Graph {
  type Q = (SparkSession, String) => DataFrame

  /** Integer mass of probability 1.0 (1e9 ≙ nine decimal digits of rank). */
  val Scale: Long = 1000000000L

  /** Row ceiling under which an iterative operator's per-round
    * node-bounded frame (ranks, labels, frontiers, survivor sets — every
    * one of them ≤ the graph's node count) is BROADCAST into the
    * per-round joins instead of shuffled (r22, guide §2.4/§3.1: a
    * broadcast join replaces the exchange of BOTH sides; at fixture
    * scale the per-round frames are KB while the exchanges cost 32
    * tasks × several stages × rounds). The decision is driver-measured —
    * each operator counts its materialized edge checkpoint ONCE and the
    * node-bounded frames inherit that bound — so the 100 TB path (counts
    * past the ceiling) keeps the shuffle joins unchanged. Parameterized
    * via `spark.graft.iter.broadcastMaxRows`; the 1M default is ~tens of
    * MB built (well under executor memory anywhere), not tuned to the
    * local core count. */
  private def iterBcastMaxRows(s: SparkSession): Long =
    s.conf.getOption("spark.graft.iter.broadcastMaxRows")
      .map(_.toLong).getOrElse(1000000L)

  private def bcastIf(df: DataFrame, small: Boolean): DataFrame =
    if (small) broadcast(df) else df

  /** Coalesce a driver-measured-small per-round frame before its
    * checkpoint (r22, guide §2.2 "shuffles get relatively slower as you
    * scale out"): the loop frames this guards are KB-to-MB, but every
    * job over them — the materializing checkpoint, the loop-control
    * count, the next round's broadcast build — schedules one task per
    * partition, and they otherwise inherit the session shuffle width
    * (32 on the driver bench) for pure per-task overhead. 8 is NOT a
    * local-core tuning: it is deliberately ≪ any executor count and
    * applies only under the same measured row bound as [[bcastIf]]
    * (≤ ~1M rows — trivial CPU per task at any width); frames past the
    * bound keep the session width. */
  private def compactIf(df: DataFrame, small: Boolean): DataFrame =
    if (small) df.coalesce(8) else df

  /** The round loop every iterative operator here runs: the reference's
    * driver loop (`main.cpp:30-68`, rerun jobs until a fixed point) as one
    * helper. [[sized]] opens one; [[Dedup.connectedComponents]], which has
    * no broadcast gate, builds one with `small = false`. The discipline,
    * stated once for every operator that links here:
    *
    *  - Per-round checkpoint. Each round's frame is compacted under the
    *    ceiling ([[compactIf]]) and `localCheckpoint`ed ([[keep]]). The
    *    lineage is cut every round, so the plan does not double per round.
    *  - Eager release. A checkpoint's blocks are released ([[release]]) as
    *    soon as nothing reads it any more — in [[iterate]], the previous
    *    round's frame once the next one is materialized — instead of
    *    waiting for a driver GC.
    *  - Leaves stay. Frames the returned plan still reads (the final
    *    frame, lazy unions of per-round frames, an edge checkpoint the
    *    result joins) are never released here: truncated lineage cannot
    *    recompute them. They are leaves of the result, and the caller's
    *    release of the result (`Dedup.unpersistBlocks`, as Bench does)
    *    frees them.
    *  - Loop control ([[run]]). At most `maxRounds` rounds, stopping early
    *    once `stop` holds on a round's frame (empty, unchanged, converged).
    *    `stop` is not asked after the last round: its answer could not
    *    change the output.
    *
    * On a multi-executor cluster the checkpoints must become reliable
    * `checkpoint`s: local checkpoint blocks die with their executor, and
    * truncated lineage cannot rebuild them. */
  private[operators] final class RoundLoop(val rows: Long, val small: Boolean) {
    def bc(df: DataFrame): DataFrame = bcastIf(df, small)

    /** Materialize one loop frame: compact under the ceiling, checkpoint. */
    def keep(df: DataFrame): DataFrame = compactIf(df, small).localCheckpoint()

    def release(dfs: DataFrame*): Unit = dfs.foreach(Dedup.unpersistBlocks)

    /** Runs `round(1)`, `round(2)`, … (each returns its round's frame)
      * until `stop` holds on a frame or `maxRounds` rounds ran; returns
      * the number of rounds run. */
    def run(maxRounds: Int)(round: Int => DataFrame)(
        stop: DataFrame => Boolean): Int = {
      var r = 0
      var done = false
      while (!done && r < maxRounds) {
        r += 1
        val frame = round(r)
        done = r < maxRounds && stop(frame)
      }
      r
    }

    /** [[run]] where each round's frame replaces the previous one: `step`
      * builds the next frame from the current one (starting at the
      * materialized `init`), [[keep]] materializes it and the current one
      * is released. Returns the last frame. */
    def iterate(init: DataFrame, maxRounds: Int)(
        step: (DataFrame, Int) => DataFrame)(
        stop: DataFrame => Boolean): DataFrame = {
      var cur = init
      run(maxRounds) { r =>
        val next = keep(step(cur, r))
        release(cur)
        cur = next
        next
      }(stop)
      cur
    }
  }

  /** Counts the materialized `df` ONCE and opens a [[RoundLoop]] on the
    * broadcast path when the count is within [[iterBcastMaxRows]]. `df`
    * bounds the operator's loop frames: an edge checkpoint, or the node
    * list itself. */
  private def sized(df: DataFrame): RoundLoop = {
    val n = df.count()
    new RoundLoop(n, n <= iterBcastMaxRows(df.sparkSession))
  }

  private def ab(edges: DataFrame, src: String, dst: String): DataFrame =
    edges.select(col(src).as("a"), col(dst).as("b"))

  /** Edge prep for the undirected operators: materialize the `(a, b, …)`
    * frame `e` once (its lineage may be expensive and is read twice), add
    * every edge reversed, deduplicate with `dedup` and materialize the
    * result; see [[symmetrize]]. */
  private def undirected(e: DataFrame,
      dedup: DataFrame => DataFrame): DataFrame =
    symmetrize(e.localCheckpoint(), dedup)

  /** [[undirected]] over an already materialized `e0`, whose blocks are
    * released once the symmetrized checkpoint holds everything. */
  private[operators] def symmetrize(e0: DataFrame,
      dedup: DataFrame => DataFrame): DataFrame = {
    val swapped = col("b").as("a") +: col("a").as("b") +:
      e0.columns.drop(2).toSeq.map(col)
    val und = dedup(e0.union(e0.select(swapped: _*))).localCheckpoint()
    Dedup.unpersistBlocks(e0)
    und
  }

  /** Undirected PageRank over `edges`, returned as the global top-`topK`
    * (node, rank_fp) rows, rank_fp in `Scale` units.
    *
    * The edge set is symmetrized and deduplicated (like
    * [[Dedup.connectedComponents]]): undirected semantics mean every node
    * has out-degree ≥ 1, so no dangling-node mass correction is needed —
    * the classic `rank' = (1-d)/N + d * Σ rank(u)/deg(u)` recurrence holds
    * exactly.
    *
    * Scale shape: each round is one equality join (edges ⋈ ranks on the
    * source id) + one shuffle-on-destination sum — the standard distributed
    * PageRank step, partitioned by node id throughout; no step is
    * node-count- or edge-count-quadratic and the driver holds only loop
    * control ([[RoundLoop]]). The final top-k is `orderBy.limit` →
    * TakeOrderedAndProject, not a global sort. On a real cluster the edge
    * frame would be pre-partitioned by source so every round's join is
    * exchange-free on the edge side. */
  def pageRank(edges: DataFrame, src: String, dst: String,
      iters: Int = 3, dampingPct: Int = 85, topK: Int = 20): DataFrame = {
    require(iters >= 1 && iters <= 100,
      s"pageRank: iters must be in [1, 100], got $iters")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"pageRank: dampingPct must be in [0, 100], got $dampingPct")
    require(topK >= 1, s"pageRank: topK must be >= 1, got $topK")
    rankWalk(edges, src, dst, None, iters, dampingPct, topK)
  }

  /** The integer-mass walk behind [[pageRank]] (`sources` = None: the
    * (1−d) teleport mass spreads over every node) and
    * [[personalizedPageRank]] (it goes to the sources only). Returns the
    * top-`topK` (node, rank_fp) rows. */
  private def rankWalk(edges: DataFrame, src: String, dst: String,
      sources: Option[Seq[String]], iters: Int, dampingPct: Int,
      topK: Int): DataFrame = {
    import edges.sparkSession.implicits._
    val und = undirected(ab(edges, src, dst), _.distinct())
    // Every node appears as a source in the symmetrized set, so the degree
    // frame doubles as the node list. Checkpointed: read every round.
    val deg = und.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    // N is a driver long (one count over the materialized checkpoint): the
    // per-round teleport term is a LITERAL (same floor division — Scala
    // Long `/` on non-negatives ≡ SQL `div`), and the node-bounded
    // ranks/sums frames broadcast when N is under the ceiling.
    val loop = sized(deg)
    val mass = sources.fold(loop.rows)(_.size.toLong)
    val (initR, baseR) = if (mass == 0) (0L, 0L)
      else (Scale / mass, (100L - dampingPct) * Scale / 100L / mass)
    val srcSet = sources.map(s => broadcast(s.toDF("snode")))
    // A node's teleport share `perNode`: every node's, or the sources' only.
    def teleport(df: DataFrame, perNode: Long): (DataFrame, Column) =
      srcSet.fold((df, lit(perNode))) { ss =>
        (df.join(ss, deg("node") === col("snode"), "left"),
          when(col("snode").isNotNull, lit(perNode)).otherwise(lit(0L)))
      }
    val (d0, r0) = teleport(deg, initR)
    val init = loop.keep(d0.select(col("node"), col("deg"), r0.as("r")))
    val ranks = loop.iterate(init, iters) { (ranks, _) =>
      val rk = loop.bc(ranks)
      val sums = und.join(rk, und("a") === rk("node"))
        .select(und("b").as("dst_"), expr("r div deg").as("c"))
        .groupBy(col("dst_")).agg(sum(col("c")).as("sc"))
      val (d, base) = teleport(
        deg.join(loop.bc(sums), deg("node") === sums("dst_")), baseR)
      d.select(deg("node"), deg("deg"),
        (base + expr(s"(${dampingPct}L * sc) div 100")).as("r"))
    }(_ => false)
    loop.release(und, deg)
    ranks.select(col("node"), col("r").as("rank_fp"))
      .orderBy(col("rank_fp").desc, col("node"))
      .limit(topK)
  }

  /** Exact triangle count via the degree-ordered "forward" algorithm
    * (Schank & Wagner 2005; the standard distributed formulation). Edges
    * are symmetrized + deduplicated, then ORIENTED from the lower
    * (degree, id) endpoint to the higher — every triangle survives as
    * exactly one directed wedge a→b→c with the closing edge a→c, so one
    * wedge self-join + one closing semi-join counts each triangle once.
    *
    * Scale shape: orientation is THE point — wedge fan-out per node is
    * bounded by its oriented out-degree, which the (degree, id) order
    * caps at O(√edges) even for hub nodes (a plain self-join on the
    * symmetric edge set would square the hub degree). Both joins are
    * equality joins on node ids; counts are exact longs, so the result is
    * partitioning-independent and hash-gateable. Returns one row:
    * (n_nodes, n_edges, n_triangles). */
  def triangleCount(edges: DataFrame, src: String, dst: String): DataFrame = {
    val und = undirected(ab(edges, src, dst).filter(col("a") =!= col("b")),
      _.distinct())
    // Node-bounded frames (deg, the oriented edge list) broadcast into the
    // orientation/wedge/closing joins when the driver-measured edge count
    // is under the ceiling (r22, guide §2.4/§3.1): the whole enumeration
    // then runs map-side over the checkpoint scans — the only exchange
    // left is deg's own groupBy. Counts are unchanged either way.
    val loop = sized(und)
    val deg = und.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
    // Orient each undirected edge once: keep (a, b) iff (deg(a), a) <
    // (deg(b), b). und holds both directions, so exactly one survives.
    val withDeg = und
      .join(loop.bc(deg.withColumnRenamed("node", "a_")),
        col("a") === col("a_"))
      .withColumnRenamed("deg", "da")
      .join(loop.bc(deg.withColumnRenamed("node", "b_")
        .withColumnRenamed("deg", "db")),
        col("b") === col("b_"))
    val oriented = withDeg
      .filter(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")))
      .select(col("a"), col("b"))
      .localCheckpoint()
    val wedges = oriented.as("e1")
      .join(loop.bc(oriented.as("e2")), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("wa"), col("e2.b").as("wc"))
    val tri = wedges.join(loop.bc(oriented),
      col("wa") === col("a") && col("wc") === col("b"), "left_semi")
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val nEdges = oriented.agg(count(lit(1)).as("n_edges"))
    val nTri = tri.agg(count(lit(1)).as("n_triangles"))
    val out = nNodes.crossJoin(nEdges).crossJoin(nTri)
    out
  }

  /** The customer–supplier co-transaction graph: an (undirected, after
    * [[pageRank]]'s symmetrization) edge per distinct (customer, supplier)
    * pair that shares at least one order line. Ids are prefixed (`c:` /
    * `s:`) into one namespace.
    *
    * `cutoff` bounds the graph to orders before that date. The synthetic
    * fixture is near-uniformly random, so the unfiltered co-occurrence
    * graph densifies toward complete-bipartite as SF grows — a data
    * artifact, not a workload property (real interaction graphs are
    * sparse); the date slice keeps the gated query graph-shaped at every
    * SF while the operator itself takes any edge frame. */
  private[graft] def custSuppEdges(s: SparkSession, d: String,
      cutoff: String = "1995-03-01"): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderdate") < lit(cutoff).cast("timestamp"))
      .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("c:"), col("o_custkey")).as("src"),
        concat(lit("s:"), col("l_suppkey")).as("dst"))

  /** Supplier co-supply graph: an edge per distinct supplier pair sharing
    * at least one part (the cust–supp graph is bipartite and so
    * triangle-free by construction; this one is not). `partMod` samples
    * the linking parts — same densification caveat as [[custSuppEdges]]:
    * the unfiltered fixture graph is complete (every supplier pair shares
    * SOME part at sf ≥ 0.01), which is the degenerate worst case for any
    * triangle algorithm, not a realistic co-occurrence topology. */
  private[graft] def suppPartEdges(s: SparkSession, d: String,
      partMod: Int = 200): DataFrame = {
    val ps = Tables.lineitem(s, d)
      .filter(col("l_partkey") % partMod === 0)
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      .distinct()
    ps.join(ps.withColumnRenamed("sk", "sk2"), "pk")
      .filter(col("sk") < col("sk2"))
      .select(col("sk").as("src"), col("sk2").as("dst"))
      .distinct()
  }

  /** Single-source BFS shortest paths (unweighted, undirected): one row
    * per node reachable from `sourceNode` within `maxDepth` hops, with its
    * hop distance. The third member of the iterative-dataflow family
    * ([[Dedup.connectedComponents]], [[pageRank]]): per-level frontier
    * expansion, the textbook distributed BFS.
    *
    * Scale shape: each round is ONE equality join (frontier ⋈ edges on the
    * node id) + ONE anti-join against the settled set — both partitioned
    * by node id, nothing quadratic, and the frontier-empty early exit
    * bounds rounds at min(eccentricity, maxDepth). The driver holds loop
    * control ([[RoundLoop]]) and one count per round. Distances are small
    * exact ints — the gate replays the level semantics via DuckDB's
    * recursive CTE (min over walk lengths ≡ BFS level). */
  def shortestPaths(edges: DataFrame, src: String, dst: String,
      sourceNode: String, maxDepth: Int = 6): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 64,
      s"shortestPaths: maxDepth must be in [1, 64], got $maxDepth")
    import edges.sparkSession.implicits._
    val und = undirected(ab(edges, src, dst), _.distinct())
    // Every node appears as a source in the symmetrized set, so the
    // frontier and settled frames are bounded by |und| rows.
    val loop = sized(und)
    val start = loop.keep(Seq((sourceNode, 0)).toDF("node", "dist"))
    val (settled, _, _) = expandLevels(und, loop, start, maxDepth)
    loop.release(und)
    settled
  }

  /** Level expansion, shared by [[shortestPaths]] and the [[bridges]] BFS:
    * from the materialized `(node, dist = 0)` frame `start`, each round
    * joins the frontier to `und`, drops nodes already settled and keeps
    * the rest at the round's depth, until a frontier is empty or
    * `maxRounds` rounds ran. Under the ceiling the expansion join and the
    * settled anti-join run map-side, leaving ONE exchange per level (the
    * distinct).
    *
    * The settled set is a LAZY union of the per-level frontiers (r21):
    * re-checkpointing the merged frame every level copied O(V) rows per
    * level — O(V·depth²) checkpoint writes for identical content (guide
    * §2.4). Every frontier is a leaf of it. Returns the settled set, the
    * frontiers (newest first, `start` last) and the rounds run. */
  private def expandLevels(und: DataFrame, loop: RoundLoop, start: DataFrame,
      maxRounds: Int): (DataFrame, List[DataFrame], Int) = {
    var settled = start
    var frontiers = List(start)
    val rounds = loop.run(maxRounds) { depth =>
      val f = loop.bc(frontiers.head.select(col("node")))
      val next = loop.keep(und.join(f, und("a") === f("node"))
        .select(und("b").as("node")).distinct()
        .join(loop.bc(settled.select(col("node"))), Seq("node"), "left_anti")
        .select(col("node"), lit(depth).as("dist")))
      settled = settled.union(next)
      frontiers ::= next
      next
    }(_.count() == 0)
    (settled, frontiers, rounds)
  }

  /** k-core: the maximal subgraph in which every node has degree ≥ `k` —
    * the standard peel: drop all nodes with current degree < k, recompute
    * degrees over survivors, repeat to fixpoint. The result is
    * ORDER-INDEPENDENT (the k-core is unique whatever the peel schedule),
    * so the gate needs no tie-breaking at all; `maxRounds` caps the loop
    * identically in both engines, and because peeling is monotone
    * (survivor sets only shrink, and a reached fixpoint is invariant
    * under further rounds), Spark's early exit at the fixpoint equals the
    * oracle's fixed unrolling whenever convergence lands inside the cap.
    *
    * Scale shape: each round is two equality semi-joins (both edge
    * endpoints against the shrinking survivor set) + one degree count —
    * all partitioned by node id, nothing quadratic; rounds are bounded by
    * the degeneracy peel depth (typically ≪ node count; `maxRounds` is
    * the hard cap). Survivors go through the [[RoundLoop]]. Output:
    * (node, core_degree), the node's degree WITHIN the core. */
  def kCore(edges: DataFrame, src: String, dst: String, k: Int,
      maxRounds: Int = 8): DataFrame = {
    require(k >= 1, s"kCore: k must be >= 1, got $k")
    require(maxRounds >= 1 && maxRounds <= 64,
      s"kCore: maxRounds must be in [1, 64], got $maxRounds")
    val und = undirected(ab(edges, src, dst).filter(col("a") =!= col("b")),
      _.distinct())
    // The survivor set is node-bounded (≤ |und| — every node occurs as a
    // source): under the ceiling each round keeps only its degree-count
    // exchange.
    val loop = sized(und)
    def scoped(alive: DataFrame): DataFrame =
      und.join(loop.bc(alive.withColumnRenamed("node", "a")),
          Seq("a"), "left_semi")
        .join(loop.bc(alive.withColumnRenamed("node", "b")),
          Seq("b"), "left_semi")
    def survivors(in: DataFrame): DataFrame =
      in.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("node"))
    val alive0 = loop.keep(survivors(und))
    var n = alive0.count()
    val alive = loop.iterate(alive0, if (n == 0) 0 else maxRounds - 1) {
      (alive, _) => survivors(scoped(alive))
    } { next =>
      // The survivor set only shrinks, so equal counts ⇒ equal sets.
      val prev = n
      n = next.count()
      n == prev || n == 0
    }
    // und and alive are leaves of the returned plan (see RoundLoop).
    scoped(alive)
      .groupBy(col("a").as("node")).agg(count(lit(1)).as("core_degree"))
  }

  /** Deterministic synchronous label propagation (community detection,
    * Raghavan et al. 2007 made reproducible): every node starts labeled
    * with its own id; each round, every node adopts the most frequent
    * label among its neighbors' PREVIOUS-round labels, ties broken to the
    * smallest label. The async/random-order variants of LPA are
    * notoriously run-dependent — the synchronous update + total-order
    * tie-break makes round t a pure function of the input edge set, so
    * the DuckDB oracle replays every round exactly.
    *
    * Scale shape ([[RoundLoop]]): one equality join + one (node,
    * label)-bounded vote aggregate + one argmax collapse per round, all
    * keyed on node ids. The argmax is `min(struct(-cnt, lbl))` — a plain
    * mergeable aggregate, never a per-node sort. Output: (node, lbl)
    * after `rounds` rounds. */
  def labelPropagation(edges: DataFrame, src: String, dst: String,
      rounds: Int = 3): DataFrame = {
    require(rounds >= 1 && rounds <= 16,
      s"labelPropagation: rounds must be in [1, 16], got $rounds")
    val und = undirected(ab(edges, src, dst).filter(col("a") =!= col("b")),
      _.distinct())
    // Symmetry ⇒ every node occurs as a source, so the initial label
    // frame is also the node list; no node can lose its vote row later.
    // Labels are node-bounded (≤ |und|).
    val loop = sized(und)
    val init = loop.keep(und.select(col("a").as("node")).distinct()
      .withColumn("lbl", col("node")))
    val labels = loop.iterate(init, rounds) { (labels, _) =>
      val lbf = loop.bc(labels)
      und.join(lbf, und("a") === lbf("node"))
        .groupBy(und("b").as("node2"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("node2").as("node"))
        .agg(min(struct((-col("cnt")).as("nc"), col("lbl").as("l"))).as("m"))
        .select(col("node"), col("m.l").as("lbl"))
    }(_ => false)
    loop.release(und)
    labels
  }

  /** Two-layer neighborhood feature aggregation — the message-passing
    * primitive GNN feature pipelines run at scale (GraphSAGE/GCN style,
    * sum aggregator, WITH repetition — layer 2 aggregates the neighbors'
    * layer-1 aggregates, not the distinct 2-hop set, which is what makes
    * each layer ONE equality join + one keyed sum instead of a transitive
    * closure). Output per node: featured-neighbor count, 1-hop feature
    * sum, 2-hop sum.
    *
    * `deg` counts neighbors that HAVE a feature row (the layers join
    * features inner), not the node's raw degree — with total feature
    * coverage the two coincide; with partial coverage a node whose
    * neighbors all lack features is absent from the output, exactly as
    * a sum-aggregator GNN layer would drop it. Callers needing raw
    * degree should ensure feature coverage is total (as q177 does by
    * unioning both node families).
    *
    * Features ride as DECIMAL(14,2): layer sums stay exact under any
    * join/aggregation order, so the gate needs no FP tolerance at all.
    * Scale shape: symmetrized distinct edge list checkpointed once; each
    * layer shuffles on the node id only (the feature column is the only
    * payload); hub fan-out is bounded by the edge list itself — the same
    * cost PageRank's rank propagation pays per round. */
  def neighborhoodAgg(edges: DataFrame, src: String, dst: String,
      features: DataFrame, nodeCol: String, featCol: String): DataFrame = {
    val e = edges.select(col(src).as("a"), col(dst).as("b"))
    val und = e.unionAll(e.select(col("b"), col("a")))
      .distinct().localCheckpoint()
    val f = features.select(col(nodeCol).as("n"),
      col(featCol).cast("decimal(14,2)").as("f"))
    // Layer sums pinned to DECIMAL(38,2): Spark widens sum(DECIMAL(14,2))
    // to (24,2) and sum of that to (34,2) while DuckDB widens straight to
    // (38,2) — the driver's oracle hash is type-sensitive.
    val h1 = und.join(f, col("b") === col("n"))
      .groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("deg"),
        sum(col("f")).cast("decimal(38,2)").as("h1"))
      .localCheckpoint()
    val h2 = und.join(h1.select(col("node").as("b2"), col("h1").as("nh1")),
        col("b") === col("b2"))
      .groupBy(col("a").as("node"))
      .agg(sum(col("nh1")).cast("decimal(38,2)").as("h2"))
    h1.join(h2, "node")
      .select(col("node"), col("deg"), col("h1"), col("h2"))
  }

  private val q177: Q = (s, d) => {
    val feats = Tables.customer(s, d)
      .select(concat(lit("c:"), col("c_custkey")).as("n"),
        col("c_acctbal").as("f"))
      .unionAll(Tables.supplier(s, d)
        .select(concat(lit("s:"), col("s_suppkey")), col("s_acctbal")))
    DriverOutput.noDecimals(
      neighborhoodAgg(custSuppEdges(s, d), "src", "dst", feats, "n", "f")
        .orderBy(col("node")))
  }

  private val q110: Q = (s, d) =>
    pageRank(custSuppEdges(s, d), "src", "dst")

  private val q111: Q = (s, d) =>
    triangleCount(suppPartEdges(s, d), "src", "dst")

  private val q139: Q = (s, d) =>
    shortestPaths(custSuppEdges(s, d), "src", "dst", "c:28")
      .orderBy(col("dist"), col("node"))

  private val q156: Q = (s, d) =>
    kCore(custSuppEdges(s, d), "src", "dst", k = 4)
      .orderBy(col("node"))

  private val q161: Q = (s, d) =>
    labelPropagation(custSuppEdges(s, d), "src", "dst")
      .orderBy(col("node"))

  /** Common-neighbor link prediction with the Resource-Allocation index
    * (Zhou/Lü/Zhang 2009) — the "who should connect next" primitive
    * behind people-you-may-know and related-item candidates: for every
    * non-edge pair (u, v), count shared neighbors and sum each shared
    * neighbor's 1/degree, degree-discounting hub centers (a wedge
    * through a 10⁶-degree hub says ~nothing; through a 3-degree node,
    * a lot). The RA weight rides as the exact integer
    * `1_000_000 div deg` (micro-units) — engines disagree on nothing.
    *
    * Scale hazard + valve: a center contributes pairs among its WHOLE
    * neighborhood — deg² blowup on exactly the hubs RA down-weights. So
    * each center's pair fan-out is capped FIRST to its `m` smallest
    * neighbor ids (the q165 cap-before-pairing discipline: a map-side
    * WindowGroupLimit prune BEFORE the self-join, ≤ m²/2 pairs per
    * center). Final cut is a deterministic TakeOrderedAndProject under
    * the (score DESC, u, v) total order; existing edges leave via one
    * anti-join.
    *
    * The `capped` audit flag (round 18, r17 ADVICE): `capped = false`
    * GUARANTEES the pair's score is complete. The r17 form carried the
    * flag only on pairs a capped center actually PRODUCED — a pair whose
    * wedge through a capped center was entirely pruned (both endpoints
    * outside that center's kept list) but which survived via an uncapped
    * center reported false despite an undercounted score. The flag is
    * now derived from adjacency: true iff EITHER endpoint neighbors ≥ 1
    * capped center (a deliberate over-approximation — every pruned wedge
    * through a capped center c has both endpoints in N(c), so any
    * undercounted pair is flagged; a flagged pair may still be complete).
    * Cost: one linear capped-neighbor pass over `und`, joined to the
    * k-bounded top frame — no pair-stage change. */
  def linkPrediction(edges: DataFrame, src: String, dst: String,
      m: Int = 8, topK: Int = 20): DataFrame = {
    require(m >= 2 && topK >= 1,
      s"linkPrediction: need m >= 2 and topK >= 1, got ($m, $topK)")
    val e0 = edges.select(col(src).as("a"), col(dst).as("b"))
      .filter(col("a") =!= col("b"))
    val und = e0.union(e0.select(col("b").as("a"), col("a").as("b")))
      .distinct().localCheckpoint()
    val deg = und.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
    val wN = Window.partitionBy(col("a")).orderBy(col("b"))
    val capped = und
      .withColumn("_rk", row_number().over(wN))
      .join(deg.withColumnRenamed("node", "a"), "a")
      .filter(col("_rk") <= m)
    val pairs = capped.as("x").join(capped.as("y"),
        col("x.a") === col("y.a") && col("x.b") < col("y.b"))
      .select(col("x.b").as("u"), col("y.b").as("v"),
        col("x.deg").as("_cdeg"))
    val scored = pairs.groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(expr("1000000L div _cdeg")).as("ra_micro"))
    val top = scored.join(und.select(col("a").as("u"), col("b").as("v")),
        Seq("u", "v"), "left_anti")
      .orderBy(col("ra_micro").desc, col("u"), col("v"))
      .limit(topK)
    // Nodes adjacent to >= 1 capped (deg > m) center: a pruned wedge
    // through capped c has both endpoints in N(c), so flagging every
    // top-k endpoint with a capped neighbor covers every possible
    // undercount (scaladoc). und is symmetric, so "b's center a is
    // capped" read off rows (a, b) gives exactly N(capped centers).
    val cappedNbr = und
      .join(deg.filter(col("deg") > m).select(col("node").as("a")), "a")
      .select(col("b").as("node")).distinct()
    top
      .join(cappedNbr.select(col("node").as("u"), lit(true).as("_cu")),
        Seq("u"), "left")
      .join(cappedNbr.select(col("node").as("v"), lit(true).as("_cv")),
        Seq("v"), "left")
      .select(col("u"), col("v"), col("common_neighbors"), col("ra_micro"),
        (coalesce(col("_cu"), lit(false)) ||
          coalesce(col("_cv"), lit(false))).as("capped"))
      .orderBy(col("ra_micro").desc, col("u"), col("v"))
  }

  private val q245: Q = (s, d) =>
    linkPrediction(custSuppEdges(s, d), "src", "dst")

  /** HITS hubs & authorities (Kleinberg 1999, round 18) — the DIRECTED
    * dual-score ranking next to [[pageRank]]'s single score: a good HUB
    * points at good authorities, a good AUTHORITY is pointed at by good
    * hubs. On the customer→supplier purchase graph that reads
    * "diversified high-volume buyers" vs "widely-bought suppliers" —
    * the two sides of the same influence question, which is why the
    * output carries both top-k lists under one `role` column.
    *
    * Determinism is [[pageRank]]'s fixed-point discipline with L∞ (max)
    * normalization instead of a damping term: scores live in exact
    * `Scale` units, each half-iteration is an exact DECIMAL(38,0) sum
    * over in/out-neighbors followed by ONE integer floor-division
    * normalization (score·Scale div max — all positive, so Spark's
    * decimal `div` and DuckDB's `//` agree), so there is no float
    * anywhere and the oracle replays the iterations unrolled. L∞, not
    * L2: the usual L2 normalization is a cross-node float sum (order-
    * dependent) — exactly what the fixed-point discipline exists to
    * avoid; the ranking is normalization-invariant anyway.
    *
    * Scale shape: per iteration, two edge-keyed joins against the
    * (node, score) frames and two keyed aggregates with map-side
    * partials; the max is a 1-row broadcast. Rounds run through the
    * [[RoundLoop]]. Final cut: TakeOrderedAndProject per role, k-bounded
    * union. */
  def hits(edges: DataFrame, src: String, dst: String, iters: Int = 3,
      topK: Int = 20): DataFrame = {
    require(iters >= 1 && iters <= 20,
      s"hits: iters must be in [1, 20], got $iters")
    require(topK >= 1, s"hits: topK must be >= 1, got $topK")
    val e = ab(edges, src, dst).distinct().localCheckpoint()
    // Score frames are node-bounded (≤ |e| rows each): under the ceiling
    // each half-iteration keeps only its keyed-sum exchange.
    val loop = sized(e)
    // One half-iteration: sum the `by`-side scores onto the `to` side over
    // e, then L∞-normalize to Scale units as column `out`. The authority
    // half (by a, to b) and the hub half (by b, to a) are mirror images.
    def half(score: DataFrame, by: String, to: String, out: String) = {
      val s = e.join(loop.bc(score), by).groupBy(col(to))
        .agg(sum(col(score.columns(1)).cast("decimal(38,0)")).as("_s"))
      s.crossJoin(broadcast(s.agg(max(col("_s")).as("_m"))))
        .select(col(to), expr(s"cast((_s * ${Scale}L) div _m as bigint)").as(out))
    }
    val hub0 = loop.keep(e.select(col("a")).distinct()
      .select(col("a"), lit(Scale).as("h")))
    var authOpt: Option[DataFrame] = None
    val hub = loop.iterate(hub0, iters) { (hub, _) =>
      val au = loop.keep(half(hub, "a", "b", "au"))
      authOpt.foreach(loop.release(_))
      authOpt = Some(au)
      half(au, "b", "a", "h")
    }(_ => false)
    val auth = authOpt.get
    // The result reads only the final auth/hub checkpoints — the edge
    // checkpoint is not a leaf of the returned plan.
    loop.release(e)
    val topAuth = auth
      .select(lit("authority").as("role"), col("b").as("node"),
        col("au").as("score_fp"))
      .orderBy(col("score_fp").desc, col("node")).limit(topK)
    val topHubs = hub
      .select(lit("hub").as("role"), col("a").as("node"),
        col("h").as("score_fp"))
      .orderBy(col("score_fp").desc, col("node")).limit(topK)
    topAuth.unionAll(topHubs)
      .orderBy(col("role"), col("score_fp").desc, col("node"))
  }

  private val q259: Q = (s, d) =>
    hits(custSuppEdges(s, d), "src", "dst")

  // ------------------------------------- weighted shortest paths (SSSP) --

  /** Weighted single-source shortest paths — Bellman-Ford with frontier
    * relaxation (round 19, VERDICT r18 item 3): the weighted sibling of
    * [[shortestPaths]] (q139 is the w≡1 case) and the last classic
    * missing from the graph family. One row per node reachable within
    * `maxRounds` edges, with the exact minimum path cost.
    *
    * Semantics under the round cap: after R rounds the frame holds
    * min-cost over walks of ≤ R EDGES (the textbook Bellman-Ford
    * invariant) — the oracle replays exactly that as a bounded
    * recursive-CTE min-cost walk, so the two agree even when the cap
    * bites before convergence; when the frontier empties earlier, no
    * longer walk can improve and both readings equal true SSSP.
    *
    * Determinism: weights are exact non-negative integers (required —
    * negative edges would make "distance" cap-relative), costs are exact
    * long sums, and min is order-free. No float anywhere.
    *
    * Scale shape: each round is ONE equality join (frontier ⋈ edges on
    * the node id, both sides partitioned by it) + ONE keyed min
    * aggregate (map-side partials) + ONE improvement left-join against
    * the settled frame — nothing quadratic; the frontier-empty early
    * exit bounds rounds at min(weighted eccentricity hops, maxRounds).
    * Frontier relaxation, not whole-frame: only nodes whose distance
    * IMPROVED this round can improve a neighbor next round, so the
    * per-round join input shrinks toward convergence instead of staying
    * corpus-sized (the standard delta-stepping-lite optimization).
    * Driver holds loop control ([[RoundLoop]]) + one count per round. */
  def sssp(edges: DataFrame, src: String, dst: String, wCol: String,
      sourceNode: String, maxRounds: Int = 6): DataFrame = {
    require(maxRounds >= 1 && maxRounds <= 64,
      s"sssp: maxRounds must be in [1, 64], got $maxRounds")
    import edges.sparkSession.implicits._
    // Undirected: symmetrize, then keep the MIN weight per directed pair
    // (parallel edges can only help via their cheapest member).
    val und = undirected(
      edges.select(col(src).as("a"), col(dst).as("b"),
        col(wCol).cast("long").as("w")),
      _.groupBy(col("a"), col("b")).agg(min(col("w")).as("w")))
    // The frontier and the settled distance frame are node-bounded
    // (≤ |und| — symmetry puts every node in the source column): under the
    // ceiling each round keeps two exchanges (the keyed min aggregates).
    val loop = sized(und)
    var frontier = loop.keep(Seq((sourceNode, 0L)).toDF("node", "dist"))
    val dist = loop.iterate(frontier, maxRounds) { (dist, _) =>
      val f = loop.bc(frontier)
      val cand = und.join(f, und("a") === f("node"))
        .select(und("b").as("node"), (f("dist") + und("w")).as("d"))
        .groupBy(col("node")).agg(min(col("d")).as("d"))
      val improved = loop.keep(cand.join(loop.bc(dist), Seq("node"), "left")
        .filter(col("dist").isNull || col("d") < col("dist"))
        .select(col("node"), col("d").as("dist")))
      // Round 1's frontier IS dist, which the merge below still reads.
      if (frontier ne dist) loop.release(frontier)
      frontier = improved
      // improved rows strictly beat their settled entries, so the merge
      // is a keyed min over the union — ONE aggregate, no outer join.
      dist.union(improved).groupBy(col("node")).agg(min(col("dist")).as("dist"))
    }(_ => frontier.count() == 0)
    // The last round's (possibly empty) improved frame is not part of the
    // returned plan.
    loop.release(frontier, und)
    dist
  }

  /** Weighted cust–supp purchase edges for [[sssp]]: one edge per
    * (customer, supplier) pair linked by a pre-cutoff order (the
    * [[custSuppEdges]] densification slice), weight
    * 1 + (min(l_quantity) mod 5) ∈ [1, 5]. Coarse ON PURPOSE: the
    * oracle's bounded min-cost-walk CTE dedups on (node, cost, round)
    * states, and a [1, 5] weight range bounds 6-round path costs at 30,
    * keeping the oracle's state space nodes×30×6 at any SF (raw 1..50
    * quantities would 10× it). min() is exact; quantities are integral
    * by fixture construction; mod operands non-negative, so Spark `%`
    * and DuckDB `%` agree. */
  private[graft] def custSuppWeightedEdges(s: SparkSession, d: String,
      cutoff: String = "1995-03-01"): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderdate") < lit(cutoff).cast("timestamp"))
      .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(concat(lit("c:"), col("o_custkey")).as("src"),
        concat(lit("s:"), col("l_suppkey")).as("dst"))
      .agg((lit(1L) + min(col("l_quantity")).cast("long") % 5L).as("w"))

  private val q267: Q = (s, d) =>
    sssp(custSuppWeightedEdges(s, d), "src", "dst", "w", "c:28")
      .orderBy(col("node"))

  // ----------------------------------- degree distribution + tail index --

  /** Degree distribution + Hill/MLE power-law tail index (round 19) —
    * the first question asked of any interaction graph before running
    * the iterative family on it: is this scale-free (hubs dominate —
    * PageRank/HITS ranks mean something, skew valves are load-bearing)
    * or near-regular (they don't)? Emits the (degree, node-count)
    * spectrum with the CCDF, plus the discrete-MLE tail exponent
    * α = 1 + n_tail / Σ nᵢ·ln(dᵢ/(dmin − ½)) (Clauset–Shalizi–Newman's
    * discrete approximation) for nodes with degree ≥ `dmin`.
    *
    * Determinism: degrees and counts are exact; each ln term is
    * 9-dp pre-rounded into an exact DECIMAL sum (the q209/q123 libm
    * discipline — order-free, last-ulp ln differences absorbed), and α
    * is ONE pinned chain over (n_tail, Σterms), round(6). An empty tail
    * (all degrees < dmin) → NULL α.
    *
    * Shape: one symmetrize+distinct, ONE node-keyed degree count
    * (map-side partials), then everything — the spectrum, the CCDF
    * window, the tail fold — lives on the ≤ |distinct degrees| frame
    * (single-partition by construction, bounded). */
  def degreeDistribution(edges: DataFrame, src: String, dst: String,
      dmin: Int = 2): DataFrame = {
    require(dmin >= 1, s"degreeDistribution: dmin must be >= 1, got $dmin")
    val e0 = edges.select(col(src).as("a"), col(dst).as("b")).distinct()
    val und = e0.union(e0.select(col("b").as("a"), col("a").as("b")))
      .distinct()
    val dist = und.groupBy(col("a")).agg(count(lit(1)).as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("n_nodes"))
      .localCheckpoint()
    val tot = dist.agg(sum(col("n_nodes")).as("_nt"))
    val tail = dist.filter(col("d") >= dmin)
      .select(col("n_nodes"), expr(s"""
        cast(round(n_nodes * ln(cast(d as double) / ($dmin - 0.5)), 9)
             as decimal(28,9))""").as("_lt"))
      .agg(coalesce(sum(col("n_nodes")), lit(0L)).as("_ntail"),
        sum(col("_lt")).as("_slt"))
    val w = Window.orderBy(col("d").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dist.withColumn("_cum", sum(col("n_nodes")).over(w))
      .crossJoin(broadcast(tot)).crossJoin(broadcast(tail))
      .select(col("d").as("degree"), col("n_nodes"),
        round(expr("cast(_cum as double) / _nt"), 6).as("ccdf"),
        round(expr(
          "case when _slt > 0 then 1.0 + _ntail / cast(_slt as double) end"),
          6).as("alpha"))
      .orderBy(col("degree"))
  }

  private val q275: Q = (s, d) =>
    degreeDistribution(custSuppEdges(s, d), "src", "dst")

  // ------------------------------------- personalized PageRank (RWR) --

  /** Personalized PageRank / random-walk-with-restart (round 20, VERDICT
    * r19 item 5c) — the feature behind related-entity retrieval: q110
    * ranks GLOBAL importance; this ranks importance RELATIVE TO a source
    * set by teleporting the (1−d) restart mass to the sources instead of
    * uniformly. Same integer-mass discipline as [[pageRank]] (exact
    * longs in `Scale` units, `div`-floored splits — summation-order-
    * invariant, so cluster-reproducible AND hash-gateable), same
    * per-round shape: one equality join + one shuffle-on-destination
    * exact sum — the one [[rankWalk]] implementation.
    *
    * Init: `Scale div |S|` on each source, 0 elsewhere; update:
    * r' = [node ∈ S] · ((1−d)·Scale div |S|) + d·Σ r(u) div deg(u).
    * Unreached nodes hold rank 0 and are emitted only if they crack the
    * top-k (they don't — sources and their neighborhoods dominate,
    * which is the point of the operator). Mass that walks off is NOT
    * renormalized — the standard RWR formulation; ranks are comparable
    * within one query, which is all retrieval needs. */
  def personalizedPageRank(edges: DataFrame, src: String, dst: String,
      sources: Seq[String], iters: Int = 3, dampingPct: Int = 85,
      topK: Int = 20): DataFrame = {
    require(sources.nonEmpty, "personalizedPageRank: sources must be non-empty")
    // A duplicated source would fan out the srcSet joins (duplicate rank
    // rows per node each iteration) and mis-split the teleport mass
    // (ADVICE r20): refuse loudly rather than silently mis-rank.
    require(sources.distinct.size == sources.size,
      s"personalizedPageRank: sources must be distinct, got $sources")
    require(iters >= 1 && iters <= 100,
      s"personalizedPageRank: iters must be in [1, 100], got $iters")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"personalizedPageRank: dampingPct must be in [0, 100], got $dampingPct")
    require(topK >= 1, s"personalizedPageRank: topK must be >= 1, got $topK")
    rankWalk(edges, src, dst, Some(sources), iters, dampingPct, topK)
  }

  private val q283: Q = (s, d) =>
    personalizedPageRank(custSuppEdges(s, d), "src", "dst", Seq("c:28"))

  // -------------------------------------------------------- k-truss --

  /** Fixed-round k-truss peel (round 20, VERDICT r19 item 5d's robustness
    * leg) — the EDGE-cohesion analog of [[kCore]]'s vertex peel: an edge
    * survives while it closes ≥ k−2 triangles among survivors, so the
    * 3-truss is "every edge is in a triangle" and higher k isolates the
    * cohesive cores community detection seeds from. The peel is the same
    * monotone discipline as kCore (support only shrinks), run a FIXED
    * `rounds` peels so the DuckDB oracle can unroll it exactly (a
    * converged set is a fixed point — extra rounds are no-ops — so fixed
    * rounds and converge-then-stop agree whenever the peel settles
    * within the budget, and the fixed form is what's gateable).
    *
    * Triangles are enumerated ONCE, over the initial edge set, with
    * q111's DEGREE-ORDERED forward algorithm (orient low→high
    * (degree, id), ONE wedge join + ONE closing join — orientation caps
    * wedge fan-out at O(√E) per node; the naive neighbors-of-a ⋈
    * neighbors-of-b form squared hub degrees and measured 85 s at the
    * 10× tier before this rewrite, 12× the oriented form). The peel is
    * DECREMENTAL (r21, VERDICT r20 item 5): the edge set only SHRINKS,
    * so the triangles among round-r survivors are exactly the initial
    * triangles whose three edges all survive — and a support count only
    * changes when a triangle DIES, which happens the first round one of
    * its edges is removed. Each round therefore: (1) edges dropped by
    * the `support ≥ k−2` filter join the (triangle, edge) incidence
    * frame to find newly-dead triangles (the removed set is the SMALL
    * side — AQE broadcasts it, the incidence frame never shuffles);
    * (2) the newly-dead triangles' credits decrement the surviving
    * edges' supports (again a small-side join); (3) supports that reach
    * 0 drop their row, exactly as an edge with no triangles was absent
    * from the old per-round recount. The previous form re-ran the full
    * wedge+closing enumeration every round — rounds+1 passes over the
    * quadratic-ish wedge stage for identical output; at sf0.1 the graph
    * is 41k edges / 1.46M wedges / 510k triangles, so each avoided
    * recount is ~1.5M-row work (A/B in OPTIMIZATION_r21.md). Output:
    * surviving canonical edges with their in-truss support — all exact
    * integers, byte-identical to the recount form (the oracle replays
    * the fixed-round recount).
    *
    * Scale note: the triangle frame is O(#triangles) rows, checkpointed
    * once (r22: the incidence is a lazy map-side explode over it — the
    * r21 form checkpointed the 3× exploded rows); per-round shuffle
    * volume is O(removed edges + dying triangles), which is what makes
    * the peel cheap on graphs where most edges survive (and never worse
    * than a recount when they don't) — and a round that removes NOTHING
    * is a fixed point, so the loop stops there (r22). */
  def kTruss(edges: DataFrame, src: String, dst: String, k: Int,
      rounds: Int = 3): DataFrame = {
    require(k >= 3, s"kTruss: k must be >= 3, got $k")
    require(rounds >= 1 && rounds <= 8,
      s"kTruss: rounds must be in [1, 8], got $rounds")
    val canon = edges.select(col(src).as("x"), col(dst).as("y"))
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
      .distinct()
      .localCheckpoint()
    // Edge- and node-bounded frames (deg, the oriented list, removed
    // edges, per-round decrements) broadcast into their joins when the
    // driver-measured edge count is under the ceiling (r22, guide
    // §2.4/§3.1 — makes the AQE small-side decisions deterministic and
    // runs the whole enumeration map-side over the checkpoint scans).
    val loop = sized(canon)
    val und = canon.select(col("a").as("u"), col("b").as("v"))
      .union(canon.select(col("b").as("u"), col("a").as("v")))
    val deg = und.groupBy(col("u").as("node")).agg(count(lit(1)).as("dg"))
    val o = canon
      .join(loop.bc(deg.select(col("node").as("a"), col("dg").as("da"))),
        Seq("a"))
      .join(loop.bc(deg.select(col("node").as("b"), col("dg").as("db"))),
        Seq("b"))
      .select(
        when(col("da") < col("db")
            || (col("da") === col("db") && col("a") < col("b")),
          col("a")).otherwise(col("b")).as("oa"),
        when(col("da") < col("db")
            || (col("da") === col("db") && col("a") < col("b")),
          col("b")).otherwise(col("a")).as("ob"))
      .localCheckpoint()
    // One row per triangle, tid fixed by the CHECKPOINT (r22: the r21 form
    // checkpointed the 3×-exploded (tid, edge) incidence — 3× the rows and
    // bytes for content the explode below reproduces map-side from this
    // frame on every scan; monotonically_increasing_id is only stable
    // behind a checkpoint, which is why the tid rides here).
    val tri = o.as("e1")
      .join(loop.bc(o.as("e2")), col("e1.ob") === col("e2.oa"))
      .select(col("e1.oa").as("wa"), col("e1.ob").as("wb"),
        col("e2.ob").as("wc"))
      .join(loop.bc(o), col("wa") === col("oa") && col("wc") === col("ob"))
      .select(col("wa"), col("wb"), col("wc"))
      .withColumn("tid", monotonically_increasing_id())
      .localCheckpoint()
    // (triangle, canonical edge) incidence — a lazy map-side explode over
    // the checkpointed triangle frame; the forward algorithm emits each
    // triangle exactly once.
    val te = tri
      .select(col("tid"),
        explode(array(
          struct(least(col("wa"), col("wb")).as("a"),
            greatest(col("wa"), col("wb")).as("b")),
          struct(least(col("wb"), col("wc")).as("a"),
            greatest(col("wb"), col("wc")).as("b")),
          struct(least(col("wa"), col("wc")).as("a"),
            greatest(col("wa"), col("wc")).as("b")))).as("e"))
      .select(col("tid"), col("e.a").as("a"), col("e.b").as("b"))
    loop.release(o, canon)
    // tid frames (newly-dead sets) are triangle-bounded, not edge-bounded —
    // their broadcast decision takes the measured triangle count.
    val triLoop = sized(tri)
    // sup_1: every triangle is alive — one keyed count over the incidence.
    val sup0 = loop.keep(te.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("support")))
    // Edges dropped by a round. Zero-support edges (no triangle row) belong
    // to no triangle, so dropping them kills nothing — the removed set from
    // the support frame alone is complete.
    def removed(sup: DataFrame): DataFrame =
      sup.filter(col("support") < k - 2).select(col("a"), col("b"))
    // Monotone peel at a FIXED POINT: nothing removed ⇒ no triangle dies ⇒
    // no support changes ⇒ every remaining round recomputes the identical
    // sup (the kCore early-exit argument). The probe is one scan of the
    // ≤|edges|-row support checkpoint; it replaces up to (rounds − r)·4
    // no-op per-round stages (r22, guide §1.2).
    def fixed(sup: DataFrame): Boolean = removed(sup).isEmpty
    // Dead-triangle tids accumulate as a LAZY UNION of the per-round
    // newly-dead checkpoints (newest first; one anti-join against the union
    // scans the same rows as one per prior round, in ONE stage). A triangle
    // dies the FIRST round an edge of it is removed and must decrement
    // exactly once.
    var dead: List[DataFrame] = Nil
    val sup = if (fixed(sup0)) sup0 else loop.iterate(sup0, rounds) { (sup, _) =>
      val touched = te.join(loop.bc(removed(sup)), Seq("a", "b"))
        .select(col("tid")).distinct()
      val newlyDead = triLoop.keep(dead.reverse.reduceOption(_.union(_))
        .fold(touched)(d =>
          touched.join(triLoop.bc(d), Seq("tid"), "left_anti")))
      dead ::= newlyDead
      val dec = te.join(triLoop.bc(newlyDead), Seq("tid"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("_lost"))
      sup.filter(col("support") >= k - 2)
        .join(loop.bc(dec), Seq("a", "b"), "left")
        .select(col("a"), col("b"),
          (col("support") - coalesce(col("_lost"), lit(0L))).as("support"))
        .filter(col("support") > 0)
    }(fixed)
    // The result is the final sup checkpoint alone — neither the dead
    // sets nor the triangle frame are leaves of the returned plan.
    loop.release(tri :: dead: _*)
    sup
  }

  private val q284: Q = (s, d) =>
    kTruss(suppPartEdges(s, d), "src", "dst", k = 4)
      .orderBy(col("a"), col("b"))

  // -------------------------------------------------------- bridges --

  /** Bridge (cut-edge) detection via cycle-space fingerprinting (round
    * 20, VERDICT r19 item 5d's other half) — the robustness question
    * k-core/k-truss don't answer: WHICH single edges disconnect the
    * graph (the links whose loss partitions a supply network). The
    * classic algorithm is DFS chain decomposition — inherently
    * sequential, not expressible as bounded dataflow rounds — so this
    * uses the distributed-standard cycle-space formulation
    * (Thurimella/Pritchard): build a BFS spanning forest; give every
    * NON-tree edge a deterministic 60-bit fingerprint XOR'd onto both
    * endpoints; then a tree edge's covering set is the XOR of all
    * fingerprints in the child's subtree (edges with both endpoints
    * inside cancel), and the edge is a bridge iff that XOR is 0 — a
    * non-tree edge is never a bridge (it closes a cycle with the tree
    * path). A non-bridge reads 0 only on a 2⁻⁶⁰ fingerprint collision;
    * the oracle replays the identical arithmetic, so the gate is stable
    * regardless.
    *
    * All stages are bounded dataflow rounds through the [[RoundLoop]]:
    * per-component BFS (roots = [[Dedup.connectedComponents]] min
    * labels; loop until the frontier empties, required within
    * `maxRounds`), parent = min neighbor one level up (a keyed min —
    * deterministic), ancestor closure by pointer doubling (pairs unique
    * by construction — a tree ancestor chain never repeats), ONE
    * subtree-XOR keyed aggregate, one anti-join for the
    * non-tree set. Every frame is O(V·depth) or O(E); nothing is
    * quadratic. */
  def bridges(edges: DataFrame, src: String, dst: String,
      maxRounds: Int = 24): DataFrame = {
    require(maxRounds >= 1 && maxRounds <= 64,
      s"bridges: maxRounds must be in [1, 64], got $maxRounds")
    val canon = edges.select(col(src).as("x"), col(dst).as("y"))
      .filter(col("x") =!= col("y") && col("x").isNotNull && col("y").isNotNull)
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
      .distinct()
      .localCheckpoint()
    if (canon.isEmpty) return canon.select(col("a"), col("b"))
    val und = canon.union(canon.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint()
    // Node-bounded frames (frontiers, levels, the per-node XOR values,
    // jump/closure pieces) broadcast into the per-round joins when und's
    // 2·|canon| rows are under the ceiling.
    val loop = sized(und)
    val roots = Dedup.connectedComponents(canon, "a", "b")
      .filter(col("id") === col("component"))
      .select(col("id").as("node"))
    // canon is non-empty, so there is at least one root: the expansion
    // starts from a non-empty frontier, as shortestPaths' does.
    val (levels, frontiers, rounds) = expandLevels(und, loop,
      loop.keep(roots.withColumn("dist", lit(0))), maxRounds)
    require(rounds < maxRounds || frontiers.head.count() == 0,
      s"bridges: BFS frontier still non-empty after $maxRounds rounds")
    val la = levels.select(col("node").as("a"), col("dist").as("_da"))
    val lb = levels.select(col("node").as("b"), col("dist").as("_db"))
    val parent = loop.keep(und.join(loop.bc(la), Seq("a"))
      .join(loop.bc(lb), Seq("b"))
      .filter(col("_db") === col("_da") - 1)
      .groupBy(col("a").as("v")).agg(min(col("b")).as("par")))
    // parent is materialized — und's last reader.
    loop.release(und)
    val treeCanon = parent.select(least(col("v"), col("par")).as("a"),
      greatest(col("v"), col("par")).as("b"))
    val nonTree = canon.join(treeCanon, Seq("a", "b"), "left_anti")
      .withColumn("r",
        expr(CrossHash.h60Expr("concat(a, '|', b)")))
      .localCheckpoint()
    // nonTree is materialized — canon's last reader.
    loop.release(canon)
    val vals = nonTree.select(col("a").as("v"), col("r"))
      .union(nonTree.select(col("b").as("v"), col("r")))
      .groupBy(col("v")).agg(expr("bit_xor(r)").as("xv"))
    // Ancestor-or-self closure by POINTER DOUBLING (r21, guide §1.2 "the
    // distributed algorithm"): `closure` spans ancestor distances
    // [0, span), `jump` holds the exact span-distance ancestor where one
    // exists; one round composes both through `jump`, doubling the span —
    // ⌈log₂(depth+1)⌉ joins instead of one parent hop per round. A tree
    // ancestor chain never repeats a node and each (v, ancestor) pair has a
    // unique distance, so the distance-disjoint pieces union without dedup.
    // The closure accumulates as a lazy union of the checkpointed per-round
    // SHIFTED pieces (the levels discipline); jump is replaced per round.
    var closure = loop.keep(levels.select(col("node").as("v"),
      col("node").as("t")))
    // closure and parent hold everything the BFS levels carried — the
    // frontier checkpoints' last readers.
    loop.release(frontiers: _*)
    val doublings = Iterator.iterate(1)(_ * 2).takeWhile(_ <= rounds).size
    val jump0 = loop.keep(parent.select(col("v"), col("par").as("t")))
    val jump = loop.iterate(jump0, doublings) { (jump, _) =>
      closure = closure.union(loop.keep(loop.bc(jump)
        .join(closure.select(col("v").as("t"), col("t").as("t2")), Seq("t"))
        .select(col("v"), col("t2").as("t"))))
      jump.join(loop.bc(jump.select(col("v").as("t"), col("t").as("t2"))),
          Seq("t"))
        .select(col("v"), col("t2").as("t"))
    }(_ => false)
    // The final jump frame is not part of the result.
    loop.release(jump)
    val sub = closure.join(loop.bc(vals), Seq("v"))
      .groupBy(col("t")).agg(expr("bit_xor(xv)").as("sx"))
    val sb = loop.bc(sub)
    parent.join(sb, parent("v") === sb("t"), "left")
      .filter(coalesce(col("sx"), lit(0L)) === 0L)
      .select(least(col("v"), col("par")).as("a"),
        greatest(col("v"), col("par")).as("b"))
  }

  private val q289: Q = (s, d) =>
    bridges(custSuppEdges(s, d), "src", "dst")
      .orderBy(col("a"), col("b"))

  val queries: Map[String, Q] = Map(
    "q289_bridges" -> q289,
    "q283_personalized_pagerank" -> q283,
    "q284_ktruss" -> q284,
    "q267_sssp" -> q267,
    "q275_degree_distribution" -> q275,
    "q245_link_prediction" -> q245,
    "q259_hits" -> q259,
    "q110_pagerank" -> q110,
    "q111_triangles" -> q111,
    "q139_bfs_paths" -> q139,
    "q156_kcore" -> q156,
    "q161_label_propagation" -> q161,
    "q177_neighborhood_agg" -> q177,
  )

  /** The oracle replays the integer recurrence with DuckDB's `//` floor
    * division (all values are non-negative, so it agrees with Spark's
    * truncating `div`) as one chained-CTE unrolling of the 3 rounds. */
  /** Unrolled HITS oracle: directed distinct edges, Scale-unit init on
    * the hub side, per-iteration exact HUGEINT sums + the identical
    * score·Scale // max floor normalization, per-role top-k. */
  private def hitsSql(iters: Int, topK: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""a$i AS (SELECT e.b, CAST(sum(h${i - 1}.h) AS HUGEINT) AS ar
             FROM e JOIN h${i - 1} ON e.a = h${i - 1}.a GROUP BY e.b),
      am$i AS (SELECT max(ar) AS am FROM a$i),
      au$i AS (SELECT b, CAST(ar * $Scale // am AS BIGINT) AS au
               FROM a$i, am$i),
      hh$i AS (SELECT e.a, CAST(sum(au$i.au) AS HUGEINT) AS hr
               FROM e JOIN au$i ON e.b = au$i.b GROUP BY e.a),
      hm$i AS (SELECT max(hr) AS hm FROM hh$i),
      h$i AS (SELECT a, CAST(hr * $Scale // hm AS BIGINT) AS h
              FROM hh$i, hm$i)"""
    }.mkString(",\n      ")
    s"""
      WITH e0 AS (SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS a,
                                  's:' || CAST(l_suppkey AS VARCHAR) AS b
                  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
                  WHERE o_orderdate < TIMESTAMP '1995-03-01 00:00:00'),
      e AS (SELECT a, b FROM e0),
      h0 AS (SELECT DISTINCT a, CAST($Scale AS BIGINT) AS h FROM e),
      $rounds,
      ta AS (SELECT 'authority' AS role, b AS node, au AS score_fp
             FROM au$iters ORDER BY au DESC, b LIMIT $topK),
      th AS (SELECT 'hub' AS role, a AS node, h AS score_fp
             FROM h$iters ORDER BY h DESC, a LIMIT $topK)
      SELECT role, node, score_fp
      FROM (SELECT * FROM ta UNION ALL SELECT * FROM th)
      ORDER BY role, score_fp DESC, node"""
  }

  private def pagerankSql(iters: Int, dampingPct: Int): String = {
    val baseNumer = (100L - dampingPct) * Scale / 100L
    val rounds = (1 to iters).map { i =>
      s"""m$i AS (SELECT e.b AS dst_,
                     CAST(sum(r${i - 1}.r // r${i - 1}.deg) AS BIGINT) AS sc
             FROM e JOIN r${i - 1} ON e.a = r${i - 1}.node GROUP BY e.b),
      r$i AS (SELECT deg.node, deg.deg,
                     ($baseNumer // nn) + ($dampingPct * m$i.sc) // 100 AS r
              FROM deg JOIN m$i ON deg.node = m$i.dst_ CROSS JOIN n)"""
    }.mkString(",\n      ")
    s"""
      WITH e0 AS (SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS a,
                                  's:' || CAST(l_suppkey AS VARCHAR) AS b
                  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
                  WHERE o_orderdate < TIMESTAMP '1995-03-01 00:00:00'),
      e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
      deg AS (SELECT a AS node, count(*) AS deg FROM e GROUP BY a),
      n AS (SELECT count(*) AS nn FROM deg),
      r0 AS (SELECT node, deg, $Scale // nn AS r FROM deg CROSS JOIN n),
      $rounds
      SELECT node, r AS rank_fp FROM r$iters
      ORDER BY rank_fp DESC, node LIMIT 20"""
  }

  /** The q283 oracle: [[pagerankSql]]'s unrolled integer recurrence with
    * the restart mass CASE-routed to the source set instead of uniform.
    * Same `//` floor division (all values non-negative). */
  private def pprSql(iters: Int, dampingPct: Int, source: String,
      topK: Int): String = {
    val initPerSrc = Scale // |S| = 1
    val basePerSrc = (100L - dampingPct) * Scale / 100L
    val rounds = (1 to iters).map { i =>
      s"""m$i AS (SELECT e.b AS dst_,
                     CAST(sum(r${i - 1}.r // r${i - 1}.deg) AS BIGINT) AS sc
             FROM e JOIN r${i - 1} ON e.a = r${i - 1}.node GROUP BY e.b),
      r$i AS (SELECT deg.node, deg.deg,
                     (CASE WHEN deg.node = '$source' THEN ${basePerSrc}
                           ELSE 0 END) + ($dampingPct * m$i.sc) // 100 AS r
              FROM deg JOIN m$i ON deg.node = m$i.dst_)"""
    }.mkString(",\n      ")
    s"""
      WITH e0 AS (SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS a,
                                  's:' || CAST(l_suppkey AS VARCHAR) AS b
                  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
                  WHERE o_orderdate < TIMESTAMP '1995-03-01 00:00:00'),
      e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
      deg AS (SELECT a AS node, count(*) AS deg FROM e GROUP BY a),
      r0 AS (SELECT node, deg,
                    CASE WHEN node = '$source' THEN ${initPerSrc}
                         ELSE 0 END AS r
             FROM deg),
      $rounds
      SELECT node, r AS rank_fp FROM r$iters
      ORDER BY rank_fp DESC, node LIMIT $topK"""
  }

  /** The q284 oracle: the fixed-round truss peel unrolled — each round
    * recomputes per-edge triangle support via the same common-neighbor
    * equality join and keeps support >= k-2; the final support join also
    * drops a zero-support unconverged survivor exactly as the engine's
    * output join does. */
  private def ktrussSql(k: Int, rounds: Int): String = {
    def supp(cur: String, out: String) =
      s"""u_$out AS (SELECT a AS u, b AS v FROM $cur
               UNION ALL SELECT b AS u, a AS v FROM $cur),
      $out AS (SELECT c.a, c.b, CAST(count(*) AS BIGINT) AS support
            FROM $cur c
            JOIN u_$out n1 ON n1.u = c.a
            JOIN u_$out n2 ON n2.u = c.b AND n2.v = n1.v
            GROUP BY c.a, c.b)"""
    val steps = (1 to rounds).map { i =>
      supp(s"t${i - 1}", s"s$i") +
        s""",
      t$i AS (SELECT a, b FROM s$i WHERE support >= ${k - 2})"""
    }.mkString(",\n      ")
    s"""
      WITH ps AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk
                  FROM lineitem WHERE l_partkey % 200 = 0),
      e0 AS (SELECT DISTINCT p1.sk AS a, p2.sk2 AS b
             FROM ps p1 JOIN (SELECT pk, sk AS sk2 FROM ps) p2 USING (pk)
             WHERE p1.sk < p2.sk2),
      t0 AS (SELECT a, b FROM e0),
      $steps,
      ${supp(s"t$rounds", "sf")}
      SELECT a, b, support FROM sf
      ORDER BY a, b"""
  }

  val oracles: Map[String, String] = Map(
    "q283_personalized_pagerank" -> pprSql(3, 85, "c:28", 20),
    "q284_ktruss" -> ktrussSql(4, 3),
    // Replays bridges: BFS levels from the min node (the gated graph is
    // CONNECTED at all three gate scales — reached == node-count
    // verified at sf0.001/0.01/0.1 — so the engine's per-component
    // multi-root forest degenerates to this single root), the same
    // min-neighbor parent, h60 fingerprints on non-tree edges, the
    // subtree-XOR via the recursive ancestor closure, and the zero test.
    "q289_bridges" -> s"""
      WITH RECURSIVE
      ec AS (SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS a,
                             's:' || CAST(l_suppkey AS VARCHAR) AS b
             FROM orders JOIN lineitem ON l_orderkey = o_orderkey
             WHERE o_orderdate < TIMESTAMP '1995-03-01 00:00:00'),
      e0 AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM ec),
      e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
      mn AS (SELECT min(a) AS m FROM e),
      lv0 AS (SELECT m AS node, 0 AS d FROM mn
              UNION
              SELECT e.b, lv0.d + 1 FROM lv0 JOIN e ON e.a = lv0.node
              WHERE lv0.d < 24),
      lvl AS (SELECT node, CAST(min(d) AS INT) AS d FROM lv0 GROUP BY node),
      par AS (SELECT u.a AS v, min(u.b) AS p
              FROM e u
              JOIN lvl la ON la.node = u.a
              JOIN lvl lb ON lb.node = u.b
              WHERE lb.d = la.d - 1
              GROUP BY u.a),
      tre AS (SELECT least(v, p) AS a, greatest(v, p) AS b FROM par),
      nt AS (SELECT c.a, c.b,
                    (${CrossHash.h60DuckDb("c.a || '|' || c.b")}) AS r
             FROM e0 c
             WHERE NOT EXISTS (SELECT 1 FROM tre t
                               WHERE t.a = c.a AND t.b = c.b)),
      vals AS (SELECT v, bit_xor(r) AS xv
               FROM (SELECT a AS v, r FROM nt
                     UNION ALL SELECT b AS v, r FROM nt)
               GROUP BY v),
      cl AS (SELECT node AS v, node AS t FROM lvl
             UNION
             SELECT cl.v, par.p AS t FROM cl JOIN par ON par.v = cl.t),
      sub AS (SELECT cl.t, bit_xor(vals.xv) AS sx
              FROM cl JOIN vals ON vals.v = cl.v GROUP BY cl.t)
      SELECT least(p2.v, p2.p) AS a, greatest(p2.v, p2.p) AS b
      FROM par p2 LEFT JOIN sub ON sub.t = p2.v
      WHERE coalesce(sub.sx, 0) = 0
      ORDER BY a, b""",
    // Replays degreeDistribution: symmetrized distinct degrees, the
    // degree spectrum, the descending cumulative CCDF and the identical
    // 9-dp pre-rounded ln-term tail fold + pinned alpha chain.
    "q275_degree_distribution" -> """
      WITH e0 AS (SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS a,
                                  's:' || CAST(l_suppkey AS VARCHAR) AS b
                  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
                  WHERE o_orderdate < TIMESTAMP '1995-03-01 00:00:00'),
      e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
      dist AS (SELECT d, CAST(count(*) AS BIGINT) AS n_nodes
               FROM (SELECT a, CAST(count(*) AS BIGINT) AS d
                     FROM e GROUP BY a)
               GROUP BY d),
      tot AS (SELECT CAST(sum(n_nodes) AS BIGINT) AS nt FROM dist),
      tl AS (SELECT coalesce(CAST(sum(n_nodes) AS BIGINT), 0) AS ntail,
                    CAST(sum(CAST(round(n_nodes
                           * ln(CAST(d AS DOUBLE) / 1.5), 9)
                        AS DECIMAL(28,9))) AS DECIMAL(38,9)) AS slt
             FROM dist WHERE d >= 2)
      SELECT dist.d AS degree, dist.n_nodes,
             round(CAST(sum(dist.n_nodes) OVER (ORDER BY dist.d DESC
                        ROWS UNBOUNDED PRECEDING) AS DOUBLE) / tot.nt, 6)
               AS ccdf,
             round(CASE WHEN tl.slt > 0
                   THEN 1.0 + tl.ntail / CAST(tl.slt AS DOUBLE) END, 6)
               AS alpha
      FROM dist, tot, tl ORDER BY degree""",
    // Replays sssp as the INDEPENDENT bounded min-cost-walk formulation:
    // (node, cost, round) states with UNION dedup — cost grows along a
    // walk (weights >= 1), but the round column caps recursion exactly
    // like maxRounds, and min(cost) per node over <= 6-edge walks IS the
    // 6-round Bellman-Ford frame. The [1,5] weight range (see
    // custSuppWeightedEdges) bounds states at nodes x 30 x 6.
    "q267_sssp" -> """
      WITH RECURSIVE
      e0 AS (SELECT 'c:' || CAST(o_custkey AS VARCHAR) AS a,
                    's:' || CAST(l_suppkey AS VARCHAR) AS b,
                    1 + CAST(min(l_quantity) AS BIGINT) % 5 AS w
             FROM orders JOIN lineitem ON l_orderkey = o_orderkey
             WHERE o_orderdate < TIMESTAMP '1995-03-01 00:00:00'
             GROUP BY 1, 2),
      e AS (SELECT a, b, CAST(min(w) AS BIGINT) AS w
            FROM (SELECT a, b, w FROM e0
                  UNION ALL SELECT b, a, w FROM e0)
            GROUP BY a, b),
      walk AS (
        SELECT 'c:28' AS node, CAST(0 AS BIGINT) AS d, 0 AS r
        UNION
        SELECT e.b AS node, walk.d + e.w AS d, walk.r + 1 AS r
        FROM walk JOIN e ON e.a = walk.node
        WHERE walk.r < 6)
      SELECT node, CAST(min(d) AS BIGINT) AS dist
      FROM walk GROUP BY node
      ORDER BY node""",
    // Replays linkPrediction: symmetrized distinct edges, per-center
    // neighbor cap under the (center, neighbor-id) order, integer RA
    // micro-weights, the non-edge anti-join, the (score DESC, u, v)
    // top-k, and the r18 adjacency-derived completeness flag (capped ⇔
    // either endpoint neighbors a deg > m center — see the engine
    // scaladoc).
    "q245_link_prediction" -> """
      WITH e0 AS (SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS a,
                                  's:' || CAST(l_suppkey AS VARCHAR) AS b
                  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
                  WHERE o_orderdate < TIMESTAMP '1995-03-01 00:00:00'),
      und AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
      deg AS (SELECT a, CAST(count(*) AS BIGINT) AS deg
              FROM und GROUP BY a),
      capped AS (SELECT u.a, u.b, d.deg
                 FROM (SELECT a, b, row_number() OVER (PARTITION BY a
                         ORDER BY b) AS rk
                       FROM und) u
                 JOIN deg d USING (a)
                 WHERE u.rk <= 8),
      pairs AS (SELECT x.b AS u, y.b AS v, x.deg AS cdeg
                FROM capped x JOIN capped y
                  ON x.a = y.a AND x.b < y.b),
      scored AS (SELECT u, v, CAST(count(*) AS BIGINT) AS common_neighbors,
                        CAST(sum(1000000 // cdeg) AS BIGINT) AS ra_micro
                 FROM pairs GROUP BY 1, 2),
      non_edge AS (SELECT s.* FROM scored s
                   WHERE NOT EXISTS (SELECT 1 FROM und
                                     WHERE und.a = s.u AND und.b = s.v)),
      top AS (SELECT u, v, common_neighbors, ra_micro
              FROM non_edge
              ORDER BY ra_micro DESC, u, v LIMIT 20),
      cn AS (SELECT DISTINCT und.b AS node
             FROM und JOIN deg d ON und.a = d.a
             WHERE d.deg > 8)
      SELECT t.u, t.v, t.common_neighbors, t.ra_micro,
             (cu.node IS NOT NULL OR cv.node IS NOT NULL) AS capped
      FROM top t LEFT JOIN cn cu ON cu.node = t.u
                 LEFT JOIN cn cv ON cv.node = t.v
      ORDER BY t.ra_micro DESC, t.u, t.v""",
    // Replays the two message-passing layers: symmetrized distinct edges,
    // exact decimal feature sums layer over layer.
    "q177_neighborhood_agg" -> """
      WITH e0 AS (SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS a,
                                  's:' || CAST(l_suppkey AS VARCHAR) AS b
                  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
                  WHERE o_orderdate < TIMESTAMP '1995-03-01 00:00:00'),
      und AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
      f AS (SELECT 'c:' || CAST(c_custkey AS VARCHAR) AS n,
                   CAST(c_acctbal AS DECIMAL(14,2)) AS f FROM customer
            UNION ALL
            SELECT 's:' || CAST(s_suppkey AS VARCHAR),
                   CAST(s_acctbal AS DECIMAL(14,2)) FROM supplier),
      h1 AS (SELECT und.a AS node, CAST(count(*) AS BIGINT) AS deg,
                    sum(f.f) AS h1
             FROM und JOIN f ON und.b = f.n GROUP BY und.a),
      h2 AS (SELECT und.a AS node, sum(h1.h1) AS h2
             FROM und JOIN h1 ON und.b = h1.node GROUP BY und.a)
      SELECT h1.node, h1.deg, CAST(h1.h1 AS DOUBLE) AS h1,
             CAST(h2.h2 AS DOUBLE) AS h2
      FROM h1 JOIN h2 ON h1.node = h2.node
      ORDER BY h1.node""",
    "q110_pagerank" -> pagerankSql(3, 85),
    "q259_hits" -> hitsSql(3, 20),
    // Replays BFS levels by the INDEPENDENT recursive-CTE formulation:
    // (node, walk-length) pairs with UNION dedup, min(dist) per node ≡
    // the BFS level (shortest walk = shortest path; the dist < 6 cap
    // mirrors maxDepth, and a node whose shortest distance exceeds the
    // cap is absent from both engines).
    "q139_bfs_paths" -> """
      WITH RECURSIVE
      e0 AS (SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS a,
                             's:' || CAST(l_suppkey AS VARCHAR) AS b
             FROM orders JOIN lineitem ON l_orderkey = o_orderkey
             WHERE o_orderdate < TIMESTAMP '1995-03-01 00:00:00'),
      e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
      bfs AS (
        SELECT 'c:28' AS node, 0 AS dist
        UNION
        SELECT e.b AS node, bfs.dist + 1 AS dist
        FROM bfs JOIN e ON e.a = bfs.node
        WHERE bfs.dist < 6)
      SELECT node, CAST(min(dist) AS INT) AS dist
      FROM bfs GROUP BY node
      ORDER BY dist, node""",
    // Replays triangleCount bit-for-bit: same symmetrize + dedupe, the same
    // (degree, id) orientation, one wedge join, EXISTS as the closing
    // semi-join. All integers — no rounding anywhere.
    "q111_triangles" -> """
      WITH ps AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk
                  FROM lineitem WHERE l_partkey % 200 = 0),
      e0 AS (SELECT DISTINCT p1.sk AS a, p2.sk2 AS b
             FROM ps p1 JOIN (SELECT pk, sk AS sk2 FROM ps) p2 USING (pk)
             WHERE p1.sk < p2.sk2),
      e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
      deg AS (SELECT a AS node, count(*) AS deg FROM e GROUP BY a),
      o AS (SELECT e.a, e.b
            FROM e JOIN deg da ON e.a = da.node JOIN deg db ON e.b = db.node
            WHERE da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)),
      w AS (SELECT e1.a AS wa, e2.b AS wc FROM o e1 JOIN o e2 ON e1.b = e2.a),
      t AS (SELECT count(*) AS n_triangles FROM w
            WHERE EXISTS (SELECT 1 FROM o WHERE o.a = w.wa AND o.b = w.wc))
      SELECT (SELECT count(*) FROM deg) AS n_nodes,
             (SELECT count(*) FROM o) AS n_edges,
             n_triangles
      FROM t""",
    "q156_kcore" -> kcoreSql(4, 8),
    "q161_label_propagation" -> lpaSql(3),
  )

  /** The q161 oracle: each synchronous round replayed as a vote CTE +
    * a row_number argmax with the same (cnt DESC, lbl ASC) tie-break. */
  private def lpaSql(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""v$i AS (SELECT u.b AS node, l.lbl, count(*) AS cnt
             FROM e u JOIN l${i - 1} l ON u.a = l.node GROUP BY u.b, l.lbl),
      l$i AS (SELECT node, lbl FROM (
                SELECT node, lbl,
                       row_number() OVER (PARTITION BY node
                                          ORDER BY cnt DESC, lbl) AS rn
                FROM v$i) WHERE rn = 1)"""
    }.mkString(",\n      ")
    s"""
      WITH e0 AS (SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS a,
                                  's:' || CAST(l_suppkey AS VARCHAR) AS b
                  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
                  WHERE o_orderdate < TIMESTAMP '1995-03-01 00:00:00'),
      e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
      l0 AS (SELECT DISTINCT a AS node, a AS lbl FROM e),
      $steps
      SELECT node, lbl FROM l$rounds ORDER BY node"""
  }

  /** The q156 oracle: the same peel, unrolled to `maxRounds` survivor
    * sets. The k-core's uniqueness (and the monotone no-op behaviour of
    * rounds past the fixpoint) is what lets a fixed unrolling replay
    * Spark's early-exiting loop exactly. */
  private def kcoreSql(k: Int, maxRounds: Int): String = {
    val rounds = (1 until maxRounds).map { i =>
      s"""n$i AS (SELECT u.a AS node
              FROM e u JOIN n${i - 1} x ON u.a = x.node
                       JOIN n${i - 1} y ON u.b = y.node
              GROUP BY u.a HAVING count(*) >= $k)"""
    }.mkString(",\n      ")
    s"""
      WITH e0 AS (SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS a,
                                  's:' || CAST(l_suppkey AS VARCHAR) AS b
                  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
                  WHERE o_orderdate < TIMESTAMP '1995-03-01 00:00:00'),
      e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
      n0 AS (SELECT a AS node FROM e GROUP BY a HAVING count(*) >= $k),
      $rounds
      SELECT u.a AS node, CAST(count(*) AS BIGINT) AS core_degree
      FROM e u JOIN n${maxRounds - 1} x ON u.a = x.node
               JOIN n${maxRounds - 1} y ON u.b = y.node
      GROUP BY u.a
      ORDER BY u.a"""
  }
}
