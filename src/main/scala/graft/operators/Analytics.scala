package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Event-analytics and data-management operators beyond the reference's
  * surface (SURVEY §2.3 north-star extensions): a mergeable distinct-count
  * sketch, ordered funnel analysis, CDC latest-wins merge, and fixed-bin
  * histograms. All four are oracle-gated — the sketch included, because its
  * estimator is a deterministic function of md5, which both engines compute
  * bit-identically.
  *
  * Scale notes are per-operator; none of these materializes per-key state
  * wider than (key, constant) and none shuffles a payload column it does
  * not need.
  */
object Analytics {
  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- KMV --

  /** K-minimum-values distinct-count sketch (Bar-Yossef et al. 2002): keep
    * the k smallest 60-bit hashes per group; estimate = (k-1) * 2^60 /
    * kth_min. Mergeable by construction (union → re-take k smallest), which
    * is what makes it the 100 TB shape: partial min-k runs map-side.
    *
    * In Spark the `row_number() <= k` filter compiles to WindowGroupLimit,
    * which pushes a per-partition partial top-k BEFORE the shuffle — the
    * engine derives the mergeable-sketch plan from the declarative form
    * (same optimization q59 plan-locks). The estimator is exact-replayable:
    * md5 is bit-identical cross-engine, and 31.0 * 2^60 is an EXACT double
    * (5 significant bits), so the single IEEE division matches to the bit.
    *
    * Shared min-k + estimator over an ALREADY-distinct (group, value)
    * frame — both public forms delegate here so q68's comparison and the
    * production sketch are the same code path. */
  private def kmvFromDistinct(du: DataFrame, groupCol: String,
      valueCol: String, k: Int): DataFrame = {
    val h = du.withColumn("hv", expr(CrossHash.h60Expr(valueCol)))
    val rn = row_number().over(Window.partitionBy(groupCol).orderBy(col("hv")))
    h.withColumn("rn", rn).filter(col("rn") <= k)
      .groupBy(groupCol)
      .agg(count(lit(1)).cast("int").as("k_used"), max(col("hv")).as("kth_min"))
      // When a group holds fewer than k distinct values the min-k set IS
      // the full distinct set, so k_used is itself the exact count (modulo
      // 60-bit collisions, ~n²/2⁶¹) — no exact-count leg is needed for the
      // small-group case either.
      .withColumn("kmv_est", round(
        when(col("k_used") < k, col("k_used").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(1152921504606846976.0)
            / col("kth_min").cast("double")), 2))
  }

  /** Sketch-ONLY distinct-count estimate: one row per group,
    * (groupCol, k_used, kth_min, kmv_est). This is the operator a 100 TB
    * run calls — total cost is the deduplicating exchange plus a
    * WindowGroupLimit partial min-k; per-group state is k longs and the
    * full distinct set is never counted, held, or shuffled anywhere.
    * For sketch-vs-exact verification use [[kmvDistinct]] (q68). */
  def kmvSketch(df: DataFrame, groupCol: String, valueCol: String,
      k: Int = 32): DataFrame = {
    require(k >= 2, s"kmvSketch: k must be >= 2, got $k")
    // NULL values are excluded (SQL count-distinct convention) — and they
    // must be: a NULL hash sorts first under Spark's asc ordering but last
    // under DuckDB's, which would poison the min-k set differently per
    // engine on nullable columns.
    val du = df.select(col(groupCol), col(valueCol))
      .filter(col(valueCol).isNotNull).distinct()
    kmvFromDistinct(du, groupCol, valueCol, k)
  }

  /** Sketch-vs-exact comparison harness: [[kmvSketch]]'s columns joined
    * with the true distinct count (`n_exact`). The exact leg is a full
    * distinct count — deliberately NOT part of the reusable sketch (it is
    * precisely the cost a sketch exists to avoid); this form exists to
    * verify the estimator (q68 gates it bit-exactly against DuckDB). */
  def kmvDistinct(df: DataFrame, groupCol: String, valueCol: String,
      k: Int = 32): DataFrame = {
    require(k >= 2, s"kmvDistinct: k must be >= 2, got $k")
    val du = df.select(col(groupCol), col(valueCol))
      .filter(col(valueCol).isNotNull).distinct()
    val exact = du.groupBy(groupCol).agg(count(lit(1)).as("n_exact"))
    // Both sides of this join are one row per group — broadcast, no shuffle.
    exact.join(broadcast(kmvFromDistinct(du, groupCol, valueCol, k)), groupCol)
      .select(col(groupCol), col("n_exact"), col("k_used"), col("kth_min"),
        col("kmv_est"))
  }

  /** Distinct users per event type, exact vs KMV(32) estimate. */
  private val q68: Q = (s, d) =>
    kmvDistinct(Tables.events(s, d), "event_type", "user_id")
      .orderBy(col("event_type"))

  /** Per-group min-k hash ROWS — [[kmvSketch]]'s mergeable state (the
    * k smallest 60-bit hashes per group; two states merge by union →
    * distinct → re-take min-k, and min-k of a union of min-k sets equals
    * the union's min-k exactly). */
  private[graft] def kmvState(df: DataFrame, groupCol: String, valueCol: String,
      k: Int): DataFrame =
    df.select(col(groupCol), col(valueCol))
      .filter(col(valueCol).isNotNull).distinct()
      .withColumn("hv", expr(CrossHash.h60Expr(valueCol)))
      .withColumn("rn", row_number().over(
        Window.partitionBy(groupCol).orderBy(col("hv"))))
      .filter(col("rn") <= k)
      .select(col(groupCol), col("hv"))

  /** q223: KMV cross-snapshot merge — the q215/q222 mergeability
    * certification for the min-k sketch. Two deterministic snapshots
    * (even/odd event_id) build min-k states independently; the merged
    * state re-takes min-k and finalizes, and must equal sketching the
    * whole table — q68's oracle gates it verbatim. */
  private val q223: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val k = 32
    def half(p: Int) = kmvState(
      ev.filter(pmod(col("event_id"), lit(2)) === p), "event_type",
      "user_id", k)
    val merged = half(0).unionByName(half(1)).distinct()
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("hv"))))
      .filter(col("rn") <= k)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("int").as("k_used"), max(col("hv")).as("kth_min"))
      .withColumn("kmv_est", round(
        when(col("k_used") < k, col("k_used").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(1152921504606846976.0)
            / col("kth_min").cast("double")), 2))
    val du = ev.select(col("event_type"), col("user_id"))
      .filter(col("user_id").isNotNull).distinct()
    val exact = du.groupBy(col("event_type")).agg(count(lit(1)).as("n_exact"))
    exact.join(broadcast(merged), "event_type")
      .select(col("event_type"), col("n_exact"), col("k_used"),
        col("kth_min"), col("kmv_est"))
      .orderBy(col("event_type"))
  }

  /** SET OPERATIONS on KMV samples — the theta-sketch pattern (Apache
    * DataSketches' core idea): for every group pair, trim both min-k hash
    * samples to the SMALLER threshold θ = min(θ_A, θ_B); below θ each
    * retained hash is a uniform p-sample of its set with p = θ/2^60, so
    * `|sample ∩| · 2^60/θ` estimates `|A ∩ B|`, likewise the union, and
    * the sample Jaccard estimates the true one. THE way to ask "how much
    * do corpus A and corpus B overlap" at 100 TB without ever joining
    * them: per group the state is k longs, pair math runs on two ≤ k
    * arrays driver-broadcast — no value-level pair join anywhere in the
    * sketch path. (The `n_inter_exact` audit column joins the distinct
    * sets value-on-value — the cost the sketch avoids, kept only to
    * certify the estimator, q68's discipline.) Estimates are exact
    * integer algebra + one double division + round — bit-replayable. */
  def kmvSetOps(df: DataFrame, groupCol: String, valueCol: String,
      k: Int = 32): DataFrame = {
    require(k >= 2, s"kmvSetOps: k must be >= 2, got $k")
    val du = df.select(col(groupCol), col(valueCol))
      .filter(col(valueCol).isNotNull).distinct()
    val h = du.withColumn("hv", expr(CrossHash.h60Expr(valueCol)))
    val rn = row_number().over(Window.partitionBy(groupCol).orderBy(col("hv")))
    // EXACT MODE for small groups (standard theta-sketch semantics): a
    // group with fewer than k distinct values retains its entire set, so
    // theta = 2^60 — the kth-min theta would treat the full set as a
    // p-sample and systematically inflate estimates by ~(j+1)/j.
    val sk = h.withColumn("rn", rn)
      .withColumn("nd", count(lit(1)).over(Window.partitionBy(groupCol)))
      .filter(col("rn") <= k)
      .groupBy(col(groupCol))
      .agg(sort_array(collect_list(col("hv"))).as("arr"),
        when(first(col("nd")) < k, lit(1152921504606846976L))
          .otherwise(max(col("hv"))).as("th"))
    val a = sk.select(col(groupCol).as("grp1"), col("arr").as("arr1"),
      col("th").as("th1"))
    val b = sk.select(col(groupCol).as("grp2"), col("arr").as("arr2"),
      col("th").as("th2"))
    // |groups|² pair rows over ≤ k-long arrays: broadcast-small by
    // construction. Intersect/union spelled explicitly (filter + contains
    // + distinct) so Spark and the DuckDB replay share one semantics.
    val pairs = a.join(broadcast(b), col("grp1") < col("grp2"))
      .withColumn("theta", least(col("th1"), col("th2")))
      .withColumn("fa", expr("filter(arr1, h -> h <= theta)"))
      .withColumn("fb", expr("filter(arr2, h -> h <= theta)"))
      .withColumn("n_inter_sample",
        expr("size(array_distinct(filter(fa, h -> array_contains(fb, h))))"))
      .withColumn("n_union_sample",
        expr("size(array_distinct(concat(fa, fb)))"))
    val exact = du.select(col(groupCol).as("grp1"), col(valueCol).as("v"))
      .join(du.select(col(groupCol).as("grp2"), col(valueCol).as("v")), Seq("v"))
      .filter(col("grp1") < col("grp2"))
      .groupBy(col("grp1"), col("grp2")).agg(count(lit(1)).as("n_inter_exact"))
    val scale = lit(1152921504606846976.0) // 2^60 as double
    pairs.join(exact, Seq("grp1", "grp2"), "left")
      .select(col("grp1"), col("grp2"),
        col("n_inter_sample").cast("long").as("n_inter_sample"),
        col("n_union_sample").cast("long").as("n_union_sample"),
        round(col("n_inter_sample").cast("double") * scale
          / col("theta").cast("double"), 2).as("inter_est"),
        round(col("n_union_sample").cast("double") * scale
          / col("theta").cast("double"), 2).as("union_est"),
        when(col("n_union_sample") === 0, lit(0.0))
          .otherwise(round(col("n_inter_sample").cast("double")
            / col("n_union_sample").cast("double"), 4)).as("jaccard_est"),
        coalesce(col("n_inter_exact"), lit(0L)).as("n_inter_exact"))
  }

  /** Pairwise audience overlap between event types, sketch vs exact. */
  private val q152: Q = (s, d) =>
    kmvSetOps(Tables.events(s, d), "event_type", "user_id")
      .orderBy(col("grp1"), col("grp2"))

  // -------------------------------------------------------- HyperLogLog --

  /** m = 2^8 registers: ±6.5% standard error, 256 small ints of state. */
  private[graft] val HllRegisters = 256
  /** Hash bits left after the 8 register bits of the 60-bit md5 hash. */
  private[graft] val HllWBits = 52
  /** Max rank = leading-zeros(52-bit word) + 1; also the scale exponent
    * that turns Σ 2^-M[j] into the exact integer Σ 2^(53-M[j]). */
  private[graft] val HllMaxRank = HllWBits + 1
  /** alpha_m · m² · 2^53 — the estimator numerator, folded to ONE double
    * literal shared verbatim with the oracle SQL so the only float op
    * either engine performs is the final division. */
  private[graft] val HllNumerator: Double =
    0.7213 / (1.0 + 1.079 / HllRegisters) *
      (HllRegisters.toDouble * HllRegisters.toDouble) *
      (1L << HllMaxRank).toDouble
  /** Raw-estimate threshold below which linear counting takes over. */
  private[graft] val HllSmallRange: Double = 2.5 * HllRegisters
  /** Linear-counting table: entry V (1-based V+1) = m·ln(m/V), the
    * small-range estimator for V empty registers — PRECOMPUTED here and
    * shared with the oracle as 256 literals, so neither engine evaluates
    * ln() at query time (a last-ulp libm difference would leak through
    * the 2-dp round on a boundary; a literal cannot). Entry 0 is a
    * placeholder — V = 0 routes to the raw estimator. */
  private[graft] val HllLinear: IndexedSeq[Double] =
    (0 until HllRegisters).map(v =>
      if (v == 0) 0.0
      else HllRegisters.toDouble *
        math.log(HllRegisters.toDouble / v.toDouble))

  /** HyperLogLog distinct-count sketch (Flajolet et al. 2007): register
    * `j = h mod m` keeps the max rank (leading zeros + 1) of the remaining
    * 52 hash bits; estimate = α_m·m²/Σ 2^-M[j], empty registers counting
    * 2^0. The fixed-state complement of [[kmvSketch]]: KMV holds k hash
    * VALUES per group, HLL holds m 6-bit RANKS — and needs NO deduplicating
    * pre-pass, because max() is idempotent (a duplicate value hits the same
    * register with the same rank). At 100 TB that drops KMV's distinct
    * exchange entirely: the only shuffle carries ≤ m (group, reg, rank)
    * triples per group out of each task's partial max.
    *
    * Cross-engine exactness: ranks are integer string-length algebra over
    * `bin(w)` (never float log2), and Σ 2^-M[j] is computed as the INTEGER
    * Σ 2^(53-M[j]) (≤ 256 terms ≤ 2^53 each — no summation-order float
    * drift for the oracle to trip on). The single division by that integer
    * is the one IEEE op, identical in fixed order in both engines; the
    * small-range linear-counting arm (raw ≤ 2.5m, V empty registers →
    * m·ln(m/V)) reads a PRECOMPUTED literal table ([[HllLinear]]) instead
    * of calling ln(), for the same reason. */
  def hllSketch(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    hllFinalize(hllRegisters(df, groupCol, valueCol), groupCol)

  /** The (group, reg, mj) register file — THE mergeable HLL state, shared
    * by [[hllSketch]] and the streaming sketch
    * ([[graft.streaming.StreamingQueries]]): one definition, so the
    * batch/stream register-for-register equivalence and the q135/q138
    * oracles cannot drift apart. Merges by per-register MAX (idempotent,
    * commutative, associative — the algebra that makes complete-mode
    * streaming state provably bounded at \|groups\|·m rows). */
  private[graft] def hllRegisters(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val m = HllRegisters
    val r = HllMaxRank
    df.filter(col(valueCol).isNotNull)
      .select(col(groupCol), expr(CrossHash.h60Expr(valueCol)).as("hv"))
      .select(col(groupCol), (col("hv") % m).as("reg"),
        expr(s"hv div $m").as("w"))
      // bin(0) = "0" has length 1, not 0 — the all-zeros word needs its
      // own arm to land on rank 53 instead of 52.
      .withColumn("rank",
        when(col("w") === 0L, lit(r))
          .otherwise(lit(r) - length(bin(col("w")))))
      .groupBy(col(groupCol), col("reg"))
      .agg(max(col("rank")).as("mj"))
  }

  /** Folds a [[hllRegisters]] file to (group, m_used, s_reg, hll_est). */
  private[graft] def hllFinalize(regs: DataFrame, groupCol: String): DataFrame = {
    val m = HllRegisters
    val r = HllMaxRank
    regs
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("m_used"),
        sum(expr(s"shiftleft(cast(1 as bigint), $r - mj)")).as("s_obs"))
      .withColumn("s_reg",
        col("s_obs") + (lit(m.toLong) - col("m_used")) * lit(1L << r))
      .withColumn("v_empty", lit(m.toLong) - col("m_used"))
      .withColumn("raw_est", lit(HllNumerator) / col("s_reg").cast("double"))
      // Flajolet's small-range regime: raw ≤ 2.5m with empty registers →
      // linear counting m·ln(m/V), picked from the shared literal table.
      .withColumn("hll_est", round(
        when(col("raw_est") <= lit(HllSmallRange) && col("v_empty") > 0,
          element_at(typedLit(HllLinear), (col("v_empty") + 1).cast("int")))
          .otherwise(col("raw_est")), 2))
      .select(col(groupCol), col("m_used"), col("s_reg"), col("hll_est"))
  }

  /** Sketch-vs-exact harness over [[hllSketch]] (the q135 gate): the
    * register-state columns joined with the true distinct count. The exact
    * leg exists only to verify the estimator — production calls
    * [[hllSketch]] and never pays it. */
  def hllDistinct(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val du = df.select(col(groupCol), col(valueCol))
      .filter(col(valueCol).isNotNull).distinct()
    val exact = du.groupBy(groupCol).agg(count(lit(1)).as("n_exact"))
    // One row per group on both sides — broadcast, no shuffle.
    exact.join(broadcast(hllSketch(df, groupCol, valueCol)), groupCol)
      .select(col(groupCol), col("n_exact"), col("m_used"), col("s_reg"),
        col("hll_est"))
  }

  /** Distinct users per event type, exact vs HLL(256) estimate. */
  private val q135: Q = (s, d) =>
    hllDistinct(Tables.events(s, d), "event_type", "user_id")
      .orderBy(col("event_type"))

  /** Merge two independently-built HLL register files (per-register MAX)
    * and finalize the union — the cross-snapshot mergeability a sketch
    * warehouse lives on: yesterday's sketch + today's sketch = the union
    * sketch WITHOUT rereading either day. Max is idempotent/commutative/
    * associative, so the merged file is bit-identical to sketching the
    * union directly — which is exactly what the gate certifies. */
  private[graft] def hllMerge(a: DataFrame, b: DataFrame,
      groupCol: String): DataFrame =
    a.unionByName(b)
      .groupBy(col(groupCol), col("reg"))
      .agg(max(col("mj")).as("mj"))

  /** q215: the events table splits into two deterministic "snapshots"
    * (even/odd event_id — both halves hit every group), each half is
    * sketched INDEPENDENTLY, the register files merge, and the finalized
    * union must equal sketching the whole table — so it reuses q135's
    * oracle verbatim (the q82/q80 gate-sharing pattern). */
  private val q215: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val half = (p: Int) => ev.filter(pmod(col("event_id"), lit(2)) === p)
    val merged = hllMerge(
      hllRegisters(half(0), "event_type", "user_id"),
      hllRegisters(half(1), "event_type", "user_id"), "event_type")
    val du = ev.select(col("event_type"), col("user_id"))
      .filter(col("user_id").isNotNull).distinct()
    val exact = du.groupBy(col("event_type")).agg(count(lit(1)).as("n_exact"))
    exact.join(broadcast(hllFinalize(merged, "event_type")), "event_type")
      .select(col("event_type"), col("n_exact"), col("m_used"),
        col("s_reg"), col("hll_est"))
      .orderBy(col("event_type"))
  }

  // ---------------------------------------------------- count-min sketch --

  private[graft] val CmDepth = 4
  private[graft] val CmWidth = 1024
  /** q125's probe terms — fixture vocabulary plus one absent term
    * (`quantum`), whose estimate documents the sketch's one-sided error:
    * collisions can only OVER-estimate, never under. */
  private[graft] val CmProbes =
    Seq("spark", "vector", "table", "dup", "row", "quantum")

  /** The two 60-bit hash components every count-min row derives from — ONE
    * md5 per value, its two 15-nibble slices parsed once. Project BOTH
    * columns before [[cmCells]] (named-struct, one md5 evaluation) so
    * codegen never recomputes digest or slices per row: the transform
    * lambda is then two longs' worth of arithmetic per row. */
  private[graft] def cmHash(c: String): String =
    s"""named_struct(
      'h1', ${CrossHash.hexSliceExpr(s"md5(cast($c as string))", 1)},
      'h2', ${CrossHash.hexSliceExpr(s"md5(cast($c as string))", 16)})"""

  /** The (row j, bucket) cell array for one value's ALREADY-PROJECTED
    * [[cmHash]] (h1, h2) struct — THE count-min hash, shared by [[countMin]],
    * [[countMinEstimate]]'s probe side, and the streaming sketch
    * ([[graft.streaming.StreamingQueries]]): one definition, so the
    * batch/stream cell-for-cell equivalence and the q125/q130 oracles
    * cannot drift apart. Rows use Kirsch-Mitzenmacher double hashing —
    * h_j = (h1 + j·h2) mod width with h1/h2 two independent 60-bit slices
    * of the one digest (preserves CM's error guarantees; standard since
    * K-M 2006) — so the corpus pays ONE md5 per value, not depth md5s
    * (the pre-r9 per-row `md5(j ':' value)` was 4× the hashing for the
    * same sketch quality). Overflow bound: h1, h2 ≤ 2^60−1, so
    * h1 + j·h2 ≤ 8·(2^60−1) < 2^63−1 only while j ≤ 7 — depth is capped
    * at 8 (enforced in [[countMin]]); depth 9+ would wrap signed 64-bit
    * silently in Spark and raise a BIGINT overflow in the DuckDB replay. */
  private[graft] def cmCells(hCol: String, depth: Int, width: Int): String =
    s"""transform(sequence(0, ${depth - 1}),
      j -> ($hCol.h1 + j * $hCol.h2) % $width)"""

  /** Count-min sketch of a value stream: `depth × width` counters, cell
    * `(j, h_j(v) % width)` summing occurrences. THE bounded-state frequency
    * structure for heavy-hitter queries at corpus scale — exact per-value
    * counts need state linear in distinct values (billions of token types
    * at 100 TB), the sketch needs `depth × width` longs, period, and merges
    * across batches/partitions by cell-wise SUM (same algebra as
    * [[kmvSketch]]'s min-merge).
    *
    * Distributed shape: the per-value hash fan-out (one row per (value,
    * row j)) is map-side posexplode; the ONLY shuffle is the cell aggregate,
    * whose partial map-side combine collapses each task's output to
    * ≤ depth×width cells regardless of input rows. Every hash bottoms out
    * in the engine-neutral 60-bit md5 (j ':' value), so DuckDB rebuilds the
    * identical sketch — the gate is exact integer algebra. */
  def countMin(df: DataFrame, valueCol: String,
      depth: Int = CmDepth, width: Int = CmWidth): DataFrame = {
    // depth ≤ 8 is the true no-overflow bound for the K-M cell derivation
    // (h1 + j·h2 with 60-bit slices — see [[cmCells]]); 9+ wraps Long.
    require(depth >= 1 && depth <= 8, s"countMin: depth out of range: $depth")
    require(width >= 2, s"countMin: width must be >= 2, got $width")
    df.filter(col(valueCol).isNotNull)
      .select(expr(cmHash(valueCol)).as("_h"))
      .select(posexplode(expr(cmCells("_h", depth, width))).as(Seq("j", "bucket")))
      .groupBy(col("j"), col("bucket")).agg(count(lit(1)).as("cnt"))
  }

  /** Point-query harness over [[countMin]]: for each probe term, the CM
    * estimate (min over rows of the probed cell) next to the true count —
    * the audit column certifying `est >= exact` (one-sided error) and
    * `est == exact` when no collision lands in any probed cell. The exact
    * leg filters to the probe set BEFORE aggregating, so its cost is the
    * probes', not the corpus distinct-value count's. */
  def countMinEstimate(df: DataFrame, valueCol: String, probes: Seq[String],
      depth: Int = CmDepth, width: Int = CmWidth): DataFrame = {
    require(probes.nonEmpty, "countMinEstimate: probes must be non-empty")
    val s = df.sparkSession
    import s.implicits._
    val sk = countMin(df, valueCol, depth, width)
    val probed = probes.toDF("term")
      .select(col("term"), expr(cmHash("term")).as("_h"))
      .select(col("term"),
        posexplode(expr(cmCells("_h", depth, width))).as(Seq("j", "bucket")))
    val est = probed.join(sk, Seq("j", "bucket"), "left")
      .groupBy(col("term")).agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
    val exact = df.filter(col(valueCol).isin(probes: _*))
      .groupBy(col(valueCol).as("term")).agg(count(lit(1)).as("exact"))
    est.join(exact, Seq("term"), "left")
      .select(col("term"), col("est"), coalesce(col("exact"), lit(0L)).as("exact"))
  }

  /** Corpus token frequencies probed through the sketch. */
  private val q125: Q = (s, d) =>
    countMinEstimate(
      Tables.documents(s, d)
        .select(explode(expr("filter(split(text, ' '), t -> t != '')")).as("tok")),
      "tok", CmProbes)
      .orderBy(col("term"))

  // -------------------------------------------------------- bloom filter --

  /** q149's geometry — m large enough that the fixture vocabulary fills
    * ~25% of the bits (real operating regime, neither empty nor
    * saturated); k ≤ 8 is [[cmCells]]' no-overflow bound. */
  private[graft] val BloomBits = 65536
  private[graft] val BloomK = 4

  /** Bloom-filter membership sketch: the k bit positions per value reuse
    * THE count-min cell derivation ([[cmCells]] — one md5 per value, rows
    * j < k by Kirsch-Mitzenmacher (h1 + j·h2) % m), so the sketch family
    * shares a single cross-engine hash definition. The sketch IS the
    * distinct set-bit positions — state ≤ m rows whatever the corpus
    * (65536 here ≈ 8 KB as a bitset), the bounded-state membership
    * structure join pruning and "have we seen this key" checks use at
    * corpus scale where an exact key set is billions of rows. Merge
    * across shards/batches = bit-OR ≡ UNION DISTINCT of positions — the
    * same one-shuffle algebra as [[kmvSketch]]'s min and [[hllSketch]]'s
    * max. The map-side partial DISTINCT collapses each task's output to
    * ≤ m rows before the one exchange. */
  def bloomFilter(df: DataFrame, valueCol: String,
      mBits: Int = BloomBits, k: Int = BloomK): DataFrame = {
    require(k >= 1 && k <= 8, s"bloomFilter: k out of range (cmCells bound): $k")
    require(mBits >= 2, s"bloomFilter: mBits must be >= 2, got $mBits")
    df.filter(col(valueCol).isNotNull)
      .select(expr(cmHash(valueCol)).as("_h"))
      .select(posexplode(expr(cmCells("_h", k, mBits))).as(Seq("j", "bit")))
      .select(col("bit")).distinct()
  }

  /** Point-probe harness over [[bloomFilter]]: for each probe term,
    * `maybe_present` (ALL k of its bits set — Bloom's membership test)
    * next to the exact occurrence count. The audit certifies the
    * one-sided error: `exact_n > 0` ⇒ `maybe_present` (a Bloom filter has
    * NO false negatives); `maybe_present` with `exact_n = 0` is a false
    * positive, whose rate the m/k geometry controls. The exact leg
    * filters to the probe set before aggregating (q125's discipline). */
  def bloomProbe(df: DataFrame, valueCol: String, probes: Seq[String],
      mBits: Int = BloomBits, k: Int = BloomK): DataFrame =
    bloomProbeBits(bloomFilter(df, valueCol, mBits, k), df, valueCol,
      probes, mBits, k)

  /** [[bloomProbe]] against an ALREADY-BUILT bit set — the batch
    * [[bloomFilter]] output or a drained streaming sketch state (q150);
    * one probe definition, so the batch/stream gates cannot drift. */
  def bloomProbeBits(bits: DataFrame, df: DataFrame, valueCol: String,
      probes: Seq[String], mBits: Int = BloomBits, k: Int = BloomK): DataFrame = {
    require(probes.nonEmpty, "bloomProbe: probes must be non-empty")
    val s = df.sparkSession
    import s.implicits._
    // DISTINCT before counting: j1 ≠ j2 can collide into one bit, and the
    // membership test is over the SET of a term's bits.
    val probed = probes.toDF("term")
      .select(col("term"), expr(cmHash("term")).as("_h"))
      .select(col("term"), posexplode(expr(cmCells("_h", k, mBits))).as(Seq("j", "bit")))
      .select(col("term"), col("bit")).distinct()
    val need = probed.groupBy(col("term")).agg(count(lit(1)).as("need"))
    val have = probed.join(bits, Seq("bit"))
      .groupBy(col("term")).agg(count(lit(1)).as("have"))
    val exact = df.filter(col(valueCol).isin(probes: _*))
      .groupBy(col(valueCol).as("term")).agg(count(lit(1)).as("exact"))
    need.join(have, Seq("term"), "left").join(exact, Seq("term"), "left")
      .select(col("term"),
        (coalesce(col("have"), lit(0L)) === col("need")).as("maybe_present"),
        coalesce(col("exact"), lit(0L)).as("exact_n"))
  }

  /** Corpus token membership probed through the Bloom sketch. */
  private val q149: Q = (s, d) =>
    bloomProbe(
      Tables.documents(s, d)
        .select(explode(expr("filter(split(text, ' '), t -> t != '')")).as("tok")),
      "tok", CmProbes)
      .orderBy(col("term"))

  /** q224: Bloom cross-snapshot merge — bit-set union of two
    * independently-built filters IS the union's filter (bit presence is
    * duplicate-insensitive), so the merged probes reuse q149's oracle
    * verbatim. */
  private val q224: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    def toks(dfIn: DataFrame) = dfIn
      .select(explode(expr("filter(split(text, ' '), t -> t != '')")).as("tok"))
    def half(p: Int) =
      bloomFilter(toks(docs.filter(pmod(col("doc_id"), lit(2)) === p)), "tok")
    val merged = half(0).unionByName(half(1)).distinct()
    bloomProbeBits(merged, toks(docs), "tok", CmProbes)
      .orderBy(col("term"))
  }

  /** q225: count-min cross-snapshot merge — cell-wise count addition of
    * two independently-built sketches IS the union's sketch (counts are
    * disjoint sums per cell), so the merged probes reuse q125's oracle
    * verbatim. */
  private val q225: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    def toks(dfIn: DataFrame) = dfIn
      .select(explode(expr("filter(split(text, ' '), t -> t != '')")).as("tok"))
    def half(p: Int) =
      countMin(toks(docs.filter(pmod(col("doc_id"), lit(2)) === p)), "tok")
    val merged = half(0).unionByName(half(1))
      .groupBy(col("j"), col("bucket")).agg(sum(col("cnt")).as("cnt"))
    val all = toks(docs)
    val s2 = docs.sparkSession
    import s2.implicits._
    val probed = CmProbes.toDF("term")
      .select(col("term"), expr(cmHash("term")).as("_h"))
      .select(col("term"),
        posexplode(expr(cmCells("_h", CmDepth, CmWidth))).as(Seq("j", "bucket")))
    val est = probed.join(merged, Seq("j", "bucket"), "left")
      .groupBy(col("term")).agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
    val exact = all.filter(col("tok").isin(CmProbes: _*))
      .groupBy(col("tok").as("term")).agg(count(lit(1)).as("exact"))
    est.join(exact, Seq("term"), "left")
      .select(col("term"), col("est"),
        coalesce(col("exact"), lit(0L)).as("exact"))
      .orderBy(col("term"))
  }

  // ------------------------------------------------------- heavy hitters --

  /** Deterministic two-pass heavy hitters: every value whose exact global
    * frequency exceeds N/(k+1), found WITHOUT a full groupBy over the value
    * domain.
    *
    * Pass 1 runs a Misra-Gries summary (k counters, decrement-all on
    * overflow) independently inside each partition — bounded state, one
    * sequential scan, the canonical per-partition imperative loop
    * (`mapPartitions` is the right tool here: MG is order-sensitive
    * inside a partition and has no declarative form). By the pigeonhole
    * merge argument, any value with global freq > N/(k+1) must exceed the
    * local threshold in at least one partition, so the UNION of per-
    * partition summary keys (≤ partitions·k values, broadcast-small)
    * provably contains every true heavy hitter. Pass 2 semi-joins the
    * corpus against that candidate set and counts EXACTLY — so the output
    * is a pure function of the input multiset: MG's order-sensitivity
    * affects only which false candidates get counted and discarded,
    * never the result. The same pass-1 scan also tallies partition row
    * counts (one sentinel row each) so N costs no extra scan.
    *
    * The threshold compares `cnt · (k+1) > N` in exact integer math —
    * no float division to diverge cross-engine. Output: (value, cnt,
    * n_total), the exact count and corpus size per surviving hitter. */
  def heavyHitters(df: DataFrame, valueCol: String, k: Int = 28): DataFrame = {
    require(k >= 1, s"heavyHitters: k must be >= 1, got $k")
    val s = df.sparkSession
    import s.implicits._
    val vals = df.filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("string").as("v"))
    // Bounded pass-1 output: ≤ (k+1) rows per partition. Checkpointed —
    // read twice (candidates + total) and MG must not re-run lazily.
    val summaries = vals.as[String].mapPartitions { it =>
      var rows = 0L
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { v =>
        rows += 1L
        counters.get(v) match {
          case Some(c) => counters.update(v, c + 1L)
          case None if counters.size < k => counters.update(v, 1L)
          case None => // decrement-all; drop zeroed counters
            val dead = scala.collection.mutable.ArrayBuffer.empty[String]
            counters.foreach { case (key, c) =>
              if (c == 1L) dead += key else counters.update(key, c - 1L)
            }
            dead.foreach(counters.remove)
        }
      }
      counters.keysIterator.map(key => (Option(key), 0L)) ++
        Iterator((Option.empty[String], rows))
    }.toDF("v", "rows").localCheckpoint()
    val cands = summaries.filter(col("v").isNotNull).select("v").distinct()
    val total = summaries.agg(sum(col("rows")).as("n_total"))
    vals.join(broadcast(cands), Seq("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") * (k + 1) > col("n_total"))
      .select(col("v").as(valueCol), col("cnt"), col("n_total"))
  }

  /** Corpus tokens with frequency > N/29 — stopword/boilerplate discovery
    * over `documents` through the bounded-state sketch path (k=28 < the
    * fixture vocabulary, so pass-1 evictions are real). */
  private val q155: Q = (s, d) =>
    heavyHitters(
      Tables.documents(s, d)
        .select(explode(expr("filter(split(text, ' '), t -> t != '')")).as("token")),
      "token")
      .orderBy(col("token"))

  // ------------------------------------------------------------- funnel --

  /** Ordered-funnel analysis: for each key, the furthest stage reached where
    * stage i+1 only counts if it occurs at-or-after the first completion of
    * stage i (strictly ordered conversion, the product-analytics semantics).
    * With `maxGapSec` set, stage i+1 must additionally land within that many
    * seconds of stage i's first completion (the sliding conversion window
    * real product funnels bound by — a purchase a month after the click is
    * not a conversion).
    *
    * One window spec — partition by key, order by (time, rowId) — carries
    * every stage's state: `t_{i+1} = running_min(time WHERE stage_{i+1}
    * AND time <= t_i + gap)`, with times as integer epoch micros (exact
    * cross-engine arithmetic; a NULL t_i nulls the comparison, so the gate
    * needs no separate reached-check). Spark stacks the Window operators
    * over the SAME sort order, so the whole funnel — gap-bounded or not —
    * costs ONE shuffle + ONE sort regardless of the number of stages;
    * per-row state is one long per stage. The naive per-stage self-join
    * formulation is stages× shuffles of the full event table.
    */
  def funnel(events: DataFrame, keyCols: Seq[String], timeCol: String,
      rowIdCol: String, typeCol: String, stages: Seq[String],
      maxGapSec: Option[Long] = None): DataFrame =
    funnelStages(events, keyCols, timeCol, rowIdCol, typeCol, stages, maxGapSec)
      .groupBy("stage").agg(count(lit(1)).as("n_users"))

  /** The per-key funnel frame [[funnel]] aggregates: one row per key tuple
    * with the furthest `stage` reached (0..stages.size) — exposed so the
    * stage verdict composes with other per-key analyses (q104 buckets it by
    * retention offset) without re-running the event scan. Same cost as
    * [[funnel]] minus the final tiny aggregation: ONE (key, time) sort. */
  def funnelStages(events: DataFrame, keyCols: Seq[String], timeCol: String,
      rowIdCol: String, typeCol: String, stages: Seq[String],
      maxGapSec: Option[Long] = None): DataFrame = {
    val staged = stagedFrame(events, keyCols, timeCol, rowIdCol, typeCol,
      stages, maxGapSec)
    val stageSum = stages.indices
      .map(i => when(max(col(s"t${i + 1}")).isNotNull, 1).otherwise(0))
      .reduce(_ + _)
    staged.groupBy(keyCols.map(col): _*).agg(stageSum.cast("int").as("stage"))
  }

  /** The shared ordered-gating pass: every event row annotated with the
    * running first-completion time t1..tN of each stage (the single
    * (key, time) sort both [[funnelStages]] and [[funnelLatency]] ride). */
  private def stagedFrame(events: DataFrame, keyCols: Seq[String],
      timeCol: String, rowIdCol: String, typeCol: String,
      stages: Seq[String], maxGapSec: Option[Long]): DataFrame = {
    require(stages.nonEmpty, "funnel: stages must be non-empty")
    // A repeated stage name would let ONE event satisfy two consecutive
    // gates in the same window pass (the running state includes the current
    // row), silently breaking the strictly-ordered semantics.
    require(stages == stages.distinct, s"funnel: duplicate stages in $stages")
    maxGapSec.foreach(g => require(g > 0, s"funnel: maxGapSec must be > 0, got $g"))
    val reserved = (1 to stages.size).map(i => s"t$i").toSet
    require(!events.columns.exists(reserved),
      s"funnel: inputs must not carry reserved columns ${reserved.mkString("/")}")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(timeCol), col(rowIdCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // The gap bound needs time ARITHMETIC, not just ordering: timestamps
    // become integer epoch micros (exact cross-engine, what the DuckDB
    // oracle replays via epoch_us); numeric columns are used AS-IS in
    // their native type (no cast — truncating a fractional time would
    // corrupt the comparison), with maxGapSec read in the column's units.
    // Other orderable types (string, date) work for the unbounded form —
    // which never touches the value — but are rejected with a gap.
    import org.apache.spark.sql.types.{NumericType, TimestampType}
    val timeType = events.schema(timeCol).dataType
    val tVal = timeType match {
      case TimestampType => unix_micros(col(timeCol))
      case _ => col(timeCol)
    }
    val gapUnits: Option[Column] = maxGapSec.map { g =>
      timeType match {
        case TimestampType => lit(g * 1000000L)
        case _: NumericType => lit(g)
        case other => throw new IllegalArgumentException(
          s"funnel: maxGapSec needs a timestamp or numeric time column, got $other")
      }
    }
    stages.zipWithIndex.foldLeft(events) { case (df, (st, i)) =>
      val hit = col(typeCol) === st
      val valid =
        if (i == 0) hit
        else gapUnits match {
          case Some(g) => hit && tVal <= col(s"t$i") + g
          case None => hit && col(s"t$i").isNotNull
        }
      df.withColumn(s"t${i + 1}", min(when(valid, tVal)).over(w))
    }
  }

  /** Funnel stage-to-stage latency percentiles — the "WHERE does the
    * funnel stall" companion to the stage counts: for each consecutive
    * stage pair, how long converting keys took (p25/p50/p75/p90 of the
    * first-completion gap), in the time column's units (micros for
    * timestamps).
    *
    * Rides the SAME single (key, time) sort as [[funnelStages]] (the
    * shared gating pass), then one per-key min per stage and a
    * stages-bounded exact-percentile aggregate — percentile() over
    * integer micros interpolates identically cross-engine. */
  def funnelLatency(events: DataFrame, keyCols: Seq[String], timeCol: String,
      rowIdCol: String, typeCol: String, stages: Seq[String],
      maxGapSec: Option[Long] = None): DataFrame = {
    require(stages.size >= 2, s"funnelLatency: need >= 2 stages, got $stages")
    val staged = stagedFrame(events, keyCols, timeCol, rowIdCol, typeCol,
      stages, maxGapSec)
    val perKey = staged.groupBy(keyCols.map(col): _*)
      .agg(min(col("t1")).as("t1"),
        stages.indices.drop(1).map(i => min(col(s"t${i + 1}")).as(s"t${i + 1}")): _*)
    val gaps = perKey.select(explode(array(
      (1 until stages.size).map { i =>
        struct(lit(i).as("step"),
          (col(s"t${i + 1}") - col(s"t$i")).as("lat"))
      }: _*)).as("x"))
      .select(col("x.step").as("step"), col("x.lat").as("lat"))
      .filter(col("lat").isNotNull)
    val stageName = (i: Column) => element_at(
      array(stages.map(lit): _*), i)
    gaps.groupBy(col("step"))
      .agg(count(lit(1)).as("n"),
        percentile(col("lat"), lit(0.25)).as("p25"),
        percentile(col("lat"), lit(0.5)).as("p50"),
        percentile(col("lat"), lit(0.75)).as("p75"),
        percentile(col("lat"), lit(0.9)).as("p90"))
      .select(stageName(col("step")).as("from_stage"),
        stageName(col("step") + 1).as("to_stage"),
        col("n"), col("p25"), col("p50"), col("p75"), col("p90"))
  }

  private val q189: Q = (s, d) =>
    funnelLatency(Tables.events(s, d).withColumn("day", to_date(col("ts"))),
      Seq("user_id", "day"), "ts", "event_id", "event_type",
      Seq("signup", "view", "click", "purchase"))
      .orderBy(col("from_stage"))

  /** signup → view → click → purchase conversion per (user, day) — the
    * daily-conversion grain, which actually distributes keys across all
    * five stages (per-user over all time, every fixture user converts). */
  private val q69: Q = (s, d) =>
    funnel(Tables.events(s, d).withColumn("day", to_date(col("ts"))),
      Seq("user_id", "day"), "ts", "event_id", "event_type",
      Seq("signup", "view", "click", "purchase"))
      .orderBy(col("stage"))

  /** Sessionized funnel — the conversion question product analytics
    * actually asks: "how far does a user get WITHIN ONE SESSION?", not
    * across their whole history. Each event first gets the per-event
    * session id ([[sessionize]]'s lag-flag + running-sum prefix, before
    * its roll-up), then the ordered-funnel machinery runs with
    * (user, session) as the key — so a view in yesterday's session cannot
    * gate today's click. Cost shape: the session assignment is the ONE
    * user-key sort sessionize pays; the funnel stack then sorts on the
    * (user, session) key it created — two exchanges total, each on a
    * bounded key, stages still share one window pass (q69's discipline).
    * Times ride as integer epoch micros end-to-end (exact cross-engine). */
  /** The ONE shared session-id assignment: annotates a frame already
    * carrying (userCol, idCol, "us" epoch-micros) with the lag-flag +
    * running-sum `sid` over the single user-key sort. Every sessionized
    * operator (funnel, attribution, path mining, the sessionize roll-up)
    * derives from this pass — one definition, one set of gap semantics. */
  private def withSessionIds(df: DataFrame, userCol: String, idCol: String,
      gapMicros: Long): DataFrame = {
    require(gapMicros > 0, s"session assignment: gapMicros must be > 0, got $gapMicros")
    val w = Window.partitionBy(col(userCol)).orderBy(col("us"), col(idCol))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("new_s",
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapMicros,
          1L).otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(wRun))
      .drop("prev_us", "new_s")
  }

  def sessionFunnel(df: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String, stages: Seq[String],
      gapMicros: Long = 30L * 60L * 1000000L): DataFrame = {
    val withSid = withSessionIds(
      df.select(col(userCol), col(idCol), col(typeCol),
        unix_micros(col(tsCol)).as("us")),
      userCol, idCol, gapMicros)
      .withColumnRenamed("sid", "session_id")
    funnel(withSid, Seq(userCol, "session_id"), "us", idCol, typeCol, stages)
      .select(col("stage"), col("n_users").as("n_sessions"))
  }

  private val q147: Q = (s, d) =>
    sessionFunnel(Tables.events(s, d), "user_id", "ts", "event_id",
      "event_type", Seq("signup", "view", "click", "purchase"))
      .orderBy(col("stage"))

  /** The same funnel bounded to 1-hour conversion windows: each stage must
    * land within an hour of the PREVIOUS stage's first completion — still
    * the single (key, time) sort (the gap predicate rides the same window
    * pass), so the bound costs nothing at scale. */
  private val q101: Q = (s, d) =>
    funnel(Tables.events(s, d).withColumn("day", to_date(col("ts"))),
      Seq("user_id", "day"), "ts", "event_id", "event_type",
      Seq("signup", "view", "click", "purchase"), maxGapSec = Some(3600L))
      .orderBy(col("stage"))

  // --------------------------------------------------------- attribution --

  /** Session-scoped first/last-touch conversion attribution — the marketing
    * question on top of sessionization: for every conversion event, which
    * touch channel opened the session and which one preceded the
    * conversion? Conversions with no touch earlier in their session
    * attribute to 'direct'.
    *
    * One exchange total: the session assignment hash-partitions on user,
    * and the (user, session) attribution windows are satisfied by that same
    * partitioning (a user's sessions are co-located), so Spark adds only a
    * sort. First/last touch are `first/last(when(touch, type), ignoreNulls)`
    * over the session prefix frame — the conversion row's own expression is
    * NULL (its type is not a touch type), so a touch never attributes to
    * itself. The final roll-up is a channels-bounded aggregate over two
    * skinny (channel, flag) projections of the conversion rows. */
  def touchAttribution(df: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String, conversionType: String,
      touchTypes: Seq[String],
      gapMicros: Long = 30L * 60L * 1000000L): DataFrame = {
    require(touchTypes.nonEmpty && !touchTypes.contains(conversionType),
      s"touchAttribution: touch types $touchTypes must exclude $conversionType")
    val withSid = withSessionIds(
      df.select(col(userCol), col(idCol), col(typeCol).as("et"),
          unix_micros(col(tsCol)).as("us"))
        .filter(col("et") === conversionType ||
          col("et").isInCollection(touchTypes)),
      userCol, idCol, gapMicros)
    val ws = Window.partitionBy(col(userCol), col("sid"))
      .orderBy(col("us"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val touchCh = when(col("et").isInCollection(touchTypes), col("et"))
    // Both flags leave each conversion row via ONE exploded 2-struct array —
    // a self-union here would re-run the whole window pipeline per branch
    // (Spark does not materialize the shared subtree; only the exchange is
    // reused, the sorts and window passes double).
    withSid
      .withColumn("first_ch", first(touchCh, ignoreNulls = true).over(ws))
      .withColumn("last_ch", last(touchCh, ignoreNulls = true).over(ws))
      .filter(col("et") === conversionType)
      .select(explode(array(
        struct(coalesce(col("first_ch"), lit("direct")).as("channel"),
          lit(1L).as("f"), lit(0L).as("l")),
        struct(coalesce(col("last_ch"), lit("direct")).as("channel"),
          lit(0L).as("f"), lit(1L).as("l")))).as("x"))
      .groupBy(col("x.channel").as("channel"))
      .agg(sum(col("x.f")).as("first_touch"), sum(col("x.l")).as("last_touch"))
  }

  private val q166: Q = (s, d) =>
    touchAttribution(Tables.events(s, d), "user_id", "ts", "event_id",
      "event_type", "purchase", Seq("signup", "view", "click"))
      .orderBy(col("channel"))

  /** Multi-model attribution — the full credit table next to
    * [[touchAttribution]]'s first/last flags: every conversion splits
    * one unit of credit across its session's prior touches under three
    * standard models at once (linear = equal split; position-based =
    * the U-shaped 40/20/40; time-decay = exp(−Δt/τ) normalized per
    * conversion), because marketing reviews compare models, not run
    * three pipelines. Touchless conversions credit 'direct' with a full
    * unit in every model (q166's convention).
    *
    * Exactness: each per-touch credit is a pinned scalar chain rounded
    * at 9 dp and pinned to DECIMAL(18,9) BEFORE the channel sums (the
    * q236 term rule — sums are exact and order-free; libm exp agrees to
    * far more than 9 dp across engines). The decay normalizer W is the
    * exact DECIMAL sum of the same 9-dp weights, so w/W is one IEEE
    * division of identically-derived operands. W = 0 is reachable (every
    * touch ≥ ~21.4 h before the conversion in one long sub-gap chain →
    * all 9-dp weights round to 0): the decay model then falls back to
    * the LINEAR split rather than emitting the NaN→null that silently
    * dropped the conversion from decay_credit (round 18, r17 ADVICE) —
    * one unit of credit per conversion holds in every model
    * unconditionally.
    *
    * Shape: the q166 session machinery — ONE user-keyed exchange
    * carries sessionization and the per-conversion touch window; the
    * per-conversion touch list is session-bounded by the gap rule;
    * credit math is map-side; the roll-up is channels-bounded. */
  def attributionModels(df: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String, conversionType: String,
      touchTypes: Seq[String], gapMicros: Long = 30L * 60L * 1000000L,
      tauMicros: Long = 3600L * 1000000L): DataFrame = {
    require(touchTypes.nonEmpty && !touchTypes.contains(conversionType),
      s"attributionModels: touch types $touchTypes must exclude $conversionType")
    require(tauMicros > 0,
      s"attributionModels: tauMicros must be > 0, got $tauMicros")
    val withSid = withSessionIds(
      df.select(col(userCol), col(idCol), col(typeCol).as("et"),
          unix_micros(col(tsCol)).as("us"))
        .filter(col("et") === conversionType ||
          col("et").isInCollection(touchTypes)),
      userCol, idCol, gapMicros)
    val ws = Window.partitionBy(col(userCol), col("sid"))
      .orderBy(col("us"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // collect_list skips the NULL struct a conversion/other row produces,
    // so the array holds exactly the session's touches at/before this row
    // under the (us, id) total order.
    val wExpr = s"round(exp(cast(cus - t.tus as double) " +
      s"/ -${tauMicros.toDouble}D), 9)"
    withSid
      .withColumn("tarr", collect_list(
        when(col("et").isInCollection(touchTypes),
          struct(col("us").as("tus"), col("et").as("ch")))).over(ws))
      .filter(col("et") === conversionType)
      .select(col("us").as("cus"), col("tarr"))
      .withColumn("k", size(col("tarr")))
      .withColumn("_w_tot", expr(
        s"""aggregate(tarr, cast(0 as decimal(28,9)),
              (acc, t) -> cast(acc + cast($wExpr as decimal(18,9))
                               as decimal(28,9)))"""))
      .select(col("cus"), col("k"), col("_w_tot"),
        posexplode_outer(col("tarr")).as(Seq("i", "t")))
      .select(
        coalesce(col("t.ch"), lit("direct")).as("channel"),
        when(col("k") === 0, lit(1).cast("decimal(18,9)"))
          .otherwise(expr("cast(round(1.0 / k, 9) as decimal(18,9))"))
          .as("_lin"),
        when(col("k") <= 1, lit(1).cast("decimal(18,9)"))
          .when(col("k") === 2, lit(0.5).cast("decimal(18,9)"))
          .when(col("i") === 0 || col("i") === col("k") - 1,
            lit(0.4).cast("decimal(18,9)"))
          .otherwise(expr("cast(round(0.2 / (k - 2), 9) as decimal(18,9))"))
          .as("_pos"),
        // Degenerate-decay guard (round 18, r17 ADVICE): when every touch
        // sits ~21.4 h or more before the conversion (possible in a long
        // sub-30-min-gap chain), all 9-dp weights round to 0, _w_tot = 0,
        // and w/_w_tot would be NaN → null → the conversion silently
        // vanishing from decay_credit. Defined fallback: the linear
        // split, preserving the one-unit-per-conversion invariant
        // (mirrored in the oracle SQL).
        when(col("k") === 0, lit(1).cast("decimal(18,9)"))
          .when(col("_w_tot") > 0, expr(
            s"cast(round($wExpr / cast(_w_tot as double), 9) as decimal(18,9))"))
          .otherwise(expr("cast(round(1.0 / k, 9) as decimal(18,9))"))
          .as("_dec"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"),
        round(sum(col("_lin")).cast("double"), 6).as("linear_credit"),
        round(sum(col("_pos")).cast("double"), 6).as("position_credit"),
        round(sum(col("_dec")).cast("double"), 6).as("decay_credit"))
  }

  private val q248: Q = (s, d) =>
    attributionModels(Tables.events(s, d), "user_id", "ts", "event_id",
      "event_type", "purchase", Seq("signup", "view", "click"))
      .orderBy(col("channel"))

  /** Spearman rank correlation per group — the robust monotone-
    * association readout (Pearson on RANKS, so one outlier cannot swing
    * it): tie-aware via doubled average ranks (2·avg = 2·cum_prev +
    * count + 1, an exact INTEGER — the q179 doubled-rank trick), then
    * the q183/q219 exact-moment Pearson chain with ONE pinned
    * sqrt/division tail. NULL when either side is constant within the
    * group.
    *
    * Scale shape: a naive `rank() OVER (PARTITION BY grp ORDER BY v)`
    * sorts each group in ONE task — with few huge groups (the common
    * case: 3 return flags over the whole corpus) that is the per-key
    * corpus window sort this repo bans (the first cut priced 6.75× for
    * 10× data on exactly that skew). Instead: the corpus collapses ONCE
    * to distinct (grp, x, y) cells, each side's value frame gets its
    * doubled ranks via q184's two-level prefix sums (⌊v⌋-bucketed local
    * windows + a (grp × buckets)-bounded offset frame — no task ever
    * sorts more than one value bucket), and the value-keyed rank frames
    * join back to the cells. Moments are one keyed aggregate with
    * DECIMAL(38,0) products (c·r², r·r' overflow int64 past ~10⁶-row
    * groups). */
  def spearmanCorr(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val g = col(groupCol)
    val cells = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(g, col(xCol), col(yCol))
      .groupBy(g, col(xCol), col(yCol)).agg(count(lit(1)).as("_c"))
      .localCheckpoint()
    // Doubled average rank per distinct value of `valCol` within each
    // group: 2·cum_prev + cv + 1, cum_prev via bucket-local running
    // sums + per-(grp, bucket) offsets (the q184 decomposition).
    def ranks2(valCol: String, out: String): DataFrame = {
      // Checkpointed: BOTH consumers below (the bucket-local running-sum
      // window and the offsets aggregate) otherwise re-run this whole
      // value-frame aggregation — for a near-unique value column that is
      // a duplicated corpus-sized exchange per leg (r22, guide §2.4
      // duplicated-subtree removal; the plan showed two copies of the
      // vf HashAggregate chain per leg).
      val vf = cells.groupBy(g, col(valCol).as("_v"))
        .agg(sum(col("_c")).as("_cv"))
        .withColumn("_bkt", floor(col("_v").cast("double")).cast("long"))
        .localCheckpoint()
      val wLoc = Window.partitionBy(g, col("_bkt")).orderBy(col("_v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val local = vf.withColumn("_l", sum(col("_cv")).over(wLoc))
      val wOff = Window.partitionBy(g).orderBy(col("_bkt"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = vf.groupBy(g, col("_bkt"))
        .agg(sum(col("_cv")).as("_bc"))
        .withColumn("_off", coalesce(sum(col("_bc")).over(wOff), lit(0L)))
        .select(g, col("_bkt"), col("_off"))
      local.join(offsets, Seq(groupCol, "_bkt"))
        .select(g, col("_v").as(valCol),
          ((col("_off") + col("_l") - col("_cv")) * 2 + col("_cv") + 1)
            .as(out))
    }
    val joined = cells
      .join(ranks2(xCol, "_rx"), Seq(groupCol, xCol))
      .join(ranks2(yCol, "_ry"), Seq(groupCol, yCol))
    val m = joined.groupBy(g)
      .agg(sum(col("_c")).as("n"),
        sum(col("_c").cast("decimal(38,0)") * col("_rx")).as("_sx"),
        sum(col("_c").cast("decimal(38,0)") * col("_ry")).as("_sy"),
        sum(col("_c").cast("decimal(38,0)") * col("_rx") * col("_ry"))
          .as("_sxy"),
        sum(col("_c").cast("decimal(38,0)") * col("_rx") * col("_rx"))
          .as("_sxx"),
        sum(col("_c").cast("decimal(38,0)") * col("_ry") * col("_ry"))
          .as("_syy"))
    m.select(g, col("n"),
      when(expr("cast(_sxx as double) * n - cast(_sx as double) * cast(_sx as double) > 0") &&
           expr("cast(_syy as double) * n - cast(_sy as double) * cast(_sy as double) > 0"),
        round(expr("""
          (cast(_sxy as double) * n - cast(_sx as double) * cast(_sy as double))
          / sqrt((cast(_sxx as double) * n - cast(_sx as double) * cast(_sx as double))
                 * (cast(_syy as double) * n - cast(_sy as double) * cast(_sy as double)))"""),
          6)).as("rho"))
  }

  private val q249: Q = (s, d) =>
    spearmanCorr(Tables.lineitem(s, d), "l_returnflag", "l_quantity",
      "l_extendedprice")
      .orderBy(col("l_returnflag"))

  /** Quantile normalization across groups — the batch-effect remover
    * (classic in bioinformatics, equally the multilingual-curation
    * alignment pass): each group's value distribution maps onto the
    * POOLED distribution, so "the 73rd-percentile French document" gets
    * the corpus-wide 73rd-percentile length. After it, every group has
    * the same marginal distribution — cross-group thresholds compare
    * like for like.
    *
    * All-integer determinism: within-group position is the doubled
    * average rank (q249's machinery) folded to a per-mille
    * pm = ⌈r2·500/n_g⌉; the pooled grid inverts the q228/q230 rule —
    * value v covers exactly the pms with cumprev·1000 < pm·N ≤
    * cum·1000, i.e. sequence((cumprev·1000) div N + 1, (cum·1000) div
    * N) — so pm → value is a pure integer function of the data and the
    * row side joins it on a ≤ 1000-key column.
    *
    * Shape: ONE corpus collapse to (group, value) cells; group ranks
    * via the two-level bucketed prefix sums (no per-group corpus
    * sort); the pooled side lives on the VALUE frame (bounded by the
    * value domain, not the corpus) with one ordered cumulative pass;
    * the final join is per-mille-keyed. Output: one row per distinct
    * (group, value) — never per input row. */
  def quantileNormalize(df: DataFrame, groupCol: String,
      valCol: String): DataFrame = {
    requireIntegral(df, valCol, "quantileNormalize value")
    val g = col(groupCol)
    val cells = df.filter(col(valCol).isNotNull)
      .select(g, col(valCol).cast("long").as("_v"))
      .groupBy(g, col("_v")).agg(count(lit(1)).as("_c"))
      .localCheckpoint()
    // Within-group doubled rank per distinct value (two-level bucketed
    // prefix sums — q249's decomposition inlined over these cells).
    val wLoc = Window.partitionBy(g, col("_bkt")).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOff = Window.partitionBy(g).orderBy(col("_bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val vf = cells.withColumn("_bkt", floor(col("_v").cast("double") / 64)
      .cast("long"))
    val local = vf.withColumn("_l", sum(col("_c")).over(wLoc))
    val offsets = vf.groupBy(g, col("_bkt")).agg(sum(col("_c")).as("_bc"))
      .withColumn("_off", coalesce(sum(col("_bc")).over(wOff), lit(0L)))
      .select(g, col("_bkt"), col("_off"))
    val ng = cells.groupBy(g).agg(sum(col("_c")).as("_ng"))
    val ranked = local.join(offsets, Seq(groupCol, "_bkt"))
      .join(ng, groupCol)
      .withColumn("_r2",
        (col("_off") + col("_l") - col("_c")) * 2 + col("_c") + 1)
      .withColumn("pm",
        expr("(_r2 * 500 + _ng - 1) div _ng"))
    // Pooled per-mille grid on the value frame: v covers the pms whose
    // scaled position lands inside v's cumulative-count span.
    val pooled = cells.groupBy(col("_v")).agg(sum(col("_c")).as("_cv"))
    val n = pooled.agg(sum(col("_cv")).as("_n"))
    val wPool = Window.orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val grid = pooled
      .withColumn("_cum", sum(col("_cv")).over(wPool))
      .crossJoin(broadcast(n))
      // A value spanning no per-mille point yields an EMPTY array — bare
      // sequence(a, b) would count DOWN when a > b.
      .select(col("_v").as("_nv"), explode(expr(
        """CASE WHEN ((_cum - _cv) * 1000) div _n + 1 <= (_cum * 1000) div _n
                THEN sequence(((_cum - _cv) * 1000) div _n + 1,
                              (_cum * 1000) div _n)
                ELSE array() END""")).as("pm"))
    ranked.join(broadcast(grid), "pm")
      .select(g, col("_v").as(valCol), col("_c").as("n_rows"), col("pm"),
        col("_nv").as("norm_v"))
  }

  private val q250: Q = (s, d) =>
    quantileNormalize(Tables.documents(s, d), "lang", "n_chars")
      .orderBy(col("lang"), col("n_chars"))

  // ------------------------------------------------------- event cadence --

  /** Inter-event cadence: per event type, the distribution (p25/p50/p75/
    * p90) of the gap between a user's consecutive events OF THAT TYPE —
    * the activity-rhythm metric behind churn heuristics and notification
    * scheduling ([[funnelLatency]] measures gaps BETWEEN stages; this
    * measures the rhythm WITHIN one).
    *
    * One (user, type)-keyed sort carries the lag; gaps are exact integer
    * micros; the roll-up is a types-bounded exact-percentile aggregate —
    * percentile ≡ quantile_cont over identical integers. */
  def eventCadence(df: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol), col("et"))
      .orderBy(col("us"), col(idCol))
    df.filter(col(userCol).isNotNull)
      .select(col(userCol), col(idCol), col(typeCol).as("et"),
        unix_micros(col(tsCol)).as("us"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
      .filter(col("gap").isNotNull)
      .groupBy(col("et"))
      .agg(count(lit(1)).as("n"),
        percentile(col("gap"), lit(0.25)).as("p25"),
        percentile(col("gap"), lit(0.5)).as("p50"),
        percentile(col("gap"), lit(0.75)).as("p75"),
        percentile(col("gap"), lit(0.9)).as("p90"))
  }

  private val q190: Q = (s, d) =>
    eventCadence(Tables.events(s, d), "user_id", "ts", "event_id",
      "event_type")
      .orderBy(col("et"))

  // -------------------------------------------------------------- Benford --

  /** Benford first-digit conformance — the forensic data-quality check
    * (fabricated or unit-mixed numeric columns drift from the log
    * distribution): per (group, digit 1..9) the observed count and share
    * vs the Benford expectation log10(1+1/d), plus the group's mean
    * absolute deviation on every row (Nigrini's MAD: < 0.006 close
    * conformance, > 0.015 nonconformance).
    *
    * The digit spine is groups × 1..9 (absent digits count as deviation —
    * dropping them would understate MAD); expectations are Scala-computed
    * literals EMBEDDED in both plans, so both engines compare against
    * bit-identical constants; shares are one division each and the MAD
    * window averages 9 such doubles (round-6 absorbs term order). Shape:
    * one (group, digit)-bounded aggregate + a 9-row-per-group window. */
  def benford(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val base = df
      .filter(col(valueCol).isNotNull && abs(col(valueCol)) >= 1)
      .select(col(groupCol).as("grp"),
        substring(floor(abs(col(valueCol))).cast("long").cast("string"), 1, 1)
          .cast("int").as("d"))
    val counts = base.groupBy(col("grp"), col("d")).agg(count(lit(1)).as("n"))
    val spine = counts.select(col("grp")).distinct()
      .crossJoin(spark_range_digits(df))
    val expected = (1 to 9).map(d => math.log10(1 + 1.0 / d))
    val expCol = element_at(
      array(expected.map(lit): _*), col("d"))
    val wg = Window.partitionBy(col("grp"))
    val shares = spine.join(counts, Seq("grp", "d"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("total", sum(col("n")).over(wg))
      .withColumn("share", col("n").cast("double") / col("total"))
      .withColumn("dev", abs(col("share") - expCol))
    shares
      .withColumn("mad", round(avg(col("dev")).over(wg), 6))
      .select(col("grp"), col("d"), col("n"),
        round(col("share"), 6).as("share"),
        round(expCol, 6).as("expected"), col("mad"))
  }

  private def spark_range_digits(df: DataFrame): DataFrame =
    df.sparkSession.range(1, 10).select(col("id").cast("int").as("d"))

  private val q188: Q = (s, d) =>
    benford(Tables.orders(s, d), "o_orderpriority", "o_totalprice")
      .orderBy(col("grp"), col("d"))

  // ------------------------------------------------------------------ PSI --

  /** Population Stability Index — the binned drift score model-monitoring
    * dashboards alarm on (PSI = Σ (p₁−p₀)·ln(p₁/p₀); < 0.1 stable,
    * > 0.25 shifted): per equal-width bin over the COMBINED [min, max],
    * both samples' counts, rates, and the PSI term, with the total on
    * every row. Complements [[ksTest]]: KS is exact and binless but gives
    * one number; PSI's per-bin terms say WHERE the shift lives.
    *
    * Empty-bin smoothing: rates clamp to ≥ 1e-6 (the standard treatment —
    * ln(0) is the alternative). Bin assignment is the q181 floor
    * arithmetic on identical doubles; rates are one IEEE division each;
    * the 10-term total rides sum(double)+round(6) (the established q77
    * discipline — bounded term count, bounded magnitude). */
  def psi(df: DataFrame, armCol: Column, valueCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"psi: bins must be >= 2, got $bins")
    val base = df.filter(col(valueCol).isNotNull)
      .select(armCol.cast("long").as("arm"), col(valueCol).cast("double").as("s"))
    val bounds = base.agg(min(col("s")).as("lo"), max(col("s")).as("hi"))
    val binned = base.crossJoin(broadcast(bounds))
      .withColumn("bin",
        when(col("hi") === col("lo"), lit(0))
          .otherwise(least(
            floor((col("s") - col("lo")) * bins / (col("hi") - col("lo"))),
            lit(bins - 1)).cast("int")))
      .groupBy(col("bin"))
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("c1"))
    val totals = binned.agg(sum(col("c0")).as("n0"), sum(col("c1")).as("n1"))
    val terms = binned.crossJoin(broadcast(totals))
      .withColumn("p0",
        greatest(col("c0").cast("double") / col("n0"), lit(1e-6)))
      .withColumn("p1",
        greatest(col("c1").cast("double") / col("n1"), lit(1e-6)))
      .withColumn("term",
        round((col("p1") - col("p0")) * log(col("p1") / col("p0")), 6))
    val total = terms.agg(round(sum(col("term")), 6).as("psi_total"))
    terms.crossJoin(broadcast(total))
      .select(col("bin"), col("c0"), col("c1"),
        round(col("p0"), 6).as("p0"), round(col("p1"), 6).as("p1"),
        col("term"), col("psi_total"))
  }

  private val q185: Q = (s, d) =>
    psi(Tables.events(s, d).filter(col("event_type").isin("click", "purchase")),
      col("event_type") === "purchase", "value")
      .orderBy(col("bin"))

  // ---------------------------------------------------------- KS drift test --

  /** Exact two-sample Kolmogorov–Smirnov statistic — the distribution-
    * drift detector (did this feature's distribution move between
    * snapshots/arms?): D = max over values of |F̂₁(v) − F̂₀(v)|, located.
    *
    * Everything up to the last step is INTEGER-exact: the corpus
    * collapses to per-value class counts, cumulative counts use the
    * two-level prefix-sum shape (per-⌊v⌋-bucket local running sums +
    * broadcast bucket offsets — q140's discipline, never a single-
    * partition global window), and the sup picks argmax of
    * |c₁·n₀ − c₀·n₁| in DECIMAL integer arithmetic (the cross-product
    * overflows 64 bits past ~3·10⁹ rows) with the value as tie-break —
    * a deterministic TakeOrderedAndProject. ONE IEEE division at the
    * end. */
  def ksTest(df: DataFrame, armCol: Column, valueCol: String): DataFrame = {
    val base = df.filter(col(valueCol).isNotNull)
      .select(armCol.cast("long").as("arm"), col(valueCol).cast("double").as("v"))
    val counts = base.groupBy(col("v"))
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("d0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("d1"))
      .withColumn("bucket", floor(col("v")).cast("long"))
      .localCheckpoint()
    val wLoc = Window.partitionBy(col("bucket")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = counts
      .withColumn("l0", sum(col("d0")).over(wLoc))
      .withColumn("l1", sum(col("d1")).over(wLoc))
    val wOff = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts.groupBy(col("bucket"))
      .agg(sum(col("d0")).as("b0"), sum(col("d1")).as("b1"))
      .withColumn("o0", coalesce(sum(col("b0")).over(wOff), lit(0L)))
      .withColumn("o1", coalesce(sum(col("b1")).over(wOff), lit(0L)))
      .select(col("bucket"), col("o0"), col("o1"))
    val totals = counts.agg(sum(col("d0")).as("n0"), sum(col("d1")).as("n1"))
    local.join(broadcast(offsets), "bucket").crossJoin(broadcast(totals))
      .withColumn("dint",
        abs((col("o1") + col("l1")).cast("decimal(19,0)") * col("n0")
          - (col("o0") + col("l0")).cast("decimal(19,0)") * col("n1")))
      .orderBy(col("dint").desc, col("v"))
      .limit(1)
      .select(col("n0"), col("n1"), col("v").as("at_v"),
        round(col("dint").cast("double")
          / (col("n0").cast("double") * col("n1").cast("double")), 6).as("ks"))
  }

  private val q184: Q = (s, d) =>
    ksTest(
      Tables.events(s, d).filter(col("event_type").isin("click", "purchase")),
      col("event_type") === "purchase", "value")

  // ---------------------------------------------------------- Welch t-test --

  /** Welch's unequal-variance t-test on a per-unit metric — the
    * continuous-outcome companion to [[abTest]]'s proportions: per arm
    * n/mean/sample-sd, plus the Welch t statistic and Satterthwaite
    * degrees of freedom.
    *
    * The per-unit metric aggregates FIRST (sum per unit — the same
    * unit-integrity rule as abTest); arm moments ride DECIMAL sums
    * (v and v² exact at scale 2/4), and every derived statistic is scalar
    * IEEE arithmetic over those exact sums with identical operand order
    * in both engines. Degenerate arms (n < 2 or zero variance in both)
    * emit NULL t/df. */
  def welchTest(df: DataFrame, armCol: Column, unitCol: String,
      valueCol: String): DataFrame = {
    // the per-unit sum narrows to DECIMAL(18,2): its square is then
    // (37,4), which BOTH engines hold exactly — squaring the wide sum
    // type would exceed 38 digits and silently round (engine-divergent).
    // Overflow posture: under ANSI mode (Spark 4's default, asserted
    // here) a unit metric exceeding 10^16 RAISES rather than becoming a
    // silent NULL that would drop the unit from the arm moments — the
    // loud failure is the correct one for a test statistic.
    require(df.sparkSession.conf.get("spark.sql.ansi.enabled", "true")
      .toBoolean,
      "welchTest requires ANSI mode: with spark.sql.ansi.enabled=false an " +
        "overflowing per-unit metric becomes NULL and is silently excluded " +
        "from the arm moments")
    val units = df.filter(col(unitCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(armCol.as("arm"), col(unitCol).as("u"))
      .agg(sum(col(valueCol).cast("decimal(14,2)"))
        .cast("decimal(18,2)").as("m"))
    val arms = units.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("m")).as("s"),
        sum(col("m") * col("m")).as("ss"))
      .withColumn("mean", col("s").cast("double") / col("n"))
      .withColumn("vr",
        when(col("n") > 1,
          (col("ss").cast("double") - col("n") * col("mean") * col("mean"))
            / (col("n") - 1)))
    // 1-row global aggregates (null-filled on a missing arm) — same
    // missing-arm null propagation as [[abTest]]
    val a = arms.filter(col("arm") === 0)
      .agg(first(col("n")).as("n0"), first(col("mean")).as("m0"),
        first(col("vr")).as("v0"))
    val b = arms.filter(col("arm") === 1)
      .agg(first(col("n")).as("n1"), first(col("mean")).as("m1"),
        first(col("vr")).as("v1"))
    val se2 = col("v0") / col("n0") + col("v1") / col("n1")
    val stats = a.crossJoin(b).select(
      when(se2 > 0, round((col("m1") - col("m0")) / sqrt(se2), 6)).as("t"),
      when(se2 > 0, round(se2 * se2 /
        ((col("v0") / col("n0")) * (col("v0") / col("n0")) / (col("n0") - 1)
          + (col("v1") / col("n1")) * (col("v1") / col("n1")) / (col("n1") - 1)),
        6)).as("df"))
    arms.crossJoin(broadcast(stats))
      .select(col("arm"), col("n"),
        round(col("mean"), 6).as("mean"),
        round(sqrt(col("vr")), 6).as("sd"), col("t"), col("df"))
  }

  private val q183: Q = (s, d) =>
    welchTest(
      Tables.events(s, d).filter(col("user_id").isNotNull)
        .withColumn("unit",
          concat_ws("_", col("user_id"), to_date(col("ts")))),
      expr(s"pmod(${graft.operators.CrossHash.h60Expr("user_id")}, 2)"),
      "unit", "value")
      .orderBy(col("arm"))

  // ------------------------------------------------------ calibration bins --

  /** Calibration (reliability) bins — the third leg of the eval trio
    * (q179 AUC ranks, q180 tests, this measures whether scores MEAN what
    * they say): equal-width score bins over the observed [min, max], each
    * with its exposure count, mean score, and observed positive rate.
    * A calibrated scorer has mean_score ≈ pos_rate per bin.
    *
    * Bin assignment is floor((s − min)/width) on identical doubles —
    * deterministic cross-engine; the top edge clamps into the last bin.
    * Scores sum as DECIMAL (order-free exact); mean and rate are one IEEE
    * division each. Shape: one 2-scalar bounds aggregate broadcast, one
    * bins-bounded aggregate. */
  def calibrationBins(df: DataFrame, scoreCol: String, labelCol: Column,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"calibrationBins: bins must be >= 2, got $bins")
    val base = df.filter(col(scoreCol).isNotNull)
      .select(col(scoreCol).cast("double").as("s"),
        when(labelCol, 1L).otherwise(0L).as("y"))
    val bounds = base.agg(min(col("s")).as("lo"), max(col("s")).as("hi"))
    base.crossJoin(broadcast(bounds))
      .withColumn("bin",
        when(col("hi") === col("lo"), lit(0))
          .otherwise(least(
            floor((col("s") - col("lo")) * bins / (col("hi") - col("lo"))),
            lit(bins - 1)).cast("int")))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
        sum(col("s").cast("decimal(14,2)")).as("score_sum"))
      .select(col("bin"), col("n"), col("n_pos"),
        round(col("score_sum").cast("double") / col("n"), 6).as("mean_score"),
        round(col("n_pos").cast("double") / col("n"), 6).as("pos_rate"))
  }

  private val q181: Q = (s, d) =>
    calibrationBins(Tables.events(s, d), "value",
      col("event_type") === "purchase")
      .orderBy(col("bin"))

  // ------------------------------------------------------- A/B experiment --

  /** Two-proportion experiment readout — the A/B decision table: per arm
    * the exposed-user count and conversion rate, plus the treatment-vs-
    * control absolute lift and the pooled two-proportion z-statistic
    * (z = (p₁−p₀) / √(p̂(1−p̂)(1/n₀+1/n₁))). Assignment is whatever arm
    * expression the caller derives — typically the deterministic hash
    * split (q48's contract), here demonstrated with it.
    *
    * Unit = user (conversion deduped per user FIRST — counting events
    * would let one heavy user move the test). Shape: one distinct
    * (arm, user, converted?) collapse, one 2-row aggregate, scalar
    * arithmetic on the 2-row frame. Every statistic is a deterministic
    * scalar expression over exact counts — IEEE-identical cross-engine
    * before round(6). */
  def abTest(df: DataFrame, armCol: Column, userCol: String,
      convertedCol: Column): DataFrame = {
    val users = df.filter(col(userCol).isNotNull)
      .groupBy(armCol.as("arm"), col(userCol).as("u"))
      .agg(max(when(convertedCol, 1L).otherwise(0L)).as("conv"))
    val arms = users.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_conv"))
      .withColumn("rate",
        round(col("n_conv").cast("double") / col("n_users"), 6))
    // each side is a GLOBAL aggregate — always exactly one row, null-filled
    // when the arm is absent, so a missing arm NULLs lift/z through normal
    // null propagation instead of erasing every output row (a filter +
    // crossJoin here returns 0 rows for the present arm too)
    val a = arms.filter(col("arm") === 0)
      .agg(first(col("n_users")).as("n0"), first(col("n_conv")).as("c0"))
    val b = arms.filter(col("arm") === 1)
      .agg(first(col("n_users")).as("n1"), first(col("n_conv")).as("c1"))
    // z is undefined when the pooled rate saturates at 0 or 1 (the √0
    // denominator; under ANSI even double division throws) — NULL there.
    val pooled = (col("c0") + col("c1")).cast("double") / (col("n0") + col("n1"))
    val stats = a.crossJoin(b)
      .select(
        round(col("c1").cast("double") / col("n1")
          - col("c0").cast("double") / col("n0"), 6).as("lift"),
        when(col("c0") + col("c1") > 0 &&
            col("c0") + col("c1") < col("n0") + col("n1"),
          round((col("c1").cast("double") / col("n1")
            - col("c0").cast("double") / col("n0"))
            / sqrt(pooled * (lit(1.0) - pooled)
              * (lit(1.0) / col("n0") + lit(1.0) / col("n1"))), 6)).as("z"))
    arms.crossJoin(broadcast(stats))
      .select(col("arm"), col("n_users"), col("n_conv"), col("rate"),
        col("lift"), col("z"))
  }

  // the fixture's users ALL purchase eventually (saturated pooled rate →
  // z undefined), so the experiment unit is the user-DAY: does this
  // user convert today? Arms still split by USER (consistent exposure).
  private val q180: Q = (s, d) =>
    abTest(
      Tables.events(s, d).filter(col("user_id").isNotNull)
        .withColumn("unit",
          concat_ws("_", col("user_id"), to_date(col("ts")))),
      expr(s"pmod(${graft.operators.CrossHash.h60Expr("user_id")}, 2)"),
      "unit", col("event_type") === "purchase")
      .orderBy(col("arm"))

  // ------------------------------------------------------------ grouped AUC --

  /** Grouped ROC-AUC via the tie-aware Mann–Whitney rank-sum identity —
    * the ranking-quality metric every scoring model ships with:
    * AUC = (R₊ − n₊(n₊+1)/2) / (n₊·n₋), with tied scores taking their
    * average rank.
    *
    * Scale shape: the corpus collapses FIRST to (group, score) class
    * counts — bounded by distinct scores, which is what makes the rank
    * arithmetic windowable: the per-score average rank is
    * cum_before + (cnt+1)/2 from a cumulative count over the collapsed
    * frame, so no per-row ranking window ever touches the corpus. Half
    * ranks are avoided by carrying DOUBLED ranks (2·cum + cnt + 1) — the
    * whole identity stays in exact DECIMAL integer arithmetic
    * (AUC = (2R₊ − n₊(n₊+1)) / (2·n₊·n₋)) until ONE IEEE division,
    * bit-identical cross-engine before round(6); a decimal division here
    * would hit the engines' different result-scale rules. Groups with a
    * single class emit NULL (AUC undefined). */
  def groupedAuc(df: DataFrame, groupCol: String, scoreCol: String,
      labelCol: Column): DataFrame = {
    val counts = df.filter(col(scoreCol).isNotNull)
      .groupBy(col(groupCol).as("grp"), col(scoreCol).cast("double").as("s"))
      .agg(sum(when(labelCol, 1L).otherwise(0L)).as("np_s"),
        count(lit(1)).as("n_s"))
    val w = Window.partitionBy(col("grp")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = counts
      .withColumn("cum", coalesce(sum(col("n_s")).over(w), lit(0L)))
      .withColumn("rank2", col("cum") * 2 + col("n_s") + 1)
    ranked.groupBy(col("grp"))
      .agg(sum(col("np_s").cast("decimal(28,0)") * col("rank2")).as("rpos2"),
        sum(col("np_s")).as("np"),
        sum(col("n_s") - col("np_s")).as("nn"))
      .select(col("grp"), col("np"), col("nn"),
        when(col("np") > 0 && col("nn") > 0,
          round((col("rpos2").cast("double")
            - col("np").cast("double") * (col("np").cast("double") + 1))
            / (lit(2.0) * col("np").cast("double") * col("nn").cast("double")),
            6)).as("auc"))
  }

  private val q179: Q = (s, d) =>
    groupedAuc(Tables.events(s, d).withColumn("dow", dayofweek(col("ts"))),
      "dow", "value", col("event_type") === "purchase")
      .orderBy(col("grp"))

  // -------------------------------------------------------- target encoding --

  /** K-fold out-of-fold target encoding with additive smoothing — the
    * leakage-safe categorical feature: a row in fold f is encoded by the
    * target mean of its category computed WITHOUT fold f, shrunk toward
    * the global mean by `priorWeight` pseudo-observations
    * (enc = (Σ_oof + w·ḡ) / (n_oof + w), Micci-Barreca 2001). Emitted as
    * the (category, fold) lookup table a trainer joins — k·|cats| rows,
    * never a per-row frame.
    *
    * The fold is the cross-engine md5 hash of the id (the q48 split
    * contract): deterministic, reproducible, oracle-replayable. Exactness:
    * fold/category sums are DECIMAL; the out-of-fold numerator is a
    * decimal subtraction; the global mean and the final encoding are each
    * ONE IEEE division over identical operands — bit-identical before
    * round(6). Shape: one (cat, fold) aggregate, re-aggregated to cat
    * totals (partials, not a rescan), 1-row global frame broadcast. */
  def targetEncode(df: DataFrame, catCol: String, idCol: String,
      targetCol: String, folds: Int = 5, priorWeight: Int = 20): DataFrame = {
    require(folds >= 2 && priorWeight >= 0,
      s"targetEncode: need folds >= 2, priorWeight >= 0, got $folds, $priorWeight")
    val base = df
      .filter(col(catCol).isNotNull && col(targetCol).isNotNull)
      .select(col(catCol).as("cat"),
        col(targetCol).cast("decimal(14,2)").as("t"),
        expr(s"pmod(${CrossHash.h60Expr(idCol)}, $folds)").as("fold"))
    val g = base.agg(
      (sum(col("t")).cast("double") / count(lit(1))).as("gm"))
    val cf = base.groupBy(col("cat"), col("fold"))
      .agg(sum(col("t")).as("fs"), count(lit(1)).as("fn"))
    val c = cf.groupBy(col("cat"))
      .agg(sum(col("fs")).as("ts"), sum(col("fn")).as("tn"))
    cf.join(c, "cat").crossJoin(broadcast(g))
      .select(col("cat"), col("fold").cast("int").as("fold"),
        round(((col("ts") - col("fs")).cast("double")
          + lit(priorWeight) * col("gm"))
          / (col("tn") - col("fn") + priorWeight), 6).as("encoding"),
        (col("tn") - col("fn")).as("oof_n"))
  }

  private val q175: Q = (s, d) =>
    targetEncode(Tables.orders(s, d), "o_orderpriority", "o_orderkey",
      "o_totalprice")
      .orderBy(col("cat"), col("fold"))

  // ---------------------------------------------------------- active users --

  /** Rolling active users — DAU and trailing-W-day WAU per calendar day,
    * the canonical engagement metric. An exact rolling DISTINCT cannot ride
    * a window frame (distinct doesn't decompose over sliding sums); the
    * scale-correct exact form is contribution fan-out: each distinct
    * (user, day) activity row contributes to days d..d+W−1, so WAU(d) =
    * |distinct users in the W-day explode at d|. That is 2 distinct
    * shuffles + a W× fan-out of already-deduped (user, day) pairs — the
    * accepted exact cost; the sketch alternative (HLL per day, union over
    * the window) is the approximate path q135/q138 already provide.
    *
    * Days outside [min, max] of observed activity are clipped (a trailing
    * window at the corpus edge reports only observed days); days inside
    * the span with no activity still appear via the day spine, with
    * DAU = 0 and whatever WAU the window carries. */
  def activeUsers(df: DataFrame, userCol: String, tsCol: String,
      windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, s"activeUsers: windowDays must be >= 1, got $windowDays")
    val ud = df.filter(col(userCol).isNotNull)
      .select(col(userCol).as("u"), to_date(col(tsCol)).as("day"))
      .distinct()
      .localCheckpoint()
    val Array(b) = ud.agg(min("day"), max("day")).collect()
    // no activity at all: an empty spine, not a null DATE literal
    if (b.isNullAt(0))
      return ud.select(col("day"), lit(0L).as("dau"), lit(0L).as("wau")).limit(0)
    val (d0, d1) = (b.getDate(0), b.getDate(1))
    val spine = ud.sparkSession.range(1)
      .select(explode(expr(s"sequence(date'$d0', date'$d1', interval 1 day)"))
        .as("day"))
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("u"), explode(expr(
        s"sequence(day, date_add(day, ${windowDays - 1}), interval 1 day)"))
        .as("day"))
      .filter(col("day") <= lit(d1))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    spine.join(dau, Seq("day"), "left").join(wau, Seq("day"), "left")
      .select(col("day"), coalesce(col("dau"), lit(0L)).as("dau"),
        coalesce(col("wau"), lit(0L)).as("wau"))
  }

  private val q174: Q = (s, d) =>
    activeUsers(Tables.events(s, d), "user_id", "ts").orderBy(col("day"))

  // ------------------------------------------------------- robust outliers --

  /** MAD-based robust outliers (Iglewicz–Hoaglin modified z-score): rows
    * with |0.6745·(v − median) / MAD| > cutoff per key, where MAD is the
    * median absolute deviation. The robust complement to q142's
    * mean/stddev z-score — one 12σ spike inflates a stddev enough to hide
    * a 4σ one, while the median/MAD pair doesn't move.
    *
    * Exactness: percentile() and quantile_cont interpolate identically
    * over identical doubles, and each row's z is pure scalar arithmetic on
    * those — both engines produce bit-identical values before the 6-dp
    * round. Groups with MAD = 0 (a majority-constant key) are dropped
    * whole: the modified z-score is undefined there.
    *
    * Shape: two keyed exact-percentile aggregates (median, then MAD over
    * the deviations), each a keys-bounded stats frame AQE-broadcast back —
    * the q142 discipline, never a per-key window sort of the corpus. The
    * skinny (key, id, v) projection re-reads the pruned scan rather than
    * checkpointing n rows. */
  def madOutliers(df: DataFrame, keyCol: String, valCol: String,
      idCol: String, cutoff: Double = 3.5): DataFrame = {
    require(cutoff > 0, s"madOutliers: cutoff must be > 0, got $cutoff")
    val base = df.filter(col(valCol).isNotNull)
      .select(col(keyCol), col(idCol), col(valCol).cast("double").as("v"))
    val med = base.groupBy(col(keyCol))
      .agg(percentile(col("v"), lit(0.5)).as("m"))
    val withMed = base.join(med, keyCol)
    val mad = withMed.groupBy(col(keyCol))
      .agg(percentile(abs(col("v") - col("m")), lit(0.5)).as("mad"))
      .filter(col("mad") > 0)
    withMed.join(mad, keyCol)
      .withColumn("z",
        round(lit(0.6745) * (col("v") - col("m")) / col("mad"), 6))
      .filter(abs(col("z")) > cutoff)
      .select(col(keyCol), col(idCol), col("v"), col("z"))
  }

  private val q172: Q = (s, d) =>
    madOutliers(Tables.events(s, d), "event_type", "value", "event_id")
      .orderBy(col("event_type"), col("event_id"))

  // --------------------------------------------------------- discretization --

  /** Equal-frequency discretization (the feature-engineering binning that
    * beats equal-width on skewed columns): per key, NTILE(b) over the
    * (value, id) total order, then per-bin boundaries and exact decimal
    * mass. The id tiebreak makes the bin assignment a pure function of the
    * data — without it, equal values straddling a bin edge land
    * nondeterministically.
    *
    * One keyed window exchange (NTILE is a single pass over each key's
    * sort), one (key, bin)-bounded aggregate — ≤ keys × b rows out. */
  def equalFreqBins(df: DataFrame, keyCol: String, valCol: String,
      idCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 2, s"equalFreqBins: bins must be >= 2, got $bins")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("v"), col(idCol))
    df.filter(col(valCol).isNotNull)
      .select(col(keyCol), col(idCol),
        col(valCol).cast("decimal(14,2)").as("v"))
      // Pin bin to BIGINT (Spark ntile yields int32, DuckDB int64) and the
      // decimal mass to (38,2) (Spark widens sum(DECIMAL(14,2)) to (24,2),
      // DuckDB to (38,2)) — the driver's oracle hash is type-sensitive.
      .withColumn("bin", ntile(bins).over(w).cast("long"))
      .groupBy(col(keyCol), col("bin"))
      .agg(count(lit(1)).as("n"), min(col("v")).as("lo"),
        max(col("v")).as("hi"),
        sum(col("v")).cast("decimal(38,2)").as("mass"))
  }

  private val q171: Q = (s, d) => DriverOutput.noDecimals(
    equalFreqBins(Tables.events(s, d), "event_type", "value", "event_id")
      .orderBy(col("event_type"), col("bin")))

  /** EXACT per-group quantile values — the audit complement to
    * [[groupedHistogramQuantiles]] (q128, bounded-state approx, error ≤
    * bin width): percentile_disc semantics, the element at 1-indexed
    * position ⌈p·n⌉ of the group's sorted values. Quantile points arrive
    * as integer PER-MILLE (500 = median) and the position is the exact
    * integer ⌈pm·n/1000⌉ = (pm·n + 999) div 1000 — no float ever touches
    * the pick, because p·n in binary floating point lands just above
    * exact integer boundaries (0.9 × 10 = 9.000000000000002 → ⌈·⌉ = 10,
    * off by one vs the exact 9) and the two engines would then disagree
    * precisely at round group sizes. Ties need no tie-break: the value at
    * a multiset's k-th sorted position is unique even though row_number
    * among equal values is not.
    *
    * Contract: `valCol` must be an INTEGRAL column (byte/short/int/long) —
    * the all-integer discipline above only holds when the values
    * themselves carry no fractional part, so a fractional column is
    * rejected up front (r16 ADVICE: the old silent `cast("long")` would
    * truncate fractional quantile values with no error). Fixed-point
    * callers pre-scale to integer units (cents, micros) exactly as the
    * rest of the decimal discipline does.
    *
    * Shape: ONE key-partitioned window exchange (row_number + count share
    * the partitioning; the counter is the only per-group state), then a
    * map-side position-set membership filter — output |groups| × |pms|
    * rows, never a value buffer. At 100 TB this exact form is the per-
    * domain AUDIT you run on a sample or on bounded groups; the standing
    * report is q128's mergeable histogram state. */
  /** The exact-quantile family's input contract: the column must already
    * be integral — a silent `cast("long")` on a fractional column would
    * truncate quantile VALUES with no error (r16 ADVICE). Resolution-only
    * (one `df.schema` lookup), no job runs. */
  private def requireIntegral(df: DataFrame, colName: String,
      what: String): Unit = {
    import org.apache.spark.sql.types._
    val dt = df.schema(colName).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"$what column `$colName` must be integral (byte/short/int/long), " +
        s"got ${dt.simpleString} — pre-scale fixed-point data to integer " +
        s"units (cents, micros, tokens) instead of relying on truncation")
  }

  def groupQuantilesExact(df: DataFrame, keyCol: String, valCol: String,
      permille: Seq[Int]): DataFrame = {
    require(permille.nonEmpty && permille.forall(p => p >= 1 && p <= 1000),
      s"groupQuantilesExact: permille points must be in [1,1000], got $permille")
    requireIntegral(df, valCol, "groupQuantilesExact value")
    val pmArr = permille.distinct.sorted.mkString("array(", ", ", ")")
    val w = Window.partitionBy(col(keyCol)).orderBy(col("v"))
    df.filter(col(valCol).isNotNull)
      .select(col(keyCol), col(valCol).cast("long").as("v"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col(keyCol))))
      .select(col(keyCol), col("v"), col("n"),
        explode(expr(
          s"filter(transform($pmArr, pm -> named_struct('pm', pm, 'pos'," +
            " cast((pm * n + 999) div 1000 as bigint))), x -> x.pos = rn)"))
          .as("m"))
      .select(col(keyCol), col("m.pm").as("pm"), col("n"),
        col("v").as("q"))
  }

  private val q228: Q = (s, d) =>
    groupQuantilesExact(Tables.documents(s, d), "lang", "n_chars",
      Seq(250, 500, 750, 950))
      .orderBy(col("lang"), col("pm"))

  /** WEIGHTED exact per-group quantiles — [[groupQuantilesExact]] where
    * each row carries integer mass: the smallest value v whose cumulative
    * weight reaches pm/1000 of the group total ("half the corpus TOKENS
    * live in docs shorter than X chars" — the curation statistic
    * unweighted quantiles get wrong whenever long documents carry the
    * mass).
    * All-integer again: cumw·1000 ≥ pm·W decides the pick, no float —
    * which is also why BOTH the value column and the weight expression
    * must already be integral (enforced, same contract note as
    * [[groupQuantilesExact]]); token counts, cents, micros all are.
    *
    * Tie discipline: the cumulative sum runs over a RANGE frame (ties are
    * peers sharing one cumw — both engines' default ORDER BY frame), so
    * every quantity here is a pure function of the data; the picked v is
    * min over flagged rows, stable under any intra-tie order anyway.
    *
    * Shape: the same ONE keyed window exchange (cumulative + total share
    * the partitioning), a ≤ |pms|-wide map-side flag explode, and a
    * (key, pm)-bounded min aggregate. */
  def weightedGroupQuantiles(df: DataFrame, keyCol: String, valCol: String,
      weightCol: Column, permille: Seq[Int]): DataFrame = {
    require(permille.nonEmpty && permille.forall(p => p >= 1 && p <= 1000),
      s"weightedGroupQuantiles: permille points must be in [1,1000], got $permille")
    requireIntegral(df, valCol, "weightedGroupQuantiles value")
    requireIntegral(df.select(weightCol.as("wt")), "wt",
      "weightedGroupQuantiles weight")
    val pmArr = permille.distinct.sorted.mkString("array(", ", ", ")")
    val w = Window.partitionBy(col(keyCol)).orderBy(col("v"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    df.filter(col(valCol).isNotNull)
      .select(col(keyCol), col(valCol).cast("long").as("v"),
        weightCol.cast("long").as("wt"))
      .withColumn("cumw", sum(col("wt")).over(w))
      .withColumn("tw", sum(col("wt")).over(Window.partitionBy(col(keyCol))))
      .select(col(keyCol), col("v"), col("tw"),
        explode(expr(s"filter($pmArr, pm -> cumw * 1000 >= pm * tw)"))
          .as("pm"))
      .groupBy(col(keyCol), col("pm"))
      .agg(min(col("tw")).as("w_total"), min(col("v")).as("q"))
  }

  private val q230: Q = (s, d) =>
    weightedGroupQuantiles(Tables.documents(s, d), "lang", "n_chars",
      expr("cast(size(filter(split(text, ' '), t -> t != '')) as bigint)"),
      Seq(250, 500, 750, 950))
      .orderBy(col("lang"), col("pm"))

  // ------------------------------------------------- robust MAD outliers --

  /** Per-group robust location/scale PROFILE via exact median/MAD
    * (round 18) — the group-level audit complement to [[madOutliers]]
    * (q172): q172 flags individual ROWS by interpolated modified
    * z-score; this emits one row per GROUP — exact median, exact MAD
    * (median of |v − med|), the count of rows beyond `kTimes`·MAD and
    * the worst deviation — the "which domains have length anomalies
    * worth a look" readout a drift dashboard keys on before anyone
    * reads per-row flags.
    *
    * All-integer end to end: both medians are [[groupQuantilesExact]]
    * picks at pm = 500 (the ⌈n/2⌉-th value — the same integral-value
    * contract, so med, MAD, deviations and the kTimes·MAD verdict are
    * exact integer arithmetic; no float enters at any point, which is
    * also why ties at exactly kTimes·MAD are NOT outliers in both
    * engines (strict >).
    *
    * Shape: two keyed window exchanges (the two median passes — each is
    * q228's ONE row_number + count window) + one keyed final aggregate;
    * the groups-bounded median frames broadcast back. Deviations are
    * map-side arithmetic on the second pass's input, not a corpus
    * materialization. */
  def robustGroupProfile(df: DataFrame, keyCol: String, valCol: String,
      kTimes: Int = 5): DataFrame = {
    require(kTimes >= 1,
      s"robustGroupProfile: kTimes must be >= 1, got $kTimes")
    requireIntegral(df, valCol, "robustGroupProfile value")
    val base = df.filter(col(valCol).isNotNull)
      .select(col(keyCol), col(valCol).cast("long").as("_v"))
    val med = groupQuantilesExact(base, keyCol, "_v", Seq(500))
      .select(col(keyCol), col("q").as("_med"))
    val dev = base.join(broadcast(med), Seq(keyCol))
      .select(col(keyCol), col("_med"), abs(col("_v") - col("_med")).as("_d"))
    val mad = groupQuantilesExact(dev, keyCol, "_d", Seq(500))
      .select(col(keyCol), col("q").as("_mad"))
    dev.join(broadcast(mad), Seq(keyCol))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"), min(col("_med")).as("med"),
        min(col("_mad")).as("mad"),
        sum(when(col("_d") > lit(kTimes.toLong) * col("_mad"), 1L)
          .otherwise(0L)).as("n_outliers"),
        max(col("_d")).as("max_dev"))
  }

  private val q254: Q = (s, d) =>
    robustGroupProfile(Tables.documents(s, d), "lang", "n_chars")
      .orderBy(col("lang"))

  // ------------------------------------------------------ Kruskal-Wallis --

  /** Kruskal-Wallis H (rank one-way ANOVA, tie-corrected) — the k-group
    * generalization of the rank tests already on the surface (q179's
    * Mann-Whitney identity, q249's Spearman): do k groups share one
    * value distribution, judged on POOLED ranks so no normality
    * assumption enters. The experiment readout for >2 arms.
    *
    * Exactness: pooled doubled average ranks are exact integers (the
    * q249 rule: 2·cum_prev + cnt + 1 on the collapsed value frame);
    * per-group doubled rank sums are exact DECIMAL(38,0); each group's
    * H term n_g·(R̄_g − (N+1)/2)² is ONE pinned IEEE chain over those
    * exact operands, pre-rounded at 6 dp and pinned to DECIMAL BEFORE
    * the cross-group sum (the q185/q238 term rule — order-free), and
    * the final H / tie-correction C = 1 − Σ(t³−t)/(N³−N) is one more
    * identical-operand chain. Σ(t³−t) is exact DECIMAL (t³ overflows
    * int64 past ~2M-row ties).
    *
    * Scale shape: the corpus collapses ONCE to distinct (grp, v) cells;
    * the GLOBAL rank frame comes from the q249 two-level decomposition
    * (⌊v⌋-bucket local windows + a buckets-bounded offset frame — the
    * offset window is single-partition over ≤ |buckets| rows, never the
    * corpus); ranks join back to cells value-keyed; everything after is
    * groups-bounded. */
  def kruskalWallis(df: DataFrame, groupCol: String,
      valCol: String): DataFrame = {
    val cells = df.filter(col(groupCol).isNotNull && col(valCol).isNotNull)
      .groupBy(col(groupCol).as("grp"), col(valCol).cast("double").as("_v"))
      .agg(count(lit(1)).as("_c"))
      .localCheckpoint()
    // Checkpointed for the same duplicated-subtree reason as q249's
    // ranks2 (r22): the local window and the offsets aggregate are both
    // consumers of this pooled value frame.
    val vf = cells.groupBy(col("_v")).agg(sum(col("_c")).as("_cv"))
      .withColumn("_bkt", floor(col("_v")).cast("long"))
      .localCheckpoint()
    val wLoc = Window.partitionBy(col("_bkt")).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = vf.withColumn("_l", sum(col("_cv")).over(wLoc))
    val wOff = Window.orderBy(col("_bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = vf.groupBy(col("_bkt")).agg(sum(col("_cv")).as("_bc"))
      .withColumn("_off", coalesce(sum(col("_bc")).over(wOff), lit(0L)))
      .select(col("_bkt"), col("_off"))
    // Checkpointed: consumed by BOTH the per-group rank-sum join (gsum)
    // and the tie-correction aggregate (ties) — without it the whole
    // window + offsets chain runs twice (r22, same duplicated-subtree
    // class as vf above).
    val ranks = local.join(offsets, Seq("_bkt"))
      .select(col("_v"),
        ((col("_off") + col("_l") - col("_cv")) * 2 + col("_cv") + 1)
          .as("_r2"),
        col("_cv"))
      .localCheckpoint()
    val gsum = cells.join(ranks.select(col("_v"), col("_r2")), Seq("_v"))
      .groupBy(col("grp"))
      .agg(sum(col("_c")).as("_ng"),
        sum(col("_c").cast("decimal(38,0)") * col("_r2")).as("_R2"))
    val totals = gsum.agg(sum(col("_ng")).as("_N"),
      count(lit(1)).as("k_groups"))
    val ties = ranks.agg(
      sum(col("_cv").cast("decimal(38,0)") * col("_cv") * col("_cv")
        - col("_cv")).as("_T"))
    // Per-group term over exact operands, pre-rounded then summed exactly.
    // The square is an explicit multiplication, not pow(_, 2): the q200
    // house rule holds arbitrary pow engine-divergent (√ is the one
    // correctly-rounded power), and x*x removes the exception rather
    // than documenting it (VERDICT r18 "what's wrong" 2).
    val terms = gsum.crossJoin(broadcast(totals))
      .withColumn("_dev",
        expr("cast(_R2 as double) / (2.0 * _ng) - (_N + 1) / 2.0"))
      .select(col("_N"), col("k_groups"), expr("""
        cast(round(_ng * (_dev * _dev), 6) as decimal(28,6))""").as("_t"))
      .groupBy(col("_N"), col("k_groups"))
      .agg(sum(col("_t")).as("_S"))
    terms.crossJoin(broadcast(ties))
      .select(col("k_groups"), col("_N").as("n"),
        round(expr("12.0 * cast(_S as double) / (_N * (_N + 1.0))"), 6)
          .as("h"),
        // C = 0 (every pooled value identical — H undefined) → NULL.
        round(expr("""
          case when _N > 1 and cast(_T as double)
                     < cast(_N as double) * _N * _N - _N
               then (12.0 * cast(_S as double) / (_N * (_N + 1.0)))
                    / (1.0 - cast(_T as double)
                             / (cast(_N as double) * _N * _N - _N))
          end"""), 6)
          .as("h_tie_adj"))
  }

  private val q253: Q = (s, d) =>
    kruskalWallis(Tables.lineitem(s, d), "l_returnflag", "l_extendedprice")

  // ------------------------------------------------ inter-rater agreement --

  /** Cohen's kappa inter-rater agreement (round 18) — the chance-
    * corrected readout every labeling effort (human annotation rounds,
    * heuristic-vs-heuristic curation gates, model-vs-model judges)
    * reports instead of raw percent-agree: κ = (p_o − p_e)/(1 − p_e),
    * with p_e the agreement two INDEPENDENT raters with these marginals
    * would reach by chance. Here the two raters are any two categorical
    * columns over the same units.
    *
    * Exactness: everything is integer until three pinned divisions —
    * the confusion cells, margins, the diagonal and Σ_c nA_c·nB_c are
    * exact DECIMAL(38,0) counts, and the κ identity clears fractions:
    * κ = (n·agree − Σ nA·nB) / (n² − Σ nA·nB). p_o, p_e, κ are each ONE
    * IEEE division over those exact operands, round(6). Both raters
    * constant and equal (p_e = 1) → κ NULL.
    *
    * Shape: ONE keyed exchange (the (ra, rb) cell collapse, map-side
    * partials, |cats|² keys); margins, diagonal and the Σ product are
    * map-side folds over that bounded frame; three 1-row broadcasts
    * combine. Output: one row.
    *
    * Null contract (r18 ADVICE): units where EITHER rater expression
    * evaluates to NULL are excluded from n — the pairwise-complete
    * convention (an unlabeled unit cannot agree or disagree). Callers
    * whose oracle must see the same n either pass TOTAL rater
    * expressions (q257's `when(..).otherwise(..)` raters map NULL
    * inputs to 'drop', never to NULL — so the exclusion never fires and
    * the oracle's ELSE-branch CASE counts the identical n, nulls or
    * not) or mirror the exclusion with IS NOT NULL filters on the
    * rater EXPRESSIONS (filtering the raw input columns instead would
    * diverge: the engine keeps a null-input unit its total rater maps
    * to a category). Round19OpsSpec pins both arms. */
  def cohenKappa(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val cells = df
      .select(aCol.cast("string").as("_ra"), bCol.cast("string").as("_rb"))
      .filter(col("_ra").isNotNull && col("_rb").isNotNull)
      .groupBy(col("_ra"), col("_rb"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("_c"))
      .localCheckpoint()
    val n = cells.agg(sum(col("_c")).as("_n"))
    val agree = cells.agg(
      coalesce(sum(when(col("_ra") === col("_rb"), col("_c"))),
        lit(0).cast("decimal(38,0)")).as("_agree"))
    val na = cells.groupBy(col("_ra").as("_cat")).agg(sum(col("_c")).as("_na"))
    val nb = cells.groupBy(col("_rb").as("_cat")).agg(sum(col("_c")).as("_nb"))
    val prod = na.join(nb, Seq("_cat"))
      .agg(coalesce(sum(col("_na") * col("_nb")),
        lit(0).cast("decimal(38,0)")).as("_S"))
    n.crossJoin(broadcast(agree)).crossJoin(broadcast(prod))
      .select(col("_n").cast("long").as("n"),
        col("_agree").cast("long").as("n_agree"),
        round(expr("cast(_agree as double) / cast(_n as double)"), 6)
          .as("po"),
        round(expr(
          "cast(_S as double) / (cast(_n as double) * cast(_n as double))"),
          6).as("pe"),
        round(expr("""
          case when cast(_n as decimal(38,0)) * _n <> _S
               then (cast(_n * _agree - _S as double))
                    / (cast(_n * _n - _S as double)) end"""), 6)
          .as("kappa"))
  }

  private val q257: Q = (s, d) =>
    cohenKappa(Tables.documents(s, d),
      when(col("n_chars") >= 500, lit("keep")).otherwise(lit("drop")),
      when(expr("size(filter(split(text, ' '), t -> t != ''))") >= 90,
        lit("keep")).otherwise(lit("drop")))

  // ------------------------------------------------- Wilson intervals --

  /** Wilson score confidence intervals for per-group proportions
    * (Wilson 1927, round 18) — the interval readout the experiment
    * family lacked next to its point tests (q141 two-proportion z, q180
    * A/B, q238 chi²): a rate of 3/10 and a rate of 3000/10000 are both
    * "0.3", and only the interval says which one you may act on. Wilson,
    * not Wald: Wald collapses to ±0 at p̂ ∈ {0, 1} and escapes [0, 1];
    * Wilson stays calibrated at small n and extreme rates — exactly the
    * rows a dashboard sorts to the top.
    *
    * Determinism: (n, k) are exact counts; the interval is ONE pinned
    * identical-operand IEEE chain per group (z fixed at 1.96, written
    * identically in both engines), round(6).
    *
    * Shape: ONE groups-bounded keyed aggregate with map-side partials;
    * the chain is a map-side projection over it. */
  def wilsonIntervals(df: DataFrame, groupCol: String,
      successCol: Column): DataFrame = {
    val per = df.filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(when(successCol, 1L).otherwise(0L)).as("k"))
      .withColumn("_p", expr("k / cast(n as double)"))
    per.select(col(groupCol), col("n"), col("k"),
      round(col("_p"), 6).as("rate"),
      round(expr("""
        (_p + 1.96*1.96/(2.0*n)) / (1.0 + 1.96*1.96/n)
        - 1.96 * sqrt(_p*(1.0-_p)/n + 1.96*1.96/(4.0*n*n))
          / (1.0 + 1.96*1.96/n)"""), 6).as("lo"),
      round(expr("""
        (_p + 1.96*1.96/(2.0*n)) / (1.0 + 1.96*1.96/n)
        + 1.96 * sqrt(_p*(1.0-_p)/n + 1.96*1.96/(4.0*n*n))
          / (1.0 + 1.96*1.96/n)"""), 6).as("hi"))
  }

  private val q265: Q = (s, d) =>
    wilsonIntervals(Tables.events(s, d), "event_type", col("value") > 100)
      .orderBy(col("event_type"))

  // ------------------------------------------------- CUSUM changepoint --

  /** CUSUM changepoint / volume-anomaly detection over daily event
    * counts (Page 1954, round 18) — the sequential drift alarm next to
    * the distributional gates (q184 KS, q185 PSI, q238 chi²): those
    * compare two WINDOWS; CUSUM watches the SERIES, accumulating
    * one-sided excursions beyond a slack band (k = σ/2) and alarming
    * when either side's sum crosses h = 4σ — it catches a sustained
    * small shift long before any fixed-window test, which is why
    * ingest-volume monitoring ships it.
    *
    * Determinism: the day frame is exact counts; mean and σ come from
    * exact integer moments via ONE pinned chain; the fold is the q244
    * discipline — an ORDERED fold over the days-bounded array with
    * per-step round(·, 9), so both engines execute the identical
    * operand sequence (the oracle replays it as a recursive CTE,
    * stepping the same rows in the same order with the same rounds).
    *
    * Shape: one days-bounded keyed aggregate over the corpus (map-side
    * partials), then everything — moments, the collect, the fold —
    * lives on the ≤ |days| frame. The corpus is scanned once. */
  def cusumDrift(df: DataFrame, tsCol: String): DataFrame = {
    val days = df.filter(col(tsCol).isNotNull)
      .select(to_date(col(tsCol)).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n"))
    val stats = days.agg(count(lit(1)).as("_nd"), sum(col("n")).as("_s"),
      sum(col("n").cast("decimal(38,0)") * col("n")).as("_s2"))
    val arr = days
      .agg(sort_array(collect_list(struct(col("day"), col("n")))).as("_a"))
    arr.crossJoin(broadcast(stats))
      .select(col("_a"), expr("cast(_s as double) / _nd").as("_mean"),
        expr("""sqrt((cast(_s2 as double)
                - cast(_s as double) * cast(_s as double) / _nd) / _nd)""")
          .as("_sig"))
      .select(col("_a"), col("_mean"), (col("_sig") * 0.5).as("_slack"),
        (col("_sig") * 4.0).as("_h"))
      .select(col("_h"), explode(expr("""
        aggregate(_a,
          named_struct('hi', cast(0 as double), 'lo', cast(0 as double),
            'out', cast(array() as
              array<struct<day: date, n: bigint, chi: double, clo: double>>)),
          (acc, x) -> named_struct(
            'hi', round(greatest(cast(0 as double),
                    acc.hi + (x.n - _mean - _slack)), 9),
            'lo', round(greatest(cast(0 as double),
                    acc.lo + (_mean - _slack - x.n)), 9),
            'out', concat(acc.out, array(named_struct(
              'day', x.day, 'n', x.n,
              'chi', round(greatest(cast(0 as double),
                       acc.hi + (x.n - _mean - _slack)), 9),
              'clo', round(greatest(cast(0 as double),
                       acc.lo + (_mean - _slack - x.n)), 9)))))).out"""))
        .as("_r"))
      .select(col("_r.day").as("day"), col("_r.n").as("n"),
        col("_r.chi").as("cusum_hi"), col("_r.clo").as("cusum_lo"),
        (col("_r.chi") > col("_h")).as("alarm_hi"),
        (col("_r.clo") > col("_h")).as("alarm_lo"))
  }

  private val q263: Q = (s, d) =>
    cusumDrift(Tables.events(s, d), "ts").orderBy(col("day"))

  // -------------------------------------------- conversion-lag quantiles --

  /** Conversion-latency percentiles (round 18) — the funnel-health SLA
    * readout: for every conversion, the lag to its as-of backward touch
    * (q31's join), then EXACT per-group quantiles of those lags
    * ([[groupQuantilesExact]] — lags are integral microseconds, so the
    * integral-value contract holds by construction). "Half of Sunday's
    * purchases convert within X minutes of the click" is this query's
    * output row.
    *
    * Composition is the point: the as-of carry is ONE user-keyed window
    * exchange (AsOf.asofJoin), the quantile pass ONE group-keyed window
    * exchange — both machines already certified; agreement here
    * certifies the composition. Untouched conversions (no prior click)
    * drop — they have no lag. */
  def conversionLagQuantiles(df: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String, touchType: String, convType: String,
      permille: Seq[Int]): DataFrame = {
    val purchases = df.filter(col(typeCol) === convType)
      .select(col(idCol), col(userCol), col(tsCol))
    val touches = df.filter(col(typeCol) === touchType)
      .select(col(userCol), col(tsCol), unix_micros(col(tsCol)).as("tus"))
    val lags = AsOf.asofJoin(purchases, touches, userCol, tsCol, Seq("tus"))
      .filter(col("asof_tus").isNotNull)
      .select(dayofweek(col(tsCol)).as("dow"),
        (unix_micros(col(tsCol)) - col("asof_tus")).as("lag_us"))
    groupQuantilesExact(lags, "dow", "lag_us", permille)
  }

  private val q264: Q = (s, d) =>
    conversionLagQuantiles(Tables.events(s, d), "user_id", "ts",
      "event_id", "event_type", "click", "purchase", Seq(500, 900, 990))
      .orderBy(col("dow"), col("pm"))

  // -------------------------------------- incremental aggregate maintenance --

  /** SECOND-MOMENT incremental aggregate maintenance (round 18) — the
    * variance leg [[aggState]]/[[mergeAggStates]] (q114) deliberately
    * lack: q114's state (cnt, Σv, min, max) merges trivially, but the
    * statistic every drift monitor actually needs is VARIANCE, and
    * naive per-snapshot variances do not merge (the cross-term). The
    * mergeable state here is the moment vector (n, Σv, Σv²) — the Chan
    * merge with the cross-term folded into exact sums — and
    * mean/variance re-derive from the MERGED moments at read time. The
    * oracle keeps q114's certificate shape, on the harder algebra: it
    * computes the SINGLE-PASS aggregate over the union directly, so
    * agreement proves merge(state(base), state(delta)) ≡
    * state(base ∪ delta) EXACTLY, not approximately — possible because
    * the moments are exact DECIMALs (2-dp values; Σv² exact at scale
    * 4), so merged and recomputed moments are bit-equal before the one
    * pinned mean/var chain.
    *
    * Shape: each snapshot is ONE keyed aggregate with map-side
    * partials; the merge is a key-keyed full-outer join of two
    * already-aggregated (small) frames + map-side arithmetic. Nothing
    * rescans the other snapshot's input — the incremental property. */
  def snapshotAggMerge(df: DataFrame, keyCol: String, valCol: String,
      inBase: Column): DataFrame = {
    // The split predicate is coalesced to a DEFINED boolean (NULL →
    // delta): a row whose inBase evaluates NULL would otherwise land in
    // NEITHER state(base) nor state(!base) — both filters reject NULL —
    // silently breaking merge(state(base), state(delta)) ≡
    // state(base ∪ delta) for generic split expressions (r18 ADVICE).
    // NULL→delta, not NULL→drop: every kept row provably lands in
    // exactly one snapshot, so the certificate quantifies over ALL rows
    // the null-key/null-value filter admits.
    val t = df.filter(col(keyCol).isNotNull && col(valCol).isNotNull)
      .select(col(keyCol).as("k"), col(valCol).cast("decimal(14,2)").as("_v"),
        coalesce(inBase, lit(false)).as("_b"))
    def state(p: DataFrame, suf: String) = p.groupBy(col("k"))
      .agg(count(lit(1)).as(s"_n$suf"),
        sum(col("_v")).cast("decimal(38,2)").as(s"_s$suf"),
        sum((col("_v") * col("_v")).cast("decimal(38,4)"))
          .cast("decimal(38,4)").as(s"_s2$suf"))
    val merged = state(t.filter(col("_b")), "b")
      .join(state(t.filter(!col("_b")), "d"), Seq("k"), "full_outer")
      .select(col("k"),
        (coalesce(col("_nb"), lit(0L)) + coalesce(col("_nd"), lit(0L)))
          .as("n"),
        (coalesce(col("_sb"), lit(0).cast("decimal(38,2)"))
          + coalesce(col("_sd"), lit(0).cast("decimal(38,2)")))
          .cast("decimal(38,2)").as("_s"),
        (coalesce(col("_s2b"), lit(0).cast("decimal(38,4)"))
          + coalesce(col("_s2d"), lit(0).cast("decimal(38,4)")))
          .cast("decimal(38,4)").as("_s2"))
    merged.select(col("k"), col("n"),
      col("_s").cast("double").as("total"),
      round(expr("cast(_s as double) / n"), 6).as("mean"),
      // population variance from merged moments; single-row keys → 0
      round(expr("""
        (cast(_s2 as double) - cast(_s as double) * cast(_s as double) / n)
        / n"""), 6).as("variance"))
  }

  private val q258: Q = (s, d) =>
    snapshotAggMerge(Tables.events(s, d), "user_id", "value",
      expr(s"pmod(${CrossHash.h60Expr("event_id")}, 4) != 0"))
      .orderBy(col("k"))

  // ---------------------------------------------------------- path mining --

  /** Session path mining: the most frequent length-3 event-type paths users
    * take WITHIN a session — the navigation-pattern diagnostic product
    * analytics runs before funnel design (which fixed sequence is worth a
    * funnel? this query's output). Paths crossing a session boundary never
    * count.
    *
    * Shape: the session assignment and the two lead() windows share the
    * single user-key exchange (subset partitioning ⇒ sorts only); the
    * boundary filter is `lead(sid, 2) = sid` on the SAME window pass; the
    * roll-up aggregate is bounded by |event types|³ keys and the final
    * top-k is TakeOrderedAndProject (per-partition partial top-k, never a
    * global sort materialization). The (n DESC, path ASC) total order
    * makes the k-cut deterministic. */
  def sessionPaths(df: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String, k: Int = 20,
      gapMicros: Long = 30L * 60L * 1000000L): DataFrame = {
    require(k >= 1, s"sessionPaths: k must be >= 1, got $k")
    val w = Window.partitionBy(col(userCol)).orderBy(col("us"), col(idCol))
    withSessionIds(
      df.select(col(userCol), col(idCol), col(typeCol).as("et"),
        unix_micros(col(tsCol)).as("us")),
      userCol, idCol, gapMicros)
      .withColumn("et2", lead(col("et"), 1).over(w))
      .withColumn("et3", lead(col("et"), 2).over(w))
      .withColumn("sid3", lead(col("sid"), 2).over(w))
      .filter(col("sid3") === col("sid"))
      .select(concat_ws(">", col("et"), col("et2"), col("et3")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(k)
  }

  private val q170: Q = (s, d) =>
    sessionPaths(Tables.events(s, d), "user_id", "ts", "event_id", "event_type")

  // ------------------------------------------------------- co-occurrence --

  /** Item co-occurrence projection of a (basket, item) relation — the
    * bipartite→item-graph projection collaborative filtering and
    * related-items features start from. For every item pair sharing a
    * basket: support (co-basket count) and lift = n_ij·N / (n_i·n_j).
    *
    * The scale hazard is the per-basket pair blowup (a power-law basket
    * with 10⁶ items mints 10¹² pairs): the basket is capped to its
    * `maxItemsPerBasket` smallest items FIRST (row_number ≤ m compiles to
    * WindowGroupLimit — each map task prunes before the exchange), so the
    * self-join on basket id fans out ≤ m²/2 per basket, Σ bounded. The
    * marginals are one bounded groupBy joined back on item (skinny,
    * AQE-broadcast when small); lift arithmetic runs in double — integer
    * n_i·n_j overflows 64 bits past ~3·10⁹ baskets. */
  def coOccurrence(df: DataFrame, basketCol: String, itemCol: String,
      maxItemsPerBasket: Int = 100): DataFrame =
    coOccurrenceFrom(distinctBasketItems(df, basketCol, itemCol),
      maxItemsPerBasket)

  /** The distinct non-NULL (basket, item) relation both [[coOccurrence]]
    * and the recommenders' seen set are built from — factored out (r21) so
    * [[recommenderBase]] computes the distinct exchange ONCE instead of
    * twice (once inside coOccurrence, once for `seen`). */
  private def distinctBasketItems(df: DataFrame, basketCol: String,
      itemCol: String): DataFrame =
    df.select(col(basketCol).as("b"), col(itemCol).as("it"))
      .filter(col("b").isNotNull && col("it").isNotNull).distinct()

  private def coOccurrenceFrom(bi: DataFrame,
      maxItemsPerBasket: Int): DataFrame = {
    require(maxItemsPerBasket >= 2,
      s"coOccurrence: maxItemsPerBasket must be >= 2, got $maxItemsPerBasket")
    val capped = bi
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("b")).orderBy(col("it"))))
      .filter(col("rn") <= maxItemsPerBasket).drop("rn")
      .localCheckpoint()
    val n = capped.select("b").distinct().count().toDouble
    val pairs = capped.select(col("b"), col("it").as("item1"))
      .join(capped.select(col("b"), col("it").as("item2")), "b")
      .filter(col("item1") < col("item2"))
      .groupBy("item1", "item2").agg(count(lit(1)).as("n_baskets"))
    val marg = capped.groupBy(col("it")).agg(count(lit(1)).as("m"))
    pairs
      .join(marg.select(col("it").as("item1"), col("m").as("m1")), "item1")
      .join(marg.select(col("it").as("item2"), col("m").as("m2")), "item2")
      .select(col("item1"), col("item2"), col("n_baskets"),
        round(col("n_baskets").cast("double") * n /
          (col("m1").cast("double") * col("m2").cast("double")), 6).as("lift"))
  }

  private val q165: Q = (s, d) =>
    coOccurrence(
      Tables.events(s, d).withColumn("item",
        from_json(col("props"), lit("k INT")).getField("k")),
      "user_id", "item")
      .orderBy(col("item1"), col("item2"))

  /** Item-to-user recommendations from the [[coOccurrence]] projection —
    * the classic neighborhood collaborative filter: a user's candidate
    * items are everything co-occurring with what they already have,
    * scored by the SUMMED lift over their items, already-seen items
    * anti-joined away, top-k per user. Per-item lifts are 6-dp rounded
    * then DECIMAL-pinned before the per-candidate sum (the PSI pre-round
    * rule — a double sum over a user's items is order-dependent), so
    * the (score DESC, item ASC) rank is a deterministic total order.
    *
    * Scale: rides coOccurrence's capped pair table (bounded fan-out);
    * the scoring join keys on item (the co-occurrence table is the small
    * side — AQE broadcasts it); the top-k is a WindowGroupLimit. */
  def recommendItems(df: DataFrame, basketCol: String, itemCol: String,
      k: Int = 3, maxItemsPerBasket: Int = 100): DataFrame = {
    require(k >= 1, s"recommendItems: k must be >= 1, got $k")
    val (sym, seen) = recommenderBase(df, basketCol, itemCol, maxItemsPerBasket)
    val scored = seen.join(sym, "_it")
      .groupBy(col("b"), col("rec"))
      .agg(sum(col("_l")).cast("decimal(38,6)").as("score"),
        count(lit(1)).as("n_sources"))
    recommenderTopK(scored, seen, basketCol, k, Nil)
  }

  /** Shared construction for the recommender pair: the symmetrized
    * co-occurrence edge list with the DECIMAL-pinned lift, and the
    * checkpointed distinct seen set. [[recommendItems]] and
    * [[recommendItemsCapped]] must stay in exact lockstep on this chain
    * (CappedRecommenderSpec's degrade-to-identity test rides on it), so
    * it lives here once (r15 review finding).
    *
    * The two-select union is NOT a double compute: ReuseExchange dedupes
    * the branches' identical pair-exchange subtree, so only the cheap
    * post-shuffle projection runs twice. A single-pass explode(array(
    * struct..)) rewrite was A/B-measured SLOWER (4.1–4.4 s vs 3.6–4.1 s
    * solo at sf0.1, round 13) — keep the union form. */
  private def recommenderBase(df: DataFrame, basketCol: String,
      itemCol: String, maxItemsPerBasket: Int): (DataFrame, DataFrame) = {
    // ONE distinct (basket, item) exchange feeds both the co-occurrence
    // pipeline and the seen set (r21 — they were the same frame computed
    // twice: one full re-scan + distinct of the input per query).
    val bi = distinctBasketItems(df, basketCol, itemCol).localCheckpoint()
    val co = coOccurrenceFrom(bi, maxItemsPerBasket)
      .withColumn("_l", col("lift").cast("decimal(12,6)"))
    val sym = co.select(col("item1").as("_it"), col("item2").as("rec"), col("_l"))
      .unionByName(co.select(col("item2").as("_it"), col("item1").as("rec"),
        col("_l")))
    val seen = bi.select(col("b"), col("it").as("_it"))
    (sym, seen)
  }

  /** Shared tail for the recommender pair: anti-join the user's FULL seen
    * set away (never recommend an owned item, capped or not), rank by the
    * deterministic (score DESC, rec) total order, keep the top-k
    * (WindowGroupLimit). */
  private def recommenderTopK(scored: DataFrame, seen: DataFrame,
      basketCol: String, k: Int, extraCols: Seq[Column]): DataFrame = {
    val fresh = scored.join(seen.select(col("b"), col("_it").as("rec")),
      Seq("b", "rec"), "left_anti")
    val w = Window.partitionBy(col("b"))
      .orderBy(col("score").desc, col("rec"))
    fresh
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(Seq(col("b").as(basketCol), col("rank").cast("int").as("rank"),
        col("rec"), col("score"), col("n_sources")) ++ extraCols: _*)
  }

  private val q218: Q = (s, d) => DriverOutput.noDecimals(
    recommendItems(
      Tables.events(s, d).withColumn("item",
        from_json(col("props"), lit("k INT")).getField("k")),
      "user_id", "item")
      .orderBy(col("user_id"), col("rank")))

  /** [[recommendItems]] with the production valves the uncapped form is
    * missing at 100 TB. The scoring join's fan-out is |seen_u| ×
    * neighbor-degree per user — unbounded on BOTH axes (a power user
    * with 10⁶ interactions, a hub item co-occurring with everything) —
    * and ranking that stream per user is a corpus-sized sort. Two caps,
    * applied in the order that keeps every intermediate bounded:
    *
    *  1. `maxNeighborsPerItem` — item-kNN truncation, the standard
    *     neighborhood-CF bound: each item keeps only its top-n
    *     co-occurrence edges by (lift DESC, rec). This runs on the
    *     SMALL pair table (already bounded by [[coOccurrence]]'s basket
    *     cap) as a WindowGroupLimit, and bounds the scoring join's
    *     output to |seen| × n BEFORE the big join ever happens. The
    *     first q226 cut ranked raw contributions instead and the 10×
    *     tier bench priced the mistake at 37× (a 72M-row per-user sort
    *     at tier; PERF.md round-15 section) — cap the small side, not
    *     the fan-out.
    *  2. `maxContribPerUser` — the per-user valve with the explicit
    *     q193/q194 truncation flag: each user keeps their top-C
    *     surviving contribution rows under the (lift DESC, rec, item)
    *     total order ((rec, item) is unique per user by construction),
    *     `capped = true` on the user's recommendations when rows were
    *     dropped. The ranked stream is already ≤ |seen_u| × n rows per
    *     user, so the valve's sort state is bounded by cap 1.
    *
    * Knowingly partial under truncation: a candidate accumulating many
    * small lifts can lose to one that kept fewer, larger ones — that is
    * the valve contract (bound the answer, say where it was bounded).
    * Cap 1 is a structural parameter like `maxItemsPerBasket` (disclosed
    * here, replayed by the oracle); cap 2 carries the row-level flag.
    * Both cap orders are TOTAL, so every score is deterministic and the
    * DuckDB oracle replays both caps row-for-row. The anti-join still
    * uses the user's FULL seen set — truncation may drop candidates,
    * never re-admit owned items.
    *
    * Bench note (round 19, root-caused): this query's wall-clock
    * amplifies SESSION heap residue more than any other on the surface
    * — its bounded contribution shuffle+sort has the highest allocation
    * rate, so accumulated collectable old-gen occupancy costs it the
    * most GC stalls per second (PERF.md "Round-19 q226 heat
    * amplification: root-caused": zero spill, zero fetch-wait, floor
    * returns to baseline after a full GC). A hot q226 sample in a long
    * session is a GC-budget reading, not a plan regression. */
  def recommendItemsCapped(df: DataFrame, basketCol: String, itemCol: String,
      k: Int = 3, maxItemsPerBasket: Int = 100,
      maxNeighborsPerItem: Int = 50, maxContribPerUser: Int = 2400): DataFrame = {
    require(k >= 1, s"recommendItemsCapped: k must be >= 1, got $k")
    require(maxNeighborsPerItem >= 1,
      s"recommendItemsCapped: maxNeighborsPerItem must be >= 1, got $maxNeighborsPerItem")
    require(maxContribPerUser >= 1,
      s"recommendItemsCapped: maxContribPerUser must be >= 1, got $maxContribPerUser")
    val (sym, seen) = recommenderBase(df, basketCol, itemCol, maxItemsPerBasket)
    // Cap 1: top-n neighbor list per item — a pure row_number filter so
    // it compiles to WindowGroupLimit over the bounded pair table.
    val nbr = sym
      .withColumn("_nr", row_number().over(
        Window.partitionBy(col("_it")).orderBy(col("_l").desc, col("rec"))))
      .filter(col("_nr") <= maxNeighborsPerItem)
      .drop("_nr")
    // Cap 2: per-user top-C surviving contributions under a total order.
    // The count-over-same-window sidecar funds the flag (q193 family-cap
    // shape); it forfeits WindowGroupLimit here, but cap 1 already
    // bounded the stream to |seen| × n rows.
    val w = Window.partitionBy(col("b"))
    val kept = seen.join(nbr, "_it")
      .withColumn("_rk", row_number().over(
        w.orderBy(col("_l").desc, col("rec"), col("_it"))))
      .withColumn("_nc", count(lit(1)).over(w))
      .filter(col("_rk") <= maxContribPerUser)
      .withColumn("_trunc", col("_nc") > maxContribPerUser)
    val scored = kept
      .groupBy(col("b"), col("rec"))
      .agg(sum(col("_l")).cast("decimal(38,6)").as("score"),
        count(lit(1)).as("n_sources"),
        bool_or(col("_trunc")).as("capped"))
    recommenderTopK(scored, seen, basketCol, k, Seq(col("capped")))
  }

  private val q226: Q = (s, d) => DriverOutput.noDecimals(
    recommendItemsCapped(
      Tables.events(s, d).withColumn("item",
        from_json(col("props"), lit("k INT")).getField("k")),
      "user_id", "item")
      .orderBy(col("user_id"), col("rank")))

  // ------------------------------------------------------------- upsert --

  /** CDC latest-wins merge (MERGE INTO compaction semantics without a
    * lakehouse format): one row per key from `base ∪ updates`, the winner
    * being the greatest `versionCols` tuple, updates beating base on exact
    * ties. The union never materializes twice and the dedup is a single
    * `row_number() = 1` window — one shuffle on the key, the same plan a
    * Delta/Iceberg MERGE compacts to. At 100 TB the key shuffle carries
    * only (keys ++ versionCols ++ payload actually selected).
    *
    * Determinism contract: `versionCols` must totally order rows within
    * each key PER INPUT — if two rows of the same input tie on the full
    * version tuple, `row_number` over the tie picks an arbitrary survivor
    * (nondeterministic across runs/partitionings; `_src` only breaks
    * base-vs-updates ties). Callers with non-unique version tuples should
    * append a unique id as the last version column, exactly as q73/q87 do
    * with `event_id`.
    */
  def mergeLatest(base: DataFrame, updates: DataFrame, keyCols: Seq[String],
      versionCols: Seq[String]): DataFrame = {
    require(!(base.columns ++ updates.columns).exists(Set("_src", "_rn")),
      "mergeLatest: inputs must not carry reserved columns _src/_rn")
    val tagged = base.withColumn("_src", lit(0))
      .unionByName(updates.withColumn("_src", lit(1)))
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy((versionCols.map(col(_).desc) :+ col("_src").desc): _*)
    tagged.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Latest event per (user, type), merging a 2/3 "base" with a 1/3
    * "updates" stream split on event_id — the split is arbitrary; the
    * contract is that the merged result equals latest-wins over the union. */
  private val q73: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
        col("value"))
    val base = ev.filter(col("event_id") % 3 =!= 0)
    val updates = ev.filter(col("event_id") % 3 === 0)
    mergeLatest(base, updates, Seq("user_id", "event_type"),
      Seq("ts", "event_id"))
      .select(col("user_id"), col("event_type"),
        col("event_id").as("last_event_id"),
        round(col("value"), 2).as("last_value"),
        col("_src").cast("int").as("from_update"))
      .orderBy(col("user_id"), col("event_type"))
  }

  // --------------------------------------------------------- table diff --

  /** Table reconciliation: classify every key in `a ∪ b` as
    * added / removed / changed / unchanged between two versions of a table
    * (the audit step after any CDC merge or backfill). ONE full-outer
    * shuffle join on the key — never a per-column subquery; the change
    * predicate is a null-safe comparison over the requested columns, so it
    * runs inside the join's codegen stage. */
  def tableDiff(a: DataFrame, b: DataFrame, keyCols: Seq[String],
      compareCols: Seq[String]): DataFrame = {
    val reserved = Set("_in_a", "_in_b", "change") ++ compareCols.map("_b_" + _)
    require(!(a.columns ++ b.columns).exists(reserved),
      s"tableDiff: inputs must not carry reserved columns $reserved")
    val aSel = a.select((keyCols ++ compareCols).map(col): _*)
      .withColumn("_in_a", lit(1))
    val bSel = b.select((keyCols.map(col) ++
        compareCols.map(c => col(c).as(s"_b_$c"))): _*)
      .withColumn("_in_b", lit(1))
    val joined = aSel.join(bSel, keyCols, "full_outer")
    val anyChanged = compareCols
      .map(c => !(col(c) <=> col(s"_b_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    joined.withColumn("change",
      when(col("_in_a").isNull, lit("added"))
        .when(col("_in_b").isNull, lit("removed"))
        .when(anyChanged, lit("changed"))
        .otherwise(lit("unchanged")))
  }

  /** Diff two deterministic "versions" of orders: v2 drops every 13th key
    * (removes), shifts price by +1000.0 on every 7th (changes — an exact
    * double add, so the cross-engine equality compare is bit-safe), and
    * appends every 17th key re-keyed past the id space (adds). */
  private val q76: Q = (s, d) => {
    val v1 = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"))
    val v2 = v1.filter(col("o_orderkey") % 13 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 1000.0)
          .otherwise(col("o_totalprice")))
      .unionByName(v1.filter(col("o_orderkey") % 17 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 100000000L))
    tableDiff(v1, v2, Seq("o_orderkey"), Seq("o_totalprice"))
      .groupBy(col("change"))
      .agg(count(lit(1)).as("n"),
        round(sum(coalesce(col("_b_o_totalprice"), col("o_totalprice"))), 2)
          .as("price_mass"))
      .orderBy(col("change"))
  }

  // ---------------------------------------------------------- histogram --

  /** Fixed-bin histogram: constant bin edges (no data-dependent min/max
    * pass), so the whole operator is one map-side projection + one
    * aggregation — the bin expression stays inside whole-stage codegen and
    * the scan prunes to the single binned column. */
  def histogram(df: DataFrame, valueCol: String, lo: Double, width: Double,
      nBins: Int): DataFrame = {
    require(nBins >= 1 && width > 0.0,
      s"histogram: need nBins >= 1 and width > 0, got nBins=$nBins width=$width")
    df.withColumn("bin",
        least(greatest(floor((col(valueCol) - lo) / width), lit(0L)),
          lit(nBins - 1L)).cast("int"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        round(sum(col(valueCol)), 2).as("sum_val"),
        round(avg(col(valueCol)), 4).as("avg_val"))
  }

  /** 20-bin price histogram over lineitem. */
  private val q75: Q = (s, d) =>
    histogram(Tables.lineitem(s, d), "l_extendedprice", 0.0, 5000.0, 20)
      .orderBy(col("bin"))

  // ---------------------------------------------------------- retention --

  /** Cohort retention: users grouped by their FIRST-activity date (the
    * cohort), counted by how many distinct days later they come back —
    * the companion analysis to [[funnel]] in any product/engagement stack.
    * Output: (cohort_date, day_offset, n_users), where day_offset 0 is the
    * cohort's own size.
    *
    * Two shuffles total, both on user-sized keys: a per-user min-date
    * window rides ONE hash exchange on the user key (the cohort date is
    * then available on every row with no join back), and the distinct
    * (cohort, offset, user) collapse feeds the final count. Nothing
    * carries event payloads; at 100 TB the state per user is one date. */
  def retention(events: DataFrame, userCol: String, timeCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol))
    events.select(col(userCol), to_date(col(timeCol)).as("_day"))
      .withColumn("cohort_date", min(col("_day")).over(w))
      .withColumn("day_offset", datediff(col("_day"), col("cohort_date")))
      .select(col(userCol), col("cohort_date"), col("day_offset")).distinct()
      .groupBy(col("cohort_date"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  private val q103: Q = (s, d) =>
    retention(Tables.events(s, d), "user_id", "ts")
      .orderBy(col("cohort_date"), col("day_offset"))

  /** Funnel × retention composition — the standard growth-analytics join:
    * the furthest funnel stage each user reaches per active day, bucketed by
    * that user's retention offset (days since first activity). Output:
    * (day_offset, stage, n_user_days) — does engagement depth hold up as
    * cohorts age, in one matrix.
    *
    * Shape: [[funnelStages]]'s per-(user, day) frame (one event sort), then
    * the cohort date arrives as a window over THAT aggregate — partitioned
    * by a prefix of the frame's own grouping key, so no join back to the
    * event table and nothing user-sized ever broadcasts. The final count
    * collapses to offsets × stages rows. */
  def cohortFunnel(events: DataFrame, userCol: String, timeCol: String,
      rowIdCol: String, typeCol: String, stages: Seq[String],
      maxGapSec: Option[Long] = None): DataFrame = {
    val reserved = Set("_day", "cohort_date", "day_offset")
    require(!events.columns.exists(reserved),
      s"cohortFunnel: inputs must not carry reserved columns ${reserved.mkString("/")}")
    val byDay = funnelStages(events.withColumn("_day", to_date(col(timeCol))),
      Seq(userCol, "_day"), timeCol, rowIdCol, typeCol, stages, maxGapSec)
    val w = Window.partitionBy(col(userCol))
    byDay.withColumn("cohort_date", min(col("_day")).over(w))
      .withColumn("day_offset", datediff(col("_day"), col("cohort_date")))
      .groupBy(col("day_offset"), col("stage"))
      .agg(count(lit(1)).as("n_user_days"))
  }

  private val q104: Q = (s, d) =>
    cohortFunnel(Tables.events(s, d), "user_id", "ts", "event_id",
      "event_type", Seq("signup", "view", "click", "purchase"))
      .orderBy(col("day_offset"), col("stage"))

  /** Batch sessionization — gap-based session assignment (the batch twin
    * of the streaming `session_window` in q83/q88): a new session starts
    * at a user's first event or after a silence longer than `gapMicros`;
    * sessions roll up to (user, session) rows with bounds and size.
    *
    * Times are integer epoch micros throughout (exact cross-engine, the
    * same convention as [[funnel]]); session numbering is a running sum of
    * the new-session flag, so ids are 1..n per user in time order —
    * deterministic with the (time, event id) tie-break.
    *
    * Scale shape: the lag flag and the running sum share ONE
    * (user)-partitioned (time, id)-ordered sort — a single exchange on the
    * user key, O(1) state per row (no per-session buffering); the roll-up
    * is a bounded-key aggregate. This is the classic one-sort sessionize
    * every clickstream pipeline runs at fact-table scale. */
  def sessionize(df: DataFrame, userCol: String, tsCol: String,
      idCol: String, gapMicros: Long = 30L * 60L * 1000000L): DataFrame = {
    withSessionIds(
      df.select(col(userCol), col(idCol), unix_micros(col(tsCol)).as("us")),
      userCol, idCol, gapMicros)
      .withColumnRenamed("sid", "session_id")
      .groupBy(col(userCol), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("us")).as("start_us"), max(col("us")).as("end_us"))
      .withColumn("duration_us", col("end_us") - col("start_us"))
  }

  private val q113: Q = (s, d) =>
    sessionize(Tables.events(s, d), "user_id", "ts", "event_id")
      .orderBy(col("user_id"), col("session_id"))

  /** First-order Markov transition matrix over per-user event timelines:
    * for each consecutive (src → dst) event pair the transition count and
    * the row-normalized probability P(dst | src) — the path-analysis
    * aggregate behind "what do users do after X" product questions and
    * behavioral next-event models.
    *
    * Cost shape: the SAME single (user)-partitioned (time, id)-ordered
    * exchange [[sessionize]] pays — `lead()` is O(1) per-row state over
    * that sort, pairs never materialize wider than (src, dst), and the
    * count aggregate's partial combine bounds every task's output by
    * |event_types|² regardless of event volume. The normalizing window
    * runs over the ALREADY-aggregated |types|²-row frame, not the events.
    * Times fold to integer epoch micros with the id tie-break, so the
    * ordering — and therefore every transition — is deterministic
    * cross-engine. */
  def transitionMatrix(df: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col("us"), col(idCol))
    val counts = df
      .select(col(userCol), col(idCol), col(typeCol).as("src"),
        unix_micros(col(tsCol)).as("us"))
      .withColumn("dst", lead(col("src"), 1).over(w))
      .filter(col("dst").isNotNull)
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
    val wSrc = Window.partitionBy(col("src"))
    counts.withColumn("p",
      round(col("n").cast("double") / sum(col("n")).over(wSrc).cast("double"), 6))
  }

  /** Event-type transition counts + P(dst|src) over the events stream. */
  private val q136: Q = (s, d) =>
    transitionMatrix(Tables.events(s, d), "user_id", "ts", "event_id",
      "event_type")
      .orderBy(col("src"), col("dst"))

  /** Mergeable per-key aggregate state — the incremental-materialized-view
    * pattern: `aggState` reduces a batch to (keys, cnt, vsum, vmin, vmax)
    * and [[mergeAggStates]] folds any number of such states into the state
    * of the union, WITHOUT touching the original rows. At 100 TB this is
    * the difference between re-scanning the fact table per refresh and
    * aggregating only the delta partition — the same commutative-monoid
    * algebra Spark's own partial/final aggregation exploits inside one
    * query, exposed here ACROSS queries/batches. All four components are
    * merge-associative (count/sum by +, min/max by min/max); avg and
    * friends derive from the state at read time. */
  def aggState(df: DataFrame, keyCols: Seq[String], valueCol: String): DataFrame = {
    require(keyCols.nonEmpty, "aggState: keyCols must be non-empty")
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"), sum(col(valueCol)).as("vsum"),
        min(col(valueCol)).as("vmin"), max(col(valueCol)).as("vmax"))
  }

  /** Folds two [[aggState]] frames (same key/state schema) into one. */
  def mergeAggStates(a: DataFrame, b: DataFrame, keyCols: Seq[String]): DataFrame =
    a.unionByName(b)
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("cnt")).as("cnt"), sum(col("vsum")).as("vsum"),
        min(col("vmin")).as("vmin"), max(col("vmax")).as("vmax"))

  /** Gate query: the merged state of two disjoint order batches (before /
    * since 1997) plus read-time derived columns. The oracle computes the
    * SAME aggregate from the raw rows in one pass — the hash gate thereby
    * certifies the merge algebra end-to-end, not just replays it. */
  private val q114: Q = (s, d) => {
    val orders = Tables.orders(s, d)
    val cut = lit("1997-01-01").cast("timestamp")
    val base = aggState(orders.filter(col("o_orderdate") < cut),
      Seq("o_orderpriority"), "o_totalprice")
    val delta = aggState(orders.filter(col("o_orderdate") >= cut),
      Seq("o_orderpriority"), "o_totalprice")
    mergeAggStates(base, delta, Seq("o_orderpriority"))
      .select(col("o_orderpriority"), col("cnt"),
        round(col("vsum"), 2).as("vsum"),
        round(col("vmin"), 2).as("vmin"), round(col("vmax"), 2).as("vmax"),
        round(col("vsum") / col("cnt"), 4).as("vavg"))
      .orderBy(col("o_orderpriority"))
  }

  // --------------------------------------------------------------- SCD2 --

  /** Batch SCD2 (slowly-changing-dimension type 2) interval construction:
    * collapse a key's time-ordered attribute stream into validity intervals
    * — one row per run of consecutive equal values, with `valid_from_us`
    * (first observation), `valid_to_us` (next run's start, null while
    * current), and the run's event count. The batch complement of the
    * streaming CDC upsert (q87): that keeps only the latest value, this
    * keeps the full history as ranges — the dimension-table shape every
    * warehouse join-asof consumes.
    *
    * Change detection is a null-safe `<=>` against the lagged value (a
    * null attribute forms runs like any other value) with a row_number
    * guard so a key's first row ALWAYS opens a run — even when the first
    * value is null, where `lag IS NOT DISTINCT FROM value` alone would
    * miss it. Times are integer epoch micros with the
    * (time, event id) tie-break — the [[sessionize]]/[[funnel]] convention,
    * exact cross-engine.
    *
    * Scale shape: the lag flag and run ids share ONE (key)-partitioned
    * (time, id)-ordered sort — O(1) state per row; the interval roll-up is
    * a grouped aggregate and the `valid_to` stitch is a lead over the
    * RUNS frame (already collapsed, orders of magnitude smaller than the
    * event frame). Nothing buffers a key's history in memory. */
  def scd2(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
      valCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("us"), col(idCol))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val runs = df
      .select(col(keyCol), col(idCol), col(valCol),
        unix_micros(col(tsCol)).as("us"))
      .withColumn("chg",
        when(row_number().over(w) === 1 ||
          !(lag(col(valCol), 1).over(w) <=> col(valCol)), 1L).otherwise(0L))
      .withColumn("run", sum(col("chg")).over(wRun))
      .groupBy(col(keyCol), col("run"), col(valCol))
      .agg(min(col("us")).as("valid_from_us"), count(lit(1)).as("n_events"))
    val wRuns = Window.partitionBy(col(keyCol)).orderBy(col("run"))
    runs
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(wRuns))
      .withColumn("is_current", col("valid_to_us").isNull)
  }

  private val q116: Q = (s, d) =>
    scd2(Tables.events(s, d), "user_id", "ts", "event_id", "event_type")
      .orderBy(col("user_id"), col("run"))

  /** CUPED covariate adjustment (Deng et al. 2013) — the variance-
    * reduction pass every experimentation platform runs before the
    * t-test: each unit's experiment-period metric y is adjusted by its
    * PRE-period covariate x (y* = y − θ(x − x̄), θ = cov(x,y)/var(x)
    * pooled across arms), shrinking variance without biasing the arm
    * difference. Pre/post split at the corpus time midpoint; arms from
    * the deterministic md5 unit split (q180's contract).
    *
    * Exactness: unit metrics are cent integers; the pooled moments
    * (Σx, Σy, Σxy, Σx²) are exact DECIMAL sums; θ and x̄ are scalar
    * double chains with pinned operand order; each unit's y* rounds to
    * 6 dp and re-pins to DECIMAL so per-arm sums are order-free; means
    * are integer half-up quotients; the two variances and their ratio
    * are the one scalar double chain per arm (the Welch discipline).
    * Zero pre-period variance → θ = 0 (adjustment is a no-op, not a
    * division error).
    *
    * Scale: one unit-keyed aggregate, one 1-row moments broadcast, one
    * arms-bounded roll-up. */
  def cuped(df: DataFrame, userCol: String, tsCol: String,
      valCol: String, armCol: Column): DataFrame = {
    val b = df.agg(min(unix_micros(col(tsCol))).as("_lo"),
      max(unix_micros(col(tsCol))).as("_hi"))
    val units = df.filter(col(userCol).isNotNull)
      .crossJoin(broadcast(b))
      .withColumn("_pre", unix_micros(col(tsCol)) * 2 < col("_lo") + col("_hi"))
      .groupBy(armCol.as("arm"), col(userCol).as("_u"))
      .agg(
        coalesce(sum(when(col("_pre"),
          (col(valCol).cast("decimal(14,2)") * 100).cast("long"))), lit(0L))
          .as("_xc"),
        coalesce(sum(when(!col("_pre"),
          (col(valCol).cast("decimal(14,2)") * 100).cast("long"))), lit(0L))
          .as("_yc"))
      .localCheckpoint()
    val m = units.agg(count(lit(1)).as("_n"),
      sum(col("_xc")).as("_sx"), sum(col("_yc")).as("_sy"),
      sum(col("_xc").cast("decimal(18,0)") * col("_yc").cast("decimal(18,0)"))
        .as("_sxy"),
      sum(col("_xc").cast("decimal(18,0)") * col("_xc").cast("decimal(18,0)"))
        .as("_sxx"))
    val theta = when(
      col("_sxx").cast("double") * col("_n") -
        col("_sx").cast("double") * col("_sx").cast("double") =!= 0.0,
      (col("_sxy").cast("double") * col("_n") -
        col("_sx").cast("double") * col("_sy").cast("double")) /
        (col("_sxx").cast("double") * col("_n") -
          col("_sx").cast("double") * col("_sx").cast("double")))
      .otherwise(lit(0.0))
    val adj = units.crossJoin(broadcast(m))
      .withColumn("_theta", theta)
      .withColumn("_ystar",
        round(col("_yc").cast("double") / 100.0 -
          col("_theta") * (col("_xc").cast("double") / 100.0 -
            col("_sx").cast("double") / (col("_n") * lit(100.0))), 6)
          .cast("decimal(18,6)"))
      .withColumn("_ym", (col("_ystar") * 1000000).cast("long"))
    adj.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_units"),
        sum(col("_yc")).as("_syc"),
        sum(col("_yc").cast("decimal(18,0)") * col("_yc").cast("decimal(18,0)"))
          .as("_sy2"),
        sum(col("_ym")).as("_sym"),
        sum(col("_ym").cast("decimal(18,0)") * col("_ym").cast("decimal(18,0)"))
          .as("_sst2m"))
      .select(col("arm"), col("n_units"),
        // Same floor form as mean_y_adj below: Σy cents can be negative for
        // a metric admitting negative values, and Spark's `div` truncates
        // toward zero while the oracle's `//` floors — the identical ulp
        // divergence documented for Σy*. Floor both.
        (expr("""((2 * _syc * 10000 + n_units)
                 - pmod(2 * _syc * 10000 + n_units, 2 * n_units))
                div (2 * n_units)""")
          .cast("decimal(20,0)") * lit(BigDecimal("0.000001")))
          .cast("decimal(38,6)").as("mean_y"),
        // Σy* can be NEGATIVE: Spark's `div` truncates toward zero while
        // DuckDB's `//` floors, so the quotient is written as an explicit
        // FLOOR division ((num − pmod(num, den)) is exactly divisible and
        // pmod is non-negative in both engines).
        (expr("""((2 * _sym + n_units)
                 - pmod(2 * _sym + n_units, 2 * n_units))
                div (2 * n_units)""")
          .cast("decimal(20,0)") * lit(BigDecimal("0.000001")))
          .cast("decimal(38,6)").as("mean_y_adj"),
        round(col("_sy2").cast("double") / 10000.0 / col("n_units") -
          (col("_syc").cast("double") / (col("n_units") * lit(100.0))) *
          (col("_syc").cast("double") / (col("n_units") * lit(100.0))), 6)
          .as("var_y"),
        round(col("_sst2m").cast("double") / 1.0e12 / col("n_units") -
          (col("_sym").cast("double") / (col("n_units") * lit(1000000.0))) *
          (col("_sym").cast("double") / (col("n_units") * lit(1000000.0))), 6)
          .as("var_adj"))
      .withColumn("var_ratio",
        when(col("var_y") =!= 0.0,
          round(col("var_adj") / col("var_y"), 6)))
  }

  private val q219: Q = (s, d) => DriverOutput.noDecimals(
    cuped(Tables.events(s, d), "user_id", "ts", "value",
      expr(s"pmod(${graft.operators.CrossHash.h60Expr("user_id")}, 2)"))
      .orderBy(col("arm")))

  /** Mix-shift (Oaxaca-Blinder) decomposition of a ratio metric between
    * two periods — the "WHY did the average move" readout every metrics
    * review asks for: ΔR splits per segment into a MIX effect
    * ((w₂−w₁)·r₁ — composition moved), a RATE effect (w₁·(r₂−r₁) — the
    * segment itself moved), and the interaction ((w₂−w₁)(r₂−r₁)). The
    * segment rows sum exactly to ΔR by construction. Periods split at
    * the corpus time midpoint; a segment absent from a period enters
    * with w = 0, r = 0 (its pre-rate anchors the mix term at zero — the
    * standard treatment, documented rather than silently dropped).
    *
    * Exactness: counts and cent sums are exact; every w/r is ONE IEEE
    * division; effect products are pinned scalar chains rounded at 6 dp
    * output-side only. Two bounded aggregates, one segment-keyed outer
    * join — nothing wide. */
  def mixShift(df: DataFrame, segCol: String, tsCol: String,
      valCol: String): DataFrame = {
    val b = df.agg(min(unix_micros(col(tsCol))).as("_lo"),
      max(unix_micros(col(tsCol))).as("_hi"))
    val seg = df.crossJoin(broadcast(b))
      .withColumn("_p",
        when(unix_micros(col(tsCol)) * 2 < col("_lo") + col("_hi"), 1)
          .otherwise(2))
      .groupBy(col(segCol), col("_p"))
      .agg(count(lit(1)).as("_n"),
        sum((col(valCol).cast("decimal(14,2)") * 100).cast("long")).as("_sc"))
      .localCheckpoint()
    val tot = seg.groupBy(col("_p")).agg(sum(col("_n")).as("_np"))
    val sided = seg.join(broadcast(tot), "_p")
      .withColumn("_w", col("_n").cast("double") / col("_np"))
      .withColumn("_r",
        col("_sc").cast("double") / (col("_n") * lit(100.0)))
    val p1 = sided.filter(col("_p") === 1).select(col(segCol),
      col("_n").as("n1"), col("_w").as("_w1"), col("_r").as("_r1"))
    val p2 = sided.filter(col("_p") === 2).select(col(segCol),
      col("_n").as("n2"), col("_w").as("_w2"), col("_r").as("_r2"))
    p1.join(p2, Seq(segCol), "full_outer")
      .select(col(segCol),
        coalesce(col("n1"), lit(0L)).as("n1"),
        coalesce(col("n2"), lit(0L)).as("n2"),
        coalesce(col("_w1"), lit(0.0)).as("_w1"),
        coalesce(col("_w2"), lit(0.0)).as("_w2"),
        coalesce(col("_r1"), lit(0.0)).as("_r1"),
        coalesce(col("_r2"), lit(0.0)).as("_r2"))
      .select(col(segCol), col("n1"), col("n2"),
        round(col("_w1"), 6).as("w1"), round(col("_w2"), 6).as("w2"),
        round(col("_r1"), 6).as("r1"), round(col("_r2"), 6).as("r2"),
        round((col("_w2") - col("_w1")) * col("_r1"), 6).as("mix_effect"),
        round(col("_w1") * (col("_r2") - col("_r1")), 6).as("rate_effect"),
        round((col("_w2") - col("_w1")) * (col("_r2") - col("_r1")), 6)
          .as("interaction"))
  }

  private val q220: Q = (s, d) =>
    mixShift(Tables.events(s, d), "event_type", "ts", "value")
      .orderBy(col("event_type"))

  // ------------------------------------------- chi-squared drift test --

  /** Pearson chi-squared test of independence between a CATEGORICAL
    * column and the pre/post period — the third leg of the drift family:
    * q184's KS answers "did this CONTINUOUS distribution move", q185's
    * PSI says WHERE a binned score moved, and this answers "did the
    * categorical MIX move" (event types, languages, sources) with the
    * test statistic review meetings actually quote. Period split is the
    * corpus time midpoint ([[mixShift]]'s rule, shared discipline).
    *
    * Exactness: observed counts are exact integers; expected counts
    * E = row_total · col_total / N run the HUGEINT hazard (rt·ct
    * overflows int64 past ~3·10^9 rows), so E is a pinned scalar IEEE
    * chain on exact-integer operands — `(CAST(rt AS DOUBLE) * ct) / N`,
    * identical operand order in both engines (the q183 Welch rule). Each
    * cell term (O−E)²/E pre-rounds at 6 dp before the cells-bounded
    * total (the q185 PSI discipline). Absent cells enter at O = 0 via
    * the margins' cross-spine — a category seen only pre still deviates.
    *
    * Shape: ONE corpus-wide keyed aggregate (map-side partials) down to
    * |cats|·2 cells; margins, spine and the statistic all live on that
    * bounded frame (broadcast joins, no corpus re-scan). Output: one row
    * per cell carrying the shared statistic and degrees of freedom —
    * bounded by construction at any corpus size. */
  def chi2Drift(df: DataFrame, catCol: String, tsCol: String): DataFrame = {
    val b = df.agg(min(unix_micros(col(tsCol))).as("_lo"),
      max(unix_micros(col(tsCol))).as("_hi"))
    val cells = df.crossJoin(broadcast(b))
      .withColumn("_p",
        when(unix_micros(col(tsCol)) * 2 < col("_lo") + col("_hi"), 1)
          .otherwise(2))
      .groupBy(col(catCol), col("_p"))
      .agg(count(lit(1)).as("obs"))
      .localCheckpoint()
    val rowTot = cells.groupBy(col(catCol)).agg(sum(col("obs")).as("_rt"))
    val colTot = cells.groupBy(col("_p")).agg(sum(col("obs")).as("_ct"))
    val n = cells.agg(sum(col("obs")).as("_n"))
    // Margins' cross product: every (cat, period) pair with both margins
    // observed — an absent cell is a real deviation (O = 0, E > 0).
    // cells is |cats|x2-bounded: broadcast explicitly so the join stays
    // BHJ at ANY corpus size (the r17 StatsSweep caught the stats-driven
    // SMJ flip at sf0.1 before this hint).
    val spine = rowTot.crossJoin(broadcast(colTot))
    val full = spine.join(broadcast(cells), Seq(catCol, "_p"), "left")
      .withColumn("obs", coalesce(col("obs"), lit(0L)))
      .crossJoin(broadcast(n))
      .withColumn("_e", col("_rt").cast("double") * col("_ct") / col("_n"))
      .withColumn("_term", round(
        (col("obs") - col("_e")) * (col("obs") - col("_e")) / col("_e"), 6))
    val stat = full.agg(
      round(sum(col("_term")), 6).as("chi2"),
      ((countDistinct(col(catCol)) - 1)
        * (countDistinct(col("_p")) - 1)).as("dof"))
    full.crossJoin(broadcast(stat))
      .select(col(catCol), col("_p").as("period"), col("obs"),
        round(col("_e"), 6).as("expected"), col("_term").as("term"),
        col("chi2"), col("dof"))
  }

  private val q238: Q = (s, d) =>
    chi2Drift(Tables.events(s, d), "event_type", "ts")
      .orderBy(col("event_type"), col("period"))

  // ------------------------------------------- Kaplan-Meier survival --

  /** Kaplan-Meier survival estimate per group — the time-to-event
    * readout (user churn, subscription lifetime) the proportions tests
    * (q180) cannot express: S(d) = Π_{t ≤ d} (n_t − d_t)/n_t over the
    * ordered life table, with right-censoring for units still alive at
    * the observation horizon (they leave the risk set without counting
    * as deaths — dropping them instead biases survival DOWN, the classic
    * mistake this estimator exists to fix).
    *
    * Unit derivation here: duration = whole days between a user's first
    * and last event; churned iff the last event predates the horizon by
    * more than `censorDays` (otherwise censored at that duration); group
    * = the q180 md5 arm contract, making this the experiment-arm
    * survival readout.
    *
    * Determinism: every factor is ONE IEEE division of exact integers
    * rounded at 9 dp, and the running product is a per-step
    * `round(acc · f, 9)` fold over the d-ORDERED life table — a pinned
    * scalar chain both engines replay verbatim (the q176 fold
    * discipline). Prefix products are computed as O(k²) HOF folds over
    * the collected per-group life table — k is DAYS-bounded (the span
    * of the observation window), never corpus-bounded, so the quadratic
    * is a constant at any scale.
    *
    * Shape: ONE user-keyed collapse (corpus-wide, map-side partials),
    * then everything lives on the (groups × days)-bounded life table:
    * a bounded cumulative window for the risk sets, a bounded collect +
    * fold for the curve. */
  def kaplanMeier(df: DataFrame, userCol: String, tsCol: String,
      groupCol: Column, censorDays: Int = 7): DataFrame = {
    require(censorDays >= 0,
      s"kaplanMeier: censorDays must be >= 0, got $censorDays")
    val dayUs = 86400000000L
    // userCol keeps its name so groupCol may derive from it (q244's arm).
    val per = df.filter(col(userCol).isNotNull)
      .groupBy(col(userCol))
      .agg(min(unix_micros(col(tsCol))).as("_t0"),
        max(unix_micros(col(tsCol))).as("_t1"))
    val hz = df.agg(max(unix_micros(col(tsCol))).as("_hz"))
    val dur = per.crossJoin(broadcast(hz))
      .withColumn("grp", groupCol)
      .withColumn("d", expr(s"(_t1 - _t0) div ${dayUs}L"))
      .withColumn("_ev", col("_t1") < col("_hz") - censorDays * dayUs)
    val lt = dur.groupBy(col("grp"), col("d"))
      .agg(sum(when(col("_ev"), 1L).otherwise(0L)).as("d_events"),
        sum(when(col("_ev"), 0L).otherwise(1L)).as("censored"))
      .localCheckpoint()
    val tot = lt.groupBy(col("grp"))
      .agg(sum(col("d_events") + col("censored")).as("_n"))
    val wPrev = Window.partitionBy(col("grp")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withRisk = lt.join(broadcast(tot), "grp")
      .withColumn("n_risk", col("_n") - coalesce(
        sum(col("d_events") + col("censored")).over(wPrev), lit(0L)))
      .withColumn("_f", round(
        (col("n_risk") - col("d_events")).cast("double") / col("n_risk"), 9))
    withRisk
      .groupBy(col("grp"))
      .agg(sort_array(collect_list(struct(col("d"), col("n_risk"),
        col("d_events"), col("censored"), col("_f")))).as("_rows"))
      .select(col("grp"), explode(expr("""
        transform(sequence(1, size(_rows)), i -> named_struct(
          'r', element_at(_rows, i),
          's', aggregate(slice(_rows, 1, i), cast(1.0 as double),
                 (acc, x) -> round(acc * x._f, 9))))""")).as("_e"))
      .select(col("grp"), col("_e.r.d").as("d"),
        col("_e.r.n_risk").as("n_risk"),
        col("_e.r.d_events").as("d_events"),
        col("_e.r.censored").as("censored"),
        col("_e.s").as("survival"))
  }

  private val q244: Q = (s, d) =>
    kaplanMeier(Tables.events(s, d), "user_id", "ts",
      expr(s"pmod(${graft.operators.CrossHash.h60Expr("user_id")}, 2)"))
      .orderBy(col("grp"), col("d"))

  /** Time-weighted state occupancy over the [[scd2]] intervals — the
    * state-machine readout (how long does each entity SPEND in each
    * state, and what share of its observed span): per (key, state), the
    * summed interval durations against the key's horizon (its last
    * observed event), plus the share of the key's total span. A state
    * re-entered across several runs accumulates across all of them; the
    * final open interval closes at the horizon (zero-width when the
    * last event itself changed state). Pure integer micros + ONE IEEE
    * division per row; single-event keys (span 0) report NULL share.
    *
    * Scale: rides scd2's one (key, time) sort; the occupancy roll-up is
    * (key × states)-bounded. */
  def stateOccupancy(df: DataFrame, keyCol: String, tsCol: String,
      idCol: String, stateCol: String): DataFrame = {
    val iv = scd2(df, keyCol, tsCol, idCol, stateCol)
    val horizon = df
      .groupBy(col(keyCol))
      .agg(max(unix_micros(col(tsCol))).as("_h"),
        min(unix_micros(col(tsCol))).as("_lo"))
    // No broadcast hint: horizon has ONE ROW PER KEY — unbounded
    // cardinality at 100 TB, so forcing a broadcast would be a driver
    // OOM at scale. Both sides key on keyCol (iv inherits scd2's key
    // exchange), so the optimizer picks a co-partitioned join there and
    // AQE still broadcasts when the key count is actually small.
    iv.join(horizon, Seq(keyCol))
      .withColumn("_occ",
        coalesce(col("valid_to_us"), col("_h")) - col("valid_from_us"))
      .groupBy(col(keyCol), col(stateCol))
      .agg(sum(col("_occ")).as("occupancy_us"),
        sum(col("n_events")).as("n_events"),
        max(col("_h") - col("_lo")).as("_span"))
      .withColumn("share",
        when(col("_span") > 0,
          round(col("occupancy_us").cast("double") / col("_span"), 6)))
      .select(col(keyCol), col(stateCol), col("occupancy_us"),
        col("n_events"), col("share"))
  }

  private val q217: Q = (s, d) =>
    stateOccupancy(Tables.events(s, d), "user_id", "ts", "event_id",
      "event_type")
      .orderBy(col("user_id"), col("event_type"))

  // ------------------------------------------------------------ skyline --

  /** 2-D skyline (Pareto frontier): rows not strictly dominated on
    * (minimize `minCol`, maximize `maxCol`) — q dominates p iff q is no
    * worse in both dimensions and strictly better in one. Emits every input
    * row attaining a frontier point (ties included), the standard
    * NOT-EXISTS semantics the oracle replays literally.
    *
    * Scale shape — never the n² pairwise test: (1) collapse to the best
    * `maxCol` per distinct `minCol` (hash aggregate; the frontier can only
    * contain per-x maxima); (2) prune locally — within arbitrary hash
    * groups of that collapsed frame, a running max over x-ascending order
    * drops dominated points (domination within ANY subset implies global
    * domination, so group choice affects only prune rate, not
    * correctness); (3) one global running-max pass over the survivors —
    * single-partition by necessity, but its input is each group's local
    * frontier, typically output-sized; (4) a semi-join (broadcast-small
    * frontier) recovers the attaining rows. Stages 1–3 touch only the two
    * dimension columns. */
  def skyline(df: DataFrame, minCol: String, maxCol: String,
      numGroups: Int = 64): DataFrame = {
    val best = df.groupBy(col(minCol)).agg(max(col(maxCol)).as("_by"))
    val wl = Window.partitionBy(col("_g")).orderBy(col(minCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = best
      .withColumn("_g", pmod(hash(col(minCol)), lit(numGroups)))
      .withColumn("_m", max(col("_by")).over(wl))
      .filter(col("_m").isNull || col("_by") > col("_m"))
      .drop("_g", "_m")
    val wg = Window.orderBy(col(minCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = local
      .withColumn("_m", max(col("_by")).over(wg))
      .filter(col("_m").isNull || col("_by") > col("_m"))
      .select(col(minCol), col("_by").as(maxCol))
    df.join(broadcast(frontier), Seq(minCol, maxCol), "left_semi")
  }

  private val q117: Q = (s, d) =>
    skyline(Tables.part(s, d).select("p_partkey", "p_retailprice", "p_size"),
      "p_retailprice", "p_size")
      .orderBy(col("p_partkey"))

  // ------------------------------------------------ histogram quantiles --

  /** Quantile estimation from fixed-bin histogram state — the no-global-sort
    * quantile path at 100 TB: exact `percentile_cont` needs a full sort (or
    * a per-group buffer of every value); this reduces the corpus to O(nBins)
    * mergeable counts (the same clamp-binning as [[histogram]], so existing
    * histogram state can be reused), then interpolates each requested
    * quantile inside its covering bin. Estimate error is bounded by the bin
    * width — the operator surfaces the covering bin so callers can see the
    * resolution they bought. Deterministic: bins are exact integer counts,
    * the rank r = p × total and the interpolation are fixed-order IEEE
    * arithmetic, identical cross-engine (6-dp round absorbs nothing — it is
    * cosmetic).
    *
    * Scale shape: the binning aggregate is the ONLY corpus-sized stage
    * (map-side partial combine into ≤ nBins groups); the cumulative walk
    * and the quantile probe run on ≤ nBins × |ps| rows. The counts are
    * merge-associative, so per-batch histograms fold into corpus quantiles
    * without re-scanning history — the [[aggState]] economics applied to
    * distributions. */
  def histogramQuantiles(df: DataFrame, valueCol: String, lo: Double,
      width: Double, nBins: Int, ps: Seq[Double]): DataFrame = {
    require(nBins >= 1 && width > 0.0,
      s"histogramQuantiles: need nBins >= 1 and width > 0, got $nBins/$width")
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0),
      s"histogramQuantiles: quantiles must be in (0, 1]: $ps")
    quantileWalk(histogramState(df, valueCol, lo, width, nBins),
      lo, width, ps)
  }

  /** The (bin, n) histogram STATE — the mergeable half of
    * [[histogramQuantiles]] (bin counts are disjoint sums: two states
    * merge by adding counts per bin, exactly). */
  private[graft] def histogramState(df: DataFrame, valueCol: String,
      lo: Double, width: Double, nBins: Int): DataFrame =
    df.withColumn("bin",
        least(greatest(floor((col(valueCol) - lo) / width), lit(0L)),
          lit(nBins - 1L)).cast("int"))
      .groupBy("bin").agg(count(lit(1)).as("n"))

  /** The cumulative walk + in-bin interpolation over a histogram state. */
  private[graft] def quantileWalk(h: DataFrame, lo: Double, width: Double,
      ps: Seq[Double]): DataFrame = {
    val wc = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = h
      .withColumn("cum", sum(col("n")).over(wc))
      .withColumn("total",
        sum(col("n")).over(Window.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
    val psDf = h.sparkSession.range(1)
      .select(explode(array(ps.map(lit(_)): _*)).as("p"))
    cum
      .crossJoin(psDf)
      .filter((col("cum") - col("n")) < col("p") * col("total") &&
        col("cum") >= col("p") * col("total"))
      .select(col("p"), col("bin"),
        round(lit(lo) + lit(width) * (col("bin") +
          (col("p") * col("total") - (col("cum") - col("n"))) / col("n")),
          6).as("q_est"))
  }

  /** q222: cross-snapshot histogram-state merge — q215's mergeability
    * certification for the quantile sketch: two deterministic snapshots
    * (even/odd l_orderkey) build histogram states INDEPENDENTLY, the
    * states merge by per-bin count addition (exact — disjoint sums),
    * and the merged walk must equal quantiles over the whole table, so
    * q120's oracle gates it verbatim. This is the daily-rollup shape: a
    * quantile dashboard keeps nBins counts per day and answers any date
    * range by adding states, never rereading data. */
  private val q222: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    def half(p: Int) = histogramState(
      li.filter(pmod(col("l_orderkey"), lit(2)) === p),
      "l_extendedprice", 0.0, 5000.0, 20)
    val merged = half(0).unionByName(half(1))
      .groupBy(col("bin")).agg(sum(col("n")).as("n"))
    quantileWalk(merged, 0.0, 5000.0, Seq(0.5, 0.9, 0.95, 0.99))
      .orderBy(col("p"))
  }

  private val q120: Q = (s, d) =>
    histogramQuantiles(Tables.lineitem(s, d), "l_extendedprice",
      0.0, 5000.0, 20, Seq(0.5, 0.9, 0.95, 0.99))
      .orderBy(col("p"))

  /** Per-group [[histogramQuantiles]] — the per-domain/per-language
    * percentile report a curation pipeline emits (length p50/p95 per
    * source, score p99 per language, ...) without a per-group sort or a
    * per-group value buffer: state is ≤ |groups| × nBins mergeable counts.
    * Same binning, cumulative walk, and in-bin interpolation as the global
    * form, with every window PARTITIONed by the group — the per-group walk
    * runs on ≤ nBins rows per group, and groups parallelize across the
    * cluster instead of serializing through one global window. */
  def groupedHistogramQuantiles(df: DataFrame, groupCol: String,
      valueCol: String, lo: Double, width: Double, nBins: Int,
      ps: Seq[Double]): DataFrame = {
    require(nBins >= 1 && width > 0.0,
      s"groupedHistogramQuantiles: need nBins >= 1 and width > 0, got $nBins/$width")
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0),
      s"groupedHistogramQuantiles: quantiles must be in (0, 1]: $ps")
    val h = df
      .withColumn("bin",
        least(greatest(floor((col(valueCol) - lo) / width), lit(0L)),
          lit(nBins - 1L)).cast("int"))
      .groupBy(col(groupCol), col("bin")).agg(count(lit(1)).as("n"))
    val wc = Window.partitionBy(col(groupCol)).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.partitionBy(col(groupCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = h
      .withColumn("cum", sum(col("n")).over(wc))
      .withColumn("total", sum(col("n")).over(wt))
    val psDf = df.sparkSession.range(1)
      .select(explode(array(ps.map(lit(_)): _*)).as("p"))
    cum
      .crossJoin(psDf)
      .filter((col("cum") - col("n")) < col("p") * col("total") &&
        col("cum") >= col("p") * col("total"))
      .select(col(groupCol), col("p"), col("bin"),
        round(lit(lo) + lit(width) * (col("bin") +
          (col("p") * col("total") - (col("cum") - col("n"))) / col("n")),
          6).as("q_est"))
  }

  /** Per-language document-length percentiles. */
  private val q128: Q = (s, d) =>
    groupedHistogramQuantiles(Tables.documents(s, d), "lang", "n_chars",
      0.0, 50.0, 16, Seq(0.5, 0.9, 0.99))
      .orderBy(col("lang"), col("p"))

  // ------------------------------------------------ interval concurrency --

  /** Peak concurrent intervals per time bucket — the sweep-line answer to
    * "how many sessions/connections/jobs were live at once", computed
    * WITHOUT the interval self-join (which is quadratic in overlap degree
    * and unrunnable at fact-table scale). Each closed interval
    * [start, end] contributes a +1 delta at `start` and a -1 at `end + 1`;
    * concurrency at any instant is the prefix sum of deltas up to it, and
    * the per-bucket peak is the max of that running sum over the bucket's
    * change points (between change points concurrency is constant, so
    * sampling at deltas loses nothing).
    *
    * Scale shape — the prefix sum is the two-level decomposition from
    * [[Packing.packShards]], with the TIME BUCKET as the partition (range,
    * not hash, because order matters here): deltas collapse per distinct
    * timestamp (hash aggregate, corpus-sized but map-combinable), the
    * within-bucket running sum is a bucket-partitioned window, and the
    * cross-bucket offset is a running sum over per-bucket totals — a
    * |buckets|-row frame that rejoins via broadcast. No single-partition
    * window ever sees more than one bucket's change points.
    *
    * Deterministic: every value is integer (counts and epoch-micro
    * timestamps), so the hash gate is exact. */
  def intervalConcurrency(df: DataFrame, startCol: String, endCol: String,
      bucketMicros: Long = 3600000000L): DataFrame = {
    require(bucketMicros > 0,
      s"intervalConcurrency: bucketMicros must be > 0, got $bucketMicros")
    val deltas = df.select(col(startCol).as("ts"), lit(1L).as("d"))
      .unionAll(df.select((col(endCol) + 1L).as("ts"), lit(-1L).as("d")))
    val collapsed = deltas.groupBy(col("ts"))
      .agg(sum(col("d")).as("d"))
      .withColumn("bucket", expr(s"ts div ${bucketMicros}L"))
    val wLoc = Window.partitionBy(col("bucket")).orderBy(col("ts"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = collapsed.withColumn("cum_in", sum(col("d")).over(wLoc))
    val offsets = collapsed.groupBy(col("bucket"))
      .agg(sum(col("d")).as("btot"))
      .withColumn("offset", coalesce(
        sum(col("btot")).over(Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("offset"))
    local.join(broadcast(offsets), "bucket")
      .withColumn("conc", col("offset") + col("cum_in"))
      .groupBy(col("bucket"))
      .agg(max(col("conc")).as("peak"), count(lit(1)).as("n_changes"))
      .select((col("bucket") * bucketMicros).as("bucket_us"),
        col("peak"), col("n_changes"))
  }

  /** Peak concurrent user sessions per hour (sessions from [[sessionize]],
    * 30-min gap — q113's exact frame feeding the sweep). */
  private val q140: Q = (s, d) =>
    intervalConcurrency(
      sessionize(Tables.events(s, d), "user_id", "ts", "event_id"),
      "start_us", "end_us")
      .orderBy(col("bucket_us"))

  // -------------------------------------------- resample + LOCF gap fill --

  /** Time-series resampling to a dense per-key hourly grid with
    * last-observation-carried-forward gap fill — the metric-pipeline
    * normalizer (dashboards, anomaly detectors, and feature windows all
    * assume a gap-free grid).
    *
    * Values sum as DECIMAL(14,2) — exact, order-independent (a double sum
    * would wobble in the last bits with partial-aggregation order and
    * break the cross-engine hash). The corpus collapses FIRST to the
    * (key, hour)-bounded aggregate, which is checkpointed once: the
    * bounds pass and the spine join both read the collapsed frame, never
    * the raw events again. The spine explodes per-key `sequence(d0, d1,
    * 1 hour)` map-side; the LOCF window sorts only the dense grid
    * (span-hours rows per key, NOT event rows). A key's first grid hour
    * has an observation by construction, so `filled_sum` is never null.
    *
    * Output per (key, hour): event count, the hour's exact sum (null on
    * gaps), the carried-forward sum, and the gap flag. */
  def resampleLocf(df: DataFrame, keyCol: String, tsCol: String,
      valCol: String): DataFrame = {
    val agg = df
      .groupBy(col(keyCol), date_trunc("hour", col(tsCol)).as("bucket"))
      .agg(count(lit(1)).as("n_events"),
        // Pin the sum to DECIMAL(38,2): Spark widens sum(DECIMAL(14,2)) to
        // (24,2) while DuckDB widens to (38,2) — the driver's oracle hash
        // is type-sensitive, so both engines must agree on the output type.
        sum(col(valCol).cast("decimal(14,2)"))
          .cast("decimal(38,2)").as("bucket_sum"))
      .localCheckpoint()
    val bounds = agg.groupBy(col(keyCol))
      .agg(min(col("bucket")).as("d0"), max(col("bucket")).as("d1"))
    val spine = bounds.select(col(keyCol),
      explode(expr("sequence(d0, d1, interval 1 hour)")).as("bucket"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(agg, Seq(keyCol, "bucket"), "left")
      .select(col(keyCol), col("bucket"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("bucket_sum"),
        last(col("bucket_sum"), ignoreNulls = true).over(w).as("filled_sum"),
        col("n_events").isNull.as("is_gap"))
  }

  private val q162: Q = (s, d) => DriverOutput.noDecimals(
    resampleLocf(Tables.events(s, d), "event_type", "ts", "value")
      .orderBy(col("event_type"), col("bucket")))

  // ------------------------------------------- resample + linear interp --

  /** [[resampleLocf]]'s INTERPOLATING sibling: gap hours fill with the
    * straight line between the surrounding observations instead of a
    * carried-forward step — the gauge-series treatment when the metric is
    * continuous (a sensor, a rate) rather than a held state. Same
    * collapsed-aggregate + spine machinery as q162 (events never rescan);
    * the anchors arrive via two ignore-nulls windows over the dense grid
    * (last non-null value/hour looking back, first looking forward).
    *
    * Interior gaps interpolate v_p + (v_n − v_p) · i/n with i = hours
    * since the previous anchor, n = anchor-to-anchor hours — computed in
    * EXACT INTEGER arithmetic, not doubles: with 2-dp anchors and small
    * n the true value routinely lands exactly on a 4-dp half boundary
    * (e.g. Δ=0.03 over n=4 → steps of 0.0075), where Spark's
    * BigDecimal-exact round and DuckDB's multiply-then-std::round
    * disagree by the multiply's ulp (observed on the fixture:
    * 10.6338 vs 10.6337). Instead the 4-dp half-up value is the integer
    * ⌊(200·(vpc·n + Δc·i) + n) / (2n)⌋ over cent-scaled anchors —
    * bit-identical cross-engine by construction — re-pinned to
    * DECIMAL(38,4) via an exact small-decimal multiply. A key's
    * first/last grid hour is observed by construction (the spine spans
    * min..max of its observations), so v_p/v_n exist for every interior
    * gap and the quotient's operands are non-negative (truncating and
    * floor division agree). */
  def resampleInterp(df: DataFrame, keyCol: String, tsCol: String,
      valCol: String): DataFrame = {
    val agg = df
      .groupBy(col(keyCol), date_trunc("hour", col(tsCol)).as("bucket"))
      .agg(count(lit(1)).as("n_events"),
        sum(col(valCol).cast("decimal(14,2)"))
          .cast("decimal(38,2)").as("bucket_sum"))
      .localCheckpoint()
    val bounds = agg.groupBy(col(keyCol))
      .agg(min(col("bucket")).as("d0"), max(col("bucket")).as("d1"))
    val spine = bounds.select(col(keyCol),
      explode(expr("sequence(d0, d1, interval 1 hour)")).as("bucket"))
    val wBack = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFwd = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    spine.join(agg, Seq(keyCol, "bucket"), "left")
      .withColumn("_vp", last(col("bucket_sum"), ignoreNulls = true).over(wBack))
      .withColumn("_tp", last(when(col("bucket_sum").isNotNull, col("bucket")),
        ignoreNulls = true).over(wBack))
      .withColumn("_vn", first(col("bucket_sum"), ignoreNulls = true).over(wFwd))
      .withColumn("_tn", first(when(col("bucket_sum").isNotNull, col("bucket")),
        ignoreNulls = true).over(wFwd))
      .withColumn("_vpc",
        (col("_vp").cast("decimal(18,2)") * 100).cast("long"))
      .withColumn("_vnc",
        (col("_vn").cast("decimal(18,2)") * 100).cast("long"))
      .withColumn("_i", expr("timestampdiff(HOUR, _tp, bucket)"))
      .withColumn("_n", expr("timestampdiff(HOUR, _tp, _tn)"))
      .withColumn("interp_sum",
        when(col("bucket_sum").isNotNull,
          col("bucket_sum").cast("decimal(38,4)"))
        .otherwise(
          (expr("(200 * (_vpc * _n + (_vnc - _vpc) * _i) + _n) div (2 * _n)")
            .cast("decimal(20,0)") * lit(BigDecimal("0.0001")))
            .cast("decimal(38,4)")))
      .select(col(keyCol), col("bucket"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("bucket_sum"), col("interp_sum"),
        col("n_events").isNull.as("is_gap"))
  }

  private val q202: Q = (s, d) => DriverOutput.noDecimals(
    resampleInterp(Tables.events(s, d), "event_type", "ts", "value")
      .orderBy(col("event_type"), col("bucket")))

  // ------------------------------------------------- CUSUM drift alarms --

  /** CUSUM drift detection per key — the sequential change-point monitor
    * (Page 1954) run batch-side: S_i = max(0, S_{i-1} + (x_i − μ)) over
    * each key's time-ordered series, alarming when the cumulative
    * positive excursion crosses `threshold`. Emits alarm ONSETS only
    * (S crosses the threshold from below), so output is bounded by the
    * number of drift episodes, not rows.
    *
    * The recursion has the closed form S_i = P_i − min(0, min_{j≤i} P_j)
    * with P the running sum of deviations — so it needs no sequential
    * scan, just two cumulative windows over the per-key sort the engine
    * already does (one exchange on the key, one sort, zero extra
    * shuffles; at 100 TB each key's series sorts within its partition).
    *
    * Exactness discipline: deviations are DECIMAL cents (a double running
    * sum diverges cross-engine — Spark folds left, DuckDB sums via
    * segment tree); μ is the per-key mean, one IEEE division rounded to
    * 2 dp then re-pinned to DECIMAL. Output CUSUM pinned to
    * DECIMAL(38,2) (the golden-schema discipline). */
  def cusumAlarms(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
      valCol: String, threshold: Int = 300): DataFrame = {
    require(threshold > 0, s"cusumAlarms: threshold must be > 0, got $threshold")
    val e = df.select(col(keyCol), col(tsCol), col(idCol),
      col(valCol).cast("decimal(14,2)").as("_v"))
    val mu = e.groupBy(col(keyCol))
      .agg(round(sum(col("_v")).cast("double") / count(lit(1)), 2)
        .cast("decimal(14,2)").as("_mu"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(idCol))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val h = lit(threshold).cast("decimal(18,2)")
    e.join(broadcast(mu), Seq(keyCol))
      .withColumn("_psum",
        sum((col("_v") - col("_mu")).cast("decimal(18,2)")).over(wRun))
      .withColumn("_cusum",
        col("_psum") - least(lit(0).cast("decimal(28,2)"),
          min(col("_psum")).over(wRun)))
      .withColumn("_prev", lag(col("_cusum"), 1).over(w))
      .filter(col("_cusum") >= h && coalesce(col("_prev") < h, lit(true)))
      .select(col(keyCol), col(tsCol), col(idCol),
        col("_cusum").cast("decimal(38,2)").as("cusum"))
  }

  private val q197: Q = (s, d) => DriverOutput.noDecimals(
    cusumAlarms(Tables.events(s, d), "event_type", "ts", "event_id", "value")
      .orderBy(col("event_type"), col("ts"), col("event_id")))

  // ----------------------------------- scale-safe exact global ntile --

  /** Scale-correct exact global row index under a TOTAL order: range
    * partition + within-partition sort, then the canonical two-pass
    * `zipWithIndex` (per-partition counts → broadcast offsets) — the SNM /
    * zone-map / q163 machinery, generalized to any schema. NEVER a
    * single-partition `row_number` window: every partition ranks in
    * parallel and only the per-partition COUNTS cross the driver. The
    * order must be total (include a unique id) or the index is
    * partition-boundary-dependent. Index is 1-based (row_number parity).
    */
  private[graft] def withGlobalIndex(df: DataFrame, order: Seq[Column],
      idxName: String): DataFrame = {
    val s = df.sparkSession
    val sorted = df.repartitionByRange(order: _*).sortWithinPartitions(order: _*)
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+ org.apache.spark.sql.types.StructField(
        idxName, org.apache.spark.sql.types.LongType, nullable = false))
    s.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1L)) },
      schema)
  }

  /** Exact `ntile(n)` bucket as a pure function of (1-based global rank,
    * total count) — the SQL-standard distribution both Spark and DuckDB
    * implement: with q = c div n and rem = c mod n, the first `rem`
    * buckets hold q+1 rows, the rest q. Combined with [[withGlobalIndex]]
    * this replaces a single-partition global ntile window with a fully
    * parallel two-pass plan while staying bit-identical to the window
    * form (the oracle keeps plain `ntile`): rank ≤ (q+1)·rem lands in
    * bucket ⌈rank/(q+1)⌉, the rest in rem + ⌈(rank − (q+1)·rem)/q⌉. The
    * `greatest(q, 1)` guards the (dead when c < n) second branch against
    * an ANSI divide-by-zero. */
  private[graft] def ntileFromIndex(rnCol: String, ctCol: String, n: Int): Column = {
    // SQL `div` (exact long division) rather than floor(a / b): a double
    // quotient of two ~1e12 longs can land one ulp under an exact integer
    // and floor() to the wrong bucket.
    val q = s"($ctCol div $n)"
    val rem = s"($ctCol % $n)"
    expr(s"CAST(CASE WHEN $rnCol <= ($q + 1) * $rem" +
      s" THEN ($rnCol + $q) div ($q + 1)" +
      s" ELSE $rem + (($rnCol - ($q + 1) * $rem + $q - 1) div greatest($q, 1L))" +
      s" END AS BIGINT)")
  }

  // ------------------------------------------------- RFM segmentation --

  /** RFM (recency / frequency / monetary) customer segmentation — the
    * standard lifecycle-marketing cut: per customer, days since last
    * order (vs the corpus max date), order count, and exact DECIMAL
    * revenue, each scored into quintiles, concatenated into the "543"
    * style segment label.
    *
    * One keyed aggregate collapses orders to a customer frame first.
    * Each quintile score is an exact-ntile over a TOTAL order
    * (metric, custkey) so tie placement is deterministic cross-engine,
    * computed scale-safely: [[withGlobalIndex]] (range shuffle +
    * parallel per-partition rank) + [[ntileFromIndex]] — no
    * single-partition window anywhere, so the plan survives 100×
    * customer cardinality; the oracle keeps plain `ntile`, which the
    * formula matches row-for-row. Scores are BIGINT (the q171 lesson:
    * Spark's ntile emits int32, DuckDB int64) and point "5 = best":
    * recency sorts DESC (most recent customers land in the last
    * bucket), frequency and monetary ASC (heaviest land last). */
  def rfmSegments(orders: DataFrame, custCol: String, dateCol: String,
      amtCol: String): DataFrame = {
    val per = orders.groupBy(col(custCol))
      .agg(max(to_date(col(dateCol))).as("_last"),
        count(lit(1)).as("frequency"),
        sum(col(amtCol).cast("decimal(14,2)"))
          .cast("decimal(38,2)").as("monetary"))
    val ref = orders.agg(max(to_date(col(dateCol))).as("_ref"))
    val base = per.crossJoin(broadcast(ref))
      .withColumn("recency_days",
        datediff(col("_ref"), col("_last")).cast("long"))
      .select(col(custCol), col("recency_days"), col("frequency"),
        col("monetary"))
    // Three total orders → three chained two-pass indices over the same
    // bounded customer frame (chaining avoids three joins back on the
    // key; each pass is one parallel range shuffle of a 4-column frame).
    // NOTE: construction is EAGER — each zipWithIndex triggers a job and
    // the chain ends in a localCheckpoint, so merely BUILDING this frame
    // (PlanSpec/ExplainDump/each bench sample) pays all three passes.
    // Acceptable for the customer-bounded frame; revisit (checkpoint
    // after i1/i2 too) only if the tier bench prices the recompute.
    val i1 = withGlobalIndex(base,
      Seq(col("recency_days").desc, col(custCol)), "_rnr")
    val i2 = withGlobalIndex(i1, Seq(col("frequency"), col(custCol)), "_rnf")
    val i3 = withGlobalIndex(i2, Seq(col("monetary"), col(custCol)), "_rnm")
      .localCheckpoint()
    // Total count as a broadcast 1-row frame (max of a 1..c permutation),
    // off the checkpointed index so the 3-pass chain computes once.
    val withCt = i3.crossJoin(broadcast(i3.agg(max(col("_rnm")).as("_ct"))))
    withCt
      .withColumn("r_score", ntileFromIndex("_rnr", "_ct", 5))
      .withColumn("f_score", ntileFromIndex("_rnf", "_ct", 5))
      .withColumn("m_score", ntileFromIndex("_rnm", "_ct", 5))
      .select(col(custCol), col("recency_days"), col("frequency"),
        col("monetary"), col("r_score"), col("f_score"), col("m_score"),
        concat(col("r_score").cast("string"), col("f_score").cast("string"),
          col("m_score").cast("string")).as("segment"))
  }

  private val q198: Q = (s, d) => DriverOutput.noDecimals(
    rfmSegments(Tables.orders(s, d), "o_custkey", "o_orderdate",
      "o_totalprice")
      .orderBy(col("o_custkey")))

  // ------------------------------------------------ decile lift/gains --

  /** Decile lift / cumulative-gains table — the targeting readout every
    * scored campaign ships (and the fourth ML-eval leg next to q179's
    * AUC, q181's calibration and q209's WOE/IV): rank units by score,
    * cut into ten equal buckets, and report each bucket's response rate,
    * lift over the base rate, and the cumulative share of all responders
    * captured — "the top 20% of scores capture 54% of converters".
    *
    * Determinism + scale: deciles are exact ntile under the TOTAL
    * (score DESC, unit) order via [[withGlobalIndex]] +
    * [[ntileFromIndex]] (the q198 machinery — range shuffle + parallel
    * rank, never a single-partition window; the oracle keeps plain
    * `ntile`, which the formula matches row-for-row). The corpus
    * collapses to the unit frame FIRST, so the window pipeline runs on
    * one row per unit. Rates and lift are pinned scalar IEEE chains on
    * exact integer counts (lift multiplies counts as doubles BEFORE the
    * one division — rt·n_tot is exact in double far past int64-safe
    * corpus sizes, and the operand order is identical cross-engine);
    * a zero-responder corpus yields NULL lift, not a throw. The gains
    * accumulation is a window over the ten-row decile frame — bounded
    * by construction. Output: 10 rows. */
  def liftTable(units: DataFrame, idCol: String, scoreCol: String,
      respCol: String, buckets: Int = 10): DataFrame = {
    val idx = withGlobalIndex(
      units.select(col(idCol), col(scoreCol), col(respCol)),
      Seq(col(scoreCol).desc, col(idCol)), "_rn").localCheckpoint()
    val withCt = idx.crossJoin(broadcast(idx.agg(max(col("_rn")).as("_ct"))))
      .withColumn("decile", ntileFromIndex("_rn", "_ct", buckets))
    val cells = withCt.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_units"), sum(col(respCol)).as("n_resp"))
    val tot = cells.agg(sum(col("n_units")).as("_nt"),
      sum(col("n_resp")).as("_rt"))
    val wCum = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.crossJoin(broadcast(tot))
      .withColumn("_cum_resp", sum(col("n_resp")).over(wCum))
      .select(col("decile"), col("n_units"), col("n_resp"),
        round(col("n_resp").cast("double") / col("n_units"), 6)
          .as("resp_rate"),
        when(col("_rt") > 0, round(
          col("n_resp").cast("double") * col("_nt")
            / (col("n_units").cast("double") * col("_rt")), 6))
          .as("lift"),
        when(col("_rt") > 0,
          round(col("_cum_resp").cast("double") / col("_rt"), 6))
          .as("cum_capture"))
      .orderBy(col("decile"))
  }

  /** Unit collapse for q242: per user, score = exact click spend in
    * cents (the campaign model's stand-in), response = converted at
    * least once. One keyed aggregate; the q180 unit-integrity rule. */
  private val q242: Q = (s, d) => {
    val per = Tables.events(s, d).filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(coalesce(sum(when(col("event_type") === "click",
        (col("value").cast("decimal(14,2)") * 100).cast("long"))), lit(0L))
        .as("score_cents"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("responded"))
    liftTable(per, "user_id", "score_cents", "responded")
  }

  // -------------------------------------------------- winsorization --

  /** Per-group winsorization — the outlier treatment that CLAMPS instead
    * of dropping (robust means for metrics where every row must count):
    * values clamp into [p05, p95] of their group, and the group reports
    * its clamp bounds, clamp counts, and winsorized mean. Exact-percentile
    * bounds over integer cents (q189's discipline — percentile ≡
    * quantile_cont over identical integers), quantized INWARD to whole
    * cents (ceil of the low cut, floor of the high — floor/ceil of
    * identical doubles is boundary-safe where a 2-dp round is not), so
    * the clamped column is pure 64-bit integers and the mean is the
    * integer half-up quotient (q202's trick).
    *
    * Shape: one keyed percentile aggregate (groups-bounded), broadcast
    * back, map-side clamp, one keyed roll-up — two exchanges total on the
    * same key. */
  def winsorize(df: DataFrame, keyCol: String, valCol: String): DataFrame = {
    val base = df.select(col(keyCol),
      (col(valCol).cast("decimal(14,2)") * 100).cast("long").as("_vc"))
    val bounds = base.groupBy(col(keyCol))
      .agg(ceil(percentile(col("_vc"), lit(0.05))).cast("long").as("_lo"),
        floor(percentile(col("_vc"), lit(0.95))).cast("long").as("_hi"))
    base.join(broadcast(bounds), Seq(keyCol))
      .withColumn("_cl", least(greatest(col("_vc"), col("_lo")), col("_hi")))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("_n"),
        sum(when(col("_vc") < col("_lo"), 1L).otherwise(0L)).as("n_clamped_lo"),
        sum(when(col("_vc") > col("_hi"), 1L).otherwise(0L)).as("n_clamped_hi"),
        max(col("_lo")).as("_lo"), max(col("_hi")).as("_hi"),
        sum(col("_cl")).as("_s"))
      .select(col(keyCol), col("_n").as("n"),
        col("n_clamped_lo"), col("n_clamped_hi"),
        (col("_lo").cast("decimal(20,0)") * lit(BigDecimal("0.01")))
          .cast("decimal(38,2)").as("lo"),
        (col("_hi").cast("decimal(20,0)") * lit(BigDecimal("0.01")))
          .cast("decimal(38,2)").as("hi"),
        (expr("(200 * _s + _n) div (2 * _n)").cast("decimal(20,0)")
          * lit(BigDecimal("0.0001"))).cast("decimal(38,4)")
          .as("winsor_mean"))
  }

  private val q211: Q = (s, d) => DriverOutput.noDecimals(
    winsorize(Tables.events(s, d), "event_type", "value")
      .orderBy(col("event_type")))

  // --------------------------------------------- forecast backtest --

  /** Seasonal-naive forecast backtest — the baseline every forecasting
    * system must beat, measured the way production does: predict each
    * hour's total with the SAME hour yesterday (lag-24 on the hourly
    * aggregate), score MAE/MAPE per key over every hour where both sides
    * exist. The forecast side shifts via a computed equality key (bucket
    * + 24 h), so the self-join is a plain hash join on (key, hour) — no
    * window, no skew. Errors are exact DECIMAL diffs; each APE is ONE
    * IEEE division rounded then DECIMAL-pinned so the MAPE numerator sums
    * exactly (the PSI pre-round discipline); the final MAE/MAPE means are
    * integer half-up quotients (q202's trick), because cents/40-style
    * ratios land exactly on 4-dp halves. */
  def forecastBacktest(df: DataFrame, keyCol: String, tsCol: String,
      valCol: String): DataFrame = {
    val agg = df
      .groupBy(col(keyCol), date_trunc("hour", col(tsCol)).as("_b"))
      .agg(sum(col(valCol).cast("decimal(14,2)")).cast("decimal(38,2)")
        .as("_s"))
      .localCheckpoint()
    val fc = agg.select(col(keyCol),
      (col("_b") + expr("interval 24 hours")).as("_b"), col("_s").as("_f"))
    agg.join(fc, Seq(keyCol, "_b"))
      .withColumn("_err", abs(col("_s") - col("_f")))
      .withColumn("_ape", when(col("_s") =!= 0,
        round(col("_err").cast("double") / col("_s").cast("double"), 6)
          .cast("decimal(12,6)")))
      .withColumn("_errc", (col("_err").cast("decimal(18,2)") * 100)
        .cast("long"))
      .withColumn("_apem", (col("_ape").cast("decimal(13,6)") * 1000000)
        .cast("long"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("_n"), sum(col("_errc")).as("_ec"),
        count(col("_apem")).as("_na"), sum(col("_apem")).as("_am"))
      // MAE = errC/(100·n) dollars; its 4-dp half-up value is the integer
      // ⌊(200·errC + n)/(2n)⌋ (the q202 discipline — sum/40 lands exactly
      // on 4-dp halves, where the two engines' double rounds disagree;
      // observed, then designed out). MAPE the same at 6 dp.
      .select(col(keyCol), col("_n").as("n_eval"),
        (expr("(200 * _ec + _n) div (2 * _n)").cast("decimal(20,0)")
          * lit(BigDecimal("0.0001"))).cast("decimal(38,4)").as("mae"),
        when(col("_na") > 0,
          (expr("(2 * _am + _na) div (2 * _na)").cast("decimal(20,0)")
            * lit(BigDecimal("0.000001"))).cast("decimal(38,6)")).as("mape"))
  }

  private val q210: Q = (s, d) => DriverOutput.noDecimals(
    forecastBacktest(Tables.events(s, d), "event_type", "ts", "value")
      .orderBy(col("event_type")))

  // --------------------------------------------- WOE / information value --

  /** Weight-of-evidence feature binning + information value — the
    * credit-scoring / feature-selection readout: equal-frequency bins
    * over the feature, per bin the class distributions, WOE =
    * ln(good% / bad%), and IV = Σ (good% − bad%)·WOE with the standard
    * strength bands (IV > 0.3 = strong predictor). The discipline is
    * [[psi]]'s, term for term: clamped (≥1e-6) rates, one division each,
    * per-term round(6), bounded bins-row total carried on every row —
    * plus the q171/q198 ntile pins (BIGINT bin under a TOTAL
    * (feature, id) order).
    *
    * Scale: the equal-frequency bin is the exact-ntile distribution but
    * computed scale-safely — [[withGlobalIndex]] (one parallel range
    * shuffle of the 3-column projection, per-partition rank, offsets
    * broadcast) + [[ntileFromIndex]] — never a single-partition window
    * over the corpus; the corpus then collapses to the bins-bounded
    * frame in one keyed aggregate. The oracle keeps plain `ntile`,
    * which the formula matches row-for-row. */
  def woeIv(df: DataFrame, featureCol: String, idCol: String,
      labelCol: Column, bins: Int = 10): DataFrame = {
    require(bins >= 2, s"woeIv: bins must be >= 2, got $bins")
    // Null-safe label: a NULL label must count as ONE of the classes, not
    // neither. Without the coalesce, when(_bad).otherwise / when(!_bad)
    // .otherwise both fall to 0 for NULL (n_bad + n_good < n) while the
    // DuckDB oracle's CASE WHEN bad THEN 0 ELSE 1 counts the row as good —
    // a latent cross-engine divergence. coalesce(.., false) pins the
    // choice (NULL label = good) identically in both engines.
    val base = df
      .select(col(featureCol), col(idCol),
        coalesce(labelCol.cast("boolean"), lit(false)).as("_bad"))
    // localCheckpoint so the count below and every downstream branch share
    // ONE materialization of the two-pass index (r14 ADVICE: uncached, the
    // plan carried 4 RDDScan recomputes of the index pipeline and the
    // count-vs-execution consistency rested on shuffle-file reuse). NOTE:
    // construction is therefore EAGER — building the frame runs the range
    // shuffle + zipWithIndex + checkpoint before any action; the count is
    // a cheap scan of the checkpointed blocks. The structural plan
    // fingerprint carries no literals, so the value embedding stays
    // golden-safe.
    val indexed = withGlobalIndex(base,
      Seq(col(featureCol), col(idCol)), "_rn")
      .localCheckpoint()
    val c = indexed.count()
    val binned = indexed
      .withColumn("_ct", lit(c))
      .withColumn("bin", ntileFromIndex("_rn", "_ct", bins))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("_bad"), 1L).otherwise(0L)).as("n_bad"),
        sum(when(!col("_bad"), 1L).otherwise(0L)).as("n_good"))
    val totals = binned.agg(sum(col("n_bad")).as("_bt"),
      sum(col("n_good")).as("_gt"))
    val terms = binned.crossJoin(broadcast(totals))
      .withColumn("_db",
        greatest(col("n_bad").cast("double") / col("_bt"), lit(1e-6)))
      .withColumn("_dg",
        greatest(col("n_good").cast("double") / col("_gt"), lit(1e-6)))
      .withColumn("woe", round(log(col("_dg") / col("_db")), 6))
      .withColumn("iv_term",
        round((col("_dg") - col("_db")) * log(col("_dg") / col("_db")), 6))
    val total = terms.agg(round(sum(col("iv_term")), 6).as("iv_total"))
    terms.crossJoin(broadcast(total))
      .select(col("bin"), col("n"), col("n_bad"), col("n_good"),
        round(col("_db"), 6).as("dist_bad"),
        round(col("_dg"), 6).as("dist_good"),
        col("woe"), col("iv_term"), col("iv_total"))
  }

  private val q209: Q = (s, d) =>
    woeIv(Tables.orders(s, d), "o_totalprice", "o_orderkey",
      col("o_orderstatus") === "F")
      .orderBy(col("bin"))

  // ------------------------------------------------ multi-action MERGE --

  /** SQL-standard multi-action MERGE semantics as a composable operator —
    * the [[mergeLatest]] upsert generalized to the full branch set a
    * lakehouse `MERGE INTO` (or its foreachBatch replay) executes in one
    * pass: WHEN MATCHED AND op='D' THEN DELETE; WHEN MATCHED THEN UPDATE;
    * WHEN NOT MATCHED AND op<>'D' THEN INSERT; unmatched target rows pass
    * through. One full-outer hash join on the key — every branch is a
    * projection over the joined row, so the whole merge is a single
    * exchange per side regardless of branch mix, and AQE picks
    * broadcast when the change feed is small (the common case: a day's
    * CDC against years of table).
    *
    * Balances stay DECIMAL end to end (update = exact cent addition);
    * each output row carries the branch that produced it. */
  def mergeActions(target: DataFrame, source: DataFrame, keyCol: String,
      nameCol: String, balCol: String, opCol: String,
      deltaCol: String): DataFrame = {
    val t = target.select(col(keyCol).as("_k"), col(nameCol).as("_name"),
      col(balCol).cast("decimal(14,2)").as("_bal"))
    val sSide = source.select(col(keyCol).as("_sk"), col(opCol).as("_op"),
      col(deltaCol).cast("decimal(14,2)").as("_delta"))
    t.join(sSide, col("_k") === col("_sk"), "full_outer")
      .withColumn("action",
        when(col("_k").isNotNull && col("_sk").isNull, lit("keep"))
        .when(col("_k").isNotNull && col("_op") === "D", lit("delete"))
        .when(col("_k").isNotNull, lit("update"))
        .when(col("_op") =!= "D", lit("insert")))
      .filter(col("action").isNotNull && col("action") =!= "delete")
      .select(
        coalesce(col("_k"), col("_sk")).as("custkey"),
        when(col("action") === "insert",
          concat(lit("new-"), col("_sk").cast("string")))
          .otherwise(col("_name")).as("name"),
        when(col("action") === "update", col("_bal") + col("_delta"))
          .when(col("action") === "insert", col("_delta"))
          .otherwise(col("_bal")).cast("decimal(38,2)").as("balance"),
        col("action"))
  }

  /** q208: customer as the target; the change feed derives
    * deterministically from events — per user: op = 'D' every 7th count,
    * else upsert with the user's exact value sum as the delta. */
  private val q208: Q = (s, d) => {
    val feed = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("_n"),
        sum(col("value").cast("decimal(14,2)")).cast("decimal(14,2)")
          .as("delta"))
      .withColumn("op", when(pmod(col("_n"), lit(7)) === 0, lit("D"))
        .otherwise(lit("U")))
      .select(col("user_id").as("c_custkey"), col("op"), col("delta"))
    DriverOutput.noDecimals(
      mergeActions(Tables.customer(s, d), feed, "c_custkey", "c_name",
        "c_acctbal", "op", "delta")
        .orderBy(col("custkey"), col("action")))
  }

  // ----------------------------------------------------- exact EWMA --

  /** Exponentially-weighted moving average with α = 1/2 over the last 8
    * observations per key — the smoothing pass behind alerting baselines
    * and rate dashboards, made EXACT: the α=1/2, window-8 choice gives
    * integer weights 128,64,…,1 over cent-scaled values, so the weighted
    * mean is pure 64-bit arithmetic and the 4-dp output is the integer
    * half-up quotient ⌊(200·num + den)/(2·den)⌋ (q202's trick) — no
    * float anywhere, bit-identical cross-engine. A leading partial window
    * (fewer than 8 rows) drops the missing lags from BOTH numerator and
    * denominator (the standard adjust=True treatment, truncated).
    *
    * Shape: one exchange on the key, one sort, an 8-lag chain sharing the
    * single window frame — at 100 TB each key's series smooths inside its
    * partition with zero extra shuffles. */
  def ewmaSmooth(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
      valCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(idCol))
    val base = df.select(col(keyCol), col(tsCol), col(idCol), col(valCol),
      (col(valCol).cast("decimal(14,2)") * 100).cast("long").as("_vc"))
    val terms = (0 until 8).map { j =>
      val wt = 1L << (7 - j)
      val lj = if (j == 0) col("_vc") else lag(col("_vc"), j).over(w)
      (when(lj.isNotNull, lj * wt).otherwise(lit(0L)),
        when(lj.isNotNull, lit(wt)).otherwise(lit(0L)))
    }
    val num = terms.map(_._1).reduce(_ + _)
    val den = terms.map(_._2).reduce(_ + _)
    base
      .withColumn("_num", num).withColumn("_den", den)
      .withColumn("ewma",
        (expr("(200 * _num + _den) div (2 * _den)").cast("decimal(20,0)")
          * lit(BigDecimal("0.0001"))).cast("decimal(38,4)"))
      .select(col(keyCol), col(tsCol), col(idCol), col(valCol), col("ewma"))
  }

  private val q207: Q = (s, d) => DriverOutput.noDecimals(
    ewmaSmooth(Tables.events(s, d), "event_type", "ts", "event_id", "value")
      .orderBy(col("event_type"), col("ts"), col("event_id")))

  // -------------------------------------------------- seasonal decompose --

  /** STL-lite additive seasonal decomposition over the dense hourly grid:
    * value = trend + seasonal + remainder. Trend is a centered moving
    * average (±period/2 rows, partial frames at the series edges use the
    * rows available — the standard min_periods=1 treatment); seasonal is
    * the per-(key, hour-of-period) mean of the detrended series; remainder
    * is what's left. The anomaly/forecast preprocessing step every metric
    * stack runs after [[resampleLocf]]'s gridding.
    *
    * Missing hours ZERO-fill (a gap in an event sum means nothing
    * happened), unlike the LOCF gauge semantics — the grid still comes
    * from the same spine machinery.
    *
    * Cross-engine exactness discipline: a naive `avg(double)` here is NOT
    * hash-stable — Spark's sliding-frame accumulator and DuckDB's segment
    * tree sum doubles in different orders, and round(6) amplifies a 1e-15
    * divergence to 1e-6 whenever an average lands near a rounding
    * boundary (observed on the sf0.01 fixture). Instead every mean is
    * computed as cast(EXACT decimal sum AS double) / count — one IEEE
    * division of identical operands, bit-identical in both engines — and
    * every subtraction runs in decimal: trend and seasonal re-enter the
    * pipeline as DECIMAL(18,6) (the rounded double's exact 6-dp value),
    * so detrending and the remainder are exact decimal arithmetic with no
    * accumulated FP at all.
    *
    * Shape: one key exchange (trend window), one (key, hod) bounded
    * aggregate (≤ keys × period rows, AQE-broadcast on the way back). The
    * trended frame is checkpointed — it feeds both the seasonal aggregate
    * and the final join, and Spark would otherwise re-run the spine +
    * window pipeline per branch. */
  def seasonalDecompose(df: DataFrame, keyCol: String, tsCol: String,
      valCol: String, period: Int = 24): DataFrame = {
    require(period >= 2 && period % 2 == 0,
      s"seasonalDecompose: period must be even and >= 2, got $period")
    val half = period / 2
    val grid = resampleLocf(df, keyCol, tsCol, valCol)
      .select(col(keyCol), col("bucket"),
        coalesce(col("bucket_sum"), lit(0).cast("decimal(14,2)")).as("v"))
    val wt = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
      .rowsBetween(-half, half)
    val trended = grid
      .withColumn("trend",
        round(sum(col("v")).over(wt).cast("double")
          / count(lit(1)).over(wt), 6).cast("decimal(18,6)"))
      .withColumn("hod", hour(col("bucket")) % period)
      .localCheckpoint()
    val seas = trended.groupBy(col(keyCol), col("hod"))
      .agg(round(sum(col("v") - col("trend")).cast("double")
        / count(lit(1)), 6).cast("decimal(18,6)").as("seasonal"))
    trended.join(seas, Seq(keyCol, "hod"))
      .select(col(keyCol), col("bucket"), col("v").cast("double").as("value"),
        col("trend").cast("double").as("trend"),
        col("seasonal").cast("double").as("seasonal"),
        (col("v") - col("trend") - col("seasonal")).cast("double").as("remainder"))
  }

  private val q168: Q = (s, d) =>
    seasonalDecompose(Tables.events(s, d), "event_type", "ts", "value")
      .orderBy(col("event_type"), col("bucket"))

  // ------------------------------------------------------- grouped trend --

  /** Per-group ordinary-least-squares fit — slope, intercept, R², pair
    * count of y on x within each group, via the regr_* aggregate family
    * (Spark and DuckDB implement the same textbook moments form). The
    * per-key trend detector of metric pipelines: "which suppliers' prices
    * rise with quantity", "which sources' quality drifts over time".
    *
    * Scale shape: ONE hash aggregate; the regr_* moments (n, Σx, Σy, Σxy,
    * Σx², Σy²) combine map-side and merge associatively, so the shuffle
    * carries six doubles per group — the same mergeable-state economics as
    * [[aggState]]. Groups with a degenerate fit (fewer than `minN` pairs,
    * or zero x-variance → null slope) are dropped, not emitted as nulls.
    * Results round to 6 dp — the moments are float sums whose partial-
    * aggregation order varies; 6 dp absorbs the 1e-12 relative wobble
    * (q77's stats-aggregate precedent). */
  def groupedTrend(df: DataFrame, groupCol: String, xCol: String,
      yCol: String, minN: Long = 2L): DataFrame = {
    df.groupBy(col(groupCol))
      .agg(
        expr(s"cast(regr_count($yCol, $xCol) as bigint)").as("n"),
        round(expr(s"regr_slope($yCol, $xCol)"), 6).as("slope"),
        round(expr(s"regr_intercept($yCol, $xCol)"), 6).as("intercept"),
        round(expr(s"regr_r2($yCol, $xCol)"), 6).as("r2"))
      .filter(col("n") >= minN && col("slope").isNotNull)
  }

  /** Price-vs-quantity trend per supplier. */
  private val q141: Q = (s, d) =>
    groupedTrend(Tables.lineitem(s, d), "l_suppkey", "l_quantity",
      "l_extendedprice")
      .orderBy(col("l_suppkey"))

  // ----------------------------------------------------- z-score outliers --

  /** Per-group z-score outlier detection: rows whose value deviates from
    * the group mean by more than `z` population standard deviations — the
    * anomaly filter of curation pipelines (truncated docs, runaway repeat
    * blobs, mis-parsed lengths).
    *
    * Deliberately the TWO-PASS shape, not a group-partitioned window: a
    * grouped aggregate computes (mean, stddev) per group — mergeable
    * map-side state — and a broadcast join brings the ≤ |groups| stats rows
    * back to the corpus. A window PARTITION BY group would funnel each
    * group's entire corpus share through one task — with few, large groups
    * (languages, sources) that is the classic skew cliff at 100 TB; the
    * two-pass form keeps the corpus scan embarrassingly parallel.
    *
    * The z score rounds to 6 dp for the emitted column; the >z filter runs
    * on the unrounded value (boundary ties are measure-zero on real data
    * and both engines compute the same ordered expression). */
  def groupZScoreOutliers(df: DataFrame, groupCol: String, valueCol: String,
      z: Double = 2.0): DataFrame = {
    require(z > 0.0, s"groupZScoreOutliers: z must be > 0, got $z")
    val stats = df.groupBy(col(groupCol))
      .agg(avg(col(valueCol)).as("_mean"),
        stddev_pop(col(valueCol)).as("_sd"))
      .filter(col("_sd") > 0.0)
    df.join(broadcast(stats), groupCol)
      .filter(abs((col(valueCol) - col("_mean")) / col("_sd")) > z)
      .withColumn("z_score",
        round((col(valueCol) - col("_mean")) / col("_sd"), 6))
      .drop("_mean", "_sd")
  }

  /** Events whose metric value is >3σ from their event type's mean. */
  private val q142: Q = (s, d) =>
    groupZScoreOutliers(Tables.events(s, d), "event_type", "value", 3.0)
      .select(col("event_id"), col("event_type"), col("value"),
        col("z_score"))
      .orderBy(col("event_id"))

  /** Time-decayed per-key features AS-OF a reference instant — the
    * feature-store readout that turns an unbounded event history into a
    * fixed-width training feature: decayed_count = Σ e^(−Δt/τ),
    * decayed_value = Σ value·e^(−Δt/τ), Δt = horizon − ts. The horizon
    * is the corpus max ts (deterministic, so the gate replays it;
    * production pins a wall-clock instant instead — same plan).
    *
    * Cross-engine float discipline: e^x is not correctly rounded in
    * either engine's libm, so each TERM pre-rounds to 9 dp and re-pins
    * to DECIMAL before summing (the PSI/temperatureMix rule) — the
    * aggregates are exact and order-independent, and the per-term chain
    * (exact integer micros → ONE double division → exp → round) is
    * bit-stable on both sides. NULL values count toward decayed_count
    * but add 0 mass (COALESCE — the woeIv every-row-accounted rule).
    *
    * Shape: a 1-row horizon aggregate broadcast back, then ONE map-side
    * projection + ONE keyed aggregate with map-side partials — no
    * window, no sort, nothing wide; the cheapest feature pass there is
    * at any scale. */
  def decayedFeatures(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, tauSec: Long): DataFrame = {
    require(tauSec > 0, s"decayedFeatures: tauSec must be > 0, got $tauSec")
    val ref = df.agg(max(unix_micros(col(tsCol))).as("_ref_us"))
    val decay = s"exp(-((_ref_us - unix_micros($tsCol)) / ${tauSec}e6))"
    df.crossJoin(broadcast(ref))
      .select(col(keyCol),
        expr(s"cast(round($decay, 9) as decimal(16,9))").as("_w"),
        expr(s"cast(round(coalesce($valueCol, 0.0) * $decay, 9) as decimal(20,9))")
          .as("_wv"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("_w")).cast("double"), 6).as("decayed_count"),
        round(sum(col("_wv")).cast("double"), 6).as("decayed_value"))
  }

  /** Per-user 7-day-half-life engagement features at the corpus horizon. */
  private val q236: Q = (s, d) =>
    decayedFeatures(Tables.events(s, d), "user_id", "ts", "value", 604800L)
      .orderBy(col("user_id"))

  // ------------------------------------------- concentration profile --

  /** Per-group concentration profile — Gini coefficient, Herfindahl-
    * Hirschman index and top-holder share of how a group's mass
    * distributes over its units (round 19). The curation readout behind
    * "is this source a thousand contributors or one crawler?": dataset
    * mixture weights, dedup-cap tuning and abuse triage all key on
    * whether a slice's volume is broadly held or concentrated — and the
    * three numbers answer it at three resolutions (whole-distribution
    * inequality, sum-of-squared-shares, single largest holder).
    *
    * Exactness: the unit frame is exact counts; Gini uses the sorted
    * identity G = (2·Σ i·xᵢ − (N+1)·S)/(N·S), with Σ i·xᵢ computed
    * WITHOUT materializing per-unit ranks — tied values occupy a
    * position block, and the block's Σ i·x collapses to
    * x·(c·prev + c(c+1)/2), so the whole sum lives on the collapsed
    * (group, value) frame in exact DECIMAL(38,0). HHI = Σx²/S² and
    * top share = max/S need no order at all. Each output is ONE IEEE
    * division over exact integer operands, round(6).
    *
    * Shape: one corpus-wide unit collapse (map-side partials), then
    * everything runs on the (group, value) frame — bucket-local
    * windows + per-(group, bucket) offsets for the strictly-smaller
    * cumulative (the q249/q184 two-level decomposition: no
    * group-partitioned corpus window, so a few huge groups cannot
    * funnel the corpus through single tasks), and one groups-bounded
    * finalize. */
  def concentrationProfile(df: DataFrame, groupCol: String,
      unitCol: String): DataFrame = {
    val units = df.filter(col(groupCol).isNotNull && col(unitCol).isNotNull)
      .groupBy(col(groupCol), col(unitCol))
      .agg(count(lit(1)).as("_n"))
    val g = col(groupCol)
    val vf = units.groupBy(g, col("_n").as("_v"))
      .agg(count(lit(1)).as("_cv"))
      .withColumn("_bkt", expr("_v div 16"))
      .localCheckpoint()
    val wLoc = Window.partitionBy(g, col("_bkt")).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = vf.withColumn("_l", sum(col("_cv")).over(wLoc))
    val wOff = Window.partitionBy(g).orderBy(col("_bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = vf.groupBy(g, col("_bkt"))
      .agg(sum(col("_cv")).as("_bc"))
      .withColumn("_off", coalesce(sum(col("_bc")).over(wOff), lit(0L)))
      .select(g, col("_bkt"), col("_off"))
    val ranked = local.join(offsets, Seq(groupCol, "_bkt"))
      // units strictly below this value block
      .withColumn("_prev", col("_off") + col("_l") - col("_cv"))
      // the block's exact DOUBLED Σ i·x — 2·Σi over a block of c at
      // positions prev+1..prev+c is c·(2·prev + c + 1), so the term is
      // pure multiplication (no division anywhere, no parity question)
      .withColumn("_six2", expr("""
        cast(_v as decimal(38,0)) * _cv * (2 * _prev + _cv + 1)"""))
    ranked.groupBy(g)
      .agg(sum(col("_cv")).as("n_units"),
        sum(col("_v") * col("_cv")).as("total"),
        sum(col("_v").cast("decimal(38,0)") * col("_v") * col("_cv"))
          .as("_s2"),
        max(col("_v")).as("_mx"),
        sum(col("_six2")).as("_ssix2"))
      .select(g, col("n_units"), col("total"),
        round(expr("""
          cast(_ssix2 - cast(n_units + 1 as decimal(38,0)) * total
               as double)
          / cast(cast(n_units as decimal(38,0)) * total as double)"""), 6)
          .as("gini"),
        round(expr("""
          cast(_s2 as double)
          / (cast(total as double) * cast(total as double))"""), 6)
          .as("hhi"),
        round(expr("cast(_mx as double) / cast(total as double)"), 6)
          .as("top_share"))
  }

  private val q269: Q = (s, d) =>
    concentrationProfile(Tables.events(s, d), "event_type", "user_id")
      .orderBy(col("event_type"))

  // --------------------------------------- robust (nonparametric) trend --

  /** Mann-Kendall trend test + Theil-Sen slope over daily event counts
    * (round 19) — the NONPARAMETRIC sibling of q141's OLS fit, next to
    * the sequential alarm (q263 CUSUM) and the fixed-window gates: "is
    * ingest volume drifting, without assuming linear-Gaussian noise?"
    * MK's S statistic counts concordant minus discordant day pairs
    * (outlier-immune where a single spike owns an OLS slope), tau-b
    * normalizes with the tie correction, and the Theil-Sen slope — the
    * median of all pairwise slopes — is the robust rate estimate
    * dashboards act on.
    *
    * Determinism: S, the tie term and the pair count are exact
    * integers; each pairwise slope is ONE IEEE division of exact
    * integers (identical operands both engines — ordering doubles is
    * exact); the median picks row_number positions (⌈m/2⌉, m div 2 + 1)
    * under the (slope, day-pair) total order and averages the two
    * (equal when m is odd), round(6); tau-b is one pinned sqrt chain,
    * NULL when every day count is equal (the tie term consumes n0).
    *
    * Shape: ONE days-bounded keyed collapse over the corpus (map-side
    * partials); the pair join, the slope sort and every aggregate live
    * on the ≤ |days| (and ≤ |days|²/2) frames — the [[kaplanMeier]]
    * bounded-quadratic class, a constant at any corpus scale. The
    * slope window is single-partition over the bounded pair frame by
    * construction. */
  def robustTrend(df: DataFrame, tsCol: String): DataFrame = {
    val days = df.filter(col(tsCol).isNotNull)
      .select(to_date(col(tsCol)).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n"))
      .withColumn("_d", datediff(col("day"), lit("1970-01-01").cast("date")))
      .localCheckpoint()
    val a = days.select(col("_d").as("_da"), col("n").as("_na"))
    val b = days.select(col("_d").as("_db"), col("n").as("_nb"))
    val pairs = a.join(b, col("_da") < col("_db"))
      .select(col("_da"), col("_db"),
        (col("_nb") - col("_na")).as("_dn"),
        (col("_db") - col("_da")).as("_dd"))
      .localCheckpoint()
    val mk = pairs.agg(count(lit(1)).as("_m"),
      sum(when(col("_dn") > 0, 1L).when(col("_dn") < 0, -1L)
        .otherwise(0L)).as("s"))
    val ties = days.groupBy(col("n")).agg(count(lit(1)).as("_t"))
      .agg(coalesce(sum(expr("_t * (_t - 1) div 2")), lit(0L)).as("_T"),
        coalesce(sum(col("_t")), lit(0L)).as("n_days"))
    val wSl = Window.orderBy(col("_sl"), col("_da"), col("_db"))
    val med = pairs
      .select(col("_da"), col("_db"),
        (col("_dn").cast("double") / col("_dd")).as("_sl"))
      .withColumn("_rn", row_number().over(wSl))
      .crossJoin(broadcast(mk.select(col("_m"))))
      .filter(col("_rn") === expr("(_m + 1) div 2") ||
        col("_rn") === expr("_m div 2 + 1"))
      .agg(round(avg(col("_sl")), 6).as("sen_slope"))
    mk.crossJoin(broadcast(ties)).crossJoin(broadcast(med))
      .select(col("n_days"), col("s"),
        round(expr("""
          case when _m - _T > 0
               then s / sqrt(cast(_m as double) * (_m - _T)) end"""), 6)
          .as("tau_b"),
        col("sen_slope"))
  }

  private val q270: Q = (s, d) =>
    robustTrend(Tables.events(s, d), "ts")

  // ----------------------------------------------- autocorrelation --

  /** Autocorrelation function of daily event counts at lags 1..`maxLag`
    * (round 19) — the seasonality detector next to the trend tests
    * (q141 OLS, q270 MK) and the alarms (q263 CUSUM): a weekly cycle
    * shows as a spike at lag 7 BEFORE anyone hardcodes "compare to last
    * week" into a dashboard, and a near-1 lag-1 says today's volume
    * predicts tomorrow's (the signal the q210 seasonal-naive backtest
    * assumes). Standard estimator: r_L = Σ(xᵢ−x̄)(xᵢ₊L−x̄) / Σ(xᵢ−x̄)²
    * over the day-index series.
    *
    * Determinism: the estimator is cleared of fractions — both sides
    * multiply by N², so r_L = (N²·ΣXY − N·S·(H+T) + (N−L)·S²) /
    * (N·(N·S2 − S²)) with every operand an exact DECIMAL(38,0) moment;
    * ONE IEEE division per lag, round(6). Constant series (zero
    * variance) → NULL.
    *
    * Shape: ONE days-bounded keyed collapse over the corpus; the index
    * window, the lag self-joins and the moments all live on the
    * ≤ |days| frame (the index window is single-partition over that
    * bounded frame by construction — the q263/q270 class). */
  def autocorrelation(df: DataFrame, tsCol: String,
      maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1 && maxLag <= 64,
      s"autocorrelation: maxLag must be in [1, 64], got $maxLag")
    val days = df.filter(col(tsCol).isNotNull)
      .select(to_date(col(tsCol)).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n"))
      .withColumn("_i", row_number().over(Window.orderBy(col("day"))))
      .localCheckpoint()
    val stats = days.agg(count(lit(1)).as("_N"),
      sum(col("n").cast("decimal(38,0)")).as("_S"),
      sum(col("n").cast("decimal(38,0)") * col("n")).as("_S2"))
    val lags = days.sparkSession.range(1, maxLag + 1)
      .select(col("id").cast("int").as("lag"))
    val a = days.select(col("_i").as("_ia"), col("n").as("_na"))
    val b = days.select(col("_i").as("_ib"), col("n").as("_nb"))
    val pairs = a.join(b, col("_ib") - col("_ia") <= maxLag &&
        col("_ib") > col("_ia"))
      .select((col("_ib") - col("_ia")).cast("int").as("lag"),
        (col("_na").cast("decimal(38,0)") * col("_nb")).as("_xy"),
        col("_na"), col("_nb"))
      .groupBy(col("lag"))
      .agg(sum(col("_xy")).as("_XY"),
        sum(col("_na").cast("decimal(38,0)")).as("_H"),
        sum(col("_nb").cast("decimal(38,0)")).as("_T"))
    lags.join(pairs, Seq("lag"), "left")
      .crossJoin(broadcast(stats))
      .select(col("lag"),
        greatest(lit(0L), col("_N") - col("lag")).as("n_pairs"),
        round(expr("""
          case when _N * _S2 - _S * _S <> 0 and _XY is not null
               then cast(cast(_N as decimal(38,0)) * _N * _XY
                         - cast(_N as decimal(38,0)) * _S * (_H + _T)
                         + (_N - lag) * _S * _S as double)
                    / cast(cast(_N as decimal(38,0))
                           * (_N * _S2 - _S * _S) as double) end"""), 6)
          .as("acf"))
      .orderBy(col("lag"))
  }

  private val q272: Q = (s, d) =>
    autocorrelation(Tables.events(s, d), "ts")

  // ------------------------------------------ inter-arrival burstiness --

  /** Per-type inter-arrival statistics — mean gap, dispersion, CV and
    * the Goh–Barabási burstiness B = (σ−μ)/(σ+μ) (round 19): the
    * traffic-shape diagnostic behind rate limits, session-gap choices
    * (q113's 30-min constant) and capacity planning — B ≈ −1 is a
    * metronome (provisioning is easy), B ≈ 0 Poisson, B → 1 heavy
    * bursts (the regime where mean-based capacity fails). Gaps are
    * consecutive same-user waits; the roll-up groups them by the
    * arriving event's type.
    *
    * Determinism: gaps are exact integral microseconds (the lag window
    * rides the (us, id) total order — FIXTURES.md pins (user, us, id)
    * uniqueness); moments are exact DECIMAL(38,0); mean, σ, CV and B
    * are pinned IEEE chains over them, round(6). Single-gap groups get
    * σ = 0 → B = −1, CV = 0 (defined; only μ = 0 groups NULL out).
    * Mean/σ are emitted in SECONDS, not microseconds: round(·, 6) is
    * only deterministic when the rounding grid is ≥ the double's ulp,
    * and a ~4·10¹⁰ µs mean has ulp ≈ 7.6·10⁻⁶ — rounding BELOW ulp
    * diverged in the last bit at the sf0.1 gate (caught pre-commit);
    * at seconds scale the grid is 10⁶× the ulp.
    *
    * Shape: ONE user-keyed window exchange for the lag (users are the
    * fine-grained partition key — never a per-type corpus window), one
    * types-bounded keyed aggregate with map-side partials, map-side
    * chains. */
  def interArrivalStats(df: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col("_us"), col(idCol))
    val gaps = df.filter(col(userCol).isNotNull && col(typeCol).isNotNull
        && col(tsCol).isNotNull)
      .select(col(userCol), col(typeCol), col(idCol),
        unix_micros(col(tsCol)).as("_us"))
      .withColumn("_g", col("_us") - lag(col("_us"), 1).over(w))
      .filter(col("_g").isNotNull)
    gaps.groupBy(col(typeCol))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("_g").cast("decimal(38,0)")).as("_sg"),
        sum(col("_g").cast("decimal(38,0)") * col("_g")).as("_sg2"))
      .select(col(typeCol), col("n_gaps"),
        round(expr("cast(_sg as double) / n_gaps / 1000000.0"), 6)
          .as("mean_s"),
        round(expr("""
          sqrt((cast(_sg2 as double)
                - cast(_sg as double) * cast(_sg as double) / n_gaps)
               / n_gaps) / 1000000.0"""), 6).as("sd_s"),
        round(expr("""
          case when _sg > 0 then
            sqrt((cast(_sg2 as double)
                  - cast(_sg as double) * cast(_sg as double) / n_gaps)
                 / n_gaps)
            / (cast(_sg as double) / n_gaps) end"""), 6).as("cv"),
        round(expr("""
          case when _sg > 0 then
            (sqrt((cast(_sg2 as double)
                   - cast(_sg as double) * cast(_sg as double) / n_gaps)
                  / n_gaps)
             - cast(_sg as double) / n_gaps)
            / (sqrt((cast(_sg2 as double)
                     - cast(_sg as double) * cast(_sg as double) / n_gaps)
                    / n_gaps)
               + cast(_sg as double) / n_gaps) end"""), 6)
          .as("burstiness"))
  }

  private val q273: Q = (s, d) =>
    interArrivalStats(Tables.events(s, d), "user_id", "ts", "event_id",
      "event_type")
      .orderBy(col("event_type"))

  // --------------------------------- incremental JOIN-view maintenance --

  /** Incremental maintenance of a JOIN-view aggregate (round 19) — the
    * JOIN leg of the incremental-maintenance family ([[aggState]] q114
    * maintains a single-table aggregate, [[snapshotAggMerge]] q258 its
    * variance moments; real materialized views join first). For the
    * view V = γ(A ⋈ B), new rows ΔA/ΔB update it by the classic delta
    * decomposition ΔV = γ(ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB) — three joins each
    * carrying a DELTA side, so maintenance work scales with the delta,
    * never with a base×base rescan; the merged view is a key-keyed sum
    * merge of two already-aggregated small frames (q258's economics).
    *
    * The oracle computes γ((A₀∪ΔA) ⋈ (B₀∪ΔB)) single-pass, so
    * agreement certifies maintain(V₀, ΔA, ΔB) ≡ recompute(A, B)
    * EXACTLY — counts are integers and the measure is an exact
    * DECIMAL(14,2) sum, so maintained and recomputed states are
    * bit-equal. Split predicates ride the q258 defined-boolean rule
    * (coalesce to false): every row lands in exactly one snapshot.
    *
    * Shape: base view ONE join + keyed aggregate (computed here only
    * because the certificate needs V₀ — in production it's the stored
    * view); the three delta joins share B₀/A₀ scans, and the final
    * merge is a full-outer join of two groups-bounded frames. */
  def joinViewMaintenance(a: DataFrame, b: DataFrame, aJoin: String,
      bJoin: String, aGroup: String, bGroup: String, valCol: String,
      inBaseA: Column, inBaseB: Column): DataFrame = {
    // Checkpointed once: a0/da (and b0/db) below are filters over these
    // frames, and the four view legs would otherwise re-run the base scans
    // AND the split predicates (md5-derived — the expensive part of the
    // projection) once per leg (r21; the skinny key+group+flag projection
    // is what materializes, never the base tables' full width).
    val at = a.filter(col(aJoin).isNotNull)
      .select(col(aJoin).as("_k"), col(aGroup).as("_ga"),
        coalesce(inBaseA, lit(false)).as("_ba"))
      .localCheckpoint()
    val bt = b.filter(col(bJoin).isNotNull)
      .select(col(bJoin).as("_k"), col(bGroup).as("_gb"),
        col(valCol).cast("decimal(14,2)").as("_v"),
        coalesce(inBaseB, lit(false)).as("_bb"))
      .localCheckpoint()
    val a0 = at.filter(col("_ba")).drop("_ba")
    val da = at.filter(!col("_ba")).drop("_ba")
    val b0 = bt.filter(col("_bb")).drop("_bb")
    val db = bt.filter(!col("_bb")).drop("_bb")
    def view(l: DataFrame, r: DataFrame) = l.join(r, "_k")
      .groupBy(col("_ga"), col("_gb"))
      .agg(count(lit(1)).as("_n"),
        sum(col("_v")).cast("decimal(38,2)").as("_s"))
    val v0 = view(a0, b0)
    // ΔV in ONE aggregate over the union of the three delta joins
    val dv = view(da, b0)
      .unionAll(view(a0, db)).unionAll(view(da, db))
      .groupBy(col("_ga"), col("_gb"))
      .agg(sum(col("_n")).as("_n"),
        sum(col("_s")).cast("decimal(38,2)").as("_s"))
    v0.select(col("_ga"), col("_gb"), col("_n").as("_n0"),
        col("_s").as("_s0"))
      .join(dv, Seq("_ga", "_gb"), "full_outer")
      .select(col("_ga"), col("_gb"),
        (coalesce(col("_n0"), lit(0L)) + coalesce(col("_n"), lit(0L)))
          .as("n"),
        (coalesce(col("_s0"), lit(0).cast("decimal(38,2)"))
          + coalesce(col("_s"), lit(0).cast("decimal(38,2)")))
          .cast("decimal(38,2)").cast("double").as("revenue"))
  }

  private val q274: Q = (s, d) =>
    joinViewMaintenance(Tables.orders(s, d), Tables.lineitem(s, d),
      "o_orderkey", "l_orderkey", "o_orderpriority", "l_returnflag",
      "l_extendedprice",
      expr(s"pmod(${CrossHash.h60Expr("o_orderkey")}, 4) != 0"),
      expr(s"pmod(${
        CrossHash.h60Expr("concat(l_orderkey, ':', l_linenumber)")}, 3) != 0"))
      .withColumnRenamed("_ga", "o_orderpriority")
      .withColumnRenamed("_gb", "l_returnflag")
      .orderBy(col("o_orderpriority"), col("l_returnflag"))

  // ------------------------------------------------ Neyman allocation --

  /** Neyman-optimal sample allocation with largest-remainder integer
    * apportionment (round 19) — "you can afford to label `budget` rows;
    * how many from each stratum?" The variance-minimizing answer
    * allocates ∝ N_h·σ_h (big AND noisy strata earn more than big
    * alone), and the integer seats come from Hamilton's largest-
    * remainder method so they sum to the budget EXACTLY — the
    * apportionment step ad-hoc float rounding always gets wrong by a
    * seat or two. Degenerate corpus (every stratum constant, ΣN·σ = 0)
    * falls back to proportional-to-N — the statistically right limit
    * (equal σ ⇒ proportional), the q180/attributionModels
    * defined-degenerate discipline.
    *
    * Determinism: (N, Σv, Σv²) are exact DECIMAL moments; σ, weights,
    * quotas are pinned IEEE chains; floors are exact; the remainder
    * ranking is a pinned (remainder DESC, stratum) total order. Seats
    * are integers; Σalloc = budget by construction (spec-locked).
    *
    * Shape: ONE strata-bounded keyed aggregate over the corpus
    * (map-side partials); every window and broadcast after it rides the
    * ≤ |strata| frame. */
  def neymanAllocation(df: DataFrame, stratumCol: String, valCol: String,
      budget: Int = 1000): DataFrame = {
    require(budget >= 1, s"neymanAllocation: budget must be >= 1, got $budget")
    val m = df.filter(col(stratumCol).isNotNull && col(valCol).isNotNull)
      .select(col(stratumCol), col(valCol).cast("decimal(14,2)").as("_v"))
      .groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("_v")).cast("decimal(38,2)").as("_s"),
        sum((col("_v") * col("_v")).cast("decimal(38,4)"))
          .cast("decimal(38,4)").as("_s2"))
      .withColumn("_sd", expr("""
        sqrt((cast(_s2 as double)
              - cast(_s as double) * cast(_s as double) / n_rows)
             / n_rows)"""))
      .withColumn("_w", col("n_rows") * col("_sd"))
      .localCheckpoint()
    val tot = m.agg(sum(col("_w")).as("_W0"),
      sum(col("n_rows").cast("double")).as("_WN"))
    val q = m.crossJoin(broadcast(tot))
      .withColumn("_we",
        when(col("_W0") > 0, col("_w")).otherwise(col("n_rows").cast("double")))
      .withColumn("_q",
        lit(budget) * col("_we")
          / when(col("_W0") > 0, col("_W0")).otherwise(col("_WN")))
      .withColumn("_fl", floor(col("_q")).cast("long"))
      .withColumn("_rem", col("_q") - col("_fl"))
    val totF = q.agg(sum(col("_fl")).as("_tf"))
    val wR = Window.orderBy(col("_rem").desc, col(stratumCol))
    q.withColumn("_rk", row_number().over(wR))
      .crossJoin(broadcast(totF))
      .select(col(stratumCol), col("n_rows"),
        round(col("_sd"), 6).as("sd"),
        round(col("_q"), 6).as("quota"),
        (col("_fl") + when(col("_rk") <= lit(budget.toLong) - col("_tf"),
          1L).otherwise(0L)).as("alloc"))
  }

  private val q278: Q = (s, d) =>
    neymanAllocation(Tables.events(s, d), "event_type", "value")
      .orderBy(col("event_type"))

  // ------------------------------------------- isotonic calibration --

  /** Isotonic (PAV) calibration curve over binned scores (round 20,
    * VERDICT r19 item 5a) — the monotone companion to [[calibrationBins]]
    * q181 and [[liftTable]] q242: reliability bins show WHERE a score is
    * miscalibrated; the isotonic fit is the canonical FIX (the
    * non-parametric monotone regression every probability-calibration
    * pipeline runs before thresholding). Scores collapse to `bins`
    * equal-width cells first (q181's broadcast-bounds binning verbatim,
    * constant-score guard included), then the fit uses the max-min
    * closed form of isotonic regression — fitted(k) = max_{i≤k}
    * min_{j≥k} mean(cells i..j) — which equals pool-adjacent-violators
    * exactly but is fully declarative: one ≤ B² pair frame + one running
    * window min + one bounded max, no sequential pool loop.
    *
    * Determinism: cell moments are exact longs; mean(i,j) is ONE pinned
    * double division of exact longs; min/max over IEEE doubles are
    * order-free; round(6). Shape: ONE corpus keyed collapse to ≤ B
    * cells (map-side partials); everything after rides bins-bounded
    * frames — the pair frame is ≤ B², a constant, never corpus-sized. */
  def isotonicCalibration(df: DataFrame, scoreCol: String, labelCol: Column,
      bins: Int = 50): DataFrame = {
    require(bins >= 2, s"isotonicCalibration: bins must be >= 2, got $bins")
    val base = df.filter(col(scoreCol).isNotNull)
      .select(col(scoreCol).cast("double").as("s"),
        when(labelCol, 1L).otherwise(0L).as("y"))
    val bounds = base.agg(min(col("s")).as("lo"), max(col("s")).as("hi"))
    val cells = base.crossJoin(broadcast(bounds))
      .withColumn("bin",
        when(col("hi") === col("lo"), lit(0))
          .otherwise(least(
            floor((col("s") - col("lo")) * bins / (col("hi") - col("lo"))),
            lit(bins - 1)).cast("int")))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("w"), sum(col("y")).as("v"))
      .withColumn("k",
        row_number().over(Window.orderBy(col("bin"))).cast("int"))
      .localCheckpoint()
    // prefix sums over the <= B cell frame (exact longs)
    val wp = Window.orderBy(col("k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = cells.select(col("k"), col("bin"), col("w"), col("v"),
      sum(col("w")).over(wp).as("cw"), sum(col("v")).over(wp).as("cv"))
    val hi = pre.select(col("k").as("j"), col("cw").as("cwj"),
      col("cv").as("cvj"))
    val lo = pre.select(col("k").as("i"),
      (col("cw") - col("w")).as("cwi"), (col("cv") - col("v")).as("cvi"))
    // mean(i..j) for every i <= j, then rmin(i,k) = min_{j>=k} mean(i,j)
    // via ONE running min per i (ordered j DESC), then fitted(k) =
    // max_{i<=k} rmin(i,k) — all on <= B^2 rows.
    val pairs = lo.join(broadcast(hi), col("i") <= col("j"))
      .select(col("i"), col("j"),
        ((col("cvj") - col("cvi")).cast("double")
          / (col("cwj") - col("cwi"))).as("m"))
    val wmin = Window.partitionBy(col("i")).orderBy(col("j").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fitted = pairs
      .select(col("i"), col("j").as("k"), min(col("m")).over(wmin).as("rmin"))
      .filter(col("i") <= col("k"))
      .groupBy(col("k")).agg(max(col("rmin")).as("iso"))
    // both sides are <= B rows (bins-bounded) — hint the join so the
    // checkpointed cell frame's scale-blind size estimate can't flip
    // the bounded BHJ to an SMJ at bench scale (StatsSweep r20)
    cells.join(broadcast(fitted), Seq("k"))
      .select(col("bin"), col("w").as("n_rows"), col("v").as("n_pos"),
        round(col("v").cast("double") / col("w"), 6).as("raw_rate"),
        round(col("iso"), 6).as("iso_rate"))
  }

  private val q281: Q = (s, d) =>
    isotonicCalibration(Tables.events(s, d), "value",
      col("event_type") === "purchase")
      .orderBy(col("bin"))

  // ----------------------------------------------- A/B power / MDE --

  /** Experiment power readout — the minimum detectable effect (round 20):
    * "with the traffic each arm actually got, what's the smallest lift
    * this test could have seen?" — the question asked BEFORE reading
    * [[abTest]]'s z or [[welchTest]]'s t, because an underpowered
    * no-result is not a negative result. Per metric group: arm sizes,
    * arm means, pooled-arm variances, and the two-sample MDE at 5%
    * two-sided / 80% power — MDE = (z_{α/2} + z_β) · √(s₀²/n₀ + s₁²/n₁)
    * with the z constants pinned as literals (1.959964, 0.841621 — the
    * same no-libm-inverse discipline as q265's Wilson z), plus the
    * relative MDE against the control mean. Assignment is the
    * deterministic user-id parity split (arm = user_id mod 2 — any
    * deterministic arm expression slots in; q48's hash split is the
    * production choice).
    *
    * Determinism: (n, Σv, Σv²) are exact DECIMAL moments per (group,
    * arm); variances, the MDE chain and the ratio are pinned IEEE
    * chains over them; round(6). Control mean 0 → NULL relative MDE.
    * Shape: ONE groups×2-bounded keyed aggregate with map-side
    * partials; the arm pivot and scalar chains ride the bounded frame. */
  def abPower(df: DataFrame, groupCol: String, userCol: String,
      valCol: String): DataFrame = {
    val m = df.filter(col(groupCol).isNotNull && col(userCol).isNotNull
        && col(valCol).isNotNull)
      .select(col(groupCol), pmod(col(userCol), lit(2)).as("arm"),
        col(valCol).cast("decimal(14,2)").as("_v"))
      .groupBy(col(groupCol), col("arm"))
      .agg(count(lit(1)).as("n"),
        sum(col("_v")).cast("decimal(38,2)").as("_s"),
        sum((col("_v") * col("_v")).cast("decimal(38,4)"))
          .cast("decimal(38,4)").as("_s2"))
      .withColumn("_var", expr("""
        (cast(_s2 as double) - cast(_s as double) * cast(_s as double) / n)
        / n"""))
      .withColumn("_mean", expr("cast(_s as double) / n"))
    val p = m.groupBy(col(groupCol))
      .agg(max(when(col("arm") === 0, col("n"))).as("n0"),
        max(when(col("arm") === 1, col("n"))).as("n1"),
        max(when(col("arm") === 0, col("_mean"))).as("m0"),
        max(when(col("arm") === 1, col("_mean"))).as("m1"),
        max(when(col("arm") === 0, col("_var"))).as("v0"),
        max(when(col("arm") === 1, col("_var"))).as("v1"))
      .filter(col("n0").isNotNull && col("n1").isNotNull)
    p.select(col(groupCol), col("n0"), col("n1"),
      round(col("m0"), 6).as("mean_control"),
      round(col("m1"), 6).as("mean_treat"),
      round((lit(1.959964) + lit(0.841621))
        * sqrt(col("v0") / col("n0") + col("v1") / col("n1")), 6)
        .as("mde_abs"),
      round(when(col("m0") =!= 0.0,
        (lit(1.959964) + lit(0.841621))
          * sqrt(col("v0") / col("n0") + col("v1") / col("n1"))
          / col("m0")), 6).as("mde_rel"))
  }

  private val q287: Q = (s, d) =>
    abPower(Tables.events(s, d), "event_type", "user_id", "value")
      .orderBy(col("event_type"))

  // -------------------------------------------- mutual information --

  /** Mutual information between two categorical columns (round 20) —
    * the feature-selection/leakage readout next to [[chi2Drift]] q238
    * (chi² says "dependent?"; MI says HOW MANY NATS the dependence is
    * worth, the number fed to feature ranking and redundancy pruning).
    * Emitted with both marginal entropies and the normalized
    * MI / √(H_x·H_y) so the scale-free score is one readout.
    *
    * Determinism: cell/margin counts are exact longs from ONE keyed
    * collapse; each p·ln term is 9-dp pre-rounded into an exact DECIMAL
    * sum (the q256/q275 libm discipline — the ONLY float op per term is
    * one ln of a ratio of exact counts), finals round(6). NMI NULLs out
    * when either marginal entropy is 0 (a constant column carries no
    * normalizable information). Shape: ONE |X|×|Y|-bounded keyed
    * collapse with map-side partials; margins and entropy sums ride the
    * bounded cell frame (two tiny broadcasts). */
  def mutualInfo(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val cells = df.select(xCol.as("x"), yCol.as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val nx = cells.groupBy(col("x")).agg(sum(col("c")).as("cx"))
    val ny = cells.groupBy(col("y")).agg(sum(col("c")).as("cy"))
    val tot = cells.agg(sum(col("c")).as("nn"))
    val terms = cells.join(broadcast(nx), "x").join(broadcast(ny), "y")
      .crossJoin(broadcast(tot))
      .select(col("nn"),
        expr("""cast(round(cast(c as double) / nn
                 * ln(cast(c as double) * nn / (cast(cx as double) * cy)), 9)
               as decimal(20,9))""").as("t_mi"))
    val hx = nx.crossJoin(broadcast(tot)).agg(
      sum(expr("""cast(round(-(cast(cx as double) / nn)
                   * ln(cast(cx as double) / nn), 9)
                 as decimal(20,9))""")).as("_hx"))
    val hy = ny.crossJoin(broadcast(tot)).agg(
      sum(expr("""cast(round(-(cast(cy as double) / nn)
                   * ln(cast(cy as double) / nn), 9)
                 as decimal(20,9))""")).as("_hy"))
    terms.agg(max(col("nn")).as("n"),
        count(lit(1)).as("n_cells"),
        sum(col("t_mi")).as("_mi"))
      .crossJoin(broadcast(hx)).crossJoin(broadcast(hy))
      .select(col("n"), col("n_cells"),
        round(col("_mi").cast("double"), 6).as("mi_nats"),
        round(col("_hx").cast("double"), 6).as("h_x"),
        round(col("_hy").cast("double"), 6).as("h_y"),
        round(when(col("_hx") > 0 && col("_hy") > 0,
          col("_mi").cast("double")
            / sqrt(col("_hx").cast("double") * col("_hy").cast("double"))),
          6).as("nmi"))
      .filter(col("n").isNotNull) // empty input -> empty, not a null row
  }

  private val q288: Q = (s, d) =>
    mutualInfo(Tables.events(s, d), col("event_type"),
      dayofweek(col("ts")))

  // -------------------------------------- sequential pattern mining --

  /** Capped sequential-pattern mining, PrefixSpan-style at lengths ≤ 3
    * (round 20, VERDICT r19 item 5b) — the generalization of
    * [[sessionPaths]] q170's CONTIGUOUS trigrams to gapped subsequences:
    * "users who view … then later purchase", whatever happens in
    * between — the shape funnel exploration and next-action models mine.
    * Support = the number of distinct users whose (ts, id)-ordered
    * event-type sequence CONTAINS the pattern as a subsequence.
    *
    * Scale valve (the q218 cap-before-pairing discipline): each user's
    * sequence is capped to its first `cap` events via ONE user-keyed
    * row_number prune, so per-user subsequence fan-out is ≤ C(cap,3) —
    * a constant, never corpus-quadratic — and the per-user DISTINCT
    * collapses it to ≤ |types|³ before the support count. Shape: one
    * user-keyed window exchange, three bounded self-joins on the capped
    * frame, patterns-bounded aggregates.
    *
    * Determinism: the order is the fixture-pinned (us, id) total order
    * per user; every output is an exact count. */
  def seqPatterns(df: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String, cap: Int = 12,
      minSupport: Int = 2): DataFrame = {
    require(cap >= 3, s"seqPatterns: cap must be >= 3, got $cap")
    require(minSupport >= 1,
      s"seqPatterns: minSupport must be >= 1, got $minSupport")
    val w = Window.partitionBy(col("u")).orderBy(col("_us"), col(idCol))
    val ranked = df.filter(col(userCol).isNotNull && col(typeCol).isNotNull
        && col(tsCol).isNotNull && col(idCol).isNotNull)
      .select(col(userCol).as("u"), col(typeCol).as("t"),
        unix_micros(col(tsCol)).as("_us"), col(idCol))
      .withColumn("p", row_number().over(w))
      .filter(col("p") <= cap)
      .select(col("u"), col("t"), col("p"))
      .localCheckpoint()
    val l1 = ranked.select(col("u"), col("t")).distinct()
      .groupBy(col("t").as("p1")).agg(count(lit(1)).as("support"))
      .select(lit(1).as("length"), col("p1"),
        lit(null).cast("string").as("p2"), lit(null).cast("string").as("p3"),
        col("support"))
    val l2 = ranked.as("r1")
      .join(ranked.as("r2"),
        col("r1.u") === col("r2.u") && col("r1.p") < col("r2.p"))
      .select(col("r1.u").as("u"), col("r1.t").as("t1"), col("r2.t").as("t2"))
      .distinct()
      .groupBy(col("t1").as("p1"), col("t2").as("p2"))
      .agg(count(lit(1)).as("support"))
      .select(lit(2).as("length"), col("p1"), col("p2"),
        lit(null).cast("string").as("p3"), col("support"))
    val l3 = ranked.as("r1")
      .join(ranked.as("r2"),
        col("r1.u") === col("r2.u") && col("r1.p") < col("r2.p"))
      .join(ranked.as("r3"),
        col("r2.u") === col("r3.u") && col("r2.p") < col("r3.p"))
      .select(col("r1.u").as("u"), col("r1.t").as("t1"),
        col("r2.t").as("t2"), col("r3.t").as("t3"))
      .distinct()
      .groupBy(col("t1").as("p1"), col("t2").as("p2"), col("t3").as("p3"))
      .agg(count(lit(1)).as("support"))
      .select(lit(3).as("length"), col("p1"), col("p2"), col("p3"),
        col("support"))
    l1.unionAll(l2).unionAll(l3).filter(col("support") >= minSupport)
  }

  private val q282: Q = (s, d) =>
    seqPatterns(Tables.events(s, d), "user_id", "ts", "event_id",
      "event_type")
      .orderBy(col("length"), col("p1"), col("p2"), col("p3"))

  // -------------------------------------------------- log-rank test --

  /** Two-group log-rank test (round 20) — the hypothesis-test companion
    * to [[kaplanMeier]] q244: the curves SHOW the two arms' survival;
    * the log-rank statistic says whether they differ beyond chance,
    * weighting every pooled event day by its hypergeometric expectation
    * — the standard churn/retention A/B readout. Shares q244's lifetable
    * derivation verbatim (per-user first→last duration in days, horizon
    * censoring) so the two operators read the same experiment.
    *
    * At each pooled event day t: observed arm-0 events d₀ₜ vs expected
    * e₀ₜ = dₜ·n₀ₜ/nₜ under the null, variance vₜ = dₜ·(n₀ₜ/nₜ)·(n₁ₜ/nₜ)
    * ·(nₜ−dₜ)/(nₜ−1) (0 when nₜ ≤ 1); χ² = (Σd₀ₜ−Σe₀ₜ)²/Σvₜ, NULL when
    * Σvₜ = 0. At-risk counts are exact longs (total − removed-before-t,
    * the standard convention that day-t events/censored are still at
    * risk at t); e/v are pinned IEEE chains 9-dp pre-rounded into exact
    * DECIMAL sums (the q256/q275 discipline), finals round(6).
    *
    * Shape: ONE user-keyed collapse; the lifetable, the pooled day
    * spine and the before-t removal join all ride ≤ |days|-bounded
    * frames (the q270 bounded-quadratic day-frame class — |days|² is a
    * constant of the observation window, not the corpus). */
  def logRank(df: DataFrame, userCol: String, tsCol: String,
      groupCol: Column, censorDays: Int = 7): DataFrame = {
    require(censorDays >= 0,
      s"logRank: censorDays must be >= 0, got $censorDays")
    val dayUs = 86400000000L
    val per = df.filter(col(userCol).isNotNull)
      .groupBy(col(userCol))
      .agg(min(unix_micros(col(tsCol))).as("_t0"),
        max(unix_micros(col(tsCol))).as("_t1"))
    val hz = df.agg(max(unix_micros(col(tsCol))).as("_hz"))
    val dur = per.crossJoin(broadcast(hz))
      .withColumn("grp", groupCol)
      .withColumn("d", expr(s"(_t1 - _t0) div ${dayUs}L"))
      .withColumn("_ev", col("_t1") < col("_hz") - censorDays * dayUs)
    val lt = dur.groupBy(col("grp"), col("d"))
      .agg(sum(when(col("_ev"), 1L).otherwise(0L)).as("ev"),
        sum(when(col("_ev"), 0L).otherwise(1L)).as("cn"))
      .localCheckpoint()
    val tot = lt.groupBy(col("grp"))
      .agg(sum(col("ev") + col("cn")).as("_n"))
    val spine = lt.groupBy(col("d")).agg(sum(col("ev")).as("_dt"))
      .filter(col("_dt") > 0).select(col("d").as("td"))
    // removed-before-t per (grp, t): a days^2-bounded band join — both
    // sides are |days|-bounded, so the spine is broadcast-hinted (the
    // unhinted form degraded BNLJ -> CartesianProduct at the 10x tier,
    // StatsSweep r20)
    val removed = broadcast(spine).join(lt, lt("d") < col("td"))
      .groupBy(col("grp"), col("td"))
      .agg(sum(col("ev") + col("cn")).as("_rm"))
    val cells = spine.crossJoin(broadcast(tot.select(col("grp"))))
      .join(removed, Seq("grp", "td"), "left")
      .join(broadcast(tot), Seq("grp"))
      .join(broadcast(lt.select(col("grp"), col("d").as("td"), col("ev"))),
        Seq("grp", "td"), "left")
      .select(col("grp"), col("td"),
        (col("_n") - coalesce(col("_rm"), lit(0L))).as("nr"),
        coalesce(col("ev"), lit(0L)).as("de"))
    val piv = cells.groupBy(col("td"))
      .agg(max(when(col("grp") === 0, col("nr"))).as("n0"),
        max(when(col("grp") === 1, col("nr"))).as("n1"),
        max(when(col("grp") === 0, col("de"))).as("d0"),
        max(when(col("grp") === 1, col("de"))).as("d1"))
      .filter(col("n0").isNotNull && col("n1").isNotNull)
      .withColumn("nt", col("n0") + col("n1"))
      .withColumn("dt", col("d0") + col("d1"))
      .filter(col("nt") > 0)
    val terms = piv.select(col("td"), col("d0"), col("d1"),
      expr("""cast(round(cast(dt as double) * n0 / nt, 9)
             as decimal(20,9))""").as("te0"),
      expr("""cast(round(cast(dt as double) * n1 / nt, 9)
             as decimal(20,9))""").as("te1"),
      expr("""cast(round(case when nt > 1 then
                cast(dt as double) * (cast(n0 as double) / nt)
                  * (cast(n1 as double) / nt)
                  * (cast(nt - dt as double) / (nt - 1))
                else 0.0 end, 9) as decimal(20,9))""").as("tv"))
    terms.agg(count(lit(1)).as("n_times"),
        sum(col("d0")).as("o0"), sum(col("d1")).as("o1"),
        sum(col("te0")).as("_e0"), sum(col("te1")).as("_e1"),
        sum(col("tv")).as("_v"))
      .filter(col("n_times").isNotNull && col("o0").isNotNull)
      .select(col("n_times"), col("o0"),
        round(col("_e0").cast("double"), 6).as("e0"),
        col("o1"),
        round(col("_e1").cast("double"), 6).as("e1"),
        round(when(col("_v") > 0,
          (col("o0") - col("_e0").cast("double"))
            * (col("o0") - col("_e0").cast("double"))
            / col("_v").cast("double")), 6).as("chi2"))
  }

  // censorDays = 1, not q244's 7: the fixture window is ~30 days of
  // uniformly-active users, so a 7-day horizon censors EVERYONE (zero
  // event days -> an empty test at every SF); one day yields the mixed
  // event/censor population a survival test needs (1/15, 17/150,
  // 156/1500 events at the three gate scales).
  private val q285: Q = (s, d) =>
    logRank(Tables.events(s, d), "user_id", "ts",
      expr(s"pmod(${graft.operators.CrossHash.h60Expr("user_id")}, 2)"),
      censorDays = 1)

  val queries: Map[String, Q] = Map(
    "q282_seq_patterns" -> q282,
    "q285_logrank" -> q285,
    "q281_isotonic" -> q281,
    "q287_ab_power" -> q287,
    "q288_mutual_info" -> q288,
    "q274_join_view_maintenance" -> q274,
    "q278_neyman_allocation" -> q278,
    "q272_acf" -> q272,
    "q273_burstiness" -> q273,
    "q269_concentration" -> q269,
    "q270_robust_trend" -> q270,
    "q236_decayed_features" -> q236,
    "q113_sessionize" -> q113,
    "q114_incremental_agg" -> q114,
    "q116_scd2" -> q116,
    "q117_skyline" -> q117,
    "q120_hist_quantiles" -> q120,
    "q222_hist_merge" -> q222,
    "q223_kmv_merge" -> q223,
    "q224_bloom_merge" -> q224,
    "q225_countmin_merge" -> q225,
    "q128_group_quantiles" -> q128,
    "q68_kmv_distinct" -> q68,
    "q152_kmv_setops" -> q152,
    "q135_hll_distinct" -> q135,
    "q215_hll_merge" -> q215,
    "q217_state_occupancy" -> q217,
    "q218_recommend" -> q218,
    "q226_recommend_capped" -> q226,
    "q219_cuped" -> q219,
    "q220_mix_shift" -> q220,
    "q238_chi2_drift" -> q238,
    "q242_decile_lift" -> q242,
    "q244_kaplan_meier" -> q244,
    "q248_attribution_models" -> q248,
    "q249_spearman_corr" -> q249,
    "q250_quantile_normalize" -> q250,
    "q253_kruskal_wallis" -> q253,
    "q254_robust_profile" -> q254,
    "q257_cohen_kappa" -> q257,
    "q258_agg_merge" -> q258,
    "q263_cusum_drift" -> q263,
    "q264_conversion_lag" -> q264,
    "q265_wilson_ci" -> q265,
    "q136_transitions" -> q136,
    "q125_countmin" -> q125,
    "q149_bloom_filter" -> q149,
    "q155_heavy_hitters" -> q155,
    "q69_funnel" -> q69,
    "q147_session_funnel" -> q147,
    "q101_funnel_gap" -> q101,
    "q103_retention" -> q103,
    "q104_cohort_funnel" -> q104,
    "q73_merge_upsert" -> q73,
    "q75_histogram" -> q75,
    "q76_table_diff" -> q76,
    "q140_concurrency" -> q140,
    "q141_trend" -> q141,
    "q142_outliers" -> q142,
    "q162_resample_locf" -> q162,
    "q165_cooccurrence" -> q165,
    "q166_attribution" -> q166,
    "q168_seasonal" -> q168,
    "q170_session_paths" -> q170,
    "q171_equal_freq_bins" -> q171,
    "q172_mad_outliers" -> q172,
    "q228_group_quantiles_exact" -> q228,
    "q230_weighted_quantiles" -> q230,
    "q174_active_users" -> q174,
    "q175_target_encode" -> q175,
    "q179_grouped_auc" -> q179,
    "q180_ab_test" -> q180,
    "q181_calibration" -> q181,
    "q183_welch_test" -> q183,
    "q184_ks_test" -> q184,
    "q185_psi" -> q185,
    "q188_benford" -> q188,
    "q189_funnel_latency" -> q189,
    "q190_event_cadence" -> q190,
    "q197_cusum_drift" -> q197,
    "q198_rfm_segments" -> q198,
    "q202_resample_interp" -> q202,
    "q207_ewma_smooth" -> q207,
    "q208_merge_actions" -> q208,
    "q209_woe_iv" -> q209,
    "q210_forecast_backtest" -> q210,
    "q211_winsorize" -> q211,
  )

  /** DuckDB 15-hex-nibble md5 fold — the cross-engine 60-bit hash
    * (same formulation the dedup/contamination oracles replay). */
  private def h60(e: String): String = CrossHash.h60DuckDb(e)

  /** q188: the Benford expectations enter BOTH plans as the same Scala-
    * computed double literals (shortest round-trip repr parses to the
    * identical binary double in DuckDB). */
  private def benfordOracleSql: String = {
    val vals = (1 to 9).map(d => s"($d, ${math.log10(1 + 1.0 / d)})").mkString(", ")
    s"""
      WITH base AS (
        SELECT o_orderpriority AS grp,
               CAST(left(CAST(CAST(floor(abs(o_totalprice)) AS BIGINT)
                    AS VARCHAR), 1) AS INT) AS d
        FROM orders
        WHERE o_totalprice IS NOT NULL AND abs(o_totalprice) >= 1),
      counts AS (SELECT grp, d, count(*) AS n FROM base GROUP BY 1, 2),
      expd(d, e) AS (VALUES $vals),
      spine AS (SELECT DISTINCT grp FROM counts),
      j AS (SELECT s.grp, expd.d, CAST(expd.e AS DOUBLE) AS e,
                   CAST(coalesce(c.n, 0) AS BIGINT) AS n
            FROM spine s CROSS JOIN expd
            LEFT JOIN counts c ON s.grp = c.grp AND expd.d = c.d),
      sh AS (SELECT grp, d, e, n,
                    CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY grp) AS share
             FROM j)
      SELECT grp, d, n, round(share, 6) AS share, round(e, 6) AS expected,
             round(avg(abs(share - e)) OVER (PARTITION BY grp), 6) AS mad
      FROM sh ORDER BY grp, d"""
  }

  /** Shared by q135 and q215 (split-sketch-merge must equal whole-table
    * sketching — per-register MAX merge is exact). */
  private val hllOracleSql: String = s"""
      WITH v AS (SELECT event_type, user_id FROM events
                 WHERE user_id IS NOT NULL),
      h AS (SELECT event_type,
                   ${h60("CAST(user_id AS VARCHAR)")} AS hv FROM v),
      r AS (SELECT event_type, hv % $HllRegisters AS reg,
                   hv // $HllRegisters AS w FROM h),
      k AS (SELECT event_type, reg,
                   max(CASE WHEN w = 0 THEN $HllMaxRank
                       ELSE $HllMaxRank - length(bin(w)) END) AS mj
            FROM r GROUP BY event_type, reg),
      a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS m_used,
                   CAST(sum(CAST(1 AS BIGINT) << ($HllMaxRank - mj))
                        AS BIGINT) AS s_obs
            FROM k GROUP BY event_type),
      e AS (SELECT event_type, m_used,
                   s_obs + ($HllRegisters - m_used) *
                     CAST(${1L << HllMaxRank} AS BIGINT) AS s_reg,
                   $HllRegisters - m_used AS v_empty
            FROM a),
      est AS (SELECT event_type, m_used, s_reg,
                     $HllNumerator / CAST(s_reg AS DOUBLE) AS raw_est,
                     v_empty
              FROM e),
      x AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT)
                     AS n_exact
            FROM v GROUP BY event_type)
      SELECT x.event_type, n_exact, m_used, s_reg,
             round(CASE WHEN raw_est <= $HllSmallRange AND v_empty > 0
                   THEN ${HllLinear.mkString("[", ", ", "]")}
                          [CAST(v_empty + 1 AS INT)]
                   ELSE raw_est END, 2) AS hll_est
      FROM x JOIN est USING (event_type)
      ORDER BY event_type"""

  /** Shared by q120 and q222 (split-state merge ≡ whole-table histogram
    * — per-bin count addition is exact). */
  private val histOracleSql: String = """
      WITH h AS (SELECT CAST(least(greatest(
                          floor(l_extendedprice / 5000.0), 0), 19) AS INT)
                          AS bin,
                        count(*) AS n
                 FROM lineitem GROUP BY 1),
      c AS (SELECT bin, n,
                   CAST(sum(n) OVER (ORDER BY bin
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cum,
                   CAST(sum(n) OVER () AS BIGINT) AS total
            FROM h),
      p AS (SELECT CAST(col0 AS DOUBLE) AS p
            FROM (VALUES (0.5), (0.9), (0.95), (0.99)) v(col0))
      SELECT p, bin,
             round(0.0 + 5000.0 * (bin +
               (p * total - (cum - n)) / n), 6) AS q_est
      FROM c CROSS JOIN p
      WHERE (cum - n) < p * total AND cum >= p * total
      ORDER BY p"""

  private lazy val oraclesBase: Map[String, String] = Map(
    // Replays seqPatterns: the same (us, id)-ordered per-user cap, the
    // bounded position self-joins, per-user DISTINCT and support counts.
    "q282_seq_patterns" -> """
      WITH r AS (
        SELECT u, t, p FROM (
          SELECT user_id AS u, event_type AS t,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS p
          FROM events
          WHERE user_id IS NOT NULL AND event_type IS NOT NULL
            AND ts IS NOT NULL AND event_id IS NOT NULL)
        WHERE p <= 12),
      l1 AS (SELECT 1 AS length, p1, CAST(NULL AS VARCHAR) AS p2,
                    CAST(NULL AS VARCHAR) AS p3,
                    CAST(count(*) AS BIGINT) AS support
             FROM (SELECT DISTINCT u, t AS p1 FROM r) GROUP BY p1),
      l2 AS (SELECT 2 AS length, p1, p2, CAST(NULL AS VARCHAR) AS p3,
                    CAST(count(*) AS BIGINT) AS support
             FROM (SELECT DISTINCT r1.u, r1.t AS p1, r2.t AS p2
                   FROM r r1 JOIN r r2 ON r1.u = r2.u AND r1.p < r2.p)
             GROUP BY p1, p2),
      l3 AS (SELECT 3 AS length, p1, p2, p3,
                    CAST(count(*) AS BIGINT) AS support
             FROM (SELECT DISTINCT r1.u, r1.t AS p1, r2.t AS p2, r3.t AS p3
                   FROM r r1
                   JOIN r r2 ON r1.u = r2.u AND r1.p < r2.p
                   JOIN r r3 ON r2.u = r3.u AND r2.p < r3.p)
             GROUP BY p1, p2, p3)
      SELECT * FROM (SELECT * FROM l1 UNION ALL
                     SELECT * FROM l2 UNION ALL
                     SELECT * FROM l3)
      WHERE support >= 2
      ORDER BY length, p1, p2, p3""",
    // Replays logRank: q244's lifetable derivation, the pooled event-day
    // spine, before-t removals, the hypergeometric e/v chains 9-dp
    // pre-rounded into exact DECIMAL sums, and the pinned chi2.
    "q285_logrank" -> s"""
      WITH per AS (
        SELECT user_id,
               min(epoch_us(CAST(ts AS TIMESTAMP))) AS t0,
               max(epoch_us(CAST(ts AS TIMESTAMP))) AS t1
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
      hz AS (SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS hzv FROM events),
      dur AS (SELECT (${graft.operators.CrossHash.h60DuckDb(
        "CAST(user_id AS VARCHAR)")}) % 2 AS grp,
                     (t1 - t0) // 86400000000 AS d,
                     CASE WHEN t1 < hzv - 86400000000 THEN 1 ELSE 0 END AS e
              FROM per, hz),
      lt AS (SELECT grp, d, CAST(sum(e) AS BIGINT) AS ev,
                    CAST(count(*) - sum(e) AS BIGINT) AS cn
             FROM dur GROUP BY grp, d),
      tot AS (SELECT grp, CAST(sum(ev + cn) AS BIGINT) AS n FROM lt GROUP BY grp),
      spine AS (SELECT d AS td FROM lt GROUP BY d HAVING sum(ev) > 0),
      rem AS (SELECT lt.grp, s.td, CAST(sum(ev + cn) AS BIGINT) AS rm
              FROM spine s JOIN lt ON lt.d < s.td GROUP BY lt.grp, s.td),
      cells AS (SELECT t.grp, s.td,
                       t.n - coalesce(rem.rm, 0) AS nr,
                       coalesce(l.ev, 0) AS de
                FROM spine s CROSS JOIN tot t
                LEFT JOIN rem ON rem.grp = t.grp AND rem.td = s.td
                LEFT JOIN lt l ON l.grp = t.grp AND l.d = s.td),
      piv AS (SELECT td,
                     max(CASE WHEN grp = 0 THEN nr END) AS n0,
                     max(CASE WHEN grp = 1 THEN nr END) AS n1,
                     max(CASE WHEN grp = 0 THEN de END) AS d0,
                     max(CASE WHEN grp = 1 THEN de END) AS d1
              FROM cells GROUP BY td),
      pv AS (SELECT td, d0, d1, n0 + n1 AS nt, d0 + d1 AS dt, n0, n1
             FROM piv
             WHERE n0 IS NOT NULL AND n1 IS NOT NULL AND n0 + n1 > 0),
      terms AS (SELECT td, d0, d1,
                       CAST(round(CAST(dt AS DOUBLE) * n0 / nt, 9)
                         AS DECIMAL(20,9)) AS te0,
                       CAST(round(CAST(dt AS DOUBLE) * n1 / nt, 9)
                         AS DECIMAL(20,9)) AS te1,
                       CAST(round(CASE WHEN nt > 1 THEN
                           CAST(dt AS DOUBLE) * (CAST(n0 AS DOUBLE) / nt)
                             * (CAST(n1 AS DOUBLE) / nt)
                             * (CAST(nt - dt AS DOUBLE) / (nt - 1))
                           ELSE 0.0 END, 9) AS DECIMAL(20,9)) AS tv
                FROM pv),
      agg AS (SELECT CAST(count(*) AS BIGINT) AS n_times,
                     CAST(sum(d0) AS BIGINT) AS o0,
                     CAST(sum(d1) AS BIGINT) AS o1,
                     sum(te0) AS e0d, sum(te1) AS e1d, sum(tv) AS vd
              FROM terms)
      SELECT n_times, o0, round(CAST(e0d AS DOUBLE), 6) AS e0,
             o1, round(CAST(e1d AS DOUBLE), 6) AS e1,
             round(CASE WHEN vd > 0 THEN
               (o0 - CAST(e0d AS DOUBLE)) * (o0 - CAST(e0d AS DOUBLE))
               / CAST(vd AS DOUBLE) END, 6) AS chi2
      FROM agg WHERE o0 IS NOT NULL""",
    // Replays isotonicCalibration: identical equal-width binning with
    // the constant-score guard, exact prefix sums over the cell frame,
    // the same max-min closed form (fitted(k) = max_{i<=k} min_{j>=k}
    // mean(i..j)) and the pinned divisions.
    "q281_isotonic" -> """
      WITH base AS (SELECT CAST(value AS DOUBLE) AS s,
                           CASE WHEN event_type = 'purchase'
                                THEN 1 ELSE 0 END AS y
                    FROM events WHERE value IS NOT NULL),
      b AS (SELECT min(s) AS lo, max(s) AS hi FROM base),
      cells AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS w,
               CAST(sum(y) AS BIGINT) AS v
        FROM (SELECT y,
                     CASE WHEN b.hi = b.lo THEN 0
                          ELSE CAST(least(floor((s - b.lo) * 50
                                                / (b.hi - b.lo)), 49) AS INT)
                     END AS bin
              FROM base, b)
        GROUP BY bin),
      pre AS (SELECT bin, w, v,
                     CAST(row_number() OVER (ORDER BY bin) AS INT) AS k,
                     sum(w) OVER (ORDER BY bin
                       ROWS UNBOUNDED PRECEDING) AS cw,
                     sum(v) OVER (ORDER BY bin
                       ROWS UNBOUNDED PRECEDING) AS cv
              FROM cells),
      pairs AS (SELECT a.k AS i, c.k AS j,
                       CAST(c.cv - (a.cv - a.v) AS DOUBLE)
                         / (c.cw - (a.cw - a.w)) AS m
                FROM pre a JOIN pre c ON a.k <= c.k),
      rmin AS (SELECT i, j AS k,
                      min(m) OVER (PARTITION BY i ORDER BY j DESC
                        ROWS UNBOUNDED PRECEDING) AS rm
               FROM pairs),
      fit AS (SELECT k, max(rm) AS iso FROM rmin WHERE i <= k GROUP BY k)
      SELECT pre.bin, pre.w AS n_rows, pre.v AS n_pos,
             round(CAST(pre.v AS DOUBLE) / pre.w, 6) AS raw_rate,
             round(fit.iso, 6) AS iso_rate
      FROM pre JOIN fit USING (k)
      ORDER BY pre.bin""",
    // Replays abPower: the same parity split, exact DECIMAL moments,
    // and the pinned MDE chain with the literal z constants.
    "q287_ab_power" -> """
      WITH m AS (
        SELECT event_type, user_id % 2 AS arm,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(value AS DECIMAL(14,2))) AS DECIMAL(38,2)) AS s,
               CAST(sum(CAST(CAST(value AS DECIMAL(14,2))
                             * CAST(value AS DECIMAL(14,2))
                        AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS s2
        FROM events
        WHERE event_type IS NOT NULL AND user_id IS NOT NULL
          AND value IS NOT NULL
        GROUP BY 1, 2),
      mm AS (SELECT event_type, arm, n,
                    (CAST(s2 AS DOUBLE)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n AS vv,
                    CAST(s AS DOUBLE) / n AS mean
             FROM m),
      p AS (SELECT event_type,
                   max(CASE WHEN arm = 0 THEN n END) AS n0,
                   max(CASE WHEN arm = 1 THEN n END) AS n1,
                   max(CASE WHEN arm = 0 THEN mean END) AS m0,
                   max(CASE WHEN arm = 1 THEN mean END) AS m1,
                   max(CASE WHEN arm = 0 THEN vv END) AS v0,
                   max(CASE WHEN arm = 1 THEN vv END) AS v1
            FROM mm GROUP BY event_type)
      SELECT event_type, n0, n1,
             round(m0, 6) AS mean_control,
             round(m1, 6) AS mean_treat,
             round((1.959964 + 0.841621) * sqrt(v0 / n0 + v1 / n1), 6)
               AS mde_abs,
             round(CASE WHEN m0 <> 0
                   THEN (1.959964 + 0.841621) * sqrt(v0 / n0 + v1 / n1) / m0
                   END, 6) AS mde_rel
      FROM p
      WHERE n0 IS NOT NULL AND n1 IS NOT NULL
      ORDER BY event_type""",
    // Replays mutualInfo: exact cell/margin counts, one ln per 9-dp
    // pre-rounded DECIMAL term, exact sums, identical finals. Spark
    // dayofweek = DuckDB dayofweek() + 1.
    "q288_mutual_info" -> """
      WITH cells AS (
        SELECT event_type AS x, dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS y,
               CAST(count(*) AS BIGINT) AS c
        FROM events
        WHERE event_type IS NOT NULL AND ts IS NOT NULL
        GROUP BY 1, 2),
      nx AS (SELECT x, CAST(sum(c) AS BIGINT) AS cx FROM cells GROUP BY x),
      ny AS (SELECT y, CAST(sum(c) AS BIGINT) AS cy FROM cells GROUP BY y),
      tot AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM cells),
      mi AS (SELECT max(nn) AS n, CAST(count(*) AS BIGINT) AS n_cells,
                    sum(CAST(round(CAST(c AS DOUBLE) / nn
                          * ln(CAST(c AS DOUBLE) * nn
                               / (CAST(cx AS DOUBLE) * cy)), 9)
                        AS DECIMAL(20,9))) AS mi_d
             FROM cells JOIN nx USING (x) JOIN ny USING (y), tot),
      hx AS (SELECT sum(CAST(round(-(CAST(cx AS DOUBLE) / nn)
                          * ln(CAST(cx AS DOUBLE) / nn), 9)
                        AS DECIMAL(20,9))) AS hx_d FROM nx, tot),
      hy AS (SELECT sum(CAST(round(-(CAST(cy AS DOUBLE) / nn)
                          * ln(CAST(cy AS DOUBLE) / nn), 9)
                        AS DECIMAL(20,9))) AS hy_d FROM ny, tot)
      SELECT n, n_cells,
             round(CAST(mi_d AS DOUBLE), 6) AS mi_nats,
             round(CAST(hx_d AS DOUBLE), 6) AS h_x,
             round(CAST(hy_d AS DOUBLE), 6) AS h_y,
             round(CASE WHEN hx_d > 0 AND hy_d > 0
                   THEN CAST(mi_d AS DOUBLE)
                        / sqrt(CAST(hx_d AS DOUBLE) * CAST(hy_d AS DOUBLE))
                   END, 6) AS nmi
      FROM mi, hx, hy
      WHERE n IS NOT NULL""",
    // Replays concentrationProfile by the INDEPENDENT row-rank
    // formulation: plain row_number per group (any order over tied
    // values yields the same Σ i·x — equal values commute), doubled to
    // match the engine's block identity, then the identical pinned
    // division chains.
    "q269_concentration" -> """
      WITH u AS (SELECT event_type, user_id AS uu,
                        CAST(count(*) AS BIGINT) AS n
                 FROM events
                 WHERE event_type IS NOT NULL AND user_id IS NOT NULL
                 GROUP BY 1, 2),
      r AS (SELECT event_type, n,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY n, uu) AS i
            FROM u),
      a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nu,
                   CAST(sum(n) AS BIGINT) AS s,
                   CAST(sum(CAST(n AS HUGEINT) * n) AS DECIMAL(38,0)) AS s2,
                   CAST(max(n) AS BIGINT) AS mx,
                   CAST(sum(2 * CAST(i AS HUGEINT) * n) AS DECIMAL(38,0))
                     AS six2
            FROM r GROUP BY event_type)
      SELECT event_type, nu AS n_units, s AS total,
             round(CAST(six2 - CAST(nu + 1 AS DECIMAL(38,0)) * s AS DOUBLE)
                   / CAST(CAST(nu AS DECIMAL(38,0)) * s AS DOUBLE), 6)
               AS gini,
             round(CAST(s2 AS DOUBLE)
                   / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)), 6) AS hhi,
             round(CAST(mx AS DOUBLE) / CAST(s AS DOUBLE), 6) AS top_share
      FROM a ORDER BY event_type""",
    // Replays neymanAllocation: exact DECIMAL moments, the pinned
    // sd/weight/quota chains (identical operand order incl. the
    // proportional fallback CASE), exact floors, and the largest-
    // remainder seats under the same (rem DESC, stratum) order.
    "q278_neyman_allocation" -> """
      WITH b AS (SELECT event_type AS st, CAST(value AS DECIMAL(14,2)) AS v
                 FROM events
                 WHERE event_type IS NOT NULL AND value IS NOT NULL),
      m AS (SELECT st, CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(v) AS DECIMAL(38,2)) AS s,
                   CAST(sum(CAST(v * v AS DECIMAL(38,4))) AS DECIMAL(38,4))
                     AS s2
            FROM b GROUP BY st),
      m2 AS (SELECT *, sqrt((CAST(s2 AS DOUBLE)
                             - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                               / n_rows) / n_rows) AS sd
             FROM m),
      m3 AS (SELECT *, n_rows * sd AS w FROM m2),
      t AS (SELECT sum(w) AS w0, CAST(sum(n_rows) AS DOUBLE) AS wn FROM m3),
      qf AS (SELECT m3.st, m3.n_rows, m3.sd,
                    1000 * (CASE WHEN t.w0 > 0 THEN m3.w
                            ELSE CAST(m3.n_rows AS DOUBLE) END)
                    / (CASE WHEN t.w0 > 0 THEN t.w0 ELSE t.wn END) AS q
             FROM m3, t),
      q2 AS (SELECT *, CAST(floor(q) AS BIGINT) AS fl,
                    q - floor(q) AS rem
             FROM qf),
      tf AS (SELECT CAST(sum(fl) AS BIGINT) AS tfl FROM q2),
      r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, st) AS rk
            FROM q2)
      SELECT r.st AS event_type, r.n_rows, round(r.sd, 6) AS sd,
             round(r.q, 6) AS quota,
             CAST(r.fl + CASE WHEN r.rk <= 1000 - tf.tfl
                              THEN 1 ELSE 0 END AS BIGINT) AS alloc
      FROM r, tf ORDER BY event_type""",
    // The q274 certificate: the SINGLE-PASS aggregate over the full
    // join — agreement proves maintain(V0, dA, dB) == recompute(A, B)
    // exactly (integer counts, exact DECIMAL revenue, both bit-equal
    // before the final double cast). The splits don't appear here at
    // all: that is the point.
    "q274_join_view_maintenance" -> """
      SELECT o_orderpriority, l_returnflag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2)))
                       AS DECIMAL(38,2)) AS DOUBLE) AS revenue
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      WHERE o_orderkey IS NOT NULL AND l_orderkey IS NOT NULL
      GROUP BY 1, 2 ORDER BY 1, 2""",
    // Replays autocorrelation: the same day collapse and index, the lag
    // self-join moments and the fraction-cleared r_L identity over exact
    // HUGEINT operands, NULL spine rows for lags past the series.
    "q272_acf" -> """
      WITH d AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                        CAST(count(*) AS BIGINT) AS n
                 FROM events WHERE ts IS NOT NULL GROUP BY 1),
      di AS (SELECT n, row_number() OVER (ORDER BY day) AS i FROM d),
      st AS (SELECT CAST(count(*) AS BIGINT) AS nn,
                    CAST(sum(CAST(n AS HUGEINT)) AS DECIMAL(38,0)) AS s,
                    CAST(sum(CAST(n AS HUGEINT) * n) AS DECIMAL(38,0)) AS s2
             FROM d),
      lg AS (SELECT CAST(unnest(range(1, 8)) AS INT) AS lag),
      p AS (SELECT CAST(b.i - a.i AS INT) AS lag,
                   CAST(sum(CAST(a.n AS HUGEINT) * b.n) AS DECIMAL(38,0))
                     AS xy,
                   CAST(sum(CAST(a.n AS HUGEINT)) AS DECIMAL(38,0)) AS h,
                   CAST(sum(CAST(b.n AS HUGEINT)) AS DECIMAL(38,0)) AS t
            FROM di a JOIN di b ON b.i > a.i AND b.i - a.i <= 7
            GROUP BY 1)
      SELECT lg.lag, GREATEST(0, st.nn - lg.lag) AS n_pairs,
             round(CASE WHEN st.nn * st.s2 - st.s * st.s <> 0
                         AND p.xy IS NOT NULL
                   THEN CAST(CAST(st.nn AS DECIMAL(38,0)) * st.nn * p.xy
                             - CAST(st.nn AS DECIMAL(38,0)) * st.s
                               * (p.h + p.t)
                             + (st.nn - lg.lag) * st.s * st.s AS DOUBLE)
                        / CAST(CAST(st.nn AS DECIMAL(38,0))
                               * (st.nn * st.s2 - st.s * st.s) AS DOUBLE)
                   END, 6) AS acf
      FROM lg LEFT JOIN p USING (lag) CROSS JOIN st
      ORDER BY lg.lag""",
    // Replays interArrivalStats: the same (us, id)-ordered per-user lag,
    // exact HUGEINT gap moments and the pinned mean/sd/CV/burstiness
    // chains with identical operand order.
    "q273_burstiness" -> """
      WITH e AS (SELECT event_type, event_id,
                        epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                        lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                          PARTITION BY user_id
                          ORDER BY epoch_us(CAST(ts AS TIMESTAMP)),
                                   event_id) AS pus
                 FROM events WHERE user_id IS NOT NULL
                   AND event_type IS NOT NULL AND ts IS NOT NULL),
      g AS (SELECT event_type, us - pus AS gp FROM e WHERE pus IS NOT NULL),
      a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS ng,
                   CAST(sum(CAST(gp AS HUGEINT)) AS DECIMAL(38,0)) AS sg,
                   CAST(sum(CAST(gp AS HUGEINT) * gp) AS DECIMAL(38,0))
                     AS sg2
            FROM g GROUP BY event_type)
      SELECT event_type, ng AS n_gaps,
             round(CAST(sg AS DOUBLE) / ng / 1000000.0, 6) AS mean_s,
             round(sqrt((CAST(sg2 AS DOUBLE)
                         - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / ng)
                        / ng) / 1000000.0, 6) AS sd_s,
             round(CASE WHEN sg > 0 THEN
               sqrt((CAST(sg2 AS DOUBLE)
                     - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / ng) / ng)
               / (CAST(sg AS DOUBLE) / ng) END, 6) AS cv,
             round(CASE WHEN sg > 0 THEN
               (sqrt((CAST(sg2 AS DOUBLE)
                      - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / ng) / ng)
                - CAST(sg AS DOUBLE) / ng)
               / (sqrt((CAST(sg2 AS DOUBLE)
                        - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / ng) / ng)
                  + CAST(sg AS DOUBLE) / ng) END, 6) AS burstiness
      FROM a ORDER BY event_type""",
    // Replays robustTrend: the same day collapse, pair join, integer
    // sign sum, tie term, the (slope, day-pair)-ordered median picks
    // and the pinned tau-b sqrt chain.
    "q270_robust_trend" -> """
      WITH d AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                        CAST(count(*) AS BIGINT) AS n
                 FROM events WHERE ts IS NOT NULL GROUP BY 1),
      dd AS (SELECT day, n,
                    CAST(day - DATE '1970-01-01' AS BIGINT) AS di
             FROM d),
      p AS (SELECT a.di AS da, b.di AS db, b.n - a.n AS dn,
                   b.di - a.di AS dx
            FROM dd a JOIN dd b ON a.di < b.di),
      mk AS (SELECT CAST(count(*) AS BIGINT) AS m,
                    CAST(sum(CASE WHEN dn > 0 THEN 1
                                  WHEN dn < 0 THEN -1 ELSE 0 END)
                      AS BIGINT) AS s
             FROM p),
      t AS (SELECT coalesce(CAST(sum(c * (c - 1) // 2) AS BIGINT), 0) AS tt,
                   coalesce(CAST(sum(c) AS BIGINT), 0) AS nd
            FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM d GROUP BY n)),
      sl AS (SELECT CAST(dn AS DOUBLE) / dx AS sv,
                    row_number() OVER (ORDER BY CAST(dn AS DOUBLE) / dx,
                                       da, db) AS rn
             FROM p),
      med AS (SELECT round(avg(sv), 6) AS sen_slope
              FROM sl, mk
              WHERE rn = (mk.m + 1) // 2 OR rn = mk.m // 2 + 1)
      SELECT t.nd AS n_days, mk.s AS s,
             round(CASE WHEN mk.m - t.tt > 0
                   THEN mk.s / sqrt(CAST(mk.m AS DOUBLE) * (mk.m - t.tt))
                   END, 6) AS tau_b,
             med.sen_slope
      FROM mk, t, med""",
    // Replays the closed form S_i = P_i − min(0, min_{j≤i} P_j) with the
    // identical decimal pins, and keeps alarm ONSETS only (first row at or
    // above the threshold after a sub-threshold row).
    "q197_cusum_drift" -> """
      WITH e AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, event_id,
                        CAST(value AS DECIMAL(14,2)) AS v
                 FROM events),
      st AS (SELECT event_type,
                    CAST(round(CAST(sum(v) AS DOUBLE) / count(*), 2)
                         AS DECIMAL(14,2)) AS mu
             FROM e GROUP BY 1),
      p AS (SELECT e.event_type, ts, event_id,
                   sum(CAST(v - mu AS DECIMAL(18,2))) OVER w AS psum
            FROM e JOIN st USING (event_type)
            WINDOW w AS (PARTITION BY e.event_type ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING)),
      c AS (SELECT event_type, ts, event_id,
                   psum - least(CAST(0 AS DECIMAL(18,2)),
                                min(psum) OVER w2) AS cusum
            FROM p
            WINDOW w2 AS (PARTITION BY event_type ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING)),
      o AS (SELECT *, lag(cusum) OVER (PARTITION BY event_type
                                       ORDER BY ts, event_id) AS prev
            FROM c)
      SELECT event_type, ts, event_id, CAST(cusum AS DOUBLE) AS cusum
      FROM o
      WHERE cusum >= 300 AND coalesce(prev < 300, TRUE)
      ORDER BY event_type, ts, event_id""",
    // Replays collapse-to-customer-frame, the day diff vs the corpus max
    // date, and the three total-ordered quintile windows (ntile cast to
    // BIGINT — the q171 int-width lesson).
    "q198_rfm_segments" -> """
      WITH per AS (SELECT o_custkey,
                          max(CAST(o_orderdate AS DATE)) AS last_date,
                          count(*) AS frequency,
                          CAST(sum(CAST(o_totalprice AS DECIMAL(14,2)))
                               AS DECIMAL(38,2)) AS monetary
                   FROM orders GROUP BY 1),
      ref AS (SELECT max(CAST(o_orderdate AS DATE)) AS ref_date FROM orders),
      base AS (SELECT per.*,
                      date_diff('day', last_date, ref_date) AS recency_days
               FROM per, ref),
      sc AS (SELECT *,
               CAST(ntile(5) OVER (ORDER BY recency_days DESC, o_custkey)
                    AS BIGINT) AS r_score,
               CAST(ntile(5) OVER (ORDER BY frequency, o_custkey)
                    AS BIGINT) AS f_score,
               CAST(ntile(5) OVER (ORDER BY monetary, o_custkey)
                    AS BIGINT) AS m_score
             FROM base)
      SELECT o_custkey, CAST(recency_days AS BIGINT) AS recency_days,
             frequency, CAST(monetary AS DOUBLE) AS monetary,
             r_score, f_score, m_score,
             CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
               || CAST(m_score AS VARCHAR) AS segment
      FROM sc ORDER BY o_custkey""",
    "q188_benford" -> benfordOracleSql,
    // Replays bounds, the q181 bin arithmetic, the clamped rates, and the
    // rounded per-term/total chain (terms pre-rounded before the total).
    "q185_psi" -> """
      WITH base AS (
        SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS arm,
               CAST(value AS DOUBLE) AS s
        FROM events WHERE event_type IN ('click', 'purchase')
          AND value IS NOT NULL),
      b AS (SELECT min(s) AS lo, max(s) AS hi FROM base),
      binned AS (
        SELECT CASE WHEN hi = lo THEN 0
                    ELSE CAST(least(floor((s - lo) * 10 / (hi - lo)), 9) AS INT)
               END AS bin,
               sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS c0,
               sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS c1
        FROM base, b GROUP BY 1),
      t AS (SELECT CAST(sum(c0) AS BIGINT) AS n0,
                   CAST(sum(c1) AS BIGINT) AS n1 FROM binned),
      terms AS (
        SELECT bin, CAST(c0 AS BIGINT) AS c0, CAST(c1 AS BIGINT) AS c1,
               greatest(CAST(c0 AS DOUBLE) / n0, 1e-6) AS p0,
               greatest(CAST(c1 AS DOUBLE) / n1, 1e-6) AS p1
        FROM binned, t),
      tt AS (
        SELECT bin, c0, c1, p0, p1,
               round((p1 - p0) * ln(p1 / p0), 6) AS term
        FROM terms),
      tot AS (SELECT round(sum(term), 6) AS psi_total FROM tt)
      SELECT bin, c0, c1, round(p0, 6) AS p0, round(p1, 6) AS p1, term,
             psi_total
      FROM tt, tot ORDER BY bin""",
    // Replays the per-value class counts, plain global cumulative windows
    // (the oracle need not be scale-shaped), the integer cross-product
    // argmax with value tie-break, and the single division.
    "q184_ks_test" -> """
      WITH base AS (
        SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS arm,
               CAST(value AS DOUBLE) AS v
        FROM events WHERE event_type IN ('click', 'purchase')
          AND value IS NOT NULL),
      counts AS (
        SELECT v, sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS d0,
               sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS d1
        FROM base GROUP BY v),
      cum AS (
        SELECT v,
               sum(d0) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c0,
               sum(d1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c1
        FROM counts),
      t AS (SELECT CAST(sum(d0) AS BIGINT) AS n0,
                   CAST(sum(d1) AS BIGINT) AS n1 FROM counts)
      SELECT n0, n1, v AS at_v,
             round(CAST(abs(CAST(c1 AS DECIMAL(19,0)) * n0
                            - CAST(c0 AS DECIMAL(19,0)) * n1) AS DOUBLE)
                   / (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)), 6) AS ks
      FROM cum, t
      ORDER BY abs(CAST(c1 AS DECIMAL(19,0)) * n0
                   - CAST(c0 AS DECIMAL(19,0)) * n1) DESC, v
      LIMIT 1""",
    // Replays the unit metric, the exact (18,2)/(37,4) decimal moments,
    // and the Welch scalar chain with identical operand order.
    "q183_welch_test" -> s"""
      WITH units AS (
        SELECT ${h60("CAST(user_id AS VARCHAR)")} % 2 AS arm,
               user_id || '_' || CAST(ts AS DATE) AS u,
               CAST(sum(CAST(value AS DECIMAL(14,2))) AS DECIMAL(18,2)) AS m
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        GROUP BY 1, 2),
      arms AS (
        SELECT arm, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(m) AS DOUBLE) / count(*) AS mean,
               CASE WHEN count(*) > 1 THEN
                 (CAST(sum(m * m) AS DOUBLE)
                  - count(*) * (CAST(sum(m) AS DOUBLE) / count(*))
                             * (CAST(sum(m) AS DOUBLE) / count(*)))
                 / (count(*) - 1) END AS vr
        FROM units GROUP BY arm),
      a AS (SELECT max(n) AS n0, max(mean) AS m0, max(vr) AS v0
            FROM arms WHERE arm = 0),
      b AS (SELECT max(n) AS n1, max(mean) AS m1, max(vr) AS v1
            FROM arms WHERE arm = 1),
      stats AS (
        SELECT CASE WHEN v0 / n0 + v1 / n1 > 0 THEN
                 round((m1 - m0) / sqrt(v0 / n0 + v1 / n1), 6) END AS t,
               CASE WHEN v0 / n0 + v1 / n1 > 0 THEN
                 round((v0 / n0 + v1 / n1) * (v0 / n0 + v1 / n1)
                   / ((v0 / n0) * (v0 / n0) / (n0 - 1)
                      + (v1 / n1) * (v1 / n1) / (n1 - 1)), 6) END AS df
        FROM a, b)
      SELECT arm, n, round(mean, 6) AS mean, round(sqrt(vr), 6) AS sd, t, df
      FROM arms, stats ORDER BY arm""",
    // Replays bounds, the identical ((s-lo)*bins)/(hi-lo) bin arithmetic,
    // decimal score sums, and the two divisions.
    "q181_calibration" -> """
      WITH base AS (
        SELECT CAST(value AS DOUBLE) AS s,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE value IS NOT NULL),
      b AS (SELECT min(s) AS lo, max(s) AS hi FROM base),
      binned AS (
        SELECT CASE WHEN hi = lo THEN 0
                    ELSE CAST(least(floor((s - lo) * 10 / (hi - lo)), 9) AS INT)
               END AS bin, y, s
        FROM base, b)
      SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS n_pos,
             round(CAST(sum(CAST(s AS DECIMAL(14,2))) AS DOUBLE) / count(*), 6)
               AS mean_score,
             round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS pos_rate
      FROM binned GROUP BY bin ORDER BY bin""",
    // Replays the per-user conversion collapse, the md5 arm split, and
    // the pooled two-proportion arithmetic with identical operand order.
    "q180_ab_test" -> s"""
      WITH users AS (
        SELECT ${h60("CAST(user_id AS VARCHAR)")} % 2 AS arm,
               user_id || '_' || CAST(ts AS DATE) AS u,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
      arms AS (
        SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(conv) AS BIGINT) AS n_conv,
               round(CAST(sum(conv) AS DOUBLE) / count(*), 6) AS rate
        FROM users GROUP BY arm),
      a AS (SELECT max(n_users) AS n0, max(n_conv) AS c0
            FROM arms WHERE arm = 0),
      b AS (SELECT max(n_users) AS n1, max(n_conv) AS c1
            FROM arms WHERE arm = 1),
      stats AS (
        SELECT round(CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0, 6)
                 AS lift,
               round((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
                 / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                        * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                        * (1.0 / n0 + 1.0 / n1)), 6) AS z
        FROM a, b)
      SELECT arm, n_users, n_conv, rate, lift, z
      FROM arms, stats ORDER BY arm""",
    // Replays the (group, score) collapse, the doubled-rank cumulative
    // identity, and the single division; dayofweek: DuckDB is 0-6
    // Sun-first, Spark 1-7 Sun-first -> +1 aligns them.
    "q179_grouped_auc" -> """
      WITH counts AS (
        SELECT CAST(dayofweek(ts) + 1 AS INT) AS grp, CAST(value AS DOUBLE) AS s,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np_s,
               count(*) AS n_s
        FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      ranked AS (
        SELECT grp, np_s, n_s,
               coalesce(sum(n_s) OVER (PARTITION BY grp ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS cum
        FROM counts),
      agg AS (
        SELECT grp,
               sum(CAST(np_s AS DECIMAL(28,0)) * (cum * 2 + n_s + 1)) AS rpos2,
               CAST(sum(np_s) AS BIGINT) AS np,
               CAST(sum(n_s - np_s) AS BIGINT) AS nn
        FROM ranked GROUP BY grp)
      SELECT grp, np, nn,
             CASE WHEN np > 0 AND nn > 0 THEN
               round((CAST(rpos2 AS DOUBLE)
                      - CAST(np AS DOUBLE) * (CAST(np AS DOUBLE) + 1))
                     / (2.0 * CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)), 6)
             END AS auc
      FROM agg ORDER BY grp""",
    // Replays the md5 fold, the decimal fold/category sums, and the two
    // single IEEE divisions (global mean, encoding).
    "q175_target_encode" -> s"""
      WITH base AS (
        SELECT o_orderpriority AS cat, CAST(o_totalprice AS DECIMAL(14,2)) AS t,
               ${h60("CAST(o_orderkey AS VARCHAR)")} % 5 AS fold
        FROM orders
        WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
      g AS (SELECT CAST(sum(t) AS DOUBLE) / count(*) AS gm FROM base),
      cf AS (SELECT cat, fold, sum(t) AS fs, count(*) AS fn
             FROM base GROUP BY 1, 2),
      c AS (SELECT cat, sum(fs) AS ts, CAST(sum(fn) AS BIGINT) AS tn
            FROM cf GROUP BY 1)
      SELECT cf.cat, CAST(cf.fold AS INT) AS fold,
             round((CAST(c.ts - cf.fs AS DOUBLE) + 20 * gm)
                   / (c.tn - cf.fn + 20), 6) AS encoding,
             CAST(c.tn - cf.fn AS BIGINT) AS oof_n
      FROM cf JOIN c ON cf.cat = c.cat, g
      ORDER BY cf.cat, cf.fold""",
    // Replays the contribution fan-out (distinct (user, day) -> d..d+6),
    // the clip at the observed max day, and the day spine.
    "q174_active_users" -> """
      WITH ud AS (
        SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day
        FROM events WHERE user_id IS NOT NULL),
      b AS (SELECT min(day) AS d0, max(day) AS d1 FROM ud),
      spine AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE
                  AS day FROM b),
      dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
      contrib AS (
        SELECT DISTINCT u, unnest(generate_series(day, day + 6,
                                  INTERVAL 1 DAY))::DATE AS day
        FROM ud),
      wau AS (SELECT c.day, count(*) AS wau
              FROM contrib c, b WHERE c.day <= b.d1 GROUP BY 1)
      SELECT s.day, CAST(coalesce(dau.dau, 0) AS BIGINT) AS dau,
             CAST(coalesce(wau.wau, 0) AS BIGINT) AS wau
      FROM spine s LEFT JOIN dau ON s.day = dau.day
                   LEFT JOIN wau ON s.day = wau.day
      ORDER BY s.day""",
    // quantile_cont interpolates exactly like Spark's percentile(); every
    // z is scalar arithmetic on identical doubles, same parenthesization.
    "q172_mad_outliers" -> """
      WITH base AS (
        SELECT event_type, event_id, CAST(value AS DOUBLE) AS v
        FROM events WHERE value IS NOT NULL),
      med AS (SELECT event_type, quantile_cont(v, 0.5) AS m
              FROM base GROUP BY 1),
      mad AS (SELECT b.event_type, quantile_cont(abs(v - m), 0.5) AS mad
              FROM base b JOIN med USING (event_type) GROUP BY 1),
      z AS (SELECT b.event_type, b.event_id, b.v,
                   round(0.6745 * (b.v - m) / mad, 6) AS z
            FROM base b JOIN med USING (event_type)
                        JOIN mad USING (event_type)
            WHERE mad > 0)
      SELECT event_type, event_id, v, z FROM z
      WHERE abs(z) > 3.5 ORDER BY event_type, event_id""",
    // Replays the decimal cast, the (v, id)-ordered NTILE, and the exact
    // per-bin decimal aggregate.
    "q171_equal_freq_bins" -> """
      WITH v AS (
        SELECT event_type, event_id, CAST(value AS DECIMAL(14,2)) AS v
        FROM events WHERE value IS NOT NULL),
      binned AS (
        SELECT event_type, v,
               ntile(10) OVER (PARTITION BY event_type ORDER BY v, event_id)
                 AS bin
        FROM v)
      SELECT event_type, bin, CAST(count(*) AS BIGINT) AS n,
             CAST(min(v) AS DOUBLE) AS lo, CAST(max(v) AS DOUBLE) AS hi,
             CAST(sum(v) AS DOUBLE) AS mass
      FROM binned GROUP BY 1, 2 ORDER BY event_type, bin""",
    // INDEPENDENT formulation: ordered-list indexing per group (no window,
    // no row_number) with the same exact integer ⌈pm·n/1000⌉ position —
    // agreement certifies the engine's window-rank pick, and the shared
    // integer position rule is the contract (float p·n is off-by-one at
    // exact boundaries; see the groupQuantilesExact scaladoc).
    "q228_group_quantiles_exact" -> """
      WITH g AS (SELECT lang, CAST(n_chars AS BIGINT) AS v
                 FROM documents WHERE n_chars IS NOT NULL),
      s AS (SELECT lang, list(v ORDER BY v) AS vs,
                   CAST(count(*) AS BIGINT) AS n
            FROM g GROUP BY lang)
      SELECT lang, pm, n,
             vs[CAST((pm * n + 999) // 1000 AS INT)] AS q
      FROM s, (SELECT unnest([250, 500, 750, 950]) AS pm)
      ORDER BY lang, pm""",
    // Same integer cumw·1000 >= pm·W contract; DuckDB's default ORDER BY
    // frame is RANGE (ties are peers), matching the Spark rangeBetween.
    // Structurally different path: cross-join rows x pm then FILTER + min,
    // vs the engine's map-side flag explode.
    "q230_weighted_quantiles" -> """
      WITH g AS (SELECT lang, CAST(n_chars AS BIGINT) AS v,
                        CAST(len(list_filter(string_split(text, ' '),
                                             t -> t <> '')) AS BIGINT) AS wt
                 FROM documents WHERE n_chars IS NOT NULL),
      t AS (SELECT lang, v,
                   sum(wt) OVER (PARTITION BY lang ORDER BY v) AS cumw,
                   sum(wt) OVER (PARTITION BY lang) AS tw
            FROM g)
      SELECT lang, pm, CAST(min(tw) AS BIGINT) AS w_total,
             CAST(min(v) AS BIGINT) AS q
      FROM t, (SELECT unnest([250, 500, 750, 950]) AS pm)
      WHERE cumw * 1000 >= pm * tw
      GROUP BY lang, pm
      ORDER BY lang, pm""",
    // Replays session assignment + the two leads on the same user order;
    // the sid equality keeps paths inside one session; (n DESC, path) cut.
    "q170_session_paths" -> """
      WITH base AS (
        SELECT user_id, event_id, event_type AS et, epoch_us(ts) AS us
        FROM events),
      sid AS (
        SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM (
          SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                         THEN 1 ELSE 0 END AS new_s
          FROM (SELECT *, lag(us) OVER (PARTITION BY user_id
                                        ORDER BY us, event_id) AS prev_us
                FROM base))),
      tri AS (
        SELECT et,
               lead(et, 1) OVER w AS et2, lead(et, 2) OVER w AS et3,
               sid, lead(sid, 2) OVER w AS sid3
        FROM sid
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
      SELECT concat_ws('>', et, et2, et3) AS path,
             CAST(count(*) AS BIGINT) AS n
      FROM tri WHERE sid3 = sid
      GROUP BY 1 ORDER BY n DESC, path LIMIT 20""",
    // Replays the zero-filled DECIMAL grid, the trend as ONE IEEE division
    // of the exact frame sum, decimal detrending, and the decimal
    // remainder — both engines see identical doubles at every round().
    "q168_seasonal" -> """
      WITH agg AS (
        SELECT event_type AS k, date_trunc('hour', ts) AS bucket,
               sum(CAST(value AS DECIMAL(14,2))) AS bs
        FROM events GROUP BY 1, 2),
      b AS (SELECT k, min(bucket) AS d0, max(bucket) AS d1 FROM agg GROUP BY 1),
      spine AS (SELECT k, unnest(generate_series(d0, d1, INTERVAL 1 HOUR)) AS bucket
                FROM b),
      grid AS (SELECT s.k, s.bucket,
                      coalesce(a.bs, CAST(0 AS DECIMAL(14,2))) AS v
               FROM spine s LEFT JOIN agg a ON s.k = a.k AND s.bucket = a.bucket),
      tr AS (SELECT k, bucket, v,
                    CAST(round(CAST(sum(v) OVER fr AS DOUBLE)
                               / count(*) OVER fr, 6) AS DECIMAL(18,6)) AS trend,
                    hour(bucket) % 24 AS hod
             FROM grid
             WINDOW fr AS (PARTITION BY k ORDER BY bucket
                           ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
      se AS (SELECT k, hod,
                    CAST(round(CAST(sum(v - trend) AS DOUBLE)
                               / count(*), 6) AS DECIMAL(18,6)) AS seasonal
             FROM tr GROUP BY 1, 2)
      SELECT tr.k AS event_type, tr.bucket, CAST(tr.v AS DOUBLE) AS value,
             CAST(tr.trend AS DOUBLE) AS trend,
             CAST(se.seasonal AS DOUBLE) AS seasonal,
             CAST(tr.v - tr.trend - se.seasonal AS DOUBLE) AS remainder
      FROM tr JOIN se ON tr.k = se.k AND tr.hod = se.hod
      ORDER BY event_type, bucket""",
    // Replays session assignment (lag + prefix sum), the IGNORE NULLS
    // first/last touch over the session prefix, and the two-flag roll-up.
    "q166_attribution" -> """
      WITH base AS (
        SELECT user_id, event_id, event_type AS et, epoch_us(ts) AS us
        FROM events
        WHERE event_type IN ('purchase', 'signup', 'view', 'click')),
      sid AS (
        SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM (
          SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                         THEN 1 ELSE 0 END AS new_s
          FROM (SELECT *, lag(us) OVER (PARTITION BY user_id
                                        ORDER BY us, event_id) AS prev_us
                FROM base))),
      attrib AS (
        SELECT et,
               first_value(CASE WHEN et <> 'purchase' THEN et END IGNORE NULLS)
                 OVER (PARTITION BY user_id, sid ORDER BY us, event_id
                       ROWS UNBOUNDED PRECEDING) AS first_ch,
               last_value(CASE WHEN et <> 'purchase' THEN et END IGNORE NULLS)
                 OVER (PARTITION BY user_id, sid ORDER BY us, event_id
                       ROWS UNBOUNDED PRECEDING) AS last_ch
        FROM sid),
      conv AS (SELECT coalesce(first_ch, 'direct') AS fc,
                      coalesce(last_ch, 'direct') AS lc
               FROM attrib WHERE et = 'purchase'),
      flags AS (
        SELECT fc AS channel, 1 AS f, 0 AS l FROM conv
        UNION ALL
        SELECT lc, 0, 1 FROM conv)
      SELECT channel, CAST(sum(f) AS BIGINT) AS first_touch,
             CAST(sum(l) AS BIGINT) AS last_touch
      FROM flags GROUP BY channel ORDER BY channel""",
    // Replays the capped bipartite projection: distinct (basket, item),
    // per-basket smallest-m cap, self-join pair counts, double lift.
    // q165's projection chain + symmetrize, DECIMAL-pinned lift sums per
    // (user, candidate), seen anti-join, (score DESC, rec) top-k.
    "q218_recommend" -> """
      WITH bi AS (
        SELECT DISTINCT user_id AS b,
               CAST(json_extract_string(props, '$.k') AS INT) AS it
        FROM events
        WHERE user_id IS NOT NULL
          AND CAST(json_extract_string(props, '$.k') AS INT) IS NOT NULL),
      capped AS (
        SELECT b, it FROM (
          SELECT b, it, row_number() OVER (PARTITION BY b ORDER BY it) AS rn
          FROM bi) WHERE rn <= 100),
      nn AS (SELECT CAST(count(DISTINCT b) AS DOUBLE) AS n FROM capped),
      pairs AS (
        SELECT x.it AS item1, y.it AS item2, count(*) AS n_baskets
        FROM capped x JOIN capped y ON x.b = y.b AND x.it < y.it
        GROUP BY 1, 2),
      marg AS (SELECT it, count(*) AS m FROM capped GROUP BY 1),
      co AS (SELECT item1, item2,
                    CAST(round(CAST(p.n_baskets AS DOUBLE) * n
                          / (CAST(m1.m AS DOUBLE) * CAST(m2.m AS DOUBLE)), 6)
                         AS DECIMAL(12,6)) AS l
             FROM pairs p JOIN marg m1 ON p.item1 = m1.it
                          JOIN marg m2 ON p.item2 = m2.it, nn),
      sym AS (SELECT item1 AS it, item2 AS rec, l FROM co
              UNION ALL SELECT item2, item1, l FROM co),
      scored AS (
        SELECT bi.b, sym.rec,
               CAST(sum(l) AS DECIMAL(38,6)) AS score,
               count(*) AS n_sources
        FROM bi JOIN sym ON bi.it = sym.it
        GROUP BY bi.b, sym.rec),
      fresh AS (
        SELECT s.* FROM scored s
        WHERE NOT EXISTS (SELECT 1 FROM bi
                          WHERE bi.b = s.b AND bi.it = s.rec)),
      rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY b
                             ORDER BY score DESC, rec) AS INT) AS rank
             FROM fresh)
      SELECT b AS user_id, rank, rec, CAST(score AS DOUBLE) AS score,
             n_sources
      FROM rk WHERE rank <= 3
      ORDER BY user_id, rank""",
    // q218's chain with both valves replayed: the per-item top-n
    // neighbor cut by (lift DESC, rec), then the per-user row_number cap
    // under the (lift DESC, rec, it) total order with the count-over
    // sidecar truncation flag, DECIMAL-pinned score sums over the
    // SURVIVING rows only, anti-join still against the full seen set.
    "q226_recommend_capped" -> """
      WITH bi AS (
        SELECT DISTINCT user_id AS b,
               CAST(json_extract_string(props, '$.k') AS INT) AS it
        FROM events
        WHERE user_id IS NOT NULL
          AND CAST(json_extract_string(props, '$.k') AS INT) IS NOT NULL),
      capped AS (
        SELECT b, it FROM (
          SELECT b, it, row_number() OVER (PARTITION BY b ORDER BY it) AS rn
          FROM bi) WHERE rn <= 100),
      nn AS (SELECT CAST(count(DISTINCT b) AS DOUBLE) AS n FROM capped),
      pairs AS (
        SELECT x.it AS item1, y.it AS item2, count(*) AS n_baskets
        FROM capped x JOIN capped y ON x.b = y.b AND x.it < y.it
        GROUP BY 1, 2),
      marg AS (SELECT it, count(*) AS m FROM capped GROUP BY 1),
      co AS (SELECT item1, item2,
                    CAST(round(CAST(p.n_baskets AS DOUBLE) * n
                          / (CAST(m1.m AS DOUBLE) * CAST(m2.m AS DOUBLE)), 6)
                         AS DECIMAL(12,6)) AS l
             FROM pairs p JOIN marg m1 ON p.item1 = m1.it
                          JOIN marg m2 ON p.item2 = m2.it, nn),
      sym AS (SELECT item1 AS it, item2 AS rec, l FROM co
              UNION ALL SELECT item2, item1, l FROM co),
      nbr AS (
        SELECT it, rec, l FROM (
          SELECT it, rec, l,
                 row_number() OVER (PARTITION BY it
                                    ORDER BY l DESC, rec) AS nr
          FROM sym) WHERE nr <= 50),
      contrib AS (
        SELECT bi.b, bi.it, nbr.rec, nbr.l,
               row_number() OVER (PARTITION BY bi.b
                                  ORDER BY nbr.l DESC, nbr.rec, bi.it) AS rk,
               count(*) OVER (PARTITION BY bi.b) AS nc
        FROM bi JOIN nbr ON bi.it = nbr.it),
      kept AS (SELECT b, rec, l, (nc > 2400) AS trunc
               FROM contrib WHERE rk <= 2400),
      scored AS (
        SELECT b, rec, CAST(sum(l) AS DECIMAL(38,6)) AS score,
               count(*) AS n_sources, bool_or(trunc) AS capped
        FROM kept GROUP BY b, rec),
      fresh AS (
        SELECT s.* FROM scored s
        WHERE NOT EXISTS (SELECT 1 FROM bi
                          WHERE bi.b = s.b AND bi.it = s.rec)),
      rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY b
                             ORDER BY score DESC, rec) AS INT) AS rank
             FROM fresh)
      SELECT b AS user_id, rank, rec, CAST(score AS DOUBLE) AS score,
             n_sources, capped
      FROM rk WHERE rank <= 3
      ORDER BY user_id, rank""",
    "q165_cooccurrence" -> """
      WITH bi AS (
        SELECT DISTINCT user_id AS b,
               CAST(json_extract_string(props, '$.k') AS INT) AS it
        FROM events
        WHERE user_id IS NOT NULL
          AND CAST(json_extract_string(props, '$.k') AS INT) IS NOT NULL),
      capped AS (
        SELECT b, it FROM (
          SELECT b, it, row_number() OVER (PARTITION BY b ORDER BY it) AS rn
          FROM bi) WHERE rn <= 100),
      nn AS (SELECT CAST(count(DISTINCT b) AS DOUBLE) AS n FROM capped),
      pairs AS (
        SELECT x.it AS item1, y.it AS item2, count(*) AS n_baskets
        FROM capped x JOIN capped y ON x.b = y.b AND x.it < y.it
        GROUP BY 1, 2),
      marg AS (SELECT it, count(*) AS m FROM capped GROUP BY 1)
      SELECT item1, item2, CAST(p.n_baskets AS BIGINT) AS n_baskets,
             round(CAST(p.n_baskets AS DOUBLE) * n
                   / (CAST(m1.m AS DOUBLE) * CAST(m2.m AS DOUBLE)), 6) AS lift
      FROM pairs p JOIN marg m1 ON p.item1 = m1.it
                   JOIN marg m2 ON p.item2 = m2.it, nn
      ORDER BY item1, item2""",
    // The dense grid + LOCF replayed with generate_series and DuckDB's
    // IGNORE NULLS window; DECIMAL sums keep both engines exact.
    // Replays the cent-integer quantile bounds (quantile_cont ≡
    // percentile over identical integers), the inward ceil/floor
    // quantization, the integer clamp, and the half-up mean.
    "q211_winsorize" -> """
      WITH e AS (SELECT event_type,
                        CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT)
                          AS vc
                 FROM events),
      b AS (SELECT event_type,
                   CAST(ceil(quantile_cont(vc, 0.05)) AS BIGINT) AS lo,
                   CAST(floor(quantile_cont(vc, 0.95)) AS BIGINT) AS hi
            FROM e GROUP BY 1),
      c AS (SELECT e.event_type, vc, lo, hi,
                   least(greatest(vc, lo), hi) AS cl
            FROM e JOIN b USING (event_type)),
      g AS (SELECT event_type, count(*) AS n,
                   sum(CASE WHEN vc < lo THEN 1 ELSE 0 END) AS ncl,
                   sum(CASE WHEN vc > hi THEN 1 ELSE 0 END) AS nch,
                   max(lo) AS lo, max(hi) AS hi,
                   CAST(sum(cl) AS BIGINT) AS s
            FROM c GROUP BY 1)
      SELECT event_type, n,
             CAST(ncl AS BIGINT) AS n_clamped_lo,
             CAST(nch AS BIGINT) AS n_clamped_hi,
             CAST(CAST(CAST(lo AS DECIMAL(20,0)) * CAST(0.01 AS DECIMAL(3,2))
                  AS DECIMAL(38,2)) AS DOUBLE) AS lo,
             CAST(CAST(CAST(hi AS DECIMAL(20,0)) * CAST(0.01 AS DECIMAL(3,2))
                  AS DECIMAL(38,2)) AS DOUBLE) AS hi,
             CAST(CAST(CAST((200 * s + n) // (2 * n) AS DECIMAL(20,0))
                  * CAST(0.0001 AS DECIMAL(5,4)) AS DECIMAL(38,4)) AS DOUBLE)
               AS winsor_mean
      FROM g ORDER BY event_type""",
    // Replays the ntile binning (BIGINT, total order), clamped rates, the
    // ln terms, and the PSI-style pre-rounded bounded total.
    "q209_woe_iv" -> """
      WITH b AS (SELECT o_totalprice, o_orderkey,
                        (o_orderstatus = 'F') AS bad,
                        CAST(ntile(10) OVER (ORDER BY o_totalprice,
                                             o_orderkey) AS BIGINT) AS bin
                 FROM orders),
      g AS (SELECT bin, count(*) AS n,
                   sum(CASE WHEN bad THEN 1 ELSE 0 END) AS n_bad,
                   sum(CASE WHEN bad THEN 0 ELSE 1 END) AS n_good
            FROM b GROUP BY 1),
      tot AS (SELECT CAST(sum(n_bad) AS BIGINT) AS bt,
                     CAST(sum(n_good) AS BIGINT) AS gt FROM g),
      t AS (SELECT g.*,
                   greatest(CAST(n_bad AS DOUBLE) / bt, 1e-6) AS db,
                   greatest(CAST(n_good AS DOUBLE) / gt, 1e-6) AS dg
            FROM g, tot),
      tt AS (SELECT *, round(ln(dg / db), 6) AS woe,
                    round((dg - db) * ln(dg / db), 6) AS iv_term
             FROM t),
      iv AS (SELECT round(sum(iv_term), 6) AS iv_total FROM tt)
      SELECT bin, CAST(n AS BIGINT) AS n, CAST(n_bad AS BIGINT) AS n_bad,
             CAST(n_good AS BIGINT) AS n_good,
             round(db, 6) AS dist_bad, round(dg, 6) AS dist_good,
             woe, iv_term, iv_total
      FROM tt, iv ORDER BY bin""",
    // Replays the lag-24 self-join on the shifted equality key, exact
    // DECIMAL errors, pre-rounded DECIMAL APEs, one division per score.
    "q210_forecast_backtest" -> """
      WITH agg AS (SELECT event_type, date_trunc('hour', ts) AS b,
                          CAST(sum(CAST(value AS DECIMAL(14,2)))
                               AS DECIMAL(38,2)) AS s
                   FROM events GROUP BY 1, 2),
      j AS (SELECT a.event_type, a.s, f.s AS f, abs(a.s - f.s) AS err
            FROM agg a JOIN agg f
              ON a.event_type = f.event_type
             AND a.b = f.b + INTERVAL '24 hours'),
      t AS (SELECT *, CASE WHEN s <> 0 THEN
                        CAST(round(CAST(err AS DOUBLE) / CAST(s AS DOUBLE), 6)
                             AS DECIMAL(12,6)) END AS ape
            FROM j),
      g AS (SELECT event_type, count(*) AS n,
                   CAST(sum(CAST(CAST(err AS DECIMAL(18,2)) * 100 AS BIGINT))
                        AS BIGINT) AS ec,
                   count(ape) AS na,
                   CAST(sum(CAST(CAST(ape AS DECIMAL(13,6)) * 1000000
                                 AS BIGINT)) AS BIGINT) AS am
            FROM t GROUP BY 1)
      SELECT event_type, n AS n_eval,
             CAST(CAST(CAST((200 * ec + n) // (2 * n) AS DECIMAL(20,0))
                  * CAST(0.0001 AS DECIMAL(5,4)) AS DECIMAL(38,4)) AS DOUBLE)
               AS mae,
             CAST(CASE WHEN na > 0 THEN
               CAST(CAST((2 * am + na) // (2 * na) AS DECIMAL(20,0))
                    * CAST(0.000001 AS DECIMAL(7,6)) AS DECIMAL(38,6))
             END AS DOUBLE) AS mape
      FROM g ORDER BY event_type""",
    // Replays feed derivation + the four-branch merge over one full outer
    // join, balances as exact decimals.
    "q208_merge_actions" -> """
      WITH feed AS (
        SELECT user_id AS k, count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(14,2))) AS DECIMAL(14,2))
                 AS delta
        FROM events GROUP BY 1),
      f AS (SELECT k, CASE WHEN n % 7 = 0 THEN 'D' ELSE 'U' END AS op, delta
            FROM feed),
      t AS (SELECT c_custkey AS k, c_name,
                   CAST(c_acctbal AS DECIMAL(14,2)) AS bal
            FROM customer),
      j AS (SELECT t.k AS tk, t.c_name, t.bal, f.k AS sk, f.op, f.delta
            FROM t FULL OUTER JOIN f ON t.k = f.k),
      a AS (SELECT *,
              CASE WHEN tk IS NOT NULL AND sk IS NULL THEN 'keep'
                   WHEN tk IS NOT NULL AND op = 'D' THEN 'delete'
                   WHEN tk IS NOT NULL THEN 'update'
                   WHEN op <> 'D' THEN 'insert' END AS action
            FROM j)
      SELECT coalesce(tk, sk) AS custkey,
             CASE WHEN action = 'insert' THEN 'new-' || CAST(sk AS VARCHAR)
                  ELSE c_name END AS name,
             CAST(CASE WHEN action = 'update' THEN bal + delta
                       WHEN action = 'insert' THEN delta
                       ELSE bal END AS DOUBLE) AS balance,
             action
      FROM a WHERE action IS NOT NULL AND action <> 'delete'
      ORDER BY custkey, action""",
    // Replays the 8-lag integer weight chain and the integer half-up
    // quotient — no float anywhere.
    "q207_ewma_smooth" -> {
      val lagTerms = (0 until 8).map { j =>
        val wt = 1L << (7 - j)
        val lj = if (j == 0) "vc" else s"lag(vc, $j) OVER w"
        (s"coalesce($lj * $wt, 0)", s"CASE WHEN $lj IS NOT NULL THEN $wt ELSE 0 END")
      }
      val num = lagTerms.map(_._1).mkString(" + ")
      val den = lagTerms.map(_._2).mkString(" + ")
      s"""
      WITH e AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, event_id,
                        value,
                        CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT) AS vc
                 FROM events),
      t AS (SELECT event_type, ts, event_id, value,
                   $num AS num, $den AS den
            FROM e
            WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id))
      SELECT event_type, ts, event_id, value,
             CAST(CAST(CAST((200 * num + den) // (2 * den) AS DECIMAL(20,0))
                  * CAST(0.0001 AS DECIMAL(5,4)) AS DECIMAL(38,4)) AS DOUBLE)
               AS ewma
      FROM t ORDER BY event_type, ts, event_id"""
    },
    // Replays the spine + ignore-nulls anchor windows and the divide-first
    // interpolation chain with identical operand order.
    "q202_resample_interp" -> """
      WITH agg AS (
        SELECT event_type, date_trunc('hour', ts) AS bucket,
               CAST(count(*) AS BIGINT) AS n_events,
               sum(CAST(value AS DECIMAL(14,2))) AS bucket_sum
        FROM events GROUP BY 1, 2),
      b AS (SELECT event_type, min(bucket) AS d0, max(bucket) AS d1
            FROM agg GROUP BY 1),
      spine AS (SELECT event_type,
                       unnest(generate_series(d0, d1, INTERVAL 1 HOUR)) AS bucket
                FROM b),
      j AS (SELECT s.event_type, s.bucket, a.n_events, a.bucket_sum
            FROM spine s LEFT JOIN agg a
              ON s.event_type = a.event_type AND s.bucket = a.bucket),
      w AS (SELECT *,
              last_value(bucket_sum IGNORE NULLS) OVER wb AS vp,
              last_value(CASE WHEN bucket_sum IS NOT NULL THEN bucket END
                         IGNORE NULLS) OVER wb AS tp,
              first_value(bucket_sum IGNORE NULLS) OVER wf AS vn,
              first_value(CASE WHEN bucket_sum IS NOT NULL THEN bucket END
                          IGNORE NULLS) OVER wf AS tn
            FROM j
            WINDOW wb AS (PARTITION BY event_type ORDER BY bucket
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   wf AS (PARTITION BY event_type ORDER BY bucket
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
      c AS (SELECT *,
              CAST(CAST(vp AS DECIMAL(18,2)) * 100 AS BIGINT) AS vpc,
              CAST(CAST(vn AS DECIMAL(18,2)) * 100 AS BIGINT) AS vnc,
              date_diff('hour', tp, bucket) AS i,
              date_diff('hour', tp, tn) AS n
            FROM w)
      SELECT event_type, bucket, coalesce(n_events, 0) AS n_events,
             CAST(bucket_sum AS DOUBLE) AS bucket_sum,
             CAST(CASE WHEN bucket_sum IS NOT NULL
                  THEN CAST(bucket_sum AS DECIMAL(38,4))
                  ELSE CAST(CAST((200 * (vpc * n + (vnc - vpc) * i) + n)
                                 // (2 * n) AS DECIMAL(20,0))
                            * CAST(0.0001 AS DECIMAL(5,4)) AS DECIMAL(38,4))
             END AS DOUBLE) AS interp_sum,
             n_events IS NULL AS is_gap
      FROM c ORDER BY event_type, bucket""",
    "q162_resample_locf" -> """
      WITH agg AS (
        SELECT event_type, date_trunc('hour', ts) AS bucket,
               CAST(count(*) AS BIGINT) AS n_events,
               sum(CAST(value AS DECIMAL(14,2))) AS bucket_sum
        FROM events GROUP BY 1, 2),
      b AS (SELECT event_type, min(bucket) AS d0, max(bucket) AS d1
            FROM agg GROUP BY 1),
      spine AS (SELECT event_type,
                       unnest(generate_series(d0, d1, INTERVAL 1 HOUR)) AS bucket
                FROM b)
      SELECT s.event_type, s.bucket,
             coalesce(a.n_events, 0) AS n_events,
             CAST(a.bucket_sum AS DOUBLE) AS bucket_sum,
             CAST(last_value(a.bucket_sum IGNORE NULLS)
               OVER (PARTITION BY s.event_type ORDER BY s.bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE) AS filled_sum,
             a.n_events IS NULL AS is_gap
      FROM spine s LEFT JOIN agg a
        ON s.event_type = a.event_type AND s.bucket = a.bucket
      ORDER BY s.event_type, s.bucket""",
    // Rebuilds the identical HLL register file: same 60-bit md5, same
    // reg/word split, same bin()-length integer ranks, same INTEGER
    // Σ 2^(53-mj). The raw estimate's ONE float op — numerator / s_reg —
    // uses the same folded numerator literal, and the small-range arm
    // picks from the same precomputed m·ln(m/V) literal list (1-based in
    // both engines), so the gate is exact to the 2-dp round.
    "q135_hll_distinct" -> hllOracleSql,
    "q215_hll_merge" -> hllOracleSql,
    // Replays transitionMatrix: same epoch-micros (us, event_id) order,
    // lead() pairs, count, and the per-src normalizing window over the
    // aggregated frame. count sums are HUGEINT in DuckDB — CAST back.
    "q136_transitions" -> """
      WITH e AS (SELECT user_id, event_id, event_type,
                        epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      t AS (SELECT event_type AS src,
                   lead(event_type) OVER (PARTITION BY user_id
                     ORDER BY us, event_id) AS dst
            FROM e),
      g AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n
            FROM t WHERE dst IS NOT NULL GROUP BY src, dst)
      SELECT src, dst, n,
             round(CAST(n AS DOUBLE) /
               CAST(CAST(sum(n) OVER (PARTITION BY src) AS BIGINT)
                    AS DOUBLE), 6) AS p
      FROM g ORDER BY src, dst""",
    // Rebuilds the identical count-min sketch — ONE md5 per value, rows by
    // the same Kirsch-Mitzenmacher (h1 + j*h2) % width derivation over the
    // digest's two 15-nibble slices — and probes it. Exact integer algebra
    // end-to-end. count(*) is HUGEINT in DuckDB — CAST to BIGINT.
    "q125_countmin" -> {
      val probesVals = CmProbes.map(p => s"('$p')").mkString(", ")
      def km(hexCol: String) =
        s"(${CrossHash.hexSliceDuckDb(hexCol, 1)} + j * ${CrossHash.hexSliceDuckDb(hexCol, 16)}) % $CmWidth"
      s"""
      WITH tok AS (SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
                   FROM documents),
      th AS (SELECT tok, md5(tok) AS h FROM tok),
      cells AS (SELECT j, ${km("h")} AS bucket
                FROM th CROSS JOIN (SELECT unnest(range(0, $CmDepth)) AS j)),
      sk AS (SELECT j, bucket, CAST(count(*) AS BIGINT) AS cnt
             FROM cells GROUP BY j, bucket),
      probes(term) AS (VALUES $probesVals),
      ph AS (SELECT term, md5(term) AS h FROM probes),
      pb AS (SELECT term, j, ${km("h")} AS bucket
             FROM ph CROSS JOIN (SELECT unnest(range(0, $CmDepth)) AS j)),
      est AS (SELECT term, min(coalesce(sk.cnt, 0)) AS est
              FROM pb LEFT JOIN sk ON pb.j = sk.j AND pb.bucket = sk.bucket
              GROUP BY term),
      ex AS (SELECT tok AS term, CAST(count(*) AS BIGINT) AS exact FROM tok
             WHERE tok IN (SELECT term FROM probes) GROUP BY tok)
      SELECT e.term, e.est, coalesce(x.exact, CAST(0 AS BIGINT)) AS exact
      FROM est e LEFT JOIN ex x ON e.term = x.term
      ORDER BY e.term""" },
    // Rebuilds the identical Bloom bitset — same md5 + K-M (h1 + j*h2) % m
    // derivation as q125, k rows per DISTINCT token, sketch = the distinct
    // set-bit positions — and probes it: maybe_present ⇔ every one of the
    // term's (distinct) bits is set. Exact integer algebra end-to-end.
    "q149_bloom_filter" -> {
      val probesVals = CmProbes.map(p => s"('$p')").mkString(", ")
      def km(hexCol: String) =
        s"(${CrossHash.hexSliceDuckDb(hexCol, 1)} + j * ${CrossHash.hexSliceDuckDb(hexCol, 16)}) % $BloomBits"
      s"""
      WITH tok AS (SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
                   FROM documents),
      th AS (SELECT DISTINCT tok FROM tok),
      thh AS (SELECT tok, md5(tok) AS h FROM th),
      bits AS (SELECT DISTINCT ${km("h")} AS bit
               FROM thh CROSS JOIN (SELECT unnest(range(0, $BloomK)) AS j)),
      probes(term) AS (VALUES $probesVals),
      ph AS (SELECT term, md5(term) AS h FROM probes),
      pb AS (SELECT DISTINCT term, ${km("h")} AS bit
             FROM ph CROSS JOIN (SELECT unnest(range(0, $BloomK)) AS j)),
      need AS (SELECT term, CAST(count(*) AS BIGINT) AS need FROM pb GROUP BY term),
      have AS (SELECT term, CAST(count(*) AS BIGINT) AS have
               FROM pb JOIN bits USING (bit) GROUP BY term),
      ex AS (SELECT tok AS term, CAST(count(*) AS BIGINT) AS exact FROM tok
             WHERE tok IN (SELECT term FROM probes) GROUP BY tok)
      SELECT n.term,
             coalesce(h.have, CAST(0 AS BIGINT)) = n.need AS maybe_present,
             coalesce(x.exact, CAST(0 AS BIGINT)) AS exact_n
      FROM need n LEFT JOIN have h ON n.term = h.term
                  LEFT JOIN ex x ON n.term = x.term
      ORDER BY n.term""" },
    // The exact-confirm pass makes the sketch's output a pure function of
    // the input multiset, so the oracle is the direct definition: exact
    // counts, integer threshold cnt·(k+1) > N, no MG replay needed.
    "q155_heavy_hitters" -> """
      WITH tok AS (SELECT unnest(list_filter(string_split(text, ' '), t -> t <> ''))
                     AS token
                   FROM documents),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM tok),
      c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY token)
      SELECT token, cnt, n_total
      FROM c CROSS JOIN tot
      WHERE cnt * 29 > n_total
      ORDER BY token""",
    // Replays groupedHistogramQuantiles: q120's binning/walk/interpolation
    // with every window partitioned by lang. documents.n_chars is BIGINT;
    // window sums are HUGEINT — CAST back.
    // Replays the q113 sessionize chain, then the sweep as ONE global
    // running sum over collapsed deltas — the two-level Spark decomposition
    // (bucket-local window + broadcast offsets) must produce the identical
    // per-hour peaks or the hash gate fails (the q74 oracle convention).
    "q140_concurrency" -> """
      WITH e AS (SELECT user_id, event_id,
                        epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      l AS (SELECT user_id, event_id, us,
                   lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
                     AS prev_us
            FROM e),
      f AS (SELECT user_id, event_id, us,
                   CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                        THEN 1 ELSE 0 END AS ns
            FROM l),
      s AS (SELECT user_id, us,
                   CAST(sum(ns) OVER (PARTITION BY user_id
                     ORDER BY us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS session_id
            FROM f),
      sess AS (SELECT min(us) AS start_us, max(us) AS end_us
               FROM s GROUP BY user_id, session_id),
      d AS (SELECT start_us AS ts, CAST(1 AS BIGINT) AS d FROM sess
            UNION ALL
            SELECT end_us + 1, CAST(-1 AS BIGINT) FROM sess),
      g AS (SELECT ts, CAST(sum(d) AS BIGINT) AS d FROM d GROUP BY ts),
      c AS (SELECT ts, CAST(sum(d) OVER (ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS conc
            FROM g)
      SELECT (ts // 3600000000) * 3600000000 AS bucket_us,
             max(conc) AS peak, count(*) AS n_changes
      FROM c GROUP BY 1 ORDER BY 1""",

    "q141_trend" -> """
      SELECT l_suppkey,
             CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
             round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
             round(regr_intercept(l_extendedprice, l_quantity), 6)
               AS intercept,
             round(regr_r2(l_extendedprice, l_quantity), 6) AS r2
      FROM lineitem
      GROUP BY l_suppkey
      HAVING regr_count(l_extendedprice, l_quantity) >= 2
         AND regr_slope(l_extendedprice, l_quantity) IS NOT NULL
      ORDER BY l_suppkey""",

    "q142_outliers" -> """
      WITH st AS (SELECT event_type, avg(value) AS m,
                         stddev_pop(value) AS sd
                  FROM events GROUP BY event_type
                  HAVING stddev_pop(value) > 0.0)
      SELECT e.event_id, e.event_type, e.value,
             round((e.value - st.m) / st.sd, 6) AS z_score
      FROM events e JOIN st USING (event_type)
      WHERE abs((e.value - st.m) / st.sd) > 3.0
      ORDER BY e.event_id""",

    "q128_group_quantiles" -> """
      WITH h AS (SELECT lang,
                        CAST(least(greatest(floor(n_chars / 50.0), 0), 15) AS INT) AS bin,
                        count(*) AS n
                 FROM documents GROUP BY lang, bin),
      c AS (SELECT lang, bin, n,
                   CAST(sum(n) OVER (PARTITION BY lang ORDER BY bin
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cum,
                   CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS total
            FROM h),
      p AS (SELECT CAST(col0 AS DOUBLE) AS p
            FROM (VALUES (0.5), (0.9), (0.99)) v(col0))
      SELECT lang, p, bin,
             round(0.0 + 50.0 * (bin +
               (p * total - (cum - n)) / n), 6) AS q_est
      FROM c CROSS JOIN p
      WHERE (cum - n) < p * total AND cum >= p * total
      ORDER BY lang, p""",
    // Replays sessionize: same epoch-micros times, same (us, event_id)
    // tie-break, lag flag + running sum, 30-minute gap. Window sum of
    // INTEGER is HUGEINT in DuckDB — CAST back to BIGINT.
    "q113_sessionize" -> """
      WITH e AS (SELECT user_id, event_id,
                        epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      l AS (SELECT user_id, event_id, us,
                   lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
                     AS prev_us
            FROM e),
      f AS (SELECT user_id, event_id, us,
                   CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                        THEN 1 ELSE 0 END AS ns
            FROM l),
      s AS (SELECT user_id, us,
                   CAST(sum(ns) OVER (PARTITION BY user_id
                     ORDER BY us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS session_id
            FROM f)
      SELECT user_id, session_id, count(*) AS n_events,
             min(us) AS start_us, max(us) AS end_us,
             max(us) - min(us) AS duration_us
      FROM s GROUP BY user_id, session_id
      ORDER BY user_id, session_id""",
    // The q114 oracle is deliberately NOT a replay: it aggregates the raw
    // rows in one pass, so the hash gate certifies that the split-batch
    // merge algebra equals the ground-truth aggregate (2/4-dp rounds absorb
    // double-sum association differences; cnt/min/max are exact).
    "q114_incremental_agg" -> """
      SELECT o_orderpriority, count(*) AS cnt,
             round(sum(o_totalprice), 2) AS vsum,
             round(min(o_totalprice), 2) AS vmin,
             round(max(o_totalprice), 2) AS vmax,
             round(sum(o_totalprice) / count(*), 4) AS vavg
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // Replays scd2: epoch-micros times, (us, event_id) tie-break, run flag
    // = first-row-of-key OR value IS DISTINCT FROM lagged value, running
    // sum → run ids, interval roll-up, lead stitch for valid_to. Window
    // sum of BIGINT is HUGEINT in DuckDB — CAST back.
    // Replays pre/post cent metrics, exact pooled moments, the θ/x̄
    // scalar chains with identical operand order, the 6-dp DECIMAL-pinned
    // y*, half-up means (explicit floor division — Σy* can be negative
    // and both engines' integer `/` truncate), and the variance chains.
    // Replays the midpoint split, the one-division w/r chains, and the
    // three effect products with identical operand order; absent-period
    // segments enter with w = 0, r = 0.
    "q220_mix_shift" -> """
      WITH b AS (SELECT min(epoch_us(CAST(ts AS TIMESTAMP))) AS lo,
                        max(epoch_us(CAST(ts AS TIMESTAMP))) AS hi
                 FROM events),
      seg AS (SELECT event_type,
                     CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) * 2 < lo + hi
                          THEN 1 ELSE 2 END AS p,
                     count(*) AS n,
                     CAST(sum(CAST(CAST(value AS DECIMAL(14,2)) * 100
                                   AS BIGINT)) AS BIGINT) AS sc
              FROM events, b GROUP BY 1, 2),
      tot AS (SELECT p, CAST(sum(n) AS BIGINT) AS np FROM seg GROUP BY 1),
      sided AS (SELECT seg.*, CAST(n AS DOUBLE) / np AS w,
                       CAST(sc AS DOUBLE) / (n * 100.0) AS r
                FROM seg JOIN tot USING (p)),
      p1 AS (SELECT event_type, n AS n1, w AS w1, r AS r1
             FROM sided WHERE p = 1),
      p2 AS (SELECT event_type, n AS n2, w AS w2, r AS r2
             FROM sided WHERE p = 2),
      j AS (SELECT coalesce(p1.event_type, p2.event_type) AS event_type,
                   coalesce(n1, 0) AS n1, coalesce(n2, 0) AS n2,
                   coalesce(w1, 0.0) AS w1, coalesce(w2, 0.0) AS w2,
                   coalesce(r1, 0.0) AS r1, coalesce(r2, 0.0) AS r2
            FROM p1 FULL OUTER JOIN p2 ON p1.event_type = p2.event_type)
      SELECT event_type, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
             round(w1, 6) AS w1, round(w2, 6) AS w2,
             round(r1, 6) AS r1, round(r2, 6) AS r2,
             round((w2 - w1) * r1, 6) AS mix_effect,
             round(w1 * (r2 - r1), 6) AS rate_effect,
             round((w2 - w1) * (r2 - r1), 6) AS interaction
      FROM j ORDER BY event_type""",
    // Replays chi2Drift: the q220 midpoint split, exact contingency
    // counts, the margins' cross-spine (absent cells at O = 0), the
    // pinned E = (rt AS DOUBLE) * ct / n chain, 6-dp pre-rounded terms
    // and the cells-bounded total.
    "q238_chi2_drift" -> """
      WITH b AS (SELECT min(epoch_us(CAST(ts AS TIMESTAMP))) AS lo,
                        max(epoch_us(CAST(ts AS TIMESTAMP))) AS hi
                 FROM events),
      cells AS (SELECT event_type,
                       CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) * 2 < lo + hi
                            THEN 1 ELSE 2 END AS p,
                       CAST(count(*) AS BIGINT) AS obs
                FROM events, b GROUP BY 1, 2),
      rt AS (SELECT event_type, CAST(sum(obs) AS BIGINT) AS rt
             FROM cells GROUP BY 1),
      ct AS (SELECT p, CAST(sum(obs) AS BIGINT) AS ct FROM cells GROUP BY 1),
      n AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM cells),
      sp AS (SELECT rt.event_type, rt.rt, ct.p, ct.ct FROM rt CROSS JOIN ct),
      f AS (SELECT s.event_type, s.p, coalesce(c.obs, 0) AS obs,
                   CAST(s.rt AS DOUBLE) * s.ct / n.n AS e
            FROM sp s LEFT JOIN cells c
              ON c.event_type = s.event_type AND c.p = s.p, n),
      terms AS (SELECT event_type, p, obs, e,
                       round((obs - e) * (obs - e) / e, 6) AS term
                FROM f),
      stat AS (SELECT round(sum(term), 6) AS chi2,
                      CAST((count(DISTINCT event_type) - 1)
                           * (count(DISTINCT p) - 1) AS BIGINT) AS dof
               FROM terms)
      SELECT t.event_type, CAST(t.p AS INT) AS period,
             CAST(t.obs AS BIGINT) AS obs, round(t.e, 6) AS expected,
             t.term, s.chi2, s.dof
      FROM terms t, stat s ORDER BY t.event_type, t.p""",
    // Replays liftTable: the q180/q219 unit collapse (click cents score,
    // converted flag), plain ntile(10) under the TOTAL (score DESC, user)
    // order (bit-identical to the engine's two-pass ntileFromIndex), the
    // bounded gains window, and the pinned count-product lift chain.
    "q242_decile_lift" -> """
      WITH per AS (SELECT user_id,
                          coalesce(sum(CASE WHEN event_type = 'click'
                            THEN CAST(CAST(value AS DECIMAL(14,2)) * 100
                                 AS BIGINT) END), 0) AS score_cents,
                          max(CASE WHEN event_type = 'purchase'
                              THEN 1 ELSE 0 END) AS responded
                   FROM events WHERE user_id IS NOT NULL GROUP BY 1),
      d AS (SELECT score_cents, responded,
                   ntile(10) OVER (ORDER BY score_cents DESC, user_id)
                     AS decile
            FROM per),
      cells AS (SELECT CAST(decile AS BIGINT) AS decile,
                       CAST(count(*) AS BIGINT) AS n_units,
                       CAST(sum(responded) AS BIGINT) AS n_resp
                FROM d GROUP BY 1),
      tot AS (SELECT CAST(sum(n_units) AS BIGINT) AS nt,
                     CAST(sum(n_resp) AS BIGINT) AS rt
              FROM cells),
      cum AS (SELECT decile, n_units, n_resp,
                     CAST(sum(n_resp) OVER (ORDER BY decile
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cum_resp
              FROM cells)
      SELECT c.decile, c.n_units, c.n_resp,
             round(CAST(c.n_resp AS DOUBLE) / c.n_units, 6) AS resp_rate,
             CASE WHEN t.rt > 0 THEN round(CAST(c.n_resp AS DOUBLE) * t.nt
               / (CAST(c.n_units AS DOUBLE) * t.rt), 6) END AS lift,
             CASE WHEN t.rt > 0
               THEN round(CAST(c.cum_resp AS DOUBLE) / t.rt, 6) END
               AS cum_capture
      FROM cum c, tot t ORDER BY c.decile""",
    // Replays kaplanMeier: the user collapse, horizon censoring, the
    // md5 arm, the day-keyed life table, cumulative risk sets, 9-dp
    // factors and the IDENTICAL per-step round(acc*f, 9) fold over the
    // d-ordered list (the q176 fold discipline).
    "q244_kaplan_meier" -> s"""
      WITH per AS (SELECT user_id,
                          min(epoch_us(CAST(ts AS TIMESTAMP))) AS t0,
                          max(epoch_us(CAST(ts AS TIMESTAMP))) AS t1
                   FROM events WHERE user_id IS NOT NULL GROUP BY 1),
      hz AS (SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS h FROM events),
      dur AS (SELECT (${graft.operators.CrossHash.h60DuckDb(
        "CAST(user_id AS VARCHAR)")}) % 2 AS grp,
                     (t1 - t0) // 86400000000 AS d,
                     t1 < h - 604800000000 AS ev
              FROM per, hz),
      lt AS (SELECT grp, d,
                    CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT)
                      AS d_events,
                    CAST(sum(CASE WHEN ev THEN 0 ELSE 1 END) AS BIGINT)
                      AS censored
             FROM dur GROUP BY 1, 2),
      tot AS (SELECT grp, CAST(sum(d_events + censored) AS BIGINT) AS n
              FROM lt GROUP BY 1),
      wr AS (SELECT lt.grp, lt.d, lt.d_events, lt.censored,
                    tot.n - coalesce(sum(lt.d_events + lt.censored) OVER (
                      PARTITION BY lt.grp ORDER BY lt.d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS n_risk
             FROM lt JOIN tot USING (grp)),
      wf AS (SELECT *, round(CAST(n_risk - d_events AS DOUBLE) / n_risk, 9)
                      AS f
             FROM wr),
      g AS (SELECT grp, list(struct_pack(d := d, n_risk := n_risk,
                     d_events := d_events, censored := censored, f := f)
                     ORDER BY d) AS rs
            FROM wf GROUP BY grp),
      e AS (SELECT grp, rs, unnest(range(1, len(rs) + 1)) AS i FROM g)
      SELECT grp, rs[CAST(i AS INT)].d AS d,
             CAST(rs[CAST(i AS INT)].n_risk AS BIGINT) AS n_risk,
             rs[CAST(i AS INT)].d_events AS d_events,
             rs[CAST(i AS INT)].censored AS censored,
             list_reduce(list_concat([CAST(1.0 AS DOUBLE)],
               list_transform(rs[1:CAST(i AS INT)], x -> x.f)),
               (acc, f) -> round(acc * f, 9)) AS survival
      FROM e ORDER BY grp, d""",
    // Replays attributionModels with the INDEPENDENT relational
    // formulation: q166's sessionization, touch-to-conversion pairs via
    // a within-session join under the engine's (us, id) inclusion rule,
    // k/position/decay windows, the identical 9-dp DECIMAL credit
    // chains, and the touchless-direct branch.
    "q248_attribution_models" -> """
      WITH base AS (
        SELECT user_id, event_id, event_type AS et,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events
        WHERE event_type IN ('purchase', 'signup', 'view', 'click')),
      sid AS (
        SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM (
          SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                         THEN 1 ELSE 0 END AS new_s
          FROM (SELECT *, lag(us) OVER (PARTITION BY user_id
                                        ORDER BY us, event_id) AS prev_us
                FROM base))),
      conv AS (SELECT user_id, sid, event_id AS cid, us AS cus
               FROM sid WHERE et = 'purchase'),
      tch AS (SELECT user_id, sid, event_id AS tid, us AS tus, et AS ch
              FROM sid WHERE et <> 'purchase'),
      pair AS (SELECT c.cid, c.cus, t.tus, t.tid, t.ch
               FROM conv c JOIN tch t USING (user_id, sid)
               WHERE t.tus < c.cus
                  OR (t.tus = c.cus AND t.tid < c.cid)),
      num AS (SELECT *,
                     CAST(count(*) OVER (PARTITION BY cid) AS BIGINT) AS k,
                     row_number() OVER (PARTITION BY cid
                       ORDER BY tus, tid) - 1 AS i,
                     round(exp(CAST(cus - tus AS DOUBLE)
                               / -3600000000.0), 9) AS w
              FROM pair),
      num2 AS (SELECT *, sum(CAST(w AS DECIMAL(18,9)))
                           OVER (PARTITION BY cid) AS wtot
               FROM num),
      cred AS (
        SELECT ch AS channel,
               CAST(round(1.0 / k, 9) AS DECIMAL(18,9)) AS lin,
               CAST(CASE WHEN k = 1 THEN 1.0 WHEN k = 2 THEN 0.5
                         WHEN i = 0 OR i = k - 1 THEN 0.4
                         ELSE round(0.2 / (k - 2), 9) END
                    AS DECIMAL(18,9)) AS pos,
               CAST(CASE WHEN wtot > 0
                         THEN round(w / CAST(wtot AS DOUBLE), 9)
                         ELSE round(1.0 / k, 9) END
                    AS DECIMAL(18,9)) AS dcy
        FROM num2
        UNION ALL
        SELECT 'direct', CAST(1 AS DECIMAL(18,9)), CAST(1 AS DECIMAL(18,9)),
               CAST(1 AS DECIMAL(18,9))
        FROM conv c
        WHERE NOT EXISTS (SELECT 1 FROM pair p WHERE p.cid = c.cid))
      SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
             round(CAST(sum(lin) AS DOUBLE), 6) AS linear_credit,
             round(CAST(sum(pos) AS DOUBLE), 6) AS position_credit,
             round(CAST(sum(dcy) AS DOUBLE), 6) AS decay_credit
      FROM cred GROUP BY channel ORDER BY channel""",
    // Replays spearmanCorr: doubled tie-average ranks as exact integers,
    // HUGEINT rank products, and the pinned moment chain with the same
    // variance guards.
    "q249_spearman_corr" -> """
      WITH r AS (SELECT l_returnflag AS g,
                   CAST(2 * rank() OVER (PARTITION BY l_returnflag
                          ORDER BY l_quantity)
                        + count(*) OVER (PARTITION BY l_returnflag,
                          l_quantity) - 1 AS BIGINT) AS rx,
                   CAST(2 * rank() OVER (PARTITION BY l_returnflag
                          ORDER BY l_extendedprice)
                        + count(*) OVER (PARTITION BY l_returnflag,
                          l_extendedprice) - 1 AS BIGINT) AS ry
                 FROM lineitem
                 WHERE l_quantity IS NOT NULL
                   AND l_extendedprice IS NOT NULL),
      m AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(rx) AS BIGINT) AS sx,
                   CAST(sum(ry) AS BIGINT) AS sy,
                   CAST(sum(CAST(rx AS HUGEINT) * ry) AS DECIMAL(38,0))
                     AS sxy,
                   CAST(sum(CAST(rx AS HUGEINT) * rx) AS DECIMAL(38,0))
                     AS sxx,
                   CAST(sum(CAST(ry AS HUGEINT) * ry) AS DECIMAL(38,0))
                     AS syy
            FROM r GROUP BY g)
      SELECT g AS l_returnflag, n,
             CASE WHEN CAST(sxx AS DOUBLE) * n
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                   AND CAST(syy AS DOUBLE) * n
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
                  THEN round((CAST(sxy AS DOUBLE) * n
                              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / sqrt((CAST(sxx AS DOUBLE) * n
                               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                              * (CAST(syy AS DOUBLE) * n
                                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                       6)
                  END AS rho
      FROM m ORDER BY l_returnflag""",
    // Replays quantileNormalize with plain windows over the cells/value
    // frames: doubled within-group ranks, the pm = ceil(r2*500/n_g)
    // fold, and the pooled grid's integer coverage rule (DuckDB range()
    // is half-open and empty when from >= to, matching the engine's
    // guarded sequence).
    "q250_quantile_normalize" -> """
      WITH cells AS (SELECT lang AS g, CAST(n_chars AS BIGINT) AS v,
                            CAST(count(*) AS BIGINT) AS c
                     FROM documents WHERE n_chars IS NOT NULL
                     GROUP BY 1, 2),
      ng AS (SELECT g, CAST(sum(c) AS BIGINT) AS n_g FROM cells GROUP BY 1),
      rk AS (SELECT g, v, c,
                    CAST(2 * (sum(c) OVER (PARTITION BY g ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           - c) + c + 1 AS BIGINT) AS r2
             FROM cells),
      pmrow AS (SELECT rk.g, rk.v, rk.c,
                       (r2 * 500 + n_g - 1) // n_g AS pm
                FROM rk JOIN ng USING (g)),
      pooled AS (SELECT v, CAST(sum(c) AS BIGINT) AS cv
                 FROM cells GROUP BY 1),
      nn AS (SELECT CAST(sum(cv) AS BIGINT) AS n FROM pooled),
      cm AS (SELECT v, cv,
                    CAST(sum(cv) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                      PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
             FROM pooled),
      grid AS (SELECT v AS nv,
                      unnest(range(((cum - cv) * 1000) // nn.n + 1,
                                   (cum * 1000) // nn.n + 1)) AS pm
               FROM cm, nn)
      SELECT p.g AS lang, p.v AS n_chars, p.c AS n_rows,
             CAST(p.pm AS BIGINT) AS pm, g2.nv AS norm_v
      FROM pmrow p JOIN grid g2 USING (pm)
      ORDER BY lang, n_chars""",
    // Replays kruskalWallis with PLAIN pooled rank windows (a genuinely
    // different derivation of the same doubled average ranks), the
    // identical pre-rounded per-group term chain and the tie-corrected
    // tail.
    "q253_kruskal_wallis" -> """
      WITH b AS (SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS v
                 FROM lineitem
                 WHERE l_returnflag IS NOT NULL
                   AND l_extendedprice IS NOT NULL),
      r AS (SELECT g, CAST(2 * rank() OVER (ORDER BY v)
                           + count(*) OVER (PARTITION BY v) - 1
                      AS BIGINT) AS r2
            FROM b),
      gs AS (SELECT g, CAST(count(*) AS BIGINT) AS ng,
                    CAST(sum(CAST(r2 AS HUGEINT)) AS DECIMAL(38,0)) AS rr
             FROM r GROUP BY g),
      tot AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
                     CAST(count(*) AS BIGINT) AS k FROM gs),
      tie AS (SELECT CAST(sum(CAST(c AS HUGEINT) * c * c - c)
                       AS DECIMAL(38,0)) AS t
              FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM b GROUP BY v)),
      dv AS (SELECT t.n, t.k, g.ng,
                    CAST(g.rr AS DOUBLE) / (2.0 * g.ng)
                      - (t.n + 1) / 2.0 AS dev
             FROM gs g, tot t),
      terms AS (SELECT n, k,
                       CAST(round(ng * (dev * dev), 6)
                            AS DECIMAL(28,6)) AS tm
                FROM dv),
      s AS (SELECT n, k, sum(tm) AS s FROM terms GROUP BY n, k)
      SELECT s.k AS k_groups, s.n AS n,
             round(12.0 * CAST(s.s AS DOUBLE) / (s.n * (s.n + 1.0)), 6) AS h,
             round(CASE WHEN s.n > 1 AND CAST(t2.t AS DOUBLE)
                             < CAST(s.n AS DOUBLE) * s.n * s.n - s.n
                   THEN (12.0 * CAST(s.s AS DOUBLE) / (s.n * (s.n + 1.0)))
                        / (1.0 - CAST(t2.t AS DOUBLE)
                                 / (CAST(s.n AS DOUBLE) * s.n * s.n - s.n))
                   END, 6) AS h_tie_adj
      FROM s, tie t2""",
    // Replays robustGroupProfile: both medians via the q228 pick rule
    // ((500n + 999) div 1000 = ceil(n/2)), exact integer deviations and
    // the strict kTimes*MAD verdict.
    "q254_robust_profile" -> """
      WITH b AS (SELECT lang, CAST(n_chars AS BIGINT) AS v
                 FROM documents WHERE n_chars IS NOT NULL),
      med AS (SELECT lang, v AS med FROM (
                SELECT lang, v,
                       row_number() OVER (PARTITION BY lang ORDER BY v) AS rn,
                       count(*) OVER (PARTITION BY lang) AS n
                FROM b)
              WHERE rn = (500 * n + 999) // 1000),
      d AS (SELECT b.lang, m.med, abs(b.v - m.med) AS dv
            FROM b JOIN med m USING (lang)),
      mad AS (SELECT lang, dv AS mad FROM (
                SELECT lang, dv,
                       row_number() OVER (PARTITION BY lang ORDER BY dv) AS rn,
                       count(*) OVER (PARTITION BY lang) AS n
                FROM d)
              WHERE rn = (500 * n + 999) // 1000)
      SELECT d.lang, count(*) AS n, CAST(min(d.med) AS BIGINT) AS med,
             CAST(min(m.mad) AS BIGINT) AS mad,
             CAST(sum(CASE WHEN d.dv > 5 * m.mad THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_outliers,
             CAST(max(d.dv) AS BIGINT) AS max_dev
      FROM d JOIN mad m USING (lang)
      GROUP BY d.lang ORDER BY d.lang""",
    // Replays cohenKappa: confusion cells, margins, the fraction-free
    // kappa identity (n*agree - S) / (n^2 - S) over exact DECIMAL counts.
    "q257_cohen_kappa" -> """
      WITH u AS (SELECT CASE WHEN n_chars >= 500 THEN 'keep'
                             ELSE 'drop' END AS ra,
                        CASE WHEN len(list_filter(string_split(text, ' '),
                                       t -> t <> '')) >= 90
                             THEN 'keep' ELSE 'drop' END AS rb
                 FROM documents),
      cells AS (SELECT ra, rb, CAST(count(*) AS DECIMAL(38,0)) AS c
                FROM u GROUP BY 1, 2),
      nt AS (SELECT CAST(sum(c) AS DECIMAL(38,0)) AS n FROM cells),
      agr AS (SELECT coalesce(CAST(sum(CASE WHEN ra = rb THEN c END)
                       AS DECIMAL(38,0)),
                     CAST(0 AS DECIMAL(38,0))) AS agree FROM cells),
      na AS (SELECT ra AS cat, sum(c) AS na FROM cells GROUP BY 1),
      nb AS (SELECT rb AS cat, sum(c) AS nb FROM cells GROUP BY 1),
      pr AS (SELECT coalesce(CAST(sum(na * nb) AS DECIMAL(38,0)),
                    CAST(0 AS DECIMAL(38,0))) AS s
             FROM na JOIN nb USING (cat))
      SELECT CAST(nt.n AS BIGINT) AS n, CAST(a.agree AS BIGINT) AS n_agree,
             round(CAST(a.agree AS DOUBLE) / CAST(nt.n AS DOUBLE), 6) AS po,
             round(CAST(pr.s AS DOUBLE)
                   / (CAST(nt.n AS DOUBLE) * CAST(nt.n AS DOUBLE)), 6) AS pe,
             round(CASE WHEN nt.n * nt.n <> pr.s
                   THEN CAST(nt.n * a.agree - pr.s AS DOUBLE)
                        / CAST(nt.n * nt.n - pr.s AS DOUBLE) END, 6) AS kappa
      FROM nt, agr a, pr""",
    // Replays wilsonIntervals: exact (n, k) counts + the identical
    // pinned 1.96 chain, written with the same operand order.
    "q265_wilson_ci" -> """
      WITH per AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                          CAST(sum(CASE WHEN value > 100 THEN 1 ELSE 0 END)
                            AS BIGINT) AS k
                   FROM events WHERE event_type IS NOT NULL
                   GROUP BY 1),
      p AS (SELECT *, k / CAST(n AS DOUBLE) AS ph FROM per)
      SELECT event_type, n, k, round(ph, 6) AS rate,
             round((ph + 1.96*1.96/(2.0*n)) / (1.0 + 1.96*1.96/n)
                   - 1.96 * sqrt(ph*(1.0-ph)/n + 1.96*1.96/(4.0*n*n))
                     / (1.0 + 1.96*1.96/n), 6) AS lo,
             round((ph + 1.96*1.96/(2.0*n)) / (1.0 + 1.96*1.96/n)
                   + 1.96 * sqrt(ph*(1.0-ph)/n + 1.96*1.96/(4.0*n*n))
                     / (1.0 + 1.96*1.96/n), 6) AS hi
      FROM p ORDER BY event_type""",
    // Replays cusumDrift as a recursive CTE stepping the same ordered
    // day rows with the identical per-step round(. , 9) fold, the same
    // exact-moment mean/sigma chain and the 4-sigma alarm rule.
    "q263_cusum_drift" -> """
      WITH RECURSIVE
      d AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS n
            FROM events WHERE ts IS NOT NULL GROUP BY 1),
      dr AS (SELECT day, n, row_number() OVER (ORDER BY day) AS rn FROM d),
      st AS (SELECT count(*) AS nd, CAST(sum(n) AS BIGINT) AS s,
                    CAST(sum(CAST(n AS HUGEINT) * n) AS DECIMAL(38,0)) AS s2
             FROM d),
      p AS (SELECT CAST(s AS DOUBLE) / nd AS mean,
                   sqrt((CAST(s2 AS DOUBLE)
                         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / nd) / nd)
                     AS sig
            FROM st),
      c AS (
        SELECT dr.rn, dr.day, dr.n,
               round(greatest(CAST(0 AS DOUBLE),
                 0 + (dr.n - p.mean - p.sig * 0.5)), 9) AS chi,
               round(greatest(CAST(0 AS DOUBLE),
                 0 + (p.mean - p.sig * 0.5 - dr.n)), 9) AS clo
        FROM dr, p WHERE dr.rn = 1
        UNION ALL
        SELECT dr.rn, dr.day, dr.n,
               round(greatest(CAST(0 AS DOUBLE),
                 c.chi + (dr.n - p.mean - p.sig * 0.5)), 9),
               round(greatest(CAST(0 AS DOUBLE),
                 c.clo + (p.mean - p.sig * 0.5 - dr.n)), 9)
        FROM c JOIN dr ON dr.rn = c.rn + 1 CROSS JOIN p)
      SELECT c.day, c.n, c.chi AS cusum_hi, c.clo AS cusum_lo,
             c.chi > p.sig * 4.0 AS alarm_hi,
             c.clo > p.sig * 4.0 AS alarm_lo
      FROM c, p ORDER BY c.day""",
    // Replays conversionLagQuantiles: DuckDB's native backward ASOF
    // carries the touch timestamp, integral microsecond lags, the q228
    // pick rule per day-of-week.
    "q264_conversion_lag" -> """
      WITH l AS (
        SELECT CAST(dayofweek(CAST(p.ts AS TIMESTAMP)) + 1 AS INT) AS dow,
               epoch_us(CAST(p.ts AS TIMESTAMP))
                 - epoch_us(CAST(c.cts AS TIMESTAMP)) AS lag_us
        FROM (SELECT user_id, ts FROM events
              WHERE event_type = 'purchase') p
        ASOF JOIN (SELECT user_id, ts AS cts FROM events
                   WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.cts),
      r AS (SELECT dow, lag_us,
                   row_number() OVER (PARTITION BY dow ORDER BY lag_us)
                     AS rn,
                   CAST(count(*) OVER (PARTITION BY dow) AS BIGINT) AS n
            FROM l)
      SELECT dow, CAST(pm AS INT) AS pm, n, lag_us AS q
      FROM r, (SELECT unnest([500, 900, 990]) AS pm)
      WHERE rn = (pm * n + 999) // 1000
      ORDER BY dow, pm""",
    // The INDEPENDENT certificate for snapshotAggMerge: the single-pass
    // aggregate over the whole table — agreement proves
    // merge(state(base), state(delta)) == state(base UNION delta)
    // exactly, moments being exact DECIMALs on both paths.
    "q258_agg_merge" -> """
      WITH e AS (SELECT user_id AS k, CAST(value AS DECIMAL(14,2)) AS v
                 FROM events
                 WHERE user_id IS NOT NULL AND value IS NOT NULL)
      SELECT k, CAST(count(*) AS BIGINT) AS n,
             CAST(CAST(sum(v) AS DECIMAL(38,2)) AS DOUBLE) AS total,
             round(CAST(CAST(sum(v) AS DECIMAL(38,2)) AS DOUBLE)
                   / count(*), 6) AS mean,
             round((CAST(CAST(sum(CAST(v * v AS DECIMAL(38,4)))
                              AS DECIMAL(38,4)) AS DOUBLE)
                    - CAST(CAST(sum(v) AS DECIMAL(38,2)) AS DOUBLE)
                      * CAST(CAST(sum(v) AS DECIMAL(38,2)) AS DOUBLE)
                      / count(*))
                   / count(*), 6) AS variance
      FROM e GROUP BY k ORDER BY k""",
    "q219_cuped" -> s"""
      WITH b AS (SELECT min(epoch_us(CAST(ts AS TIMESTAMP))) AS lo,
                        max(epoch_us(CAST(ts AS TIMESTAMP))) AS hi
                 FROM events),
      u AS (SELECT ((${graft.operators.CrossHash.h60DuckDb("CAST(user_id AS VARCHAR)")}) % 2) AS arm,
                   user_id AS uu,
                   coalesce(sum(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) * 2
                                          < lo + hi
                     THEN CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT)
                     END), 0) AS xc,
                   coalesce(sum(CASE WHEN NOT (epoch_us(CAST(ts AS TIMESTAMP))
                                               * 2 < lo + hi)
                     THEN CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT)
                     END), 0) AS yc
            FROM events, b WHERE user_id IS NOT NULL
            GROUP BY 1, 2),
      m AS (SELECT count(*) AS n, CAST(sum(xc) AS BIGINT) AS sx,
                   CAST(sum(yc) AS BIGINT) AS sy,
                   CAST(sum(CAST(xc AS HUGEINT)
                            * CAST(yc AS HUGEINT)) AS DECIMAL(38,0))
                     AS sxy,
                   CAST(sum(CAST(xc AS HUGEINT)
                            * CAST(xc AS HUGEINT)) AS DECIMAL(38,0))
                     AS sxx
            FROM u),
      t AS (SELECT CASE WHEN CAST(sxx AS DOUBLE) * n
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0
                        THEN (CAST(sxy AS DOUBLE) * n
                              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                             / (CAST(sxx AS DOUBLE) * n
                                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        ELSE 0.0 END AS theta, n, sx
            FROM m),
      a AS (SELECT arm, uu, yc,
                   CAST(round(CAST(yc AS DOUBLE) / 100.0
                         - theta * (CAST(xc AS DOUBLE) / 100.0
                                    - CAST(sx AS DOUBLE) / (100.0 * n)), 6)
                        AS DECIMAL(18,6)) AS ystar
            FROM u, t),
      a2 AS (SELECT *, CAST(ystar * 1000000 AS BIGINT) AS ym FROM a),
      g AS (SELECT arm, count(*) AS n_units,
                   CAST(sum(yc) AS BIGINT) AS syc,
                   CAST(sum(CAST(yc AS HUGEINT)
                            * CAST(yc AS HUGEINT)) AS DECIMAL(38,0))
                     AS sy2,
                   CAST(sum(ym) AS BIGINT) AS sym,
                   CAST(sum(CAST(ym AS HUGEINT) * CAST(ym AS HUGEINT))
                        AS DECIMAL(38,0)) AS sst2m
            FROM a2 GROUP BY 1)
      SELECT arm, n_units,
             CAST(CAST(CAST((2 * syc * 10000 + n_units) // (2 * n_units)
                       AS DECIMAL(20,0))
                  * CAST(0.000001 AS DECIMAL(7,6)) AS DECIMAL(38,6)) AS DOUBLE)
               AS mean_y,
             CAST(CAST(CAST(((2 * sym + n_units)
                        - ((((2 * sym + n_units) % (2 * n_units))
                            + (2 * n_units)) % (2 * n_units)))
                       // (2 * n_units) AS DECIMAL(20,0))
                  * CAST(0.000001 AS DECIMAL(7,6)) AS DECIMAL(38,6)) AS DOUBLE)
               AS mean_y_adj,
             round(CAST(sy2 AS DOUBLE) / 10000.0 / n_units
                   - (CAST(syc AS DOUBLE) / (100.0 * n_units))
                     * (CAST(syc AS DOUBLE) / (100.0 * n_units)), 6) AS var_y,
             round(CAST(sst2m AS DOUBLE) / 1e12 / n_units
                   - (CAST(sym AS DOUBLE) / (1000000.0 * n_units))
                     * (CAST(sym AS DOUBLE) / (1000000.0 * n_units)), 6)
               AS var_adj,
             CASE WHEN round(CAST(sy2 AS DOUBLE) / 10000.0 / n_units
                   - (CAST(syc AS DOUBLE) / (100.0 * n_units))
                     * (CAST(syc AS DOUBLE) / (100.0 * n_units)), 6) <> 0
               THEN round(
                 round(CAST(sst2m AS DOUBLE) / 1e12 / n_units
                   - (CAST(sym AS DOUBLE) / (1000000.0 * n_units))
                     * (CAST(sym AS DOUBLE) / (1000000.0 * n_units)), 6)
                 / round(CAST(sy2 AS DOUBLE) / 10000.0 / n_units
                   - (CAST(syc AS DOUBLE) / (100.0 * n_units))
                     * (CAST(syc AS DOUBLE) / (100.0 * n_units)), 6), 6)
             END AS var_ratio
      FROM g ORDER BY arm""",
    // q116's interval chain + horizon close-out + per-(key, state)
    // occupancy/share roll-up.
    "q217_state_occupancy" -> """
      WITH e AS (SELECT user_id, event_id, event_type,
                        epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      l AS (SELECT user_id, event_type, us,
                   CASE WHEN row_number() OVER w = 1
                          OR lag(event_type) OVER w IS DISTINCT FROM event_type
                        THEN 1 ELSE 0 END AS chg,
                   event_id
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      r AS (SELECT user_id, event_type, us,
                   CAST(sum(chg) OVER (PARTITION BY user_id
                     ORDER BY us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS run
            FROM l),
      g AS (SELECT user_id, run, event_type,
                   min(us) AS valid_from_us, count(*) AS n_events
            FROM r GROUP BY user_id, run, event_type),
      iv AS (SELECT *, lead(valid_from_us) OVER
                         (PARTITION BY user_id ORDER BY run) AS valid_to_us
             FROM g),
      hz AS (SELECT user_id, max(us) AS h, min(us) AS lo FROM e GROUP BY 1),
      occ AS (SELECT iv.user_id, event_type,
                     CAST(sum(coalesce(valid_to_us, h) - valid_from_us)
                          AS BIGINT) AS occupancy_us,
                     CAST(sum(n_events) AS BIGINT) AS n_events,
                     CAST(max(h - lo) AS BIGINT) AS span
              FROM iv JOIN hz ON iv.user_id = hz.user_id
              GROUP BY iv.user_id, event_type)
      SELECT user_id, event_type, occupancy_us, n_events,
             CASE WHEN span > 0 THEN
               round(CAST(occupancy_us AS DOUBLE) / span, 6) END AS share
      FROM occ ORDER BY user_id, event_type""",
    "q116_scd2" -> """
      WITH e AS (SELECT user_id, event_id, event_type,
                        epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      l AS (SELECT user_id, event_type, us,
                   CASE WHEN row_number() OVER w = 1
                          OR lag(event_type) OVER w IS DISTINCT FROM event_type
                        THEN 1 ELSE 0 END AS chg,
                   event_id
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      r AS (SELECT user_id, event_type, us,
                   CAST(sum(chg) OVER (PARTITION BY user_id
                     ORDER BY us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS run
            FROM l),
      g AS (SELECT user_id, run, event_type,
                   min(us) AS valid_from_us, count(*) AS n_events
            FROM r GROUP BY user_id, run, event_type)
      SELECT user_id, run, event_type, valid_from_us, n_events,
             lead(valid_from_us) OVER wr AS valid_to_us,
             lead(valid_from_us) OVER wr IS NULL AS is_current
      FROM g
      WINDOW wr AS (PARTITION BY user_id ORDER BY run)
      ORDER BY user_id, run""",
    // The declarative ground truth for the skyline: literal strict-
    // domination NOT EXISTS (n² in the oracle, never in the operator).
    "q117_skyline" -> """
      SELECT p.p_partkey, p.p_retailprice, p.p_size
      FROM part p
      WHERE NOT EXISTS (
        SELECT 1 FROM part q
        WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
          AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
      ORDER BY p_partkey""",
    "q68_kmv_distinct" -> s"""
      WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
      h AS (SELECT event_type, ${h60("CAST(user_id AS VARCHAR)")} AS hv FROM du),
      r AS (SELECT event_type, hv,
                   row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
            FROM h),
      k AS (SELECT event_type, CAST(count(*) AS INT) AS k_used,
                   max(hv) AS kth_min
            FROM r WHERE rn <= 32 GROUP BY event_type),
      x AS (SELECT event_type, count(*) AS n_exact FROM du GROUP BY event_type)
      SELECT x.event_type, n_exact, k_used, kth_min,
             round(CASE WHEN k_used < 32 THEN CAST(k_used AS DOUBLE)
                   ELSE 31.0 * 1152921504606846976.0 / CAST(kth_min AS DOUBLE)
                   END, 2) AS kmv_est
      FROM x JOIN k USING (event_type)
      ORDER BY event_type""",
    // Rebuilds the per-group min-32 hash samples with the same 60-bit
    // fold, trims every pair to θ = least(θ1, θ2), and replays the theta
    // estimators: count · 2^60/θ for intersection and union, sample ratio
    // for Jaccard. Intersect/union spelled as filter+contains+distinct on
    // BOTH engines so list semantics cannot diverge. Exact audit joins the
    // distinct sets value-on-value.
    "q152_kmv_setops" -> s"""
      WITH du AS (SELECT DISTINCT event_type AS grp, user_id AS v
                  FROM events WHERE user_id IS NOT NULL),
      h AS (SELECT grp, ${h60("CAST(v AS VARCHAR)")} AS hv FROM du),
      r AS (SELECT grp, hv,
                   row_number() OVER (PARTITION BY grp ORDER BY hv) AS rn
            FROM h),
      nd AS (SELECT grp, count(*) AS nd FROM h GROUP BY grp),
      sk AS (SELECT r.grp, list(hv ORDER BY hv) AS arr,
                    CASE WHEN max(nd.nd) < 32 THEN 1152921504606846976
                         ELSE max(hv) END AS th
             FROM r JOIN nd ON r.grp = nd.grp WHERE rn <= 32 GROUP BY r.grp),
      p AS (SELECT a.grp AS grp1, b.grp AS grp2,
                   least(a.th, b.th) AS theta,
                   list_filter(a.arr, h -> h <= least(a.th, b.th)) AS fa,
                   list_filter(b.arr, h -> h <= least(a.th, b.th)) AS fb
            FROM sk a JOIN sk b ON a.grp < b.grp),
      c AS (SELECT grp1, grp2, theta,
                   CAST(len(list_distinct(list_filter(fa,
                     h -> list_contains(fb, h)))) AS BIGINT) AS n_inter_sample,
                   CAST(len(list_distinct(list_concat(fa, fb))) AS BIGINT)
                     AS n_union_sample
            FROM p),
      x AS (SELECT a.grp AS grp1, b.grp AS grp2,
                   CAST(count(*) AS BIGINT) AS n_inter_exact
            FROM du a JOIN du b ON a.v = b.v AND a.grp < b.grp
            GROUP BY a.grp, b.grp)
      SELECT c.grp1, c.grp2, n_inter_sample, n_union_sample,
             round(CAST(n_inter_sample AS DOUBLE) * 1152921504606846976.0
                   / CAST(theta AS DOUBLE), 2) AS inter_est,
             round(CAST(n_union_sample AS DOUBLE) * 1152921504606846976.0
                   / CAST(theta AS DOUBLE), 2) AS union_est,
             CASE WHEN n_union_sample = 0 THEN 0.0
                  ELSE round(CAST(n_inter_sample AS DOUBLE)
                             / CAST(n_union_sample AS DOUBLE), 4) END
               AS jaccard_est,
             coalesce(x.n_inter_exact, CAST(0 AS BIGINT)) AS n_inter_exact
      FROM c LEFT JOIN x ON c.grp1 = x.grp1 AND c.grp2 = x.grp2
      ORDER BY c.grp1, c.grp2""",
    // CAST(ts AS TIMESTAMP) truncates DuckDB's ns reads to the µs Spark
    // carries, so ordering ties resolve identically (then event_id).
    // Replays the (user, type) lag and the exact-percentile roll-up.
    "q190_event_cadence" -> """
      WITH e AS (
        SELECT event_type AS et, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
               us - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
                 (PARTITION BY user_id, event_type
                  ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS gap
        FROM events WHERE user_id IS NOT NULL)
      SELECT et, CAST(count(*) AS BIGINT) AS n,
             quantile_cont(gap, 0.25) AS p25, quantile_cont(gap, 0.5) AS p50,
             quantile_cont(gap, 0.75) AS p75, quantile_cont(gap, 0.9) AS p90
      FROM e WHERE gap IS NOT NULL GROUP BY et ORDER BY et""",
    // Latency oracle: the same gated running-min chain, but carrying first-
    // completion TIMES; quantile_cont over integer micros interpolates
    // exactly like Spark's percentile().
    "q189_funnel_latency" -> """
      WITH e AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                        epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
                        event_type FROM events),
      a AS (SELECT *, min(CASE WHEN event_type = 'signup' THEN us END)
              OVER (PARTITION BY user_id, day ORDER BY us, event_id
                    ROWS UNBOUNDED PRECEDING) AS t1 FROM e),
      b AS (SELECT *, min(CASE WHEN event_type = 'view' AND t1 IS NOT NULL
                          THEN us END)
              OVER (PARTITION BY user_id, day ORDER BY us, event_id
                    ROWS UNBOUNDED PRECEDING) AS t2 FROM a),
      c AS (SELECT *, min(CASE WHEN event_type = 'click' AND t2 IS NOT NULL
                          THEN us END)
              OVER (PARTITION BY user_id, day ORDER BY us, event_id
                    ROWS UNBOUNDED PRECEDING) AS t3 FROM b),
      f AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND t3 IS NOT NULL
                          THEN us END)
              OVER (PARTITION BY user_id, day ORDER BY us, event_id
                    ROWS UNBOUNDED PRECEDING) AS t4 FROM c),
      k AS (SELECT user_id, day, min(t1) AS t1, min(t2) AS t2,
                   min(t3) AS t3, min(t4) AS t4 FROM f GROUP BY 1, 2),
      g AS (
        SELECT 'signup' AS from_stage, 'view' AS to_stage, t2 - t1 AS lat
        FROM k WHERE t2 IS NOT NULL
        UNION ALL
        SELECT 'view', 'click', t3 - t2 FROM k WHERE t3 IS NOT NULL
        UNION ALL
        SELECT 'click', 'purchase', t4 - t3 FROM k WHERE t4 IS NOT NULL)
      SELECT from_stage, to_stage, CAST(count(*) AS BIGINT) AS n,
             quantile_cont(lat, 0.25) AS p25, quantile_cont(lat, 0.5) AS p50,
             quantile_cont(lat, 0.75) AS p75, quantile_cont(lat, 0.9) AS p90
      FROM g GROUP BY 1, 2 ORDER BY from_stage""",
    "q69_funnel" -> """
      WITH e AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                        CAST(ts AS TIMESTAMP) AS ts, event_id,
                        event_type FROM events),
      a AS (SELECT *, max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id, day ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r1
            FROM e),
      b AS (SELECT *, max(CASE WHEN event_type = 'view' AND r1 = 1
                          THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id, day ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r2
            FROM a),
      c AS (SELECT *, max(CASE WHEN event_type = 'click' AND r2 = 1
                          THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id, day ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r3
            FROM b),
      f AS (SELECT *, max(CASE WHEN event_type = 'purchase' AND r3 = 1
                          THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id, day ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r4
            FROM c),
      u AS (SELECT user_id, day,
                   CAST(max(r1) + max(r2) + max(r3) + max(r4) AS INT) AS stage
            FROM f GROUP BY user_id, day)
      SELECT stage, count(*) AS n_users FROM u
      GROUP BY stage ORDER BY stage""",
    // Sessionized funnel: the q113 session assignment (lag-flag +
    // running-sum over the (user)-(us, id) order, 30-min gap) feeds the
    // q69 max-flag cascade with (user_id, session_id) as the partition
    // key; per-(user, session) furthest stage, counted per stage. Integer
    // micros end-to-end — exact.
    "q147_session_funnel" -> """
      WITH e AS (SELECT user_id, event_id, event_type,
                        epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      s AS (SELECT *, CASE WHEN lag(us) OVER
                (PARTITION BY user_id ORDER BY us, event_id) IS NULL
              OR us - lag(us) OVER
                (PARTITION BY user_id ORDER BY us, event_id) > 1800000000
              THEN 1 ELSE 0 END AS new_s
            FROM e),
      sid AS (SELECT *, sum(new_s) OVER
                (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS session_id
              FROM s),
      a AS (SELECT *, max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id, session_id ORDER BY us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r1
            FROM sid),
      b AS (SELECT *, max(CASE WHEN event_type = 'view' AND r1 = 1
                          THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id, session_id ORDER BY us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r2
            FROM a),
      c AS (SELECT *, max(CASE WHEN event_type = 'click' AND r2 = 1
                          THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id, session_id ORDER BY us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r3
            FROM b),
      f AS (SELECT *, max(CASE WHEN event_type = 'purchase' AND r3 = 1
                          THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id, session_id ORDER BY us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r4
            FROM c),
      u AS (SELECT user_id, session_id,
                   CAST(max(r1) + max(r2) + max(r3) + max(r4) AS INT) AS stage
            FROM f GROUP BY user_id, session_id)
      SELECT stage, count(*) AS n_sessions FROM u
      GROUP BY stage ORDER BY stage""",
    // Gap-bounded funnel: identical window discipline, but each stage
    // carries t_i = first valid completion time in epoch MICROS (integer —
    // exact cross-engine; DuckDB epoch_us on the µs-truncated timestamp ==
    // Spark unix_micros) and stage i+1 requires us <= t_i + 3600e6.
    "q101_funnel_gap" -> """
      WITH e AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                        CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
                        epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      a AS (SELECT *, min(CASE WHEN event_type = 'signup' THEN us END)
              OVER (PARTITION BY user_id, day ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t1
            FROM e),
      b AS (SELECT *, min(CASE WHEN event_type = 'view'
                               AND us <= t1 + 3600000000 THEN us END)
              OVER (PARTITION BY user_id, day ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t2
            FROM a),
      c AS (SELECT *, min(CASE WHEN event_type = 'click'
                               AND us <= t2 + 3600000000 THEN us END)
              OVER (PARTITION BY user_id, day ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t3
            FROM b),
      f AS (SELECT *, min(CASE WHEN event_type = 'purchase'
                               AND us <= t3 + 3600000000 THEN us END)
              OVER (PARTITION BY user_id, day ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t4
            FROM c),
      u AS (SELECT user_id, day,
                   CAST((max(t1) IS NOT NULL)::INT + (max(t2) IS NOT NULL)::INT
                      + (max(t3) IS NOT NULL)::INT + (max(t4) IS NOT NULL)::INT
                      AS INT) AS stage
            FROM f GROUP BY user_id, day)
      SELECT stage, count(*) AS n_users FROM u
      GROUP BY stage ORDER BY stage""",
    // Retention replay: per-user min(day) window (the cohort), date_diff
    // offset, distinct (user, cohort, offset) collapse, group-count. Same
    // µs truncation of ts as q69 before the DATE cast; date_diff returns
    // BIGINT in DuckDB vs Spark datediff's INT, hence the CAST.
    "q103_retention" -> """
      WITH e AS (SELECT user_id,
                        CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
                 FROM events),
      c AS (SELECT user_id, day,
                   min(day) OVER (PARTITION BY user_id) AS cohort_date
            FROM e),
      u AS (SELECT DISTINCT user_id, cohort_date,
                   CAST(date_diff('day', cohort_date, day) AS INT) AS day_offset
            FROM c)
      SELECT cohort_date, day_offset, count(*) AS n_users
      FROM u GROUP BY cohort_date, day_offset
      ORDER BY cohort_date, day_offset""",
    // Funnel × retention: the q69 per-(user, day) stage frame, cohort via a
    // window over that frame, counts per (offset, stage) cell.
    "q104_cohort_funnel" -> """
      WITH e AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                        CAST(ts AS TIMESTAMP) AS ts, event_id,
                        event_type FROM events),
      a AS (SELECT *, max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id, day ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r1
            FROM e),
      b AS (SELECT *, max(CASE WHEN event_type = 'view' AND r1 = 1
                          THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id, day ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r2
            FROM a),
      c AS (SELECT *, max(CASE WHEN event_type = 'click' AND r2 = 1
                          THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id, day ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r3
            FROM b),
      f AS (SELECT *, max(CASE WHEN event_type = 'purchase' AND r3 = 1
                          THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id, day ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r4
            FROM c),
      u AS (SELECT user_id, day,
                   CAST(max(r1) + max(r2) + max(r3) + max(r4) AS INT) AS stage
            FROM f GROUP BY user_id, day),
      o AS (SELECT user_id, day, stage,
                   min(day) OVER (PARTITION BY user_id) AS cohort_date
            FROM u)
      SELECT CAST(date_diff('day', cohort_date, day) AS INT) AS day_offset,
             stage, count(*) AS n_user_days
      FROM o GROUP BY 1, 2
      ORDER BY day_offset, stage""",
    "q73_merge_upsert" -> """
      WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
                        event_id, value,
                        CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS src
                 FROM events),
      r AS (SELECT *, row_number()
              OVER (PARTITION BY user_id, event_type
                    ORDER BY ts DESC, event_id DESC, src DESC) AS rn
            FROM e)
      SELECT user_id, event_type, event_id AS last_event_id,
             round(value, 2) AS last_value, CAST(src AS INT) AS from_update
      FROM r WHERE rn = 1
      ORDER BY user_id, event_type""",
    "q76_table_diff" -> """
      WITH v1 AS (SELECT o_orderkey, o_totalprice FROM orders),
      v2 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000.0
                    ELSE o_totalprice END AS o_totalprice
        FROM v1 WHERE o_orderkey % 13 <> 0
        UNION ALL
        SELECT o_orderkey + 100000000, o_totalprice
        FROM v1 WHERE o_orderkey % 17 = 0),
      j AS (SELECT coalesce(v1.o_orderkey, v2.o_orderkey) AS k,
                   v1.o_totalprice AS pa, v2.o_totalprice AS pb,
                   v1.o_orderkey IS NULL AS only_b,
                   v2.o_orderkey IS NULL AS only_a
            FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey),
      c AS (SELECT CASE WHEN only_b THEN 'added'
                        WHEN only_a THEN 'removed'
                        WHEN pa IS DISTINCT FROM pb THEN 'changed'
                        ELSE 'unchanged' END AS change,
                   coalesce(pb, pa) AS price
            FROM j)
      SELECT change, count(*) AS n, round(sum(price), 2) AS price_mass
      FROM c GROUP BY change ORDER BY change""",
    // Replays histogramQuantiles: identical clamp-binning, cumulative walk,
    // rank r = p × total, and in-bin interpolation — all fixed-order double
    // arithmetic. VALUES literals are DECIMAL in DuckDB — CAST p to DOUBLE
    // so the rank/interpolation arithmetic is IEEE like Spark's.
    "q120_hist_quantiles" -> histOracleSql,
    "q222_hist_merge" -> histOracleSql,
    "q75_histogram" -> """
      SELECT CAST(least(greatest(floor(l_extendedprice / 5000.0), 0), 19)
                  AS INT) AS bin,
             count(*) AS n,
             round(sum(l_extendedprice), 2) AS sum_val,
             round(avg(l_extendedprice), 4) AS avg_val
      FROM lineitem
      GROUP BY 1
      ORDER BY bin""",
  )

  val oracles: Map[String, String] = oraclesBase ++ Map(
    // The sketch-mergeability family (q215/q222's argument, one per
    // remaining sketch): a split-built, merged sketch must equal the
    // whole-corpus sketch EXACTLY, so each reuses its batch oracle
    // verbatim — min-k of a union of min-k sets is the union's min-k
    // (q223), a bit-set union is the union's bit set (q224), and
    // cell-wise count addition is the union's cell counts (q225).
    "q223_kmv_merge" -> oraclesBase("q68_kmv_distinct"),
    "q224_bloom_merge" -> oraclesBase("q149_bloom_filter"),
    "q225_countmin_merge" -> oraclesBase("q125_countmin"),
    // Replays decayedFeatures under the same pre-rounded-DECIMAL-term
    // rule: exact integer micros, ONE double division, exp, round(,9),
    // DECIMAL sum — exact and order-independent on both engines.
    "q236_decayed_features" -> """
      WITH r AS (SELECT max(epoch_us(ts)) AS ref_us FROM events),
      t AS (SELECT user_id,
                   CAST(round(exp(-((r.ref_us - epoch_us(ts)) / 604800e6)), 9)
                     AS DECIMAL(16,9)) AS w,
                   CAST(round(coalesce(value, 0.0)
                     * exp(-((r.ref_us - epoch_us(ts)) / 604800e6)), 9)
                     AS DECIMAL(20,9)) AS wv
            FROM events, r)
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             round(CAST(sum(w) AS DOUBLE), 6) AS decayed_count,
             round(CAST(sum(wv) AS DOUBLE), 6) AS decayed_value
      FROM t GROUP BY user_id ORDER BY user_id""",
  )
}
