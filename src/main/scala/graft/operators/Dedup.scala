package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Deduplication operators (north-star extension, SURVEY §2.3): exact,
  * MinHash+LSH, SimHash, and exact n-gram Jaccard — each a *parameterized
  * library function* over any (id, text) DataFrame; the fixture-bound
  * `queries` wrappers feed the driver's correctness gate.
  *
  * Cross-engine-verifiable hashing: every hash bottoms out in md5 (available
  * and bit-identical in Spark and DuckDB), parsed to a 60-bit integer, so the
  * MinHash/SimHash pipelines have *exact* integer oracles — no
  * float-tolerance hand-waving in the correctness gate.
  *
  * Scale design (100 TB posture):
  *  - shingling/hashing is embarrassingly parallel map-side work (HOF
  *    expressions, no UDFs); hot per-char loops use native expressions;
  *  - MinHash signatures reduce each document to 32 longs regardless of
  *    document size, computed as 32 min-aggregate columns (no row
  *    expansion); LSH banding turns all-pairs O(n²) into an equality join on
  *    band signatures — only colliding candidates are compared (the SURVEY
  *    §7.5 "never a blind crossJoin" rule);
  *  - the exact-Jaccard form uses an inverted-index set-similarity join —
  *    linear in index postings — and exists as the oracle/recall baseline;
  *    at scale you run MinHash-LSH first.
  */
object Dedup {
  type Q = (SparkSession, String) => DataFrame

  private val P = 2147483647L // 2^31 - 1, prime modulus for permutation hashes
  private val NumPerms = 32
  private val BandSize = 4 // → 8 bands of 4 rows

  /** Deterministic permutation constants (i → (a, b)) — read from
    * [[graft.functions.MinHashSigImpl]], the single source of truth shared
    * by the native signature expression, the aggregate parity formulation,
    * and the DuckDB oracle VALUES list below. */
  private val perms: Seq[(Int, Long, Long)] =
    (0 until NumPerms).map { i =>
      (i, graft.functions.MinHashSigImpl.PermA(i),
        graft.functions.MinHashSigImpl.PermB(i))
    }

  /** 60-bit integer from the first 15 hex chars of md5 — the engine-neutral
    * base hash. Spark: conv(hex,16,10); DuckDB: nibble fold (same value). */
  private def h60(colSql: String) =
    s"cast(conv(substring(md5($colSql), 1, 15), 16, 10) as bigint)"

  private def toksExpr(textCol: String) =
    s"filter(split($textCol, ' '), t -> t != '')"

  /** Distinct token 3-gram shingles of `textCol` via the native codegen'd
    * [[graft.functions.TokenShingles]] expression (the HOF form interpreted
    * its lambda per shingle). Documents with fewer than 3 tokens yield no
    * shingles (empty array → explode drops them) — the same empty-set
    * behavior as DuckDB's `range(1, len-1)`. Byte-identical gram strings,
    * so the md5-based oracles replay unchanged (NgramExpressionSpec asserts
    * parity with the HOF form per fixture doc). */
  private def shingled(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(col(idCol),
      explode(expr(s"graft_token_shingles($textCol, 3)")).as("sh"))
  }

  // ------------------------------------------------------------ library API

  /** Exact dedup by `keyCol`: keeper assignment (group min of `idCol`) and
    * an is_dup audit flag. `dropDuplicates(keyCol)` is the destructive
    * one-liner; this form keeps the mapping.
    *
    * The shuffle key is `md5(keyCol)` — a 32-char digest — NOT the raw
    * value: at 100 TB `keyCol` is a document body, and partitioning the
    * window by it would shuffle every body byte. Grouping by the digest is
    * equivalent up to md5 collision (~2⁻¹²⁸, negligible against any corpus),
    * and the oracle replays the same digest grouping. */
  def exactDedup(df: DataFrame, idCol: String, keyCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(keyCol).cast("string")))
    df.withColumn("keeper_id", min(col(idCol)).over(w))
      .select(col(idCol), col("keeper_id"),
        (col(idCol) =!= col("keeper_id")).as("is_dup"))
  }

  /** Default band-signature document-frequency cap — shared with the q51/q55
    * oracle SQL (like [[MaxDf]] for the shingle index) so the gate checks the
    * capped semantics. */
  private[graft] val MaxBandDf = 1000

  /** MinHash + LSH near-dup candidate pairs with estimated Jaccard ≥
    * `minEst`. shingle → 60-bit hash → 32 permutation min-hashes (aggregate
    * columns, one HashAggregate) → 8 bands of 4 → band-signature equality
    * join → signature-overlap estimate.
    *
    * Skew guard (`maxBandDf`): a band signature shared by f documents emits
    * f² candidate rows — and crawl corpora are FULL of exact-duplicate /
    * boilerplate clusters whose members share all 8 band signatures, so one
    * hot cluster makes the band join quadratic. Band signatures with
    * document frequency > `maxBandDf` are dropped from candidate generation
    * (the same guard topology as [[ngramJaccard]]'s `maxDf`; the df count
    * rides a window over the partitioning the self-join needs anyway).
    * Members of a capped cluster are near-dups by construction — handle
    * them with [[exactDedup]] first, which is exactly what [[dedupNearDup]]
    * does, so the composed pipeline loses nothing. */
  def minHashLsh(df: DataFrame, idCol: String, textCol: String,
      minEst: Double = 0.35, maxBandDf: Int = MaxBandDf): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    // Signatures are a MAP-SIDE projection (native one-pass MinHashSig —
    // no shingle explode, no shuffle; the only exchange in the whole
    // operator is the banding join). localCheckpoint still materializes the
    // stage ONCE for the three branches that read it (banding explode plus
    // both sides of the estimate join), and the shingle-less-doc filter runs
    // over the materialized rows, so predicate pushdown cannot re-evaluate
    // the expression per branch.
    val sig = df
      .select(col(idCol), expr(s"graft_minhash_sig($textCol)").as("sg"))
      .localCheckpoint()
      .filter(size(col("sg")) === NumPerms)
    minHashPairsFromSig(sig, idCol, minEst, maxBandDf)
  }

  /** The LSH banding join + signature-overlap estimate of [[minHashLsh]]
    * over PRE-COMPUTED `(idCol, sg)` signatures (already filtered to
    * complete [[NumPerms]]-length signatures, already cheap to re-scan —
    * three branches read it: banding, and both sides of the estimate
    * join). Exists so [[dedupNearDup]] can reuse the signatures its
    * exact-collapse checkpoint materialized instead of paying a second
    * projection + checkpoint job. */
  private[graft] def minHashPairsFromSig(sig: DataFrame, idCol: String,
      minEst: Double, maxBandDf: Int): DataFrame = {
    val bandExpr = (0 until NumPerms / BandSize).map { bi =>
      val parts = (0 until BandSize).map(j => s"string(sg[${bi * BandSize + j}])")
      s"concat('$bi', '_', ${parts.mkString(", '_', ")})"
    }.mkString("array(", ", ", ")")
    // bsig embeds the band index, so partitioning by bsig alone is the same
    // key the self-join shuffles on — the df guard adds no extra exchange.
    val bands = sig.select(col(idCol), explode(expr(bandExpr)).as("bsig"))
      .withColumn("df_", count(lit(1)).over(Window.partitionBy(col("bsig"))))
      .filter(col("df_") <= maxBandDf)
      .drop("df_")
    val cand = bands.as("x").join(bands.as("y"),
        col("x.bsig") === col("y.bsig") && col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id1"), col(s"y.$idCol").as("id2")).distinct()
    cand
      .join(sig.select(col(idCol).as("id1"), col("sg").as("sg1")), "id1")
      .join(sig.select(col(idCol).as("id2"), col("sg").as("sg2")), "id2")
      .withColumn("est_jaccard", round(
        expr("size(filter(zip_with(sg1, sg2, (x, y) -> x = y), v -> v))").cast("double")
          / NumPerms, 4))
      .filter(col("est_jaccard") >= minEst)
      .select(col("id1"), col("id2"), col("est_jaccard"))
  }

  /** Persistable MinHash signature INDEX — the `(id, sg)` frame a corpus
    * owner materializes once (parquet/bucketed) and reuses across daily
    * batches. Signatures are the same map-side native projection
    * [[minHashLsh]] computes; documents too short to shingle are absent
    * (same filter). Feeding this into [[incrementalNearDup]] is what makes
    * daily dedup affordable at 100 TB: the corpus is never re-signed. */
  def minHashIndex(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(col(idCol), expr(s"graft_minhash_sig($textCol)").as("sg"))
      .filter(size(col("sg")) === NumPerms)
  }

  /** Incremental near-dup: screen a NEW document batch against a
    * PRECOMPUTED [[minHashIndex]] of the existing corpus AND against
    * itself, without re-signing the corpus — the daily-ingest shape of
    * near-dup dedup (sign the new batch map-side, union with the stored
    * index, one banding join). Ids must be disjoint between batch and
    * index (they are different documents by definition).
    *
    * Semantics are EXACTLY [[minHashLsh]] over (corpus ∪ batch) — same
    * banding, same combined hot-band cap, same estimate — restricted to
    * pairs touching the new batch (`match_src` = 'batch' when both sides
    * are new, 'corpus' when one side is an existing document). Index-
    * vs-index pairs are excluded: the standing corpus was already deduped
    * when it was indexed. That equivalence is what the oracle replays. */
  def incrementalNearDup(newDf: DataFrame, indexSig: DataFrame,
      idCol: String, textCol: String, minEst: Double = 0.35,
      maxBandDf: Int = MaxBandDf): DataFrame = {
    val newSig = minHashIndex(newDf, idCol, textCol)
    // One materialization of the union: three branches read it (banding
    // plus both sides of the estimate join) — minHashLsh's discipline.
    val sig = indexSig.select(col(idCol), col("sg"))
      .union(newSig.select(col(idCol), col("sg")))
      .localCheckpoint()
    val pairs = minHashPairsFromSig(sig, idCol, minEst, maxBandDf)
    val newIds = newDf.select(col(idCol)).distinct()
    val n1 = newIds.select(col(idCol).as("id1")).withColumn("new1", lit(1))
    val n2 = newIds.select(col(idCol).as("id2")).withColumn("new2", lit(1))
    pairs.join(n1, Seq("id1"), "left").join(n2, Seq("id2"), "left")
      .filter(col("new1").isNotNull || col("new2").isNotNull)
      .select(col("id1"), col("id2"), col("est_jaccard"),
        when(col("new1").isNotNull && col("new2").isNotNull, lit("batch"))
          .otherwise(lit("corpus")).as("match_src"))
  }

  /** SimHash-60 fingerprint per row: per-token 60-bit hash, per-bit ±1 vote
    * weighted by occurrence, sign → bit — computed by the native one-pass
    * [[graft.functions.SimHash60]] expression, so the whole fingerprint is a
    * MAP-SIDE projection: no token row-expansion, no shuffle, at any corpus
    * size. The filter reproduces the aggregate form's behavior of emitting
    * no row for token-less documents (text empty or all spaces).
    * [[simHashAgg]] is the shuffle-based formulation it replaced, kept for
    * the parity contract (PipelineOpsSpec asserts bit-identical output). */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.filter(expr(s"trim($textCol)") =!= "")
      .select(col(idCol), expr(s"graft_simhash60($textCol)").as("simhash"))
  }

  /** SimHash near-dup pairs by banded Hamming-distance join: the 60-bit
    * [[simHash]] fingerprint splits into 4 bands of 15 bits; by pigeonhole,
    * any pair within Hamming distance ≤ 3 agrees exactly on at least one
    * band, so band-equality self-join generates a candidate superset and the
    * exact `bit_count(xor)` filter keeps true near-dups. This is the
    * complement of [[minHashLsh]]: MinHash estimates *set* (shingle)
    * overlap, SimHash Hamming distance tracks weighted token-frequency
    * similarity — boilerplate with small edits lands within a few flipped
    * bits.
    *
    * Scale shape: signatures are one map-side projection (native
    * SimHash60); the only exchange is the 4-band equality join on a
    * (band, 15-bit) key — never all-pairs. The same `maxBandDf` hot-band
    * cap as [[minHashLsh]] applies (an f-sized identical-text cluster
    * agrees on every band ⇒ f² candidates; collapse exact dups first, as
    * [[dedupNearDup]] does). The Hamming filter runs inside the join's
    * codegen stage on two longs carried through the join — no second join
    * back to signatures. */
  def simHashNearDup(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBandDf: Int = MaxBandDf): DataFrame = {
    val sig = simHash(df, idCol, textCol).localCheckpoint()
    simHashPairsFromSig(sig, idCol, maxHamming, maxBandDf)
  }

  /** The banded-Hamming join of [[simHashNearDup]] over PRE-COMPUTED
    * `(idCol, simhash)` signatures. Callers that already hold materialized
    * signatures ([[simHashDedup]] reads them out of its exact-collapse
    * checkpoint) skip the signature projection AND its localCheckpoint job —
    * one fewer action on a pipeline whose sf0.1 cost is dominated by fixed
    * per-job overhead. `sig` must be cheap to re-scan (checkpointed blocks
    * or a filter over them): the band self-join reads it on both sides. */
  private[graft] def simHashPairsFromSig(sig: DataFrame, idCol: String,
      maxHamming: Int, maxBandDf: Int): DataFrame = {
    // 4 bands of 15 bits certify recall only up to 3 flips: 4+ flips can
    // touch all 4 bands and the pair never collides. Reject a config whose
    // answer would silently be a subset of what it claims.
    require(maxHamming >= 0 && maxHamming <= 3,
      s"simHashNearDup: 4x15-bit banding guarantees recall only for maxHamming <= 3, got $maxHamming")
    val bands = sig.select(col(idCol), col("simhash"),
        posexplode(expr(
          "transform(sequence(0, 3), j -> shiftright(simhash, j * 15) & 32767)"))
          .as(Seq("band", "bv")))
      .withColumn("df_",
        count(lit(1)).over(Window.partitionBy(col("band"), col("bv"))))
      .filter(col("df_") <= maxBandDf)
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id1"), col(s"y.$idCol").as("id2"),
        col("x.simhash").as("h1"), col("y.simhash").as("h2")).distinct()
      .withColumn("hamming", expr("cast(bit_count(h1 ^ h2) as int)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id1"), col("id2"), col("hamming"))
  }

  /** Pre-round-4 aggregate formulation of the MinHash signature stage
    * (shingle explode → shuffle on (doc, hash) → 32 min columns) — the
    * SQL-shaped reference model the native [[graft.functions.MinHashSig]]
    * expression is parity-tested against (PipelineOpsSpec). */
  private[graft] def minHashSigAgg(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val hashed = shingled(df, idCol, textCol)
      .select(col(idCol), (expr(h60("sh")) % P).as("hv"))
    val minCols = perms.map { case (pid, a, b) =>
      min((col("hv") * a + b) % P).as(s"m$pid")
    }
    val sigArr = (0 until NumPerms).map(i => s"m$i").mkString("array(", ", ", ")")
    hashed.groupBy(col(idCol))
      .agg(minCols.head, minCols.tail: _*)
      .select(col(idCol), expr(sigArr).as("sg"))
  }

  /** Pre-round-4 aggregate formulation of [[simHash]] (explode → shuffle on
    * (doc, token hash) → 60 aggregate columns) — the obviously-SQL-shaped
    * reference model the native expression is parity-tested against. */
  private[graft] def simHashAgg(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol), explode(expr(toksExpr(textCol))).as("t"))
      .select(col(idCol), expr(h60("t")).as("hv"))
    val votes = (0 until 60).map(j =>
      sum(expr(s"CASE WHEN (shiftright(hv, $j) & 1) = 1 THEN 1 ELSE -1 END"))
        .as(s"b$j"))
    val compose = (0 until 60)
      .map(j => s"CASE WHEN b$j > 0 THEN shiftleft(1L, $j) ELSE 0L END")
      .mkString(" + ")
    tok.groupBy(col(idCol))
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol), expr(compose).as("simhash"))
  }

  /** Exact n-gram (shingle) Jaccard ≥ `minJ`, via the scalable
    * inverted-index set-similarity join: explode shingles, self-join on the
    * shingle hash, count shared shingles per pair, J = |∩|/(|A|+|B|−|∩|).
    * Never materializes all-pairs (a pair with J > 0 must share a shingle)
    * and never touches quadratic array ops — linear in index postings.
    *
    * Shingle identity = xxhash64 of the native-built gram string (only the
    * 64-bit hash is shuffled, never the string); collisions are ~|V|²/2⁶⁵ —
    * negligible at any vocabulary, and identity-only use means the Jaccard
    * values are hash-choice-independent.
    *
    * Skew guard: a shingle occurring in f documents contributes f² join rows,
    * so one boilerplate shingle across a 100 TB corpus is a fatal hot key.
    * Shingles with document frequency > `maxDf` are excluded from the
    * similarity computation entirely (index AND set sizes — J stays
    * consistent over the retained sets). The df count rides a window over the
    * same hash-partitioning the self-join needs, so the guard adds no extra
    * shuffle of the postings.
    *
    * The index is materialized once via `localCheckpoint` (eager): both
    * self-join branches and the size aggregate read it — Spark would
    * otherwise recompute the interpreted-HOF shingling per branch — and
    * unlike `persist` the blocks are released by the ContextCleaner when the
    * plan is garbage-collected, so repeated calls in a long session don't
    * accumulate cache. (On a multi-executor cluster you'd use a reliable
    * `checkpoint` dir instead; local blocks die with an executor.) */
  /** Default document-frequency cap — shared with the q53/q54 oracle SQL so
    * the gate checks the *capped* semantics, not just fixture luck. */
  private[graft] val MaxDf = 1000

  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
      minJ: Double = 0.5, maxDf: Int = MaxDf): DataFrame = {
    val postings = shingled(df, idCol, textCol)
      .select(col(idCol), expr("xxhash64(sh)").as("s"))
    val inv = postings
      .withColumn("df_", count(lit(1)).over(Window.partitionBy(col("s"))))
      .filter(col("df_") <= maxDf)
      .drop("df_")
      .localCheckpoint()
    val sizes = inv.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    inv.as("x").join(inv.as("y"),
        col("x.s") === col("y.s") && col(s"x.$idCol") < col(s"y.$idCol"))
      .groupBy(col(s"x.$idCol").as("id1"), col(s"y.$idCol").as("id2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col(idCol).as("id1"), col("sz").as("sz1")), "id1")
      .join(sizes.select(col(idCol).as("id2"), col("sz").as("sz2")), "id2")
      .withColumn("jaccard", round(col("inter").cast("double")
        / (col("sz1") + col("sz2") - col("inter")), 4))
      .filter(col("jaccard") >= minJ)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** Exact-threshold set-similarity self-join via PIGEONHOLE SIGNATURE
    * partitioning (the PartEnum family, Arasu et al. VLDB'06) — every
    * pair of documents whose distinct-token sets have Jaccard ≥ jNum/jDen,
    * with NO df cap and NO approximation: the complement to
    * [[ngramJaccard]] (capped postings) and [[minHashLsh]] (probabilistic).
    *
    * Why not prefix filtering: All-Pairs/PPJoin keys candidates on single
    * tokens, and on a homogeneous corpus (tiny shared vocabulary — the
    * regime this operator is gated on) even the globally rarest token
    * carries thousands of prefix postings, so the candidate join goes
    * Σ df² ≈ n² (measured: one hot token = 3 816 postings → 14.6M join
    * rows from that key alone at sf0.1; 45M total, 73 s). Pigeonhole
    * partitioning keys candidates on WHOLE part-content digests instead:
    * J ≥ τ bounds the symmetric difference by
    * d ≤ (|A|+|B|)(1−τ)/(1+τ) ≤ k = ⌊2·maxSz·(jDen−jNum)/(jDen+jNum)⌋,
    * so hashing the token UNIVERSE into m = k+1 parts leaves at least one
    * part untouched by the difference — the two sets have IDENTICAL
    * content in that part (possibly both-empty), and the equality join on
    * (part, md5(sorted part content)) is a COMPLETE candidate set. A
    * digest only gets hot when many documents share identical part
    * content — near-duplicate families that belong in the output anyway.
    * (Degenerate corpora whose sets are far smaller than m leave most
    * parts empty and degrade toward all-pairs among the empty-part docs;
    * the both-empty signature cannot be dropped without losing
    * completeness.)
    *
    * k derives from the corpus MAX set size in exact integer arithmetic
    * (floats would round the bound the wrong way); the size-ratio filter
    * sz·jNum ≤ sz'·jDen (both directions) prunes at join time. Exact
    * Jaccard then verifies each candidate from the two full token arrays
    * map-side (array_intersect on the joined rows).
    *
    * Scale (100 TB posture): the signature shuffle carries m 8-byte
    * digests per document (token text never shuffles after the digest
    * build); comparison volume is Σ|signature-group|², and signature
    * groups are near-dup families, never vocabulary hot spots. One
    * candidate-keyed join + a per-pair O(|s|) intersect — no second
    * shuffle of the corpus.
    *
    * r21: the part signature is xxhash64 over the part's slice of the
    * SORTED 64-bit token hashes, not md5 over the concatenated token
    * text. Identical part content (as a token set) still implies an
    * identical signature — the only property the pigeonhole completeness
    * lemma uses — so no true pair is ever missed; a signature collision
    * only mints a false candidate that the exact verify kills, the SAME
    * tolerance class the htoks-based verify already carries. What it
    * buys: the checkpoint drops the token-text arrays entirely (the
    * verify path never needed them), the per-part digest skips one
    * string materialization + md5 per part, and the candidate join's
    * key narrows from a 32-char string to a long. */
  def setSimilarityJoin(df: DataFrame, idCol: String, textCol: String,
      jNum: Int = 9, jDen: Int = 10): DataFrame = {
    require(jNum >= 1 && jNum <= jDen,
      s"setSimilarityJoin: threshold must be in (0,1], got $jNum/$jDen")
    val sets = df.select(col(idCol).as("id"),
        expr(s"array_distinct(${toksExpr(textCol)})").as("dtoks"))
      .filter(size(col("dtoks")) > 0)
      // sz counts distinct token STRINGS (exactly as before — never the
      // hashed form, so a 64-bit collision cannot move the size bound).
      .withColumn("sz", size(col("dtoks")).cast("long"))
      // Token identity for both signature build and verify: 64-bit
      // hashes, sorted so every function of a part's content is
      // order-canonical (distinct-ness preserved up to 64-bit collision,
      // negligible at any real vocabulary).
      .withColumn("htoks", expr("array_sort(transform(dtoks, t -> xxhash64(t)))"))
      .select(col("id"), col("sz"), col("htoks"))
      .localCheckpoint()
    val maxRow = sets.agg(max(col("sz"))).head()
    // empty corpus: the bound is undefined and there is nothing to join
    if (maxRow.isNullAt(0))
      return sets.select(col("id").as("id1"), col("id").as("id2"),
        col("sz").as("inter"), lit(0.0).as("jaccard")).limit(0)
    val maxSz = maxRow.getLong(0)
    val m = (2L * maxSz * (jDen - jNum) / (jDen + jNum)).toInt + 1
    val sigs = sets
      .select(col("id"), col("sz"),
        explode(expr(
          s"""transform(sequence(0, ${m - 1}), part -> struct(part,
              xxhash64(filter(htoks, h -> pmod(h, $m) = part)) as sig))"""))
        .as("ps"))
      .select(col("id"), col("sz"), col("ps.part").as("part"), col("ps.sig").as("sig"))
    // Candidate dedup doubles as a MATCH-COUNT filter (r22, VERDICT r21
    // item 5 — the PartEnum count-filter analog of PPJoin's positional
    // filter): the former .distinct() becomes a groupBy carrying the
    // match count. Soundness: for a TRUE pair, J ≥ jNum/jDen bounds the
    // symmetric difference d = sz1+sz2−2·inter by
    // d·(jDen+jNum) ≤ (sz1+sz2)·(jDen−jNum) (cross-multiplied exact
    // integers); every part the difference does NOT touch has identical
    // content in both sets and therefore an equal signature, so the join
    // emits ≥ m − d match rows — i.e. (m − matches)·(jDen+jNum) ≤
    // (sz1+sz2)·(jDen−jNum) holds for every true pair (a signature
    // COLLISION can only inflate the match count, which weakens pruning,
    // never loses a pair). Candidates failing the bound are provably
    // below threshold and skip the exact verify — same completeness
    // class, strictly fewer verified pairs; the per-pair bound is also
    // TIGHTER than the corpus-wide k (it uses sz1+sz2, not 2·maxSz).
    val cands = sigs.as("x").join(sigs.as("y"),
        col("x.part") === col("y.part") && col("x.sig") === col("y.sig") &&
          col("x.id") < col("y.id") &&
          col("x.sz") * jNum <= col("y.sz") * jDen &&
          col("y.sz") * jNum <= col("x.sz") * jDen)
      .groupBy(col("x.id").as("id1"), col("y.id").as("id2"),
        col("x.sz").as("sz1"), col("y.sz").as("sz2"))
      .agg(count(lit(1)).as("_mp"))
      .filter((lit(m) - col("_mp")) * (jDen + jNum)
        <= (col("sz1") + col("sz2")) * (jDen - jNum))
      .select(col("id1"), col("id2"))
    cands
      .join(sets.select(col("id").as("id1"), col("htoks").as("s1"), col("sz").as("sz1")), "id1")
      .join(sets.select(col("id").as("id2"), col("htoks").as("s2"), col("sz").as("sz2")), "id2")
      .withColumn("inter", size(array_intersect(col("s1"), col("s2"))).cast("long"))
      // Threshold on the EXACT integer cross-multiplication (J ≥ jNum/jDen
      // ⇔ inter·jDen ≥ union·jNum): the pigeonhole completeness lemma
      // covers true J ≥ τ only — filtering on the 4-dp ROUNDED value would
      // admit pairs with true J ∈ [τ−5e-5, τ) that candidate generation is
      // allowed to miss. The rounded jaccard is output-only.
      .filter(col("inter") * jDen >=
        (col("sz1") + col("sz2") - col("inter")) * jNum)
      .withColumn("jaccard", round(col("inter").cast("double")
        / (col("sz1") + col("sz2") - col("inter")), 4))
      .select(col("id1"), col("id2"), col("inter"), col("jaccard"))
  }

  /** [[setSimilarityJoin]] with the production skew valve the uncapped
    * form is missing at 100 TB: a homogeneous shard (one giant
    * near-duplicate family) makes the TRUE answer ~K²/2 pairs — no plan
    * fixes an output that size. `maxFamilySize` caps each signature
    * family to its first N members (id order, deterministic), so emitted
    * pairs are ≤ N²/2 per family and candidate compute is bounded the
    * same way — the member-drop discipline [[minHashLsh]]'s `maxBandDf`
    * applies to hot bands, here with an explicit per-pair `capped` flag
    * (true ⇔ some generating family was truncated, i.e. the family's
    * pair list is knowingly incomplete) instead of a silent drop.
    *
    * Two deliberate differences from the uncapped form:
    *  - the token→part assignment uses the engine-neutral 60-bit md5
    *    ([[CrossHash]]) instead of xxhash64, so the DuckDB oracle can
    *    replay the FAMILIES (and therefore the cap and the flag) exactly
    *    — the cap's semantics sit under the hash gate, not just its
    *    arithmetic;
    *  - recall inside truncated families is intentionally partial: pairs
    *    among dropped members are gone (flagged via `capped` on the
    *    surviving pairs). That is the valve's contract — bound the
    *    answer, say where it was bounded.
    *
    * Per-token md5 is hoisted once into a parts array (`tp`); each of the
    * m family signatures then md5-hashes the zip-filtered token subset —
    * one digest per (doc, part), never m digests per token. */
  def setSimilarityJoinCapped(df: DataFrame, idCol: String, textCol: String,
      jNum: Int = 9, jDen: Int = 10, maxFamilySize: Int = 8): DataFrame = {
    require(jNum >= 1 && jNum <= jDen,
      s"setSimilarityJoinCapped: threshold must be in (0,1], got $jNum/$jDen")
    require(maxFamilySize >= 2,
      s"setSimilarityJoinCapped: maxFamilySize must be >= 2, got $maxFamilySize")
    val sets = df.select(col(idCol).as("id"),
        expr(s"array_sort(array_distinct(${toksExpr(textCol)}))").as("stoks"))
      .filter(size(col("stoks")) > 0)
      .withColumn("sz", size(col("stoks")).cast("long"))
      // verify-path payload: 64-bit token identities, not text (the
      // setSimilarityJoin shuffle-slimming; identical counts up to
      // negligible 64-bit collision)
      .withColumn("htoks", expr("array_sort(transform(stoks, t -> xxhash64(t)))"))
      .localCheckpoint()
    val maxRow = sets.agg(max(col("sz"))).head()
    if (maxRow.isNullAt(0))
      return sets.select(col("id").as("id1"), col("id").as("id2"),
        col("sz").as("inter"), lit(0.0).as("jaccard"),
        lit(false).as("capped")).limit(0)
    val maxSz = maxRow.getLong(0)
    val m = (2L * maxSz * (jDen - jNum) / (jDen + jNum)).toInt + 1
    val h60t = CrossHash.h60Expr("t")
    val sigs = sets
      .withColumn("tp", expr(s"transform(stoks, t -> pmod($h60t, $m))"))
      .select(col("id"), col("sz"),
        explode(expr(
          s"""transform(sequence(0, ${m - 1}), part -> struct(part,
              md5(concat_ws('\\u001f',
                zip_with(stoks, tp, (t, p) -> if(p = part, t, null)))) as sig))"""))
          .as("ps"))
      .select(col("id"), col("sz"), col("ps.part").as("part"),
        col("ps.sig").as("sig"))
    val fam = Window.partitionBy(col("part"), col("sig"))
    val kept = sigs
      .withColumn("rk", row_number().over(fam.orderBy(col("id"))))
      .withColumn("fsz", count(lit(1)).over(fam))
      .filter(col("rk") <= maxFamilySize)
      .withColumn("trunc", col("fsz") > maxFamilySize)
    val cands = kept.as("x").join(kept.as("y"),
        col("x.part") === col("y.part") && col("x.sig") === col("y.sig") &&
          col("x.id") < col("y.id") &&
          col("x.sz") * jNum <= col("y.sz") * jDen &&
          col("y.sz") * jNum <= col("x.sz") * jDen)
      .groupBy(col("x.id").as("id1"), col("y.id").as("id2"))
      .agg(max(col("x.trunc")).as("capped"))
    cands
      .join(sets.select(col("id").as("id1"), col("htoks").as("s1"),
        col("sz").as("sz1")), "id1")
      .join(sets.select(col("id").as("id2"), col("htoks").as("s2"),
        col("sz").as("sz2")), "id2")
      .withColumn("inter", size(array_intersect(col("s1"), col("s2"))).cast("long"))
      .filter(col("inter") * jDen >=
        (col("sz1") + col("sz2") - col("inter")) * jNum)
      .withColumn("jaccard", round(col("inter").cast("double")
        / (col("sz1") + col("sz2") - col("inter")), 4))
      .select(col("id1"), col("id2"), col("inter"), col("jaccard"),
        col("capped"))
  }

  /** Asymmetric containment (quote / subset) join: all ORDERED pairs
    * (x, y) with C(x→y) = |Sx ∩ Sy| / |Sx| ≥ cNum/cDen over distinct
    * 3-gram shingle sets. Containment is what symmetric Jaccard cannot
    * see: a paragraph quoted inside a much larger document has J ≈ 0 but
    * C ≈ 1 — the dedup signal for quote/inclusion detection (and the
    * asymmetric half of Broder's resemblance/containment pair, 1997).
    *
    * Prefix filtering adapts to the asymmetric threshold: only the
    * CONTAINED side is prefix-indexed (p = |Sx| − ⌈τ·|Sx|⌉ + 1 rarest
    * shingles, exact integer arithmetic), joined against the candidate
    * container's FULL posting list — by pigeonhole, y missing any
    * ⌈τ·|Sx|⌉-sized share of Sx still hits one of p prefix shingles, so
    * the candidate set is complete. Ordering the prefix by (df ASC,
    * digest) keeps hot shingles out of the small side of the join.
    *
    * Shuffles carry 8-byte digests, never gram text; verification is one
    * map-side array_intersect over the two digest arrays.
    *
    * r21: the digest is xxhash64(shingle) directly — previously md5
    * (32-char string) with a SECOND xxhash64 re-hash bolted on for the
    * verify arrays. The completeness lemma holds for ANY fixed p-subset
    * of a document's shingles, so the (df ASC, digest)-ordered prefix
    * changing under the new hash changes WHICH candidates are probed,
    * never whether a true pair is found; the verify's collision class
    * (64-bit, already accepted for the old `hh` arrays) is unchanged.
    * Every shuffle in the operator narrows 4× (postings, df counts,
    * collect_list, probe join), and one hash pass replaces two. */
  def containmentJoin(df: DataFrame, idCol: String, textCol: String,
      cNum: Int = 4, cDen: Int = 5): DataFrame = {
    require(cNum >= 1 && cNum <= cDen,
      s"containmentJoin: threshold must be in (0,1], got $cNum/$cDen")
    // checkpointed: df build, the ordered arrays, and the candidate probe
    // all read it — without this the shingle explode + hash runs three times
    val dig = shingled(df, idCol, textCol)
      .select(col(idCol).as("id"), expr("xxhash64(sh)").as("h"))
      .localCheckpoint()
    val dfreq = dig.groupBy(col("h")).agg(count(lit(1)).as("df_"))
    val ordered = dig.join(dfreq, "h")
      .groupBy(col("id"))
      .agg(expr("transform(array_sort(collect_list(struct(df_, h))), x -> x.h)")
        .as("hs"))
      .select(col("id"), col("hs"), size(col("hs")).cast("long").as("sz"))
      .withColumn("p",
        col("sz") - expr(s"(sz * $cNum + ${cDen - 1}) div $cDen") + 1L)
      .localCheckpoint()
    val pre = ordered
      .select(col("id"), explode(expr("slice(hs, 1, cast(p as int))")).as("h"))
    val cands = pre.as("x")
      .join(dig.select(col("id").as("yid"), col("h")), "h")
      .filter(col("id") =!= col("yid"))
      .select(col("id").as("id1"), col("yid").as("id2"))
      .distinct()
    cands
      .join(ordered.select(col("id").as("id1"), col("hs").as("s1"),
        col("sz").as("sz1")), "id1")
      .join(ordered.select(col("id").as("id2"), col("hs").as("s2")), "id2")
      .withColumn("inter", size(array_intersect(col("s1"), col("s2"))).cast("long"))
      // Exact integer threshold (C ≥ cNum/cDen ⇔ inter·cDen ≥ sz1·cNum) —
      // same rounding-vs-completeness reasoning as setSimilarityJoin: the
      // prefix lemma covers true C ≥ τ, so the filter must not admit
      // round-up pairs the index may miss. Rounded containment is
      // output-only.
      .filter(col("inter") * cDen >= col("sz1") * cNum)
      .withColumn("containment",
        round(col("inter").cast("double") / col("sz1"), 4))
      .select(col("id1"), col("id2"), col("inter"), col("containment"))
  }

  /** [[containmentJoin]] with the posting-list valve — the containment
    * side of the q193 discipline. The unbounded family here is a hot
    * shingle's POSTING LIST: a boilerplate 3-gram shared by K documents
    * makes every probing prefix hit K candidates, and a homogeneous
    * 100 TB shard sends K toward the shard size. `maxPostings` keeps the
    * first N container ids per shingle digest (id order, deterministic);
    * a surviving pair carries `capped` = true when ANY digest that
    * produced it was truncated — that posting's pair list is knowingly
    * incomplete. Document frequencies are computed on the FULL digest
    * table before the cap, so the (df ASC, digest) prefix ordering is
    * unchanged; true containments whose container sits past the cap in
    * every probed posting are the documented recall trade. */
  def containmentJoinCapped(df: DataFrame, idCol: String, textCol: String,
      cNum: Int = 4, cDen: Int = 5, maxPostings: Int = 8): DataFrame = {
    require(cNum >= 1 && cNum <= cDen,
      s"containmentJoinCapped: threshold must be in (0,1], got $cNum/$cDen")
    require(maxPostings >= 1,
      s"containmentJoinCapped: maxPostings must be >= 1, got $maxPostings")
    val dig = shingled(df, idCol, textCol)
      .select(col(idCol).as("id"), md5(col("sh")).as("h"))
      .localCheckpoint()
    val dfreq = dig.groupBy(col("h")).agg(count(lit(1)).as("df_"))
    val ordered = dig.join(dfreq, "h")
      .groupBy(col("id"))
      .agg(expr("transform(array_sort(collect_list(struct(df_, h))), x -> x.h)")
        .as("hs"))
      .select(col("id"), col("hs"), size(col("hs")).cast("long").as("sz"))
      .withColumn("p",
        col("sz") - expr(s"(sz * $cNum + ${cDen - 1}) div $cDen") + 1L)
      // verify-path payload: the digest arrays re-hashed to 64-bit longs —
      // the pair back-joins ship 8 bytes per shingle instead of a 32-char
      // digest (identity preserved up to negligible collision; the JOIN
      // key stays the md5 digest, which the oracle replays)
      .withColumn("hh", expr("transform(hs, x -> xxhash64(x))"))
      .localCheckpoint()
    val pre = ordered
      .select(col("id"), explode(expr("slice(hs, 1, cast(p as int))")).as("h"))
    val post = Window.partitionBy(col("h"))
    val kept = dig.select(col("id").as("yid"), col("h"))
      .withColumn("rk", row_number().over(post.orderBy(col("yid"))))
      .withColumn("psz", count(lit(1)).over(post))
      .filter(col("rk") <= maxPostings)
      .withColumn("trunc", col("psz") > maxPostings)
    val cands = pre.join(kept, "h")
      .filter(col("id") =!= col("yid"))
      .groupBy(col("id").as("id1"), col("yid").as("id2"))
      .agg(max(col("trunc")).as("capped"))
    cands
      .join(ordered.select(col("id").as("id1"), col("hh").as("s1"),
        col("sz").as("sz1")), "id1")
      .join(ordered.select(col("id").as("id2"), col("hh").as("s2")), "id2")
      .withColumn("inter", size(array_intersect(col("s1"), col("s2"))).cast("long"))
      .filter(col("inter") * cDen >= col("sz1") * cNum)
      .withColumn("containment",
        round(col("inter").cast("double") / col("sz1"), 4))
      .select(col("id1"), col("id2"), col("inter"), col("containment"),
        col("capped"))
  }

  /** Default per-block candidate cap for [[fuzzyJoin]] — shared with the
    * q115 oracle SQL so the gate checks the capped semantics. */
  private[graft] val MaxBlockDf = 50

  /** Blocked fuzzy (edit-distance) similarity join — the entity-resolution
    * primitive: pairs of rows whose `textCol` values are within `maxDist`
    * Levenshtein edits, found without an all-pairs comparison.
    *
    * Blocking (standard ER practice): candidates must share the first
    * `blockPrefix` characters. The self-join key is that bounded prefix —
    * an equality shuffle key, never the full value — so at 100 TB the
    * comparison volume is Σ|block|², not n². Recall is by construction
    * limited to same-block pairs (a pair differing inside the prefix is
    * never compared); that trade is the published blocking semantics, same
    * family as [[minHashLsh]]'s banding.
    *
    * Skew guard: a hot block (f rows → f² candidate pairs) is the fatal key
    * at scale, exactly like a hot LSH band. Blocks keep only their
    * `maxBlockDf` lowest-id rows (deterministic, WindowGroupLimit partial —
    * the cap prunes before the shuffle completes); the q115 oracle replays
    * the same cap, so the gate checks the capped semantics.
    *
    * Verification: a length pre-filter (|len₁−len₂| ≤ maxDist is necessary
    * for dist ≤ maxDist) prunes DP work, then the thresholded
    * `levenshtein(l, r, maxDist)` (codegen'd, early-exits past the bound —
    * returns −1 above it, the exact distance at or below, so the emitted
    * `dist` equals the oracle's full distance on every kept row). */
  def fuzzyJoin(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, blockPrefix: Int = 4,
      maxBlockDf: Int = MaxBlockDf): DataFrame = {
    val w = Window.partitionBy(col("blk")).orderBy(col(idCol))
    val capped = df
      .select(col(idCol), col(textCol),
        substring(col(textCol), 1, blockPrefix).as("blk"))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= maxBlockDf)
      .drop("_rk")
      .localCheckpoint()
    capped.as("x").join(capped.as("y"),
        col("x.blk") === col("y.blk") && col(s"x.$idCol") < col(s"y.$idCol") &&
          abs(length(col(s"x.$textCol")) - length(col(s"y.$textCol"))) <= maxDist)
      .withColumn("dist",
        expr(s"levenshtein(x.$textCol, y.$textCol, $maxDist)"))
      .filter(col("dist") >= 0)
      .select(col(s"x.$idCol").as("id1"), col(s"y.$idCol").as("id2"),
        col("dist"))
  }

  /** Sorted-neighborhood entity resolution (Hernández & Stolfo 1995) —
    * the OTHER classic blocking scheme: sort the corpus by a sorting key,
    * slide a window of `w` positions, compare only window pairs. Where
    * [[fuzzyJoin]]'s prefix blocking misses pairs differing inside the
    * prefix, SNM catches any pair the sort order puts near each other —
    * the two are complementary passes in production ER.
    *
    * The global sort index is [[Prefix.withGlobalIndex]] under the TOTAL
    * key (sk, id). Window pairs come from an EQUALITY join on the rank
    * block `rk div w` (a pair ≤ w−1 apart spans at most two adjacent
    * blocks, so x joins blocks {b, b+1}), then the
    * exact rank-distance filter and the thresholded codegen
    * `levenshtein(·, ·, maxDist)` (early-exits past the bound) — 2·w
    * candidates per row, O(n·w) total, never n².
    *
    * Output: (id1, id2, gap, dist) rank-ordered — id1 is the earlier
    * record in sort order. */
  def sortedNeighborhood(df: DataFrame, idCol: String, keyCol: String,
      w: Int = 5, maxDist: Int = 3): DataFrame = {
    require(w >= 2 && w <= 1000, s"sortedNeighborhood: w must be in [2, 1000], got $w")
    // id must survive the long cast (a string id nulls out silently): a
    // null id would break the total (sk, id) order the index needs
    val base = df.filter(col(keyCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(keyCol).cast("string").as("sk"))
      .filter(col("id").isNotNull)
    val indexed = Prefix.withGlobalIndex(base, Seq(col("sk"), col("id")), "_idx")
      .select(col("id"), col("sk"), (col("_idx") - 1).as("rk"))
      .withColumn("blk", expr(s"rk div $w"))
      .localCheckpoint()
    // The probe side explodes into ITS OWN block and the next one, so the
    // adjacent-block pairing is a single EQUI-join key. The tempting
    // `blk = blk2 OR blk + 1 = blk2` predicate is not extractable as a
    // hash-join key — Catalyst falls back to a nested-loop join and the
    // operator silently goes O(n²) (observed: a 15k-row input pinned a
    // core for minutes; the exploded form runs in seconds).
    val probe = indexed.select(col("id"), col("sk"), col("rk"),
      explode(array(col("blk"), col("blk") + 1)).as("jb"))
    val right = indexed.select(col("id").as("id2"), col("sk").as("sk2"),
      col("rk").as("rk2"), col("blk").as("jb"))
    probe.join(right, "jb")
      .filter(col("rk2") > col("rk") && col("rk2") - col("rk") < w)
      .withColumn("dist", expr(s"levenshtein(sk, sk2, $maxDist)"))
      .filter(col("dist") >= 0)
      .select(col("id").as("id1"), col("id2"),
        (col("rk2") - col("rk")).cast("int").as("gap"), col("dist"))
  }

  /** Fellegi–Sunter probabilistic record-linkage scoring (JASA 1969) over
    * blocked candidate pairs — the decision layer of the ER stack that
    * [[sortedNeighborhood]]/[[fuzzyJoin]] are the candidate layer of.
    *
    * Per comparison field i the match weight is log2(m/uᵢ) on agreement and
    * log2((1−m)/(1−uᵢ)) on disagreement, where the u-probability (chance
    * agreement of two RANDOM records) is estimated exactly from the field's
    * value distribution: uᵢ = Σ_v (n_v/n)². That sum is one bounded groupBy
    * + one scalar aggregate per field — the classic unsupervised u-estimate
    * (the m-probability is supplied; EM refinement needs labeled truth).
    * NULL field values never "agree" (SQL null semantics → disagreement
    * weight), matching the published treatment of missing values as
    * non-informative disagreement.
    *
    * Scale shape: candidates are O(n·w) from SNM blocking; u-stats are one
    * 1-row aggregate per field; scoring is two skinny hash joins keyed on
    * id (fields travel, never the blocking keys). Scores round to 6 dp
    * before output so both engines hash identically. */
  def linkageScore(df: DataFrame, idCol: String, keyCol: String,
      fields: Seq[String], m: Double = 0.95, w: Int = 5,
      maxDist: Int = 3): DataFrame = {
    require(fields.nonEmpty && m > 0 && m < 1,
      s"linkageScore: need fields and m in (0,1), got $fields, $m")
    val cand = sortedNeighborhood(df, idCol, keyCol, w, maxDist)
      .select("id1", "id2")
    val n = df.count().toDouble
    // uᵢ = Σ_v (n_v / n)² over the field's value histogram — one bounded
    // groupBy + scalar agg per field; ≤ |fields| driver scalars total.
    // Each count normalizes to a frequency BEFORE squaring: Σ n_v² as an
    // integer would overflow 64 bits past n ≈ 3·10⁹ rows.
    // u clamps into [1e-9, 1 - 1e-9]: a constant field (u = 1) would give
    // log2((1-m)/(1-u)) = +Inf and a DISAGREEMENT would maximally boost
    // the score; an all-null field (u = 0) is the mirror hazard on the
    // agreement weight. Clamped, both weights stay finite (a near-constant
    // field's agreement weight goes ~0 or negative — correctly
    // uninformative under the FS model).
    val u = fields.map { f =>
      val s = df.filter(col(f).isNotNull).groupBy(col(f)).count()
        .agg(sum(pow(col("count") / n, 2))).head()
      val raw = if (s.isNullAt(0)) 0.0 else s.getDouble(0)
      f -> math.min(math.max(raw, 1e-9), 1 - 1e-9)
    }.toMap
    val a = df.select(col(idCol).cast("long").as("id1") +:
      fields.map(f => col(f).as(s"a_$f")): _*)
    val b = df.select(col(idCol).cast("long").as("id2") +:
      fields.map(f => col(f).as(s"b_$f")): _*)
    val weighted = fields.map { f =>
      val uf = u(f)
      val agree = math.log(m / uf) / math.log(2.0)
      val disagree = math.log((1 - m) / (1 - uf)) / math.log(2.0)
      (when(col(s"a_$f") === col(s"b_$f"), lit(agree)).otherwise(lit(disagree)),
        when(col(s"a_$f") === col(s"b_$f"), 1).otherwise(0))
    }
    cand.join(a, "id1").join(b, "id2")
      .select(col("id1"), col("id2"),
        round(weighted.map(_._1).reduce(_ + _), 6).as("score"),
        weighted.map(_._2).reduce(_ + _).cast("int").as("n_agree"))
  }

  /** Dedup-pipeline quality audit: precision / recall / F1 of the MinHash-
    * LSH candidate pairs against the exact (capped) shingle-Jaccard truth —
    * the companion of the ANN recall audit for the dedup stack, and the
    * number a 100 TB pipeline owner needs before trusting the cheap
    * probabilistic pass. Both channels are deterministic, so the audit is
    * hash-exact and sits under the oracle gate.
    *
    * One row out: pair counts, true positives (a left-semi join on the
    * checkpointed truth pairs), and the three statistics as guarded scalar
    * divisions (empty channels → NULL, not a division error). */
  def dedupAudit(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val truth = ngramJaccard(docs, idCol, textCol)
      .select(col("id1"), col("id2")).localCheckpoint()
    val approx = minHashLsh(docs, idCol, textCol)
      .select(col("id1"), col("id2")).localCheckpoint()
    val nT = truth.agg(count(lit(1)).as("n_truth"))
    val nA = approx.agg(count(lit(1)).as("n_approx"))
    val tp = approx.join(truth, Seq("id1", "id2"), "left_semi")
      .agg(count(lit(1)).as("tp"))
    val p = col("tp").cast("double") / col("n_approx")
    val r = col("tp").cast("double") / col("n_truth")
    nT.crossJoin(nA).crossJoin(tp)
      .select(col("n_truth"), col("n_approx"), col("tp"),
        when(col("n_approx") > 0, round(p, 6)).as("precision"),
        when(col("n_truth") > 0, round(r, 6)).as("recall"),
        when(col("n_approx") > 0 && col("n_truth") > 0 && col("tp") > 0,
          round(lit(2.0) * p * r / (p + r), 6)).as("f1"))
  }

  /** Connected components over a pair/edge DataFrame by min-label
    * propagation: every node starts labeled with itself; each iteration
    * takes the min of its own and its neighbors' labels; fixpoint = the
    * component id (the component's min node id).
    *
    * This is the grouping step of real near-dup dedup at scale — candidate
    * pairs (from LSH or exact Jaccard) form a graph and each component keeps
    * one document. The driver-side convergence loop is the same iterative
    * multi-job shape as the reference's prefix-length loop (main.cpp:30-68,
    * SURVEY O12) — O(diameter) rounds, which for near-dup graphs (small
    * components) is 2–3.
    *
    * Loop cost per round = ONE materializing action through
    * [[Graph.RoundLoop]]: the label update keeps the previous label
    * alongside the new one, and convergence is a `where(new < prev).isEmpty`
    * probe over the already-materialized blocks — no second join, no
    * recompute. */
  def connectedComponents(edges: DataFrame, src: String, dst: String,
      maxIter: Int = 20, maxDriverEdges: Long = 1L << 20): DataFrame = {
    // Materialize the (possibly expensive — LSH, inverted-index join) edge
    // lineage ONCE before symmetrizing: a plain union would execute it per
    // branch. Null-endpoint edges are dropped up front so BOTH strategies
    // see the same graph: an equality join never matches null anyway (the
    // distributed path would emit a dangling (null,null) label row), and
    // the driver union-find's Comparable cast would NPE on it.
    val e0 = edges.select(col(src).as("a"), col(dst).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
      .localCheckpoint()
    // ONE action decides the strategy (the count doubles as the former
    // isEmpty probe, over already-materialized blocks).
    val nEdges = e0.count()
    // Short-circuit an edgeless graph: no components to label. Saves the
    // per-round actions when a dedup pass finds nothing.
    if (nEdges == 0) {
      // Build the empty result from the schema alone — a limit(0) over e0
      // would still reference the checkpoint blocks released below (today
      // OptimizeLimitZero rewrites it away, but that's an optimizer detail,
      // not a contract).
      val s = edges.sparkSession
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          e0.schema("a").dataType, nullable = true),
        org.apache.spark.sql.types.StructField("component",
          e0.schema("b").dataType, nullable = true)))
      unpersistBlocks(e0)
      return s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
    // Size-adaptive strategy (the AQE-broadcast analog for this operator):
    // candidate-pair graphs from banding/blocking are typically ORDERS OF
    // MAGNITUDE smaller than the corpus they came from, and the distributed
    // loop pays ~7 fixed driver actions (symmetrize/label checkpoints, a
    // probe per round) regardless of size. Below `maxDriverEdges` (default
    // 2^20 pairs ≈ 16 MB — bounded by the parameter, not the corpus),
    // collect the edge list and run union-find with path compression on
    // the driver: exact same output (component = min member id under the
    // column's ordering), one job instead of seven. Past the threshold the
    // distributed min-label + pointer-jumping path below is unchanged —
    // that is the 100 TB path; this is the small-graph fast path.
    if (nEdges <= maxDriverEdges) {
      val s = edges.sparkSession
      val dt = e0.schema("a").dataType
      val rows = e0.collect()
      val parent = new java.util.HashMap[Any, Any]()
      def find(x: Any): Any = {
        var root = x
        while ({ val p = parent.get(root); p != null && p != root })
          root = parent.get(root)
        var cur = x // second pass: path compression, iterative (no stack)
        while (cur != root) {
          val nxt = parent.get(cur); parent.put(cur, root); cur = nxt
        }
        root
      }
      // Strings must compare in UTF-8 BYTE order — the distributed min-label
      // path orders by Spark's UTF8String binary comparison, and Java
      // String.compareTo (UTF-16 code units) disagrees for supplementary
      // characters (e.g. U+10000 sorts below U+E000 in UTF-16 but above in
      // UTF-8). Both strategies must emit identical component labels.
      def lt(x: Any, y: Any): Boolean = (x, y) match {
        case (a: String, b: String) =>
          org.apache.spark.unsafe.types.UTF8String.fromString(a)
            .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0
        case _ => x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
      }
      rows.foreach { r =>
        val (x, y) = (r.get(0), r.get(1))
        if (!parent.containsKey(x)) parent.put(x, x)
        if (!parent.containsKey(y)) parent.put(y, y)
        val (rx, ry) = (find(x), find(y))
        if (rx != ry) {
          // Min id stays root, so fixpoint labels match the distributed
          // min-propagation exactly.
          if (lt(rx, ry)) parent.put(ry, rx) else parent.put(rx, ry)
        }
      }
      unpersistBlocks(e0)
      val out = parent.keySet().toArray.map(id =>
        org.apache.spark.sql.Row(id, find(id)))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", dt, nullable = true),
        org.apache.spark.sql.types.StructField("component", dt, nullable = true)))
      return s.createDataFrame(
        s.sparkContext.parallelize(out.toSeq, 1), schema)
    }
    val und = Graph.symmetrize(e0, _.distinct())
    // The label frames are node-sized and keep the shuffle plans: no
    // broadcast gate, no compaction.
    val loop = new Graph.RoundLoop(nEdges, small = false)
    val init = loop.keep(und.select(col("a").as("id")).distinct()
      .withColumn("lbl", col("id")))
    val last = loop.iterate(init, maxIter) { (cur, iter) =>
      // cur also carries the previous label (`prev`) from the last round.
      val labels = cur.select(col("id"), col("lbl"))
      val neighborMin = und.join(labels, und("b") === labels("id"))
        .groupBy(und("a").as("nid")).agg(min(col("lbl")).as("nlbl"))
      val hop = labels.join(neighborMin, labels("id") === neighborMin("nid"), "left")
        .select(col("id"), col("lbl").as("prev"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl1"))
      // Pointer-jumping (path halving): also adopt the label OF the current
      // label. Plain neighbor-min moves a component's minimum one hop per
      // round — a path of length D needs D rounds and silently returns
      // unconverged labels past maxIter. With the jump the frontier doubles
      // per round: O(log D) rounds, so maxIter=20 covers ~2^20-diameter
      // graphs instead of 20-hop ones. One extra equality join per round on
      // the same key partitioning.
      // Round 1 skips the jump: labels are still the identity map there, so
      // label-of-label ≡ label and the join would be a provable no-op — one
      // equality join (and its shuffle) saved per CC invocation.
      if (iter == 1) hop.select(col("id"), col("prev"), col("lbl1").as("lbl"))
      else hop.join(
          labels.select(col("id").as("jid"), col("lbl").as("jlbl")),
          hop("lbl1") === col("jid"), "left")
        .select(col("id"), col("prev"),
          least(col("lbl1"), coalesce(col("jlbl"), col("lbl1"))).as("lbl"))
    }(_.where(col("lbl") < col("prev")).isEmpty)
    loop.release(und)
    last.select(col("id"), col("lbl").as("component"))
  }

  /** Deterministically release a localCheckpoint'ed DataFrame's cached
    * blocks: the checkpointed RDD sits behind the plan's LogicalRDD leaf.
    * (Dataset.unpersist only covers CacheManager entries, and relying on the
    * ContextCleaner means blocks survive until a driver GC.) No-op for
    * non-checkpoint plans.
    *
    * ONLY call this once nothing will read the plan again: checkpoint
    * lineage is truncated, so released blocks cannot be recomputed — a
    * subsequent read fails rather than recovers. (Same reason the cluster
    * path should use a reliable `checkpoint` dir: local blocks also die
    * with their executor.) */
  private[graft] def unpersistBlocks(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** The end-to-end near-dup dedup pipeline, composed: exact-dedup collapse
    * → MinHash-LSH candidate pairs over distinct texts → connected
    * components → keeper per document (component minimum; documents with no
    * near-dup keep themselves). This is the operator a training-data
    * pipeline actually runs: one pass of map-side hashing, one banding join,
    * O(diameter) label rounds — no quadratic stage anywhere.
    *
    * Exact duplicates collapse to one representative (the copy-group's min
    * id) BEFORE the band join: identical texts share every band signature,
    * so a cluster of f copies would emit f² candidate rows per band — the
    * hot-key blowup `maxBandDf` guards against. For any duplicated text
    * long enough to shingle, the collapse is output-preserving vs the
    * uncollapsed formulation: a copy has the identical signature as its
    * representative, so every component the copy would have joined, the
    * representative joins, and component minima are unchanged (each
    * representative is already its group's minimum). For duplicated texts
    * with FEWER than [[graft.functions.MinHashSigImpl.ShingleN]] tokens
    * (empty signature —
    * the uncollapsed form would leave each copy to itself) and for NULL
    * texts (one shared md5-NULL group), the collapsed form is deliberately
    * STRONGER: exact duplicates always fold, signature or not. The q55
    * oracle replays the collapse, so the gate is exact for all corpora. */
  def dedupNearDup(df: DataFrame, idCol: String, textCol: String,
      minEst: Double = 0.35): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    // One projection computes the exact-dup digest AND the MinHash
    // signature (both map-side native expressions), so the collapse window
    // shuffle carries (id, sg, _rep) — no text bodies — and the LSH leg
    // reads representatives' signatures out of this same checkpoint
    // instead of re-projecting text through a second checkpoint job
    // (mirrors [[simHashDedup]]'s r9 shape).
    val withRep = df
      .select(col(idCol), expr(s"graft_minhash_sig($textCol)").as("sg"),
        min(col(idCol)).over(Window.partitionBy(md5(col(textCol)))).as("_rep"))
      .localCheckpoint() // read by the LSH leg and the final mapping
    // Shingle-less docs (sg shorter than NumPerms) stay out of banding —
    // same filter minHashLsh applies — but still folded by the collapse.
    val sig = withRep
      .filter(col(idCol) === col("_rep") && size(col("sg")) === NumPerms)
      .select(col(idCol), col("sg"))
    val pairs = minHashPairsFromSig(sig, idCol, minEst, MaxBandDf)
    val comp = connectedComponents(pairs, "id1", "id2")
    // withRep's blocks are still read by the returned (lazy) plan — they are
    // released by the ContextCleaner when the plan is GC'd, never eagerly.
    withRep
      .join(comp, withRep("_rep") === comp("id"), "left")
      .select(col(idCol),
        coalesce(col("component"), col("_rep")).as("keeper_id"))
  }

  /** SimHash end-to-end dedup keeper mapping — [[dedupNearDup]]'s pipeline
    * shape with the [[simHashNearDup]] banded Hamming join as the near-dup
    * leg. This is the composed answer to the `maxBandDf` cap's dropped-pair
    * semantics: a cluster of f EXACT duplicates shares all 4 band values, so
    * at f > maxBandDf the raw pair operator silently drops that cluster's
    * pairs (contract pinned by DedupSpec on a duplicated corpus); here exact
    * duplicates collapse to one representative FIRST (keeper = md5-group
    * min), so identical-text floods fold regardless of the cap and the band
    * join only ever sees distinct texts. After the collapse the cap costs
    * recall only for floods of near-identical-but-distinct texts — the
    * honest residual every banded scheme shares, and the regime where
    * dropping the hot band is the difference between a join and a quadratic
    * blowup at 100 TB. */
  def simHashDedup(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    // ONE projection computes BOTH the exact-dup digest and the simhash
    // fingerprint (each a map-side native expression over the text), so the
    // exact-collapse window shuffle carries (id, md5, simhash, nonblank) —
    // tens of bytes per row — and never the text bodies, and the banding leg
    // reads the representative's signature straight out of this checkpoint
    // instead of re-projecting text and paying its own checkpoint job (the
    // pre-r9 shape: bodies through the shuffle, then a second signature
    // stage). Same two reads (banding leg + final mapping), one fewer
    // action, far thinner exchange.
    val withRep = df
      .select(col(idCol),
        expr(s"graft_simhash60($textCol)").as("simhash"),
        coalesce(expr(s"trim($textCol)") =!= "", lit(false)).as("_nonblank"),
        min(col(idCol)).over(Window.partitionBy(md5(col(textCol)))).as("_rep"))
      .localCheckpoint()
    // Blank/NULL texts carry no signature in simHashNearDup (its trim
    // filter) — reproduce that by flag, AFTER the collapse, so identical
    // blanks still fold to one representative.
    val reps = withRep
      .filter(col(idCol) === col("_rep") && col("_nonblank"))
      .select(col(idCol), col("simhash"))
    val pairs = simHashPairsFromSig(reps, idCol, maxHamming, MaxBandDf)
      .select(col("id1"), col("id2"))
    val comp = connectedComponents(pairs, "id1", "id2")
    withRep
      .join(comp, withRep("_rep") === comp("id"), "left")
      .select(col(idCol),
        coalesce(col("component"), col("_rep")).as("keeper_id"))
  }

  /** Cross-group corpus overlap — the dataset-audit pass that answers "how
    * much of source A is also in source B?" before mixing corpora (near-dup
    * sources inflate effective epochs; disjoint sources diversify). Per
    * group: a MinHash sketch of the group's token-shingle-set UNION, built
    * as the elementwise MIN of per-document signatures — valid because
    * min over a union is the min of per-set minima, which also makes the
    * sketch state mergeable across batches/partitions (the [[minHashLsh]]
    * algebra lifted from documents to corpora). Output per group pair:
    * `est_jaccard` (matching sketch positions / NumPerms) next to the
    * exact `jaccard` (the audit column certifying the estimate).
    *
    * Scale shape: signatures are the same map-side native projection as
    * [[minHashLsh]] — no shingle row-expansion; the sketch aggregate
    * shuffles `|groups| × NumPerms` longs TOTAL, and the sketch self-join
    * touches only that. The exact leg is the one corpus-sized stage —
    * distinct (group, md5(shingle)) digests (bodies never shuffle) and an
    * equality join on digest, linear in postings like [[ngramJaccard]]'s
    * index; at 100 TB you keep the sketch leg and sample or drop the exact
    * audit. Groups where no document reaches 3 tokens have no shingle set
    * and are absent. */
  def corpusOverlap(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val sketch = df
      .select(col(groupCol), expr(s"graft_minhash_sig($textCol)").as("sg"))
      .filter(size(col("sg")) === NumPerms)
      .select(col(groupCol), posexplode(col("sg")).as(Seq("pid", "m")))
      .groupBy(col(groupCol), col("pid")).agg(min(col("m")).as("m"))
    val est = sketch.as("x").join(sketch.as("y"),
        col("x.pid") === col("y.pid") && col(s"x.$groupCol") < col(s"y.$groupCol"))
      .groupBy(col(s"x.$groupCol").as("src1"), col(s"y.$groupCol").as("src2"))
      .agg(round(sum(when(col("x.m") === col("y.m"), 1L).otherwise(0L))
        .cast("double") / NumPerms, 4).as("est_jaccard"))
    val digs = shingled(df, groupCol, textCol)
      .select(col(groupCol), md5(col("sh")).as("dig")).distinct()
    val sizes = digs.groupBy(col(groupCol)).agg(count(lit(1)).as("n"))
    val inter = digs.as("a").join(digs.as("b"),
        col("a.dig") === col("b.dig") && col(s"a.$groupCol") < col(s"b.$groupCol"))
      .groupBy(col(s"a.$groupCol").as("src1"), col(s"b.$groupCol").as("src2"))
      .agg(count(lit(1)).as("inter"))
    est
      .join(inter, Seq("src1", "src2"), "left")
      .join(sizes.select(col(groupCol).as("src1"), col("n").as("n1")), Seq("src1"))
      .join(sizes.select(col(groupCol).as("src2"), col("n").as("n2")), Seq("src2"))
      .select(col("src1"), col("src2"), col("est_jaccard"),
        round(coalesce(col("inter"), lit(0L)).cast("double")
          / (col("n1") + col("n2") - coalesce(col("inter"), lit(0L))), 4).as("jaccard"))
  }

  // ------------------------------------------------- fixture-bound queries

  /** Canonical selection over near-dup clusters — the decision the dedup
    * PIPELINE actually ships: not "which docs are duplicates" (q54) but
    * "which member of each cluster survives". The representative is the
    * best-quality member (here: token count — longest version wins, the
    * usual crawl heuristic — tie-broken by id for determinism); every doc
    * maps to its cluster's rep, singletons map to themselves, and `kept`
    * marks the survivors. Output is the drop/keep manifest a curation run
    * hands to its writer.
    *
    * Shape: the q54 component labels + one token-count projection, then
    * a single per-component window (clusters are small by construction —
    * the maxDf cap bounds candidate fan-in) — no new wide exchange beyond
    * what the component pass already did. */
  def canonicalPick(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val comps = ngramComponents(df, idCol, textCol)
      .select(col("id"), col("component"))
    val toks = df.select(col(idCol),
      expr(s"cast(size(filter(split($textCol, ' '), t -> t != '')) as bigint)")
        .as("n_tok"))
    val member = toks.join(comps, toks(idCol) === comps("id"), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
      .drop("id")
    val w = Window.partitionBy(col("component"))
      .orderBy(col("n_tok").desc, col(idCol))
    member
      .withColumn("rep_id", first(col(idCol)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col(idCol), col("component"), col("n_tok"), col("rep_id"),
        (col(idCol) === col("rep_id")).as("kept"))
  }

  /** [[connectedComponents]] over [[ngramJaccard]] pairs (q54, q214).
    * CC materializes its own copy of the pairs and its result never reads
    * them, so the result's release cannot reach the pairs' index
    * checkpoint: release it here, once CC has returned. */
  private def ngramComponents(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val pairs = ngramJaccard(df, idCol, textCol)
    val comps = connectedComponents(pairs, "id1", "id2")
    unpersistBlocks(pairs)
    comps
  }

  // --------------------------------------- cross-split near-dup leakage --

  /** Cross-split near-duplicate leakage audit (round 19) — the MODERN
    * contamination check next to q66's exact n-gram containment: a
    * train/valid split is only honest if no near-duplicate PAIR
    * straddles it (a paraphrase of a training document sitting in valid
    * inflates every eval), and exact-match contamination scans miss
    * exactly the near-dup class. Composition is the point: the pairs
    * are [[minHashLsh]]'s (the certified banded machinery, its cap
    * valve included), the split is [[TextAnalysis.hashSplit]]'s md5
    * bucket contract (q48 — reproducible anywhere, adding data never
    * moves a document), and the audit is the straddle filter. Output:
    * one row per leaking pair with both split labels, ready to quarantine
    * or re-assign.
    *
    * Shape: adds two id-keyed joins of the (bounded) pair frame against
    * the map-side split projection, and the straddle filter — nothing
    * beyond minHashLsh's own exchange budget. */
  def crossSplitLeakage(df: DataFrame, idCol: String, textCol: String,
      validPct: Int = 10, minEst: Double = 0.35): DataFrame = {
    val pairs = minHashLsh(df, idCol, textCol, minEst)
    val sp = TextAnalysis.hashSplit(df.select(col(idCol)), idCol, validPct)
      .select(col(idCol), col("split"))
    pairs
      .join(sp.select(col(idCol).as("id1"), col("split").as("split1")),
        "id1")
      .join(sp.select(col(idCol).as("id2"), col("split").as("split2")),
        "id2")
      .filter(col("split1") =!= col("split2"))
      .select(col("id1"), col("id2"), col("est_jaccard"), col("split1"),
        col("split2"))
  }

  val queries: Map[String, Q] = Map(
    "q277_split_leakage" -> ((s, d) =>
      crossSplitLeakage(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("id1"), col("id2"))),
    "q214_canonical_pick" -> ((s, d) =>
      canonicalPick(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),
    "q50_exact_dedup" -> ((s, d) =>
      exactDedup(Tables.documents(s, d), "doc_id", "text").orderBy(col("doc_id"))),
    "q51_minhash_lsh" -> ((s, d) =>
      minHashLsh(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("id1"), col("id2"))),
    "q52_simhash" -> ((s, d) =>
      simHash(Tables.documents(s, d), "doc_id", "text").orderBy(col("doc_id"))),
    "q53_ngram_jaccard" -> ((s, d) =>
      ngramJaccard(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("id1"), col("id2"))),
    "q54_neardup_components" -> ((s, d) =>
      ngramComponents(Tables.documents(s, d), "doc_id", "text")
        .select(col("id").as("doc_id"), col("component"))
        .orderBy(col("doc_id"))),
    "q55_dedup_pipeline" -> ((s, d) =>
      dedupNearDup(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),
    "q105_simhash_neardup" -> ((s, d) =>
      simHashNearDup(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("id1"), col("id2"))),
    "q108_simhash_dedup" -> ((s, d) =>
      simHashDedup(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),
    // part.p_name is the adversarial blocking fixture: 64 distinct names
    // over the whole table, so every block is hot and the MaxBlockDf cap
    // (not fixture luck) governs the result.
    "q115_fuzzy_join" -> ((s, d) =>
      fuzzyJoin(Tables.part(s, d), "p_partkey", "p_name")
        .orderBy(col("id1"), col("id2"))),
    // lang (5 groups) exercises real overlap spread; the tiny fixture vocab
    // makes shingle sets genuinely intersect across languages.
    "q124_corpus_overlap" -> ((s, d) =>
      corpusOverlap(Tables.documents(s, d), "lang", "text")
        .orderBy(col("src1"), col("src2"))),
    // 20% of the corpus (doc_id % 5 = 0) arrives as the "daily batch";
    // the rest is the standing corpus whose signature index is reused.
    "q153_incremental_neardup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val index = minHashIndex(
        docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text")
      incrementalNearDup(docs.filter(col("doc_id") % 5 === 0), index,
        "doc_id", "text")
        .orderBy(col("id1"), col("id2"))
    }),
    // The fixture's ~200-token vocabulary is the regime that broke prefix
    // filtering (every token corpus-hot -> Σdf² ≈ n²) and motivated the
    // pigeonhole signature scheme; the gate runs in exactly that regime.
    "q159_setsim_join" -> ((s, d) =>
      setSimilarityJoin(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("id1"), col("id2"))),
    // the capped valve on the same corpus: the fixture's near-dup
    // families put > 8 members on shared signatures, so the gate
    // exercises BOTH arms — truncated families (capped=true pairs) and
    // untouched ones (119 flagged / 42 clean at sf0.01).
    "q193_setsim_capped" -> ((s, d) =>
      setSimilarityJoinCapped(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("id1"), col("id2"))),
    // the posting-list valve on the containment index; maxPostings = 2
    // because the fixture has no exact-dup clusters and its true
    // containment pairs ride df 2-4 postings — at the default 8 nothing
    // truncates and the gate would only see the clean arm; at 2 the
    // df>=3 postings (2175 shingles) truncate and both arms gate.
    "q194_containment_capped" -> ((s, d) =>
      containmentJoinCapped(Tables.documents(s, d), "doc_id", "text",
        maxPostings = 2)
        .orderBy(col("id1"), col("id2"))),
    // customer names (Customer#000000042) are the classic SNM fixture: the
    // sort packs edit-distance-1..3 variants into adjacent ranks, so every
    // window position carries real comparisons.
    "q163_sorted_neighborhood" -> ((s, d) =>
      sortedNeighborhood(Tables.customer(s, d), "c_custkey", "c_name")
        .orderBy(col("id1"), col("id2"))),
    // nationkey (25 values), mktsegment (5) and a coarse balance bucket give
    // three fields with genuinely different u-probabilities, so agreement
    // patterns spread scores instead of collapsing to one weight.
    "q164_linkage_score" -> ((s, d) =>
      linkageScore(
        Tables.customer(s, d)
          .withColumn("bal_bucket", floor(col("c_acctbal") / 1000).cast("int")),
        "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment", "bal_bucket"))
        .orderBy(col("id1"), col("id2"))),
    // the exact-dup clusters give C = 1.0 both directions; τ = 0.8 also
    // admits genuine partial containments without flooding the fixture.
    "q167_containment" -> ((s, d) =>
      containmentJoin(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("id1"), col("id2"))),
    "q187_dedup_audit" -> ((s, d) =>
      dedupAudit(Tables.documents(s, d), "doc_id", "text")),
  )

  // ---------------------------------------------------------------- oracles

  /** DuckDB rendering of the 60-bit md5 base hash (same value as h60). */
  private def duckH60(colSql: String) =
    s"""list_reduce(list_concat([CAST(0 AS BIGINT)],
          list_transform(range(1, 16),
            i -> CAST(strpos('0123456789abcdef', substr(md5($colSql), CAST(i AS INT), 1)) - 1 AS BIGINT))),
          (acc, c) -> acc * 16 + c)"""

  private val permsValues =
    perms.map { case (pid, a, b) => s"($pid, $a, $b)" }.mkString(", ")

  private def duckShingles(src: String = "documents") = s"""
      toks AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
               FROM $src),
      sh AS (SELECT DISTINCT doc_id,
                    unnest(list_distinct(list_transform(range(1, len(tk) - 1),
                      i -> tk[i] || '_' || tk[i+1] || '_' || tk[i+2]))) AS s
             FROM toks)"""

  /** Per-doc shingle sets with the df > MaxDf skew cap replayed — the same
    * retained-set semantics as [[ngramJaccard]]'s inverted-index guard, so
    * the q53/q54 gate would catch a divergence on any corpus, not only on
    * fixtures that happen to stay under the cap. */
  private val duckCappedSets = s"""
      toks AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
               FROM documents),
      shx AS (SELECT doc_id,
                     unnest(list_distinct(list_transform(range(1, len(tk) - 1),
                       i -> tk[i] || '_' || tk[i+1] || '_' || tk[i+2]))) AS s
              FROM toks),
      kept AS (SELECT s FROM shx GROUP BY s HAVING count(*) <= $MaxDf),
      sets AS (SELECT shx.doc_id, list(shx.s) AS sh
               FROM shx JOIN kept ON shx.s = kept.s GROUP BY shx.doc_id)"""

  /** The SimHash CTE chain shared by the q105 and q108 oracles: q52's vote
    * build, 4×15-bit banding with the maxBandDf cap, candidate pairs with
    * both fingerprints carried. `src` is the corpus relation (q108 feeds the
    * exact-collapse representatives in). */
  private def duckSimhashCtes(src: String = "documents") = s"""
      tok AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS t
        FROM $src),
      th AS (SELECT doc_id, ${duckH60("t")} AS hv FROM tok),
      votes AS (
        SELECT doc_id, j,
               sum(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
        FROM th CROSS JOIN (SELECT unnest(range(0, 60)) AS j)
        GROUP BY doc_id, j),
      shh AS (SELECT doc_id,
                    CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END) AS BIGINT) AS simhash
             FROM votes GROUP BY doc_id),
      bands0 AS (SELECT doc_id, simhash, CAST(j AS INT) AS band,
                        (simhash >> (CAST(j AS INT) * 15)) & 32767 AS bv
                 FROM shh CROSS JOIN (SELECT unnest(range(0, 4)) AS j)),
      keptb AS (SELECT band, bv FROM bands0
                GROUP BY band, bv HAVING count(*) <= $MaxBandDf),
      bands AS (SELECT bands0.* FROM bands0
                JOIN keptb ON bands0.band = keptb.band AND bands0.bv = keptb.bv),
      cand AS (SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2,
                      x.simhash AS h1, y.simhash AS h2
               FROM bands x JOIN bands y
                 ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id)"""

  /** The MinHash CTE chain shared by the q51 and q55 oracles; `src` is the
    * corpus relation (q55 feeds the exact-collapse representatives in). */
  private def duckMinhashCtes(src: String = "documents") = s"""${duckShingles(src)},
      h AS (SELECT doc_id, (${duckH60("s")}) % $P AS hv FROM sh),
      perms(pid, a, b) AS (VALUES $permsValues),
      mh AS (SELECT doc_id, pid, min((a * hv + b) % $P) AS m
             FROM h CROSS JOIN perms GROUP BY doc_id, pid),
      sig AS (SELECT doc_id, list(m ORDER BY pid) AS sg FROM mh GROUP BY doc_id),
      bands0 AS (SELECT doc_id, pid // $BandSize AS band,
                        array_to_string(list(m ORDER BY pid), '_') AS bsig
                 FROM mh GROUP BY doc_id, pid // $BandSize),
      keptb AS (SELECT band, bsig FROM bands0
                GROUP BY band, bsig HAVING count(*) <= $MaxBandDf),
      bands AS (SELECT bands0.* FROM bands0
                JOIN keptb ON bands0.band = keptb.band AND bands0.bsig = keptb.bsig),
      cand AS (SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
               FROM bands x JOIN bands y
                 ON x.band = y.band AND x.bsig = y.bsig AND x.doc_id < y.doc_id),
      est AS (SELECT id1, id2,
                     round(CAST(len(list_filter(list_zip(s1.sg, s2.sg), p -> p[1] = p[2])) AS DOUBLE)
                           / $NumPerms, 4) AS est_jaccard
              FROM cand
              JOIN sig s1 ON s1.doc_id = id1
              JOIN sig s2 ON s2.doc_id = id2)"""

  /** q187: both channels' CTE chains in one statement (minhash defines
    * `toks`; the capped-truth chain reuses it, so its own copy is cut). */
  private def dedupAuditSql: String = {
    val cappedNoToks = duckCappedSets.substring(duckCappedSets.indexOf("shx AS"))
    s"""
      WITH ${duckMinhashCtes()},
      $cappedNoToks,
      tr AS (SELECT x.doc_id AS id1, y.doc_id AS id2
             FROM sets x JOIN sets y ON x.doc_id < y.doc_id
             WHERE round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                   / len(list_distinct(list_concat(x.sh, y.sh))), 4) >= 0.5),
      ap AS (SELECT id1, id2 FROM est WHERE est_jaccard >= 0.35),
      ct AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM tr),
      ca AS (SELECT CAST(count(*) AS BIGINT) AS n_approx FROM ap),
      tpc AS (SELECT CAST(count(*) AS BIGINT) AS tp
              FROM ap JOIN tr USING (id1, id2))
      SELECT n_truth, n_approx, tp,
             CASE WHEN n_approx > 0
                  THEN round(CAST(tp AS DOUBLE) / n_approx, 6) END AS precision,
             CASE WHEN n_truth > 0
                  THEN round(CAST(tp AS DOUBLE) / n_truth, 6) END AS recall,
             CASE WHEN n_approx > 0 AND n_truth > 0 AND tp > 0
                  THEN round(2.0 * (CAST(tp AS DOUBLE) / n_approx)
                             * (CAST(tp AS DOUBLE) / n_truth)
                             / (CAST(tp AS DOUBLE) / n_approx
                                + CAST(tp AS DOUBLE) / n_truth), 6) END AS f1
      FROM ct, ca, tpc"""
  }

  val oracles: Map[String, String] = Map(
    "q187_dedup_audit" -> dedupAuditSql,
    // Replays the digest grouping: keeper per md5(text), not per raw text.
    "q50_exact_dedup" -> """
      SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keeper_id,
             doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
      FROM documents ORDER BY doc_id""",
    "q51_minhash_lsh" -> s"""
      WITH ${duckMinhashCtes()}
      SELECT id1, id2, est_jaccard FROM est
      WHERE est_jaccard >= 0.35 ORDER BY id1, id2""",
    // Replays crossSplitLeakage: q51's full LSH machinery + the q48
    // md5-bucket split rule + the straddle filter.
    "q277_split_leakage" -> s"""
      WITH ${duckMinhashCtes()},
      sp AS (SELECT doc_id,
                    CASE WHEN CAST((${
        graft.operators.CrossHash.h60DuckDb("CAST(doc_id AS VARCHAR)")})
                      % 100 AS INT) < 10
                         THEN 'valid' ELSE 'train' END AS split
             FROM documents)
      SELECT e.id1, e.id2, e.est_jaccard,
             s1.split AS split1, s2.split AS split2
      FROM est e JOIN sp s1 ON s1.doc_id = e.id1
                 JOIN sp s2 ON s2.doc_id = e.id2
      WHERE e.est_jaccard >= 0.35 AND s1.split <> s2.split
      ORDER BY e.id1, e.id2""",
    // Incremental = full-corpus LSH (identical banding/cap/estimate over
    // corpus ∪ batch) restricted to pairs touching the new batch — the
    // exact equivalence incrementalNearDup's scaladoc states, replayed.
    "q153_incremental_neardup" -> s"""
      WITH ${duckMinhashCtes()}
      SELECT id1, id2, est_jaccard,
             CASE WHEN id1 % 5 = 0 AND id2 % 5 = 0 THEN 'batch'
                  ELSE 'corpus' END AS match_src
      FROM est
      WHERE est_jaccard >= 0.35 AND (id1 % 5 = 0 OR id2 % 5 = 0)
      ORDER BY id1, id2""",
    // INDEPENDENT formulation: brute-force all-pairs exact Jaccard over
    // distinct-token sets. The Spark side generates candidates by
    // pigeonhole signature partitioning — agreement certifies the
    // completeness lemma (no pair with J >= 0.9 escapes the m universe
    // hash-parts), not just the verify arithmetic.
    // Round-17 rewrite, same discipline as q167 below: exact
    // inverted-index pair counts instead of brute-force all-pairs
    // list_intersect (208 s -> 27 s at sf0.1; byte-identical rows
    // verified directly at sf0.01). Completeness is unconditional: a
    // J >= 0.9 pair must share a token (inter = 0 fails inter*10 >=
    // (szsum - inter)*9 for non-empty sets), and every sharing pair is
    // enumerated with its exact count. Still independent of the engine's
    // PartEnum machinery — no parts, no families, no caps.
    "q159_setsim_join" -> """
      WITH sets AS (
        SELECT doc_id,
               list_distinct(list_filter(string_split(text, ' '), t -> t <> '')) AS tk
        FROM documents),
      sz AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS sz FROM sets),
      post AS (SELECT doc_id, unnest(tk) AS t FROM sets),
      pairs AS (
        SELECT x.doc_id AS id1, y.doc_id AS id2,
               CAST(count(*) AS BIGINT) AS inter
        FROM post x JOIN post y ON x.t = y.t AND x.doc_id < y.doc_id
        GROUP BY 1, 2)
      SELECT p.id1, p.id2, p.inter,
             round(CAST(p.inter AS DOUBLE) / (a.sz + b.sz - p.inter), 4)
               AS jaccard
      FROM pairs p JOIN sz a ON a.doc_id = p.id1
                   JOIN sz b ON b.doc_id = p.id2
      WHERE p.inter * 10 >= (a.sz + b.sz - p.inter) * 9
      ORDER BY id1, id2""",
    // REPLAYS the capped variant's full machinery — the engine-neutral
    // 60-bit md5 token→part assignment, the m-universe family signatures,
    // the id-ordered member cap at 8, the truncation flag, and the exact
    // integer verify — so the cap SEMANTICS (which pairs survive a
    // truncated family, and which pairs carry capped=true) sit under the
    // hash gate, not just the Jaccard arithmetic.
    "q193_setsim_capped" -> s"""
      WITH sets AS (
        SELECT doc_id,
               list_sort(list_distinct(
                 list_filter(string_split(text, ' '), t -> t <> ''))) AS tk
        FROM documents),
      s2 AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS sz
             FROM sets WHERE len(tk) > 0),
      mm AS (SELECT CAST(2 * max(sz) * (10 - 9) // (10 + 9) + 1 AS BIGINT)
               AS m FROM s2),
      tp AS (SELECT doc_id, tk, sz,
                    list_transform(tk, t -> (${duckH60("t")}) % m) AS parts
             FROM s2, mm),
      pt AS (SELECT unnest(range(0, m)) AS part FROM mm),
      fam AS (SELECT doc_id, sz, part,
                     -- coalesce is load-bearing (r16 sf0.1 gate catch):
                     -- DuckDB's array_to_string over an EMPTY list is NULL
                     -- (string_agg semantics), and a NULL sig never joins —
                     -- silently dropping the both-empty-part families the
                     -- pigeonhole completeness lemma REQUIRES (Spark's
                     -- concat_ws gives '' -> md5('')). sf0.01 passed on
                     -- fixture luck; sf0.1 lost pair (2801,3703), whose
                     -- only uncapped shared family is an empty part.
                     md5(coalesce(array_to_string(
                       list_filter(tk, (t, i) -> parts[i] = part),
                       chr(31)), '')) AS sig
              FROM tp, pt),
      ranked AS (SELECT doc_id, sz, part, sig,
                        row_number() OVER (PARTITION BY part, sig
                                           ORDER BY doc_id) AS rk,
                        count(*) OVER (PARTITION BY part, sig) AS fsz
                 FROM fam),
      kept AS (SELECT doc_id, sz, part, sig, fsz > 8 AS trunc
               FROM ranked WHERE rk <= 8),
      cand AS (SELECT x.doc_id AS id1, y.doc_id AS id2,
                      bool_or(x.trunc) AS capped
               FROM kept x JOIN kept y
                 ON x.part = y.part AND x.sig = y.sig
                AND x.doc_id < y.doc_id
                AND x.sz * 9 <= y.sz * 10 AND y.sz * 9 <= x.sz * 10
               GROUP BY 1, 2)
      SELECT c.id1, c.id2,
             CAST(len(list_intersect(a.tk, b.tk)) AS BIGINT) AS inter,
             round(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
                   / (a.sz + b.sz - len(list_intersect(a.tk, b.tk))), 4)
               AS jaccard,
             c.capped
      FROM cand c JOIN s2 a ON a.doc_id = c.id1
                  JOIN s2 b ON b.doc_id = c.id2
      WHERE len(list_intersect(a.tk, b.tk)) * 10
            >= (a.sz + b.sz - len(list_intersect(a.tk, b.tk))) * 9
      ORDER BY id1, id2""",
    // INDEPENDENT formulation: the window join is a rank-distance
    // predicate over a row_number total order — no rank-block decomposition.
    // Agreement certifies the block-join's pair completeness (every pair
    // < w apart lands in the same or adjacent rk div w block).
    "q163_sorted_neighborhood" -> """
      WITH base AS (
        SELECT CAST(c_custkey AS BIGINT) AS id, CAST(c_name AS VARCHAR) AS sk
        FROM customer WHERE c_name IS NOT NULL),
      ranked AS (
        SELECT id, sk, row_number() OVER (ORDER BY sk, id) - 1 AS rk FROM base
        WHERE id IS NOT NULL)
      SELECT a.id AS id1, b.id AS id2,
             CAST(b.rk - a.rk AS INT) AS gap,
             CAST(levenshtein(a.sk, b.sk) AS INT) AS dist
      FROM ranked a JOIN ranked b ON b.rk > a.rk AND b.rk - a.rk < 5
      WHERE levenshtein(a.sk, b.sk) <= 3
      ORDER BY id1, id2""",
    // INDEPENDENT formulation: exact inverted-index pair counts (no
    // digests, no prefix index, no df ordering) — agreement still
    // certifies the asymmetric prefix-filter completeness lemma, because
    // the postings self-join + GROUP BY pair enumerates EVERY ordered
    // pair sharing >=1 shingle with its exact intersection count, and a
    // pair with inter = 0 can never pass inter*5 >= sz*4 (sz >= 1 by the
    // len(tk) >= 3 guard). Round-17 rewrite of the original brute-force
    // all-pairs list_intersect (O(n^2) list intersections — ~25 of the
    // sf0.1 gate's ~50 check_oracle minutes): byte-identical rows at
    // sf0.01 (verified directly, 7.4 s -> 0.2 s) and 2.3 s at sf0.1;
    // identical arithmetic (integer counts -> the same doubles -> the
    // same round(,4)), so the sf0.1 re-certification run compares the
    // already-certified engine answers against it transitively.
    "q167_containment" -> """
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
        FROM documents),
      sh AS (
        SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 1),
               i -> list_aggregate(tk[i:i+2], 'string_agg', ' '))) AS s
        FROM toks WHERE len(tk) >= 3),
      sz AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS sz FROM sh),
      post AS (SELECT doc_id, unnest(s) AS g FROM sh),
      pairs AS (
        SELECT x.doc_id AS id1, y.doc_id AS id2,
               CAST(count(*) AS BIGINT) AS inter
        FROM post x JOIN post y ON x.g = y.g AND x.doc_id <> y.doc_id
        GROUP BY 1, 2)
      SELECT p.id1, p.id2, p.inter,
             round(CAST(p.inter AS DOUBLE) / a.sz, 4) AS containment
      FROM pairs p JOIN sz a ON a.doc_id = p.id1
      WHERE p.inter * 5 >= a.sz * 4
      ORDER BY id1, id2""",
    // REPLAYS the capped containment machinery end-to-end: md5 digests,
    // full-table document frequencies, the (df ASC, digest) struct-sorted
    // arrays, the exact-integer prefix length, the id-ordered posting cap
    // at 2 with its truncation flag, and the exact-integer verify.
    "q194_containment_capped" -> """
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
        FROM documents),
      sh AS (
        -- '_' separator is load-bearing (r16 sf0.1 gate catch): the gram
        -- string must be BYTE-IDENTICAL to graft_token_shingles' output
        -- ('_'-joined) because the prefix order ties on the md5 DIGEST
        -- (df ASC, h ASC) — a space-joined gram hashes differently, and a
        -- df tie at the prefix boundary then resolves differently per
        -- engine (sf0.1: one pair each way). Uncapped oracles (q167/q53)
        -- are digest-order-insensitive and keep their own separators.
        SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, len(tk) - 1),
                 i -> list_aggregate(tk[i:i+2], 'string_agg', '_')))) AS g
        FROM toks WHERE len(tk) >= 3),
      dig AS (SELECT doc_id, md5(g) AS h FROM sh),
      dfq AS (SELECT h, CAST(count(*) AS BIGINT) AS df_ FROM dig GROUP BY h),
      ordered AS (
        SELECT doc_id,
               list_transform(list_sort(list(struct_pack(d := df_, h := h))),
                              x -> x.h) AS hs
        FROM dig JOIN dfq USING (h) GROUP BY doc_id),
      o2 AS (SELECT doc_id, hs, CAST(len(hs) AS BIGINT) AS sz,
                    CAST(len(hs) AS BIGINT)
                      - (CAST(len(hs) AS BIGINT) * 4 + 4) // 5 + 1 AS p
             FROM ordered),
      pre AS (SELECT doc_id, unnest(hs[1:CAST(p AS INT)]) AS h FROM o2),
      post AS (SELECT doc_id AS yid, h,
                      row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rk,
                      count(*) OVER (PARTITION BY h) AS psz
               FROM dig),
      kept AS (SELECT yid, h, psz > 2 AS trunc FROM post WHERE rk <= 2),
      cand AS (SELECT pre.doc_id AS id1, kept.yid AS id2,
                      bool_or(kept.trunc) AS capped
               FROM pre JOIN kept USING (h)
               WHERE pre.doc_id <> kept.yid GROUP BY 1, 2)
      SELECT c.id1, c.id2,
             CAST(len(list_intersect(a.hs, b.hs)) AS BIGINT) AS inter,
             round(CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE) / a.sz, 4)
               AS containment,
             c.capped
      FROM cand c JOIN o2 a ON a.doc_id = c.id1
                  JOIN o2 b ON b.doc_id = c.id2
      WHERE len(list_intersect(a.hs, b.hs)) * 5 >= a.sz * 4
      ORDER BY id1, id2""",
    // Replays the full FS pipeline: SNM candidates, per-field u = Σ(n_v/n)²
    // from the value histogram, log2 agree/disagree weights, 6-dp rounding.
    "q164_linkage_score" -> """
      WITH base AS (
        SELECT CAST(c_custkey AS BIGINT) AS id, CAST(c_name AS VARCHAR) AS sk,
               c_nationkey AS f1, c_mktsegment AS f2,
               CAST(floor(c_acctbal / 1000) AS INT) AS f3
        FROM customer),
      nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM base),
      ranked AS (SELECT id, sk, row_number() OVER (ORDER BY sk, id) - 1 AS rk
                 FROM base WHERE sk IS NOT NULL AND id IS NOT NULL),
      cand AS (SELECT a.id AS id1, b.id AS id2
               FROM ranked a JOIN ranked b ON b.rk > a.rk AND b.rk - a.rk < 5
               WHERE levenshtein(a.sk, b.sk) <= 3),
      u1 AS (SELECT least(greatest(sum(pow(cnt / n, 2)), 1e-9), 1 - 1e-9) AS u FROM
             (SELECT count(*) AS cnt FROM base WHERE f1 IS NOT NULL GROUP BY f1), nn),
      u2 AS (SELECT least(greatest(sum(pow(cnt / n, 2)), 1e-9), 1 - 1e-9) AS u FROM
             (SELECT count(*) AS cnt FROM base WHERE f2 IS NOT NULL GROUP BY f2), nn),
      u3 AS (SELECT least(greatest(sum(pow(cnt / n, 2)), 1e-9), 1 - 1e-9) AS u FROM
             (SELECT count(*) AS cnt FROM base WHERE f3 IS NOT NULL GROUP BY f3), nn)
      SELECT id1, id2,
             round(
               (CASE WHEN a.f1 = b.f1 THEN log2(0.95 / u1.u)
                     ELSE log2((1 - 0.95) / (1 - u1.u)) END) +
               (CASE WHEN a.f2 = b.f2 THEN log2(0.95 / u2.u)
                     ELSE log2((1 - 0.95) / (1 - u2.u)) END) +
               (CASE WHEN a.f3 = b.f3 THEN log2(0.95 / u3.u)
                     ELSE log2((1 - 0.95) / (1 - u3.u)) END), 6) AS score,
             CAST((CASE WHEN a.f1 = b.f1 THEN 1 ELSE 0 END) +
                  (CASE WHEN a.f2 = b.f2 THEN 1 ELSE 0 END) +
                  (CASE WHEN a.f3 = b.f3 THEN 1 ELSE 0 END) AS INT) AS n_agree
      FROM cand JOIN base a ON cand.id1 = a.id JOIN base b ON cand.id2 = b.id,
           u1, u2, u3
      ORDER BY id1, id2""",
    // Replays the exact-collapse: LSH runs over one representative per
    // md5(text) group (as the Spark side does), so the gate is exact even
    // for corpora with duplicated too-short-to-shingle or NULL texts.
    "q55_dedup_pipeline" -> s"""
      WITH RECURSIVE
      rep AS (SELECT doc_id, text,
                     min(doc_id) OVER (PARTITION BY md5(text)) AS rep
              FROM documents),
      reps AS (SELECT doc_id, text FROM rep WHERE doc_id = rep),
      ${duckMinhashCtes("reps")},
      pairs AS (SELECT id1, id2 FROM est WHERE est_jaccard >= 0.35),
      und AS (SELECT id1 AS a, id2 AS b FROM pairs
              UNION SELECT id2 AS a, id1 AS b FROM pairs),
      reach(a, b) AS (
        SELECT a, b FROM und
        UNION
        SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
      comp AS (SELECT a AS id, CAST(least(a, min(b)) AS BIGINT) AS component
               FROM reach GROUP BY a)
      SELECT d.doc_id, coalesce(c.component, d.rep) AS keeper_id
      FROM rep d LEFT JOIN comp c ON d.rep = c.id
      ORDER BY d.doc_id""",
    "q52_simhash" -> s"""
      WITH tok AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS t
        FROM documents),
      th AS (SELECT doc_id, ${duckH60("t")} AS hv FROM tok),
      votes AS (
        SELECT doc_id, j,
               sum(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
        FROM th CROSS JOIN (SELECT unnest(range(0, 60)) AS j)
        GROUP BY doc_id, j)
      SELECT doc_id,
             CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id ORDER BY doc_id""",
    // Replays simHashNearDup: the q52 simhash build, 4×15-bit banding with
    // the same maxBandDf cap, exact bit_count(xor) Hamming filter. Integer
    // algebra end-to-end — exact cross-engine.
    "q105_simhash_neardup" -> s"""
      WITH ${duckSimhashCtes()}
      SELECT id1, id2, CAST(bit_count(xor(h1, h2)) AS INT) AS hamming
      FROM cand WHERE bit_count(xor(h1, h2)) <= 3
      ORDER BY id1, id2""",
    // Replays simHashDedup: exact-collapse to md5-group representatives,
    // the q105 simhash band chain over the REPRESENTATIVES, then the q55
    // recursive connected-components fold back onto every document.
    "q108_simhash_dedup" -> s"""
      WITH RECURSIVE
      rep AS (SELECT doc_id, text,
                     min(doc_id) OVER (PARTITION BY md5(text)) AS rep
              FROM documents),
      reps AS (SELECT doc_id, text FROM rep WHERE doc_id = rep),
      ${duckSimhashCtes("reps")},
      pairs AS (SELECT id1, id2 FROM cand WHERE bit_count(xor(h1, h2)) <= 3),
      und AS (SELECT id1 AS a, id2 AS b FROM pairs
              UNION SELECT id2 AS a, id1 AS b FROM pairs),
      reach(a, b) AS (
        SELECT a, b FROM und
        UNION
        SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
      comp AS (SELECT a AS id, CAST(least(a, min(b)) AS BIGINT) AS component
               FROM reach GROUP BY a)
      SELECT d.doc_id, coalesce(c.component, d.rep) AS keeper_id
      FROM rep d LEFT JOIN comp c ON d.rep = c.id
      ORDER BY d.doc_id""",
    "q53_ngram_jaccard" -> s"""
      WITH $duckCappedSets
      SELECT x.doc_id AS id1, y.doc_id AS id2,
             round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                   / len(list_distinct(list_concat(x.sh, y.sh))), 4) AS jaccard
      FROM sets x JOIN sets y ON x.doc_id < y.doc_id
      WHERE round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(x.sh, y.sh))), 4) >= 0.5
      ORDER BY id1, id2""",
    // q54's component chain + token counts + the per-cluster
    // quality-argmax (n_tok DESC, id) representative.
    "q214_canonical_pick" -> s"""
      WITH RECURSIVE $duckCappedSets,
      edges AS (
        SELECT x.doc_id AS id1, y.doc_id AS id2
        FROM sets x JOIN sets y ON x.doc_id < y.doc_id
        WHERE round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
              / len(list_distinct(list_concat(x.sh, y.sh))), 4) >= 0.5),
      und AS (SELECT id1 AS a, id2 AS b FROM edges
              UNION SELECT id2 AS a, id1 AS b FROM edges),
      reach(a, b) AS (
        SELECT a, b FROM und
        UNION
        SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
      comp AS (SELECT a AS doc_id, CAST(least(a, min(b)) AS BIGINT) AS component
               FROM reach GROUP BY a),
      tk AS (SELECT doc_id,
                    CAST(len(list_filter(string_split(text, ' '),
                                         x -> x <> '')) AS BIGINT) AS n_tok
             FROM documents),
      m AS (SELECT t.doc_id, coalesce(c.component, t.doc_id) AS component,
                   t.n_tok
            FROM tk t LEFT JOIN comp c ON t.doc_id = c.doc_id),
      r AS (SELECT *, first_value(doc_id) OVER (PARTITION BY component
                        ORDER BY n_tok DESC, doc_id) AS rep_id
            FROM m)
      SELECT doc_id, CAST(component AS BIGINT) AS component, n_tok,
             CAST(rep_id AS BIGINT) AS rep_id,
             doc_id = rep_id AS kept
      FROM r ORDER BY doc_id""",
    "q54_neardup_components" -> s"""
      WITH RECURSIVE $duckCappedSets,
      edges AS (
        SELECT x.doc_id AS id1, y.doc_id AS id2
        FROM sets x JOIN sets y ON x.doc_id < y.doc_id
        WHERE round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
              / len(list_distinct(list_concat(x.sh, y.sh))), 4) >= 0.5),
      und AS (SELECT id1 AS a, id2 AS b FROM edges
              UNION SELECT id2 AS a, id1 AS b FROM edges),
      reach(a, b) AS (
        SELECT a, b FROM und
        UNION
        SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)
      SELECT a AS doc_id, CAST(least(a, min(b)) AS BIGINT) AS component
      FROM reach GROUP BY a ORDER BY doc_id""",
    "q115_fuzzy_join" -> s"""
      WITH capped AS (
        SELECT p_partkey AS id, p_name AS nm,
               substr(p_name, 1, 4) AS blk,
               row_number() OVER (PARTITION BY substr(p_name, 1, 4)
                                  ORDER BY p_partkey) AS rk
        FROM part)
      SELECT x.id AS id1, y.id AS id2,
             CAST(levenshtein(x.nm, y.nm) AS INT) AS dist
      FROM capped x JOIN capped y ON x.blk = y.blk AND x.id < y.id
      WHERE x.rk <= $MaxBlockDf AND y.rk <= $MaxBlockDf
        AND abs(length(x.nm) - length(y.nm)) <= 3
        AND levenshtein(x.nm, y.nm) <= 3
      ORDER BY id1, id2""",
    // Replays corpusOverlap by an INDEPENDENT formulation: Spark sketches
    // per document then min-merges per group; the oracle builds each
    // group's distinct shingle set directly and sketches THAT — the two
    // agree only if min-over-union == min-of-mins, so the gate certifies
    // the merge algebra itself. Exact leg on md5 digests, as Spark.
    "q124_corpus_overlap" -> s"""
      WITH toks AS (SELECT lang,
                           list_filter(string_split(text, ' '), t -> t <> '') AS tk
                    FROM documents),
      shx AS (SELECT DISTINCT lang,
                     unnest(list_distinct(list_transform(range(1, len(tk) - 1),
                       i -> tk[i] || '_' || tk[i+1] || '_' || tk[i+2]))) AS s
              FROM toks),
      h AS (SELECT lang, (${duckH60("s")}) % $P AS hv FROM shx),
      perms(pid, a, b) AS (VALUES $permsValues),
      mh AS (SELECT lang, pid, min((a * hv + b) % $P) AS m
             FROM h CROSS JOIN perms GROUP BY lang, pid),
      est AS (SELECT x.lang AS src1, y.lang AS src2,
                     round(CAST(sum(CASE WHEN x.m = y.m THEN 1 ELSE 0 END) AS DOUBLE)
                           / $NumPerms, 4) AS est_jaccard
              FROM mh x JOIN mh y ON x.pid = y.pid AND x.lang < y.lang
              GROUP BY x.lang, y.lang),
      digs AS (SELECT DISTINCT lang, md5(s) AS dig FROM shx),
      sizes AS (SELECT lang, count(*) AS n FROM digs GROUP BY lang),
      inter AS (SELECT a.lang AS src1, b.lang AS src2, count(*) AS i
                FROM digs a JOIN digs b ON a.dig = b.dig AND a.lang < b.lang
                GROUP BY a.lang, b.lang)
      SELECT e.src1, e.src2, e.est_jaccard,
             round(CAST(coalesce(i.i, 0) AS DOUBLE)
                   / (s1.n + s2.n - coalesce(i.i, 0)), 4) AS jaccard
      FROM est e
      LEFT JOIN inter i ON e.src1 = i.src1 AND e.src2 = i.src2
      JOIN sizes s1 ON s1.lang = e.src1
      JOIN sizes s2 ON s2.lang = e.src2
      ORDER BY e.src1, e.src2""",
  )
}
