package graft.tools

import java.nio.file.{Files, Paths}

/** Writes EXPLAIN.md: executed physical plans of headline queries at
  * sf0.001, after execution so AQE shows final plans. Regenerate with:
  * `sbt "runMain graft.tools.ExplainDump"`.
  *
  * The hand-maintained lock/coverage narrative lives in
  * `EXPLAIN_PREAMBLE.md` and is spliced in after the header (round 16 —
  * before that, regenerating silently DROPPED the preamble because it
  * only existed in the generated file). Edit the preamble file, not
  * EXPLAIN.md. */
object ExplainDump {
  private val headline = Seq(
    "q01_pricing_summary" -> "partial+final HashAggregate, pushed filter",
    "q05_region_revenue" -> "5-way star join — every dimension broadcast",
    "q16_topk" -> "TakeOrderedAndProject (no global sort)",
    "q09_window_rank" -> "WindowGroupLimit partial+final (top-k pushdown through the window)",
    "q31_asof_join" -> "as-of join as tagged-union window pass (no range product)",
    "q227_asof_nearest" -> "nearest as-of: backward + reversed in-partition forward carry over the SAME single exchange",
    "q228_group_quantiles_exact" -> "one keyed window exchange shared by row_number + count; integer quantile positions picked map-side",
    "q229_hard_negatives" -> "broadcast anchors; label pre-filter; WindowGroupLimit partial top-k before the per-anchor exchange",
    "q230_weighted_quantiles" -> "RANGE-frame cumulative weights; the min-aggregate reuses the window's partitioning — one exchange total",
    "q232_span_scrub" -> "digest-only dup detection; relational coverage (doc,pos) anti-join — O(1) per token on fully-duplicated docs",
    "q233_adaptive_gate" -> "q228's keyed-window thresholds pivoted |groups|-wide and broadcast back — verdict pass adds no corpus exchange",
    "q234_gram_novelty" -> "map-side array_distinct; digest-only min-owner aggregate; skinny join-back — no text shuffles",
    "q235_frame_simhash" -> "native codegen'd frame_simhash60 signature projection; banding join is the only exchange",
    "q236_decayed_features" -> "1-row horizon broadcast; pre-rounded DECIMAL exp terms; one keyed aggregate with map-side partials",
    "q238_chi2_drift" -> "one keyed collapse to |cats|x2 cells (checkpointed); margins/spine/statistic all on the bounded frame",
    "q239_domain_cap" -> "ONE group-keyed window exchange shared by row_number + count; cap verdicts map-side",
    "q240_pq_codebook" -> "few-KB codebook broadcast as one collected row; map-side HOF argmin fold — the only exchange is (sub,code)-bounded",
    "q241_snapshot_fingerprint" -> "two scans folding into keyed count+sum(mod 2^60) aggregates; groups-bounded outer-join diff",
    "q242_decile_lift" -> "unit collapse; two-pass global index ntile; gains window on the ten-row decile frame",
    "q243_epoch_shuffle" -> "bucketed local row_number + 32-row offset broadcast — one exchange, no single-partition window",
    "q244_kaplan_meier" -> "one user collapse; life table, risk windows and survival folds all (groups x days)-bounded",
    "q245_link_prediction" -> "cap-before-pairing: WindowGroupLimit m-neighbor prune BEFORE the center self-join; anti-join + TakeOrdered cut; r18 adjacency flag joins ride the <= topK-row frame",
    "q246_t_closeness" -> "two keyed collapses; EMD terms on the (classes x B)-bounded grid",
    "q247_label_separation" -> "broadcast centroid row; map-side HOF member distances; |labels|^2 nearest-other pass",
    "q248_attribution_models" -> "q166's one session exchange; session-bounded touch lists; map-side 9-dp DECIMAL credits",
    "q249_spearman_corr" -> "collapsed value frames + q184 two-level bucketed rank sums — no per-group corpus window sort",
    "q250_quantile_normalize" -> "cells collapse; two-level group ranks; pooled grid on the value frame; <=1000-key join-back",
    "q251_profile_drift" -> "two single-pass exact-distinct profile scans; |cols|-row broadcast diff",
    "q253_kruskal_wallis" -> "one cells collapse; q249's two-level GLOBAL rank decomposition; groups-bounded terms — no pooled corpus window sort",
    "q254_robust_profile" -> "two q228 median window passes; groups-bounded median/MAD frames broadcast back; one keyed final aggregate",
    "q255_vocab_growth" -> "token-keyed min aggregate (the only corpus shuffle); <= buckets-row roll-ups broadcast-joined",
    "q257_cohen_kappa" -> "ONE |cats|^2-bounded cell collapse; margins and the fraction-free kappa identity on the bounded frame",
    "q258_agg_merge" -> "two keyed moment aggregates + full-outer key merge of aggregated frames — neither snapshot rescans the other",
    "q259_hits" -> "per-iteration edge-keyed join + keyed DECIMAL sum; 1-row max broadcast; integer floor-div normalization; per-role TakeOrdered",
    "q261_ndcg" -> "bm25's broadcast-stats scans; both position windows on <= k-row frames; ranked frame broadcasts onto the relevance projection",
    "q51_minhash_lsh" -> "MinHash signatures as aggregate columns; LSH equality join",
    "q60_knn_bruteforce" -> "codegen'd cosine_sim inside the stage; WindowGroupLimit top-k",
    "q82_stream_tumbling" -> "(streaming runtime — plan of the equivalent batch q80 shown)",
    "q53_ngram_jaccard" -> "inverted-index set-similarity join (no quadratic array ops)",
    "q84_gap_fill" -> "time-series densification: sequence explode + zero-filled outer join",
    "q62_ann_lsh" -> "native codegen'd hp_buckets projection; bucket-equality candidates only",
    "q65_semantic_dedup" -> "broadcast centroid assignment; cluster-equality-bounded pair cosine",
    "q56_tfidf" -> "two bounded-key aggregations; broadcast corpus count; WindowGroupLimit top-k",
    "q95_jdbc_scan" -> "partitioned JDBC scan (4 range queries) after a JDBC overwrite",
    "q50_exact_dedup" -> "md5 digest projected below the exchange — the shuffle never carries bodies",
    "q59_strat_sample" -> "WindowGroupLimit: each task keeps local top-k per stratum before the exchange",
    "q66_contam" -> "train side collapsed to DISTINCT shingles; bounded-string containment join",
    "q68_kmv_distinct" -> "KMV sketch: WindowGroupLimit partial min-k; broadcast join of two per-group aggregates",
    "q69_funnel" -> "four chained stage windows over ONE sort + ONE exchange",
    "q74_pack_shards" -> "two-level prefix sum: bucket-local windows, 32-row offsets broadcast back",
    "q76_table_diff" -> "one full-outer join; null-safe change classification in the stage",
    "q96_partitioned_sink" -> "directory-key filter as PartitionFilters — pruned at planning time",
    "q89_bucketed_join" -> "both facts pre-bucketed on the join key — co-located scan (Bucketed: true)",
    "q100_bucket_pruning" -> "key-equality scan on the bucketed table — SelectedBucketsCount: 1 out of 8",
    "q101_funnel_gap" -> "gap-bounded funnel: first-completion-micros windows over the same ONE sort",
    "q103_retention" -> "cohort via per-user min-date window on ONE user exchange; distinct user-day collapse",
    "q104_cohort_funnel" -> "funnel stage frame + cohort window OVER the aggregate — no join back to events",
    "q105_simhash_neardup" -> "map-side SimHash60; 4-band equality join + exact bit_count filter in the join stage",
    "q106_weighted_sample" -> "A-ES weighted draw as TakeOrderedAndProject — local top-k per task, no global sort",
    "q107_lm_quality" -> "capped trigram LM shipped in-plan; scoring is a codegen'd lm_mean_logp projection (WholeStageCodegen, no UDF)",
    "q44_lang_id" -> "codegen'd lm_predict_lang projection over the in-plan model — argmax scoring stays in the stage",
    "q108_simhash_dedup" -> "md5 + native simhash in ONE projection; collapse window shuffles (id, sig, rep) — never bodies; banding reads the collapse checkpoint; pointer-jumping components",
    "q109_bm25" -> "literal-term map-side tf (no explode); ONE broadcast stats row; TakeOrderedAndProject top-k",
    "q110_pagerank" -> "final round of the integer-mass iteration: edge join + exact long sum, top-k as TakeOrderedAndProject",
    "q111_triangles" -> "degree-ordered orientation; wedge join + closing LeftSemi — fan-out bounded by oriented out-degree",
    "q203_lateral_topn" -> "LATERAL correlated LIMIT subquery decorrelated to a ranked join (no per-row re-execution)",
    "q197_cusum_drift" -> "CUSUM closed form: two cumulative windows sharing ONE per-key sort — zero extra exchanges",
    "q207_ewma_smooth" -> "8-lag integer-weight chain in one Window over one sort; half-up quotient stays in the stage",
    "q212_gdpr_purge" -> "per-table broadcast anti/semi joins; deletion list shipped once",
    "q112_zorder" -> "codegen'd graft_zvalue Morton projection inside the stage; TakeOrderedAndProject top-k",
    "q113_sessionize" -> "lag flag + running-sum ids over ONE user-key sort; bounded-key session roll-up",
    "q114_incremental_agg" -> "two batch states merged by key — the delta-refresh plan; the oracle is the full recompute",
    "q115_fuzzy_join" -> "prefix-block equality self-join; length pre-filter + thresholded levenshtein in the join stage, never n²",
    "q116_scd2" -> "change flag + run ids over ONE key-sort; interval roll-up; lead stitch over the collapsed runs frame",
    "q117_skyline" -> "per-x max collapse → grouped local prune → global pass over local frontiers → broadcast semi-join back",
    "q118_vocab_coverage" -> "one corpus-sized token aggregate (checkpointed once for both legs); top-K as TakeOrderedAndProject; coverage sum over K rows",
    "q119_corpus_mix" -> "broadcast quotas; constant max-quota bound compiles to a WindowGroupLimit partial before the per-group sort",
    "q120_hist_quantiles" -> "one corpus-sized binning aggregate (≤ nBins groups, map-side combine); cumulative walk + interpolation on bins×|ps| rows — no global sort",
    "q121_temporal_join" -> "scd2 intervals tile the timeline, so point-in-time lookup = backward as-of on valid_from: one union key-sort carry, no range join",
    "q122_boilerplate" -> "map-side segmentation; survivors decided digest-only (df agg + anti-join over skinny rows); keep-flags join + reassembly share ONE id-partitioned body shuffle",
    "q123_char_entropy" -> "entire entropy fold is one codegen'd map-side projection — no shuffle, no per-char row explosion",
    "q124_corpus_overlap" -> "map-side native signatures; sketch = |groups|×32 longs of mergeable min state; exact leg joins md5 digests, linear in postings",
    "q125_countmin" -> "ONE md5 per value, rows by K-M double hashing ((h1+j*h2)%w — pure long arithmetic per row); ONE cell aggregate whose partial combine bounds every task at depth×width cells",
    "q126_pmi" -> "pairs generated map-side from the sorted distinct-token array (no token self-join); broadcast 1-row N; TakeOrderedAndProject top-k",
    "q127_zipf" -> "corpus collapses to |types| rows before the rank sort; regression is one regr_* aggregate over the collapsed frame",
    "q128_group_quantiles" -> "|groups|×nBins mergeable counts; per-group cumulative walk over ≤ nBins rows — groups parallelize, no per-group sort",
    "q129_js_divergence" -> "corpus collapses to (group, token) counts map-side; divergence join keyed on token over the collapsed frame; 3 mergeable sums per pair",
    "q131_embedding_cov" -> "one pass per partition accumulates (n, sums, upper-triangle cross-products) in arrays — no per-pair rows; partitions x d(d+1)/2 doubles merge in partition order",
    "q132_quantize_int8" -> "one d-row absmax aggregate broadcast back; codes are a pure map-side projection — fit once, apply streaming",
    "q133_profile" -> "ONE scan: multi-column distincts via Expand; per-column result rows are 1-row selects unioned",
    "q134_skipgram" -> "windowed pairs generated map-side (≤ 2w per token, never a len² position self-join); vocab²-bounded aggregate; TakeOrderedAndProject top-k",
    "q135_hll_distinct" -> "NO distinct pre-pass (max-register idempotence); shuffle carries ≤ m (group,reg,rank) partials; estimate is one division over exact integer register algebra",
    "q136_transitions" -> "lead() over the one (user)-(time,id) sort sessionize pays; aggregate bounded by |types|²; normalizing window runs over the aggregated frame",
    "q137_inverted_index" -> "posting cap is WindowGroupLimit (partial per-task top-k) BEFORE any list materializes; no task buffers a stopword's full posting list",
    "q139_bfs_paths" -> "per-level frontier expansion: one equality join + one anti-join per round, all partitioned by node id; frontier-empty early exit bounds rounds",
    "q140_concurrency" -> "±1 deltas collapse per timestamp FIRST; per-bucket local running sums + broadcast bucket offsets — no single-partition global window",
    "q141_trend" -> "six mergeable regr_* moments per group, map-side combine — the shuffle carries six doubles per group",
    "q142_outliers" -> "two-pass: per-group μ/σ aggregate broadcast back; |z|>k filter map-side in codegen — deliberately not a group-partitioned window (skew)",
    "q143_chunk_dedup" -> "winners decided digest-only (md5 + min-struct agg); keep-flags join + reassembly share ONE id-partitioned body shuffle (PlanSpec-locked <= 4 exchanges)",
    "q146_binary_source" -> "binaryFile scan over per-blob staged files: pathGlobFilter prunes at listing time; identity from path regex, md5(content) map-side — list, prune, read bytes once",
    "q147_session_funnel" -> "per-event session ids from the ONE user-key sort; funnel stage windows ride the (user, session) sort they created — two bounded-key exchanges total",
    "q149_bloom_filter" -> "ONE md5 per value, k bit positions by the shared K-M derivation; partial DISTINCT bounds every task at ≤ m rows before the single bit exchange; probe joins the ≤ m-row bitset",
    "q159_setsim_join" -> "pigeonhole signatures: m part digests per doc (32-char md5, token text never shuffles); equality join on (part, sig) + size-ratio prune in the stage; verify joins read the checkpointed sets frame",
    "q163_sorted_neighborhood" -> "range-partitioned total-order sort + two-pass zipWithIndex rank; adjacent-block pairing as an exploded EQUI-join (an OR-of-equalities here nested-loops to n²); thresholded levenshtein in the stage",
    "q166_attribution" -> "session ids + both IGNORE NULLS touch windows on ONE user exchange (subset partitioning ⇒ sorts only); two-flag explode — no self-union, no second window pipeline",
    "q169_skip_stats" -> "two simulated layouts' zone maps as bounded groupBys over zipWithIndex file ranks; broadcast 16-box workload; integer-exact hit counts",
    "q174_active_users" -> "distinct (user, day) once; WAU = W-day contribution explode + second distinct — the exact rolling-distinct fan-out; day-spine left joins",
    "q176_bpe_merges" -> "final round of the vocab-bounded iteration: pair explode + |vocab| aggregate + 1-row argmax; greedy merge as a codegen'd aggregate() string fold over the checkpointed word table",
    "q177_neighborhood_agg" -> "two message-passing layers: node-keyed equality join + exact decimal sum each; symmetrized distinct edge list checkpointed once, read by both layers",
    "q184_ks_test" -> "per-value class counts; two-level integer prefix sums (bucket-local windows + broadcast offsets); decimal cross-product argmax as TakeOrderedAndProject; one division",
    "q187_dedup_audit" -> "both channels checkpointed as skinny pair frames; TP = one left-semi; the statistics run on a 1-row crossJoin chain",
    "q267_sssp" -> "Bellman-Ford final-round shape: frontier-keyed equality join + keyed min aggregate + improvement left-join; RDDScan leaves are the per-round localCheckpoints",
    "q269_concentration" -> "Gini WITHOUT per-unit ranks: collapsed (group,value) frame, bucket-local windows + per-(group,bucket) offsets (q249's two-level form), doubled block identity map-side",
    "q274_join_view_maintenance" -> "delta decomposition: three delta-side SMJ legs unioned into ONE aggregate; base x base appears only as the certificate's V0; full-outer key merge of two bounded frames",
    "q279_stream_anti_join" -> "the anti mode's drain shape (the one interval-join member previously without a curated dump): the certified left-outer's drained sink filtered to purchase-side NULL — zero added state over q195; the batch plan here is the post-drain filter + sort",
    "q280_stream_timeout_session" -> "flatMapGroupsWithState + EventTimeTimeout drain: the post-drain plan is the memory sink's session rows projected and range-sorted; session state itself lives in the streaming runtime (one open session per user, evicted on every timer expiry)",
    "q281_isotonic" -> "PAV as declarative max-min: corpus collapses to <= B bin cells once; the <= B^2 pair frame, running window min and bounded max all ride constant frames (broadcast-pinned final join)",
    "q282_seq_patterns" -> "cap-before-pairing: ONE user-keyed window prune to 12 positions, then three bounded position self-joins + per-user DISTINCT collapse to <= |types|^3 before support counting",
    "q284_ktruss" -> "final peel round's support shape: q111's degree-ordered orientation (wedge fan-out O(sqrt E) per node), wedge join + closing join, 3-edge explode, keyed support count; RDDScan leaves are the per-round checkpoints",
    "q289_bridges" -> "cycle-space verdict pass: non-tree fingerprint XOR values joined through the ancestor closure into ONE subtree bit_xor aggregate; left-join zero test on the tree-edge frame",
  )

  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSession(4)
    val d = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb.append("# EXPLAIN — executed physical plans (sf0.001, AQE final)\n\n")
    sb.append("Generated by `graft.tools.ExplainDump`; the shapes PlanSpec locks in.\n")
    val preamble = Paths.get("EXPLAIN_PREAMBLE.md")
    if (Files.exists(preamble))
      sb.append("\n").append(Files.readString(preamble))
    headline.foreach { case (name, note) =>
      val qname = if (name == "q82_stream_tumbling") "q80_tumbling_window" else name
      val df = graft.SparkEntry.queries(qname)(spark, d)
      df.collect() // finalize AQE
      sb.append(s"\n## $name — $note\n\n```\n")
      sb.append(df.queryExecution.executedPlan.toString.take(6000))
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get("EXPLAIN.md"), sb.toString)
    println(s"wrote EXPLAIN.md (${sb.length} chars)")
    spark.stop()
  }
}
