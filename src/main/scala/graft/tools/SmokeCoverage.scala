package graft.tools

/** Declarative scale-smoke coverage ledger (VERDICT r12 item 3).
  *
  * Every `SparkEntry.queries` name must appear in exactly one of the two
  * maps below: `covered` names the ScaleSmoke section (and timed label)
  * that measures the query's underlying operator 1×/K×, `exempt` records
  * WHY no dedicated K× wall-clock row is required. `SmokeCoverageSpec`
  * enforces totality and disjointness, so a new query cannot ship
  * smoke-less silently — adding a query without either a ScaleSmoke entry
  * or a documented exemption fails `sbt test`.
  *
  * The ledger is hand-maintained on purpose: the act of writing the row
  * forces the 100 TB question ("what axis would I blow up, and what is
  * the claim?") per operator, which is the value the smoke discipline
  * exists for. Measured profiles live in PERF.md.
  */
object SmokeCoverage {

  // Shared exemption rationales. Each names the structural reason the K×
  // axis carries no information a wall-clock row would add.
  private val CoreRelational =
    "core Spark relational plan — scaling is Spark's own exchange/join/agg " +
      "machinery (hash exchanges, SMJ/BHJ, partial aggregation); the graft " +
      "contribution is the plan SHAPE, locked by EXPLAIN.md + PlanSpec, " +
      "not a custom operator with its own scaling behavior"
  private val ScanFormat =
    "source/sink format round-trip — cost is the datasource scan/write " +
      "itself (split-parallel by Spark's FileFormat machinery); schema, " +
      "pushdown and pruning are plan-locked in the format specs"
  private val StreamingDrain =
    "streaming micro-batch drain — wall-clock floor is the micro-batch " +
      "engine's scheduling, not a plan shape; state boundedness (watermark " +
      "horizon / TTL / top-k caps) is certified in StreamingSpec and the " +
      "operator scaladoc, and cannot be K×-smoked meaningfully in a " +
      "fixed-fixture drain"
  private val MapSide =
    "pure map-side projection / single bounded aggregate — no exchange to " +
      "stress; linear-in-rows by construction (nothing accumulates state " +
      "beyond the fixed-size aggregation buffer)"

  /** query -> "smoke-section: timed label" in `ScaleSmoke`. */
  val covered: Map[String, String] = Map(
    "q31_asof_join" -> "temporal: temporalJoin (the asofJoin union-sort carry)",
    // same union-sort carry machinery, measured by the same section: the
    // nearest arm adds one reversed IN-PARTITION sort over the already
    // key-partitioned union (no second exchange), so its scaling axis is
    // identical to the backward arm the smoke times
    "q227_asof_nearest" -> "temporal: temporalJoin (the asofJoin union-sort carry)",
    "q47_curation" -> "dedup: corpusDecision",
    "q48_hash_split" -> "groupsplit: groupSplit (identical md5-bucket projection)",
    "q51_minhash_lsh" -> "dedup: minHashLsh",
    "q55_dedup_pipeline" -> "dedup: dedupNearDup",
    "q60_knn_bruteforce" -> "ann: knnBruteForce (fixed queries x Kx corpus)",
    // identical broadcast-anchors x corpus scan + WindowGroupLimit top-k;
    // the label filter only SHRINKS the scored stream
    "q229_hard_negatives" -> "ann: knnBruteForce (fixed queries x Kx corpus)",
    "q61_embedding_neardup" -> "ann: topPairs (capped hot buckets)",
    "q62_ann_lsh" -> "ann: annLsh",
    "q64_ann_ivf" -> "ann: ivfSearch",
    "q65_semantic_dedup" -> "ann: semanticDedup",
    "q66_contam" -> "dedup: contamination",
    "q67_corpus" -> "dedup: corpusDecision",
    "q68_kmv_distinct" -> "events: kmv / kmvSketch",
    "q69_funnel" -> "events: funnel",
    "q74_pack_shards" -> "pack: packShards",
    "q101_funnel_gap" -> "events: funnel (gap-bounded variant, same sort)",
    "q102_chunking" -> "chunk: chunkDocuments",
    "q103_retention" -> "events: retention",
    "q104_cohort_funnel" -> "events: funnel + retention (composition)",
    "q105_simhash_neardup" -> "simhash: simHashNearDup",
    "q106_weighted_sample" -> "sample: weightedSample",
    "q107_lm_quality" -> "sample: lmScore",
    "q108_simhash_dedup" -> "simhash: simHashDedup",
    "q109_bm25" -> "bm25: bm25",
    "q110_pagerank" -> "pagerank: pageRank",
    "q111_triangles" -> "triangle: triangleCount",
    "q112_zorder" -> "zorder: zorderCluster",
    "q113_sessionize" -> "sessionize: sessionize",
    "q114_incremental_agg" -> "incagg: incrementalAgg (aggState + mergeAggStates)",
    "q115_fuzzy_join" -> "fuzzy: fuzzyJoin",
    "q116_scd2" -> "scd2: scd2",
    "q117_skyline" -> "skyline: skyline",
    "q118_vocab_coverage" -> "vocab: vocabCoverage",
    "q119_corpus_mix" -> "mix: corpusMix",
    "q120_hist_quantiles" -> "sketchmerge: histMerge (same state + walk)",
    "q121_temporal_join" -> "temporal: temporalJoin",
    "q122_boilerplate" -> "boiler: removeBoilerplate",
    "q123_char_entropy" -> "entropy: charEntropy",
    "q124_corpus_overlap" -> "overlap: corpusOverlap",
    "q125_countmin" -> "countmin: countMin",
    "q126_pmi" -> "pmi: pmiCollocations",
    "q127_zipf" -> "zipf: zipfFit",
    "q128_group_quantiles" -> "gquant: groupQuantiles",
    "q129_js_divergence" -> "jsd: jsDivergence",
    "q131_embedding_cov" -> "embcov: embeddingCovariance",
    "q132_quantize_int8" -> "embcov: quantizeInt8",
    "q133_profile" -> "profile: profileTable",
    "q134_skipgram" -> "skipgram: skipGramCounts",
    "q135_hll_distinct" -> "hll: hllSketch",
    "q136_transitions" -> "transitions: transitionMatrix",
    "q137_inverted_index" -> "invidx: invertedIndex",
    "q139_bfs_paths" -> "bfs: shortestPaths",
    "q140_concurrency" -> "stats: intervalConcurrency",
    "q141_trend" -> "stats: groupedTrend",
    "q142_outliers" -> "stats: groupZScoreOutliers",
    "q143_chunk_dedup" -> "chunkdedup: chunkDedup",
    "q146_binary_source" -> "binary: binaryIngest",
    "q147_session_funnel" -> "sessfunnel: sessionFunnel",
    "q149_bloom_filter" -> "bloom: bloomProbe",
    "q152_kmv_setops" -> "kmvsetops: kmvSetOps",
    "q153_incremental_neardup" -> "incneardup: incrementalNearDup",
    "q154_kmeans" -> "kmeans: kMeans",
    "q155_heavy_hitters" -> "heavyhit: heavyHitters",
    "q156_kcore" -> "kcore: kCore",
    "q157_dup_spans" -> "dupspans: dupSpans",
    "q232_span_scrub" ->
      "dupspans: scrubDupSpans (coverage anti-join at full volume)",
    "q234_gram_novelty" ->
      "dupspans: gramNovelty (K-way owner collisions)",
    "q235_frame_simhash" ->
      "simhash: frameSimHashNearDup (Hamming-0 K-clique output)",
    "q237_matryoshka_recall" ->
      "ann: knnBruteForce (each truncated leg IS the smoked leg over sliced vectors)",
    "q159_setsim_join" -> "setsim: setSimilarityJoin",
    "q163_sorted_neighborhood" -> "snm: sortedNeighborhood",
    "q164_linkage_score" -> "snm: linkageScore",
    "q165_cooccurrence" -> "events10b: coOccurrence",
    "q166_attribution" -> "events10b: touchAttribution",
    "q167_containment" -> "containment: containmentJoin",
    "q168_seasonal" -> "events10b: seasonalDecompose",
    "q169_skip_stats" -> "skipstats: skipStats",
    "q170_session_paths" -> "events10b: sessionPaths",
    "q172_mad_outliers" -> "events10b: madOutliers",
    "q174_active_users" -> "events10b: activeUsers",
    "q175_target_encode" -> "eval: targetEncode",
    "q176_bpe_merges" -> "bpe: bpeMerges",
    "q177_neighborhood_agg" -> "gnn: neighborhoodAgg",
    "q178_bpe_fertility" -> "bpe: bpeFertility",
    "q179_grouped_auc" -> "eval: groupedAuc",
    "q180_ab_test" -> "eval: abTest",
    "q182_xml_scan" -> "xmlrt: xmlRoundTrip",
    "q184_ks_test" -> "eval: ksTest",
    "q185_psi" -> "eval: psi",
    "q187_dedup_audit" -> "audit: dedupAudit",
    "q193_setsim_capped" -> "setsim: setSimilarityJoinCapped",
    "q194_containment_capped" -> "containment: containmentJoinCapped",
    "q196_k_anonymity" -> "r11ops: kAnonymityAudit",
    "q197_cusum_drift" -> "r11ops: cusumAlarms",
    "q198_rfm_segments" -> "r11ops: rfmSegments",
    "q200_temperature_mix" -> "r11ops: temperatureMix",
    "q201_generalization" -> "r11ops: generalizationLadder",
    "q202_resample_interp" -> "r11ops: resampleInterp",
    "q203_lateral_topn" -> "lateral: lateralTopN",
    "q204_observe_metrics" -> "observe: observeMetrics",
    "q207_ewma_smooth" -> "r11ops: ewmaSmooth",
    "q208_merge_actions" -> "r11ops: mergeActions",
    "q209_woe_iv" -> "r13eval: woeIv",
    "q210_forecast_backtest" -> "r13eval: forecastBacktest",
    "q211_winsorize" -> "r13eval: winsorize",
    "q212_gdpr_purge" -> "purge: gdprPurge",
    "q214_canonical_pick" -> "r11ops: canonicalPick",
    "q215_hll_merge" -> "sketchmerge: hllMerge",
    "q217_state_occupancy" -> "r13eval: stateOccupancy",
    "q218_recommend" -> "r13eval: recommendItems",
    "q226_recommend_capped" -> "r13eval: recommendItemsCapped",
    "q219_cuped" -> "r13eval: cuped",
    "q220_mix_shift" -> "r13eval: mixShift",
    "q221_group_split" -> "groupsplit: groupSplit",
    "q222_hist_merge" -> "sketchmerge: histMerge",
    "q223_kmv_merge" -> "sketchmerge: kmvMerge",
    "q224_bloom_merge" -> "sketchmerge: bloomMerge",
    "q225_countmin_merge" -> "sketchmerge: countMinMerge"
  )

  /** query -> documented reason no dedicated K× smoke row is required. */
  val exempt: Map[String, String] = Map(
    // -- round-17 second batch (q238-q243): every one rides an exchange
    //    an existing smoke row already prices; the 10x tier rows carry
    //    their own measured ratios --
    "q238_chi2_drift" -> ("the smoked mixShift row (r13eval section) " +
      "prices the identical corpus axis — one midpoint pre-scan + ONE " +
      "keyed collapse to |cats|x2 cells with map-side partials; " +
      "everything after (margins, spine, terms, statistic) lives on the " +
      "cells-bounded checkpointed frame"),
    "q239_domain_cap" -> ("ONE group-keyed window exchange shared by " +
      "row_number and the group count (subset partitioning, sort only) — " +
      "the exact exchange the smoked sessionize row prices at Kx; " +
      "verdicts are map-side, output is the input's own volume"),
    "q240_pq_codebook" -> ("assignment is the smoked kMeans row's " +
      "broadcast-centroids-x-corpus-scan shape WITHOUT the iteration " +
      "loop (one pass, map-side HOF fold over the few-KB codebook); the " +
      "only exchange carries the (sub x code)-bounded partial aggregates"),
    "q241_snapshot_fingerprint" -> ("two corpus scans each folding " +
      "straight into one keyed count+sum aggregate with map-side " +
      "partials (MapSide class, the exchange being Spark's own partial " +
      "aggregation); the snapshot diff is a |groups|-bounded outer join"),
    "q242_decile_lift" -> ("unit collapse + the q198 two-pass global " +
      "index machinery the smoked rfmSegments row (r11ops section) " +
      "prices — one range shuffle of the collapsed unit frame; the " +
      "gains window runs on the ten-row decile frame"),
    "q243_epoch_shuffle" -> ("the smoked packShards row (pack section) " +
      "prices the IDENTICAL bucketed exchange + Buckets-row offset " +
      "broadcast — only the per-bucket accumulator differs (row_number " +
      "vs running token sum); shard/pos math is map-side"),
    // -- round-17 third batch (q244-q247) --
    "q244_kaplan_meier" -> ("ONE user-keyed collapse with map-side " +
      "partials (the corpus axis the smoked sessionize/cadence rows " +
      "price); the life table, risk windows and O(k^2) survival folds " +
      "all live on the (groups x DAYS)-bounded frame — k is the " +
      "observation span, never corpus size"),
    "q245_link_prediction" -> ("the q165 coOccurrence smoke row " +
      "(events10b section) prices the identical cap-before-pairing " +
      "shape: per-center WindowGroupLimit prune to m neighbors, then a " +
      "center-keyed self-join bounded at m^2/2 pairs per center; the " +
      "anti-join and top-k are TakeOrderedAndProject-bounded"),
    "q246_t_closeness" -> ("two corpus collapses with map-side partials " +
      "(QI-keyed and (QI, bucket)-keyed — the q196 exchange the privacy " +
      "audit already rides); everything after lives on the " +
      "(classes x B)-bounded grid"),
    "q247_label_separation" -> ("member pass is the pqAudit shape — " +
      "broadcast few-KB centroid row, map-side HOF fold, " +
      "|labels|-bounded partials as the only exchange; the smoked " +
      "kMeans row prices the same broadcast-centroids-x-corpus scan; " +
      "inter pass is a |labels|^2-bounded self-join"),
    "q248_attribution_models" -> ("rides the q166 session machinery " +
      "verbatim (the smoked sessionize exchange); per-conversion touch " +
      "lists are session-gap-bounded, credit math is map-side, the " +
      "roll-up channels-bounded"),
    "q249_spearman_corr" -> ("the rank passes are q184's two-level " +
      "prefix-sum decomposition over COLLAPSED value frames (the ks " +
      "smoke's machinery — bucket-local windows + bounded offsets, no " +
      "per-group corpus sort; the naive window form priced 6.75x for " +
      "10x on 3-group skew and was replaced, tier re-priced 1.5x); " +
      "moments are one keyed aggregate"),
    "q250_quantile_normalize" -> ("ONE corpus collapse to (group, " +
      "value) cells; group ranks via the q249/q184 two-level bucketed " +
      "sums; the pooled grid lives on the VALUE frame (bounded by the " +
      "value domain, not the corpus) and joins back on a <= 1000-key " +
      "per-mille column — flat at the tier (1.1x for 10x)"),
    // -- round-18 batch (q253-q262) --
    "q259_hits" -> ("pageRank's iterative discipline verbatim (the " +
      "smoked pagerank exchange shape: per-iteration edge-keyed join + " +
      "keyed aggregate, 1-row max broadcasts, localCheckpoint per " +
      "round) — 1.3x at the 10x tier"),
    "q261_ndcg" -> ("bm25's two scans (the smoked bm25 shape: stats " +
      "broadcast, map-side scoring, TakeOrderedAndProject); both " +
      "position windows run on <= k-row frames and the ranked frame " +
      "broadcasts onto the relevance projection — 1.5x at the 10x tier"),
    "q262_stream_semi_join" -> StreamingDrain,
    "q263_cusum_drift" -> ("ONE days-bounded keyed aggregate over the " +
      "corpus (map-side partials); moments, collect and the ordered " +
      "fold all live on the <= |days| frame — 0.9x at the 10x tier"),
    "q264_conversion_lag" -> ("composes two smoked machines verbatim: " +
      "AsOf.asofJoin's one user-keyed window exchange + " +
      "groupQuantilesExact's one group-keyed window exchange — 2.0x at " +
      "the 10x tier"),
    "q265_wilson_ci" -> ("ONE groups-bounded keyed aggregate with " +
      "map-side partials; the interval chain is a map-side projection " +
      "over it — 1.0x at the 10x tier"),
    // -- round-19 batch (q267+) --
    "q267_sssp" -> ("the smoked bfs/pagerank iterative exchange shape " +
      "verbatim (per-round frontier-keyed join + keyed min aggregate + " +
      "improvement left-join, localCheckpoint with eager release); the " +
      "frontier SHRINKS toward convergence, so rounds cost less as the " +
      "graph settles — 1.2x at the 10x tier"),
    "q268_stream_update" -> StreamingDrain,
    "q279_stream_anti_join" -> StreamingDrain,
    "q280_stream_timeout_session" -> StreamingDrain,
    // -- round-20 batch (q281+) --
    "q281_isotonic" -> ("q181's broadcast-bounds corpus collapse to " +
      "<= 50 bin cells (map-side partials); the PAV max-min closed form " +
      "rides <= B^2 constant frames (one broadcast NLJ + one window min " +
      "+ one bounded max) — corpus cost is the ONE collapse; 0.7 s at " +
      "the 10x tier"),
    "q286_readability" -> ("pure map-side regex projection (three " +
      "codegen'd regexp counts + one pinned IEEE chain), ZERO shuffle " +
      "besides the output sort — scan-bound at any scale; 0.8 s at the " +
      "10x tier"),
    "q287_ab_power" -> ("ONE groups-x-2-bounded keyed aggregate with " +
      "map-side partials and exact DECIMAL moments; the arm pivot and " +
      "MDE chain ride the bounded frame — 0.5 s at the 10x tier"),
    "q288_mutual_info" -> ("ONE |X|x|Y|-bounded keyed collapse with " +
      "map-side partials; margins/entropies ride the bounded cell frame " +
      "via tiny broadcasts — 0.5 s at the 10x tier"),
    "q282_seq_patterns" -> ("ONE user-keyed window exchange caps each " +
      "sequence to 12 events BEFORE pairing (q218's cap-before-pairing " +
      "valve), so subsequence fan-out is <= C(12,3) per user and the " +
      "per-user DISTINCT collapses to <= |types|^3 before the support " +
      "count — 2.3 s at the 10x tier"),
    "q283_personalized_pagerank" -> ("q110's smoked per-round shape " +
      "verbatim (one equality join + one shuffle-on-destination exact " +
      "sum, localCheckpoint with eager release); only the teleport " +
      "routing differs — 2.6 s at the 10x tier"),
    "q284_ktruss" -> ("per-round triangle enumeration via q111's " +
      "degree-ordered orientation (wedge fan-out capped O(sqrt E) per " +
      "node; the unoriented form measured 85 s at the tier and was " +
      "rewritten pre-commit, 4.6x); 4 bounded peels on the sampled " +
      "co-supply graph — 18.4 s at the 10x tier, dominated by the " +
      "fixture graph's documented densification (q111's artifact), " +
      "30x-probed"),
    "q285_logrank" -> ("q244's ONE user-keyed collapse; lifetable, " +
      "pooled spine and before-t removals all ride <= |days|-bounded " +
      "frames (the q270 bounded-quadratic day-frame class) — 0.9 s at " +
      "the 10x tier"),
    "q289_bridges" -> ("bounded dataflow rounds in the q110 iterative " +
      "discipline end-to-end: q54 components for roots, BFS to frontier " +
      "exhaustion, one-parent-hop-per-round ancestor closure, ONE " +
      "subtree-XOR keyed aggregate — every frame O(V*depth) or O(E), " +
      "rounds scale with graph DIAMETER not size; 10.9 s at the 10x " +
      "tier vs 6.0 s at sf0.1 (1.8x for 10x — per-round fixed cost " +
      "dominates)"),
    "q269_concentration" -> ("ONE corpus unit collapse (map-side " +
      "partials), then the q249/q184 two-level bucketed decomposition " +
      "on the (group, value) frame — no group-partitioned corpus " +
      "window — and a groups-bounded finalize; 1.0x at the 10x tier"),
    "q270_robust_trend" -> ("ONE days-bounded keyed collapse; the pair " +
      "join, slope sort and every aggregate live on <= |days| and " +
      "<= |days|^2/2 frames (the kaplanMeier bounded-quadratic class) " +
      "— 0.8x at the 10x tier (fixed-cost dominated)"),
    "q271_vocab_richness" -> ("ONE token-keyed count aggregate (the " +
      "dedup-class skinny shuffle), a (group, frequency)-bounded " +
      "collapse, groups-bounded finalize; the corpus never sorts — " +
      "1.1x at the 10x tier"),
    "q272_acf" -> ("ONE days-bounded keyed collapse; index window, lag " +
      "self-joins and moments all on the <= |days| frame — 1.0x at " +
      "the 10x tier"),
    "q273_burstiness" -> ("ONE user-keyed window exchange for the lag " +
      "(fine-grained keys, never a per-type corpus window) + one " +
      "types-bounded aggregate with map-side partials — 1.8x at the " +
      "10x tier"),
    "q275_degree_distribution" -> ("one symmetrize+distinct + ONE " +
      "node-keyed degree count (map-side partials); spectrum, CCDF " +
      "window and the tail fold all on the <= |distinct degrees| " +
      "frame — 1.1x at the 10x tier"),
    "q276_normalization_impact" -> ("pure map-side digest projection + " +
      "ONE groups-bounded aggregate with two exact distinct-counts; " +
      "only digests shuffle, never bodies — 3.2x at the 10x tier " +
      "(digest-volume linear)"),
    "q277_split_leakage" -> ("minHashLsh's smoked banding machinery " +
      "verbatim + two id-keyed joins of the bounded pair frame against " +
      "the map-side split projection — 1.3x at the 10x tier"),
    "q278_neyman_allocation" -> ("ONE strata-bounded keyed aggregate " +
      "with map-side partials; quotas, floors and the remainder " +
      "ranking all ride the <= |strata| frame — 1.0x at the 10x tier"),
    "q274_join_view_maintenance" -> ("four fact-fact join+aggregate " +
      "legs whose DELTA sides bound the maintenance work (the base x " +
      "base leg exists only for the certificate's V0); SMJ at scale " +
      "by design (statsSensitive — both sides corpus-growing); 5.6x " +
      "at the 10x tier, 3.8x for 3x at the 30x probe (linear with " +
      "shuffle overhead, no quadratic signature)"),
    "q266_centroid_drift" -> ("ONE (side x d)-bounded keyed aggregate " +
      "over the exploded corpus (map-side partials); centroids, " +
      "moments and the cosine tail all live on <= d rows — 1.1x at " +
      "the 10x tier"),
    "q253_kruskal_wallis" -> ("ONE corpus collapse to (group, value) " +
      "cells, then the q249/q184 two-level GLOBAL rank decomposition " +
      "(bucket-local windows + a buckets-bounded offset frame); " +
      "everything after is groups-bounded — 1.5x at the 10x tier"),
    "q254_robust_profile" -> ("two groupQuantilesExact passes (each the " +
      "smoked q228 one-window shape) + one keyed aggregate; the median " +
      "frames broadcast back by construction — 1.4x at the 10x tier"),
    "q255_vocab_growth" -> ("one token-keyed min aggregate with " +
      "map-side partials (the dedup-class digest shuffle the smoke " +
      "prices via q50); bucket aggregates and the running sum live on " +
      "<= buckets rows — 1.9x at the 10x tier"),
    "q256_entropy_ldiv" -> ("ONE (class, value) collapse; the class " +
      "total rides a window on the SAME partitioning (subset key, sort " +
      "only), terms map-side, roll-up classes-bounded — 1.1x at the " +
      "10x tier"),
    "q257_cohen_kappa" -> ("ONE |cats|^2-bounded cell collapse with " +
      "map-side partials; margins/diagonal/pe are folds over that " +
      "bounded frame plus three 1-row broadcasts — 1.4x at the 10x " +
      "tier"),
    "q258_agg_merge" -> ("two keyed moment aggregates (map-side " +
      "partials) + a key-keyed join of already-aggregated frames; " +
      "nothing rescans the other snapshot — 2.3x at the 10x tier is " +
      "the scan pair's linear cost"),
    "q251_profile_drift" -> ("two single-pass profile scans (the q133 " +
      "exact-distinct Expand plan — Spark's own aggregation machinery, " +
      "CoreRelational class); the diff lives on |cols|-row frames and " +
      "broadcasts by construction; 2.3x at the 10x tier is the scan " +
      "pair's own linear cost"),
    // -- core relational plans (shape locked, machinery is Spark's) --
    "q01_pricing_summary" -> CoreRelational,
    "q02_filter_project" -> CoreRelational,
    "q03_top_orders" -> CoreRelational,
    "q04_broadcast_brand" -> CoreRelational,
    "q05_region_revenue" -> CoreRelational,
    "q06_semi_join" -> CoreRelational,
    "q07_anti_join" -> CoreRelational,
    "q08_outer_join" -> CoreRelational,
    "q09_window_rank" -> CoreRelational,
    "q10_window_running" -> CoreRelational,
    "q11_lag_lead" -> CoreRelational,
    "q12_rollup" -> CoreRelational,
    "q13_cube" -> CoreRelational,
    "q14_grouping_sets" -> CoreRelational,
    "q15_distinct_agg" -> CoreRelational,
    "q16_topk" -> CoreRelational,
    "q17_setops" -> CoreRelational,
    "q18_string_funcs" -> MapSide,
    "q19_date_funcs" -> MapSide,
    "q20_case_math" -> MapSide,
    "q21_json_extract" -> MapSide,
    "q22_exists_subquery" -> CoreRelational,
    "q23_having" -> CoreRelational,
    "q24_scalar_subquery" -> CoreRelational,
    "q25_percentiles" -> CoreRelational,
    "q26_pivot" -> CoreRelational,
    "q27_minmax_by" -> CoreRelational,
    "q28_array_agg" -> CoreRelational,
    "q33_from_json" -> MapSide,
    "q34_range_frame" -> CoreRelational,
    "q35_unpivot" -> MapSide,
    "q36_band_join" -> CoreRelational,
    "q37_multiset_ops" -> CoreRelational,
    "q38_listagg" -> CoreRelational,
    "q39_lateral" -> CoreRelational,
    "q49_window_distribution" -> CoreRelational,
    "q77_stats_agg" -> CoreRelational,
    "q78_time_range_frame" -> CoreRelational,
    "q79_bool_agg" -> CoreRelational,
    "q89_bucketed_join" -> (CoreRelational +
      "; shuffle-free co-location additionally locked by BucketingSpec"),
    "q99_recursive_cte" -> ("iterative driver loop with a convergence-bounded " +
      "round count; each round is a core-relational join+union whose plan " +
      "is Spark's own — per-round shape identical to the smoked " +
      "pageRank/kCore rounds"),
    "q100_bucket_pruning" -> (CoreRelational +
      "; pruning proof is the plan lock (PartitionPruning/BucketingSpec)"),
    // -- source/sink formats --
    "q29_csv_scan" -> ScanFormat,
    "q30_json_scan" -> ScanFormat,
    "q92_text_scan" -> ScanFormat,
    "q93_orc_scan" -> ScanFormat,
    "q95_jdbc_scan" -> (ScanFormat + "; JDBC parallelism is the " +
      "partitionColumn/numPartitions contract, exercised in the source spec"),
    "q96_partitioned_sink" -> (ScanFormat +
      "; layout + pruning locked by PartitionPruningSpec"),
    "q97_variant" -> MapSide,
    "q98_compaction" -> (ScanFormat + "; the compaction pass is one " +
      "repartition write whose cost IS the write"),
    "q192_avro_scan" -> ScanFormat,
    "q216_schema_evolution" -> (ScanFormat + "; mergeSchema unifies footers " +
      "at listing time — per-file cost is flat by construction"),
    // -- streaming drains --
    "q80_tumbling_window" -> StreamingDrain,
    "q81_session_window" -> StreamingDrain,
    "q82_stream_tumbling" -> StreamingDrain,
    "q83_sliding_window" -> StreamingDrain,
    "q84_gap_fill" -> StreamingDrain,
    "q85_stream_sliding" -> StreamingDrain,
    "q86_stream_join" -> StreamingDrain,
    "q87_stream_upsert" -> StreamingDrain,
    "q88_typed_sessions" -> StreamingDrain,
    "q130_stream_countmin" -> StreamingDrain,
    "q138_stream_hll" -> StreamingDrain,
    "q144_stream_dedup" -> StreamingDrain,
    "q145_stream_enrich" -> StreamingDrain,
    "q148_stream_dedup_ttl" -> StreamingDrain,
    "q150_stream_bloom" -> StreamingDrain,
    "q151_stream_session" -> StreamingDrain,
    "q191_stream_append" -> StreamingDrain,
    "q195_stream_outer_join" -> StreamingDrain,
    "q252_stream_full_outer" -> StreamingDrain,
    "q199_stream_restart" -> StreamingDrain,
    "q205_stream_rocksdb" -> StreamingDrain,
    "q206_stream_topk" -> StreamingDrain,
    "q213_stream_quarantine" -> StreamingDrain,
    // -- map-side / bounded-aggregate text & stats ops --
    "q40_token_stats" -> MapSide,
    "q41_trigram_profile" -> ("corpus collapses to a trigram-bounded " +
      "aggregate (map-side partials into a fixed key space) — the one " +
      "exchange carries ≤ |trigram alphabet| rows at any corpus size"),
    "q42_quality_score" -> MapSide,
    "q43_fingerprint" -> MapSide,
    "q44_lang_id" -> MapSide,
    "q45_regex_tokens" -> MapSide,
    "q46_winnowing" -> MapSide,
    "q56_tfidf" -> ("same two-scan + vocab-bounded df-aggregate shape as " +
      "the smoked bm25 (bm25 section) — the K× axis is priced there"),
    "q57_repetition" -> MapSide,
    "q58_scrub" -> MapSide,
    "q94_geomean" -> ("single UDAF aggregate with map-side partials — the " +
      "buffer is two scalars per group; linearity structural"),
    "q160_validate" -> ("one scan folding into constraint counters " +
      "(bounded agg) — no exchange beyond the final 1-row collapse"),
    "q181_calibration" -> ("bins-bounded aggregate (≤ nBins rows after the " +
      "first exchange) — the smoked histMerge prices the identical state shape"),
    "q183_welch_test" -> ("corpus collapses to two 1-row moment frames " +
      "before any statistics — the crossJoin is 1-row × 1-row broadcast"),
    "q188_benford" -> ("digit-spine aggregate (9 rows) — bounded by " +
      "construction before any join"),
    // -- parity / reference-shape operators --
    "q90_unique_prefix" -> ("O3/O9 parity mapper: per-partition sort + " +
      "adjacent-duplicate scan — ParitySpec property-locks the O7 " +
      "key-integrity range shuffle that carries it; per-partition state " +
      "is one carried key"),
    "q91_mapreduce_wordcount" -> ("O2/O7/O8 parity chain: map projection + " +
      "the job's one hash shuffle on the key + ordered fold — same ParitySpec " +
      "property locks, MapReduceJobSpec pins the single exchange; the fold " +
      "state is one (key, count) pair per partition"),
    "q32_salted_agg" -> ("the skew MITIGATION itself — salt fan-out bounds " +
      "per-key partition load by construction (salt × keys exchange rows); " +
      "certified by SkewSpec against the skewed fixture"),
    "q173_key_skew" -> ("diagnostic readout over a bounded top-k of keys — " +
      "output and state are k-bounded; the skew axis is its subject, not " +
      "its hazard"),
    // -- rides an already-smoked shape (pointer exemptions) --
    "q50_exact_dedup" -> ("one digest-keyed exchange (md5 winner-select) — " +
      "the doc-granularity degenerate form of the smoked chunkDedup winner " +
      "aggregate (chunkdedup section); bodies cross the wire once, " +
      "digests decide"),
    "q52_simhash" -> ("map-side 64-bit signature projection — the signing " +
      "stage of the smoked simHashNearDup (simhash section); no exchange " +
      "of its own"),
    "q53_ngram_jaccard" -> ("banded candidate-pair generation + exact " +
      "Jaccard — the candidate stage inside the smoked dedupNearDup " +
      "pipeline (dedup section), where the maxBandDf cap is priced at K×"),
    "q54_neardup_components" -> ("connectedComponents over q53 pairs — the " +
      "same size-adaptive components chain smoked via dedupNearDup and " +
      "canonicalPick (dedup / r11ops sections)"),
    "q59_strat_sample" -> ("per-stratum rank sample — one bounded-key " +
      "window, the identical shape smoked as weightedSample (sample section)"),
    "q73_merge_upsert" -> ("single key-window latest-wins upsert — " +
      "subsumed by the smoked mergeActions full-outer merge (r11ops " +
      "section), which generalizes this plan"),
    "q75_histogram" -> ("nBins-bounded histogram state — the exact state " +
      "whose build + merge the smoked histMerge row prices"),
    "q76_table_diff" -> ("one co-partitioned full-outer join on the key + " +
      "map-side digest compare — core exchange shape; output bounded by " +
      "the diff size"),
    "q161_label_propagation" -> ("iterative per-round edge-join + " +
      "mode-aggregate, round count capped — per-round shape identical to " +
      "the smoked pageRank/kCore rounds (pagerank/kcore sections)"),
    "q162_resample_locf" -> ("same per-key time-grid explode + window " +
      "carry as the smoked resampleInterp (r11ops section); LOCF is the " +
      "interpolation's degenerate carry"),
    "q171_equal_freq_bins" -> ("global ntile rank — the single-partition " +
      "stage priced by the woeIv K× smoke (r13eval section), with the same " +
      "documented 100 TB drop-in (broadcast quantile bounds)"),
    "q228_group_quantiles_exact" -> ("one key-partitioned row_number sort " +
      "— the same keyed-window exchange the smoked sessionize/cadence rows " +
      "price; per-group state is a single counter and the output is " +
      "(groups x quantile-points)-bounded; the approx scale path is the " +
      "smoked q128 histogram state (gquant section)"),
    "q230_weighted_quantiles" -> ("q228's keyed-window sort with a " +
      "running-sum accumulator instead of a row counter — identical " +
      "exchange, identical (groups x points)-bounded output; same q128 " +
      "approx scale path"),
    "q236_decayed_features" -> ("one broadcast 1-row horizon aggregate, " +
      "then a map-side pre-rounded-DECIMAL term projection + ONE keyed " +
      "aggregate with map-side partials — no window, no sort, no state " +
      "beyond the two-decimal aggregation buffer (MapSide class, with " +
      "the exchange being Spark's own partial aggregation)"),
    "q233_adaptive_gate" -> ("thresholds are q228's one keyed-window " +
      "exchange (its exemption rationale applies verbatim); the verdict " +
      "pass is a |groups|-row broadcast join + a map-side comparison — " +
      "no exchange over the corpus, nothing new to Kx-smoke; the 100 TB " +
      "standing gate swaps in the smoked q128 histogram thresholds with " +
      "the identical join-back shape"),
    "q231_group_mode" -> ("two bounded hash aggregates with map-side " +
      "combine — the shuffle carries only distinct (group, value) count " +
      "rows and the min_by struct state is one row per group; no window, " +
      "no sort, nothing to Kx-smoke beyond Spark's own partial " +
      "aggregation (CoreRelational class)"),
    "q189_funnel_latency" -> ("rides the smoked funnel sort (events " +
      "section); the latency roll-up is (stages × groups)-bounded"),
    "q190_event_cadence" -> ("per-user lag over the one user-key sort — " +
      "the smoked sessionize exchange; percentile state is group-bounded"),
    // -- similarity / ANN family --
    "q63_label_centroids" -> ("one label-keyed tree-merge aggregate to a " +
      "broadcast-sized centroid frame — the exact build stage inside the " +
      "smoked ivfSearch/semanticDedup rows (ann section)"),
    "q158_hybrid_rrf" -> ("RRF fusion of the smoked bm25 (bm25 section) " +
      "and a k-bounded vector top-k; the fusion join carries ≤ 2k rows " +
      "per query"),
    "q186_ann_recall" -> ("recall audit joins two k-bounded top-k frames " +
      "per query — inputs are the smoked ANN/brute legs, the audit join " +
      "is k × queries-bounded"),
    // -- multimodal --
    "q70_binary_meta" -> ("binaryFile ingest priced by the smoked " +
      "binaryIngest row (binary section); metadata extraction is map-side"),
    "q71_decode_features" -> ("per-row decode/feature-extract (map-side " +
      "over the smoked ingest path) — no exchange; batch shape certified " +
      "in MultimodalSpec"),
    "q72_frame_table" -> ("frame-sample posexplode is map-side fan-out " +
      "bounded by frames-per-asset; rides the smoked ingest path")
  )
}
