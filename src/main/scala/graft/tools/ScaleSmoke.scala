package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Dedup, TextAnalysis}

/** Scale-smoke harness: times the dedup/curation family on the fixture
  * corpus and on a K×-duplicated blow-up of it (ids offset per copy, text
  * identical — 100k docs at K=20 over sf0.1). The blow-up is the
  * adversarial regime the scale guards exist for: every document becomes a
  * K-sized exact-duplicate cluster, which un-collapsed/un-capped LSH
  * banding would turn quadratic (K² candidate rows per band per doc).
  * Near-linear wall-clock from 1× to K× is the evidence the guards work.
  *
  * Run: `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.tools.ScaleSmoke"`
  * Results are recorded in PERF.md; this is a measurement tool, not part of
  * the driver contract.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val k = sys.env.getOrElse("SPARK_GRAFT_SCALE_K", "20").toInt
    val spark = graft.LocalSession(32)

    val base = Tables.documents(spark, sfDir).select("doc_id", "text")
    val n = base.count()
    // K copies with disjoint id ranges; identical texts → K-sized exact-dup
    // clusters everywhere.
    val blown = (0 until k).map { c =>
      base.select((col("doc_id") + lit(c * 1000000L)).as("doc_id"), col("text"))
    }.reduce(_ union _).localCheckpoint()
    val bn = blown.count()

    // SPARK_GRAFT_SMOKE_ONLY=skyline,scd2 — run only matching sections in
    // an otherwise-fresh JVM. The full-suite numbers carry JVM-history
    // noise (a query identical in plan and input measured 3.3 s solo and
    // 60 s late in the K=20 suite); solo sections are the ground truth for
    // any row that looks anomalous, same playbook as Bench's
    // SPARK_GRAFT_ONLY (PERF.md).
    val onlySec: Option[Set[String]] = sys.env.get("SPARK_GRAFT_SMOKE_ONLY")
      .map(_.split(',').map(_.trim.toLowerCase).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty) // empty/blank env var = no filter, not "skip all"
    def section(name: String)(body: => Unit): Unit =
      if (onlySec.forall(_.exists(name.contains))) body

    def time(label: String, df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      // toRdd.count() iterates the query's OWN physical plan — every
      // column produced, one pass, row count back. A plain df.count()
      // lets Catalyst rewrite the plan for the count: for the
      // spine-LEFT-JOIN-shaped outputs (dupSpans, scrubDupSpans,
      // gramNovelty, the per-doc dedup verdicts) the grouped-unique
      // right side makes the whole join ELIMINABLE and the "timed"
      // query collapses to count(1) over the parquet relation —
      // measured: the dupspans rows timed a row count, not the
      // operator (round 17, probe committed in PERF.md). Bench has
      // always used a noop write for exactly this reason
      // (Bench.scala:9-10); this is the one-pass equivalent that also
      // returns the row count the label prints.
      val rows = df.queryExecution.toRdd.count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[scale] $label%-34s ${dt}%8.2fs  ($rows rows)")
      // Untimed GC so ContextCleaner can reclaim the previous query's
      // localCheckpoint blocks — without it the harness JVM accumulates
      // every K× fixture's dead blocks and late rows absorb the memory
      // pressure (the r8 skyline-1× 81 s artifact; solo it runs in 2 s).
      System.gc()
    }

    println(s"[scale] corpus 1x = $n docs, ${k}x = $bn docs")
    section("dedup") {
      time("dedupNearDup 1x", Dedup.dedupNearDup(base, "doc_id", "text"))
      time(s"dedupNearDup ${k}x", Dedup.dedupNearDup(blown, "doc_id", "text"))
      time("minHashLsh 1x", Dedup.minHashLsh(base, "doc_id", "text"))
      time(s"minHashLsh ${k}x (capped bands)", Dedup.minHashLsh(blown, "doc_id", "text"))
      time("contamination 1x", TextAnalysis.contamination(base, "doc_id", "text"))
      time(s"contamination ${k}x", TextAnalysis.contamination(blown, "doc_id", "text"))
      time("corpusDecision 1x", TextAnalysis.corpusDecision(base, "doc_id", "text"))
      time(s"corpusDecision ${k}x", TextAnalysis.corpusDecision(blown, "doc_id", "text"))
    }

    // Round-5 operators with scale-sensitive shapes: the packing prefix sum
    // (global-order dependency decomposed into bucket windows) and the
    // funnel's single-sort window stack. Near-linear 1x→Kx is the check.
    import graft.operators.{Analytics, Packing}
    def withTok(df: DataFrame) = df.select(col("doc_id"),
      expr("cast(size(filter(split(text, ' '), t -> t != '')) as bigint)")
        .as("n_tok"))
    section("pack") {
      time("packShards 1x", Packing.packShards(withTok(base), "doc_id", "n_tok", 2048L))
      time(s"packShards ${k}x", Packing.packShards(withTok(blown), "doc_id", "n_tok", 2048L))
    }
    // Each fixture-owning section is scoped in `locally` so its
    // localCheckpoint frames become unreachable when the section ends —
    // the per-query System.gc() then lets ContextCleaner actually release
    // the blocks. Without the scoping, every K× fixture stays strongly
    // referenced until main() returns and late sections run under
    // gigabytes of dead-but-live blocks (the r8 skyline-1× 47 s artifact;
    // scoped, the same measurement is ~3 s).
    section("events") {
      val ev = Tables.events(spark, sfDir)
      val evBlown = (0 until k).map { c =>
        ev.select((col("user_id") + lit(c * 1000000L)).as("user_id"), col("ts"),
          (col("event_id") + lit(c * 100000000L)).as("event_id"), col("event_type"))
      }.reduce(_ union _).localCheckpoint()
      val stages = Seq("signup", "view", "click", "purchase")
      time("funnel 1x", Analytics.funnel(ev.select("user_id", "ts", "event_id",
        "event_type"), Seq("user_id"), "ts", "event_id", "event_type", stages))
      time(s"funnel ${k}x", Analytics.funnel(evBlown, Seq("user_id"), "ts",
        "event_id", "event_type", stages))
      time("kmv 1x", Analytics.kmvDistinct(ev, "event_type", "user_id"))
      time(s"kmv ${k}x", Analytics.kmvDistinct(evBlown, "event_type", "user_id"))
      // The production sketch-only form (no exact-count leg) — this is the
      // one whose flat scaling matters at 100 TB.
      time("kmvSketch 1x", Analytics.kmvSketch(ev, "event_type", "user_id"))
      time(s"kmvSketch ${k}x", Analytics.kmvSketch(evBlown, "event_type", "user_id"))
      // Round-6 operators: retention (two bounded shuffles — per-user min-date
      // window + the distinct collapse) and chunking (pure map-side slice /
      // posexplode, no exchange at all — should scale almost exactly linearly
      // in input rows).
      time("retention 1x", Analytics.retention(ev, "user_id", "ts"))
      time(s"retention ${k}x", Analytics.retention(evBlown, "user_id", "ts"))
    }
    section("chunk") {
      time("chunkDocuments 1x",
        TextAnalysis.chunkDocuments(base, "doc_id", "text", 64, 16))
      time(s"chunkDocuments ${k}x",
        TextAnalysis.chunkDocuments(blown, "doc_id", "text", 64, 16))
    }
    // chunkDedup on the K× corpus: EVERY chunk sits in a K-wide exact
    // collision group, so the digest winner aggregate and the keep-flag
    // join carry maximal duplication — near-linear 1×→K× shows the
    // digest-only decision absorbs it (bodies still cross once).
    section("chunkdedup") {
      time("chunkDedup 1x", TextAnalysis.chunkDedup(base, "doc_id", "text"))
      time(s"chunkDedup ${k}x (all chunks K-dup)",
        TextAnalysis.chunkDedup(blown, "doc_id", "text"))
    }
    // Round-7/8 operators. simHashNearDup on the Kx corpus is the critical
    // row: every text is a K-sized identical cluster agreeing on ALL 4
    // bands, so every band signature is hot and `maxBandDf` governs both
    // runtime and recall — the raw pair operator must stay near-linear by
    // DROPPING over-cap clusters (documented contract), while simHashDedup
    // collapses them first and must also stay near-linear WITHOUT losing
    // them.
    section("simhash") {
      time("simHashNearDup 1x", Dedup.simHashNearDup(base, "doc_id", "text"))
      time(s"simHashNearDup ${k}x (capped)",
        Dedup.simHashNearDup(blown, "doc_id", "text"))
      time("simHashDedup 1x", Dedup.simHashDedup(base, "doc_id", "text"))
      time(s"simHashDedup ${k}x (collapse)",
        Dedup.simHashDedup(blown, "doc_id", "text"))
      // Frame-level perceptual twin: the blown corpus is K-sized
      // byte-identical payload clusters, so every cluster is a Hamming-0
      // K-clique — the output-quadratic adversarial regime the banding
      // df valve caps, same as simHashNearDup above.
      time("frameSimHashNearDup 1x",
        graft.operators.Multimodal.frameSimHashNearDup(base, "doc_id", "text"))
      time(s"frameSimHashNearDup ${k}x (h0 K-cliques)",
        graft.operators.Multimodal.frameSimHashNearDup(blown, "doc_id", "text"))
    }
    // Incremental near-dup at Kx: the index is 80% of the duplicated corpus
    // (every band hot — the cap governs), the batch 20%. The claim is the
    // daily-ingest cost profile: index signatures are a REUSED input (here
    // built untimed), so the timed leg is batch signing + one banding join.
    section("incneardup") {
      def halves(df: DataFrame) = (
        Dedup.minHashIndex(df.filter(col("doc_id") % 5 =!= 0), "doc_id", "text")
          .localCheckpoint(),
        df.filter(col("doc_id") % 5 === 0))
      val (idx1, new1) = halves(base)
      val (idxK, newK) = halves(blown)
      time("incrementalNearDup 1x",
        Dedup.incrementalNearDup(new1, idx1, "doc_id", "text"))
      time(s"incrementalNearDup ${k}x (hot bands)",
        Dedup.incrementalNearDup(newK, idxK, "doc_id", "text"))
    }
    section("sample") {
      time("weightedSample 1x", TextAnalysis.weightedSample(
        base.withColumn("w", length(col("text")).cast("double")), "doc_id", "w", 100))
      time(s"weightedSample ${k}x", TextAnalysis.weightedSample(
        blown.withColumn("w", length(col("text")).cast("double")), "doc_id", "w", 100))
      time("lmScore 1x", TextAnalysis.lmScore(base, "doc_id", "text",
        length(col("text")) % 2 === 0))
      time(s"lmScore ${k}x", TextAnalysis.lmScore(blown, "doc_id", "text",
        length(col("text")) % 2 === 0))
    }
    // Round-8 additions: bm25 (two scans + one broadcast row — flat per-row
    // cost at any K), and the graph pair on K DISJOINT copies of the
    // cust–supp graph (node ids prefixed per copy): same diameter, K× the
    // edges — rounds stay constant, per-round work scales linearly.
    import graft.operators.Graph
    section("bm25") {
      time("bm25 1x", TextAnalysis.bm25(base, "doc_id", "text",
        Seq("vector", "dup", "spark")))
      time(s"bm25 ${k}x", TextAnalysis.bm25(blown, "doc_id", "text",
        Seq("vector", "dup", "spark")))
    }
    section("pagerank") {
      val edges = Graph.custSuppEdges(spark, sfDir).localCheckpoint()
      val edgesBlown = (0 until k).map { c =>
        edges.select(concat(lit(s"$c|"), col("src")).as("src"),
          concat(lit(s"$c|"), col("dst")).as("dst"))
      }.reduce(_ union _).localCheckpoint()
      time("pageRank 1x", Graph.pageRank(edges, "src", "dst"))
      time(s"pageRank ${k}x (disjoint copies)",
        Graph.pageRank(edgesBlown, "src", "dst"))
    }
    // BFS on K disjoint copies: the source's component is ONE copy, so
    // rounds and frontier sizes are identical at any K — the only growth
    // is each round's scan/join over the K× edge set.
    section("bfs") {
      val bfsEdges = Graph.custSuppEdges(spark, sfDir).localCheckpoint()
      val bfsBlown = (0 until k).map { c =>
        bfsEdges.select(concat(lit(s"$c|"), col("src")).as("src"),
          concat(lit(s"$c|"), col("dst")).as("dst"))
      }.reduce(_ union _).localCheckpoint()
      time("shortestPaths 1x",
        Graph.shortestPaths(bfsEdges, "src", "dst", "c:28"))
      time(s"shortestPaths ${k}x (disjoint copies)",
        Graph.shortestPaths(bfsBlown, "src", "dst", "0|c:28"))
    }
    section("triangle") {
      val triEdges = Graph.suppPartEdges(spark, sfDir).localCheckpoint()
      val triBlown = (0 until k).map { c =>
        triEdges.select((col("src") + lit(c * 1000000L)).as("src"),
          (col("dst") + lit(c * 1000000L)).as("dst"))
      }.reduce(_ union _).localCheckpoint()
      time("triangleCount 1x", Graph.triangleCount(triEdges, "src", "dst"))
      time(s"triangleCount ${k}x (disjoint copies)",
        Graph.triangleCount(triBlown, "src", "dst"))
    }
    // Sessionize (one user-key sort), z-order clustering (map-side key +
    // one range exchange), and incremental agg (two bounded-key aggregates)
    // — all should scale linearly in input rows.
    import graft.operators.Layout
    section("sessionize") {
      val ev2 = Tables.events(spark, sfDir).select("user_id", "ts", "event_id")
      val ev2Blown = (0 until k).map { c =>
        ev2.select((col("user_id") + lit(c * 1000000L)).as("user_id"), col("ts"),
          (col("event_id") + lit(c * 100000000L)).as("event_id"))
      }.reduce(_ union _).localCheckpoint()
      time("sessionize 1x", Analytics.sessionize(ev2, "user_id", "ts", "event_id"))
      time(s"sessionize ${k}x",
        Analytics.sessionize(ev2Blown, "user_id", "ts", "event_id"))
    }
    section("zorder") {
      val li = Tables.lineitem(spark, sfDir).select("l_partkey", "l_suppkey")
      val liBlown = (0 until k).map(_ => li).reduce(_ union _).localCheckpoint()
      time("zorderCluster 1x", Layout.zorderCluster(li, "l_partkey", "l_suppkey"))
      time(s"zorderCluster ${k}x",
        Layout.zorderCluster(liBlown, "l_partkey", "l_suppkey"))
    }
    section("incagg") {
      val ords = Tables.orders(spark, sfDir)
      val ordsBlown = (0 until k).map(_ => ords).reduce(_ union _).localCheckpoint()
      def incAgg(df: org.apache.spark.sql.DataFrame) = {
        val cut = lit("1997-01-01").cast("timestamp")
        Analytics.mergeAggStates(
          Analytics.aggState(df.filter(col("o_orderdate") < cut),
            Seq("o_orderpriority"), "o_totalprice"),
          Analytics.aggState(df.filter(col("o_orderdate") >= cut),
            Seq("o_orderpriority"), "o_totalprice"),
          Seq("o_orderpriority"))
      }
      time("incrementalAgg 1x", incAgg(ords))
      time(s"incrementalAgg ${k}x", incAgg(ordsBlown))
    }
    // fuzzyJoin on the k×-duplicated corpus is the all-blocks-hot regime:
    // every text appears k times, so every prefix block carries k× rows and
    // the maxBlockDf cap (not fixture luck) governs the join volume.
    section("fuzzy") {
      time("fuzzyJoin 1x", Dedup.fuzzyJoin(base, "doc_id", "text"))
      time(s"fuzzyJoin ${k}x (duplicated corpus)",
        Dedup.fuzzyJoin(blown, "doc_id", "text"))
    }
    // scd2 over k disjoint user-id copies: same runs per user, k× the keys.
    section("scd2") {
      val ev3 = Tables.events(spark, sfDir)
        .select("user_id", "ts", "event_id", "event_type")
      val ev3Blown = (0 until k).map { c =>
        ev3.select((col("user_id") + lit(c * 1000000L)).as("user_id"), col("ts"),
          (col("event_id") + lit(c * 100000000L)).as("event_id"),
          col("event_type"))
      }.reduce(_ union _).localCheckpoint()
      time("scd2 1x", Analytics.scd2(ev3, "user_id", "ts", "event_id", "event_type"))
      time(s"scd2 ${k}x",
        Analytics.scd2(ev3Blown, "user_id", "ts", "event_id", "event_type"))
    }
    // temporal (PIT) join over scd2 intervals on k disjoint user-id copies:
    // k× the keys, same per-key run structure — the one union-sort per key
    // family (asofJoin's carry) is the claim under test; no range join may
    // appear at any K.
    section("temporal") {
      import graft.operators.AsOf
      def evT(df: DataFrame) = df.select("user_id", "ts", "event_id", "event_type")
      val evBase = evT(Tables.events(spark, sfDir)).localCheckpoint()
      val evTBlown = (0 until k).map { c =>
        evBase.select((col("user_id") + lit(c * 1000000L)).as("user_id"), col("ts"),
          (col("event_id") + lit(c * 100000000L)).as("event_id"), col("event_type"))
      }.reduce(_ union _).localCheckpoint()
      def pit(df: DataFrame) = {
        val dim = Analytics.scd2(
          df.filter(col("event_type").isin("signup", "purchase")),
          "user_id", "ts", "event_id", "event_type")
        val facts = df.filter(col("event_type").isin("click", "view"))
          .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
        AsOf.temporalJoin(facts, dim, "user_id", "us", "valid_from_us",
          Seq("event_type"))
      }
      time("temporalJoin 1x", pit(evBase))
      time(s"temporalJoin ${k}x (disjoint keys)", pit(evTBlown))
    }
    // vocabCoverage: the token aggregate is the only corpus-sized stage;
    // the duplicated corpus multiplies counts, not vocab. corpusMix: the
    // max-quota WindowGroupLimit caps per-group state regardless of K.
    section("vocab") {
      time("vocabCoverage 1x",
        TextAnalysis.vocabCoverage(base, "doc_id", "text"))
      time(s"vocabCoverage ${k}x",
        TextAnalysis.vocabCoverage(blown, "doc_id", "text"))
    }
    section("mix") {
      val w = Map("en" -> 0.5, "zh" -> 0.2, "de" -> 0.2, "fr" -> 0.1)
      val langs = Tables.documents(spark, sfDir).select("doc_id", "lang")
      val langsBlown = (0 until k).map { c =>
        langs.select((col("doc_id") + lit(c * 1000000L)).as("doc_id"),
          col("lang"))
      }.reduce(_ union _).localCheckpoint()
      time("corpusMix 1x", TextAnalysis.corpusMix(langs, "doc_id", "lang", w, 1000L))
      time(s"corpusMix ${k}x",
        TextAnalysis.corpusMix(langsBlown, "doc_id", "lang", w, 1000L))
    }
    // skyline over k unioned lineitem copies: k× rows, identical frontier
    // (duplicates are frontier ties) — the prune stages absorb the blowup.
    section("skyline") {
      val sky = Tables.lineitem(spark, sfDir)
        .select("l_orderkey", "l_extendedprice", "l_quantity")
      val skyBlown = (0 until k).map(_ => sky).reduce(_ union _).localCheckpoint()
      time("skyline 1x", Analytics.skyline(sky, "l_extendedprice", "l_quantity"))
      time(s"skyline ${k}x", Analytics.skyline(skyBlown, "l_extendedprice", "l_quantity"))
    }
    // boilerplate on the Kx corpus is the adversarial regime: every segment's
    // df is multiplied by K, so most of the corpus crosses maxDf and the
    // boiler set is LARGE — the digest-only df aggregate must stay bounded
    // and the anti-join must not quadratize. entropy is a pure map-side
    // fold (linear by construction). corpusOverlap keeps sketch state at
    // |groups|×32 longs regardless of K — only the exact-audit leg grows.
    section("boiler") {
      time("removeBoilerplate 1x",
        TextAnalysis.removeBoilerplate(base, "doc_id", "text"))
      time(s"removeBoilerplate ${k}x (all-hot dfs)",
        TextAnalysis.removeBoilerplate(blown, "doc_id", "text"))
    }
    section("entropy") {
      time("charEntropy 1x", TextAnalysis.charEntropy(base, "doc_id", "text"))
      time(s"charEntropy ${k}x", TextAnalysis.charEntropy(blown, "doc_id", "text"))
    }
    section("overlap") {
      val grouped = base.withColumn("grp", concat(lit("g"), col("doc_id") % 8))
      val groupedBlown = blown.withColumn("grp", concat(lit("g"), col("doc_id") % 8))
      time("corpusOverlap 1x (8 groups)",
        Dedup.corpusOverlap(grouped, "grp", "text"))
      time(s"corpusOverlap ${k}x (8 groups)",
        Dedup.corpusOverlap(groupedBlown, "grp", "text"))
    }
    // Sketch/statistics family: countMin's cell aggregate is bounded at
    // depth×width regardless of K; pmi/zipf collapse the corpus to
    // pair/type counts (duplication multiplies counts, not keys); the
    // grouped-quantile walk is |groups|×nBins; jsd joins collapsed
    // (group, token) counts. All should be K-flat except the map-side scan.
    import graft.operators.Analytics.{countMinEstimate, groupedHistogramQuantiles}
    section("countmin") {
      def toks(df: DataFrame) = df.select(
        explode(expr("filter(split(text, ' '), t -> t != '')")).as("tok"))
      val probes = Seq("spark", "vector", "table", "dup", "row", "quantum")
      time("countMin 1x", countMinEstimate(toks(base), "tok", probes))
      time(s"countMin ${k}x", countMinEstimate(toks(blown), "tok", probes))
    }
    // Bloom: like countMin, the bit aggregate is bounded (≤ m rows) at any
    // K — the map-side partial DISTINCT collapses each task to ≤ m rows
    // before the one exchange, so K× duplicated tokens cost only the scan.
    section("bloom") {
      def toksB(df: DataFrame) = df.select(
        explode(expr("filter(split(text, ' '), t -> t != '')")).as("tok"))
      val probes = Seq("spark", "vector", "table", "dup", "row", "quantum")
      time("bloomProbe 1x", Analytics.bloomProbe(toksB(base), "tok", probes))
      time(s"bloomProbe ${k}x (pure duplicates)",
        Analytics.bloomProbe(toksB(blown), "tok", probes))
    }
    section("pmi") {
      time("pmiCollocations 1x", TextAnalysis.pmiCollocations(base, "doc_id", "text"))
      time(s"pmiCollocations ${k}x",
        TextAnalysis.pmiCollocations(blown, "doc_id", "text"))
    }
    section("zipf") {
      time("zipfFit 1x", TextAnalysis.zipfFit(base, "doc_id", "text"))
      time(s"zipfFit ${k}x", TextAnalysis.zipfFit(blown, "doc_id", "text"))
    }
    section("gquant") {
      def withLen(df: DataFrame) = df
        .withColumn("grp", concat(lit("g"), col("doc_id") % 8))
        .withColumn("len", length(col("text")).cast("double"))
      time("groupQuantiles 1x", groupedHistogramQuantiles(
        withLen(base), "grp", "len", 0.0, 50.0, 16, Seq(0.5, 0.9, 0.99)))
      time(s"groupQuantiles ${k}x", groupedHistogramQuantiles(
        withLen(blown), "grp", "len", 0.0, 50.0, 16, Seq(0.5, 0.9, 0.99)))
    }
    section("jsd") {
      def grouped(df: DataFrame) =
        df.withColumn("grp", concat(lit("g"), col("doc_id") % 8))
      time("jsDivergence 1x (8 groups)",
        TextAnalysis.jsDivergence(grouped(base), "grp", "text"))
      time(s"jsDivergence ${k}x (8 groups)",
        TextAnalysis.jsDivergence(grouped(blown), "grp", "text"))
    }
    // Embedding ops: covariance pays a d(d+1)/2 map-side fan-out per vector
    // (the honest exact-covariance cost — linear in vectors at fixed d);
    // quantization is one d-row aggregate + a map-side projection; profiling
    // is one scan with Expand-widened distincts.
    import graft.operators.{Relational, Similarity}
    section("embcov") {
      val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
        .localCheckpoint()
      val embBlown = (0 until k).map { c =>
        emb.select((col("vec_id") + lit(c * 1000000L)).as("vec_id"),
          col("embedding"))
      }.reduce(_ union _).localCheckpoint()
      time("embeddingCovariance 1x", Similarity.embeddingCovariance(emb, "embedding"))
      time(s"embeddingCovariance ${k}x",
        Similarity.embeddingCovariance(embBlown, "embedding"))
      time("quantizeInt8 1x", Similarity.quantizeInt8(emb, "vec_id", "embedding"))
      time(s"quantizeInt8 ${k}x",
        Similarity.quantizeInt8(embBlown, "vec_id", "embedding"))
    }
    section("profile") {
      val ords = Tables.orders(spark, sfDir)
      val ordsBlown = (0 until k).map(_ => ords).reduce(_ union _).localCheckpoint()
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
      time("profileTable 1x", Relational.profileTable(ords, cols))
      time(s"profileTable ${k}x", Relational.profileTable(ordsBlown, cols))
    }
    // skipGram multiplies pair counts, not the vocab² key space; the
    // inverted index on the Kx corpus is its adversarial regime (every
    // token's posting list is K× longer — the WindowGroupLimit cap must
    // keep per-task buffering flat); HLL registers are duplicate-
    // insensitive by construction, so Kx identical values should cost
    // only the scan; transitions ride the one user-key sort.
    section("skipgram") {
      time("skipGramCounts 1x", TextAnalysis.skipGramCounts(base, "doc_id", "text"))
      time(s"skipGramCounts ${k}x",
        TextAnalysis.skipGramCounts(blown, "doc_id", "text"))
    }
    section("invidx") {
      time("invertedIndex 1x", TextAnalysis.invertedIndex(base, "doc_id", "text"))
      time(s"invertedIndex ${k}x (K-long postings)",
        TextAnalysis.invertedIndex(blown, "doc_id", "text"))
    }
    section("hll") {
      val ev4 = Tables.events(spark, sfDir).select("user_id", "event_type")
      val ev4Blown = (0 until k).map(_ => ev4).reduce(_ union _).localCheckpoint()
      time("hllSketch 1x", Analytics.hllSketch(ev4, "event_type", "user_id"))
      // SAME user ids K times over — the no-distinct-pass claim under test.
      time(s"hllSketch ${k}x (pure duplicates)",
        Analytics.hllSketch(ev4Blown, "event_type", "user_id"))
    }
    // kmvSetOps on 20x DISJOINT user copies: every group's distinct set is
    // 20x larger, but the sketch path still shuffles only the distinct
    // collapse + a WindowGroupLimit min-k — pair math stays k-bounded. The
    // exact-∩ audit leg is the only linear-in-distincts stage.
    section("kmvsetops") {
      val evK = Tables.events(spark, sfDir).select("user_id", "event_type")
      val evKBlown = (0 until k).map { c =>
        evK.select((col("user_id") + lit(c * 1000000L)).as("user_id"),
          col("event_type"))
      }.reduce(_ union _).localCheckpoint()
      time("kmvSetOps 1x", Analytics.kmvSetOps(evK, "event_type", "user_id"))
      time(s"kmvSetOps ${k}x (disjoint users)",
        Analytics.kmvSetOps(evKBlown, "event_type", "user_id"))
    }
    section("transitions") {
      val ev5 = Tables.events(spark, sfDir)
        .select("user_id", "ts", "event_id", "event_type")
      val ev5Blown = (0 until k).map { c =>
        ev5.select((col("user_id") + lit(c * 1000000L)).as("user_id"), col("ts"),
          (col("event_id") + lit(c * 100000000L)).as("event_id"),
          col("event_type"))
      }.reduce(_ union _).localCheckpoint()
      time("transitionMatrix 1x",
        Analytics.transitionMatrix(ev5, "user_id", "ts", "event_id", "event_type"))
      time(s"transitionMatrix ${k}x",
        Analytics.transitionMatrix(ev5Blown, "user_id", "ts", "event_id", "event_type"))
    }
    // Round-8 statistics trio. Concurrency's K× fixture shifts each copy's
    // users but keeps timestamps — K× the sessions land on the SAME change
    // points, so the collapsed delta frame stays 1×-sized and only the
    // session build scales: the sweep itself must be flat. Trend/outliers
    // are single bounded-key aggregates (+ a broadcast join) — linear.
    section("stats") {
      val ev6 = Tables.events(spark, sfDir)
        .select("user_id", "ts", "event_id", "event_type", "value")
      val ev6Blown = (0 until k).map { c =>
        ev6.select((col("user_id") + lit(c * 1000000L)).as("user_id"), col("ts"),
          (col("event_id") + lit(c * 100000000L)).as("event_id"),
          col("event_type"), col("value"))
      }.reduce(_ union _).localCheckpoint()
      def conc(df: DataFrame) = Analytics.intervalConcurrency(
        Analytics.sessionize(df, "user_id", "ts", "event_id"),
        "start_us", "end_us")
      time("intervalConcurrency 1x", conc(ev6))
      time(s"intervalConcurrency ${k}x (same change points)", conc(ev6Blown))
      time("groupedTrend 1x",
        Analytics.groupedTrend(ev6, "event_type", "user_id", "value"))
      time(s"groupedTrend ${k}x",
        Analytics.groupedTrend(ev6Blown, "event_type", "user_id", "value"))
      time("groupZScoreOutliers 1x",
        Analytics.groupZScoreOutliers(ev6, "event_type", "value", 3.0))
      time(s"groupZScoreOutliers ${k}x",
        Analytics.groupZScoreOutliers(ev6Blown, "event_type", "value", 3.0))
    }
    // Round-10 additions. sessionFunnel rides two bounded-key sorts (the
    // user-key sessionize sort + the (user, session) funnel sort) — K
    // disjoint user copies must scale linearly with constant stage count.
    section("sessfunnel") {
      val ev7 = Tables.events(spark, sfDir)
        .select("user_id", "ts", "event_id", "event_type")
      val ev7Blown = (0 until k).map { c =>
        ev7.select((col("user_id") + lit(c * 1000000L)).as("user_id"), col("ts"),
          (col("event_id") + lit(c * 100000000L)).as("event_id"),
          col("event_type"))
      }.reduce(_ union _).localCheckpoint()
      val stages = Seq("signup", "view", "click", "purchase")
      time("sessionFunnel 1x", Analytics.sessionFunnel(ev7, "user_id", "ts",
        "event_id", "event_type", stages))
      time(s"sessionFunnel ${k}x (disjoint users)", Analytics.sessionFunnel(
        ev7Blown, "user_id", "ts", "event_id", "event_type", stages))
    }
    // binaryFile ingest at K× the FILE COUNT — the q146 shape where the
    // driver's listing (not the bytes) is the scale risk. Staging is
    // untimed executor-side fixture prep; the timed leg is list + glob
    // prune + per-file read + digest. Near-linear 1×→K× shows the listing
    // survives a 100k-file directory (at 100 TB you'd shard dirs, but the
    // per-file cost must already be flat).
    section("binary") {
      import java.nio.file.{Files, Paths}
      def stageFiles(df: DataFrame, tag: String): String = {
        val dir = Files.createTempDirectory(s"graft_smoke_bin_$tag").toString
        df.select("doc_id", "text").foreachPartition {
          (it: Iterator[org.apache.spark.sql.Row]) =>
            it.foreach { r =>
              Files.write(Paths.get(dir, s"doc_${r.getLong(0)}.bin"),
                r.getString(1).getBytes("UTF-8")): Unit
            }
        }
        dir
      }
      def readBin(dir: String) = spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin").load(dir)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1).cast("long")
            .as("doc_id"),
          col("length"), md5(col("content")).as("digest"))
      val d1 = stageFiles(base, "1x")
      val dk = stageFiles(blown, s"${k}x")
      time("binaryIngest 1x", readBin(d1))
      time(s"binaryIngest ${k}x files", readBin(dk))
      def rmTree(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rmTree)
        f.delete(): Unit
      }
      rmTree(new java.io.File(d1)); rmTree(new java.io.File(dk))
    }
    // kMeans scans the quantized corpus iters+1 times; K× rows should cost
    // ~K× per scan and nothing worse (centroid state is k·d regardless).
    // Disjoint vec_ids with copy 0 unshifted → identical seeds at both
    // scales, so the work per iteration is comparable.
    section("kmeans") {
      val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
        .localCheckpoint()
      val embBlown = (0 until k).map { c =>
        emb.select((col("vec_id") + lit(c * 1000000L)).as("vec_id"),
          col("embedding"))
      }.reduce(_ union _).localCheckpoint()
      time("kMeans 1x", Similarity.kMeans(emb, "vec_id", "embedding"))
      time(s"kMeans ${k}x (disjoint ids)",
        Similarity.kMeans(embBlown, "vec_id", "embedding"))
    }
    // heavyHitters: pass-1 MG state is ≤ k counters per partition whatever
    // the row count; the K× corpus only multiplies the two scans. Same
    // token stream duplicated → identical hitter set, K× counts.
    section("heavyhit") {
      def toks(df: DataFrame) = df.select(
        explode(expr("filter(split(text, ' '), t -> t != '')")).as("token"))
      time("heavyHitters 1x", Analytics.heavyHitters(toks(base), "token"))
      time(s"heavyHitters ${k}x (pure duplicates)",
        Analytics.heavyHitters(toks(blown), "token"))
    }
    // kCore on K disjoint copies of the graph: K× nodes and edges, the
    // SAME peel depth (each copy peels independently) — rounds don't grow
    // with K, so wall-clock should track edge count, not K × rounds.
    section("kcore") {
      val e1 = Graph.custSuppEdges(spark, sfDir).localCheckpoint()
      val eBlown = (0 until k).map { c =>
        e1.select(concat(lit(s"$c/"), col("src")).as("src"),
          concat(lit(s"$c/"), col("dst")).as("dst"))
      }.reduce(_ union _).localCheckpoint()
      time("kCore 1x", Graph.kCore(e1, "src", "dst", 4))
      time(s"kCore ${k}x (disjoint copies)", Graph.kCore(eBlown, "src", "dst", 4))
    }
    // dupSpans on the duplicated corpus is its adversarial regime: EVERY
    // gram becomes corpus-duplicated, so the join-back + per-doc window
    // runs over the full gram set rather than the usual sparse tail.
    section("dupspans") {
      time("dupSpans 1x", TextAnalysis.dupSpans(base, "doc_id", "text"))
      time(s"dupSpans ${k}x (all grams dup)",
        TextAnalysis.dupSpans(blown, "doc_id", "text"))
      // The scrub transform in the same adversarial regime: every gram is
      // corpus-duplicated, so the coverage expansion + (doc,pos) anti-join
      // run at FULL volume (every position covered, every token dropped) —
      // the relational-coverage design's worst case, where the map-side
      // array_contains alternative would go quadratic per doc.
      time("scrubDupSpans 1x", TextAnalysis.scrubDupSpans(base, "doc_id", "text"))
      time(s"scrubDupSpans ${k}x (every position covered)",
        TextAnalysis.scrubDupSpans(blown, "doc_id", "text"))
      // Novelty's ownership aggregate on the same corpus: K× rows into the
      // min-owner groupBy, gram cardinality UNCHANGED (copies collide on
      // the same digests) — the row certifies the digest-only shuffle is
      // what scales, not the distinct-gram state.
      time("gramNovelty 1x", TextAnalysis.gramNovelty(base, "doc_id", "text"))
      time(s"gramNovelty ${k}x (K-way owner collisions)",
        TextAnalysis.gramNovelty(blown, "doc_id", "text"))
    }
    // Round-10b additions (q159 rework + q163..q178). The duplicated
    // corpus is q159's OUTPUT-quadratic regime by construction (every doc
    // becomes a K-clique of J=1 pairs — K²/2·n true answers), so the K×
    // row is expected superlinear in OUTPUT, not in candidate volume; the
    // signature-group shape is what the row certifies. BPE is the
    // vocab-bounded flagship: K identical copies leave the word table
    // bit-identical (only counts scale), so rounds cost the SAME — flat
    // 1×→K× is the claim.
    section("setsim") {
      time("setSimilarityJoin 1x", Dedup.setSimilarityJoin(base, "doc_id", "text"))
      time(s"setSimilarityJoin ${k}x (K-clique output)",
        Dedup.setSimilarityJoin(blown, "doc_id", "text"))
      // The round-11 valve on the same adversarial corpus: every family is
      // a K-clique, so the capped form must flatten the output-quadratic
      // regime to <= C(8,2) pairs per family — the row pair (uncapped Kx
      // vs capped Kx) is the valve doing its one job.
      time(s"setSimilarityJoinCapped ${k}x (valve on K-cliques)",
        Dedup.setSimilarityJoinCapped(blown, "doc_id", "text"))
    }
    // Containment is OUTPUT-quadratic on the blown corpus by construction
    // (each K-clique holds K·(K-1) ORDERED containment-1.0 pairs — twice
    // the setsim count); the uncapped Kx row certifies the prefix-index
    // shape under that answer size, the capped row the posting valve.
    section("containment") {
      time("containmentJoin 1x", Dedup.containmentJoin(base, "doc_id", "text"))
      time(s"containmentJoin ${k}x (K-clique ordered pairs)",
        Dedup.containmentJoin(blown, "doc_id", "text"))
      time(s"containmentJoinCapped ${k}x (posting valve)",
        Dedup.containmentJoinCapped(blown, "doc_id", "text"))
    }
    // XML round-trip at Kx: the write is the scale hazard (row-tag
    // serialization is pure map-side; the read back must column-prune and
    // parallelize across the written part files). Timed end-to-end:
    // write + schema-forced read + rollup.
    section("xmlrt") {
      val cust = Tables.customer(spark, sfDir)
      val custBlownX = (0 until k).map { c =>
        cust.withColumn("c_custkey", col("c_custkey") + lit(c * 10000000L))
      }.reduce(_ unionAll _).localCheckpoint()
      def xmlRollup(df: DataFrame, tag: String) = {
        val tmp = graft.sources.Sources.staging(s"xml_smoke_$tag")
        df.write.format("xml").option("rowTag", "customer")
          .mode(org.apache.spark.sql.SaveMode.Overwrite).save(tmp)
        spark.read.format("xml").option("rowTag", "customer")
          .schema(df.schema).load(tmp)
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("s"))
      }
      time("xmlRoundTrip 1x", xmlRollup(cust, "1x"))
      time(s"xmlRoundTrip ${k}x", xmlRollup(custBlownX, "kx"))
    }
    section("bpe") {
      time("bpeMerges 1x", TextAnalysis.bpeMerges(base, "text"))
      time(s"bpeMerges ${k}x (identical vocab)",
        TextAnalysis.bpeMerges(blown, "text"))
      time("bpeFertility 1x", {
        val d = base.withColumn("lang", lit("x"))
        TextAnalysis.bpeFertility(d, "text", "lang")
      })
    }
    section("snm") {
      import graft.operators.Analytics
      val cust = Tables.customer(spark, sfDir).select("c_custkey", "c_name",
        "c_nationkey", "c_mktsegment", "c_acctbal")
      val custBlown = (0 until k).map { c =>
        cust.select((col("c_custkey") + lit(c * 10000000L)).as("c_custkey"),
          col("c_name"), col("c_nationkey"), col("c_mktsegment"), col("c_acctbal"))
      }.reduce(_ union _).localCheckpoint()
      time("sortedNeighborhood 1x",
        Dedup.sortedNeighborhood(cust, "c_custkey", "c_name"))
      time(s"sortedNeighborhood ${k}x (dup names)",
        Dedup.sortedNeighborhood(custBlown, "c_custkey", "c_name"))
      time("linkageScore 1x", Dedup.linkageScore(
        cust.withColumn("bb", floor(col("c_acctbal") / 1000).cast("int")),
        "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment", "bb")))
      // Kx: duplicated names pack SNM windows with real comparisons and
      // the per-field u-probabilities aggregate 20x the rows into the
      // same bounded value histograms — window + bounded-frame shapes,
      // so near-linear is the expectation.
      time(s"linkageScore ${k}x (dup names)", Dedup.linkageScore(
        custBlown.withColumn("bb", floor(col("c_acctbal") / 1000).cast("int")),
        "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment", "bb")))
    }
    section("events10b") {
      import graft.operators.Analytics
      val ev8 = Tables.events(spark, sfDir)
        .select("user_id", "ts", "event_id", "event_type", "value", "props")
      val ev8Blown = (0 until k).map { c =>
        ev8.select((col("user_id") + lit(c * 1000000L)).as("user_id"), col("ts"),
          (col("event_id") + lit(c * 100000000L)).as("event_id"),
          col("event_type"), col("value"), col("props"))
      }.reduce(_ union _).localCheckpoint()
      time("touchAttribution 1x", Analytics.touchAttribution(ev8, "user_id",
        "ts", "event_id", "event_type", "purchase", Seq("signup", "view", "click")))
      time(s"touchAttribution ${k}x (disjoint users)",
        Analytics.touchAttribution(ev8Blown, "user_id", "ts", "event_id",
          "event_type", "purchase", Seq("signup", "view", "click")))
      time("sessionPaths 1x", Analytics.sessionPaths(ev8, "user_id", "ts",
        "event_id", "event_type"))
      time(s"sessionPaths ${k}x", Analytics.sessionPaths(ev8Blown, "user_id",
        "ts", "event_id", "event_type"))
      time("activeUsers 1x", Analytics.activeUsers(ev8, "user_id", "ts"))
      time(s"activeUsers ${k}x (20x WAU fan-out)",
        Analytics.activeUsers(ev8Blown, "user_id", "ts"))
      time("seasonalDecompose 1x (same grid)",
        Analytics.seasonalDecompose(ev8, "event_type", "ts", "value"))
      time(s"seasonalDecompose ${k}x (same grid)",
        Analytics.seasonalDecompose(ev8Blown, "event_type", "ts", "value"))
      val withItem = (df: DataFrame) => df.withColumn("item",
        from_json(col("props"), lit("k INT")).getField("k"))
      time("coOccurrence 1x", Analytics.coOccurrence(withItem(ev8), "user_id", "item"))
      time(s"coOccurrence ${k}x (disjoint baskets)",
        Analytics.coOccurrence(withItem(ev8Blown), "user_id", "item"))
      time("madOutliers 1x", Analytics.madOutliers(ev8, "event_type", "value", "event_id"))
      time(s"madOutliers ${k}x", Analytics.madOutliers(ev8Blown, "event_type",
        "value", "event_id"))
    }
    section("gnn") {
      import graft.operators.Graph
      val ed = Graph.custSuppEdges(spark, sfDir).localCheckpoint()
      val edBlown = (0 until k).map { c =>
        ed.select(concat(lit(s"x$c"), col("src")).as("src"),
          concat(lit(s"x$c"), col("dst")).as("dst"))
      }.reduce(_ union _).localCheckpoint()
      val feats = Tables.customer(spark, sfDir)
        .select(concat(lit("c:"), col("c_custkey")).as("n"), col("c_acctbal").as("f"))
        .unionAll(Tables.supplier(spark, sfDir)
          .select(concat(lit("s:"), col("s_suppkey")), col("s_acctbal")))
      val featsBlown = (0 until k).map { c =>
        feats.select(concat(lit(s"x$c"), col("n")).as("n"), col("f"))
      }.reduce(_ union _).localCheckpoint()
      time("neighborhoodAgg 1x", Graph.neighborhoodAgg(ed, "src", "dst", feats, "n", "f"))
      time(s"neighborhoodAgg ${k}x (disjoint copies)",
        Graph.neighborhoodAgg(edBlown, "src", "dst", featsBlown, "n", "f"))
    }
    // The evaluation/experimentation/drift family: every member collapses
    // the corpus to a bounded frame (score/bin/arm/value counts) before any
    // statistics, so 20x disjoint copies must be scan-linear with flat tails.
    section("eval") {
      import graft.operators.Analytics
      val ev9 = Tables.events(spark, sfDir)
        .select("user_id", "ts", "event_id", "event_type", "value")
      val ev9Blown = (0 until k).map { c =>
        ev9.select((col("user_id") + lit(c * 1000000L)).as("user_id"), col("ts"),
          (col("event_id") + lit(c * 100000000L)).as("event_id"),
          col("event_type"), col("value"))
      }.reduce(_ union _).localCheckpoint()
      def auc(df: DataFrame) = Analytics.groupedAuc(
        df.withColumn("dow", dayofweek(col("ts"))), "dow", "value",
        col("event_type") === "purchase")
      time("groupedAuc 1x", auc(ev9))
      time(s"groupedAuc ${k}x", auc(ev9Blown))
      def ks(df: DataFrame) = Analytics.ksTest(
        df.filter(col("event_type").isin("click", "purchase")),
        col("event_type") === "purchase", "value")
      time("ksTest 1x", ks(ev9))
      time(s"ksTest ${k}x", ks(ev9Blown))
      def ab(df: DataFrame) = Analytics.abTest(
        df.filter(col("user_id").isNotNull).withColumn("unit",
          concat_ws("_", col("user_id"), to_date(col("ts")))),
        expr(s"pmod(${graft.operators.CrossHash.h60Expr("user_id")}, 2)"),
        "unit", col("event_type") === "purchase")
      time("abTest 1x", ab(ev9))
      time(s"abTest ${k}x", ab(ev9Blown))
      time("psi 1x", Analytics.psi(
        ev9.filter(col("event_type").isin("click", "purchase")),
        col("event_type") === "purchase", "value"))
      time(s"psi ${k}x", Analytics.psi(
        ev9Blown.filter(col("event_type").isin("click", "purchase")),
        col("event_type") === "purchase", "value"))
      time("targetEncode 1x", Analytics.targetEncode(ev9, "event_type",
        "event_id", "value"))
      time(s"targetEncode ${k}x", Analytics.targetEncode(ev9Blown, "event_type",
        "event_id", "value"))
    }
    section("audit") {
      time("dedupAudit 1x", Dedup.dedupAudit(base, "doc_id", "text"))
      time(s"dedupAudit ${k}x (20x dup clusters)",
        Dedup.dedupAudit(blown, "doc_id", "text"))
    }
    section("skipstats") {
      import graft.operators.Layout
      val li = Tables.lineitem(spark, sfDir).select("l_partkey", "l_suppkey")
      val liBlown = (0 until k).map { c =>
        li.select((col("l_partkey") + lit(c * 10000000L)).as("l_partkey"),
          col("l_suppkey"))
      }.reduce(_ union _).localCheckpoint()
      time("skipStats 1x", Layout.skipStats(li, "l_partkey", "l_suppkey"))
      time(s"skipStats ${k}x rows", Layout.skipStats(liBlown, "l_partkey", "l_suppkey"))
    }
    section("r11ops") {
      import graft.operators.{Analytics, Privacy}
      val ev = Tables.events(spark, sfDir)
      // Same 5 event_type groups, 20x rows: the per-key window series get
      // 20x deeper — the axis that stresses the cumulative windows.
      val evBlown = (0 until k).map { c =>
        ev.select(col("user_id"), col("ts"),
          (col("event_id") + lit(c * 100000000L)).as("event_id"),
          col("event_type"), col("value"))
      }.reduce(_ union _).localCheckpoint()
      time("cusumAlarms 1x", Analytics.cusumAlarms(ev,
        "event_type", "ts", "event_id", "value"))
      time(s"cusumAlarms ${k}x rows", Analytics.cusumAlarms(evBlown,
        "event_type", "ts", "event_id", "value"))
      time("resampleInterp 1x", Analytics.resampleInterp(ev,
        "event_type", "ts", "value"))
      time(s"resampleInterp ${k}x rows", Analytics.resampleInterp(evBlown,
        "event_type", "ts", "value"))
      val ords = Tables.orders(spark, sfDir)
      val ordsBlown = (0 until k).map { c =>
        ords.select((col("o_custkey") + lit(c * 10000000L)).as("o_custkey"),
          col("o_orderdate"), col("o_totalprice"))
      }.reduce(_ union _).localCheckpoint()
      time("rfmSegments 1x", Analytics.rfmSegments(ords,
        "o_custkey", "o_orderdate", "o_totalprice"))
      time(s"rfmSegments ${k}x customers", Analytics.rfmSegments(ordsBlown,
        "o_custkey", "o_orderdate", "o_totalprice"))
      val cust = Tables.customer(spark, sfDir)
      val custBlown = (0 until k).map { c =>
        cust.select((col("c_custkey") + lit(c * 10000000L)).as("c_custkey"),
          col("c_name"), col("c_nationkey"), col("c_acctbal"),
          col("c_mktsegment"))
      }.reduce(_ union _).localCheckpoint()
      time("kAnonymityAudit 1x", Privacy.kAnonymityAudit(cust,
        Seq(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000.0).as("bal_bucket")),
        col("c_acctbal"), 5))
      time(s"kAnonymityAudit ${k}x rows", Privacy.kAnonymityAudit(custBlown,
        Seq(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000.0).as("bal_bucket")),
        col("c_acctbal"), 5))
      time("generalizationLadder 1x", Privacy.generalizationLadder(cust, 5))
      time(s"generalizationLadder ${k}x rows",
        Privacy.generalizationLadder(custBlown, 5))
      time("ewmaSmooth 1x", Analytics.ewmaSmooth(ev,
        "event_type", "ts", "event_id", "value"))
      time(s"ewmaSmooth ${k}x rows", Analytics.ewmaSmooth(evBlown,
        "event_type", "ts", "event_id", "value"))
      val feed = ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("_n"),
          sum(col("value").cast("decimal(14,2)")).cast("decimal(14,2)")
            .as("delta"))
        .withColumn("op", when(pmod(col("_n"), lit(7)) === 0, lit("D"))
          .otherwise(lit("U")))
        .select(col("user_id").as("c_custkey"), col("op"), col("delta"))
      time("mergeActions 1x", Analytics.mergeActions(cust, feed,
        "c_custkey", "c_name", "c_acctbal", "op", "delta"))
      time(s"mergeActions ${k}x target", Analytics.mergeActions(custBlown,
        feed, "c_custkey", "c_name", "c_acctbal", "op", "delta"))
      // The blown corpus is canonicalPick's adversarial regime: every doc
      // sits in a K-sized exact-dup cluster, so component fan-in rides the
      // same maxDf cap as the q54 chain it reuses.
      time("canonicalPick 1x", Dedup.canonicalPick(base, "doc_id", "text"))
      time(s"canonicalPick ${k}x (dup clusters)",
        Dedup.canonicalPick(blown, "doc_id", "text"))
      time("temperatureMix 1x", TextAnalysis.temperatureMix(base
        .withColumn("lang", lit("x")), "lang",
        expr("cast(size(filter(split(text, ' '), t -> t != '')) as bigint)"),
        10000L))
      time(s"temperatureMix ${k}x rows", TextAnalysis.temperatureMix(blown
        .withColumn("lang", lit("x")), "lang",
        expr("cast(size(filter(split(text, ' '), t -> t != '')) as bigint)"),
        10000L))
    }
    // Round-13 additions (VERDICT r12 item 2): the late-round-11 operator
    // batch — q203/q204, q209–q212, q215, q217–q225 — plus the ANN family.
    // Same 1×/K× discipline; each row states the axis scaled and the claim
    // under test. Measurement-basis note (r13 review): in the PRE-r13
    // sections only the K× fixture is localCheckpointed while the 1× leg
    // re-reads parquet, so 1× legs there carry the scan cost and the
    // recorded K×/1× slopes are conservative OVERestimates (the safe
    // direction). The r13 sections below checkpoint BOTH legs so their
    // slopes are unbiased; pre-r13 sections keep their historical basis
    // for cross-round comparability.
    //
    // Per-copy id-shifted K× blow-up: a union of k copies with the named
    // id columns offset per copy (disjoint key spaces), other columns
    // passed through, checkpointed like every K× fixture here.
    def blowUp(df: DataFrame, idOffsets: Map[String, Long]): DataFrame =
      (0 until k).map { c =>
        df.select(df.columns.map { n =>
          idOffsets.get(n) match {
            case Some(off) => (col(n) + lit(c * off)).as(n)
            case None => col(n)
          }
        }.toIndexedSeq: _*)
      }.reduce(_ union _).localCheckpoint()

    // lateralTopN: K× the candidates per nation (disjoint custkeys, same
    // 25 nations). Decorrelation rewrites the LATERAL+LIMIT to a per-nation
    // window top-k, so K× rows ride one bounded-key exchange — near-linear.
    section("lateral") {
      Tables.nation(spark, sfDir).createOrReplaceTempView("smoke_nation")
      val cust = Tables.customer(spark, sfDir)
        .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
        .localCheckpoint()
      val custBlown = blowUp(cust, Map("c_custkey" -> 10000000L))
      def lateral(cu: DataFrame) = {
        cu.createOrReplaceTempView("smoke_customer")
        spark.sql("""
          SELECT n.n_name, t.c_name, t.c_acctbal
          FROM smoke_nation n, LATERAL (
            SELECT c_name, c_acctbal FROM smoke_customer c
            WHERE c.c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_name LIMIT 3) t
        """)
      }
      time("lateralTopN 1x", lateral(cust))
      time(s"lateralTopN ${k}x candidates", lateral(custBlown))
    }
    // observe/CollectMetrics: the metric accumulators ride the main action
    // (no second scan) — K× rows must cost K× the scan, nothing more.
    section("observe") {
      val li = Tables.lineitem(spark, sfDir)
        .select("l_quantity", "l_extendedprice").localCheckpoint()
      val liBlown = blowUp(li, Map.empty)
      var tag = 0
      def observed(df: DataFrame) = {
        tag += 1
        val obs = new org.apache.spark.sql.Observation(s"graft_smoke_obs_$tag")
        df.observe(obs, count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(14,2)"))
            .cast("decimal(38,2)").as("qty_sum"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"))
      }
      time("observeMetrics 1x", observed(li))
      time(s"observeMetrics ${k}x rows", observed(liBlown))
    }
    // Eval/experiment batch. woeIv's equal-frequency bin is the two-pass
    // global index (range shuffle + parallel per-partition rank) + the
    // exact-ntile formula — the K× row prices that parallel path (it was
    // 4.9×/20× super-linear in round 13 when it was still a
    // single-partition global ntile window; the r14 rewrite is the fix).
    // forecastBacktest/winsorize/mixShift take K× rows into the SAME key
    // space (their first aggregate collapses to 1×-sized frames); cuped
    // takes K× disjoint units (its unit-keyed aggregate grows K×, the
    // moments frame stays one row).
    section("r13eval") {
      import graft.operators.Analytics
      val ords = Tables.orders(spark, sfDir)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .localCheckpoint()
      val ordsBlown = blowUp(ords, Map("o_orderkey" -> 100000000L))
      time("woeIv 1x", Analytics.woeIv(ords, "o_totalprice", "o_orderkey",
        col("o_orderstatus") === "F"))
      time(s"woeIv ${k}x rows (two-pass rank)", Analytics.woeIv(ordsBlown,
        "o_totalprice", "o_orderkey", col("o_orderstatus") === "F"))
      val ev = Tables.events(spark, sfDir)
        .select("user_id", "ts", "event_id", "event_type", "value")
        .localCheckpoint()
      val evRows = blowUp(ev, Map.empty)
      val evUsers = blowUp(ev,
        Map("user_id" -> 1000000L, "event_id" -> 100000000L))
      time("forecastBacktest 1x",
        Analytics.forecastBacktest(ev, "event_type", "ts", "value"))
      time(s"forecastBacktest ${k}x rows (same grid)",
        Analytics.forecastBacktest(evRows, "event_type", "ts", "value"))
      time("winsorize 1x", Analytics.winsorize(ev, "event_type", "value"))
      time(s"winsorize ${k}x rows",
        Analytics.winsorize(evRows, "event_type", "value"))
      def arm = expr(s"pmod(${graft.operators.CrossHash.h60Expr("user_id")}, 2)")
      time("cuped 1x", Analytics.cuped(ev, "user_id", "ts", "value", arm))
      time(s"cuped ${k}x units",
        Analytics.cuped(evUsers, "user_id", "ts", "value", arm))
      time("mixShift 1x", Analytics.mixShift(ev, "event_type", "ts", "value"))
      time(s"mixShift ${k}x rows",
        Analytics.mixShift(evRows, "event_type", "ts", "value"))
      // stateOccupancy at K× disjoint keys — the r12 scale fix under test:
      // the per-key horizon frame must JOIN co-partitioned (no forced
      // broadcast; that hint was the removed driver-OOM-at-100TB hazard).
      time("stateOccupancy 1x", Analytics.stateOccupancy(
        ev.select("user_id", "ts", "event_id", "event_type"),
        "user_id", "ts", "event_id", "event_type"))
      time(s"stateOccupancy ${k}x keys (no broadcast)",
        Analytics.stateOccupancy(
          evUsers.select("user_id", "ts", "event_id", "event_type"),
          "user_id", "ts", "event_id", "event_type"))
      // recommendItems at K× disjoint baskets: the WindowGroupLimit basket
      // cap bounds the pair exchange per basket, so disjoint baskets scale
      // linearly.
      def withItem(df: DataFrame) = df.select(col("user_id"),
        from_json(col("props"), lit("k INT")).getField("k").as("item"))
      val evP = Tables.events(spark, sfDir).select("user_id", "props")
        .localCheckpoint()
      val evPBlown = blowUp(evP, Map("user_id" -> 1000000L))
      time("recommendItems 1x",
        Analytics.recommendItems(withItem(evP), "user_id", "item"))
      time(s"recommendItems ${k}x baskets",
        Analytics.recommendItems(withItem(evPBlown), "user_id", "item"))
      // recommendItemsCapped: the per-user contribution valve (r14 brief
      // item 5). Two axes: K× disjoint baskets (directly comparable to
      // the uncapped row above — the slope is user cardinality, per-user
      // state is valve-bounded either way) and K× rows PER USER
      // (item-shifted, same users — the power-user axis the valve exists
      // for: per-user candidate state stays ≤ maxContribPerUser while the
      // per-user input grows K×, so the slope should be the K× distinct
      // scan, not the scoring fan-out).
      time("recommendItemsCapped 1x",
        Analytics.recommendItemsCapped(withItem(evP), "user_id", "item"))
      time(s"recommendItemsCapped ${k}x baskets",
        Analytics.recommendItemsCapped(withItem(evPBlown), "user_id", "item"))
      val evPItems = blowUp(withItem(evP), Map("item" -> 1000L))
      time(s"recommendItemsCapped ${k}x rows/user (valve)",
        Analytics.recommendItemsCapped(evPItems, "user_id", "item"))
    }
    // GDPR purge: broadcast anti-join per table + streamed counts — K× the
    // table rows AND K× the deletion list (still ≪ table, still broadcast).
    section("purge") {
      import graft.operators.Privacy
      val cust = Tables.customer(spark, sfDir)
        .select("c_custkey", "c_name", "c_acctbal").localCheckpoint()
      val ev = Tables.events(spark, sfDir).select("user_id", "event_id")
        .localCheckpoint()
      val custBlown = blowUp(cust, Map("c_custkey" -> 10000000L))
      val evBlown = blowUp(ev,
        Map("user_id" -> 10000000L, "event_id" -> 100000000L))
      def del(cu: DataFrame) = cu
        .filter(pmod(col("c_custkey"), lit(13)) === 0)
        .select(col("c_custkey").as("subject"))
      time("gdprPurge 1x", Privacy.purgeAudit(Seq(
        ("events", ev, "user_id"), ("customer", cust, "c_custkey")),
        del(cust), "subject"))
      time(s"gdprPurge ${k}x rows (${k}x deletion list)", Privacy.purgeAudit(
        Seq(("events", evBlown, "user_id"), ("customer", custBlown, "c_custkey")),
        del(custBlown), "subject"))
    }
    // groupSplit is a pure map-side md5 projection — the K× row must show
    // zero-exchange linear scaling (the cheapest profile in the suite).
    section("groupsplit") {
      val ev = Tables.events(spark, sfDir).filter(col("user_id").isNotNull)
        .select("event_id", "user_id").localCheckpoint()
      val evBlown = blowUp(ev,
        Map("event_id" -> 100000000L, "user_id" -> 1000000L))
      time("groupSplit 1x", TextAnalysis.groupSplit(ev, "user_id"))
      time(s"groupSplit ${k}x rows (map-side only)",
        TextAnalysis.groupSplit(evBlown, "user_id"))
    }
    // The sketch-merge family (q215/q222–q225): two independently-built
    // half states merge into state that is SKETCH-bounded at any K — the
    // corpus-sized work is only the two half builds; the merge leg is
    // m/k/nBins/depth×width-bounded by construction. Disjoint users grow
    // the honest axis (distinct values), duplicated docs grow the scan.
    section("sketchmerge") {
      import graft.operators.Analytics
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(spark, sfDir)
        .select("user_id", "event_type", "event_id").localCheckpoint()
      val evBlown = blowUp(ev,
        Map("user_id" -> 1000000L, "event_id" -> 100000000L))
      def hllM(df: DataFrame) = Analytics.hllFinalize(Analytics.hllMerge(
        Analytics.hllRegisters(df.filter(pmod(col("event_id"), lit(2)) === 0),
          "event_type", "user_id"),
        Analytics.hllRegisters(df.filter(pmod(col("event_id"), lit(2)) === 1),
          "event_type", "user_id"),
        "event_type"), "event_type")
      time("hllMerge 1x", hllM(ev))
      time(s"hllMerge ${k}x (disjoint users)", hllM(evBlown))
      def kmvM(df: DataFrame) = {
        val kk = 32
        def half(p: Int) = Analytics.kmvState(
          df.filter(pmod(col("event_id"), lit(2)) === p),
          "event_type", "user_id", kk)
        half(0).unionByName(half(1)).distinct()
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("event_type")).orderBy(col("hv"))))
          .filter(col("rn") <= kk)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("k_used"), max(col("hv")).as("kth_min"))
      }
      time("kmvMerge 1x", kmvM(ev))
      time(s"kmvMerge ${k}x (disjoint users)", kmvM(evBlown))
      val li = Tables.lineitem(spark, sfDir)
        .select("l_orderkey", "l_extendedprice").localCheckpoint()
      val liBlown = blowUp(li, Map("l_orderkey" -> 100000000L))
      def histM(df: DataFrame) = {
        def half(p: Int) = Analytics.histogramState(
          df.filter(pmod(col("l_orderkey"), lit(2)) === p),
          "l_extendedprice", 0.0, 5000.0, 20)
        Analytics.quantileWalk(
          half(0).unionByName(half(1))
            .groupBy(col("bin")).agg(sum(col("n")).as("n")),
          0.0, 5000.0, Seq(0.5, 0.9, 0.95, 0.99))
      }
      time("histMerge 1x", histM(li))
      time(s"histMerge ${k}x rows", histM(liBlown))
      // Both legs on checkpointed frames: baseC is the file-global corpus
      // re-based to this section's unbiased-slope discipline.
      val baseC = base.localCheckpoint()
      def toks(df: DataFrame) = df.select(
        explode(expr("filter(split(text, ' '), t -> t != '')")).as("tok"))
      def bloomM(df: DataFrame) = {
        def half(p: Int) = Analytics.bloomFilter(
          toks(df.filter(pmod(col("doc_id"), lit(2)) === p)), "tok")
        Analytics.bloomProbeBits(half(0).unionByName(half(1)).distinct(),
          toks(df), "tok", Analytics.CmProbes)
      }
      time("bloomMerge 1x", bloomM(baseC))
      time(s"bloomMerge ${k}x docs", bloomM(blown))
      def cmM(df: DataFrame) = {
        def half(p: Int) = Analytics.countMin(
          toks(df.filter(pmod(col("doc_id"), lit(2)) === p)), "tok")
        half(0).unionByName(half(1))
          .groupBy(col("j"), col("bucket")).agg(sum(col("cnt")).as("cnt"))
      }
      time("countMinMerge 1x", cmM(baseC))
      time(s"countMinMerge ${k}x docs", cmM(blown))
    }
    // ANN / embedding-similarity family (round 13 — upgrades the former
    // documented exemptions to measured rows). Disjoint vec_ids with copy
    // 0 unshifted (so the vec_id < 5 query set is identical at both
    // scales); identical embeddings make every LSH bucket 20×-hot — the
    // regime topPairs' maxBucketDf cap and annLsh's candidate-distinct
    // exist for. knnBruteForce is the documented baseline: fixed query
    // set × K× corpus must scale linearly in the corpus (the broadcast
    // side is the 5 queries, never the corpus).
    section("ann") {
      import graft.operators.Similarity
      val emb = Tables.embeddings(spark, sfDir)
        .select("vec_id", "label", "embedding").localCheckpoint()
      val embBlown = blowUp(emb, Map("vec_id" -> 1000000L))
      time("knnBruteForce 1x (5 queries)", Similarity.knnBruteForce(
        emb, "vec_id", "embedding", col("vec_id") < 5))
      time(s"knnBruteForce ${k}x corpus (5 queries)", Similarity.knnBruteForce(
        embBlown, "vec_id", "embedding", col("vec_id") < 5))
      time("annLsh 1x", Similarity.annLsh(
        emb, "vec_id", "embedding", 64, col("vec_id") < 5, 10))
      time(s"annLsh ${k}x corpus (hot buckets)", Similarity.annLsh(
        embBlown, "vec_id", "embedding", 64, col("vec_id") < 5, 10))
      time("topPairs 1x", Similarity.topPairs(emb, "vec_id", "embedding", 64))
      time(s"topPairs ${k}x (${k}x-hot buckets, capped)",
        Similarity.topPairs(embBlown, "vec_id", "embedding", 64))
      time("ivfSearch 1x", Similarity.ivfSearch(
        emb, "vec_id", "label", "embedding", col("vec_id") < 5))
      time(s"ivfSearch ${k}x corpus", Similarity.ivfSearch(
        embBlown, "vec_id", "label", "embedding", col("vec_id") < 5))
      time("semanticDedup 1x", Similarity.semanticDedup(
        emb, "vec_id", "label", "embedding"))
      time(s"semanticDedup ${k}x (${k}x dup clusters)", Similarity.semanticDedup(
        embBlown, "vec_id", "label", "embedding"))
    }
    spark.stop()
  }
}
