package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}

/** Single-import facade over the engine's library API — the surface a user
  * of the reference framework (or of any data-pipeline toolkit) programs
  * against. Each method delegates to the operator modules; see README.md
  * "Library API" and COVERAGE.md for the full inventory and guarantees.
  */
object Graft {
  import operators._

  /** Session-level `spark.sql.cteRecursionRowLimit` ceiling that
    * [[LocalSession]] sets for every repo entry point.
    * Finite on purpose (r15 ADVICE): Int.MaxValue would disable the
    * row-volume guard for ALL recursive CTEs — the level limit bounds
    * depth but not per-level fan-out, so a miskeyed recursive join could
    * blow up multiplicatively across 100 levels with no backstop. 1e9 is
    * >200× the 10×-tier's legitimate ~4.6M closure rows (the unit-mismatch
    * failure the ceiling exists to clear; q99 scaladoc in
    * operators/Relational.scala) while still catching a runaway join well
    * before it exhausts the cluster. */
  val CteRecursionRowCeiling: Int = 1000000000

  /** Register graft's native SQL functions (cosine_sim, graft_fingerprint,
    * graft_checksum997, graft_frame_sum16, graft_winnow, graft_ngrams,
    * graft_hp_buckets, graft_zvalue) on the session. */
  def init(spark: SparkSession): Unit = functions.GraftFunctions.register(spark)

  // dedup
  def exactDedup(df: DataFrame, idCol: String, keyCol: String): DataFrame =
    Dedup.exactDedup(df, idCol, keyCol)
  def minHashLsh(df: DataFrame, idCol: String, textCol: String,
      minEst: Double = 0.35, maxBandDf: Int = Dedup.MaxBandDf): DataFrame =
    Dedup.minHashLsh(df, idCol, textCol, minEst, maxBandDf)
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Dedup.simHash(df, idCol, textCol)
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
      minJ: Double = 0.5, maxDf: Int = 1000): DataFrame =
    Dedup.ngramJaccard(df, idCol, textCol, minJ, maxDf)
  def connectedComponents(edges: DataFrame, src: String, dst: String,
      maxIter: Int = 20): DataFrame = Dedup.connectedComponents(edges, src, dst, maxIter)
  def simHashNearDup(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    Dedup.simHashNearDup(df, idCol, textCol, maxHamming)
  def simHashDedup(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    Dedup.simHashDedup(df, idCol, textCol, maxHamming)
  def dedupNearDup(df: DataFrame, idCol: String, textCol: String,
      minEst: Double = 0.35): DataFrame = Dedup.dedupNearDup(df, idCol, textCol, minEst)
  def fuzzyJoin(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, blockPrefix: Int = 4,
      maxBlockDf: Int = Dedup.MaxBlockDf): DataFrame =
    Dedup.fuzzyJoin(df, idCol, textCol, maxDist, blockPrefix, maxBlockDf)

  // similarity search
  def knn(df: DataFrame, idCol: String, vecCol: String, isQuery: Column,
      k: Int = 10): DataFrame = Similarity.knnBruteForce(df, idCol, vecCol, isQuery, k)
  /** `dim` ≤ 0 (the default) infers the vector dimension from the first row
    * — hyperplanes must span the full vector, or every projection nulls out
    * and LSH degenerates to all-pairs (the round-2 facade bug: `topN` bound
    * positionally to `topPairs`'s `dim`). */
  def similarPairs(df: DataFrame, idCol: String, vecCol: String,
      topN: Int = 20, dim: Int = -1): DataFrame = {
    val d = if (dim > 0) dim
      else {
        // headOption (not head): an empty frame or a null first vector gets a
        // clear error instead of NoSuchElementException / NPE. Costs one
        // small job; pass `dim` explicitly to skip it.
        val first = df.filter(org.apache.spark.sql.functions.col(vecCol).isNotNull)
          .select(org.apache.spark.sql.functions.size(
            org.apache.spark.sql.functions.col(vecCol)))
          .head(1).headOption
        first.map(_.getInt(0)).getOrElse(throw new IllegalArgumentException(
          s"similarPairs: cannot infer dim — no non-null '$vecCol' row; pass dim explicitly"))
      }
    Similarity.topPairs(df, idCol, vecCol, d, topN)
  }
  def annLsh(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      isQuery: Column, k: Int): DataFrame =
    Similarity.annLsh(df, idCol, vecCol, dim, isQuery, k)
  def annIvf(df: DataFrame, idCol: String, partCol: String, vecCol: String,
      isQuery: Column, k: Int = 10, nprobe: Int = 3): DataFrame =
    Similarity.ivfSearch(df, idCol, partCol, vecCol, isQuery, k, nprobe)
  def centroids(df: DataFrame, partCol: String, vecCol: String): DataFrame =
    Similarity.centroids(df, partCol, vecCol)
  def semanticDedup(df: DataFrame, idCol: String, labelCol: String,
      vecCol: String, minCos: Double = 0.35): DataFrame =
    Similarity.semanticDedup(df, idCol, labelCol, vecCol, minCos)

  // text analysis
  def tokenStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    TextAnalysis.tokenStats(df, idCol, textCol)
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlapTokens: Int = 0): DataFrame =
    TextAnalysis.chunkDocuments(df, idCol, textCol, chunkTokens, overlapTokens)
  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 32): DataFrame =
    TextAnalysis.chunkDedup(df, idCol, textCol, chunkTokens)
  def dupSpans(df: DataFrame, idCol: String, textCol: String,
      w: Int = 8): DataFrame =
    TextAnalysis.dupSpans(df, idCol, textCol, w)
  def qualityScore(df: DataFrame, idCol: String, textCol: String): DataFrame =
    TextAnalysis.qualityScore(df, idCol, textCol)
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    TextAnalysis.fingerprint(df, idCol, textCol)
  def winnow(df: DataFrame, idCol: String, textCol: String, k: Int = 8,
      w: Int = 4): DataFrame = TextAnalysis.winnow(df, idCol, textCol, k, w)
  def langId(df: DataFrame, idCol: String, textCol: String,
      labelCol: String): DataFrame = TextAnalysis.langId(df, idCol, textCol, labelCol)
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    TextAnalysis.tokenCounts(df, idCol, textCol)
  def curate(df: DataFrame, idCol: String, textCol: String): DataFrame =
    TextAnalysis.curate(df, idCol, textCol)
  def hashSplit(df: DataFrame, idCol: String, validPct: Int = 10): DataFrame =
    TextAnalysis.hashSplit(df, idCol, validPct)
  def tfidf(df: DataFrame, idCol: String, textCol: String,
      topK: Int = 3): DataFrame = TextAnalysis.tfidf(df, idCol, textCol, topK)
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame =
    TextAnalysis.repetitionSignals(df, idCol, textCol)
  def scrub(df: DataFrame, idCol: String, textCol: String,
      pattern: String, replacement: String): DataFrame =
    TextAnalysis.scrub(df, idCol, textCol, pattern, replacement)
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
      k: Int): DataFrame = TextAnalysis.weightedSample(df, idCol, weightCol, k)
  def lmScore(df: DataFrame, idCol: String, textCol: String,
      refFilter: Column, maxTrigrams: Int = 50000): DataFrame =
    TextAnalysis.lmScore(df, idCol, textCol, refFilter, maxTrigrams)
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
      k: Int = 5): DataFrame =
    TextAnalysis.stratifiedSample(df, strataCol, idCol, k)
  def contamination(df: DataFrame, idCol: String, textCol: String,
      evalPct: Int = 10, n: Int = 3, minFrac: Double = 0.6): DataFrame =
    TextAnalysis.contamination(df, idCol, textCol, evalPct, n, minFrac)
  def corpusDecision(df: DataFrame, idCol: String, textCol: String): DataFrame =
    TextAnalysis.corpusDecision(df, idCol, textCol)

  // joins / aggregation helpers
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
      timeCol: String, valueCols: Seq[String],
      direction: String = "backward",
      toleranceSec: Option[Double] = None): DataFrame =
    AsOf.asofJoin(left, right, keyCol, timeCol, valueCols, direction, toleranceSec)
  def temporalJoin(facts: DataFrame, dim: DataFrame, keyCol: String,
      timeCol: String, validFromCol: String, valueCols: Seq[String]): DataFrame =
    AsOf.temporalJoin(facts, dim, keyCol, timeCol, validFromCol, valueCols)
  def saltedAggregate(df: DataFrame, keyCol: String, sumCol: String,
      salts: Int): DataFrame = Skew.saltedAggregate(df, keyCol, sumCol, salts)

  // analytics / data management
  def kmvSketch(df: DataFrame, groupCol: String, valueCol: String,
      k: Int = 32): DataFrame = Analytics.kmvSketch(df, groupCol, valueCol, k)
  def kmvSetOps(df: DataFrame, groupCol: String, valueCol: String,
      k: Int = 32): DataFrame =
    Analytics.kmvSetOps(df, groupCol, valueCol, k)
  def kmvDistinct(df: DataFrame, groupCol: String, valueCol: String,
      k: Int = 32): DataFrame = Analytics.kmvDistinct(df, groupCol, valueCol, k)
  def funnel(events: DataFrame, keyCols: Seq[String], timeCol: String,
      rowIdCol: String, typeCol: String, stages: Seq[String],
      maxGapSec: Option[Long] = None): DataFrame =
    Analytics.funnel(events, keyCols, timeCol, rowIdCol, typeCol, stages,
      maxGapSec)
  def funnelStages(events: DataFrame, keyCols: Seq[String], timeCol: String,
      rowIdCol: String, typeCol: String, stages: Seq[String],
      maxGapSec: Option[Long] = None): DataFrame =
    Analytics.funnelStages(events, keyCols, timeCol, rowIdCol, typeCol,
      stages, maxGapSec)
  def retention(events: DataFrame, userCol: String, timeCol: String): DataFrame =
    Analytics.retention(events, userCol, timeCol)
  def cohortFunnel(events: DataFrame, userCol: String, timeCol: String,
      rowIdCol: String, typeCol: String, stages: Seq[String],
      maxGapSec: Option[Long] = None): DataFrame =
    Analytics.cohortFunnel(events, userCol, timeCol, rowIdCol, typeCol,
      stages, maxGapSec)
  def mergeLatest(base: DataFrame, updates: DataFrame, keyCols: Seq[String],
      versionCols: Seq[String]): DataFrame =
    Analytics.mergeLatest(base, updates, keyCols, versionCols)
  def tableDiff(a: DataFrame, b: DataFrame, keyCols: Seq[String],
      compareCols: Seq[String]): DataFrame =
    Analytics.tableDiff(a, b, keyCols, compareCols)
  def histogram(df: DataFrame, valueCol: String, lo: Double, width: Double,
      nBins: Int): DataFrame = Analytics.histogram(df, valueCol, lo, width, nBins)
  def histogramQuantiles(df: DataFrame, valueCol: String, lo: Double,
      width: Double, nBins: Int, ps: Seq[Double]): DataFrame =
    Analytics.histogramQuantiles(df, valueCol, lo, width, nBins, ps)
  def packShards(df: DataFrame, idCol: String, tokenCol: String,
      budget: Long): DataFrame = Packing.packShards(df, idCol, tokenCol, budget)
  def sessionize(events: DataFrame, userCol: String, timeCol: String,
      rowIdCol: String, gapMicros: Long = 30L * 60L * 1000000L): DataFrame =
    Analytics.sessionize(events, userCol, timeCol, rowIdCol, gapMicros)
  def aggState(df: DataFrame, keyCols: Seq[String], valueCol: String): DataFrame =
    Analytics.aggState(df, keyCols, valueCol)
  def scd2(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
      valCol: String): DataFrame = Analytics.scd2(df, keyCol, tsCol, idCol, valCol)
  def vocabCoverage(df: DataFrame, idCol: String, textCol: String,
      topK: Int = 50): DataFrame = TextAnalysis.vocabCoverage(df, idCol, textCol, topK)
  def corpusMix(df: DataFrame, idCol: String, groupCol: String,
      weights: Map[String, Double], n: Long): DataFrame =
    TextAnalysis.corpusMix(df, idCol, groupCol, weights, n)
  def skyline(df: DataFrame, minCol: String, maxCol: String,
      numGroups: Int = 64): DataFrame = Analytics.skyline(df, minCol, maxCol, numGroups)
  def removeBoilerplate(df: DataFrame, idCol: String, textCol: String,
      segTokens: Int = TextAnalysis.BoilerSegTokens,
      maxDf: Int = TextAnalysis.BoilerMaxDf): DataFrame =
    TextAnalysis.removeBoilerplate(df, idCol, textCol, segTokens, maxDf)
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame =
    TextAnalysis.charEntropy(df, idCol, textCol)
  def corpusOverlap(df: DataFrame, groupCol: String, textCol: String): DataFrame =
    Dedup.corpusOverlap(df, groupCol, textCol)
  def countMin(df: DataFrame, valueCol: String, depth: Int = Analytics.CmDepth,
      width: Int = Analytics.CmWidth): DataFrame =
    Analytics.countMin(df, valueCol, depth, width)
  def countMinEstimate(df: DataFrame, valueCol: String, probes: Seq[String],
      depth: Int = Analytics.CmDepth, width: Int = Analytics.CmWidth): DataFrame =
    Analytics.countMinEstimate(df, valueCol, probes, depth, width)
  def bloomFilter(df: DataFrame, valueCol: String,
      mBits: Int = Analytics.BloomBits, k: Int = Analytics.BloomK): DataFrame =
    Analytics.bloomFilter(df, valueCol, mBits, k)
  def bloomProbe(df: DataFrame, valueCol: String, probes: Seq[String],
      mBits: Int = Analytics.BloomBits, k: Int = Analytics.BloomK): DataFrame =
    Analytics.bloomProbe(df, valueCol, probes, mBits, k)
  def heavyHitters(df: DataFrame, valueCol: String, k: Int = 28): DataFrame =
    Analytics.heavyHitters(df, valueCol, k)
  def pmiCollocations(df: DataFrame, idCol: String, textCol: String,
      minDf: Int = TextAnalysis.PmiMinDf,
      topK: Int = TextAnalysis.PmiTopK): DataFrame =
    TextAnalysis.pmiCollocations(df, idCol, textCol, minDf, topK)
  def zipfFit(df: DataFrame, idCol: String, textCol: String): DataFrame =
    TextAnalysis.zipfFit(df, idCol, textCol)
  def groupedHistogramQuantiles(df: DataFrame, groupCol: String,
      valueCol: String, lo: Double, width: Double, nBins: Int,
      ps: Seq[Double]): DataFrame =
    Analytics.groupedHistogramQuantiles(df, groupCol, valueCol, lo, width, nBins, ps)
  def jsDivergence(df: DataFrame, groupCol: String, textCol: String): DataFrame =
    TextAnalysis.jsDivergence(df, groupCol, textCol)
  def skipGramCounts(df: DataFrame, idCol: String, textCol: String,
      window: Int = TextAnalysis.SgWindow,
      topK: Int = TextAnalysis.SgTopK): DataFrame =
    TextAnalysis.skipGramCounts(df, idCol, textCol, window, topK)
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
      maxPostings: Int = TextAnalysis.IiMaxPostings,
      topK: Int = TextAnalysis.IiTopK): DataFrame =
    TextAnalysis.invertedIndex(df, idCol, textCol, maxPostings, topK)
  def hllSketch(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    Analytics.hllSketch(df, groupCol, valueCol)
  def hllDistinct(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    Analytics.hllDistinct(df, groupCol, valueCol)
  def transitionMatrix(df: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String): DataFrame =
    Analytics.transitionMatrix(df, userCol, tsCol, idCol, typeCol)
  def embeddingCovariance(df: DataFrame, vecCol: String): DataFrame =
    Similarity.embeddingCovariance(df, vecCol)
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    Similarity.quantizeInt8(df, idCol, vecCol)
  def kMeans(df: DataFrame, idCol: String, vecCol: String, k: Int = 8,
      iters: Int = 5, scale: Int = 1000): DataFrame =
    Similarity.kMeans(df, idCol, vecCol, k, iters, scale)
  def hybridSearch(docs: DataFrame, docId: String, textCol: String,
      embs: DataFrame, vecId: String, vecCol: String,
      queryTerms: Seq[String], queryVec: Long, kEach: Int = 20,
      rrfC: Int = 60): DataFrame =
    Similarity.hybridSearch(docs, docId, textCol, embs, vecId, vecCol,
      queryTerms, queryVec, kEach, rrfC)
  def intervalConcurrency(df: DataFrame, startCol: String, endCol: String,
      bucketMicros: Long = 3600000000L): DataFrame =
    Analytics.intervalConcurrency(df, startCol, endCol, bucketMicros)
  def groupedTrend(df: DataFrame, groupCol: String, xCol: String,
      yCol: String, minN: Long = 2L): DataFrame =
    Analytics.groupedTrend(df, groupCol, xCol, yCol, minN)
  def groupZScoreOutliers(df: DataFrame, groupCol: String, valueCol: String,
      z: Double = 2.0): DataFrame =
    Analytics.groupZScoreOutliers(df, groupCol, valueCol, z)
  def profileTable(df: DataFrame, cols: Seq[String]): DataFrame =
    Relational.profileTable(df, cols)
  def mergeAggStates(a: DataFrame, b: DataFrame, keyCols: Seq[String]): DataFrame =
    Analytics.mergeAggStates(a, b, keyCols)

  // retrieval
  def bm25(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], topK: Int = 20): DataFrame =
    TextAnalysis.bm25(df, idCol, textCol, queryTerms, topK)

  // graph analytics
  def pageRank(edges: DataFrame, src: String, dst: String,
      iters: Int = 3, dampingPct: Int = 85, topK: Int = 20): DataFrame =
    operators.Graph.pageRank(edges, src, dst, iters, dampingPct, topK)
  def triangleCount(edges: DataFrame, src: String, dst: String): DataFrame =
    operators.Graph.triangleCount(edges, src, dst)
  def shortestPaths(edges: DataFrame, src: String, dst: String,
      sourceNode: String, maxDepth: Int = 6): DataFrame =
    operators.Graph.shortestPaths(edges, src, dst, sourceNode, maxDepth)
  def kCore(edges: DataFrame, src: String, dst: String, k: Int,
      maxRounds: Int = 8): DataFrame =
    operators.Graph.kCore(edges, src, dst, k, maxRounds)

  // data layout
  def zorderCluster(df: DataFrame, xCol: String, yCol: String,
      numPartitions: Int = 32): DataFrame =
    Layout.zorderCluster(df, xCol, yCol, numPartitions)
  def compact(spark: SparkSession, inputPath: String, outputPath: String,
      targetFileBytes: Long): DataFrame =
    sources.Sources.compact(spark, inputPath, outputPath, targetFileBytes)

  // reference-parity
  def mapReduce[K, V, O](mappers: Int, reducers: Int,
      mapper: String => IterableOnce[(K, V)],
      reducer: (K, Iterator[V]) => IterableOnce[O]): MapReduceJob[K, V, O] =
    MapReduceJob(mappers, reducers, mapper, reducer)
  def minimalUniquePrefix(spark: SparkSession, lines: Dataset[String]): Option[Int] =
    UniquePrefix.solve(spark, lines)

  // entity resolution / exact set similarity (round 10b)
  def sortedNeighborhood(df: DataFrame, idCol: String, keyCol: String,
      w: Int = 5, maxDist: Int = 3): DataFrame =
    Dedup.sortedNeighborhood(df, idCol, keyCol, w, maxDist)
  def linkageScore(df: DataFrame, idCol: String, keyCol: String,
      fields: Seq[String], m: Double = 0.95): DataFrame =
    Dedup.linkageScore(df, idCol, keyCol, fields, m)
  def containmentJoin(df: DataFrame, idCol: String, textCol: String,
      cNum: Int = 4, cDen: Int = 5): DataFrame =
    Dedup.containmentJoin(df, idCol, textCol, cNum, cDen)
  def setSimilarityJoin(df: DataFrame, idCol: String, textCol: String,
      jNum: Int = 9, jDen: Int = 10): DataFrame =
    Dedup.setSimilarityJoin(df, idCol, textCol, jNum, jDen)

  // time series / product analytics
  def resampleLocf(df: DataFrame, keyCol: String, tsCol: String,
      valCol: String): DataFrame = Analytics.resampleLocf(df, keyCol, tsCol, valCol)
  def seasonalDecompose(df: DataFrame, keyCol: String, tsCol: String,
      valCol: String, period: Int = 24): DataFrame =
    Analytics.seasonalDecompose(df, keyCol, tsCol, valCol, period)
  def coOccurrence(df: DataFrame, basketCol: String, itemCol: String,
      maxItemsPerBasket: Int = 100): DataFrame =
    Analytics.coOccurrence(df, basketCol, itemCol, maxItemsPerBasket)
  def touchAttribution(df: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String, conversionType: String,
      touchTypes: Seq[String]): DataFrame =
    Analytics.touchAttribution(df, userCol, tsCol, idCol, typeCol,
      conversionType, touchTypes)
  def sessionPaths(df: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String, k: Int = 20): DataFrame =
    Analytics.sessionPaths(df, userCol, tsCol, idCol, typeCol, k)
  def activeUsers(df: DataFrame, userCol: String, tsCol: String,
      windowDays: Int = 7): DataFrame =
    Analytics.activeUsers(df, userCol, tsCol, windowDays)

  // feature engineering / robust stats
  def equalFreqBins(df: DataFrame, keyCol: String, valCol: String,
      idCol: String, bins: Int = 10): DataFrame =
    Analytics.equalFreqBins(df, keyCol, valCol, idCol, bins)
  def madOutliers(df: DataFrame, keyCol: String, valCol: String,
      idCol: String, cutoff: Double = 3.5): DataFrame =
    Analytics.madOutliers(df, keyCol, valCol, idCol, cutoff)
  def targetEncode(df: DataFrame, catCol: String, idCol: String,
      targetCol: String, folds: Int = 5, priorWeight: Int = 20): DataFrame =
    Analytics.targetEncode(df, catCol, idCol, targetCol, folds, priorWeight)
  def keySkewProfile(df: DataFrame, keyCol: String, k: Int = 10): DataFrame =
    Skew.keySkewProfile(df, keyCol, k)
  def skipStats(df: DataFrame, xCol: String, yCol: String,
      rowsPerFile: Int = 1000, grid: Int = 4): DataFrame =
    Layout.skipStats(df, xCol, yCol, rowsPerFile, grid)

  // tokenizer training
  def bpeMerges(docs: DataFrame, textCol: String, rounds: Int = 6): DataFrame =
    TextAnalysis.bpeMerges(docs, textCol, rounds)
  def bpeFertility(docs: DataFrame, textCol: String, groupCol: String,
      rounds: Int = 6): DataFrame =
    TextAnalysis.bpeFertility(docs, textCol, groupCol, rounds)

  // graph features
  def neighborhoodAgg(edges: DataFrame, src: String, dst: String,
      features: DataFrame, nodeCol: String, featCol: String): DataFrame =
    Graph.neighborhoodAgg(edges, src, dst, features, nodeCol, featCol)
  def labelPropagation(edges: DataFrame, src: String, dst: String,
      rounds: Int = 3): DataFrame =
    Graph.labelPropagation(edges, src, dst, rounds)

  // evaluation / experimentation / drift
  def groupedAuc(df: DataFrame, groupCol: String, scoreCol: String,
      labelCol: Column): DataFrame =
    Analytics.groupedAuc(df, groupCol, scoreCol, labelCol)
  def abTest(df: DataFrame, armCol: Column, unitCol: String,
      convertedCol: Column): DataFrame =
    Analytics.abTest(df, armCol, unitCol, convertedCol)
  def welchTest(df: DataFrame, armCol: Column, unitCol: String,
      valueCol: String): DataFrame =
    Analytics.welchTest(df, armCol, unitCol, valueCol)
  def ksTest(df: DataFrame, armCol: Column, valueCol: String): DataFrame =
    Analytics.ksTest(df, armCol, valueCol)
  def psi(df: DataFrame, armCol: Column, valueCol: String,
      bins: Int = 10): DataFrame = Analytics.psi(df, armCol, valueCol, bins)
  def calibrationBins(df: DataFrame, scoreCol: String, labelCol: Column,
      bins: Int = 10): DataFrame =
    Analytics.calibrationBins(df, scoreCol, labelCol, bins)
  def annRecall(df: DataFrame, idCol: String, partCol: String,
      vecCol: String, dim: Int, isQuery: Column, k: Int = 10): DataFrame =
    Similarity.annRecall(df, idCol, partCol, vecCol, dim, isQuery, k)
}
