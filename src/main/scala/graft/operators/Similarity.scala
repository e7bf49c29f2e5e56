package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.GraftFunctions

/** Similarity search over `ArrayType(FloatType)` embedding columns
  * (north-star extension, SURVEY §2.3) — parameterized library functions
  * over any (id, vector) DataFrame; fixture-bound `queries` wrappers feed
  * the driver gate.
  *
  * Cosine runs through the codegen'd [[graft.functions.CosineSimilarity]]
  * expression in double precision (same index-ascending fold as the DuckDB
  * oracle's explicit double formulation — DuckDB's own
  * `list_cosine_similarity` accumulates in float and differs at 1e-7).
  *
  * Search paths, in increasing scale:
  *  - [[knnBruteForce]]: small query set × corpus broadcast-nested-loop with
  *    partial+final WindowGroupLimit top-k — corpus never shuffles wide;
  *  - [[topPairs]]: corpus-wide near-dup pairs — LSH-bucket candidate
  *    generation (equality join on (table, bucket)), then exact cosine
  *    rank over candidates only; [[topPairsExact]] is the all-pairs
  *    baseline for small corpora and tests;
  *  - [[annLsh]]: multi-table random-hyperplane LSH — candidates are bucket
  *    collisions only (OR-amplified recall);
  *  - [[ivfSearch]]: IVF-style — probe the nprobe nearest coarse-quantizer
  *    partitions, exact-rank only within them (partition pruning at scale).
  *
  * The random hyperplanes are md5-derived constants injected as literals
  * into BOTH the Spark plan and the DuckDB oracle SQL, so the approximate
  * operators ([[topPairs]], [[annLsh]], [[ivfSearch]]) are deterministic
  * and hard-oracle-checkable: the oracle replays the same bucketization,
  * not just the same ranking.
  */
object Similarity {
  type Q = (SparkSession, String) => DataFrame

  // ------------------------------------------------------------ library API

  /** Exact top-k cosine neighbors for each row satisfying `isQuery`. */
  def knnBruteForce(df: DataFrame, idCol: String, vecCol: String,
      isQuery: Column, k: Int = 10): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val emb = df.select(col(idCol), col(vecCol))
    val queries = emb.filter(isQuery)
      .select(col(idCol).as("qid"), col(vecCol).as("qe"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine_raw").desc, col(idCol))
    emb.crossJoin(broadcast(queries))
      .filter(col(idCol) =!= col("qid"))
      .withColumn("cosine_raw", expr(s"cosine_sim($vecCol, qe)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col(idCol).as("neighbor_id"),
        round(col("cosine_raw"), 6).as("cosine"))
  }

  /** Hard-negative mining — the contrastive-training sampler: for each
    * anchor, the top-k most-cosine-similar corpus vectors with a
    * DIFFERENT label (the "looks like a match but is not" examples that
    * make a contrastive batch informative; InfoNCE/triplet training
    * degrades to trivial negatives without it). Same-id rows are excluded
    * for free (same id ⇒ same label).
    *
    * Shape = [[knnBruteForce]]'s: the mining batch of anchors broadcasts
    * (a batch is always ≪ the corpus), the corpus scans once and never
    * shuffles wide — the label filter runs BEFORE scoring, and the
    * rank ≤ k filter lets InferWindowGroupLimit cut each scan partition
    * to k rows per anchor before the per-anchor exchange, so the shuffle
    * carries ≤ anchors × k × partitions rows. At 100 TB mine in anchor
    * batches this exact way, or pre-prune candidates with [[annLsh]]
    * buckets and apply the same label filter + top-k — the exact form is
    * the audit the sampler is validated against. */
  def hardNegatives(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, isAnchor: Column, k: Int = 10): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val emb = df.select(col(idCol), col(vecCol), col(labelCol))
    val anchors = emb.filter(isAnchor)
      .select(col(idCol).as("qid"), col(vecCol).as("qe"),
        col(labelCol).as("q_label"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine_raw").desc, col(idCol))
    emb.crossJoin(broadcast(anchors))
      .filter(col(labelCol) =!= col("q_label"))
      .withColumn("cosine_raw", expr(s"cosine_sim($vecCol, qe)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("q_label"), col("rank").cast("int").as("rank"),
        col(idCol).as("negative_id"), col(labelCol).as("neg_label"),
        round(col("cosine_raw"), 6).as("cosine"))
  }

  /** Top-N most-similar candidate pairs corpus-wide (embedding near-dup
    * detection). Candidates are LSH bucket collisions — pairs sharing any
    * (table, bucket) — generated by an *equality* self-join on the bucketed
    * projection, then exact-cosine-ranked. Never materializes all pairs.
    *
    * At 100 TB: the corpus maps to `numTables` (table, bucket, id) rows,
    * shuffles once on (table, bucket), and joins within buckets only.
    * Within-bucket pair count is L·n²/2^m — pick `planesPerTable` m ≈
    * log₂(n / desired bucket size) so buckets stay bounded as the corpus
    * grows; the defaults suit the test fixtures. True near-dup pairs
    * (cosine ≥ ~0.9) collide with probability ≈ 1 − (1 − 0.96^m)^L ≈ 1;
    * lower-similarity pairs are deliberately not guaranteed. */
  def topPairs(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      topN: Int = 20, numTables: Int = NumTables,
      planesPerTable: Int = PlanesPerTable,
      maxBucketDf: Int = MaxBucketDf): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val emb = df.select(col(idCol), col(vecCol))
    // Hot-bucket guard, same class as Dedup.minHashLsh's band cap: a bucket
    // holding f vectors emits f² candidate rows, and embedding corpora have
    // degenerate clusters (duplicated content, zero vectors). Buckets over
    // `maxBucketDf` are dropped from candidate generation — near-dup pairs
    // inside such a cluster should be collapsed by exact/semantic dedup
    // first, not enumerated pairwise. The count rides a window over the
    // (tbl, bucket) partitioning the self-join shuffles on anyway; the
    // oracle replays the cap.
    val bucketed = emb
      .select(col(idCol), posexplode(expr(bucketArraySpark(vecCol, dim, numTables, planesPerTable))))
      .toDF(idCol, "tbl", "bucket")
      .withColumn("df_", count(lit(1)).over(
        Window.partitionBy(col("tbl"), col("bucket"))))
      .filter(col("df_") <= maxBucketDf)
      .drop("df_")
    val cand = bucketed.as("x").join(bucketed.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id1"), col(s"y.$idCol").as("id2"))
      .distinct()
    cand
      .join(emb.select(col(idCol).as("id1"), col(vecCol).as("v1")), "id1")
      .join(emb.select(col(idCol).as("id2"), col(vecCol).as("v2")), "id2")
      .withColumn("cosine_raw", expr("cosine_sim(v1, v2)"))
      .orderBy(col("cosine_raw").desc, col("id1"), col("id2"))
      .limit(topN)
      .select(col("id1"), col("id2"), round(col("cosine_raw"), 6).as("cosine"))
  }

  /** All-pairs exact variant of [[topPairs]] — O(n²); the baseline for
    * small corpora and the mechanism tests. Not the 100 TB path. */
  def topPairsExact(df: DataFrame, idCol: String, vecCol: String,
      topN: Int = 20): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val emb = df.select(col(idCol), col(vecCol))
    emb.as("x").join(emb.as("y"), col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id1"), col(s"y.$idCol").as("id2"),
        expr(s"cosine_sim(x.$vecCol, y.$vecCol)").as("cosine_raw"))
      .orderBy(col("cosine_raw").desc, col("id1"), col("id2"))
      .limit(topN)
      .select(col("id1"), col("id2"), round(col("cosine_raw"), 6).as("cosine"))
  }

  /** Plane components as fixed 9-decimal literals — the SAME strings are
    * injected into the DuckDB oracle and parsed by the native
    * [[graft.functions.HyperplaneBuckets]] expression, so both engines
    * compute identical doubles and identical signs. */
  private[graft] def planeLits(p: Int, dim: Int): Array[String] =
    graft.functions.HyperplaneBucketsImpl.planeStrings(p, dim)

  private def dotExpr(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> cast(x as double) * cast(y as double)), 0D, (acc, v) -> acc + v)"

  private val NumTables = 8 // L hash tables (OR-amplification for recall)
  private val PlanesPerTable = 4 // m planes → 16 buckets per table

  /** Default bucket document-frequency cap for [[topPairs]] — shared with
    * the q61 oracle so the gate checks the capped semantics. */
  private[graft] val MaxBucketDf = 1000

  /** Spark SQL expression: array of `numTables` bucket ids (sign pattern of
    * m hyperplane projections per table) for `vecCol` — the native codegen'd
    * [[graft.functions.HyperplaneBuckets]] expression (requires
    * [[GraftFunctions.register]]). The interpreted-HOF formulation this
    * replaced lives on as [[bucketArrayHofSpark]], kept solely so the
    * parity test can assert the two produce identical buckets. */
  private[graft] def bucketArraySpark(vecCol: String, dim: Int,
      numTables: Int, planesPerTable: Int): String =
    s"graft_hp_buckets($vecCol, $numTables, $planesPerTable, $dim)"

  /** Test-only parity baseline: the pre-round-3 HOF bucketization (2,048
    * literal AST nodes, per-element interpreted lambdas). */
  private[graft] def bucketArrayHofSpark(vecCol: String, dim: Int,
      numTables: Int, planesPerTable: Int): String =
    (0 until numTables).map { t =>
      (0 until planesPerTable).map { i =>
        val arr = planeLits(t * planesPerTable + i, dim)
          .map(_ + "D").mkString("array(", ", ", ")")
        s"CASE WHEN ${dotExpr(vecCol, arr)} >= 0 THEN ${1 << i} ELSE 0 END"
      }.mkString(" + ")
    }.mkString("array(", ", ", ")")

  /** DuckDB rendering of the same bucket array (same literals, same sign
    * rule) — lets the oracle replay the exact bucketization. */
  private def bucketListDuck(vecCol: String, dim: Int,
      numTables: Int, planesPerTable: Int): String =
    (0 until numTables).map { t =>
      (0 until planesPerTable).map { i =>
        val arr = "[" + planeLits(t * planesPerTable + i, dim).mkString(", ") + "]"
        s"(CASE WHEN ${duckDot.format(vecCol, arr)} >= 0 THEN ${1 << i} ELSE 0 END)"
      }.mkString(" + ")
    }.mkString("[", ", ", "]")

  /** Random-hyperplane LSH ANN, multi-table: each vector lands in one bucket
    * per table (sign pattern of m projections); candidates = vectors sharing
    * *any* table's bucket with a query (OR-amplification), then ranked by
    * exact cosine. Signatures are literal-plane expressions in the plan.
    * Recall vs [[knnBruteForce]] is measured in PipelineOpsSpec.
    *
    * At 100 TB: the corpus side is one map (signature) + one shuffle on
    * (table, bucket); candidate generation never materializes all-pairs. */
  // (no default args here: the fixture-bound overload below carries them,
  // and Scala forbids defaults on two overloads of one name)
  def annLsh(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      isQuery: Column, k: Int): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val emb = df.select(col(idCol), col(vecCol))
    val bucketed = emb
      .select(col(idCol), posexplode(expr(bucketArraySpark(vecCol, dim, NumTables, PlanesPerTable))))
      .toDF(idCol, "tbl", "bucket")
    val qB = bucketed.join(emb.filter(isQuery).select(col(idCol)), idCol)
      .select(col(idCol).as("qid"), col("tbl"), col("bucket"))
    val cand = bucketed.join(broadcast(qB), Seq("tbl", "bucket"))
      .filter(col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol)).distinct()
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine_raw").desc, col(idCol))
    // Broadcast build side = the QUERY subset only (cand.qid ⊆ query ids, so
    // restricting the build side is semantics-neutral). Broadcasting the
    // unfiltered corpus here would be a broadcast-large-side join — correct
    // at fixture scale, guaranteed OOM at corpus scale. PlanSpec asserts the
    // isQuery predicate reaches the broadcast side's scan.
    cand
      .join(emb, idCol)
      .join(broadcast(emb.filter(isQuery)
        .select(col(idCol).as("qid"), col(vecCol).as("qe"))), "qid")
      .withColumn("cosine_raw", expr(s"cosine_sim($vecCol, qe)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col(idCol).as("neighbor_id"),
        round(col("cosine_raw"), 6).as("cosine"))
  }

  /** Per-partition centroids: element-wise mean via posexplode →
    * (partition, pos) aggregate → reassembled float array. The coarse-
    * quantizer build step of an IVF index. The float cast quantizes away
    * partial-aggregation summation-order noise, making the centroid
    * deterministic and cross-engine-stable. */
  def centroids(df: DataFrame, partCol: String, vecCol: String): DataFrame =
    df.select(col(partCol), posexplode(col(vecCol)))
      .select(col(partCol), col("pos"), col("col").cast("double").as("v"))
      .groupBy(col(partCol), col("pos"))
      .agg(avg(col("v")).as("av"))
      .groupBy(col(partCol))
      .agg(expr("cast(transform(sort_array(collect_list(struct(pos, av))), x -> float(x.av)) as array<float>)")
        .as("centroid"))

  /** IVF-style ANN: `partCol` values act as the inverted-file partitions;
    * per query, probe the `nprobe` partitions whose centroids are most
    * cosine-similar, then exact-rank only within those partitions. At scale
    * `partCol` is the physical partitioning key, so probing reads only
    * matching partitions (partition pruning), never the full corpus.
    * Mechanism contract (PipelineOpsSpec): results equal brute-force search
    * restricted to the probed partitions. */
  def ivfSearch(df: DataFrame, idCol: String, partCol: String, vecCol: String,
      isQuery: Column, k: Int = 10, nprobe: Int = 3): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val emb = df.select(col(idCol), col(partCol), col(vecCol))
    val cents = centroids(emb, partCol, vecCol)
    val queries = emb.filter(isQuery)
      .select(col(idCol).as("qid"), col(vecCol).as("qe"))
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("csim").desc, col(partCol))
    val probes = queries.crossJoin(broadcast(cents))
      .withColumn("csim", expr("cosine_sim(qe, centroid)"))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nprobe)
      .select(col("qid"), col("qe"), col(partCol))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine_raw").desc, col(idCol))
    emb.join(broadcast(probes), Seq(partCol))
      .filter(col(idCol) =!= col("qid"))
      .withColumn("cosine_raw", expr(s"cosine_sim($vecCol, qe)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col(idCol).as("neighbor_id"),
        col(partCol), round(col("cosine_raw"), 6).as("cosine"))
  }

  /** SemDeDup-shaped semantic dedup: assign every vector to its
    * nearest (cosine) coarse-quantizer centroid, compare pairs ONLY within a
    * cluster, and mark any vector whose cluster holds an earlier (smaller
    * id) vector with cosine ≥ `minCos` as a duplicate of the smallest such
    * id. Output: (id, cluster, keeper_id, is_dup) for every input row.
    *
    * The 100 TB posture is the whole point of the shape: centroids are a
    * broadcast-sized table, assignment is one map-side pass, and the
    * quadratic comparison is bounded per cluster (≈ n/k rows) by an
    * *equality* join on the cluster id — the number of clusters k grows with
    * the corpus, so no stage is globally quadratic. (SemDeDup proper keeps
    * the member farthest from the centroid; keeping the minimum id is the
    * deterministic, oracle-replayable variant of the same policy.) */
  def semanticDedup(df: DataFrame, idCol: String, labelCol: String,
      vecCol: String, minCos: Double = 0.35): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val emb = df.select(col(idCol), col(labelCol), col(vecCol))
    val cents = centroids(emb, labelCol, vecCol)
      .select(col(labelCol).as("cl"), col("centroid"))
    val wA = Window.partitionBy(col(idCol)).orderBy(col("csim").desc, col("cl"))
    // Assignment is read by three branches (both pair sides + final join) —
    // materialize once.
    val asn = emb.crossJoin(broadcast(cents))
      .withColumn("csim", expr(s"cosine_sim($vecCol, centroid)"))
      .withColumn("rn", row_number().over(wA))
      .filter(col("rn") === 1)
      .select(col(idCol), col("cl"), col(vecCol))
      .localCheckpoint()
    val dups = asn.select(col(idCol).as("id1"), col("cl"), col(vecCol).as("v1"))
      .join(asn.select(col(idCol).as("id2"), col("cl"), col(vecCol).as("v2")), Seq("cl"))
      .filter(col("id1") < col("id2"))
      .filter(expr("cosine_sim(v1, v2)") >= minCos)
      .groupBy(col("id2").as(idCol)).agg(min(col("id1")).as("keeper0"))
    asn.join(dups, Seq(idCol), "left")
      .select(col(idCol), col("cl").as("cluster"),
        coalesce(col("keeper0"), col(idCol)).as("keeper_id"),
        (coalesce(col("keeper0"), col(idCol)) =!= col(idCol)).as("is_dup"))
  }

  /** Dimension-pair sample covariance of an embedding column — the
    * statistics a whitening/PCA step consumes. The corpus, whatever its
    * size, collapses to `d(d+1)/2` mergeable covariance states (the
    * upper triangle); the eigen-solve those feed is driver-side math on a
    * d×d matrix — the canonical "big data, tiny state" decomposition.
    *
    * Shape: ONE pass over the vectors accumulates per-partition moment
    * state — `n`, per-dimension sums `S`, and the upper-triangle
    * cross-product sums `M` — in preallocated arrays (no per-pair row or
    * struct ever materializes; the pre-r9 nested-transform explode paid
    * d(d+1)/2 struct allocations per vector through non-codegen HOFs and
    * was the bench's top non-streaming cost). Partials merge through a
    * log-depth DISTRIBUTED tree (the treeAggregate shape) whenever more
    * than `driverMergeMax` partitions report: each level groups partials
    * by `pid / fanIn` and sums them in ascending-pid order, so the
    * floating-point summation order is a pure function of the partition
    * count — deterministic under any task scheduling, which raw
    * `treeAggregate` is not. The driver only ever collects
    * ≤ driverMergeMax states (each `d(d+1)/2 + d` doubles); below the
    * threshold the tree is skipped — one job, zero extra shuffles, the
    * same ascending-pid order, same answer. Covariance follows as
    * `(M_ij − S_i·S_j/n)/(n−1)` — with near-zero-mean unit-scale embedding
    * values the cancellation risk of the textbook form is nil and 6 dp
    * rounding absorbs the ulps (values cast to DOUBLE before any product;
    * float32 arithmetic differs across engines). `+ 0.0` normalizes IEEE
    * -0.0 (the q123 discipline). */
  def embeddingCovariance(df: DataFrame, vecCol: String,
      driverMergeMax: Int = 64, fanIn: Int = 16): DataFrame = {
    require(fanIn >= 2, s"embeddingCovariance: fanIn must be >= 2, got $fanIn")
    val s = df.sparkSession
    val proj = df.select(col(vecCol))
    val isFloat = proj.schema.head.dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => true
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, _) => false
      case other => throw new IllegalArgumentException(
        s"embeddingCovariance: $vecCol must be array<float|double>, got $other")
    }
    val partials = proj.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
      var n = 0L; var d = -1
      var sums: Array[Double] = null; var cross: Array[Double] = null
      var x: Array[Double] = null
      while (it.hasNext) {
        val r = it.next()
        if (!r.isNullAt(0)) {
          val a = r.getArray(0)
          val dim = a.numElements()
          if (d < 0) {
            d = dim; sums = new Array[Double](d)
            cross = new Array[Double](d * (d + 1) / 2); x = new Array[Double](d)
          }
          require(dim == d, s"embeddingCovariance: ragged dims ($dim vs $d)")
          var i = 0
          while (i < d) {
            // InternalRow array reads return 0.0 for a null slot with no
            // error — a silent zero would skew every moment. The schema
            // declares containsNull=true, so guard and fail fast (the
            // fixtures carry no null elements; one appearing is data
            // corruption, not a case to average over).
            if (a.isNullAt(i)) throw new IllegalArgumentException(
              s"embeddingCovariance: null element at dim $i of $vecCol")
            x(i) = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
            i += 1
          }
          i = 0; var c = 0
          while (i < d) {
            val xi = x(i); sums(i) += xi
            var j = i
            while (j < d) { cross(c) += xi * x(j); c += 1; j += 1 }
            i += 1
          }
          n += 1L
        }
      }
      if (n == 0) Iterator.empty
      else Iterator((pid, (n, d, sums, cross)))
    }
    // Log-depth tree reduction: while more than driverMergeMax partials
    // remain, group by pid/fanIn and sum each group in ascending-pid order
    // on executors. ids stay dense in [0, bound) at every level, so the
    // combine order — hence the fp result — depends only on the partition
    // count, never on task completion order.
    var cur = partials
    var bound = cur.getNumPartitions
    val maxDriver = math.max(1, driverMergeMax)
    while (bound > maxDriver) { // fanIn >= 2 ⇒ nextBound < bound ⇒ terminates
      val nextBound = (bound + fanIn - 1) / fanIn
      cur = cur.map { case (pid, st) => (pid / fanIn, (pid, st)) }
        .groupByKey(nextBound)
        .map { case (gid, grp) =>
          (gid, covMerge(grp.toArray.sortBy(_._1).map(_._2)))
        }
      bound = nextBound
    }
    val collected = cur.collect().sortBy(_._1).map(_._2)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("i",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("j",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("cov",
        org.apache.spark.sql.types.DoubleType, nullable = true)))
    if (collected.isEmpty)
      return s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val (n, d, sums, cross) = covMerge(collected)
    def round6(v: Double): Double =
      java.math.BigDecimal.valueOf(v)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0
    val rows = new scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.Row](cross.length)
    var i = 0; var c = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val cov: Any =
          if (n < 2) null
          else round6((cross(c) - sums(i) * sums(j) / n) / (n - 1))
        rows += org.apache.spark.sql.Row(i, j, cov)
        c += 1; j += 1
      }
      i += 1
    }
    s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), schema)
  }

  /** Ascending-order sum of covariance moment partials `(n, d, sums,
    * cross)` — shared by every tree level and the final driver merge, so
    * the combine algebra cannot drift between the two paths. Allocates
    * fresh accumulators; never mutates its inputs. */
  private def covMerge(sts: Array[(Long, Int, Array[Double], Array[Double])])
      : (Long, Int, Array[Double], Array[Double]) = {
    val d = sts.head._2
    require(sts.forall(_._2 == d),
      "embeddingCovariance: ragged dims across partitions")
    var n = 0L
    val sums = new Array[Double](d)
    val cross = new Array[Double](d * (d + 1) / 2)
    sts.foreach { case (pn, _, ps, pc) =>
      n += pn
      var i = 0
      while (i < sums.length) { sums(i) += ps(i); i += 1 }
      i = 0
      while (i < cross.length) { cross(i) += pc(i); i += 1 }
    }
    (n, d, sums, cross)
  }

  /** Symmetric absmax int8 quantization — the storage/serving form of an
    * embedding corpus (4× smaller than float32, SIMD-dot-friendly). Scale
    * per dimension is `max(|x|)` over the corpus (a d-row bounded
    * aggregate, broadcast back); codes are `round(x / scale * 127)` —
    * pure map-side after the one stats pass, exactly how a production
    * quantizer runs: fit once, apply streaming. Output is exploded
    * (vec_id, i, code) integer rows, so the gate is exact integer algebra
    * (the float division feeds `round`, identical cross-engine on
    * double inputs). Zero-scale dimensions (all-zero column) code to 0. */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val dims = df.select(posexplode(col(vecCol)).as(Seq("i", "x")))
      .select(col("i"), abs(col("x").cast("double")).as("ax"))
      .groupBy(col("i")).agg(max(col("ax")).as("scale"))
    df.select(col(idCol), posexplode(col(vecCol)).as(Seq("i", "x")))
      .join(broadcast(dims), Seq("i"))
      .select(col(idCol), col("i"),
        when(col("scale") === 0.0, lit(0)).otherwise(
          round(col("x").cast("double") / col("scale") * 127.0, 0).cast("int"))
          .as("code"))
  }

  /** Exact-arithmetic Lloyd k-means over an embedding column — the coarse
    * quantizer a production IVF index or SemDeDup curriculum is trained
    * with ([[ivfSearch]]/[[semanticDedup]] consume a partition column this
    * produces).
    *
    * Floating-point k-means is NOT reproducible across engines or even
    * across partitionings (aggregate summation order moves the 17th bit,
    * a boundary point flips cluster, the flip cascades through every later
    * iteration). This variant removes the float entirely:
    *  - vectors quantize ONCE to integer `scale`-units
    *    (`round(x · scale)` as BIGINT) — every distance is an exact
    *    integer Σ(a−b)², order-independent under any shuffle;
    *  - centroids re-quantize each update (`round(Σq / n)` — one IEEE
    *    division of exact integers, bit-identical on any engine);
    *  - ties at equidistant points break to the smaller cluster id, and
    *    seeding is the k smallest ids (a TakeOrderedAndProject, not a
    *    random init).
    * So iteration t is a pure function of the input set — the DuckDB
    * oracle replays all `iters` rounds and must agree bit-for-bit.
    *
    * Scale shape: the corpus localCheckpoints once (quantized) and is
    * scanned `iters + 1` times; per iteration the only exchange is the
    * (cluster, pos) partial-sum aggregate — k·d rows — because the
    * centroids live on the DRIVER as k small integer vectors (k·d longs,
    * a few KB — the q240 bounded-collect discipline) and every assignment
    * is a MAP-SIDE argmin against that literal array. The previous form
    * kept centroids as a DataFrame and paid three exchanges per iteration
    * (crossJoin×k + groupBy(vid) min + a vid-keyed join re-attaching the
    * vectors); the argmin rewrite (r21, guide §2.4 "remove shuffles
    * outright") computes the identical assignment in the scan itself —
    * `array_position(dists, array_min(dists))` picks the FIRST minimum,
    * which is exactly the old `min(struct(dist, cluster))` smallest-id
    * tiebreak.
    *
    * Output: one row per (cluster, pos): quantized centroid coordinate,
    * member count and exact integer inertia under the FINAL centroids. */
  def kMeans(df: DataFrame, idCol: String, vecCol: String, k: Int = 8,
      iters: Int = 5, scale: Int = 1000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val qp = df.select(col(idCol).as("vid"),
        expr(s"transform($vecCol, x -> cast(round(cast(x as double) * $scale) as bigint))")
          .as("qv"))
      .localCheckpoint()
    // k literal centroid vectors → per-row distance array → map-side argmin.
    // The distance array is bound through a Generate (explode of a 1-element
    // array), NOT a projection alias: CollapseProject inlines aliases into
    // every reference, so the O(k·d) fold would otherwise be re-evaluated
    // per consuming expression (measured 2.2× at the 10× tier before this
    // barrier — dist + cluster both read `_ds`).
    def assigned(cents: Seq[Array[Long]]): DataFrame = {
      val centsLit = array(cents.map(cv => array(cv.map(lit(_)): _*)): _*)
      val ds = transform(centsLit, cv =>
        aggregate(zip_with(col("qv"), cv,
          (a: Column, b: Column) => (a - b) * (a - b)),
          lit(0L), (s: Column, x: Column) => s + x))
      qp.select(col("vid"), col("qv"), explode(array(ds)).as("_ds"))
        .withColumn("dist", array_min(col("_ds")))
        .withColumn("cluster",
          (array_position(col("_ds"), col("dist")) - 1).cast("int"))
    }
    // Seeding: the k smallest ids, exactly as before (TakeOrdered + collect
    // of k rows; cluster id = rank in vid order).
    // collect() of an orderBy().limit() plan returns rows IN vid order
    // (TakeOrderedAndProject), so index in the collected array = the old
    // row_number-derived cluster id.
    var cents: Seq[Array[Long]] = qp.orderBy(col("vid")).limit(k)
      .select(col("qv")).collect()
      .map(_.getSeq[Long](0).toArray).toSeq
    // Empty corpus: no centroids — the literal-array expression below would
    // not even typecheck; the answer is simply the empty frame.
    if (cents.isEmpty)
      return Seq.empty[(Int, Int, Long, Long, Long)]
        .toDF("cluster", "pos", "centroid_q", "n_points", "inertia_q")
    for (_ <- 1 to iters) {
      // Re-centering stays a distributed exact aggregate; only the ≤ k·d
      // result rows come back to the driver.
      val sums = assigned(cents)
        .select(col("cluster"), posexplode(col("qv")).as(Seq("pos", "q")))
        .groupBy(col("cluster"), col("pos"))
        .agg(expr("cast(round(cast(sum(q) as double) / count(1)) as bigint)").as("c"))
        .collect()
      val byCluster = sums.groupBy(_.getInt(0))
      // An emptied cluster keeps its previous centroid.
      cents = cents.zipWithIndex.map { case (old, ci) =>
        byCluster.get(ci) match {
          case Some(rows) =>
            val cv = old.clone()
            rows.foreach(r => cv(r.getInt(1)) = r.getLong(2))
            cv
          case None => old
        }
      }
    }
    val stats = assigned(cents).groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_points"), sum(col("dist")).as("inertia_q"))
    val centsDf = cents.zipWithIndex.flatMap { case (cv, ci) =>
      cv.zipWithIndex.map { case (v, p) => (ci, p, v) }
    }.toDF("cluster", "pos", "centroid_q")
    centsDf.join(stats, Seq("cluster"), "left")
      .select(col("cluster"), col("pos"), col("centroid_q"),
        coalesce(col("n_points"), lit(0L)).as("n_points"),
        coalesce(col("inertia_q"), lit(0L)).as("inertia_q"))
  }

  /** Hybrid lexical+semantic retrieval fused by Reciprocal Rank Fusion
    * (Cormack et al. 2009): one BM25 keyword ranking
    * ([[TextAnalysis.bm25]]) and one exact-cosine vector ranking
    * ([[knnBruteForce]]) full-outer-join on the doc id, each contributing
    * `1/(c + rank)`; docs found by both channels rise. RRF is the
    * production default for hybrid search precisely because it consumes
    * only RANKS — integer, engine-exact — so unlike score-interpolation
    * fusion it is deterministic and oracle-replayable (the two IEEE
    * divisions + one two-term sum happen in a fixed written order).
    *
    * Scale: both channels are top-k queries (TakeOrderedAndProject /
    * WindowGroupLimit); the fusion join touches ≤ 2k rows. */
  def hybridSearch(docs: DataFrame, docId: String, textCol: String,
      embs: DataFrame, vecId: String, vecCol: String,
      queryTerms: Seq[String], queryVec: Long, kEach: Int = 20,
      rrfC: Int = 60): DataFrame = {
    require(kEach >= 1 && rrfC >= 1, s"hybridSearch: bad kEach=$kEach rrfC=$rrfC")
    // Ranks derive from each channel's own (rounded-score, id) order.
    val lex = TextAnalysis.bm25(docs, docId, textCol, queryTerms, kEach)
      .select(col(docId).as("doc_id"),
        row_number().over(Window.orderBy(col("bm25").desc, col(docId)))
          .as("lex_rank"))
    val sem = knnBruteForce(embs, vecId, vecCol, col(vecId) === queryVec, kEach)
      .select(col("neighbor_id").as("doc_id"), col("rank").as("sem_rank"))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("sem_rank"),
        round(coalesce(lit(1.0) / (col("lex_rank") + rrfC), lit(0.0)) +
          coalesce(lit(1.0) / (col("sem_rank") + rrfC), lit(0.0)), 6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
  }

  /** ANN recall@k audit — the evaluation every vector store ships: for
    * each query, how much of the exact top-k do the approximate indexes
    * recover? recall@k = |approx ∩ exact| / k, per (method, query).
    *
    * All three channels ([[knnBruteForce]] truth, [[annLsh]], [[ivfSearch]])
    * are deterministic here, so the audit itself is hash-exact — rare for
    * an ANN evaluation, and the reason it can sit under the oracle gate.
    * The join work is k-bounded per query (left-semi against the ≤ k-row
    * truth set); the expensive legs are the searches themselves, whose
    * scale posture is documented on each operator. */
  def annRecall(df: DataFrame, idCol: String, partCol: String,
      vecCol: String, dim: Int, isQuery: Column, k: Int = 10): DataFrame = {
    val exact = knnBruteForce(df, idCol, vecCol, isQuery, k)
      .select(col("qid"), col("neighbor_id"))
      .localCheckpoint()
    val qids = exact.select(col("qid")).distinct()
    def leg(ap: DataFrame, name: String): DataFrame = {
      val hits = ap.select(col("qid"), col("neighbor_id"))
        .join(exact, Seq("qid", "neighbor_id"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as("hits"))
      qids.join(hits, Seq("qid"), "left")
        .select(lit(name).as("method"), col("qid"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          round(coalesce(col("hits"), lit(0L)).cast("double") / k, 6)
            .as("recall"))
    }
    leg(annLsh(df, idCol, vecCol, dim, isQuery, k), "lsh")
      .unionAll(leg(ivfSearch(df, idCol, partCol, vecCol, isQuery, k), "ivf"))
  }

  /** Matryoshka (prefix-dimension) truncation audit — the evaluation a
    * dimension-reduction rollout runs before serving truncated
    * embeddings: for each query, how much of the FULL-dimension exact
    * top-k survives when corpus AND queries rank by the first d' dims
    * only? recall@k per (dim, query) — [[annRecall]]'s audit shape with
    * prefix truncation as the approximation under test. Deterministic
    * like q186 (cosine ties break by id on both engines), so the audit
    * sits under the exact oracle gate — rare for an embedding eval.
    *
    * Scale shape is [[knnBruteForce]]'s per leg (queries broadcast,
    * corpus scans once, WindowGroupLimit bounds the per-query shuffle to
    * k rows per partition); legs are independent per dim and the
    * hit-join is k-bounded per query. Truncation itself is a map-side
    * slice — serving-side it is the 4×/2× storage cut this audit prices
    * the recall cost of. */
  def matryoshkaRecall(df: DataFrame, idCol: String, vecCol: String,
      isQuery: Column, dims: Seq[Int], k: Int = 10): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ >= 1),
      s"matryoshkaRecall: dims must be non-empty positive, got $dims")
    val exact = knnBruteForce(df, idCol, vecCol, isQuery, k)
      .select(col("qid"), col("neighbor_id"))
      .localCheckpoint()
    val qids = exact.select(col("qid")).distinct()
    dims.map { dp =>
      val trunc = df.select(col(idCol),
        expr(s"slice($vecCol, 1, $dp)").as(vecCol))
      val hits = knnBruteForce(trunc, idCol, vecCol, isQuery, k)
        .select(col("qid"), col("neighbor_id"))
        .join(exact, Seq("qid", "neighbor_id"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as("hits"))
      qids.join(hits, Seq("qid"), "left")
        .select(lit(dp).as("dim"), col("qid"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          round(coalesce(col("hits"), lit(0L)).cast("double") / k, 6)
            .as("recall"))
    }.reduce(_ unionAll _)
  }

  /** Product-quantization coding + reconstruction audit — the CODING
    * step of an IVF-PQ index (Jégou et al. 2011): the vector splits into
    * `m` contiguous subvectors, each assigned to its nearest of `k`
    * per-subspace codebook entries, compressing d floats to m small
    * codes. This audits the codebook: per (subspace, code), how many
    * subvectors land there and at what total squared error — the
    * balance/distortion readout that decides whether the codebook needs
    * retraining. Codebook here = the subvectors of the `k` smallest-id
    * vectors (the q154 seeding rule — deterministic, no random init);
    * production trains each subspace with [[kMeans]] and audits with
    * this same shape.
    *
    * Exactness is q154's discipline end-to-end: vectors quantize ONCE to
    * integer scale-units (`round(x·scale)` as BIGINT), every distance is
    * an exact integer Σ(a−b)², and the (dist ASC, code ASC) argmin tie
    * rule makes the assignment a pure function of the input set.
    *
    * Remainder contract (round 18, r17 ADVICE): when the embedding
    * dimension d is NOT divisible by m, only the first m·⌊d/m⌋
    * positions are coded — the trailing d mod m dims are dropped from
    * every subvector, codebook entry and distance (the standard PQ
    * treatment absent padding; Jégou et al. assume m | d). The oracle
    * applies the identical `pos < ⌊d/m⌋·m` filter, so both engines
    * agree on non-divisible inputs instead of the oracle inventing an
    * out-of-range partial subspace (Round18OpsSpec pins the drop).
    *
    * Scale shape: the corpus NEVER shuffles — the codebook (m·k
    * subvectors, a few KB) broadcasts as one collected row, assignment
    * is a map-side HOF fold (explode m subspaces, fold the k candidates
    * per subspace in place), and the only exchange carries the
    * (sub, code)-bounded partial aggregates (≤ m·k rows per partition).
    * The empty-cell spine keeps unused codes visible at n = 0 — the
    * signal a retrain keys on. `sq_err` sums exact per-subvector integer
    * distances into a BIGINT: safe far past fixture scale (each term ≤
    * w·(2·scale)² for unit-normalized inputs); a 100 TB run re-scores
    * per shard or widens to DECIMAL at the final roll-up. */
  def pqAudit(df: DataFrame, idCol: String, vecCol: String, m: Int = 4,
      k: Int = 8, scale: Int = 1000): DataFrame = {
    require(m >= 1 && k >= 1, s"pqAudit: need m, k >= 1, got ($m, $k)")
    val qv = df.select(col(idCol).as("vid"),
      expr(s"transform($vecCol, x -> cast(round(cast(x as double) * $scale) as bigint))")
        .as("qv"))
    // Codebook: the k smallest ids (TakeOrderedAndProject), coded 0..k-1
    // in id order — a k-row bounded window, then sliced into m subspaces.
    val codes = qv.orderBy(col("vid")).limit(k)
      .withColumn("code",
        (row_number().over(Window.orderBy(col("vid"))) - 1))
    val cb = codes.select(col("code"), explode(expr(
      s"transform(sequence(0, $m - 1), s -> named_struct(" +
        s"'sub', s, 'cvec', slice(qv, s * (size(qv) div $m) + 1, " +
        s"size(qv) div $m)))")).as("e"))
      .select(col("e.sub").as("sub"), col("code"), col("e.cvec").as("cvec"))
    // One collected codebook row (m entries, each k codes) — broadcast.
    val cbRow = cb.groupBy(col("sub"))
      .agg(sort_array(collect_list(struct(col("code"), col("cvec"))))
        .as("codes"))
      .agg(sort_array(collect_list(struct(col("sub"), col("codes"))))
        .as("cb"))
    // Map-side assignment: per subspace, fold the k candidates with the
    // explicit (d, code) lexicographic min — the q154 tie rule.
    val assigned = qv.crossJoin(broadcast(cbRow))
      .select(col("vid"), explode(expr(s"""
        transform(sequence(0, $m - 1), s -> named_struct('sub', s, 'best',
          aggregate(
            transform(element_at(cb, s + 1).codes, c -> named_struct(
              'd', aggregate(zip_with(
                     slice(qv, s * (size(qv) div $m) + 1, size(qv) div $m),
                     c.cvec, (a, b) -> (a - b) * (a - b)),
                   0L, (acc, x) -> acc + x),
              'code', c.code)),
            cast(null as struct<d: bigint, code: int>),
            (acc, c) -> CASE WHEN acc IS NULL THEN c
                             WHEN c.d < acc.d THEN c
                             WHEN c.d = acc.d AND c.code < acc.code THEN c
                             ELSE acc END)))""")).as("e"))
      .select(col("vid"), col("e.sub").as("sub"),
        col("e.best.code").as("code"), col("e.best.d").as("d"))
    val audit = assigned.groupBy(col("sub"), col("code"))
      .agg(count(lit(1)).as("n_assigned"), sum(col("d")).as("sq_err"))
    // audit is (m x k)-bounded: broadcast explicitly so the spine join
    // stays BHJ at ANY corpus size (the r17 StatsSweep caught the
    // stats-driven SMJ flip at sf0.1 before this hint).
    cb.select(col("sub"), col("code"))
      .join(broadcast(audit), Seq("sub", "code"), "left")
      .select(col("sub"), col("code"),
        coalesce(col("n_assigned"), lit(0L)).as("n_assigned"),
        coalesce(col("sq_err"), lit(0L)).as("sq_err"),
        when(col("n_assigned") > 0,
          round(col("sq_err").cast("double") / col("n_assigned"), 6))
          .as("mean_sq_err"))
  }

  /** Embedding-space snapshot drift (round 18) — the embedding-model
    * regression gate: did the new batch's vectors land where the old
    * ones did? Two snapshots (any split expression — here the q48 hash
    * split standing in for old/new ingest batches) collapse to exact
    * integer centroids (the q154 quantization rule), and the report is
    * per-dimension centroid deltas plus two summary columns — the exact
    * integer L2² of the delta vector and the pinned-chain cosine
    * between the centroids. A cosine drifting off 1.0 means the new
    * batch points somewhere else; the per-dim rows say WHERE. Runs
    * before any ANN index or semantic-dedup threshold is trusted across
    * a model/data rollover (q237's matryoshka audit is the
    * truncation-axis sibling).
    *
    * Determinism: quantize once to integer scale units, per-(side, dim)
    * exact sums, the q154 round(Σ/n) integer centroid, then exact
    * DECIMAL(38,0) dot/norm/L2 moments on the d-bounded frame with ONE
    * pinned sqrt/division tail.
    *
    * Shape: ONE (side × d)-bounded keyed aggregate over the exploded
    * corpus (map-side partials); everything after lives on ≤ d rows. */
  def centroidDrift(df: DataFrame, idCol: String, vecCol: String,
      inBase: Column, scale: Int = 1000): DataFrame = {
    require(scale >= 1, s"centroidDrift: scale must be >= 1, got $scale")
    val qp = df.select(inBase.as("_b"), posexplode(expr(
        s"transform($vecCol, x -> cast(round(cast(x as double) * $scale)" +
          " as bigint))")).as(Seq("pos", "q")))
    val side = qp.groupBy(col("_b"), col("pos"))
      .agg(sum(col("q")).as("_s"), count(lit(1)).as("_n"))
      .withColumn("_c", expr("cast(round(cast(_s as double) / _n) as bigint)"))
    val wide = side.groupBy(col("pos"))
      .agg(min(when(col("_b"), col("_c"))).as("c_base"),
        min(when(!col("_b"), col("_c"))).as("c_delta"),
        min(when(col("_b"), col("_n"))).as("n_base"),
        min(when(!col("_b"), col("_n"))).as("n_delta"))
    val summ = wide.agg(
      sum(col("c_base").cast("decimal(38,0)") * col("c_delta")).as("_dot"),
      sum(col("c_base").cast("decimal(38,0)") * col("c_base")).as("_nb"),
      sum(col("c_delta").cast("decimal(38,0)") * col("c_delta")).as("_nd"),
      sum((col("c_base") - col("c_delta")).cast("decimal(38,0)")
        * (col("c_base") - col("c_delta"))).as("_l2"))
    wide.crossJoin(broadcast(summ))
      .select(col("pos"), col("n_base"), col("n_delta"),
        col("c_base"), col("c_delta"),
        (col("c_base") - col("c_delta")).as("delta_q"),
        col("_l2").cast("long").as("l2sq_total"),
        when(expr("_nb > 0 and _nd > 0"),
          round(expr("""cast(_dot as double)
            / (sqrt(cast(_nb as double)) * sqrt(cast(_nd as double)))"""),
            6)).as("cosine"))
  }

  /** Label-separation audit — the clustering-quality readout a labeled
    * embedding corpus ships before anyone trains on the labels: per
    * label, the mean squared distance of members to their OWN integer
    * centroid (cohesion) vs the squared distance to the NEAREST OTHER
    * centroid (separation), and their ratio — a silhouette-flavored
    * number that is hash-exact (unlike silhouette itself, which averages
    * corpus² float distances). Low ratio = the label is not separable in
    * embedding space; retrain or merge.
    *
    * Exactness is q154's discipline: vectors quantize once to integer
    * scale-units, centroids re-quantize via `round(Σq/n)` (one IEEE
    * division of exact integers), every distance is an exact integer
    * Σ(a−b)²; the ratio is a pinned count-product chain with ONE final
    * division. Nearest-other ties break to the smaller label.
    *
    * Shape: one exploded (label, pos)-bounded centroid aggregate; the
    * member pass is a map-side HOF fold against the broadcast few-KB
    * centroid row (the [[pqAudit]] shape — the corpus never shuffles,
    * the only exchange carries |labels|-bounded partials); the
    * inter-centroid pass is a |labels|²-bounded self-join. */
  def labelSeparation(df: DataFrame, idCol: String, labelCol: String,
      vecCol: String, scale: Int = 1000): DataFrame = {
    val qv = df.select(col(idCol).as("vid"), col(labelCol).as("_lbl"),
      expr(s"transform($vecCol, x -> cast(round(cast(x as double) * $scale) as bigint))")
        .as("qv"))
    val cent = qv.select(col("_lbl"), posexplode(col("qv")).as(Seq("pos", "x")))
      .groupBy(col("_lbl"), col("pos"))
      .agg(expr("cast(round(cast(sum(x) as double) / count(1)) as bigint)")
        .as("c"))
    val centArr = cent.groupBy(col("_lbl"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), e -> e.c)")
        .as("cvec"))
      .localCheckpoint()
    val centRow = centArr
      .agg(sort_array(collect_list(struct(col("_lbl"), col("cvec"))))
        .as("cents"))
    val intra = qv.crossJoin(broadcast(centRow))
      .select(col("_lbl"), expr("""
        aggregate(zip_with(qv, filter(cents, e -> e._lbl = _lbl)[0].cvec,
          (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)""").as("_d2"))
      .groupBy(col("_lbl"))
      .agg(count(lit(1)).as("n"), sum(col("_d2")).as("_sum_d2"))
    val inter = centArr.as("x").join(centArr.as("y"),
        col("x._lbl") =!= col("y._lbl"))
      .select(col("x._lbl").as("_lbl"), col("y._lbl").as("_other"),
        expr("""aggregate(zip_with(x.cvec, y.cvec,
          (a, b) -> (a - b) * (a - b)), 0L, (acc, v) -> acc + v)""")
          .as("_id2"))
    val nearest = inter
      .withColumn("_rk", row_number().over(Window.partitionBy(col("_lbl"))
        .orderBy(col("_id2"), col("_other"))))
      .filter(col("_rk") === 1)
      .select(col("_lbl"), col("_other").as("nearest_label"),
        col("_id2").as("inter_d2"))
    // nearest is |labels|-bounded: broadcast explicitly so the join stays
    // BHJ at ANY corpus size (the r17 StatsSweep flip class).
    intra.join(broadcast(nearest), "_lbl")
      .select(col("_lbl").as("label"), col("n"),
        round(col("_sum_d2").cast("double") / col("n"), 6).as("intra_msd"),
        col("nearest_label"), col("inter_d2"),
        when(col("_sum_d2") > 0, round(
          col("inter_d2").cast("double") * col("n") / col("_sum_d2"), 6))
          .as("sep_ratio"))
  }

  // ------------------------------------------------- fixture-bound queries

  /** Back-compat signature used by PipelineOpsSpec. */
  def annLsh(s: SparkSession, d: String, nQueries: Int = 5, k: Int = 10): DataFrame =
    annLsh(Tables.embeddings(s, d), "vec_id", "embedding", 64,
      col("vec_id") < nQueries, k).orderBy(col("qid"), col("rank"))

  val queries: Map[String, Q] = Map(
    "q60_knn_bruteforce" -> ((s, d) =>
      knnBruteForce(Tables.embeddings(s, d), "vec_id", "embedding",
        col("vec_id") < 5).orderBy(col("qid"), col("rank"))),
    // anchors = a CONSTANT 5-vector mining batch (vec_ids 0/100/.../400,
    // present at every scale): a batch is fixed-size by definition, so the
    // query stays corpus-LINEAR at the tier — the first % 100-only cut
    // (anchors ∝ corpus) priced quadratic, 12.2x for 10x data, and was
    // redesigned before shipping (the q226 lesson, caught by the
    // coverage ledger's same-commit tier-row rule).
    "q229_hard_negatives" -> ((s, d) =>
      hardNegatives(Tables.embeddings(s, d), "vec_id", "embedding", "label",
        pmod(col("vec_id"), lit(100)) === 0 && col("vec_id") < 500, k = 5)
        .orderBy(col("qid"), col("rank"))),
    "q61_embedding_neardup" -> ((s, d) =>
      topPairs(Tables.embeddings(s, d), "vec_id", "embedding", 64)),
    "q62_ann_lsh" -> ((s, d) => annLsh(s, d)),
    // Centroid canonicalized to a comma-joined fixed-scale-decimal string
    // (both engines) so the driver's hash compare — which cannot hash array
    // columns — consumes it; decimal(12,5) renders identically in Spark
    // (BigDecimal.toPlainString) and DuckDB (fixed-scale varchar).
    "q63_label_centroids" -> ((s, d) =>
      centroids(Tables.embeddings(s, d), "label", "embedding")
        .select(col("label"),
          expr("""array_join(transform(centroid,
                    x -> cast(cast(round(cast(x as double), 5) as decimal(12,5)) as string)), ',')""")
            .as("centroid"))
        .orderBy(col("label"))),
    "q64_ann_ivf" -> ((s, d) =>
      ivfSearch(Tables.embeddings(s, d), "vec_id", "label", "embedding",
        col("vec_id") < 5).orderBy(col("qid"), col("rank"))),
    "q186_ann_recall" -> ((s, d) =>
      annRecall(Tables.embeddings(s, d), "vec_id", "label", "embedding", 64,
        col("vec_id") < 5).orderBy(col("method"), col("qid"))),
    "q237_matryoshka_recall" -> ((s, d) =>
      matryoshkaRecall(Tables.embeddings(s, d), "vec_id", "embedding",
        col("vec_id") < 5, Seq(16, 32)).orderBy(col("dim"), col("qid"))),
    "q65_semantic_dedup" -> ((s, d) =>
      semanticDedup(Tables.embeddings(s, d), "vec_id", "label", "embedding")
        .orderBy(col("vec_id"))),
    "q131_embedding_cov" -> ((s, d) =>
      embeddingCovariance(Tables.embeddings(s, d), "embedding")
        .orderBy(col("i"), col("j"))),
    // the gate keeps 40 vectors: quantization is per-CELL output (n×d rows),
    // and 500×64 exploded rows add nothing over 40×64 for an exact check.
    "q132_quantize_int8" -> ((s, d) =>
      quantizeInt8(Tables.embeddings(s, d).filter(col("vec_id") < 40),
        "vec_id", "embedding")
        .orderBy(col("vec_id"), col("i"))),
    "q154_kmeans" -> ((s, d) =>
      kMeans(Tables.embeddings(s, d), "vec_id", "embedding")
        .orderBy(col("cluster"), col("pos"))),
    "q240_pq_codebook" -> ((s, d) =>
      pqAudit(Tables.embeddings(s, d), "vec_id", "embedding")
        .orderBy(col("sub"), col("code"))),
    "q266_centroid_drift" -> ((s, d) =>
      centroidDrift(Tables.embeddings(s, d), "vec_id", "embedding",
        expr(s"pmod(${graft.operators.CrossHash.h60Expr("vec_id")}, 4) != 0"))
        .orderBy(col("pos"))),
    "q247_label_separation" -> ((s, d) =>
      labelSeparation(Tables.embeddings(s, d), "vec_id", "label",
        "embedding")
        .orderBy(col("label"))),
    // doc_id ≙ vec_id in the fixture (same 0..499 id space); query = the
    // q109 term set fused with vec 0's neighborhood.
    "q158_hybrid_rrf" -> ((s, d) =>
      hybridSearch(Tables.documents(s, d), "doc_id", "text",
        Tables.embeddings(s, d), "vec_id", "embedding",
        Seq("vector", "dup", "spark"), queryVec = 0L)),
  )

  private val duckDot =
    "list_sum(list_transform(list_zip(%s, %s), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
  private val duckNorm =
    "sqrt(list_sum(list_transform(%s, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"

  /** Shared oracle CTEs: embeddings with norms, and the bucketed (id, tbl,
    * bucket) projection replaying [[bucketArraySpark]]'s literals. */
  private def duckBuckets: String = s"""
      e AS (SELECT vec_id, label, embedding, ${duckNorm.format("embedding")} AS nrm
            FROM embeddings),
      b AS (SELECT vec_id, CAST(z[2] AS INT) AS tbl, CAST(z[1] AS INT) AS bucket
            FROM (SELECT vec_id,
                         unnest(list_zip(${bucketListDuck("embedding", 64, NumTables, PlanesPerTable)},
                                         range(0, $NumTables))) AS z
                  FROM e))"""

  val oracles: Map[String, String] = Map(
    // Replays embeddingCovariance via the INDEPENDENT dimension self-join
    // formulation (Spark generates pairs map-side) and DuckDB's native
    // covar_samp — two implementations of the sample-covariance sums.
    "q131_embedding_cov" -> """
      WITH e AS (SELECT vec_id, CAST(i - 1 AS INT) AS i,
                        CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
                 FROM (SELECT vec_id, embedding,
                              unnest(range(1, len(embedding) + 1)) AS i
                       FROM embeddings))
      SELECT a.i, b.i AS j, round(covar_samp(a.x, b.x), 6) + 0.0 AS cov
      FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY a.i, b.i ORDER BY 1, 2""",
    // Replays quantizeInt8: same filtered corpus, per-dim absmax scale,
    // round(x/scale*127) to INT — integer output, exact gate.
    "q132_quantize_int8" -> """
      WITH e AS (SELECT vec_id, CAST(i - 1 AS INT) AS i,
                        CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
                 FROM (SELECT vec_id, embedding,
                              unnest(range(1, len(embedding) + 1)) AS i
                       FROM embeddings WHERE vec_id < 40)),
      s AS (SELECT i, max(abs(x)) AS scale FROM e GROUP BY i)
      SELECT e.vec_id, e.i,
             CAST(CASE WHEN s.scale = 0 THEN 0
                       ELSE round(e.x / s.scale * 127.0) END AS INT) AS code
      FROM e JOIN s ON e.i = s.i
      ORDER BY e.vec_id, e.i""",
    // Same double-accumulation cosine as the q60 oracle, plus the label
    // filter; rank ties resolved by the identical (c DESC, vec_id) order.
    "q229_hard_negatives" -> s"""
      WITH e AS (SELECT vec_id, label, embedding,
                        ${duckNorm.format("embedding")} AS nrm
                 FROM embeddings),
      q AS (SELECT vec_id AS qid, label AS q_label, embedding AS qe, nrm AS qn
            FROM e WHERE vec_id % 100 = 0 AND vec_id < 500),
      scored AS (
        SELECT q.qid, q.q_label, e.vec_id, e.label,
               ${duckDot.format("e.embedding", "q.qe")} / (e.nrm * q.qn) AS c
        FROM e CROSS JOIN q WHERE e.label <> q.q_label),
      ranked AS (
        SELECT qid, q_label, vec_id, label, c,
               row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id)
                 AS rank
        FROM scored)
      SELECT qid, q_label, CAST(rank AS INT) AS rank,
             vec_id AS negative_id, label AS neg_label, round(c, 6) AS cosine
      FROM ranked WHERE rank <= 5 ORDER BY qid, rank""",
    "q60_knn_bruteforce" -> s"""
      WITH e AS (SELECT vec_id, embedding, ${duckNorm.format("embedding")} AS nrm
                 FROM embeddings),
      q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM e WHERE vec_id < 5),
      scored AS (
        SELECT q.qid, e.vec_id,
               ${duckDot.format("e.embedding", "q.qe")} / (e.nrm * q.qn) AS c
        FROM e CROSS JOIN q WHERE e.vec_id <> q.qid),
      ranked AS (
        SELECT qid, vec_id, c,
               row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS rank
        FROM scored)
      SELECT qid, CAST(rank AS INT) AS rank, vec_id AS neighbor_id,
             round(c, 6) AS cosine
      FROM ranked WHERE rank <= 10 ORDER BY qid, rank""",
    // Replays matryoshkaRecall: the q60 exact top-10 as truth, one
    // truncated-prefix ranking leg per dim (cosine over list slices,
    // same double accumulation order, same (c DESC, vec_id) tie rule),
    // hit counts via the same k-bounded join.
    "q237_matryoshka_recall" -> {
      def leg(dp: Int) = s"""
        SELECT $dp AS dim, q.qid AS qid, e2.vec_id AS vec_id,
               row_number() OVER (PARTITION BY q.qid ORDER BY
                 ${duckDot.format(s"e2.embedding[1:$dp]", s"q.qe[1:$dp]")}
                   / (${duckNorm.format(s"e2.embedding[1:$dp]")}
                      * ${duckNorm.format(s"q.qe[1:$dp]")}) DESC,
                 e2.vec_id) AS rank
        FROM e e2 CROSS JOIN qset q WHERE e2.vec_id <> q.qid"""
      s"""
      WITH e AS (SELECT vec_id, embedding, ${duckNorm.format("embedding")} AS nrm
                 FROM embeddings),
      qset AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn
               FROM e WHERE vec_id < 5),
      ex AS (SELECT qid, vec_id FROM (
               SELECT q.qid, e2.vec_id,
                      row_number() OVER (PARTITION BY q.qid ORDER BY
                        ${duckDot.format("e2.embedding", "q.qe")}
                          / (e2.nrm * q.qn) DESC, e2.vec_id) AS rank
               FROM e e2 CROSS JOIN qset q WHERE e2.vec_id <> q.qid)
             WHERE rank <= 10),
      ap AS (SELECT dim, qid, vec_id FROM (${leg(16)} UNION ALL ${leg(32)})
             WHERE rank <= 10),
      h AS (SELECT ap.dim, ap.qid, CAST(count(*) AS BIGINT) AS hits
            FROM ap JOIN ex ON ap.qid = ex.qid AND ap.vec_id = ex.vec_id
            GROUP BY ap.dim, ap.qid)
      SELECT d.dim, q.qid, coalesce(h.hits, CAST(0 AS BIGINT)) AS hits,
             round(coalesce(h.hits, 0) / 10.0, 6) AS recall
      FROM (SELECT unnest([16, 32]) AS dim) d
      CROSS JOIN (SELECT qid FROM qset) q
      LEFT JOIN h ON h.dim = d.dim AND h.qid = q.qid
      ORDER BY d.dim, q.qid"""
    },
    // Replays topPairs exactly: same literal hyperplanes → same buckets →
    // same bucket-df cap → same candidate pairs → same exact-cosine ranking.
    "q61_embedding_neardup" -> s"""
      WITH ${duckBuckets},
      keptk AS (SELECT tbl, bucket FROM b
                GROUP BY tbl, bucket HAVING count(*) <= $MaxBucketDf),
      bk AS (SELECT b.* FROM b
             JOIN keptk ON b.tbl = keptk.tbl AND b.bucket = keptk.bucket),
      cand AS (SELECT DISTINCT x.vec_id AS id1, y.vec_id AS id2
               FROM bk x JOIN bk y
                 ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id)
      SELECT c.id1, c.id2,
             round(${duckDot.format("ex.embedding", "ey.embedding")} / (ex.nrm * ey.nrm), 6) AS cosine
      FROM cand c
      JOIN e ex ON c.id1 = ex.vec_id
      JOIN e ey ON c.id2 = ey.vec_id
      ORDER BY ${duckDot.format("ex.embedding", "ey.embedding")} / (ex.nrm * ey.nrm) DESC,
               c.id1, c.id2
      LIMIT 20""",
    "q62_ann_lsh" -> s"""
      WITH ${duckBuckets},
      qb AS (SELECT vec_id AS qid, tbl, bucket FROM b WHERE vec_id < 5),
      cand AS (SELECT DISTINCT q.qid, x.vec_id
               FROM b x JOIN qb q
                 ON x.tbl = q.tbl AND x.bucket = q.bucket AND x.vec_id <> q.qid),
      scored AS (SELECT c.qid, c.vec_id,
                        ${duckDot.format("x.embedding", "qq.embedding")} / (x.nrm * qq.nrm) AS cs
                 FROM cand c
                 JOIN e x ON c.vec_id = x.vec_id
                 JOIN e qq ON c.qid = qq.vec_id),
      ranked AS (SELECT qid, vec_id, cs,
                        row_number() OVER (PARTITION BY qid ORDER BY cs DESC, vec_id) AS rank
                 FROM scored)
      SELECT qid, CAST(rank AS INT) AS rank, vec_id AS neighbor_id,
             round(cs, 6) AS cosine
      FROM ranked WHERE rank <= 10 ORDER BY qid, rank""",
    "q63_label_centroids" -> """
      WITH ex AS (SELECT label, unnest(list_zip(range(1, 65), embedding)) AS z
                  FROM embeddings),
      p AS (SELECT label, CAST(z[1] AS INT) AS pos, CAST(z[2] AS DOUBLE) AS v
            FROM ex),
      a AS (SELECT label, pos, avg(v) AS av FROM p GROUP BY label, pos)
      SELECT label,
             array_to_string(list(CAST(round(CAST(CAST(av AS FLOAT) AS DOUBLE), 5) AS DECIMAL(12,5)) ORDER BY pos), ',') AS centroid
      FROM a GROUP BY label ORDER BY label""",
    // Composes the q60 exact, q62 LSH, and q64 IVF channels into one
    // statement (shared e/b CTEs; IVF's centroid chain inlined) and
    // replays the per-query hit counts.
    "q186_ann_recall" -> s"""
      WITH ${duckBuckets},
      q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn
            FROM e WHERE vec_id < 5),
      xsc AS (SELECT q.qid, e.vec_id,
                     ${duckDot.format("e.embedding", "q.qe")} / (e.nrm * q.qn) AS c
              FROM e CROSS JOIN q WHERE e.vec_id <> q.qid),
      exact AS (SELECT qid, vec_id FROM (
                  SELECT qid, vec_id,
                         row_number() OVER (PARTITION BY qid
                           ORDER BY c DESC, vec_id) AS rank
                  FROM xsc) WHERE rank <= 10),
      qb AS (SELECT vec_id AS qid, tbl, bucket FROM b WHERE vec_id < 5),
      lcand AS (SELECT DISTINCT qx.qid, x.vec_id
                FROM b x JOIN qb qx
                  ON x.tbl = qx.tbl AND x.bucket = qx.bucket
                 AND x.vec_id <> qx.qid),
      lsc AS (SELECT c.qid, c.vec_id,
                     ${duckDot.format("x.embedding", "qq.embedding")} / (x.nrm * qq.nrm) AS cs
              FROM lcand c JOIN e x ON c.vec_id = x.vec_id
                           JOIN e qq ON c.qid = qq.vec_id),
      lsh AS (SELECT qid, vec_id FROM (
                SELECT qid, vec_id,
                       row_number() OVER (PARTITION BY qid
                         ORDER BY cs DESC, vec_id) AS rank
                FROM lsc) WHERE rank <= 10),
      iex AS (SELECT label, unnest(list_zip(range(1, 65), embedding)) AS z
              FROM embeddings),
      ip AS (SELECT label, CAST(z[1] AS INT) AS pos, CAST(z[2] AS DOUBLE) AS v
             FROM iex),
      ia AS (SELECT label, pos, avg(v) AS av FROM ip GROUP BY label, pos),
      icent AS (SELECT label, list(CAST(av AS FLOAT) ORDER BY pos) AS centroid
                FROM ia GROUP BY label),
      icn AS (SELECT label, centroid, ${duckNorm.format("centroid")} AS cnrm
              FROM icent),
      iprobes AS (SELECT q.qid, q.qe, q.qn, icn.label,
                         row_number() OVER (PARTITION BY q.qid
                           ORDER BY ${duckDot.format("q.qe", "icn.centroid")} / (q.qn * icn.cnrm) DESC,
                                    icn.label) AS pr
                  FROM q CROSS JOIN icn),
      ipb AS (SELECT qid, qe, qn, label FROM iprobes WHERE pr <= 3),
      isc AS (SELECT ipb.qid, e.vec_id,
                     ${duckDot.format("e.embedding", "ipb.qe")} / (e.nrm * ipb.qn) AS cs
              FROM e JOIN ipb ON e.label = ipb.label AND e.vec_id <> ipb.qid),
      ivf AS (SELECT qid, vec_id FROM (
                SELECT qid, vec_id,
                       row_number() OVER (PARTITION BY qid
                         ORDER BY cs DESC, vec_id) AS rank
                FROM isc) WHERE rank <= 10),
      qids AS (SELECT DISTINCT qid FROM exact),
      lh AS (SELECT a.qid, count(*) AS hits
             FROM lsh a JOIN exact USING (qid, vec_id) GROUP BY a.qid),
      ih AS (SELECT a.qid, count(*) AS hits
             FROM ivf a JOIN exact USING (qid, vec_id) GROUP BY a.qid)
      SELECT 'lsh' AS method, qids.qid,
             CAST(coalesce(lh.hits, 0) AS BIGINT) AS hits,
             round(CAST(coalesce(lh.hits, 0) AS DOUBLE) / 10, 6) AS recall
      FROM qids LEFT JOIN lh ON qids.qid = lh.qid
      UNION ALL
      SELECT 'ivf', qids.qid, CAST(coalesce(ih.hits, 0) AS BIGINT),
             round(CAST(coalesce(ih.hits, 0) AS DOUBLE) / 10, 6)
      FROM qids LEFT JOIN ih ON qids.qid = ih.qid
      ORDER BY method, qid""",
    // Replays ivfSearch: float-quantized per-label centroids, nprobe=3
    // probes by exact centroid cosine, exact rank within probed labels.
    "q64_ann_ivf" -> s"""
      WITH e AS (SELECT vec_id, label, embedding, ${duckNorm.format("embedding")} AS nrm
                 FROM embeddings),
      ex AS (SELECT label, unnest(list_zip(range(1, 65), embedding)) AS z
             FROM embeddings),
      p AS (SELECT label, CAST(z[1] AS INT) AS pos, CAST(z[2] AS DOUBLE) AS v
            FROM ex),
      a AS (SELECT label, pos, avg(v) AS av FROM p GROUP BY label, pos),
      cent AS (SELECT label, list(CAST(av AS FLOAT) ORDER BY pos) AS centroid
               FROM a GROUP BY label),
      cn AS (SELECT label, centroid, ${duckNorm.format("centroid")} AS cnrm FROM cent),
      q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM e WHERE vec_id < 5),
      probes AS (SELECT q.qid, q.qe, q.qn, cn.label,
                        row_number() OVER (PARTITION BY q.qid
                          ORDER BY ${duckDot.format("q.qe", "cn.centroid")} / (q.qn * cn.cnrm) DESC,
                                   cn.label) AS pr
                 FROM q CROSS JOIN cn),
      pb AS (SELECT qid, qe, qn, label FROM probes WHERE pr <= 3),
      scored AS (SELECT pb.qid, e.vec_id, e.label,
                        ${duckDot.format("e.embedding", "pb.qe")} / (e.nrm * pb.qn) AS cs
                 FROM e JOIN pb ON e.label = pb.label AND e.vec_id <> pb.qid),
      ranked AS (SELECT qid, vec_id, label, cs,
                        row_number() OVER (PARTITION BY qid ORDER BY cs DESC, vec_id) AS rank
                 FROM scored)
      SELECT qid, CAST(rank AS INT) AS rank, vec_id AS neighbor_id, label,
             round(cs, 6) AS cosine
      FROM ranked WHERE rank <= 10 ORDER BY qid, rank""",
    // Replays semanticDedup: float-quantized centroids (as q64), nearest-
    // centroid assignment (argmax cosine, label asc tie-break), then the
    // cluster-bounded pair comparison and min-id keeper rule.
    "q65_semantic_dedup" -> s"""
      WITH e AS (SELECT vec_id, label, embedding, ${duckNorm.format("embedding")} AS nrm
                 FROM embeddings),
      ex AS (SELECT label, unnest(list_zip(range(1, 65), embedding)) AS z
             FROM embeddings),
      p AS (SELECT label, CAST(z[1] AS INT) AS pos, CAST(z[2] AS DOUBLE) AS v
            FROM ex),
      a AS (SELECT label, pos, avg(v) AS av FROM p GROUP BY label, pos),
      cent AS (SELECT label AS cl, list(CAST(av AS FLOAT) ORDER BY pos) AS centroid
               FROM a GROUP BY label),
      cn AS (SELECT cl, centroid, ${duckNorm.format("centroid")} AS cnrm FROM cent),
      asn AS (SELECT vec_id, cl,
                     row_number() OVER (PARTITION BY vec_id
                       ORDER BY ${duckDot.format("e.embedding", "cn.centroid")} / (e.nrm * cn.cnrm) DESC,
                                cl) AS rn
              FROM e CROSS JOIN cn),
      a1 AS (SELECT e.vec_id, asn.cl, e.embedding, e.nrm
             FROM e JOIN asn ON e.vec_id = asn.vec_id AND asn.rn = 1),
      d AS (SELECT y.vec_id AS vid, min(x.vec_id) AS keeper0
            FROM a1 x JOIN a1 y ON x.cl = y.cl AND x.vec_id < y.vec_id
            WHERE ${duckDot.format("x.embedding", "y.embedding")} / (x.nrm * y.nrm) >= 0.35
            GROUP BY y.vec_id)
      SELECT a1.vec_id, a1.cl AS cluster,
             coalesce(d.keeper0, a1.vec_id) AS keeper_id,
             coalesce(d.keeper0, a1.vec_id) <> a1.vec_id AS is_dup
      FROM a1 LEFT JOIN d ON a1.vec_id = d.vid
      ORDER BY a1.vec_id""",
    // Replays both channels — the q109 BM25 formulation (rounded scores,
    // (bm25 DESC, doc_id) rank order, top 20) and the q60 cosine
    // formulation for vec 0 (same index-ascending double fold) — then the
    // RRF fusion with the identical two-term 1/(60+rank) sum order.
    "q158_hybrid_rrf" -> s"""
      WITH b AS (
        SELECT doc_id,
               len(list_filter(string_split(text, ' '), x -> x <> '')) AS dl,
               len(list_filter(string_split(text, ' '), x -> x = 'vector')) AS tf0,
               len(list_filter(string_split(text, ' '), x -> x = 'dup')) AS tf1,
               len(list_filter(string_split(text, ' '), x -> x = 'spark')) AS tf2
        FROM documents),
      s AS (SELECT count(*) AS nd, avg(dl) AS avgdl,
                   sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
                   sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
                   sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
            FROM b),
      scored AS (
        SELECT doc_id, round(
            ln(1.0 + (CAST(nd - df0 AS DOUBLE) + 0.5) / (CAST(df0 AS DOUBLE) + 0.5))
              * (tf0 * (CAST(1.2 AS DOUBLE) + 1.0))
              / (tf0 + (0.25 + (CAST(dl AS DOUBLE) * 0.75) / avgdl) * CAST(1.2 AS DOUBLE))
          + ln(1.0 + (CAST(nd - df1 AS DOUBLE) + 0.5) / (CAST(df1 AS DOUBLE) + 0.5))
              * (tf1 * (CAST(1.2 AS DOUBLE) + 1.0))
              / (tf1 + (0.25 + (CAST(dl AS DOUBLE) * 0.75) / avgdl) * CAST(1.2 AS DOUBLE))
          + ln(1.0 + (CAST(nd - df2 AS DOUBLE) + 0.5) / (CAST(df2 AS DOUBLE) + 0.5))
              * (tf2 * (CAST(1.2 AS DOUBLE) + 1.0))
              / (tf2 + (0.25 + (CAST(dl AS DOUBLE) * 0.75) / avgdl) * CAST(1.2 AS DOUBLE)),
          4) AS bm25
        FROM b CROSS JOIN s),
      lex AS (SELECT doc_id,
                     CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT)
                       AS lex_rank
              FROM (SELECT doc_id, bm25 FROM scored WHERE bm25 > 0.0
                    ORDER BY bm25 DESC, doc_id LIMIT 20)),
      e AS (SELECT vec_id, embedding, ${duckNorm.format("embedding")} AS nrm
            FROM embeddings),
      q AS (SELECT embedding AS qe, nrm AS qn FROM e WHERE vec_id = 0),
      semr AS (SELECT vec_id AS doc_id,
                      row_number() OVER (ORDER BY c DESC, doc_id0) AS rnk
               FROM (SELECT e.vec_id, e.vec_id AS doc_id0,
                            ${duckDot.format("e.embedding", "q.qe")} / (e.nrm * q.qn) AS c
                     FROM e CROSS JOIN q WHERE e.vec_id <> 0)),
      sem AS (SELECT doc_id, CAST(rnk AS INT) AS sem_rank
              FROM semr WHERE rnk <= 20)
      SELECT coalesce(l.doc_id, m.doc_id) AS doc_id, l.lex_rank, m.sem_rank,
             round(coalesce(1.0 / (l.lex_rank + 60), 0.0)
                 + coalesce(1.0 / (m.sem_rank + 60), 0.0), 6) AS rrf
      FROM lex l FULL OUTER JOIN sem m ON l.doc_id = m.doc_id
      ORDER BY rrf DESC, doc_id""",
    // Replays all five integer-exact Lloyd rounds: same milli-unit
    // quantization, same smallest-k-ids seeding, same argmin tie-break
    // (dist, cluster), same re-quantized centroid update round(Σq/n).
    // Every compared quantity is an exact integer (the one double —
    // Σq/n — is an IEEE division of exact integers, bit-identical on
    // both engines), so the gate is a hash match, not a tolerance.
    "q154_kmeans" -> s"""
      WITH qp AS (SELECT vec_id AS vid, CAST(i - 1 AS INT) AS pos,
                         CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000) AS BIGINT) AS qv
                  FROM (SELECT vec_id, embedding,
                               unnest(range(1, len(embedding) + 1)) AS i
                        FROM embeddings)),
      ids AS (SELECT vid, CAST(row_number() OVER (ORDER BY vid) - 1 AS INT) AS cluster
              FROM (SELECT DISTINCT vid FROM qp)),
      c0 AS (SELECT ids.cluster, qp.pos, qp.qv AS c
             FROM qp JOIN ids USING (vid) WHERE ids.cluster < 8),
      ${(1 to 5).map(kmeansIterSql).mkString(",\n      ")},
      fin AS (SELECT q.vid, c.cluster,
                     CAST(sum((q.qv - c.c) * (q.qv - c.c)) AS BIGINT) AS dist
              FROM qp q JOIN c5 c ON q.pos = c.pos
              GROUP BY q.vid, c.cluster),
      fm AS (SELECT vid, cluster, dist FROM (
               SELECT vid, cluster, dist,
                      row_number() OVER (PARTITION BY vid
                        ORDER BY dist, cluster) AS rn
               FROM fin) WHERE rn = 1),
      fs AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_points,
                    CAST(sum(dist) AS BIGINT) AS inertia_q
             FROM fm GROUP BY cluster)
      SELECT c.cluster, c.pos, c.c AS centroid_q,
             coalesce(fs.n_points, CAST(0 AS BIGINT)) AS n_points,
             coalesce(fs.inertia_q, CAST(0 AS BIGINT)) AS inertia_q
      FROM c5 c LEFT JOIN fs USING (cluster)
      ORDER BY c.cluster, c.pos""",
    // Replays pqAudit in the exploded relational form: the q154 integer
    // quantization, subspace = pos // (d // 4), codebook = the 8
    // smallest ids coded in id order, exact integer distances with the
    // (dist, code) argmin tie rule, and the empty-cell spine.
    "q240_pq_codebook" -> """
      WITH qp AS (SELECT vec_id AS vid, CAST(i - 1 AS INT) AS pos,
                         CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                              * 1000) AS BIGINT) AS q,
                         CAST(len(embedding) AS INT) AS d
                  FROM (SELECT vec_id, embedding,
                               unnest(range(1, len(embedding) + 1)) AS i
                        FROM embeddings)),
      sp AS (SELECT vid, CAST(pos // (d // 4) AS INT) AS sub,
                    CAST(pos % (d // 4) AS INT) AS off, q
             FROM qp
             WHERE pos < (d // 4) * 4),
      seeds AS (SELECT vid, CAST(row_number() OVER (ORDER BY vid) - 1
                       AS INT) AS code
                FROM (SELECT DISTINCT vid FROM sp ORDER BY vid LIMIT 8)),
      cb AS (SELECT s.code, p.sub, p.off, p.q AS c
             FROM sp p JOIN seeds s USING (vid)),
      dist AS (SELECT p.vid, p.sub, cb.code,
                      CAST(sum((p.q - cb.c) * (p.q - cb.c)) AS BIGINT) AS dd
               FROM sp p JOIN cb ON cb.sub = p.sub AND cb.off = p.off
               GROUP BY 1, 2, 3),
      asg AS (SELECT vid, sub, code, dd FROM (
                SELECT vid, sub, code, dd,
                       row_number() OVER (PARTITION BY vid, sub
                         ORDER BY dd, code) AS rn
                FROM dist) WHERE rn = 1),
      audit AS (SELECT sub, code, CAST(count(*) AS BIGINT) AS n_assigned,
                       CAST(sum(dd) AS BIGINT) AS sq_err
                FROM asg GROUP BY 1, 2),
      spine AS (SELECT DISTINCT sub, code FROM cb)
      SELECT s.sub, s.code,
             coalesce(a.n_assigned, CAST(0 AS BIGINT)) AS n_assigned,
             coalesce(a.sq_err, CAST(0 AS BIGINT)) AS sq_err,
             CASE WHEN a.n_assigned > 0
               THEN round(CAST(a.sq_err AS DOUBLE) / a.n_assigned, 6) END
               AS mean_sq_err
      FROM spine s LEFT JOIN audit a USING (sub, code)
      ORDER BY s.sub, s.code""",
    // Replays centroidDrift: the md5 hash split, q154 quantization +
    // round(sum/n) integer centroids per side, HUGEINT dot/norm/L2
    // moments on the d-bounded frame and the pinned cosine tail.
    "q266_centroid_drift" -> s"""
      WITH qp AS (SELECT ((${graft.operators.CrossHash.h60DuckDb(
        "CAST(vec_id AS VARCHAR)")}) % 4) != 0 AS b,
                         CAST(i - 1 AS INT) AS pos,
                         CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                              * 1000) AS BIGINT) AS q
                  FROM (SELECT vec_id, embedding,
                               unnest(range(1, len(embedding) + 1)) AS i
                        FROM embeddings)),
      side AS (SELECT b, pos,
                      CAST(round(CAST(sum(q) AS DOUBLE) / count(*))
                        AS BIGINT) AS c,
                      CAST(count(*) AS BIGINT) AS n
               FROM qp GROUP BY 1, 2),
      wide AS (SELECT pos,
                      min(CASE WHEN b THEN c END) AS c_base,
                      min(CASE WHEN NOT b THEN c END) AS c_delta,
                      min(CASE WHEN b THEN n END) AS n_base,
                      min(CASE WHEN NOT b THEN n END) AS n_delta
               FROM side GROUP BY 1),
      summ AS (SELECT
                 CAST(sum(CAST(c_base AS HUGEINT) * c_delta)
                   AS DECIMAL(38,0)) AS dot,
                 CAST(sum(CAST(c_base AS HUGEINT) * c_base)
                   AS DECIMAL(38,0)) AS nb,
                 CAST(sum(CAST(c_delta AS HUGEINT) * c_delta)
                   AS DECIMAL(38,0)) AS nd,
                 CAST(sum(CAST(c_base - c_delta AS HUGEINT)
                          * (c_base - c_delta)) AS DECIMAL(38,0)) AS l2
               FROM wide)
      SELECT w.pos, w.n_base, w.n_delta, w.c_base, w.c_delta,
             w.c_base - w.c_delta AS delta_q,
             CAST(s.l2 AS BIGINT) AS l2sq_total,
             CASE WHEN s.nb > 0 AND s.nd > 0
                  THEN round(CAST(s.dot AS DOUBLE)
                             / (sqrt(CAST(s.nb AS DOUBLE))
                                * sqrt(CAST(s.nd AS DOUBLE))), 6) END
               AS cosine
      FROM wide w, summ s ORDER BY w.pos""",
    // Replays labelSeparation in the exploded relational form: q154
    // quantization, round(sum/count) integer centroids, exact intra
    // member distances, |labels|^2 inter-centroid distances with the
    // (dist, label) nearest tie rule, and the pinned ratio chain.
    "q247_label_separation" -> """
      WITH qp AS (SELECT vec_id AS vid, label AS lbl, CAST(i - 1 AS INT) AS pos,
                         CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                              * 1000) AS BIGINT) AS q
                  FROM (SELECT vec_id, label, embedding,
                               unnest(range(1, len(embedding) + 1)) AS i
                        FROM embeddings)),
      cent AS (SELECT lbl, pos,
                      CAST(round(CAST(sum(q) AS DOUBLE) / count(*))
                        AS BIGINT) AS c
               FROM qp GROUP BY 1, 2),
      memb AS (SELECT p.vid, p.lbl,
                      CAST(sum((p.q - c.c) * (p.q - c.c)) AS BIGINT) AS d2
               FROM qp p JOIN cent c ON c.lbl = p.lbl AND c.pos = p.pos
               GROUP BY 1, 2),
      intra AS (SELECT lbl, CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(d2) AS BIGINT) AS sum_d2
                FROM memb GROUP BY 1),
      inter AS (SELECT a.lbl, b.lbl AS other,
                       CAST(sum((a.c - b.c) * (a.c - b.c)) AS BIGINT) AS id2
                FROM cent a JOIN cent b
                  ON a.pos = b.pos AND a.lbl <> b.lbl
                GROUP BY 1, 2),
      nearest AS (SELECT lbl, other AS nearest_label, id2 AS inter_d2
                  FROM (SELECT *, row_number() OVER (PARTITION BY lbl
                          ORDER BY id2, other) AS rk
                        FROM inter)
                  WHERE rk = 1)
      SELECT i.lbl AS label, i.n,
             round(CAST(i.sum_d2 AS DOUBLE) / i.n, 6) AS intra_msd,
             n2.nearest_label, n2.inter_d2,
             CASE WHEN i.sum_d2 > 0
               THEN round(CAST(n2.inter_d2 AS DOUBLE) * i.n / i.sum_d2, 6)
               END AS sep_ratio
      FROM intra i JOIN nearest n2 USING (lbl)
      ORDER BY label""",
  )

  /** One unrolled Lloyd round of the q154 oracle: assignment by exact
    * integer distance (tie → smaller cluster), re-quantized centroid
    * update, emptied clusters inheriting the previous coordinate. */
  private def kmeansIterSql(i: Int): String = {
    val prev = s"c${i - 1}"
    s"""a$i AS (SELECT q.vid, c.cluster,
                     CAST(sum((q.qv - c.c) * (q.qv - c.c)) AS BIGINT) AS dist
              FROM qp q JOIN $prev c ON q.pos = c.pos
              GROUP BY q.vid, c.cluster),
      m$i AS (SELECT vid, cluster FROM (
               SELECT vid, cluster,
                      row_number() OVER (PARTITION BY vid
                        ORDER BY dist, cluster) AS rn
               FROM a$i) WHERE rn = 1),
      s$i AS (SELECT m.cluster, q.pos,
                     CAST(round(CAST(sum(q.qv) AS DOUBLE) / count(*)) AS BIGINT) AS c
              FROM qp q JOIN m$i m USING (vid) GROUP BY m.cluster, q.pos),
      c$i AS (SELECT p.cluster, p.pos, coalesce(s.c, p.c) AS c
              FROM $prev p LEFT JOIN s$i s
                ON s.cluster = p.cluster AND s.pos = p.pos)"""
  }
}
