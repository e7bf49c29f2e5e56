package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** Canonical output-schema AND physical-plan snapshots for the drift
  * regression locks.
  *
  * Schemas: the driver's oracle hash is type-sensitive down to decimal
  * precision/scale and integer width (round 10 shipped three queries red
  * on exactly that axis: un-cast sum(DECIMAL) widening and an int32
  * ntile). OutputSchemaSpec compares every query's analyzed schema
  * against the golden file this main regenerates — so an innocent
  * refactor that drops a pinning cast fails `sbt test` instead of the
  * driver's gate.
  *
  * Plans (round 13, VERDICT r12 item 7): the same discipline for the
  * PHYSICAL plan shape — operator tree, join strategies, exchange kinds,
  * scan formats/columns/filter counts. A refactor that silently turns a
  * BroadcastHashJoin into a SortMergeJoin, drops a WindowGroupLimit, or
  * adds an exchange fails HERE instead of surfacing as a bench
  * regression three rounds later. The canonical form is deliberately
  * insensitive to everything environmental (expression IDs, paths,
  * partition counts, statistics), so it is stable across sessions and
  * core counts while staying sensitive to real plan-shape changes.
  *
  * Regenerate (ONLY after deliberately changing a query's output shape
  * or plan):
  *   sbt "runMain graft.SchemaGolden"
  */
object SchemaGolden {

  /** Nullability excluded: the driver's hash ignores it and it shifts
    * with join-order refactors that change nothing observable. */
  def canonical(schema: StructType): String =
    schema.fields.map(f => s"${f.name}:${f.dataType.sql}").mkString(", ")

  /** Canonical single-line fingerprint of the INITIAL physical plan —
    * `executedPlan` after the planner AND the preparation rules
    * (EnsureRequirements has inserted the exchanges) but before any
    * adaptive re-planning or execution: for AQE-wrapped plans this is
    * `AdaptiveSparkPlanExec.initialPlan`, i.e. the static decision the
    * lock should pin (plain `sparkPlan` would miss every Exchange —
    * verified: q01 showed Sort directly over the partial/final aggregate
    * pair). NOTE on exchange reuse: under AQE, ReuseExchange does NOT
    * run on the initial plan — identical Exchange subtrees appear
    * duplicated in the fingerprint (runtime reuse happens in the AQE
    * stage cache, invisible here), so a duplicated subtree in a golden
    * is normal, and a lost runtime reuse is NOT something this lock can
    * catch. Non-AQE plans (exchange-free) never carry reuse nodes
    * anyway. Node labels carry exactly the
    * regression-relevant detail: join implementation + join type,
    * exchange partitioning CLASS (hash/range/single/round-robin — not
    * partition counts, which vary by session), scan format + read
    * columns + pushed-filter counts. WholeStageCodegen/InputAdapter
    * wrappers are transparent (their stage ids shift with unrelated
    * edits); everything else is the bare nodeName. Depth is a `>` prefix
    * run so the whole tree fits one golden line per query. */
  def canonicalPlan(df: DataFrame): String = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins._
    def label(p: SparkPlan): String = p match {
      case f: FileSourceScanExec =>
        s"FileSourceScan:${f.relation.fileFormat.toString}" +
          s"[${f.output.map(_.name).mkString(",")}]" +
          s"df=${f.dataFilters.size},pf=${f.partitionFilters.size}"
      case _: RowDataSourceScanExec => "RowDataSourceScan"
      case _: RDDScanExec => "RDDScan"
      case e: ShuffleExchangeExec =>
        s"Exchange:${e.outputPartitioning.getClass.getSimpleName}"
      case j: SortMergeJoinExec => s"SortMergeJoin:${j.joinType}"
      case j: BroadcastHashJoinExec => s"BroadcastHashJoin:${j.joinType}"
      case j: ShuffledHashJoinExec => s"ShuffledHashJoin:${j.joinType}"
      case j: BroadcastNestedLoopJoinExec =>
        s"BroadcastNestedLoopJoin:${j.joinType}"
      case _: CartesianProductExec => "CartesianProduct"
      case other => other.nodeName.replace(' ', '_')
    }
    def walk(p: SparkPlan, depth: Int): Seq[String] = p match {
      case w: WholeStageCodegenExec => walk(w.child, depth)
      case i: InputAdapter => walk(i.child, depth)
      case _ =>
        ((">" * depth) + label(p)) +: p.children.flatMap(walk(_, depth + 1))
    }
    val root = df.queryExecution.executedPlan match {
      case a: adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    walk(root, 0).mkString("|")
  }

  val goldenPath = "src/test/resources/golden_schemas.txt"
  val goldenPlanPath = "src/test/resources/golden_plans.txt"
  val goldenPlanSf01Path = "src/test/resources/golden_plans_sf01.txt"

  /** Join-strategy-sensitive queries re-snapshotted at sf0.1 (VERDICT r14
    * item 8): the main plan golden is built at sf0.001, where EVERY table
    * fits under the broadcast threshold — a size/stats-driven
    * BroadcastHashJoin↔SortMergeJoin flip that only manifests at bench
    * scale is invisible to it (the documented blind spot,
    * README/EXPLAIN.md). This subset pins the SAME canonical fingerprint
    * against the sf0.1 fixtures, where join-side size estimates actually
    * differ, so a code change that silently flips a bench-scale join
    * strategy fails `sbt test` (StatsPlanSpec) instead of surfacing as a
    * bench regression. Membership is MEASURED, not chosen (round 16): a
    * full-surface fingerprint sweep (`tools/StatsSweep`) against both
    * sf0.1 and the 10× tier found exactly 8 queries whose plan flips with
    * stats, every one a JOIN strategy change (6× BroadcastHashJoin →
    * SortMergeJoin, 1× semi-join flip, 1× broadcast-SIDE swap in
    * q150_stream_bloom) — no aggregate/window/sort strategy moved
    * anywhere on the 226-query surface at either scale jump. All 8 plus
    * the originally-chosen join-shaped set are pinned here. The one other
    * mover, q201_generalization, is excluded BY DESIGN: its plan is
    * data-dependent (the generalization ladder picks a coarser rung when
    * k-anonymity fails at small scale), so a cross-scale fingerprint
    * can't be constant — the sf0.1 oracle record certifies its answer
    * instead (EXPLAIN.md). Four members (q150/q162/q202/q210) pay small
    * construction jobs at sf0.1 (stream drain, resample RDD bases) —
    * measured at a few seconds total in the r16 sweep, accepted. */
  val statsSensitive: Seq[String] = Seq(
    "q03_top_orders", "q05_region_revenue", "q06_semi_join", "q07_anti_join",
    "q08_outer_join", "q22_exists_subquery", "q24_scalar_subquery",
    "q31_asof_join", "q36_band_join", "q37_multiset_ops", "q39_lateral",
    "q73_merge_upsert", "q76_table_diff", "q116_scd2", "q121_temporal_join",
    "q129_js_divergence", "q150_stream_bloom", "q152_kmv_setops",
    "q162_resample_locf", "q175_target_encode", "q188_benford",
    "q202_resample_interp", "q208_merge_actions", "q210_forecast_backtest",
    // round 17: q249's value-frame rank joins are NOT provably bounded
    // (distinct values grow with the corpus), so the 10x tier legitimately
    // flips them BHJ->SMJ — the sf0.1 fingerprint is pinned here instead
    // of forcing a broadcast that would be wrong at scale.
    "q249_spearman_corr",
    // round 18: q253's pooled-rank joins (cells <-> the global value-rank
    // frame) are the same q249 class — corpus-growing value frames where
    // SMJ is the CORRECT large-scale plan; pinned at both bases rather
    // than broadcast-hinted wrong.
    "q253_kruskal_wallis",
    // round 19: q274's view joins are FACT-FACT (orders x lineitem at
    // every leg — both sides corpus-growing), so the 10x tier correctly
    // flips BHJ->SMJ; a broadcast hint would be wrong at scale. Pinned
    // at the sf0.1 base.
    "q274_join_view_maintenance")

  def main(args: Array[String]): Unit = {
    val spark = LocalSession(8)
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val built = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val df = fn(spark, sfDir)
      // Decimal outputs are driver-incompatible (round-11 hash evidence);
      // refuse to snapshot one rather than codify a red class.
      require(!graft.operators.DriverOutput.hasDecimal(df),
        s"$name ships a DECIMAL output column — wrap it in " +
          "DriverOutput.noDecimals (and CAST the oracle) before regenerating")
      (name, canonical(df.schema), canonicalPlan(df))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(goldenPath),
      (built.map { case (n, s, _) => s"$n\t$s" }.mkString("\n") + "\n")
        .getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(goldenPlanPath),
      (built.map { case (n, _, p) => s"$n\t$p" }.mkString("\n") + "\n")
        .getBytes("UTF-8"))
    println(s"wrote ${built.size} schemas to $goldenPath and plans to $goldenPlanPath")
    val sf01Dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val built01 = statsSensitive.sorted.map { name =>
      (name, canonicalPlan(SparkEntry.queries(name)(spark, sf01Dir)))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(goldenPlanSf01Path),
      (built01.map { case (n, p) => s"$n\t$p" }.mkString("\n") + "\n")
        .getBytes("UTF-8"))
    println(s"wrote ${built01.size} sf0.1 plans to $goldenPlanSf01Path")
    spark.stop()
  }
}
