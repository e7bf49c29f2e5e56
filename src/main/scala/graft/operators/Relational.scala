package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Relational operator surface (SURVEY §2.2 engine plan).
  *
  * The reference has no relational algebra at all — its only operators are a
  * per-line mapper UDF (MapReduce.h:41-44), a global string sort
  * (ExternalMergeSort.h:39-118) and an ordered grouped fold (MapReduce.h:192-208).
  * This module supplies the full declarative surface those generalize to:
  * scans with pushdown, projections/filters, every join flavor, partial+final
  * aggregation (the reference lacks a combiner — SURVEY §4.2), distinct aggs,
  * rollup/cube/grouping sets, windows, top-k, set ops, and scalar functions.
  *
  * Design notes for 100 TB:
  *  - every filter is a `Column` predicate on the scanned frame → Catalyst
  *    pushes it into the Parquet scan (PushedFilters), nothing is post-filtered;
  *  - dimension joins (region/nation/customer/supplier/part) are explicitly
  *    `broadcast()` — at scale the fact table never shuffles for them;
  *  - aggregates run partial (map-side) + final automatically;
  *  - top-k is `orderBy.limit` → `TakeOrderedAndProject` (no global sort);
  *  - double-valued aggregates are `round`ed only in the *output* projection so
  *    comparisons are stable across summation orders, not inside the plan.
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame

  private def rev: Column = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  // ---------------------------------------------------------------- queries

  /** TPC-H Q1 shape: scan + filter + groupBy + multi-agg (partial/final). */
  private val q01: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(rev), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Projection + conjunctive filter — both must reach the Parquet scan. */
  private val q02: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_quantity") > 45 && col("l_discount") >= 0.05)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_discount"), col("l_returnflag"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** TPC-H Q3 shape: 3-way join (dim broadcast), agg, top-10. */
  private val q03: Q = (s, d) => {
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, d).filter(col("o_orderdate") < lit("1998-01-01"))
    val l = Tables.lineitem(s, d)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(rev), 2).as("revenue"))
      .select(col("l_orderkey"), col("revenue"),
        to_date(col("o_orderdate")).as("orderdate"), col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Broadcast hash join fact→dim + agg by brand. */
  private val q04: Q = (s, d) =>
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(round(sum(rev), 2).as("revenue"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        count(lit(1)).as("n_items"))
      .orderBy(col("p_brand"))

  /** TPC-H Q5 shape: 5-way star join, revenue by nation within one region. */
  private val q05: Q = (s, d) => {
    val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
    val n = Tables.nation(s, d)
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1999-01-01"))
    val l = Tables.lineitem(s, d)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(rev), 2).as("revenue"))
      .orderBy(col("n_name"))
  }

  /** Left-semi join: customers having at least one finished order (EXISTS). */
  private val q06: Q = (s, d) => {
    val o = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
    Tables.customer(s, d)
      .join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** Left-anti join: customers with no urgent order (NOT EXISTS). */
  private val q07: Q = (s, d) => {
    val urgent = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
    Tables.customer(s, d)
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      .orderBy(col("c_custkey"))
  }

  /** Left-outer join preserving customers with zero orders. */
  private val q08: Q = (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("total_spent"))
      .orderBy(col("c_custkey"))

  /** Ranking window: top-3 orders per customer by price (row_number). */
  private val q09: Q = (s, d) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      // rn pinned to BIGINT: Spark row_number is int32, DuckDB int64 —
      // keep both engines' output types identical under the strict gate.
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("price"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Running-total window frame (rows unbounded preceding → current). */
  private val q10: Q = (s, d) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .withColumn("running_spent", round(sum(col("o_totalprice")).over(w), 2))
      .select(col("o_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("orderdate"), col("running_spent"))
      .orderBy(col("o_custkey"), col("orderdate"), col("o_orderkey"))
  }

  /** lag/lead analytics over the event stream (per-user deltas). */
  private val q11: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .select(col("user_id"), col("event_id"), col("event_type"),
        round(col("value") - coalesce(col("prev_value"), lit(0.0)), 2).as("delta"),
        coalesce(col("next_type"), lit("none")).as("next_type"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** ROLLUP hierarchy totals. */
  private val q12: Q = (s, d) =>
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** CUBE over two order dimensions. */
  private val q13: Q = (s, d) =>
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  /** GROUPING SETS via SQL (Catalyst Expand). */
  private val q14: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("orders")
    s.sql("""
      SELECT o_orderstatus, o_orderpriority, count(1) AS n
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
    """)
  }

  /** Distinct aggregation (exact). */
  private val q15: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** Top-k by sort+limit → TakeOrderedAndProject (no full sort at scale). */
  private val q16: Q = (s, d) =>
    Tables.part(s, d)
      .select(col("p_partkey"), col("p_name"),
        round(col("p_retailprice"), 2).as("price"))
      .orderBy(col("price").desc, col("p_partkey"))
      .limit(15)

  /** Set operations: nation keys by membership class. */
  private val q17: Q = (s, d) => {
    val cn = Tables.customer(s, d).select(col("c_nationkey").as("nk")).distinct()
    val sn = Tables.supplier(s, d).select(col("s_nationkey").as("nk")).distinct()
    val both = cn.intersect(sn).withColumn("tag", lit("both"))
    val custOnly = cn.except(sn).withColumn("tag", lit("cust_only"))
    both.union(custOnly).select(col("tag"), col("nk")).orderBy(col("tag"), col("nk"))
  }

  /** Scalar string functions. */
  private val q18: Q = (s, d) =>
    Tables.part(s, d)
      .select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_up"),
        substring(col("p_name"), 1, 8).as("name8"),
        length(col("p_name")).as("name_len"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        regexp_extract(col("p_brand"), "#(\\d+)", 1).cast("int").as("brand_num"),
        levenshtein(col("p_brand"), col("p_type")).as("edit_dist"),
        translate(col("p_brand"), "#", "-").as("brand_tr"),
        split_part(col("p_brand"), lit("#"), lit(2)).cast("int").as("brand_no"),
        lpad(col("p_brand"), 12, "*").as("brand_pad"),
        reverse(substring(col("p_name"), 1, 8)).as("name8_rev"),
        ascii(col("p_name")).as("first_code"),
        instr(col("p_name"), "a").as("a_pos"),
        col("p_type").startsWith("STANDARD").as("is_std"))
      .orderBy(col("p_partkey"))

  /** Date/time functions: truncation + part extraction + grouping. */
  private val q19: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy(
        year(col("o_orderdate")).as("y"),
        quarter(col("o_orderdate")).as("q"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"),
        max(weekofyear(col("o_orderdate"))).as("max_week"),
        max(dayofyear(col("o_orderdate"))).as("max_doy"),
        max(last_day(col("o_orderdate"))).as("last_d"))
      .orderBy(col("y"), col("q"))

  /** CASE WHEN buckets + math functions. */
  private val q20: Q = (s, d) =>
    Tables.customer(s, d)
      .select(col("c_custkey"),
        when(col("c_acctbal") < 0, "neg")
          .when(col("c_acctbal") < 5000, "low")
          .otherwise("high").as("bal_bucket"),
        round(abs(col("c_acctbal")), 2).as("abs_bal"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_k"),
        round(sqrt(abs(col("c_acctbal"))), 4).as("sqrt_bal"),
        signum(col("c_acctbal")).cast("int").as("bal_sign"),
        round(greatest(col("c_acctbal"), lit(0.0)), 2).as("bal_pos"),
        (floor(col("c_acctbal") / 1000).cast("long") % 7).as("bal_mod7"))
      .orderBy(col("c_custkey"))

  /** JSON extraction from the events.props string column, two ways: the
    * typed `from_json` parser (schema-projected struct field) drives the
    * grouping, and a regexp extraction rides along — `n_agree == n` in
    * every group certifies both paths against DuckDB's native JSON
    * extension. */
  private val q21: Q = (s, d) => {
    val sch = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.IntegerType)))
    Tables.events(s, d)
      .withColumn("k_re", regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("int"))
      .withColumn("k_js", from_json(col("props"), sch).getField("k"))
      .groupBy((col("k_js") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"), round(avg(col("value")), 4).as("avg_value"),
        sum(when(col("k_re") === col("k_js"), 1).otherwise(0)).as("n_agree"))
      .orderBy(col("k_mod"))
  }

  /** Correlated EXISTS subquery via SQL. */
  private val q22: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("orders")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    s.sql("""
      SELECT o_orderkey, o_orderstatus
      FROM orders o
      WHERE EXISTS (SELECT 1 FROM lineitem l
                    WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49.0)
      ORDER BY o_orderkey
    """)
  }

  /** GROUP BY + HAVING. */
  private val q23: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_suppkey"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
      .filter(col("sum_qty") > 15000.0)
      .orderBy(col("l_suppkey"))

  /** Scalar (uncorrelated) subquery: orders above the mean price. */
  private val q24: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("orders")
    s.sql("""
      SELECT o_orderstatus, count(1) AS n_above
      FROM orders
      WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus
    """)
  }

  /** Ordered-set aggregates: exact interpolated percentiles. */
  private val q25: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
        round(expr("percentile(o_totalprice, 0.99)"), 4).as("p99"))
      .orderBy(col("o_orderstatus"))

  /** Pivot (segments → columns); count(null→0) matches the CASE oracle. */
  private val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val q26: Q = (s, d) =>
    Tables.customer(s, d)
      .groupBy(col("c_nationkey"))
      .pivot("c_mktsegment", segs)
      .agg(count(lit(1)))
      .na.fill(0L, segs)
      .orderBy(col("c_nationkey"))

  /** min_by / max_by (argmin/argmax aggregates). */
  private val q27: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(
        max_by(col("o_orderkey"), col("o_totalprice")).as("top_order"),
        min_by(col("o_orderkey"), col("o_totalprice")).as("bottom_order"),
        round(max(col("o_totalprice")), 2).as("top_price"))
      .orderBy(col("o_orderstatus"))

  /** Deterministic per-group MODE — the argmax-by-frequency aggregate SQL
    * engines expose with engine-specific tie rules (DuckDB's `mode()` ties
    * arbitrarily), pinned here to the total order (count DESC, value ASC)
    * so the answer is a pure function of the data. Two bounded aggregates
    * — (groups × values) counts with map-side combine, then a min_by over
    * the (−count, value) struct — no window, no per-group sort; at any
    * scale the shuffle carries only the distinct (group, value) count
    * rows. The oracle is the independent window-rank formulation. */
  private val q231: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("o_orderstatus"))
      .agg(min_by(
          struct(col("o_orderpriority").as("m"), col("cnt").as("c")),
          struct((-col("cnt")).as("nc"), col("o_orderpriority").as("m")))
        .as("pick"))
      .select(col("o_orderstatus"),
        col("pick.m").as("mode_priority"), col("pick.c").as("mode_n"))
      .orderBy(col("o_orderstatus"))

  /** Ordered array_agg with array slicing: first 3 orders per customer.
    * The array is canonicalized to a comma-joined string on output (both
    * engines) so the driver's hash compare — which cannot hash array
    * columns — consumes it. */
  private val q28: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(expr(
        """array_join(transform(
             slice(transform(sort_array(collect_list(struct(o_orderdate, o_orderkey))), x -> x.o_orderkey), 1, 3),
             x -> cast(x as string)), ',')""")
        .as("first_orders"))
      .orderBy(col("o_custkey"))

  /** Proper JSON parsing of events.props via from_json (q21 is the regexp
    * variant; this exercises the JSON reader + struct field access). */
  private val q33: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("j", from_json(col("props"), lit("k INT")))
      .groupBy((col("j.k") % 2 === 0).as("k_even"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"),
        max(col("j.k")).as("max_k"))
      .orderBy(col("k_even"))

  /** RANGE window frame over event time (micros as exact integers both
    * engines — DuckDB's epoch() is fractional-double, epoch_us is not):
    * rolling 5-minute per-user event count and value sum. */
  private val q34: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(unix_micros(col("ts")))
      .rangeBetween(-300000000L, 0L) // 5 minutes in µs, inclusive
    Tables.events(s, d)
      .withColumn("n5m", count(lit(1)).over(w))
      .withColumn("v5m", round(sum(col("value")).over(w), 2))
      .select(col("user_id"), col("event_id"), col("n5m"), col("v5m"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Unpivot (wide → long): numeric part attributes to (metric, value). */
  private val q35: Q = (s, d) =>
    Tables.part(s, d)
      .select(col("p_partkey"), col("p_size").cast("double").as("size"),
        col("p_retailprice").as("retailprice"))
      .unpivot(Array(col("p_partkey")), Array(col("size"), col("retailprice")),
        "metric", "value")
      .select(col("p_partkey"), col("metric"), round(col("value"), 2).as("value"))
      .orderBy(col("p_partkey"), col("metric"))

  /** Band (non-equi range) join: each order matched to its price tier.
    * The tier table is tiny → broadcast nested-loop is the *right* plan
    * here; the anti-pattern is non-equi joining two big sides. */
  private val q36: Q = (s, d) => {
    val tiers = s.createDataFrame(Seq(
      ("bronze", 0.0, 100000.0),
      ("silver", 100000.0, 250000.0),
      ("gold", 250000.0, 400000.0),
      ("platinum", 400000.0, 1e9))).toDF("tier", "lo", "hi")
    Tables.orders(s, d)
      .join(broadcast(tiers),
        col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n"), round(avg(col("o_totalprice")), 4).as("avg_price"))
      .orderBy(col("tier"))
  }

  /** Multiset set ops: INTERSECT ALL / EXCEPT ALL keep duplicates. */
  private val q37: Q = (s, d) => {
    val a = Tables.lineitem(s, d).filter(col("l_returnflag") === "A")
      .select(col("l_partkey").as("pk"))
    val r = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
      .select(col("l_partkey").as("pk"))
    a.intersectAll(r).withColumn("op", lit("intersect_all"))
      .union(a.exceptAll(r).withColumn("op", lit("except_all")))
      .groupBy(col("op")).agg(count(lit(1)).as("n"), countDistinct(col("pk")).as("n_distinct"))
      .orderBy(col("op"))
  }

  /** Ordered string aggregation (listagg / string_agg). */
  private val q38: Q = (s, d) => {
    Tables.customer(s, d).createOrReplaceTempView("customer")
    s.sql("""
      SELECT c_nationkey,
             listagg(c_name, ',') WITHIN GROUP (ORDER BY c_name) AS names
      FROM customer WHERE c_custkey < 200
      GROUP BY c_nationkey
      ORDER BY c_nationkey
    """)
  }

  /** LATERAL correlated subquery: top-2 customers per nation by balance. */
  private val q39: Q = (s, d) => {
    Tables.customer(s, d).createOrReplaceTempView("customer")
    Tables.nation(s, d).createOrReplaceTempView("nation")
    s.sql("""
      SELECT n_name, t.c_name, round(t.c_acctbal, 2) AS acctbal
      FROM nation,
      LATERAL (SELECT c_name, c_acctbal FROM customer
               WHERE c_nationkey = n_nationkey
               ORDER BY c_acctbal DESC, c_name LIMIT 2) t
      ORDER BY n_name, acctbal DESC, c_name
    """)
  }

  /** CSV scan under the oracle gate: part → CSV files (temp dir) → read back
    * with the parquet schema → brand rollup. The oracle aggregates the
    * ORIGINAL parquet, so any CSV write/parse lossiness (type coercion,
    * quoting, null handling, double formatting) breaks the hash — this is
    * the non-parquet reader path certified end-to-end, not just
    * round-trip-tested. */
  private val q29: Q = (s, d) => {
    val tmp = graft.sources.Sources.staging("csv_q29")
    graft.sources.Sources.roundTrip(s, Tables.part(s, d), "csv", tmp)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("p_retailprice")), 2).as("sum_price"),
        round(avg(col("p_size")), 4).as("avg_size"))
      .orderBy(col("p_brand"))
  }

  /** JSON-lines scan under the gate, same certification shape as [[q29]]:
    * supplier → json → read back → nation rollup vs a parquet oracle. */
  private val q30: Q = (s, d) => {
    val tmp = graft.sources.Sources.staging("json_q30")
    graft.sources.Sources.roundTrip(s, Tables.supplier(s, d), "json", tmp)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("s_acctbal")), 2).as("sum_bal"))
      .orderBy(col("s_nationkey"))
  }

  /** ORC scan under the gate, same certification shape as [[q29]]/[[q30]]:
    * customer → ORC → read back → market-segment rollup vs a parquet oracle,
    * closing the one §2.2 source format that was round-trip-tested but not
    * oracle-gated. */
  private val q93: Q = (s, d) => {
    val tmp = graft.sources.Sources.staging("orc_q93")
    graft.sources.Sources.roundTrip(s, Tables.customer(s, d), "orc", tmp)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("c_acctbal")), 2).as("sum_bal"))
      .orderBy(col("c_mktsegment"))
  }

  /** Avro source/sink round-trip — the last first-class Spark batch
    * format missing from the sources matrix (parquet/csv/json/orc/text/
    * jdbc/xml/binaryFile all gate already; Spark 4 ships the avro source
    * inside spark-sql, no external package). Orders rather than customer:
    * its TIMESTAMP (o_orderdate) and wide DOUBLE (o_totalprice) exercise
    * Avro's logical-type encoders (timestamp-micros) where a pure
    * string/int table would not. Oracle reads the PARQUET table —
    * agreement certifies the Avro write+read was lossless end-to-end. */
  private val q192: Q = (s, d) => {
    val tmp = graft.sources.Sources.staging("avro_q192")
    // Spark 4 ships AvroFileFormat inside spark-sql but does NOT register
    // the "avro" short name there (DataSourceRegister still lists it as
    // external) — the fully-qualified provider resolves without any extra
    // package.
    graft.sources.Sources.roundTrip(s, Tables.orders(s, d),
      "org.apache.spark.sql.avro.AvroFileFormat", tmp)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("sum_price"),
        to_date(min(col("o_orderdate"))).as("first_date"))
      .orderBy(col("o_orderpriority"))
  }

  /** XML source/sink round-trip (Spark 4's NATIVE xml data source — no
    * external package): customer → row-tagged XML files → schema-forced
    * read back → the same rollup q93 gates ORC with. Certifies type
    * fidelity through the XML writer/parser end-to-end; rowTag is the
    * only option the format needs, and the explicit schema keeps the
    * read lossless (XML, like CSV/JSON, is schemaless on read). */
  private val q182: Q = (s, d) => {
    val tmp = graft.sources.Sources.staging("xml_q182")
    val cust = Tables.customer(s, d)
    cust.write.format("xml").option("rowTag", "customer")
      .mode(org.apache.spark.sql.SaveMode.Overwrite).save(tmp)
    s.read.format("xml").option("rowTag", "customer")
      .schema(cust.schema).load(tmp)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("c_acctbal")), 2).as("sum_bal"))
      .orderBy(col("c_mktsegment"))
  }

  /** JDBC source/sink under the gate (embedded Derby — the one database in
    * this container): customer → JDBC table → PARTITIONED jdbc scan back
    * (4 range queries on c_custkey, the cluster-parallel read form) →
    * nation rollup vs a parquet oracle. Certifies type fidelity through
    * Spark's JDBC writer/dialect/reader end-to-end. */
  private val q95: Q = (s, d) => {
    graft.sources.Sources.jdbcRoundTrip(s, Tables.customer(s, d),
        "derby_q95", "customer_rt", "c_custkey", 4)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("c_acctbal")), 2).as("sum_bal"))
      .orderBy(col("c_nationkey"))
  }

  /** Statistical aggregate surface: sample stddev/variance, correlation,
    * covariance. Definitions are engine-independent; summation-order ulp is
    * absorbed by rounding (the established sum(double) discipline). */
  private val q77: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2)
          .as("covar_qp"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  /** Recursive CTE (new SQL surface in Spark 4): transitive ancestor
    * closure over the implicit binary-tree hierarchy key → key div 2 —
    * ~log2(maxKey) iterations, each a bounded self-union the engine
    * executes as repeated plan expansion. The iterative-driver analog
    * (reference O12) expressed declaratively in one statement.
    *
    * Termination posture: this closure terminates structurally (`ancestor`
    * strictly halves each step, the `> 0` predicate bottoms out), so the
    * engine guards are backstops, not load-bearing: Spark caps iterations
    * at `spark.sql.cteRecursionLevelLimit` (default 100) and rows at
    * `spark.sql.cteRecursionRowLimit`, surfacing
    * RECURSION_LEVEL_LIMIT_EXCEEDED as a clean error on cyclic input
    * (RelationalSpec pins that behavior). On data whose hierarchy depth can
    * legitimately exceed 100, raise the level limit deliberately — never
    * disable it; a cycle in 100 TB of edges is otherwise an unbounded job.
    *
    * The ROW limit is a different kind of guard: closure output is
    * input × depth rows BY DESIGN (linear, shuffle-partitioned, never
    * driver-resident), so any fixed row constant is a unit mismatch with
    * data scale — the 10× tier bench hit the 1M default exactly this way
    * (RECURSION_ROW_LIMIT_EXCEEDED on ~4.6M legitimate closure rows,
    * round 15). The limit is read at EXECUTION time, not planning
    * (certified empirically: a set-plan-restore scoping still failed at
    * tier), so a lazy DataFrame cannot carry a per-query override —
    * `spark.sql.cteRecursionRowLimit` is therefore raised as a
    * SESSION-level setting in this repo's own session builders
    * (Bench/Verify/SchemaGolden/ExplainDump/test base), where it is a
    * deliberate, documented engine knob rather than a hidden per-query
    * mutation of shared session state (r15 review finding). The raised
    * value is a FINITE ceiling (`Graft.CteRecursionRowCeiling`, 1e9), not
    * Int.MaxValue: the row guard keeps catching a genuinely runaway
    * recursive join while clearing any input-proportional closure this
    * engine will see (r15 ADVICE item 2). A session
    * that keeps the 1M default still runs this query fine below ~70k
    * input rows and fails with Spark's clean RECURSION_ROW_LIMIT error
    * above it — pointing here. */
  private val q99: Q = (s, d) => {
    Tables.part(s, d).createOrReplaceTempView("part")
    s.sql("""
      WITH RECURSIVE anc(key, ancestor, depth) AS (
        SELECT p_partkey, p_partkey DIV 2, 1 FROM part
        UNION ALL
        SELECT key, ancestor DIV 2, depth + 1 FROM anc WHERE ancestor > 0
      )
      SELECT CAST(depth AS INT) AS depth, count(*) AS n,
             CAST(sum(key) AS BIGINT) AS key_mass,
             CAST(min(ancestor) AS BIGINT) AS min_anc
      FROM anc
      GROUP BY depth
      ORDER BY depth
    """)
  }

  /** Bucketed co-located fact-fact join under the gate: both facts are
    * written `bucketBy(8, orderkey)` and joined from the bucketed tables —
    * the pre-shuffled layout that lets repeated same-key joins skip the
    * exchange entirely at 100 TB (BucketingSpec locks the no-Exchange
    * plan; this query certifies data fidelity through the bucketed
    * write/read round trip — the oracle joins the ORIGINAL tables). */
  /** Stages the bucketed lineitem/orders tables ONCE per (catalog, source
    * snapshot) and returns their names: table names carry a digest of the
    * source FILES (paths + lengths + mtimes, not just the dir string — a
    * source regenerated in place with identical row counts gets a new
    * digest, so stale buckets can never silently serve q89/q100), and an
    * existing table with the expected row count is reused (idempotent, like
    * Sources.staging). Repeated bucketed-join queries then cost only the
    * exchange-free join — the write is a one-time layout investment, which
    * is the actual 100 TB economics of bucketing. */
  /** Tables whose staging guard already passed in this JVM. The digest in
    * the table name pins the source snapshot, so once a (name, digest) pair
    * is verified (or freshly written) there is nothing left to re-check —
    * repeated bucketed-join invocations pay a catalog lookup and ZERO Spark
    * jobs. Without this, the two footer-count jobs per invocation dominated
    * the exchange-free join itself (r7 bench: q89 warm runs slower than
    * cold). Process-local: a new JVM re-verifies once, which is the point. */
  private val verifiedBucketed =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[graft] def bucketedTables(s: SparkSession, d: String): (String, String) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def fold(f: java.io.File): Unit = {
      require(f.exists, s"bucketed staging source missing: ${f.getPath}")
      md.update(s"${f.getPath}:${f.length}:${f.lastModified}\n".getBytes("UTF-8"))
      if (f.isDirectory) {
        val kids = f.listFiles()
        require(kids != null, s"bucketed staging source unreadable: ${f.getPath}")
        kids.sortBy(_.getPath).foreach(fold)
      }
    }
    md.update(d.getBytes("UTF-8"))
    Seq("lineitem.parquet", "orders.parquet")
      .foreach(n => fold(new java.io.File(d, n)))
    val suf = md.digest().take(4).map("%02x".format(_)).mkString
    def stage(name: String, df: DataFrame, key: String): String = {
      val full = s"${name}_$suf"
      if (!(verifiedBucketed.contains(full) && s.catalog.tableExists(full))) {
        // Lazy &&: the source count job only runs when the table exists and
        // the guard must compare — a first-time write pays zero count jobs.
        // The row-count guard catches half-written/interrupted tables (both
        // counts are parquet footer metadata, no row scan); content drift is
        // already excluded by the snapshot digest in the table name.
        val ok = s.catalog.tableExists(full) &&
          s.table(full).count() == df.count()
        if (!ok) {
          // A regenerated source mints a new digest; superseded snapshots of
          // the same logical table would otherwise accumulate in the
          // warehouse forever. Drop them before writing the current one —
          // but never a digest this session has verified: two datasets
          // alternating in one JVM must not destroy each other's staged
          // tables (that would thrash full rewrites and break lazily-held
          // frames still referencing the dropped table).
          s.catalog.listTables().collect()
            .map(_.name)
            .filter(t => t.startsWith(s"${name}_") && t != full &&
              !verifiedBucketed.contains(t))
            .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
          df.write.mode("overwrite").bucketBy(8, key).sortBy(key)
            .saveAsTable(full)
        }
        verifiedBucketed.add(full)
      }
      full
    }
    (stage("graft_li_bucketed",
        Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice", "l_discount"),
        "l_orderkey"),
      stage("graft_o_bucketed",
        Tables.orders(s, d).select("o_orderkey", "o_orderpriority"),
        "o_orderkey"))
  }

  private val q89: Q = (s, d) => {
    val (li, o) = bucketedTables(s, d)
    s.table(li)
      .join(s.table(o), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(rev), 2).as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** Bucket-pruned point lookup: an equality predicate on the bucketing
    * key lets the scan read ONE of the 8 buckets — `SelectedBucketsCount:
    * 1 out of 8` in the plan (PlanSpec locks it). At 100 TB this is the
    * difference between touching 1/8th of a fact table and all of it for
    * key-targeted reads; the oracle runs the same lookup on the original
    * (unbucketed) parquet, so the gate also certifies that pruning loses
    * no rows. */
  private val q100: Q = (s, d) => {
    val (li, _) = bucketedTables(s, d)
    s.table(li).filter(col("l_orderkey") === 1)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"),
        round(min(col("l_discount")), 2).as("min_disc"))
      .orderBy(col("l_orderkey"))
  }

  /** Boolean / conditional aggregate surface: bool_and, bool_or, count_if
    * — exact, order-independent aggregates (no rounding needed). */
  private val q79: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        bool_and(col("o_totalprice") > 1000.0).as("all_above_1k"),
        bool_or(col("o_orderstatus") === "F").as("any_f"),
        count_if(col("o_custkey") % 2 === 0).as("n_even_cust"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))

  /** Time-typed RANGE frame: rolling 1-hour per-user event stats — the
    * frame boundary is an event-time interval, not a row count, so peers
    * and frame membership are value-determined (identical cross-engine by
    * definition). */
  private val q78: Q = (s, d) => {
    Tables.events(s, d).createOrReplaceTempView("events")
    s.sql("""
      SELECT user_id, ts, event_id,
             count(*) OVER w AS n_1h,
             round(sum(value) OVER w, 2) AS sum_1h
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts
                   RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
      ORDER BY user_id, ts, event_id
    """)
  }

  /** Partitioned parquet sink under the gate: orders → Hive-style
    * `partitionBy(o_orderstatus)` layout → read back; the status filter then
    * prunes whole partition directories at planning time (PartitionFilters
    * in the scan — PlanSpec locks it). The oracle filters the ORIGINAL
    * table, so any value lost or mangled by the directory-key encode/decode
    * (the column is round-tripped through file paths!) breaks the hash. */
  private val q96: Q = (s, d) => {
    val tmp = graft.sources.Sources.staging("part_q96")
    graft.sources.Sources.partitionedRoundTrip(s, Tables.orders(s, d),
        Seq("o_orderstatus"), tmp)
      .filter(col("o_orderstatus") === "F")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** Spark 4's VariantType semi-structured path under the gate:
    * `parse_json` shreds events.props into a variant, `variant_get`
    * projects a typed field — the open-format answer to schema-on-read
    * JSON at scale (binary-encoded, field-prunable). The oracle is
    * DuckDB's native JSON extraction; q21 certifies the regexp and
    * `from_json` paths, this one the variant encode/decode. */
  private val q97: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("k_var", expr("variant_get(parse_json(props), '$.k', 'int')"))
      .groupBy((col("k_var") % 7).as("k_mod"))
      .agg(count(lit(1)).as("n"),
        min(col("k_var")).as("k_min"), max(col("k_var")).as("k_max"))
      .orderBy(col("k_mod"))

  /** Small-files compaction under the gate: documents parquet → compact to
    * ~256 KiB target files → re-read → rollup. The oracle reads the
    * ORIGINAL table — compaction must be exactly row-preserving. */
  private val q98: Q = (s, d) => {
    val tmp = graft.sources.Sources.staging("compact_q98")
    graft.sources.Sources.compact(s, s"$d/documents.parquet", tmp, 256 * 1024)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("source"))
  }

  /** The typed-UDAF surface under the gate: geometric mean per brand through
    * `udaf(GeoMeanAggregator)` — a merge-associative (Σ ln x, n) buffer, so
    * partial aggregation applies exactly as for built-ins. The oracle is
    * DuckDB's `exp(avg(ln(x)))`; both sides round to 4 dp to absorb
    * summation-order ulp. */
  private val q94: Q = (s, d) => {
    val gm = udaf(graft.functions.GeoMeanAggregator)
    Tables.part(s, d)
      .groupBy(col("p_brand"))
      .agg(round(gm(col("p_retailprice")), 4).as("geo_price"),
        count(lit(1)).as("n"))
      .orderBy(col("p_brand"))
  }

  /** Window distribution functions — ntile / percent_rank / cume_dist —
    * over a deterministic (value, key) order; rounds the rational-valued
    * ranks so both engines hash identically. */
  private val q49: Q = (s, d) => {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    val pw = Window.partitionBy(col("c_nationkey"))
    // pct_rank/cume are the exact-integer half-up quotient
    // ⌊(2·scaled + den)/(2·den)⌋ (the q202/q207 double-rounding
    // discipline), NOT round(percent_rank(), 6): (rank−1)/(n−1) lands
    // exactly on a .5 rounding boundary whenever 2·10⁶·(rank−1) ≡ n−1
    // (mod 2(n−1)) — e.g. 41/640 = 0.0640625, hit at sf0.1 — and the
    // engines then disagree (Spark BigDecimal half-up vs DuckDB binary
    // double, caught by the r16 sf0.1 gate). The order key is unique
    // (c_custkey tie-break), so rank doubles as cume_dist's row count.
    Tables.customer(s, d)
      .select(col("c_nationkey"), col("c_custkey"),
        ntile(4).over(w).as("quartile"),
        rank().over(w).cast("long").as("_r"),
        count(lit(1)).over(pw).as("_n"),
        first_value(col("c_custkey")).over(w).as("first_k"),
        nth_value(col("c_custkey"), 2).over(w).as("second_k"))
      .withColumn("pct_rank", when(col("_n") === 1L, lit(0.0)).otherwise(
        expr("cast((2*(_r-1)*1000000 + (_n-1)) div (2*(_n-1)) as double)" +
          " / 1000000")))
      .withColumn("cume",
        expr("cast((2*_r*1000000 + _n) div (2*_n) as double) / 1000000"))
      .select(col("c_nationkey"), col("c_custkey"), col("quartile"),
        col("pct_rank"), col("cume"), col("first_k"), col("second_k"))
      .orderBy(col("c_nationkey"), col("c_custkey"))
  }

  /** ANALYZE-style table profiling: one row per profiled column with row /
    * null / distinct counts, plus min/max for integer columns (other
    * types' extrema are format-sensitive across engines and belong to
    * typed queries). The statistics every optimizer (and every data-quality
    * gate) wants, as a first-class operator.
    *
    * Shape: ONE scan — all columns' counts aggregate in a single pass
    * (Spark plans the multi-column distincts via Expand: |cols| copies of
    * each row, each carrying one column — the standard exact-distinct
    * plan); the per-column result rows are then 1-row selects unioned,
    * driver-free. At corpus scale swap `countDistinct` for
    * [[Analytics.kmvSketch]]/`approx_count_distinct` per column — the
    * operator's contract (exact) is the oracle-able form. */
  def profileTable(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profileTable: cols must be non-empty")
    val schema = df.schema
    def isIntegral(c: String) = schema(c).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    val aggs = count(lit(1)).as("n_rows") +:
      cols.flatMap { c =>
        Seq(count(col(c)).as(s"nn__$c"), countDistinct(col(c)).as(s"nd__$c")) ++
          (if (isIntegral(c))
            Seq(min(col(c)).cast("bigint").as(s"mn__$c"),
              max(col(c)).cast("bigint").as(s"mx__$c"))
          else Nil)
      }
    val one = df.agg(aggs.head, aggs.tail: _*)
    cols.map { c =>
      one.select(lit(c).as("col_name"), col("n_rows"),
        col(s"nn__$c").as("n_nonnull"),
        (col("n_rows") - col(s"nn__$c")).as("n_null"),
        col(s"nd__$c").as("n_distinct"),
        (if (isIntegral(c)) col(s"mn__$c") else lit(null).cast("bigint"))
          .as("min_num"),
        (if (isIntegral(c)) col(s"mx__$c") else lit(null).cast("bigint"))
          .as("max_num"))
    }.reduce(_ unionByName _).orderBy(col("col_name"))
  }

  private val profiledCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")

  private val q133: Q = (s, d) =>
    profileTable(Tables.orders(s, d), profiledCols)

  /** Column-profile drift between two snapshots — the nightly ingest
    * gate's FIRST look (deequ-style anomaly detection shape): diff the
    * [[profileTable]] statistics column by column and flag what moved,
    * BEFORE anyone pays q241's per-group fingerprints or q76's
    * row-level diff. Null rates are one IEEE division each (rounded
    * 6 dp); the drift verdict is a null-safe comparison of exact
    * counts/distincts/extrema.
    *
    * Shape: two single-pass profile scans (the exact-distinct Expand
    * plan), then everything lives on the |cols|-row frames — the diff
    * join broadcasts by construction. */
  def profileDrift(a: DataFrame, b: DataFrame,
      cols: Seq[String]): DataFrame = {
    def side(df: DataFrame, s: String) =
      profileTable(df, cols).select(col("col_name"),
        col("n_rows").as(s"n_rows_$s"),
        round(col("n_null").cast("double") / col("n_rows"), 6)
          .as(s"null_rate_$s"),
        col("n_distinct").as(s"n_distinct_$s"),
        col("min_num").as(s"min_$s"), col("max_num").as(s"max_$s"))
    side(a, "a").join(broadcast(side(b, "b")), "col_name")
      .withColumn("drifted",
        !(col("n_rows_a") === col("n_rows_b")
          && col("n_distinct_a") === col("n_distinct_b")
          && (col("min_a") <=> col("min_b"))
          && (col("max_a") <=> col("max_b"))
          && col("null_rate_a") === col("null_rate_b")))
  }

  /** Snapshot B simulates the next ingest (every 89th order dropped —
    * the q241 perturbation convention), so count/distinct/extrema
    * drift genuinely fires on some columns and not others. */
  private val q251: Q = (s, d) => {
    val orders = Tables.orders(s, d)
    profileDrift(orders,
      orders.filter(pmod(col("o_orderkey"), lit(89)) =!= 0), profiledCols)
      .orderBy(col("col_name"))
  }

  // ------------------------------------------------ data-quality checks --

  /** Declarative data-quality constraint (the Deequ/Great-Expectations
    * surface): each check computes a satisfaction RATIO in [0, 1] and
    * passes iff `round(ratio, 6) >= minRatio`. */
  sealed trait QualityCheck { def name: String; def minRatio: Double }
  /** Fraction of rows with a non-null value. */
  final case class Complete(column: String, minRatio: Double = 1.0)
      extends QualityCheck { val name = s"complete($column)" }
  /** Distinct values / total rows (1.0 ⇔ the column is a key). */
  final case class Distinctness(column: String, minRatio: Double = 1.0)
      extends QualityCheck { val name = s"distinct($column)" }
  /** Fraction of rows whose value is in the accepted set (null fails). */
  final case class InSet(column: String, allowed: Seq[String],
      minRatio: Double = 1.0)
      extends QualityCheck { val name = s"in_set($column)" }
  /** Fraction of rows with lo <= value <= hi (null fails). */
  final case class InRange(column: String, lo: Double, hi: Double,
      minRatio: Double = 1.0)
      extends QualityCheck { val name = s"in_range($column)" }
  /** Fraction of rows whose value exists in `dimCol` of `dim` (null FK
    * fails; the FK side never shuffles — the distinct dim-key frame
    * broadcasts). */
  final case class RefIntegrity(column: String, dim: DataFrame,
      dimCol: String, minRatio: Double = 1.0)
      extends QualityCheck { val name = s"ref_integrity($column)" }

  /** Constraint-validation suite over one table: every row-local check
    * folds into ONE full-scan aggregate (ratios are sums of exact 0/1
    * doubles — order-independent, cross-engine exact), unpivoted via
    * `stack`; each referential check adds one broadcast left join + a
    * 1-row aggregate. Output: (check_name, metric, passed), one row per
    * check — the shape a pipeline gates a 100 TB ingest on without ever
    * collecting the corpus. */
  def validate(df: DataFrame, checks: Seq[QualityCheck]): DataFrame = {
    require(checks.nonEmpty, "validate: checks must be non-empty")
    require(checks.map(_.name).distinct.size == checks.size,
      s"validate: duplicate check names in ${checks.map(_.name)}")
    val local = checks.filter(!_.isInstanceOf[RefIntegrity])
    val refs = checks.collect { case r: RefIntegrity => r }
    val ratioOf: QualityCheck => Column = {
      case Complete(c, _) =>
        count(col(c)).cast("double") / count(lit(1))
      case Distinctness(c, _) =>
        countDistinct(col(c)).cast("double") / count(lit(1))
      case InSet(c, vals, _) =>
        avg(when(col(c).isin(vals: _*), 1.0d).otherwise(0.0d))
      case InRange(c, lo, hi, _) =>
        avg(when(col(c) >= lo && col(c) <= hi, 1.0d).otherwise(0.0d))
      case r: RefIntegrity =>
        throw new IllegalStateException(s"ref check ${r.name} is not row-local")
    }
    val localFrame: Option[DataFrame] = Option.when(local.nonEmpty) {
      val one = df.agg(ratioOf(local.head).as("c0"),
        local.tail.zipWithIndex.map { case (ch, i) =>
          ratioOf(ch).as(s"c${i + 1}")
        }: _*)
      val stackArgs = local.zipWithIndex
        .map { case (ch, i) => s"'${ch.name}', c$i" }.mkString(", ")
      one.select(expr(s"stack(${local.size}, $stackArgs)")
        .as(Seq("check_name", "metric")))
    }
    val refFrames = refs.map { r =>
      val keys = r.dim.select(col(r.dimCol).as("__dim_key")).distinct()
      df.join(broadcast(keys), col(r.column) === col("__dim_key"), "left")
        .agg(avg(when(col("__dim_key").isNotNull, 1.0d).otherwise(0.0d))
          .as("metric"))
        .select(lit(r.name).as("check_name"), col("metric"))
    }
    val thrCol = checks.foldLeft(lit(null).cast("double")) { (acc, ch) =>
      when(col("check_name") === ch.name, lit(ch.minRatio)).otherwise(acc)
    }
    (localFrame.toSeq ++ refFrames).reduce(_ unionByName _)
      .select(col("check_name"), round(col("metric"), 6).as("metric"))
      .withColumn("min_ratio", thrCol)
      .withColumn("passed", col("metric") >= col("min_ratio"))
      .orderBy(col("check_name"))
  }

  /** The orders-table validation suite: 4 passing + 2 failing constraints
    * (a gate with no failing branch proves nothing). */
  private val q160: Q = (s, d) =>
    validate(Tables.orders(s, d), Seq(
      Complete("o_custkey"),
      Distinctness("o_orderkey"),
      InSet("o_orderstatus", Seq("O", "F", "P")),
      InSet("o_orderpriority", Seq("1-URGENT", "2-HIGH"), minRatio = 0.95),
      InRange("o_totalprice", 0.0, 100000.0, minRatio = 0.5),
      RefIntegrity("o_custkey", Tables.customer(s, d), "c_custkey")))

  /** LATERAL correlated subquery — top-3 customers by balance PER nation
    * via `, LATERAL (... ORDER BY ... LIMIT 3)`: the SQL-standard
    * "for-each-row subquery" form (Spark plans it through
    * DecorrelateInnerQuery → a ranked join, not a per-row re-execution).
    * Semantically overlaps the window top-k (q16/q26) but exercises a
    * different planner path — correlated-subquery decorrelation with
    * LIMIT — which is exactly what a user porting PostgreSQL/DuckDB SQL
    * brings. The oracle is the INDEPENDENT row_number formulation, so the
    * gate also certifies the decorrelation is semantics-preserving.
    * Tie-safety: (c_acctbal DESC, c_name) is a total order. */
  private val q203: Q = (s, d) => {
    Tables.nation(s, d).createOrReplaceTempView("nation")
    Tables.customer(s, d).createOrReplaceTempView("customer")
    s.sql("""
      SELECT n.n_name, t.c_name, t.c_acctbal
      FROM nation n, LATERAL (
        SELECT c_name, c_acctbal FROM customer c
        WHERE c.c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_name LIMIT 3) t
      ORDER BY n.n_name, t.c_acctbal DESC, t.c_name
    """)
  }

  /** Observed metrics (`df.observe` / CollectMetrics) — the in-flight
    * data-quality counters a production pipeline attaches to its main
    * pass: metrics accumulate ON THE EXECUTORS while the action runs (no
    * second scan) and surface through the listener bus. The gate pins
    * them EXACT: the observed row re-enters a DataFrame with pinned
    * types and must hash-match the oracle's direct aggregate — certifying
    * the metric path (AggregatingAccumulator → listener) computes
    * precisely what a dedicated aggregation job would. */
  private val q204: Q = (s, d) => {
    val obs = new org.apache.spark.sql.Observation(
      s"graft_obs_${System.nanoTime()}")
    val li = Tables.lineitem(s, d).observe(obs,
      count(lit(1)).as("n_rows"),
      sum(col("l_quantity").cast("decimal(14,2)"))
        .cast("decimal(38,2)").as("qty_sum"),
      min(col("l_extendedprice")).as("min_price"),
      max(col("l_extendedprice")).as("max_price"))
    li.write.format("noop").mode("overwrite").save()
    val m = obs.get
    val sch = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_rows",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("qty_sum",
        org.apache.spark.sql.types.DataTypes.createDecimalType(38, 2)),
      org.apache.spark.sql.types.StructField("min_price",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("max_price",
        org.apache.spark.sql.types.DoubleType)))
    DriverOutput.noDecimals(s.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(
        m("n_rows"), m("qty_sum"), m("min_price"), m("max_price"))), sch))
  }

  /** Schema-evolution read — the drift every long-lived lake hits: an
    * older producer wrote files WITHOUT a column that later files carry.
    * Two parquet "days" stage from orders (day 0 = even orderkeys with
    * `o_orderpriority` dropped, day 1 = odd keys, full schema);
    * `mergeSchema=true` unifies the footers and the missing column reads
    * as NULL for the old files — certified by rolling the unified frame
    * up by `coalesce(priority, '<missing>')` against an oracle that
    * replays the producer split from the original table. Staging is
    * content-addressed off the fixture (StreamingQueries.stagingDir's discipline).
    *
    * Scale: schema merge is a FOOTER operation (one task per file reads
    * kilobytes); the data path is an ordinary pruned columnar scan. */
  private val q216: Q = (s, d) => {
    import java.nio.file.{Files, Paths}
    val (_, md5hex) = Tables.fixtureFingerprint(Paths.get(d, "orders.parquet"))
    val safe = d.replaceAll("[^A-Za-z0-9.]", "_")
    val dir = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_evolve_$safe${md5hex.take(16)}")
    val marker = dir.resolve("_STAGED")
    if (!Files.exists(marker)) {
      val ords = Tables.orders(s, d)
      ords.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .drop("o_orderpriority")
        .write.mode("overwrite").parquet(dir.resolve("day=0").toString)
      ords.filter(pmod(col("o_orderkey"), lit(2)) === 1)
        .write.mode("overwrite").parquet(dir.resolve("day=1").toString)
      Files.write(marker, Array.emptyByteArray)
    }
    s.read.option("mergeSchema", "true").parquet(dir.toString)
      .groupBy(coalesce(col("o_orderpriority"), lit("<missing>")).as("pri"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("pri"))
  }

  val queries: Map[String, Q] = Map(
    "q203_lateral_topn" -> q203,
    "q216_schema_evolution" -> q216,
    "q204_observe_metrics" -> q204,
    "q133_profile" -> q133,
    "q251_profile_drift" -> q251,
    "q160_validate" -> q160,
    "q29_csv_scan" -> q29,
    "q30_json_scan" -> q30,
    "q93_orc_scan" -> q93,
    "q182_xml_scan" -> q182,
    "q192_avro_scan" -> q192,
    "q94_geomean" -> q94,
    "q77_stats_agg" -> q77,
    "q78_time_range_frame" -> q78,
    "q79_bool_agg" -> q79,
    "q89_bucketed_join" -> q89,
    "q100_bucket_pruning" -> q100,
    "q99_recursive_cte" -> q99,
    "q95_jdbc_scan" -> q95,
    "q96_partitioned_sink" -> q96,
    "q97_variant" -> q97,
    "q98_compaction" -> q98,
    "q49_window_distribution" -> q49,
    "q33_from_json" -> q33,
    "q34_range_frame" -> q34,
    "q35_unpivot" -> q35,
    "q36_band_join" -> q36,
    "q37_multiset_ops" -> q37,
    "q38_listagg" -> q38,
    "q39_lateral" -> q39,
    "q25_percentiles" -> q25,
    "q26_pivot" -> q26,
    "q27_minmax_by" -> q27,
    "q231_group_mode" -> q231,
    "q28_array_agg" -> q28,
    "q01_pricing_summary" -> q01,
    "q02_filter_project" -> q02,
    "q03_top_orders" -> q03,
    "q04_broadcast_brand" -> q04,
    "q05_region_revenue" -> q05,
    "q06_semi_join" -> q06,
    "q07_anti_join" -> q07,
    "q08_outer_join" -> q08,
    "q09_window_rank" -> q09,
    "q10_window_running" -> q10,
    "q11_lag_lead" -> q11,
    "q12_rollup" -> q12,
    "q13_cube" -> q13,
    "q14_grouping_sets" -> q14,
    "q15_distinct_agg" -> q15,
    "q16_topk" -> q16,
    "q17_setops" -> q17,
    "q18_string_funcs" -> q18,
    "q19_date_funcs" -> q19,
    "q20_case_math" -> q20,
    "q21_json_extract" -> q21,
    "q22_exists_subquery" -> q22,
    "q23_having" -> q23,
    "q24_scalar_subquery" -> q24,
  )

  // ---------------------------------------------------------------- oracles
  // DuckDB-dialect SQL producing identical (column-name, value) results.
  // Conventions: BIGINT casts where DuckDB widens (sum(int)→HUGEINT,
  // year()→BIGINT); NULLS FIRST to match Spark's asc_nulls_first; DATE casts
  // for timestamp-valued outputs.

  val oracles: Map[String, String] = Map(
    // INDEPENDENT formulation (window top-k, not LATERAL): the gate then
    // certifies Spark's lateral decorrelation is semantics-preserving.
    "q203_lateral_topn" -> """
      WITH r AS (SELECT n.n_name, c.c_name, c.c_acctbal,
                        row_number() OVER (PARTITION BY n.n_nationkey
                          ORDER BY c.c_acctbal DESC, c.c_name) AS rk
                 FROM nation n JOIN customer c
                   ON c.c_nationkey = n.n_nationkey)
      SELECT n_name, c_name, c_acctbal FROM r WHERE rk <= 3
      ORDER BY n_name, c_acctbal DESC, c_name""",
    // Replays the producer split: even orderkeys lost the column, so
    // they roll up under the '<missing>' arm.
    "q216_schema_evolution" -> """
      SELECT CASE WHEN o_orderkey % 2 = 0 THEN '<missing>'
                  ELSE o_orderpriority END AS pri,
             count(*) AS n, round(sum(o_totalprice), 2) AS total
      FROM orders GROUP BY 1 ORDER BY pri""",
    // The observed metrics must equal the direct aggregate exactly.
    "q204_observe_metrics" -> """
      SELECT count(*) AS n_rows,
             CAST(CAST(sum(CAST(l_quantity AS DECIMAL(14,2))) AS DECIMAL(38,2))
               AS DOUBLE) AS qty_sum,
             min(l_extendedprice) AS min_price,
             max(l_extendedprice) AS max_price
      FROM lineitem""",
    // Replays profileTable column-by-column; counts CAST to BIGINT
    // (HUGEINT in DuckDB), min/max only for the BIGINT columns.
    // Replays each constraint's ratio as its own scalar aggregate — Spark
    // computes them fused in ONE stack-unpivoted scan, so agreement also
    // certifies the fused form.
    "q160_validate" -> """
      WITH m AS (
        SELECT 'complete(o_custkey)' AS check_name,
               round(CAST(count(o_custkey) AS DOUBLE) / count(*), 6) AS metric,
               CAST(1.0 AS DOUBLE) AS min_ratio FROM orders
        UNION ALL
        SELECT 'distinct(o_orderkey)',
               round(CAST(count(DISTINCT o_orderkey) AS DOUBLE) / count(*), 6),
               CAST(1.0 AS DOUBLE) FROM orders
        UNION ALL
        SELECT 'in_set(o_orderstatus)',
               round(avg(CASE WHEN o_orderstatus IN ('O','F','P')
                         THEN 1.0 ELSE 0.0 END), 6), CAST(1.0 AS DOUBLE) FROM orders
        UNION ALL
        SELECT 'in_set(o_orderpriority)',
               round(avg(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 1.0 ELSE 0.0 END), 6), CAST(0.95 AS DOUBLE) FROM orders
        UNION ALL
        SELECT 'in_range(o_totalprice)',
               round(avg(CASE WHEN o_totalprice >= 0 AND o_totalprice <= 100000
                         THEN 1.0 ELSE 0.0 END), 6), CAST(0.5 AS DOUBLE) FROM orders
        UNION ALL
        SELECT 'ref_integrity(o_custkey)',
               round(avg(CASE WHEN c.c_custkey IS NOT NULL
                         THEN 1.0 ELSE 0.0 END), 6), CAST(1.0 AS DOUBLE)
        FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
          ON o.o_custkey = c.c_custkey)
      SELECT check_name, metric, min_ratio, metric >= min_ratio AS passed
      FROM m ORDER BY check_name""",
    // Replays profileDrift: both snapshot profiles (q133's per-column
    // row builder), the 6-dp null-rate divisions, and the null-safe
    // drift verdict over the joined |cols|-row frames.
    "q251_profile_drift" -> {
      def row(c: String, integral: Boolean, src: String) = {
        val mn = if (integral) s"CAST(min($c) AS BIGINT)" else "CAST(NULL AS BIGINT)"
        val mx = if (integral) s"CAST(max($c) AS BIGINT)" else "CAST(NULL AS BIGINT)"
        s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
               round(CAST(count(*) - count($c) AS DOUBLE) / count(*), 6)
                 AS null_rate,
               CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
               $mn AS min_num, $mx AS max_num FROM $src"""
      }
      val colSpec = Seq("o_orderkey" -> true, "o_custkey" -> true,
        "o_orderstatus" -> false, "o_totalprice" -> false,
        "o_orderdate" -> false, "o_orderpriority" -> false)
      def prof(src: String) =
        colSpec.map { case (c, i) => row(c, i, src) }
          .mkString("", "\nUNION ALL\n", "")
      s"""
      WITH pa AS (${prof("orders")}),
      pb AS (${prof("(SELECT * FROM orders WHERE o_orderkey % 89 <> 0)")})
      SELECT pa.col_name,
             pa.n_rows AS n_rows_a, pa.null_rate AS null_rate_a,
             pa.n_distinct AS n_distinct_a,
             pa.min_num AS min_a, pa.max_num AS max_a,
             pb.n_rows AS n_rows_b, pb.null_rate AS null_rate_b,
             pb.n_distinct AS n_distinct_b,
             pb.min_num AS min_b, pb.max_num AS max_b,
             NOT (pa.n_rows = pb.n_rows
                  AND pa.n_distinct = pb.n_distinct
                  AND pa.min_num IS NOT DISTINCT FROM pb.min_num
                  AND pa.max_num IS NOT DISTINCT FROM pb.max_num
                  AND pa.null_rate = pb.null_rate) AS drifted
      FROM pa JOIN pb USING (col_name)
      ORDER BY pa.col_name"""
    },
    "q133_profile" -> {
      def row(c: String, integral: Boolean) = {
        val mn = if (integral) s"CAST(min($c) AS BIGINT)" else "CAST(NULL AS BIGINT)"
        val mx = if (integral) s"CAST(max($c) AS BIGINT)" else "CAST(NULL AS BIGINT)"
        s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count($c) AS BIGINT) AS n_nonnull,
               CAST(count(*) - count($c) AS BIGINT) AS n_null,
               CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
               $mn AS min_num, $mx AS max_num FROM orders"""
      }
      Seq("o_orderkey" -> true, "o_custkey" -> true, "o_orderstatus" -> false,
        "o_totalprice" -> false, "o_orderdate" -> false,
        "o_orderpriority" -> false)
        .map { case (c, i) => row(c, i) }
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name") },
    // q29/q30 oracles read the ORIGINAL parquet: the Spark side must survive
    // its CSV/JSON round-trip losslessly to match.
    "q29_csv_scan" -> """
      SELECT p_brand, count(*) AS n,
             round(sum(p_retailprice), 2) AS sum_price,
             round(avg(p_size), 4) AS avg_size
      FROM part GROUP BY p_brand ORDER BY p_brand""",
    "q30_json_scan" -> """
      SELECT s_nationkey, count(*) AS n,
             round(sum(s_acctbal), 2) AS sum_bal
      FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""",
    "q93_orc_scan" -> """
      SELECT c_mktsegment, count(*) AS n,
             round(sum(c_acctbal), 2) AS sum_bal
      FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    // like q93: the oracle reads the PARQUET table — agreement certifies
    // the XML write+read round-trip was lossless.
    "q182_xml_scan" -> """
      SELECT c_mktsegment, count(*) AS n,
             round(sum(c_acctbal), 2) AS sum_bal
      FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    // like q93/q182: the oracle reads the PARQUET table — agreement
    // certifies the Avro write+read round-trip was lossless.
    "q192_avro_scan" -> """
      SELECT o_orderpriority, count(*) AS n,
             round(sum(o_totalprice), 2) AS sum_price,
             CAST(min(o_orderdate) AS DATE) AS first_date
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q94_geomean" -> """
      SELECT p_brand, round(exp(avg(ln(p_retailprice))), 4) AS geo_price,
             count(*) AS n
      FROM part GROUP BY p_brand ORDER BY p_brand""",
    "q95_jdbc_scan" -> """
      SELECT c_nationkey, count(*) AS n,
             round(sum(c_acctbal), 2) AS sum_bal
      FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""",
    "q77_stats_agg" -> """
      SELECT l_returnflag,
             round(stddev_samp(l_quantity), 4) AS sd_qty,
             round(var_samp(l_quantity), 4) AS var_qty,
             round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
             round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qp,
             count(*) AS n
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",
    "q99_recursive_cte" -> """
      WITH RECURSIVE anc(key, ancestor, depth) AS (
        SELECT p_partkey, p_partkey // 2, 1 FROM part
        UNION ALL
        SELECT key, ancestor // 2, depth + 1 FROM anc WHERE ancestor > 0
      )
      SELECT CAST(depth AS INT) AS depth, count(*) AS n,
             CAST(sum(key) AS BIGINT) AS key_mass,
             CAST(min(ancestor) AS BIGINT) AS min_anc
      FROM anc
      GROUP BY depth
      ORDER BY depth""",
    "q89_bucketed_join" -> """
      SELECT o_orderpriority, count(*) AS n,
             round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",
    "q100_bucket_pruning" -> """
      SELECT l_orderkey, count(*) AS n,
             round(sum(l_extendedprice), 2) AS sum_price,
             round(min(l_discount), 2) AS min_disc
      FROM lineitem WHERE l_orderkey = 1
      GROUP BY l_orderkey
      ORDER BY l_orderkey""",
    "q79_bool_agg" -> """
      SELECT o_orderpriority,
             bool_and(o_totalprice > 1000.0) AS all_above_1k,
             bool_or(o_orderstatus = 'F') AS any_f,
             CAST(count_if(o_custkey % 2 = 0) AS BIGINT) AS n_even_cust,
             count(*) AS n
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",
    "q78_time_range_frame" -> """
      WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value
                 FROM events)
      SELECT user_id, ts, event_id,
             count(*) OVER w AS n_1h,
             round(sum(value) OVER w, 2) AS sum_1h
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts
                   RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW)
      ORDER BY user_id, ts, event_id""",
    "q96_partitioned_sink" -> """
      SELECT o_orderpriority, count(*) AS n,
             round(sum(o_totalprice), 2) AS sum_price
      FROM orders WHERE o_orderstatus = 'F'
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q97_variant" -> """
      SELECT CAST(json_extract_string(props, '$.k') AS INT) % 7 AS k_mod,
             count(*) AS n,
             min(CAST(json_extract_string(props, '$.k') AS INT)) AS k_min,
             max(CAST(json_extract_string(props, '$.k') AS INT)) AS k_max
      FROM events GROUP BY 1 ORDER BY k_mod""",
    "q98_compaction" -> """
      SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM documents GROUP BY source ORDER BY source""",
    // pct_rank/cume replay the exact-integer half-up quotient (see the
    // q49 builder comment): round(percent_rank(),6) ties on exact
    // .5 boundaries (41/640 at sf0.1) where the engines' rounding paths
    // disagree.
    "q49_window_distribution" -> """
      WITH r AS (
        SELECT c_nationkey, c_custkey,
               CAST(ntile(4) OVER w AS INT) AS quartile,
               CAST(rank() OVER w AS BIGINT) AS rnk,
               CAST(count(*) OVER (PARTITION BY c_nationkey) AS BIGINT) AS n,
               first_value(c_custkey) OVER w AS first_k,
               nth_value(c_custkey, 2) OVER w AS second_k
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey))
      SELECT c_nationkey, c_custkey, quartile,
             CASE WHEN n = 1 THEN 0.0 ELSE
               CAST((2*(rnk-1)*1000000 + (n-1)) // (2*(n-1)) AS DOUBLE)
                 / 1000000 END AS pct_rank,
             CAST((2*rnk*1000000 + n) // (2*n) AS DOUBLE) / 1000000 AS cume,
             first_k, second_k
      FROM r
      ORDER BY c_nationkey, c_custkey""",
    "q38_listagg" -> """
      SELECT c_nationkey, string_agg(c_name, ',' ORDER BY c_name) AS names
      FROM customer WHERE c_custkey < 200
      GROUP BY c_nationkey ORDER BY c_nationkey""",
    "q39_lateral" -> """
      SELECT n_name, t.c_name, round(t.c_acctbal, 2) AS acctbal
      FROM nation,
      LATERAL (SELECT c_name, c_acctbal FROM customer
               WHERE c_nationkey = n_nationkey
               ORDER BY c_acctbal DESC, c_name LIMIT 2) t
      ORDER BY n_name, acctbal DESC, c_name""",
    "q36_band_join" -> """
      WITH tiers(tier, lo, hi) AS (VALUES
        ('bronze', 0.0, 100000.0), ('silver', 100000.0, 250000.0),
        ('gold', 250000.0, 400000.0), ('platinum', 400000.0, 1000000000.0))
      SELECT tier, count(*) AS n, round(avg(o_totalprice), 4) AS avg_price
      FROM orders JOIN tiers ON o_totalprice >= lo AND o_totalprice < hi
      GROUP BY tier ORDER BY tier""",
    "q37_multiset_ops" -> """
      WITH a AS (SELECT l_partkey AS pk FROM lineitem WHERE l_returnflag = 'A'),
           r AS (SELECT l_partkey AS pk FROM lineitem WHERE l_returnflag = 'R'),
      u AS (
        SELECT 'intersect_all' AS op, pk FROM (SELECT pk FROM a INTERSECT ALL SELECT pk FROM r)
        UNION ALL
        SELECT 'except_all' AS op, pk FROM (SELECT pk FROM a EXCEPT ALL SELECT pk FROM r))
      SELECT op, count(*) AS n, count(DISTINCT pk) AS n_distinct
      FROM u GROUP BY op ORDER BY op""",
    "q35_unpivot" -> """
      SELECT p_partkey, 'size' AS metric, round(CAST(p_size AS DOUBLE), 2) AS value
      FROM part
      UNION ALL
      SELECT p_partkey, 'retailprice' AS metric, round(p_retailprice, 2) AS value
      FROM part
      ORDER BY p_partkey, metric""",
    "q34_range_frame" -> """
      SELECT user_id, event_id,
             count(*) OVER w AS n5m,
             round(sum(value) OVER w, 2) AS v5m
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
                   RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW)
      ORDER BY user_id, event_id""",
    "q33_from_json" -> """
      SELECT CAST(json_extract(props, '$.k') AS INT) % 2 = 0 AS k_even,
             count(*) AS n, round(sum(value), 2) AS total,
             max(CAST(json_extract(props, '$.k') AS INT)) AS max_k
      FROM events GROUP BY 1 ORDER BY k_even""",
    "q25_percentiles" -> """
      SELECT o_orderstatus,
             round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
             round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
             round(quantile_cont(o_totalprice, 0.99), 4) AS p99
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q26_pivot" -> """
      SELECT c_nationkey,
             count(*) FILTER (WHERE c_mktsegment = 'AUTOMOBILE') AS "AUTOMOBILE",
             count(*) FILTER (WHERE c_mktsegment = 'BUILDING') AS "BUILDING",
             count(*) FILTER (WHERE c_mktsegment = 'FURNITURE') AS "FURNITURE",
             count(*) FILTER (WHERE c_mktsegment = 'HOUSEHOLD') AS "HOUSEHOLD",
             count(*) FILTER (WHERE c_mktsegment = 'MACHINERY') AS "MACHINERY"
      FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""",
    "q27_minmax_by" -> """
      SELECT o_orderstatus,
             arg_max(o_orderkey, o_totalprice) AS top_order,
             arg_min(o_orderkey, o_totalprice) AS bottom_order,
             round(max(o_totalprice), 2) AS top_price
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // INDEPENDENT formulation: window rank over the counts (the engine
    // uses a min_by struct aggregate, no window). NOT DuckDB's mode() —
    // its tie rule is unspecified; both sides pin (count DESC, value ASC).
    "q231_group_mode" -> """
      WITH c AS (
        SELECT o_orderstatus, o_orderpriority,
               CAST(count(*) AS BIGINT) AS cnt
        FROM orders GROUP BY 1, 2),
      r AS (
        SELECT *, row_number() OVER (PARTITION BY o_orderstatus
                                     ORDER BY cnt DESC, o_orderpriority) AS rk
        FROM c)
      SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt AS mode_n
      FROM r WHERE rk = 1
      ORDER BY o_orderstatus""",
    "q28_array_agg" -> """
      SELECT o_custkey,
             array_to_string((list(o_orderkey ORDER BY o_orderdate, o_orderkey))[1:3], ',') AS first_orders
      FROM orders GROUP BY o_custkey ORDER BY o_custkey""",
    "q01_pricing_summary" -> """
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_base_price,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
             round(avg(l_quantity), 4) AS avg_qty,
             round(avg(l_extendedprice), 4) AS avg_price,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",
    "q02_filter_project" -> """
      SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
      FROM lineitem
      WHERE l_quantity > 45 AND l_discount >= 0.05
      ORDER BY l_orderkey, l_linenumber""",
    "q03_top_orders" -> """
      SELECT l_orderkey,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             CAST(o_orderdate AS DATE) AS orderdate, o_orderpriority
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, l_orderkey
      LIMIT 10""",
    "q04_broadcast_brand" -> """
      SELECT p_brand,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             round(sum(l_quantity), 2) AS sum_qty,
             count(*) AS n_items
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand
      ORDER BY p_brand""",
    "q05_region_revenue" -> """
      SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1999-01-01'
      GROUP BY n_name
      ORDER BY n_name""",
    "q06_semi_join" -> """
      SELECT c_custkey, c_name, c_mktsegment
      FROM customer
      WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
      ORDER BY c_custkey""",
    "q07_anti_join" -> """
      SELECT c_custkey, c_name, c_nationkey
      FROM customer
      WHERE c_custkey NOT IN
        (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
      ORDER BY c_custkey""",
    "q08_outer_join" -> """
      SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
             round(coalesce(sum(o_totalprice), 0), 2) AS total_spent
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey, c_name
      ORDER BY c_custkey""",
    "q09_window_rank" -> """
      SELECT o_custkey, rn, o_orderkey, price FROM (
        SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders)
      WHERE rn <= 3
      ORDER BY o_custkey, rn""",
    "q10_window_running" -> """
      SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS orderdate,
             round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spent
      FROM orders
      ORDER BY o_custkey, orderdate, o_orderkey""",
    "q11_lag_lead" -> """
      SELECT user_id, event_id, event_type,
             round(value - coalesce(lag(value, 1) OVER w, 0), 2) AS delta,
             coalesce(lead(event_type, 1) OVER w, 'none') AS next_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY user_id, event_id""",
    "q12_rollup" -> """
      SELECT l_returnflag, l_linestatus, count(*) AS n,
             round(sum(l_quantity), 2) AS sum_qty
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
    "q13_cube" -> """
      SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             round(sum(o_totalprice), 2) AS total
      FROM orders
      GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",
    "q14_grouping_sets" -> """
      SELECT o_orderstatus, o_orderpriority, count(*) AS n
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",
    "q15_distinct_agg" -> """
      SELECT l_returnflag,
             count(DISTINCT l_suppkey) AS n_supp,
             count(DISTINCT l_partkey) AS n_part,
             count(*) AS n_rows
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",
    "q16_topk" -> """
      SELECT p_partkey, p_name, round(p_retailprice, 2) AS price
      FROM part
      ORDER BY price DESC, p_partkey
      LIMIT 15""",
    "q17_setops" -> """
      WITH cn AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
           sn AS (SELECT DISTINCT s_nationkey AS nk FROM supplier)
      SELECT 'both' AS tag, nk FROM (SELECT nk FROM cn INTERSECT SELECT nk FROM sn)
      UNION ALL
      SELECT 'cust_only' AS tag, nk FROM (SELECT nk FROM cn EXCEPT SELECT nk FROM sn)
      ORDER BY tag, nk""",
    "q18_string_funcs" -> """
      SELECT p_partkey,
             upper(p_brand) AS brand_up,
             substring(p_name, 1, 8) AS name8,
             CAST(length(p_name) AS INT) AS name_len,
             concat_ws('|', p_brand, p_type) AS brand_type,
             CAST(regexp_extract(p_brand, '#(\d+)', 1) AS INT) AS brand_num,
             CAST(levenshtein(p_brand, p_type) AS INT) AS edit_dist,
             translate(p_brand, '#', '-') AS brand_tr,
             CAST(split_part(p_brand, '#', 2) AS INT) AS brand_no,
             lpad(p_brand, 12, '*') AS brand_pad,
             reverse(substring(p_name, 1, 8)) AS name8_rev,
             CAST(ascii(p_name) AS INT) AS first_code,
             CAST(strpos(p_name, 'a') AS INT) AS a_pos,
             starts_with(p_type, 'STANDARD') AS is_std
      FROM part
      ORDER BY p_partkey""",
    "q19_date_funcs" -> """
      SELECT CAST(year(o_orderdate) AS INT) AS y,
             CAST(quarter(o_orderdate) AS INT) AS q,
             count(*) AS n, round(sum(o_totalprice), 2) AS total,
             CAST(max(weekofyear(o_orderdate)) AS INT) AS max_week,
             CAST(max(dayofyear(o_orderdate)) AS INT) AS max_doy,
             max(last_day(o_orderdate)) AS last_d
      FROM orders
      GROUP BY 1, 2
      ORDER BY y, q""",
    "q20_case_math" -> """
      SELECT c_custkey,
             CASE WHEN c_acctbal < 0 THEN 'neg'
                  WHEN c_acctbal < 5000 THEN 'low'
                  ELSE 'high' END AS bal_bucket,
             round(abs(c_acctbal), 2) AS abs_bal,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_k,
             round(sqrt(abs(c_acctbal)), 4) AS sqrt_bal,
             CAST(sign(c_acctbal) AS INT) AS bal_sign,
             round(greatest(c_acctbal, 0.0), 2) AS bal_pos,
             CAST(floor(c_acctbal / 1000) AS BIGINT) % 7 AS bal_mod7
      FROM customer
      ORDER BY c_custkey""",
    "q21_json_extract" -> """
      SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod,
             count(*) AS n, round(avg(value), 4) AS avg_value,
             CAST(sum(CASE WHEN CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INT)
                            = CAST(json_extract_string(props, '$.k') AS INT)
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
      FROM events
      GROUP BY 1
      ORDER BY k_mod""",
    "q22_exists_subquery" -> """
      SELECT o_orderkey, o_orderstatus
      FROM orders o
      WHERE EXISTS (SELECT 1 FROM lineitem l
                    WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49.0)
      ORDER BY o_orderkey""",
    "q23_having" -> """
      SELECT l_suppkey, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
      FROM lineitem
      GROUP BY l_suppkey
      HAVING round(sum(l_quantity), 2) > 15000.0
      ORDER BY l_suppkey""",
    "q24_scalar_subquery" -> """
      SELECT o_orderstatus, count(*) AS n_above
      FROM orders
      WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""",
  )
}
