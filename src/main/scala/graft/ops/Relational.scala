package graft.ops

import graft.Tables
import graft.transform.Transforms.{cutBin, davg, dsum}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Relational / analytical operator surface over the star-schema testdata.
  *
  * Every query here has a matching ANSI-SQL oracle in
  * [[graft.SparkEntry.oracleSql]]; numeric aggregates use the decimal-sum
  * trick ([[graft.transform.Transforms.dsum]]) so results are
  * order-independent and engine-exact. All outputs carry a total ordering
  * (explicit tiebreak keys) and avoid raw timestamps (formatted strings
  * instead) for driver-compare stability.
  *
  * Scale posture is noted per query: dimension joins are broadcast, fact-
  * fact joins shuffle on their natural key, aggregations are partial
  * (map-side combine) by construction.
  */
object Relational {

  /** TPC-H Q1-style scan-heavy aggregation: one pass over lineitem, fully
    * map-side combinable, no shuffle beyond the 6-group exchange.
    */
  def q1Agg(t: Tables): DataFrame =
    t.lineitem
      .filter(col("l_shipdate") <= lit("2001-09-02").cast("timestamp_ntz"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(24, 6))).cast("double").as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Star join: region -> nation -> customer -> orders -> lineitem.
    * Dims are broadcast (no shuffle); the orders-lineitem join shuffles on
    * orderkey — the only large exchange. Aggregation by region is tiny.
    */
  def qJoinRegionRevenue(t: Tables): DataFrame = {
    val dims = broadcast(
      t.customer
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("r_name")))
    t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .join(dims, col("o_custkey") === col("c_custkey"))
      .groupBy("r_name")
      .agg(
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(24, 6))).cast("double").as("revenue"),
        countDistinct(col("o_orderkey")).as("n_orders"))
      .orderBy("r_name")
  }

  /** Top-3 orders per customer by price, via the bounded top-k aggregate
    * ([[graft.functions.BoundedTopK]]): map-side partial aggregation keeps
    * at most 3 rows per customer per task, so the shuffle carries k rows
    * per (key, map task) instead of the whole fact table — the scalable
    * alternative to `row_number().over(window) <= k` (kept in
    * [[qWindowTopkWindowed]] as the built-in formulation; both produce
    * identical rows, asserted in tests). Tiebreak: price desc, orderkey
    * desc — mirrored in the oracle.
    */
  def qWindowTopk(t: Tables): DataFrame =
    t.orders
      .groupBy("o_custkey")
      .agg(call_function("bounded_topk",
        struct(col("o_totalprice"), col("o_orderkey")), lit(3), lit(false)).as("top"))
      .select(col("o_custkey"), posexplode(col("top")).as(Seq("i", "item")))
      .select(
        col("o_custkey"),
        col("item.id").as("o_orderkey"),
        col("item.score").as("o_totalprice"),
        (col("i") + 1).cast("long").as("rn"))
      .orderBy("o_custkey", "rn")

  /** Built-in ranking-window formulation of the same query. */
  def qWindowTopkWindowed(t: Tables): DataFrame = {
    val w = Window
      .partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").desc)
    t.orders
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(
        col("o_custkey"),
        col("o_orderkey"),
        col("o_totalprice"),
        col("rn").cast("long").as("rn"))
      .orderBy("o_custkey", "rn")
  }

  /** Running total per customer over order dates — frame-bounded window sum
    * in exact decimal, cast to double at the end.
    */
  def qRunningTotal(t: Tables): DataFrame = {
    val w = Window
      .partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.orders
      .withColumn(
        "running_total",
        sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w).cast("double"))
      .select(
        col("o_custkey"),
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
        col("running_total"))
      .orderBy("o_custkey", "o_date", "o_orderkey")
  }

  /** Offset window functions: lag/lead over each customer's order history
    * (full tiebreak ordering keeps offsets deterministic).
    */
  def qWindowLag(t: Tables): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    t.orders
      .select(
        col("o_custkey"),
        col("o_orderkey"),
        col("o_totalprice"),
        lag("o_totalprice", 1).over(w).as("prev_price"),
        lead("o_totalprice", 1).over(w).as("next_price"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Boundary window functions over the full-partition frame:
    * first/last/nth order value per customer.
    */
  def qFirstLast(t: Tables): DataFrame = {
    val w = Window
      .partitionBy("o_custkey")
      .orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t.orders
      .select(
        col("o_custkey"),
        first("o_totalprice").over(w).as("first_price"),
        last("o_totalprice").over(w).as("last_price"),
        nth_value(col("o_totalprice"), 2).over(w).as("second_price"))
      .distinct()
      .orderBy("o_custkey")
  }

  /** Order-stable array aggregation: collected values emitted as a sorted
    * joined string (DuckDB's list() aggregation order is nondeterministic,
    * so both engines sort before joining).
    */
  def qArrayAgg(t: Tables): DataFrame =
    t.orders
      .groupBy("o_custkey")
      .agg(
        array_join(array_sort(collect_list("o_orderstatus")), ",").as("statuses"),
        array_join(array_sort(collect_set("o_orderpriority")), ",").as("prios"),
        count(lit(1)).as("n"))
      .orderBy("o_custkey")

  /** Ranking window functions: rank / dense_rank / percent_rank / ntile in
    * one pass. percent_rank is (rank-1)/(n-1) — identical arithmetic in
    * both engines, so no rounding needed.
    */
  def qRankFuncs(t: Tables): DataFrame = {
    val w = Window
      .partitionBy("o_orderstatus")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t.orders
      .filter(pmod(col("o_orderkey"), lit(10)) === 0)
      .select(
        col("o_orderstatus"),
        col("o_orderkey"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        percent_rank().over(w).as("prnk"),
        ntile(4).over(w).cast("long").as("quartile"))
      .orderBy("o_orderstatus", "rnk", "o_orderkey")
  }

  /** Calendar arithmetic: month truncation, end-of-month, month shifting
    * (both engines clamp to month end).
    */
  def qDateArith(t: Tables): DataFrame =
    t.orders
      .select(
        col("o_orderkey"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"),
        date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"),
        date_format(add_months(col("o_orderdate"), 3), "yyyy-MM-dd").as("plus3m"),
        date_format(date_add(col("o_orderdate").cast("date"), 45), "yyyy-MM-dd").as("plus45d"))
      .orderBy("o_orderkey")

  /** Global top-k with full tiebreaks — TakeOrderedAndProject physical op,
    * no global sort of the full table.
    */
  def qSortLimit(t: Tables): DataFrame =
    t.lineitem
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(10)
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_extendedprice"))

  /** Distinct projection (shuffle-dedup on two low-cardinality columns). */
  def qDistinct(t: Tables): DataFrame =
    t.orders
      .select("o_orderstatus", "o_orderpriority")
      .distinct()
      .orderBy("o_orderstatus", "o_orderpriority")

  /** Set op: customers ordering in both 1997 and 1998 (INTERSECT). */
  def qIntersect(t: Tables): DataFrame = {
    def keys(yr: Int) =
      t.orders.filter(year(col("o_orderdate")) === yr).select("o_custkey")
    keys(1997).intersect(keys(1998)).orderBy("o_custkey")
  }

  /** Set op: 1997 customers who did NOT order in 1998 (EXCEPT). */
  def qExcept(t: Tables): DataFrame = {
    def keys(yr: Int) =
      t.orders.filter(year(col("o_orderdate")) === yr).select("o_custkey")
    keys(1997).except(keys(1998)).orderBy("o_custkey")
  }

  /** Anti join: customers with no orders — broadcast-able NOT EXISTS. */
  def qAntiJoin(t: Tables): DataFrame =
    t.customer
      .join(t.orders, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** Semi join: parts that appear in any lineitem (EXISTS). */
  def qSemiJoin(t: Tables): DataFrame =
    t.part
      .join(t.lineitem, col("p_partkey") === col("l_partkey"), "left_semi")
      .select("p_partkey", "p_brand")
      .orderBy("p_partkey")

  /** Full outer join: hourly click counts vs purchase counts per user
    * bucket — cells where only one side has activity keep the other side
    * null, the reconciliation shape (left-only = clicks that never
    * purchased, right-only = purchases with no click traffic). USING-style
    * key columns so the join keys are coalesced across sides. Full outer
    * cannot broadcast by semantics; both pre-aggregated sides co-partition
    * on the (hour, bucket) key — one shuffle each, then a merge join, and
    * both inputs here are aggregates bounded by time-span x bucket
    * cardinality, not raw event volume.
    */
  def qFullOuter(t: Tables): DataFrame = {
    def side(tp: String, name: String) =
      t.events
        .filter(col("event_type") === tp)
        .groupBy(
          date_trunc("hour", col("ts")).as("hour"),
          pmod(col("user_id"), lit(50)).as("bucket"))
        .agg(count(lit(1)).as(name))
    side("click", "n_clicks")
      .join(side("purchase", "n_purchases"), Seq("hour", "bucket"), "full_outer")
      .select(
        date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("bucket"), col("n_clicks"), col("n_purchases"))
      .orderBy("hour", "bucket")
  }

  /** ROLLUP over (status, priority); null grouping keys are COALESCEd to
    * 'ALL' so ordering is engine-independent.
    */
  def qRollup(t: Tables): DataFrame =
    t.orders
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"),
        col("sum_price"))
      .orderBy("status", "priority")

  /** CUBE over (returnflag, linestatus). */
  def qCube(t: Tables): DataFrame =
    t.lineitem
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"),
        col("sum_qty"))
      .orderBy("rf", "ls")

  /** Exact grouped percentiles (linear interpolation — matches DuckDB
    * quantile_cont; approx_percentile would not hash-match).
    */
  def qPercentiles(t: Tables): DataFrame =
    // pruned + core-spread: the bench-scale fact file is one parquet row
    // group (single scan task), and exact percentile buffers are the
    // per-row-heaviest aggregate here; spread is a stats-guarded no-op
    // on sources that already scan wide
    graft.Engine.spread(t.lineitem
        .select(col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice")))
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_quantity, 0.5D)").as("median_qty"),
        // ONE price buffer for both price quantiles: the array form
        // evaluates every requested fraction from the same sorted counts
        // map (identical per-fraction doubles as two scalar calls), but
        // accumulates/serializes the 600k-value buffer once instead of
        // twice (round 10; measured 1.6 -> 1.3 s at sf0.1)
        expr("percentile(l_extendedprice, array(0.9D, 0.99D))").as("pp"))
      .select(col("l_returnflag"), col("median_qty"),
        col("pp").getItem(0).as("p90_price"),
        col("pp").getItem(1).as("p99_price"))
      .orderBy("l_returnflag")

  /** Exact distinct-count per group (shuffle-expand + dedup). */
  def qCountDistinct(t: Tables): DataFrame =
    t.orders
      .groupBy("o_orderpriority")
      .agg(
        countDistinct(col("o_custkey")).as("n_custs"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")

  /** Conditional aggregation (FILTER/CASE pattern) — single scan. */
  def qConditionalAgg(t: Tables): DataFrame =
    t.orders
      .groupBy("o_orderstatus")
      .agg(
        count(when(col("o_orderpriority") === "1-URGENT", 1)).as("n_urgent"),
        count(when(col("o_orderpriority") === "5-LOW", 1)).as("n_low"),
        dsum(when(col("o_totalprice") > 200000, col("o_totalprice"))
          .otherwise(lit(null))).as("big_price_sum"))
      .orderBy("o_orderstatus")

  /** Pivot: language counts per document source (fixed pivot values so the
    * schema is static and the oracle can mirror with FILTER aggregates).
    */
  def qPivotLang(t: Tables): DataFrame =
    t.documents
      .groupBy("source")
      .pivot("lang", Seq("en", "fr", "es", "de", "zh"))
      .count()
      .na.fill(0L)
      .orderBy("source")

  /** Scalar string functions (codegen'd, no UDFs). */
  def qStringFuncs(t: Tables): DataFrame =
    t.part
      .select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        length(col("p_name")).cast("long").as("name_len"),
        substring(col("p_type"), 1, 5).as("type5"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        regexp_replace(col("p_name"), "[aeiou]", "").as("name_novowels"))
      .orderBy("p_partkey")

  /** Scalar date functions; day-of-week normalized to ISO-agnostic 1=Sunday
    * in both engines; ints widened to long for stable compare.
    */
  def qDateFuncs(t: Tables): DataFrame =
    t.orders
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("yr"),
        quarter(col("o_orderdate")).cast("long").as("qtr"),
        month(col("o_orderdate")).cast("long").as("mo"),
        dayofweek(col("o_orderdate")).cast("long").as("dow1"),
        datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date"))
          .cast("long").as("days_to_2002"),
        date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
      .orderBy("o_orderkey")

  /** Correlated/scalar-subquery style aggregate threshold: orders above
    * their customer's average order value. Implemented as agg + broadcast
    * join (decorrelated by hand, which is also what Catalyst would do).
    */
  def qAboveCustomerAvg(t: Tables): DataFrame = {
    val avgPerCust = t.orders
      .groupBy("o_custkey")
      .agg(davg(col("o_totalprice")).as("avg_price"))
    t.orders
      .join(broadcast(avgPerCust.withColumnRenamed("o_custkey", "ck")),
        col("o_custkey") === col("ck"))
      .filter(col("o_totalprice") > col("avg_price"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("avg_price").as("cust_avg"))
      .orderBy("o_orderkey")
  }

  /** The NAIVE formulation of [[qRangeJoinPairs]] — equi-key plus a raw
    * 30-day window inequality, no manual banding. The
    * [[graft.plans.BandRangeJoin]] optimizer rule rewrites it to the
    * banded equi-join automatically (plan-audited: a Generate node and a
    * band-bucket equality appear in the optimized plan), so a user can
    * write the natural predicate and still get the bounded-expansion
    * access path. Same oracle semantics as the hand-banded query.
    */
  def qRangeJoinAuto(t: Tables): DataFrame = {
    val a = t.orders.select(
      col("o_custkey").as("ck"),
      col("o_orderkey").as("k1"),
      col("o_orderdate").as("d1"))
    val b = t.orders.select(
      col("o_custkey").as("ck2"),
      col("o_orderkey").as("k2"),
      col("o_orderdate").as("d2"))
    a.join(b,
        col("ck") === col("ck2") &&
        col("k1") < col("k2") &&
        col("d2") >= col("d1") &&
        col("d2") <= col("d1") + expr("INTERVAL 30 DAYS"))
      .groupBy(col("ck").as("o_custkey"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("o_custkey")
  }

  /** Self range-join: pairs of orders by the same customer within 30 days,
    * banded on 30-day date buckets. The join key is (custkey, bucket) with
    * the left side probing its own and the next bucket — any qualifying
    * pair shares exactly one bucket key (width = range span, so no
    * dedup needed), and the exact range predicate filters post-join.
    * Versus a bare custkey equi-join this bounds each join group to a
    * customer-month instead of a customer-lifetime: the per-key expansion
    * stays flat as order history grows 100x.
    */
  def qRangeJoinPairs(t: Tables): DataFrame = {
    def b30(d: Column): Column =
      floor(datediff(to_date(d), to_date(lit("1970-01-01"))) / 30)
    val a = t.orders.select(
      col("o_custkey").as("ck"),
      col("o_orderkey").as("k1"),
      col("o_orderdate").as("d1"))
      .withColumn("bb", explode(array(b30(col("d1")), b30(col("d1")) + 1)))
    val b = t.orders.select(
      col("o_custkey").as("ck"),
      col("o_orderkey").as("k2"),
      col("o_orderdate").as("d2"))
      .withColumn("bb", b30(col("d2")))
    a.join(b, Seq("ck", "bb"))
      .filter(
        col("k1") < col("k2") &&
        col("d2") >= col("d1") &&
        col("d2") <= col("d1") + expr("INTERVAL 30 DAYS"))
      .groupBy(col("ck").as("o_custkey"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("o_custkey")
  }

  /** Value-RANGE window frame: per customer, the exact rolling 15-day
    * order-value sum — the frame is bounded by the ORDER BY VALUE
    * (epoch-day), not row offsets, so same-day peers aggregate together.
    * Decimal-exact sum under the frame keeps the cross-engine compare
    * bit-stable.
    */
  def qRangeFrame(t: Tables): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("day")).rangeBetween(-15, 0)
    t.orders
      .withColumn("day",
        datediff(to_date(col("o_orderdate")), to_date(lit("1970-01-01"))).cast("long"))
      .withColumn("sum_15d",
        sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w).cast("double"))
      .select(col("o_custkey"), col("o_orderkey"), col("day"), col("sum_15d"))
      .orderBy("o_custkey", "day", "o_orderkey")
  }

  /** IGNORE NULLS window navigation: the last non-null value seen so far
    * per partition — the forward-fill primitive for sparse columns
    * (sensor/event streams where most rows carry no reading).
    */
  def qIgnoreNulls(t: Tables): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.orders
      .withColumn("sparse",
        when(col("o_orderpriority") === "3-MEDIUM", lit(null).cast("string"))
          .otherwise(col("o_orderpriority")))
      .withColumn("filled", last(col("sparse"), ignoreNulls = true).over(w))
      .select(col("o_custkey"), col("o_orderkey"), col("sparse"), col("filled"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Grouped-HAVING: regions×year revenue above a fixed floor. */
  def qGroupHaving(t: Tables): DataFrame =
    t.orders
      .groupBy(year(col("o_orderdate")).cast("long").as("yr"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("rev"))
      .filter(col("n") >= 10)
      .orderBy("yr", "o_orderstatus")

  /** SQL-frontend entry: TPC-H Q3-style shipping-priority query executed
    * through `spark.sql` over the registered views — demonstrates the
    * parse/analyze/optimize path with the same numeric-parity conventions
    * as the DataFrame queries.
    */
  def qSqlFrontend(t: Tables): DataFrame = {
    t.createViews()
    t.spark.sql(
      """SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue,
           date_format(o_orderdate, 'yyyy-MM-dd') AS o_date,
           o_orderpriority
         FROM customer
           JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON l_orderkey = o_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP_NTZ '1998-01-01 00:00:00'
           AND l_shipdate > TIMESTAMP_NTZ '1996-01-01 00:00:00'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, l_orderkey
         LIMIT 10""")
  }

  /** SQL LATERAL join through the frontend: per region, the top-3
    * customers by account balance via a correlated LATERAL subquery with
    * ORDER BY … LIMIT — the "top-n per group" idiom a reference user
    * writes as a correlated derived table. Catalyst decorrelates the
    * limit into a partitioned ranking window (no per-region re-scan, no
    * driver loop), so the plan is one join + one bounded window at any
    * scale; ties break on the customer name so the cut is deterministic
    * in any engine.
    */
  def qLateralTopn(t: Tables): DataFrame = {
    t.createViews()
    t.spark.sql(
      """SELECT r.r_name, top.c_name, top.c_acctbal
         FROM region r
         JOIN LATERAL (
           SELECT c.c_name, c.c_acctbal
           FROM customer c
             JOIN nation n ON c.c_nationkey = n.n_nationkey
           WHERE n.n_regionkey = r.r_regionkey
           ORDER BY c.c_acctbal DESC, c.c_name
           LIMIT 3
         ) AS top
         ORDER BY r.r_name, top.c_acctbal DESC, top.c_name""")
  }

  /** ETL pipeline shape on real data: dedup -> null-drop -> derived month ->
    * p90 high-value flag -> monthly aggregate (the reference's sales
    * pipeline re-expressed over `orders`; reference etl_pipeline.py:181-199).
    */
  def etlSalesPipeline(t: Tables): DataFrame = {
    val cleaned = t.orders
      .dropDuplicates()
      .na.drop("any")
    val q = cleaned.agg(expr("percentile(o_totalprice, 0.9D)").as("__q"))
    cleaned
      .crossJoin(broadcast(q))
      .withColumn("month", date_format(col("o_orderdate"), "yyyy-MM"))
      .withColumn("high_value", col("o_totalprice") > col("__q"))
      .groupBy("month")
      .agg(
        count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("sum_price"),
        count(when(col("high_value"), 1)).as("n_high"))
      .orderBy("month")
  }

  /** The reference's pd.cut binning semantics on real data: left-open
    * right-closed bins over customer account balance scaled to [0,1]-like
    * bands; out-of-range -> 'NA' (reference etl_pipeline.py:204-206).
    */
  def etlChurnBinning(t: Tables): DataFrame =
    t.customer
      .withColumn("label",
        coalesce(cutBin(col("c_acctbal") / 10000.0), lit("NA")))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n"),
        dsum(col("c_acctbal")).as("sum_bal"))
      .orderBy("label")

  /** The reference's finance net-flow transform on events: credit=purchase
    * value, debit=error value, is_deficit flag cast to int like the load
    * coercion (reference etl_pipeline.py:210-215, 273-274).
    */
  def etlFinanceNetflow(t: Tables): DataFrame =
    t.events
      .groupBy("user_id")
      .agg(
        dsum(when(col("event_type") === "purchase", col("value"))).as("credit"),
        dsum(when(col("event_type") === "error", col("value"))).as("debit"))
      .na.fill(0.0, Seq("credit", "debit"))
      .withColumn("net_flow",
        (col("credit").cast(DecimalType(18, 2)) - col("debit").cast(DecimalType(18, 2)))
          .cast("double"))
      .withColumn("is_deficit", (col("net_flow") < 0).cast("long"))
      .orderBy("user_id")
}
