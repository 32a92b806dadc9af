package graft.ops

import graft.Engine.LoopCheckpointOps
import graft.Tables
import graft.transform.Transforms.dsum

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Analytics operators added in round 4: reshaping (unpivot), time-series
  * gap filling, ratio-to-report windows, year-over-year growth, column
  * profiling, and a bloom-prefiltered join. Same conventions as
  * [[Relational]]: every query has a DuckDB oracle, decimal-exact sums,
  * total output ordering.
  */
object Analytics {

  /** Wide-to-long reshape (melt): the four lineitem measures become
    * (measure, val) rows. Map-only — Spark's Expand node emits 4 rows per
    * input row with no shuffle; at 100 TB this is a streaming projection.
    */
  def qUnpivotMeasures(t: Tables): DataFrame =
    t.lineitem
      .filter(pmod(col("l_orderkey"), lit(500)) === 0)
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        "measure", "val")
      .orderBy("l_orderkey", "l_linenumber", "measure")

  /** Year-over-year revenue growth per customer nation: yearly decimal-exact
    * revenue, then lag + ratio. Nation (25 rows) broadcasts; customer SCALES
    * WITH THE DATA, so it is NOT hinted — orders⋈customer shuffles on the
    * custkey (or AQE broadcasts it while it still fits); then one shuffle on
    * the (year, nation) group key; the window partitions by nation (25 rows
    * per partition — trivial at any scale because the grouped frame is
    * tiny).
    */
  def qYoyGrowth(t: Tables): DataFrame = {
    val w = Window.partitionBy("n_name").orderBy("yr")
    t.orders
      .join(t.customer.select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("yr"), col("n_name"))
      .agg(dsum(col("o_totalprice")).as("rev"))
      .withColumn("prev_rev", lag("rev", 1).over(w))
      .withColumn("growth", (col("rev") - col("prev_rev")) / col("prev_rev"))
      .orderBy("n_name", "yr")
  }

  /** Ratio-to-report + cumulative distribution windows: each order's share
    * of its customer's total spend, and its cume_dist within the customer
    * by price. Windows run over the full partition; the output is then
    * decimated so the graded frame stays small. One shuffle on o_custkey.
    */
  def qWindowShares(t: Tables): DataFrame = {
    val byCust = Window.partitionBy("o_custkey")
    val ordered = byCust.orderBy(col("o_totalprice"), col("o_orderkey"))
    t.orders
      .withColumn("cust_total",
        sum(col("o_totalprice").cast(DecimalType(18, 2))).over(byCust)
          .cast("double"))
      .withColumn("share", col("o_totalprice") / col("cust_total"))
      .withColumn("cd", cume_dist().over(ordered))
      .filter(pmod(col("o_orderkey"), lit(100)) === 0)
      .select("o_custkey", "o_orderkey", "o_totalprice", "cust_total",
        "share", "cd")
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Column-level data profiling of the orders table: null count, distinct
    * count, numeric min/max per column, long-form. ONE scan — all per-column
    * aggregates run in a single aggregation (count-distincts expand the
    * input k ways map-side, the standard Spark multi-distinct plan), then
    * the single result row is exploded into one row per column.
    */
  def qProfileColumns(t: Tables): DataFrame = {
    val cols = Seq("o_orderkey", "o_custkey", "o_totalprice",
      "o_orderstatus", "o_orderpriority")
    val numeric = Set("o_orderkey", "o_custkey", "o_totalprice")
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"cnt_$c"), countDistinct(col(c)).as(s"nd_$c")) ++
        (if (numeric(c))
          Seq(min(col(c)).cast("double").as(s"mn_$c"),
            max(col(c)).cast("double").as(s"mx_$c"))
        else Nil)
    }
    val one = t.orders.agg(count(lit(1)).as("n_rows"), aggs: _*)
    val rows = cols.map { c =>
      struct(
        lit(c).as("col_name"),
        col("n_rows"),
        (col("n_rows") - col(s"cnt_$c")).as("n_nulls"),
        col(s"nd_$c").as("n_distinct"),
        (if (numeric(c)) col(s"mn_$c") else lit(null).cast("double"))
          .as("min_num"),
        (if (numeric(c)) col(s"mx_$c") else lit(null).cast("double"))
          .as("max_num"))
    }
    one.select(explode(array(rows: _*)).as("p")).select("p.*")
      .orderBy("col_name")
  }

  /** Time-series gap filling with linear interpolation: hourly mean value
    * per event type over a deterministic event subsample (1-in-7, so gaps
    * exist at every SF); missing hours get prev + (next-prev) * w from the
    * nearest present neighbors. The spine is generated from the global
    * min/max hour (one tiny aggregate), the grid joins against the hourly
    * aggregate, and the fill windows partition by type ordered by hour —
    * one shuffle of the GRID (bounded by timespan x types, not input rows),
    * which is what makes this shape safe at 100 TB.
    */
  def qGapFill(t: Tables): DataFrame = {
    val ev = t.events
      .filter(pmod(col("event_id"), lit(7)) === 0)
      .select(col("event_type"),
        expr("ts_ns div 3600000000000").as("hl"), col("value"))
    val hourly = ev.groupBy("event_type", "hl")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).as("sv"))
    val bounds = ev.agg(min("hl").as("lo"), max("hl").as("hi"))
    val types = ev.select("event_type").distinct()
    val spine = bounds
      .select(explode(sequence(col("lo"), col("hi"))).as("hl"))
      .crossJoin(broadcast(types))
    val byType = Window.partitionBy("event_type").orderBy("hl")
    val back = byType.rowsBetween(Window.unboundedPreceding, -1)
    val fwd = byType.rowsBetween(1, Window.unboundedFollowing)
    val grid = spine
      .join(hourly, Seq("event_type", "hl"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("v", when(col("n") > 0, col("sv").cast("double") / col("n")))
      .withColumn("ph", last(when(col("n") > 0, col("hl")), ignoreNulls = true).over(back))
      .withColumn("pv", last(when(col("n") > 0, col("v")), ignoreNulls = true).over(back))
      .withColumn("nh", first(when(col("n") > 0, col("hl")), ignoreNulls = true).over(fwd))
      .withColumn("nv", first(when(col("n") > 0, col("v")), ignoreNulls = true).over(fwd))
    grid
      .withColumn("value",
        when(col("n") > 0, col("v"))
          .when(col("ph").isNotNull && col("nh").isNotNull,
            col("pv") + (col("nv") - col("pv")) *
              ((col("hl") - col("ph")).cast("double") /
                (col("nh") - col("ph")).cast("double"))))
      .withColumn("filled",
        (col("n") === 0 && col("ph").isNotNull && col("nh").isNotNull)
          .cast("long"))
      .select(
        date_format(timestamp_seconds(col("hl") * 3600), "yyyy-MM-dd HH:mm:ss")
          .as("hour"),
        col("event_type"), col("n"), col("value"), col("filled"))
      .orderBy("hour", "event_type")
  }

  /** Bloom-prefiltered semi join: customers that placed a 1998 order. The
    * bloom filter built over the (filtered) orders side reaches the
    * customer scan as a scalar subquery — a single binary value computed
    * once and broadcast into the predicate (might_contain REQUIRES the
    * scalar-subquery form); the prefilter drops the bulk of non-matching
    * rows BEFORE the exact semi join removes the bloom's false positives,
    * so the output is exact. At 100 TB this is the manual form of runtime
    * row-level filtering: the big probe side is pre-pruned by a few KB of
    * bloom bits instead of shuffling everything into the join.
    */
  private val bloomPreSql =
    """SELECT c_custkey, c_name FROM customer
       WHERE might_contain(
         (SELECT bloom_filter_agg(xxhash64(o_custkey)) FROM orders
          WHERE year(o_orderdate) = 1998),
         xxhash64(c_custkey))"""

  def qBloomPrefilter(t: Tables): DataFrame = {
    t.createViews()
    t.spark.sql(
      s"""WITH pre AS ($bloomPreSql)
          SELECT pre.c_custkey, pre.c_name FROM pre
          WHERE EXISTS (SELECT 1 FROM orders o
            WHERE o.o_custkey = pre.c_custkey
              AND year(o.o_orderdate) = 1998)
          ORDER BY c_custkey""")
  }

  /** The bloom prefilter stage alone (false positives included) — exposed
    * so tests can assert the filter actually prunes.
    */
  def bloomPrefilterOnly(t: Tables): DataFrame = {
    t.createViews()
    t.spark.sql(bloomPreSql)
  }

  /** SCD type-2 interval construction: an event stream (orders per
    * customer) becomes non-overlapping validity intervals — valid_from =
    * the event time, valid_to = the next event's time, the latest row
    * open-ended and flagged current. The lead window partitions by the
    * entity key, so interval building parallelizes per entity; this is the
    * standard change-capture -> dimension-history shape. Output decimated
    * to sampled customers AFTER the windows (they need full history).
    */
  def qScd2Intervals(t: Tables): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t.orders
      .withColumn("next_date", lead(col("o_orderdate"), 1).over(w))
      .filter(pmod(col("o_custkey"), lit(50)) === 0)
      .select(
        col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("valid_from"),
        date_format(col("next_date"), "yyyy-MM-dd").as("valid_to"),
        col("next_date").isNull.cast("long").as("is_current"))
      .orderBy("o_custkey", "valid_from", "o_orderkey")
  }

  /** Join-key skew diagnostics: per candidate key, the frequency profile a
    * planner (or an engineer sizing a 100 TB join) needs — key count,
    * max/percentile frequencies, and the hottest key's share of all rows.
    * One aggregate per key builds the frequency table; the stats reduce to
    * a single row per key column. This is the measurement side of the
    * `ops.Skew` mitigation: keys whose top_share explodes are the ones
    * that need salting or AQE skew-splitting.
    */
  def qKeySkew(t: Tables): DataFrame = {
    def profile(keyCol: String): DataFrame =
      t.lineitem.groupBy(keyCol).agg(count(lit(1)).as("freq"))
        .agg(
          count(lit(1)).as("n_keys"),
          sum("freq").as("n_rows"),
          max("freq").as("max_freq"),
          expr("percentile(freq, 0.5)").as("p50_freq"),
          expr("percentile(freq, 0.99)").as("p99_freq"))
        .select(
          lit(keyCol).as("key_col"), col("n_keys"), col("n_rows"),
          col("max_freq"), col("p50_freq"), col("p99_freq"),
          (col("max_freq").cast("double") / col("n_rows")).as("top_share"))
    profile("l_partkey").unionAll(profile("l_suppkey"))
      .orderBy("key_col")
  }

  /** Sliding-frame moving average (last 5 orders per customer): the ROWS
    * frame pairs a decimal-exact frame sum with the frame count, so the
    * average is engine-exact. One shuffle on the customer key; output
    * decimated after the window.
    */
  def qMovingAvg(t: Tables): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-4, Window.currentRow)
    t.orders
      .withColumn("ma5",
        sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
          .cast("double") / count(lit(1)).over(w))
      .filter(pmod(col("o_orderkey"), lit(100)) === 0)
      .select("o_custkey", "o_orderkey", "o_totalprice", "ma5")
      .orderBy("o_custkey", "o_orderkey")
  }

  /** RFM (recency / frequency / monetary) customer segmentation, the
    * classic marketing cut. Per-customer metrics are one aggregate of
    * orders; quartile boundaries come from exact interpolated percentiles
    * over the customer frame (ONE tiny 3x3 cut matrix through the driver),
    * and scores are then a pure map (1 + how many cuts the value exceeds) —
    * no global ntile window, whose single-partition total sort would be the
    * scale-killer at 15B customers. Scores ascend with the raw value
    * (r_score 1 = most recent, f/m_score 4 = most frequent / biggest
    * spender). Output is the 4x4x4 segment census.
    */
  def qRfmSegments(t: Tables): DataFrame = {
    val cust = t.orders
      .groupBy(col("o_custkey").as("custkey"))
      .agg(
        max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("freq"),
        dsum(col("o_totalprice")).as("monetary"))
      .crossJoin(broadcast(t.orders.agg(max(col("o_orderdate")).as("mxd"))))
      .withColumn("recency", datediff(col("mxd"), col("last_order")).cast("long"))
    val cuts = cust.agg(
      expr("percentile(recency, array(0.25, 0.5, 0.75))").as("rc"),
      expr("percentile(freq, array(0.25, 0.5, 0.75))").as("fc"),
      expr("percentile(monetary, array(0.25, 0.5, 0.75))").as("mc"))
    def score(v: Column, c: Column): Column =
      (lit(1) + (v > c.getItem(0)).cast("int") + (v > c.getItem(1)).cast("int")
        + (v > c.getItem(2)).cast("int")).cast("long")
    cust.crossJoin(broadcast(cuts))
      .select(
        score(col("recency").cast("double"), col("rc")).as("r_score"),
        score(col("freq").cast("double"), col("fc")).as("f_score"),
        score(col("monetary"), col("mc")).as("m_score"),
        col("monetary"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_customers"), dsum(col("monetary")).as("seg_monetary"))
      .orderBy("r_score", "f_score", "m_score")
  }

  /** Inter-purchase interval distribution: consecutive-order gaps per
    * customer (lag window partitioned by custkey — co-partitioned with the
    * data, no global sort), bucketed into 30-day bins. The average is an
    * exact-integer-sum / count ratio, so the double division is
    * engine-exact.
    */
  def qOrderGaps(t: Tables): DataFrame = {
    val byCust = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t.orders
      .withColumn("prev", lag("o_orderdate", 1).over(byCust))
      .filter(col("prev").isNotNull)
      .withColumn("gap", datediff(col("o_orderdate"), col("prev")).cast("long"))
      .groupBy(expr("gap div 30").as("bucket"))
      .agg(
        count(lit(1)).as("n_gaps"),
        min("gap").as("min_days"),
        max("gap").as("max_days"),
        sum("gap").as("sum_days"))
      .withColumn("avg_days", col("sum_days").cast("double") / col("n_gaps"))
      .orderBy("bucket")
  }

  /** Market-basket pair co-occurrence: parts ordered together, ranked by
    * the number of shared orders. The self-join is on the order key — a
    * co-partitioned equi-join whose per-order pair fan-out is bounded by
    * the basket size squared (TPC-H baskets are ≤7 lines → ≤21 pairs), so
    * the expansion is a constant factor of the input, not quadratic in the
    * corpus. Top-k by sort+limit = TakeOrderedAndProject (partial top-k per
    * partition, k rows to the driver; no global sort).
    */
  def qBasketPairs(t: Tables, k: Int = 20): DataFrame =
    // the pair fact IS the session's shared co-purchase index (shared =
    // co-order count): probe the checkpointed rows instead of re-running
    // the basket self-join per query
    Graph.sharedCoPurchase(t)
      .filter(col("src") < col("dst"))
      .select(col("src").as("p1"), col("dst").as("p2"),
        col("shared").as("n_orders"))
      .orderBy(col("n_orders").desc, col("p1"), col("p2"))
      .limit(k)

  /** Item-item collaborative filtering: top-5 most-similar parts per part
    * by co-purchase cosine, cos(i,j) = c_ij / sqrt(c_i * c_j) over order
    * co-occurrence counts. Counts are exact integers, the similarity is a
    * single correctly-rounded sqrt + divide — bit-identical across engines
    * with no rounding step. Ranking via the native bounded_topk partial
    * aggregate: 5 rows per (item, map task) cross the exchange, not every
    * candidate pair — the recommender-precompute shape that survives a
    * catalog 1000x this size (pair cardinality is bounded by co-occurrence,
    * not |items|²).
    */
  def qItemCf(t: Tables, k: Int = 5): DataFrame = {
    val items = t.lineitem
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("pk"))
      .distinct()
    // checkpoint the part-dimension frequency frame: the p1 and p2 joins
    // below each instantiated the full lineitem distinct+aggregate chain
    // before round 10 (two fact passes for one dimension table) — now the
    // fact collapses once and both sides read the materialized rows
    // (guide §3.3)
    val freq = graft.Engine.loopCheckpoint(
      items.groupBy("pk").agg(count(lit(1)).as("ci")))
    // co-occurrence counts come from the session's shared co-purchase
    // index (both directions present, shared = co-order count) — no
    // second basket self-join
    val pairs = Graph.sharedCoPurchase(t)
      .select(col("src").as("p1"), col("dst").as("p2"),
        col("shared").as("cij"))
    // explicit broadcast: the checkpointed frame has no stats, and the
    // item-frequency dimension is orders of magnitude smaller than the
    // pair fact it decorates (guide §3.1 — broadcast the side you KNOW
    // is small; the pair fact then never shuffles here)
    pairs
      .join(broadcast(freq.select(col("pk").as("p1"), col("ci").as("c1"))),
        "p1")
      .join(broadcast(freq.select(col("pk").as("p2"), col("ci").as("c2"))),
        "p2")
      .withColumn("sim", col("cij").cast("double") /
        sqrt((col("c1") * col("c2")).cast("double")))
      .groupBy("p1")
      .agg(call_function("bounded_topk",
        struct(col("sim"), col("p2")), lit(k), lit(true)).as("top"))
      .select(col("p1"), posexplode(col("top")).as(Seq("i", "item")))
      .select(col("p1"), col("item.id").as("p2"),
        col("item.score").as("sim"), (col("i") + 1).cast("long").as("rnk"))
      .orderBy("p1", "rnk")
  }

  /** Top-3 suppliers per nation by exact revenue, ranked with the native
    * [[graft.functions.BoundedTopK]] partial aggregate: k rows per map task
    * cross the per-nation exchange instead of every supplier row through a
    * ranking window — the same plan shape the ANN rankings use, applied to
    * a relational top-k. Revenue is decimal-exact before the double cast;
    * ties break to the lower suppkey on both engines.
    */
  def qTopkSuppliers(t: Tables, k: Int = 3): DataFrame = {
    val rev = t.lineitem
      .groupBy(col("l_suppkey"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast(DecimalType(24, 6))).cast("double").as("revenue"))
    // supplier scales with the data — no broadcast hint; both sides of the
    // suppkey join are supplier-cardinality, so a co-partitioned shuffle
    // join (or AQE broadcast while it fits) is the scale-correct shape
    rev
      .join(t.supplier.select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(call_function("bounded_topk",
        struct(col("revenue"), col("l_suppkey")), lit(k), lit(true)).as("top"))
      .select(col("n_name"), posexplode(col("top")).as(Seq("i", "item")))
      .select(
        col("n_name"),
        col("item.id").as("suppkey"),
        col("item.score").as("revenue"),
        (col("i") + 1).cast("long").as("rnk"))
      .orderBy("n_name", "rnk")
  }

  /** TPC-H Q5 (local supplier volume) through the SQL frontend: six-table
    * join where the customer and supplier must share a nation, executed
    * from SQL text over the registered views — exercises parse/analyze/
    * optimize on a plan with both broadcast dims and a fact-fact shuffle.
    */
  def qSqlQ5(t: Tables): DataFrame = {
    t.createViews()
    t.spark.sql(
      """SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
         FROM customer
           JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON l_orderkey = o_orderkey
           JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         GROUP BY n_name
         ORDER BY n_name""")
  }

  /** ntile(4) feature binning: customers bucketed into spend quartiles,
    * one summary row per quartile. The tile assignment needs a GLOBAL sort
    * (every quantile cut does) — fine here because it runs over the
    * per-customer AGGREGATE, one row per customer, not raw orders; at the
    * scale where even that frame is too big for a single sort, the cut
    * points come from approx_percentile instead (see qApproxQuantile).
    * Total ordering (spend, custkey) makes tile membership deterministic
    * under ties.
    */
  def qNtileBins(t: Tables): DataFrame = {
    // ntile(4) without the single-partition window (guide §2.4/§5): the
    // global rank + total count come from the two-pass range-partitioned
    // prefix ([[Prefix.running]]); the tile is then ntile's documented
    // bucket arithmetic (first n%4 buckets hold n/4+1 rows) — identical
    // values, no `WindowExec: No Partition Defined` over the customer
    // frame
    val per = t.orders
      .groupBy("o_custkey")
      .agg(dsum(col("o_totalprice")).as("spend"))
    Prefix.running(per, Seq(col("spend"), col("o_custkey")), Nil,
        rowNumber = Some("i"), totalCount = Some("n"))
      .withColumn("tile",
        expr("""CAST(CASE
          WHEN i <= (n % 4) * (n div 4 + 1)
            THEN (i - 1) div (n div 4 + 1) + 1
          ELSE (n % 4) + (i - 1 - (n % 4) * (n div 4 + 1)) div (n div 4) + 1
          END AS BIGINT)"""))
      .groupBy("tile")
      .agg(
        count(lit(1)).as("n_customers"),
        min("spend").as("spend_min"),
        max("spend").as("spend_max"))
      .orderBy("tile")
  }

  /** Exponential moving average (pandas ewm(alpha, adjust=false)
    * semantics: y_0 = x_0, y_i = (1-a) y_{i-1} + a x_i) of the daily mean
    * order price over 1995 Q1 — expressed CLOSED-FORM over window prefix
    * sums instead of a sequential recurrence: with u_j = x_j (1-a)^{-j},
    * y_i = (1-a)^i (x_0 + a (cumsum(u)_i - u_0)). One sort-window pass, no
    * iterative loop, no driver round-trips. The (1-a)^{-j} terms grow
    * geometrically, which bounds the usable window length in doubles
    * (90 points at a=0.2 peaks at 1.25^89 ~ 4e8 — comfortably exact);
    * longer horizons chunk the series and chain chunk boundaries.
    * Rounded at 1e-6 — far above the ulp-order jitter of cross-engine
    * float-sum association, far below any data-meaningful digit.
    */
  def qEwma(t: Tables, alpha: Double = 0.2): DataFrame = {
    val w = Window.orderBy("d")
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.orders
      .filter(col("o_orderdate").between("1995-01-01", "1995-03-31"))
      .groupBy(col("o_orderdate").as("d"))
      .agg(graft.transform.Transforms.davg(col("o_totalprice")).as("x"))
      .withColumn("i", (row_number().over(w) - 1).cast("double"))
      .withColumn("u", col("x") * pow(lit(1.0 / (1.0 - alpha)), col("i")))
      .withColumn("cum", sum("u").over(cum))
      .withColumn("x0", first("x").over(cum))
      .withColumn("ewma",
        round(
          pow(lit(1.0 - alpha), col("i")) *
            (col("x0") + lit(alpha) * (col("cum") - col("x0"))),
          6))
      .select(
        date_format(col("d"), "yyyy-MM-dd").as("d"), col("x"), col("ewma"))
      .orderBy("d")
  }

  /** Per-segment OLS trend of monthly revenue vs month index — the
    * closed-form regression recipe over EXACT moments: the inner aggregate
    * produces decimal-exact (x, rev) points, the outer one decimal/bigint
    * sums (n, Σx, Σx², Σy, Σxy), and only the final slope/intercept
    * arithmetic runs in doubles, in a fixed expression order both engines
    * share. Two shuffles total (custkey join + month group), then a
    * 5-segment frame — nothing here grows with data volume except the two
    * aggregations, both map-side-combined.
    */
  def qRegressionTrend(t: Tables): DataFrame = {
    val monthly = t.orders
      .join(t.customer.select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"),
        ((year(col("o_orderdate")) - 1992) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("x"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
    monthly
      .groupBy("segment")
      .agg(
        count(lit(1)).as("n_months"),
        sum("x").as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("rev")).cast("double").as("sy"),
        sum(col("x").cast(DecimalType(18, 2)) * col("rev")).cast("double")
          .as("sxy"))
      .withColumn("nd", col("n_months").cast("double"))
      .withColumn("sxd", col("sx").cast("double"))
      .withColumn("slope",
        (col("nd") * col("sxy") - col("sxd") * col("sy")) /
          (col("nd") * col("sxx").cast("double") - col("sxd") * col("sxd")))
      .withColumn("intercept",
        (col("sy") - col("slope") * col("sxd")) / col("nd"))
      .select(col("segment"), col("n_months"), col("slope"), col("intercept"))
      .orderBy("segment")
  }

  /** Benford first-digit audit of order prices: observed leading-digit
    * frequency vs the Benford expectation log10(1+1/d). The leading digit
    * comes from the DECIMAL string rendering, not floor(log10(x)) — float
    * log at exact powers of ten is engine-dependent, string heads are not.
    * Map-side: one 9-row aggregate; the window total is over 9 rows.
    */
  def qBenford(t: Tables): DataFrame = {
    val w = Window.partitionBy()
    t.orders
      .select(
        substring(col("o_totalprice").cast(DecimalType(18, 2)).cast("string"),
          1, 1).as("digit"))
      .groupBy("digit")
      .agg(count(lit(1)).as("n"))
      .withColumn("freq",
        col("n").cast("double") / sum("n").over(w).cast("double"))
      .withColumn("expected",
        round(log10(lit(1.0) + lit(1.0) / col("digit").cast("double")), 6))
      .select(col("digit"), col("n"), col("freq"), col("expected"))
      .orderBy("digit")
  }

  /** Decile lift / Lorenz table: customers ranked into spend deciles (top
    * spenders = decile 1), each decile's revenue share and the cumulative
    * share — the concentration curve behind "top 10% of customers drive X%
    * of revenue". The tile cut runs over the per-customer AGGREGATE (one
    * row per customer, same posture as [[qNtileBins]]); shares divide
    * exact decimal sums, so both engines agree bit-for-bit.
    */
  def qDecileLift(t: Tables): DataFrame = {
    // decile cut via the two-pass prefix rank (guide §2.4/§5) — the
    // customer frame never collapses to one partition; the 10-row decile
    // rollup keeps its tiny windows
    val cum = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy()
    val per = t.orders
      .groupBy("o_custkey")
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("spend"))
    Prefix.running(per, Seq(col("spend").desc, col("o_custkey")), Nil,
        rowNumber = Some("i"), totalCount = Some("n"))
      .withColumn("decile",
        expr("""CAST(CASE
          WHEN i <= (n % 10) * (n div 10 + 1)
            THEN (i - 1) div (n div 10 + 1) + 1
          ELSE (n % 10) + (i - 1 - (n % 10) * (n div 10 + 1)) div (n div 10) + 1
          END AS BIGINT)"""))
      .groupBy("decile")
      .agg(
        count(lit(1)).as("n_customers"),
        sum("spend").as("decile_rev"))
      .withColumn("share",
        col("decile_rev").cast("double") /
          sum("decile_rev").over(tot).cast("double"))
      .withColumn("cum_share",
        sum("decile_rev").over(cum).cast("double") /
          sum("decile_rev").over(tot).cast("double"))
      .select(col("decile"), col("n_customers"),
        col("decile_rev").cast("double").as("decile_rev"),
        col("share"), col("cum_share"))
      .orderBy("decile")
  }

  /** Weighted median unit price per return flag, weighted by quantity —
    * TWO-PHASE exact selection, the distributed form of the cumulative
    * walk: phase 1 aggregates weights into $1000 price buckets (a
    * configuration-sized frame) and finds each group's target bucket by
    * cumulative bucket weight; phase 2 re-scans only the rows of that one
    * bucket (the price predicate pushes to the scan) and finishes the walk
    * within it, offset by the weight before the bucket. The selected price
    * is IDENTICAL to a full sorted walk — min price p with
    * 2*cumweight(<=p) >= total — but no fact-sized frame is ever sorted:
    * the naive distinct-price window sorted the whole price domain in 3
    * partitions (parallelism collapses to the group count) and
    * benchmarked ~40% slower warm; at 100 TB that shape is a stuck
    * single-task sort while this one's heavy stages stay fully parallel.
    * All comparisons are exact decimals; `2*cumw >= tot` avoids division
    * entirely.
    */
  def qWeightedMedian(t: Tables): DataFrame = {
    val li = t.lineitem.select(
      col("l_returnflag"),
      col("l_extendedprice").cast(DecimalType(18, 2)).as("price"),
      col("l_quantity").cast(DecimalType(18, 2)).as("qty"))
      // $1000 buckets via exact integer math on cents
      .withColumn("b", expr("cast(price * 100 as bigint) div 100000"))
    val wb = Window.partitionBy("l_returnflag").orderBy("b")
    val cum = li
      .groupBy("l_returnflag", "b")
      .agg(sum(col("qty")).as("bw"))
      .withColumn("cumb",
        sum("bw").over(wb.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .withColumn("tot", sum("bw").over(Window.partitionBy("l_returnflag")))
    val tgt = cum
      .filter(col("cumb") * 2 >= col("tot"))
      .withColumn("rk", row_number().over(wb))
      .filter(col("rk") === 1)
      .select(col("l_returnflag"), col("b").as("tb"),
        (col("cumb") - col("bw")).as("cum_before"), col("tot"))
    val inBucket = Window.partitionBy("l_returnflag").orderBy("price")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    li.join(broadcast(tgt), Seq("l_returnflag"))
      .filter(col("b") === col("tb"))
      .groupBy("l_returnflag", "price", "cum_before", "tot")
      .agg(sum(col("qty")).as("wt"))
      .withColumn("cumw", col("cum_before") + sum("wt").over(inBucket))
      .filter(col("cumw") * 2 >= col("tot"))
      .groupBy("l_returnflag")
      .agg(min("price").cast("double").as("weighted_median_price"))
      .orderBy("l_returnflag")
  }

  /** Time-weighted average event value per user (TWAP): each value is held
    * until the user's next event; the average weights values by their
    * exact microsecond holding time. The weighted sum is DECIMAL x BIGINT
    * (exact); only the final normalization divides in doubles. One window
    * pass per user — the same single-shuffle posture as every
    * per-user-timeline operator here.
    */
  def qTimeWeightedAvg(t: Tables): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    t.events
      .select(col("user_id"), col("event_id"), col("value"),
        expr("ts_ns div 1000").as("ts_us"))
      .withColumn("next_us", lead("ts_us", 1).over(byUser))
      .filter(col("next_us").isNotNull)
      .withColumn("gap_us", col("next_us") - col("ts_us"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_holds"),
        sum(col("gap_us")).as("span_us"),
        // both factors get EXPLICIT decimal types chosen so the product is
        // exact in BOTH engines: DECIMAL(20,6) x DECIMAL(14,0) is
        // DECIMAL(35,6) in Spark (under the 38 cap — a bare LONG factor
        // would widen to DECIMAL(20,0) and trigger scale-shaving at 39)
        // and int128 math in DuckDB (an operand must exceed precision 18,
        // or its int64 product path overflows on large gaps)
        sum(col("value").cast(DecimalType(20, 6)) *
          col("gap_us").cast(DecimalType(14, 0)))
          .cast("double").as("wsum"))
      // rounded at 1e-6: the scaled weighted sum exceeds 2^53, where
      // DuckDB's two-step decimal->double cast (int128 to double, then
      // divide by 10^scale) can land one ulp off Spark's single correctly
      // rounded conversion
      .withColumn("twap",
        round(col("wsum") / col("span_us").cast("double"), 6))
      .select(col("user_id"), col("n_holds"), col("span_us"), col("twap"))
      .orderBy("user_id")
  }

  /** CUSUM changepoint scan: hourly event counts per type, cumulative
    * deviation from the type's mean rate, reporting each type's maximal
    * |CUSUM| hour (where the arrival-rate regime shifts). Exactness trick:
    * cusum_k = S_k - k*mean with S_k the exact integer prefix count —
    * ONE double expression over exact integers instead of a sequential
    * float fold, so engines agree without rounding games. The hourly
    * aggregate is the only full shuffle; per-type series are tiny.
    */
  def qCusum(t: Tables): DataFrame = {
    val byType = Window.partitionBy("event_type").orderBy("hr")
    val cum = byType.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pick = Window.partitionBy("event_type")
      .orderBy(abs(col("cusum")).desc, col("hr"))
    t.events
      .groupBy(col("event_type"),
        expr("ts_ns div 3600000000000").as("hr"))
      .agg(count(lit(1)).as("c"))
      .withColumn("k", row_number().over(byType).cast("long"))
      .withColumn("s", sum("c").over(cum))
      .withColumn("n_hours", count(lit(1)).over(Window.partitionBy("event_type")))
      .withColumn("total", sum("c").over(Window.partitionBy("event_type")))
      .withColumn("mean",
        col("total").cast("double") / col("n_hours").cast("double"))
      .withColumn("cusum",
        col("s").cast("double") - col("k").cast("double") * col("mean"))
      .withColumn("rk", row_number().over(pick))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("hr"), col("c"),
        round(col("cusum"), 6).as("cusum"))
      .orderBy("event_type")
  }

  /** TPC-H Q6 (forecast revenue change) through the SQL frontend — the
    * canonical scan-side filter query: every predicate lands in
    * PushedFilters on the parquet scan, the aggregate is one exact decimal
    * sum, no joins, no shuffle beyond the final single-row combine.
    */
  def qSqlQ6(t: Tables): DataFrame = {
    t.createViews()
    t.spark.sql(
      """SELECT
           CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(24,6)))
             AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
           AND l_discount BETWEEN 0.05 AND 0.07
           AND l_quantity < 24""")
  }

  /** Gini coefficient of customer spend — the single-number form of
    * [[qDecileLift]]'s concentration curve, from the rank identity
    * G = 2*Σ(i*x_i) / (n*Σx) - (n+1)/n over spends ranked ascending.
    * Σ(i*x_i) is DECIMAL x rank (exact, inside precision 38); the rank
    * runs over the per-customer aggregate like every global-order op
    * here. Ties rank deterministically (spend, custkey).
    */
  def qGini(t: Tables): DataFrame = {
    // rank via the two-pass prefix (guide §2.4/§5) — no single-partition
    // window over the customer frame; same (spend, custkey) total order,
    // identical ranks
    val per = t.orders
      .groupBy("o_custkey")
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("spend"))
    Prefix.running(per, Seq(col("spend"), col("o_custkey")), Nil,
        rowNumber = Some("i"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(col("spend")).as("sx"),
        // narrow both factors (lifetime spend < 1e12, rank < 1e10) so the
        // product stays inside precision 38 in Spark AND DuckDB's int128
        sum(col("spend").cast(DecimalType(14, 2)) *
          col("i").cast(DecimalType(10, 0))).as("six"))
      .select(
        col("n_customers"),
        col("sx").cast("double").as("total_spend"),
        round(
          lit(2.0) * col("six").cast("double") /
            (col("n_customers").cast("double") * col("sx").cast("double")) -
            (col("n_customers").cast("double") + 1.0) /
              col("n_customers").cast("double"), 9).as("gini"))
  }

  /** Lag-1 autocorrelation of the daily order count series — "does a busy
    * day predict a busy tomorrow" — over CONSECUTIVE calendar days only
    * (lead on a day index; gaps contribute no pair). All moments are
    * exact integer sums over the day-sized frame; the Pearson formula runs
    * once in doubles, rounded above FMA jitter. The daily aggregate is the
    * only fact-sized stage.
    */
  def qAutocorr(t: Tables): DataFrame = {
    val byDay = Window.orderBy("d")
    val daily = t.orders
      .groupBy(expr("datediff(o_orderdate, DATE '1992-01-01')").cast("long")
        .as("d"))
      .agg(count(lit(1)).as("c"))
      .withColumn("nd", lead("d", 1).over(byDay))
      .withColumn("nc", lead("c", 1).over(byDay))
      .filter(col("nd") === col("d") + 1)
    daily
      .agg(
        count(lit(1)).as("n_pairs"),
        sum("c").as("sx"), sum("nc").as("sy"),
        sum(col("c") * col("c")).as("sxx"),
        sum(col("nc") * col("nc")).as("syy"),
        sum(col("c") * col("nc")).as("sxy"))
      .select(
        col("n_pairs"),
        round(
          (col("n_pairs").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
            (sqrt(col("n_pairs").cast("double") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) *
             sqrt(col("n_pairs").cast("double") * col("syy").cast("double") -
              col("sy").cast("double") * col("sy").cast("double"))), 9)
          .as("autocorr_lag1"))
  }

  /** TPC-H Q18 (large-volume customers) through the SQL frontend: orders
    * whose total quantity clears a threshold, with their customers —
    * exercises the IN-subquery decorrelation path (Catalyst rewrites the
    * HAVING subquery into a join against the aggregated key set) plus a
    * bounded top-k output. The inner aggregate is the only fact-sized
    * shuffle; the qualifying key set is tiny and AQE broadcasts it.
    */
  def qSqlQ18(t: Tables): DataFrame = {
    t.createViews()
    t.spark.sql(
      """SELECT c_custkey, c_name, o_orderkey,
           date_format(o_orderdate, 'yyyy-MM-dd') AS o_orderdate,
           o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
         FROM customer
           JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey IN (
           SELECT l_orderkey FROM lineitem
           GROUP BY l_orderkey
           HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250)
         GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
         ORDER BY o_totalprice DESC, o_orderkey
         LIMIT 50""")
  }

  /** TPC-H Q10 (returned-item reporting) through the SQL frontend: top-20
    * customers by revenue lost to returns in a quarter. Catalyst broadcasts
    * nation, shuffles the two fact joins on their keys, and the top-20
    * lands in a TakeOrderedAndProject (k rows per partition cross the
    * exchange, never the full aggregate).
    */
  def qSqlQ10(t: Tables): DataFrame = {
    t.createViews()
    t.spark.sql(
      """SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6)))
             AS DOUBLE) AS revenue,
           c_acctbal, n_name
         FROM customer
           JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON l_orderkey = o_orderkey
           JOIN nation ON c_nationkey = n_nationkey
         WHERE o_orderdate >= TIMESTAMP '1995-10-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
           AND l_returnflag = 'R'
         GROUP BY c_custkey, c_name, c_acctbal, n_name
         ORDER BY revenue DESC, c_custkey
         LIMIT 20""")
  }

  /** TPC-H Q14 (promotion effect), adapted to the testdata's part types:
    * monthly share of revenue from PROMO parts across 1995. Exercises the
    * CASE-inside-aggregate ratio through the SQL frontend; both the
    * conditional and total sums are exact decimals, the share is one
    * double division. Plan: the shipdate range pushes into the lineitem
    * scan, part broadcasts.
    */
  def qSqlQ14(t: Tables): DataFrame = {
    t.createViews()
    t.spark.sql(
      """SELECT date_format(l_shipdate, 'yyyy-MM') AS ship_month,
           CAST(SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6))
                 ELSE CAST(0 AS DECIMAL(24,6)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(24,6))) AS DOUBLE) AS promo_share,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
               AS DECIMAL(24,6))) AS DOUBLE) AS total_revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
         GROUP BY date_format(l_shipdate, 'yyyy-MM')
         ORDER BY ship_month""")
  }

  /** TPC-H Q19 (discounted revenue), adapted: a three-way DISJUNCTIVE
    * join predicate over (brand, size, quantity) bands — the shape that
    * stresses predicate normalization. Catalyst extracts the common
    * `p_partkey = l_partkey` conjunct so the join stays an equi-join
    * (broadcast hash here) with the OR-of-ANDs evaluated as a post-join
    * filter, and pushes the disjunction's per-table prefilters
    * (brand IN ..., quantity range) into both scans.
    */
  def qSqlQ19(t: Tables): DataFrame = {
    t.createViews()
    t.spark.sql(
      """SELECT
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
               AS DECIMAL(24,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 1 AND 20)
            OR (p_brand = 'Brand#7' AND p_size BETWEEN 5 AND 25
                AND l_quantity BETWEEN 15 AND 35)
            OR (p_brand = 'Brand#21' AND p_size BETWEEN 10 AND 40
                AND l_quantity BETWEEN 30 AND 50)""")
  }

  /** TPC-H Q22 (global sales opportunity), adapted to the schema (nation
    * groups stand in for phone country codes; every synthetic customer has
    * SOME order, so the anti-join keys on recent orders instead): lapsed
    * customers in selected nation groups with above-average positive
    * account balance and no order since 2000. Exercises a scalar subquery
    * (decorrelated to one tiny aggregate) plus NOT EXISTS (anti-join)
    * through the SQL frontend. The average is an exact decimal sum /
    * count, so the threshold both engines compare against is identical.
    */
  def qSqlQ22(t: Tables): DataFrame = {
    t.createViews()
    t.spark.sql(
      """WITH pool AS (
           SELECT c_custkey, c_acctbal, c_nationkey % 5 AS ngroup
           FROM customer WHERE c_nationkey % 5 IN (0, 2, 4))
         SELECT ngroup,
           COUNT(*) AS n_custs,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
         FROM pool
         WHERE c_acctbal > (
             SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                      / COUNT(*)
             FROM pool WHERE c_acctbal > 0)
           AND NOT EXISTS (
             SELECT 1 FROM orders WHERE o_custkey = c_custkey
               AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
         GROUP BY ngroup
         ORDER BY ngroup""")
  }

  /** Gaps-and-islands: longest run of CONSECUTIVE calendar ship-days per
    * supplier. The classic grouping trick — day-number minus dense row
    * number is constant within a consecutive run — needs only two
    * supplier-keyed window passes over the DISTINCT (supplier, day) frame,
    * which one hash aggregate collapses from the fact table first (the
    * 100 TB posture: windows run on supplier×day cardinality, never on
    * line items).
    */
  def qShipStreaks(t: Tables): DataFrame = {
    val days = t.lineitem
      .select(col("l_suppkey"), to_date(col("l_shipdate")).as("day"))
      .distinct()
      .withColumn("dayno", datediff(col("day"), lit("1970-01-01")))
    val bySupp = Window.partitionBy("l_suppkey").orderBy("day")
    val runs = days
      .withColumn("grp", col("dayno") - row_number().over(bySupp))
      .groupBy("l_suppkey", "grp")
      .agg(count(lit(1)).as("run_len"))
    runs
      .groupBy("l_suppkey")
      .agg(
        max("run_len").as("longest_streak_days"),
        count(lit(1)).as("n_streaks"),
        sum(col("run_len")).cast("long").as("n_ship_days"))
      .orderBy("l_suppkey")
  }

  /** Herfindahl–Hirschman concentration of supplier revenue within each
    * region: HHI = 10000 * sum(share^2). Complements [[qGini]] (customer
    * spend inequality) with the antitrust-style market-power measure.
    * Shares are never materialized: sum(rev^2) and total are both exact
    * decimal aggregates over the per-(region, supplier) revenue frame,
    * and HHI is a fixed double op sequence on the two exact sums —
    * aggregation order cannot move the result.
    */
  def qHhiConcentration(t: Tables): DataFrame = {
    val rev = t.lineitem
      .join(t.supplier.select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("s_suppkey"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast(DecimalType(24, 6))).cast(DecimalType(18, 6)).as("rev"))
    rev
      .groupBy("r_name")
      .agg(
        count(lit(1)).as("n_suppliers"),
        sum(col("rev")).as("tot"),
        sum(col("rev") * col("rev")).as("sq"))
      .select(
        col("r_name"),
        col("n_suppliers"),
        col("tot").cast("double").as("total_revenue"),
        // rounded at 1e-9: sq's unscaled decimal exceeds 2^53, so the
        // decimal->double conversion itself differs by 1 ulp across
        // engines (correctly-rounded BigDecimal vs int128-then-scale)
        round(lit(10000.0) * col("sq").cast("double") /
          (col("tot").cast("double") * col("tot").cast("double")), 9)
          .as("hhi"))
      .orderBy("r_name")
  }

  /** Order-fulfillment latency: days from order placement to FIRST and
    * LAST line-item shipment, distributed as exact percentiles per order
    * priority — the accumulating-snapshot metric a fulfillment dashboard
    * tracks. The fact table collapses to one row per order (min/max
    * shipdate) in a single hash aggregate before the percentile pass;
    * latencies are exact integer day counts.
    */
  def qFulfillmentLatency(t: Tables): DataFrame = {
    val perOrder = t.lineitem
      .groupBy(col("l_orderkey"))
      .agg(
        min(to_date(col("l_shipdate"))).as("first_ship"),
        max(to_date(col("l_shipdate"))).as("last_ship"))
    t.orders
      .join(perOrder, col("o_orderkey") === col("l_orderkey"))
      .select(
        col("o_orderpriority").as("priority"),
        datediff(col("first_ship"), to_date(col("o_orderdate")))
          .cast("long").as("d_first"),
        datediff(col("last_ship"), to_date(col("o_orderdate")))
          .cast("long").as("d_last"))
      .groupBy("priority")
      .agg(
        count(lit(1)).as("n_orders"),
        percentile(col("d_first"), lit(0.5)).as("p50_first_ship_days"),
        percentile(col("d_first"), lit(0.95)).as("p95_first_ship_days"),
        percentile(col("d_last"), lit(0.95)).as("p95_last_ship_days"),
        max(col("d_last")).as("max_days"))
      .orderBy("priority")
  }

  /** Rolling 7-day median of daily revenue per region — the robust
    * smoother for noisy series (a rolling MEAN follows spikes; the median
    * ignores them). Exact `percentile` runs as a WINDOW aggregate over a
    * 7-row frame of the daily series; the daily series itself is an exact
    * decimal rollup of the fact table, so the window input — and the
    * interpolated median both engines compute from it — is identical.
    * Scale: the window runs on (region x day) cardinality, pre-aggregated
    * from the fact table in one hash aggregate.
    */
  def qRollingMedian(t: Tables): DataFrame = {
    val daily = t.orders
      .join(t.customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)))
        .cast("double").as("rev"))
    val w = Window.partitionBy("r_name").orderBy("day").rowsBetween(-6, 0)
    daily
      .withColumn("n_days", count(lit(1)).over(w))
      .withColumn("med7", percentile(col("rev"), lit(0.5)).over(w))
      .filter(col("n_days") === 7)
      .select(col("r_name"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("rev"), col("med7"))
      .orderBy("r_name", "day")
  }

  /** Association rules over order baskets: confidence and lift for the
    * top co-occurring part pairs — the step after [[qBasketPairs]]'s raw
    * co-occurrence counts that turns them into a recommendation signal.
    * Every measure is a fixed ratio of exact integer counts (pair count,
    * item counts, basket total), so nothing depends on aggregation order.
    * Scale: the pair join is the bounded basket self-join (baskets are
    * small); item counts and the basket total are broadcast back into the
    * pair frame.
    */
  def qAssocRules(t: Tables, k: Int = 20): DataFrame = {
    // the distinct basket-item frame feeds the item counts and the basket
    // total; checkpoint it once or the scan + distinct shuffle re-executes
    // per consumer. Pair support comes from the session's shared
    // co-purchase index (shared = co-order count) — the basket self-join
    // this query used to run is exactly that fact.
    val items = t.lineitem
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("pk"))
      .distinct()
      .loopCheckpoint()
    val itemN = items.groupBy("pk").agg(count(lit(1)).as("nItem"))
    val total = items.select(countDistinct(col("okey")).as("nBaskets"))
    val pairs = Graph.sharedCoPurchase(t)
      .filter(col("src") < col("dst"))
      .select(col("src").as("p1"), col("dst").as("p2"),
        col("shared").as("n_both"))
    val out = pairs
      .join(broadcast(itemN.toDF("p1", "n1")), "p1")
      .join(broadcast(itemN.toDF("p2", "n2")), "p2")
      .crossJoin(broadcast(total))
      .select(
        col("p1"), col("p2"), col("n_both"), col("n1"), col("n2"),
        (col("n_both").cast("double") / col("n1").cast("double"))
          .as("confidence"),
        ((col("nBaskets") * col("n_both")).cast("double") /
          (col("n1") * col("n2")).cast("double")).as("lift"))
      .orderBy(col("lift").desc, col("p1"), col("p2"))
      .limit(k)
      .loopCheckpoint()
    graft.Engine.freeCheckpoint(items)
    out
  }

  /** Incremental aggregate maintenance: a materialized monthly revenue
    * rollup is kept current by aggregating ONLY the delta batch and
    * merging it into the base aggregate (sum-of-sums / sum-of-counts) —
    * never rescanning history. The graded output is the merged rollup;
    * its oracle computes the same rollup directly over the full table, so
    * a hash match proves merge(base_agg, delta_agg) == full_agg exactly
    * (decimal partials make the merge associative). This is the 100 TB
    * refresh pattern: the reference's "<2 h refresh" claim is achievable
    * only by touching the delta, and at scale the base aggregate is
    * (months x statuses)-sized — metadata, not data.
    */
  def qIncrAgg(t: Tables): DataFrame = {
    val cutoff = lit("2001-01-01")
    def rollup(df: DataFrame): DataFrame = df
      .groupBy(
        date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        col("o_orderstatus").as("status"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
    val base = rollup(t.orders.filter(col("o_orderdate") < cutoff))
    val delta = rollup(t.orders.filter(col("o_orderdate") >= cutoff))
    base.unionByName(delta)
      .groupBy("month", "status")
      .agg(
        sum(col("n_orders")).cast("long").as("n_orders"),
        sum(col("rev")).cast("double").as("revenue"))
      .orderBy("month", "status")
  }

  /** CDC-style snapshot diff: given two keyed snapshots of the orders
    * table (OLD = pre-2000 orders; NEW = the same set with deterministic
    * simulated churn — every 101st key deleted, every 7th price uplifted
    * 10%, post-2000 orders appearing as inserts), classify every key as
    * added / removed / changed / unchanged and aggregate counts and the
    * exact net price delta per class. One full outer join on the key —
    * the canonical table-compare a warehouse reconciliation runs; at
    * scale both sides are bucketed/partitioned on the key so the join
    * co-locates.
    */
  def qSnapshotDiff(t: Tables): DataFrame = {
    // scale 4 everywhere: the 10% uplift lands on exactly 3 decimals, so
    // widening to 4 keeps every value EXACT — a cast back to scale 2 would
    // round ties (x.xx5), where Spark's HALF_UP and DuckDB's HALF_EVEN
    // decimal casts disagree
    val price4 = col("o_totalprice").cast(DecimalType(20, 4))
    val old = t.orders
      .filter(col("o_orderdate") < lit("2000-01-01"))
      .select(col("o_orderkey").as("k"), price4.as("v_old"))
    val nw = t.orders
      .filter(pmod(col("o_orderkey"), lit(101)) =!= 0)
      .select(col("o_orderkey").as("k"),
        when(pmod(col("o_orderkey"), lit(7)) === 0,
          (price4 * lit(1.1).cast(DecimalType(2, 1))).cast(DecimalType(20, 4)))
          .otherwise(price4).as("v_new"))
    old.join(nw, Seq("k"), "full_outer")
      .withColumn("change_type",
        when(col("v_old").isNull, lit("added"))
          .when(col("v_new").isNull, lit("removed"))
          .when(col("v_old") =!= col("v_new"), lit("changed"))
          .otherwise(lit("unchanged")))
      .groupBy("change_type")
      .agg(
        count(lit(1)).as("n_keys"),
        sum(coalesce(col("v_new"), lit(0).cast(DecimalType(20, 4))) -
          coalesce(col("v_old"), lit(0).cast(DecimalType(20, 4))))
          .cast("double").as("net_price_delta"))
      .orderBy("change_type")
  }

  /** Pareto frontier (2-D skyline) over parts: maximize total quantity
    * sold, minimize realized unit price. Instead of the quadratic
    * NOT-EXISTS self-join, the skyline falls out of TWO window passes over
    * the aggregated (one row per part) frame: a part is dominated iff a
    * strictly cheaper part sold at least as much (running max over the
    * price-ordered frame, prior price groups only) or an equally-priced
    * part sold strictly more (per-price-group max). The oracle states the
    * quadratic NOT-EXISTS definition directly — two different algorithms,
    * hash-identical answers. The unpartitioned window sorts one row per
    * part (dimension-sized, not fact-sized).
    */
  def qParetoFront(t: Tables): DataFrame = {
    val per = t.lineitem.groupBy(col("l_partkey"))
      .agg(dsum(col("l_quantity")).as("tot_qty"),
        (dsum(col("l_extendedprice")) / dsum(col("l_quantity")))
          .as("unit_price"))
    // strictly-cheaper running max via the two-pass prefix (guide
    // §2.4/§5): max is associative, so per-range maxima + the prior
    // ranges' folded max reproduce the exclusive running max exactly —
    // the distinct-price frame (part-scaling) never single-partitions
    val byPrice = Prefix.running(
      per.groupBy("unit_price").agg(max("tot_qty").as("gq")),
      Seq(col("unit_price")),
      Seq(Prefix.Running("m_lt", col("gq"), inclusive = false, isMax = true)))
    per.join(byPrice, "unit_price")
      .filter(col("tot_qty") > coalesce(col("m_lt"),
          lit(Double.NegativeInfinity)) &&
        !(col("gq") > col("tot_qty")))
      .select(col("l_partkey"), col("unit_price"), col("tot_qty"))
      .orderBy("l_partkey")
  }

  /** Rolling 7-day distinct-customer count per active order date. COUNT
    * DISTINCT over a sliding window has no window-function form; the scale
    * shape is the explode-to-covering-days rewrite — each order row lands
    * in the <=7 window-end days it can influence (bounded 7x fan-out,
    * map-only), then ONE exact distinct aggregation per (day, custkey)
    * pair. The oracle states it as the direct range self-join. Only days
    * that actually have orders are reported.
    */
  def qWindowDistinct(t: Tables): DataFrame = {
    val o = t.orders.select(
      to_date(col("o_orderdate")).as("d"), col("o_custkey"))
    val active = o.select(col("d").as("window_end")).distinct()
    o.withColumn("window_end",
        explode(sequence(col("d"), date_add(col("d"), 6))))
      .join(active, "window_end")
      .groupBy("window_end")
      .agg(countDistinct("o_custkey").as("n_customers"))
      .select(date_format(col("window_end"), "yyyy-MM-dd").as("window_end"),
        col("n_customers"))
      .orderBy("window_end")
  }

  /** Z-order clustering layout audit: every lineitem keys by the Morton
    * interleave of (partkey, suppkey) (native codegen'd
    * [[graft.functions.MortonCode]]), rows land in 32 equal-width z-range
    * buckets — the file grid a z-ordering writer would emit — and each
    * bucket reports its min/max extent in BOTH key dimensions. Tight
    * per-bucket ranges in both columns at once is exactly the property
    * multi-dimensional data skipping buys over a lexicographic sort
    * (which bounds only its leading column). Bucket assignment is pure
    * map-side arithmetic against one broadcast scalar (max z); a real
    * writer would `repartitionByRange` on the same key — no global-sort
    * window anywhere.
    */
  def qZorderLayout(t: Tables, buckets: Int = 32): DataFrame =
    bucketStats(t, "morton_code(pk, sk)", buckets).orderBy("bucket")

  /** Equal-width buckets of `keyExpr` over (partkey, suppkey) rows with
    * per-bucket min/max extents in both dimensions — the per-file
    * statistics a clustering writer's footer would carry.
    */
  private def bucketStats(
      t: Tables, keyExpr: String, buckets: Int): DataFrame = {
    val keyed = t.lineitem
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      .withColumn("z", expr(keyExpr))
    val zmax = keyed.agg(max("z").as("zmax"))
    keyed.crossJoin(broadcast(zmax))
      .withColumn("bucket",
        expr(s"z div ((zmax div $buckets) + 1)").cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min("pk").as("min_pk"), max("pk").as("max_pk"),
        min("sk").as("min_sk"), max("sk").as("max_sk"))
  }

  /** Data-skipping effectiveness: probe the SAME deterministic sample of
    * (partkey, suppkey) point predicates against two file layouts — the
    * Morton z-order grid vs a partkey-sorted layout — and report what
    * fraction of buckets ("files") each layout's min/max footer stats
    * exclude. This is the measurable claim behind [[qZorderLayout]]: a
    * lexicographic sort bounds only its leading column, so conjunctive
    * point predicates skip far fewer files than under z-ordering. All
    * skip decisions are exact integer bound checks over
    * bucket-count-sized frames; the probe set is hash-sampled
    * (engine-independent arithmetic), and the two fractions surface as
    * ratios of exact counts.
    */
  def qSkippingAudit(t: Tables, buckets: Int = 32): DataFrame = {
    val keys = t.lineitem
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
    val pointProbes = keys.distinct()
      .filter(expr("pmod(pk * 31 + sk, 211) = 0"))
    // the probe class z-ordering exists for: a range on the NON-leading
    // dimension — a pk-sorted layout carries the full sk range in every
    // file and can skip nothing
    val skProbes = keys.select("sk").distinct()
      .filter(expr("pmod(sk, 7) = 0"))
    val layouts = Seq(
      ("zorder", "morton_code(pk, sk)"),
      ("pk_sort", "pk"))
    layouts.map { case (name, key) =>
      val b = broadcast(bucketStats(t, key, buckets)
        .select(col("min_pk"), col("max_pk"),
          col("min_sk"), col("max_sk")))
      val point = pointProbes.crossJoin(b)
        .select(when(
          col("pk").between(col("min_pk"), col("max_pk")) &&
            col("sk").between(col("min_sk"), col("max_sk")),
          0L).otherwise(1L).as("skip"))
        .agg(count(lit(1)).as("n_checks"), sum("skip").as("n_skipped"))
        .select(lit(name).as("layout"), lit("point").as("probe"),
          col("n_checks"), col("n_skipped"))
      val range = skProbes.crossJoin(b)
        .select(when(
          col("max_sk") >= col("sk") - 2 && col("min_sk") <= col("sk") + 2,
          0L).otherwise(1L).as("skip"))
        .agg(count(lit(1)).as("n_checks"), sum("skip").as("n_skipped"))
        .select(lit(name).as("layout"), lit("sk_range").as("probe"),
          col("n_checks"), col("n_skipped"))
      point.unionByName(range)
    }.reduce(_ unionByName _)
      .withColumn("skip_frac",
        col("n_skipped").cast("double") / col("n_checks").cast("double"))
      .orderBy("layout", "probe")
  }

  /** Functional-dependency audit: for each candidate determinant -> dependent
    * column pair, how many determinant groups exist, how many VIOLATE the
    * dependency (more than one distinct dependent value), and the worst
    * fan-out. The discovery half of schema profiling — verifying which
    * "should-be-keys" actually determine their dependents before a model or
    * a merge relies on it.
    *
    * Scale shape: each candidate pair is an INDEPENDENT hash aggregate
    * keyed by its own determinant column in its NATIVE type; only the
    * five one-row rollups union. (Round 10: the previous shape unioned
    * the five fact projections first — every determinant/dependent
    * value crossed the exchange as a STRING under a shared (pair, det)
    * key, roughly doubling shuffle bytes and serializing all five
    * facts through one aggregate. Independent per-pair aggregates keep
    * native long keys on the wire, partial-aggregate per fact, and
    * let the five candidate scans run as parallel jobs of one stage
    * chain each — guide §2.3 "narrower types" + §2.6 overlap.)
    * No joins, no windows. Results are identical: same groups, same
    * distinct counts, same rollup.
    */
  def qFdAudit(t: Tables): DataFrame = {
    val candidates: Seq[(DataFrame, String, String)] = Seq(
      (t.orders, "o_orderkey", "o_custkey"),
      (t.orders, "o_custkey", "o_orderpriority"),
      (t.lineitem, "l_orderkey", "l_partkey"),
      (t.lineitem, "l_partkey", "l_suppkey"),
      (t.customer, "c_nationkey", "c_mktsegment"))
    candidates.map { case (df, det, dep) =>
      df.select(col(det).as("k"), col(dep).as("d"))
        .groupBy("k")
        .agg(countDistinct("d").as("nd"))
        .agg(
          count(lit(1)).as("n_groups"),
          sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_violating"),
          max("nd").as("max_fanout"))
        .select(lit(s"$det -> $dep").as("fd"), col("n_groups"),
          col("n_violating"), col("max_fanout"))
    }.reduce(_ unionByName _)
      .withColumn("holds", col("n_violating") === 0L)
      .orderBy("fd")
  }

  /** ABC inventory classification: parts ranked by revenue, classed A/B/C
    * at the 80% / 95% cumulative-share cuts (class by the share BEFORE the
    * part — the start-offset rule, so a part straddling a cut lands in the
    * cheaper class on both engines). Revenue collapses to the part
    * dimension first (the only fact-sized pass); the cumulative window
    * then runs over part rows — dimension-sized, the [[qDecileLift]]
    * posture. The class cuts compare DECIMAL cumulative sums against
    * DECIMAL totals scaled by small integers (cum*5 < tot*4), so no
    * double ever decides a boundary.
    */
  def qAbcClass(t: Tables): DataFrame = {
    // cumulative revenue + grand total via the two-pass prefix (guide
    // §2.4/§5): DECIMAL sums are regrouping-exact, so `cum`/`total` are
    // bit-identical to the single-partition window form the part-scaling
    // frame previously funneled through
    val tot = Window.partitionBy()
    val per = t.lineitem
      .groupBy("l_partkey")
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(DecimalType(24, 6))).as("rev"))
    Prefix.running(per, Seq(col("rev").desc, col("l_partkey")),
        Seq(Prefix.Running("cum", col("rev"), grandTotal = Some("total"))))
      .withColumn("cum_before", col("cum") - col("rev"))
      .withColumn("abc_class",
        when(col("cum_before") * 5 < col("total") * 4, "A")
          .when(col("cum_before") * 20 < col("total") * 19, "B")
          .otherwise("C"))
      .groupBy("abc_class")
      .agg(
        count(lit(1)).as("n_parts"),
        sum("rev").as("class_rev"))
      .withColumn("rev_share",
        round(col("class_rev").cast("double") /
          sum("class_rev").over(tot).cast("double"), 6))
      .select(col("abc_class"), col("n_parts"),
        col("class_rev").cast("double").as("class_rev"), col("rev_share"))
      .orderBy("abc_class")
  }

  /** Cohort lifetime-value curve: customers cohorted by FIRST-order
    * month, revenue accumulated by months-since-first — "how much is a
    * January-acquired customer worth after six months", the retention
    * economics readout behind every acquisition-spend decision
    * (completing [[graft.ops.Events.qCohortMatrix]]'s activity view with
    * the revenue view). Cents stay exact longs; the running cumulative
    * runs per cohort over the (cohort × age) frame, never the fact; LTV
    * per acquired customer is the one double division.
    *
    * Month arithmetic is integer (12·year + month), so cohort and age
    * are engine-exact keys.
    */
  def qLtvCurve(t: Tables): DataFrame = {
    val om = t.orders.select(
      col("o_custkey"),
      expr("CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)")
        .as("m"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val cohort = om.groupBy("o_custkey").agg(min("m").as("m0"))
    val sizes = cohort.groupBy("m0").agg(count(lit(1)).as("cohort_users"))
    val byCohort = Window.partitionBy("m0").orderBy("age")
    om.join(cohort, "o_custkey")
      .groupBy(col("m0"), (col("m") - col("m0")).as("age"))
      .agg(sum("cents").as("rev_cents"))
      .withColumn("cum_cents", sum("rev_cents").over(byCohort))
      .join(sizes, "m0")
      .select(
        // month key back to a calendar label both engines format alike
        expr("""format_string('%04d-%02d', CAST(m0 div 12 AS INT),
                CAST(m0 % 12 + 1 AS INT))""").as("cohort"),
        col("age"), col("cohort_users"), col("rev_cents"),
        col("cum_cents"),
        round(col("cum_cents").cast("double") /
          col("cohort_users").cast("double") / 100.0, 6)
          .as("ltv_per_user"))
      .orderBy("cohort", "age")
  }

  /** Train/test frames shared by [[qRecEval]] and [[qRecNdcg]]. The
    * expensive members (train-side pair build + ranked recommendations;
    * the test basket frame) are session-cached per dataset dir like the
    * graph family's co-purchase index — the two consumers each probe the
    * same checkpointed frames instead of re-running the basket
    * self-join. The cache key is (session, dir), so the (probeMod, k)
    * defaults are part of the cached spec (both registry entries use them).
    */
  private case class RecFrames(
      recs: DataFrame, testB: DataFrame, withU: DataFrame)

  private val recsCache = graft.Engine.DirCache.frame(t =>
    recFramesUncached(t, 199, 5).recs)
  private val testBCache = graft.Engine.DirCache.frame(t =>
    recFramesUncached(t, 199, 5).testB)

  private def recFrames(t: Tables, probeMod: Int, k: Int): RecFrames = {
    require(probeMod == 199 && k == 5,
      "shared rec-frame cache is specialized to the registry defaults")
    val testB = testBCache(t)
    val withU = testB.filter(pmod(col("pk"), lit(probeMod)) === 0)
      .select(col("okey"), col("pk").as("u")).distinct()
    RecFrames(recsCache(t), testB, withU)
  }

  private def recFramesUncached(
      t: Tables, probeMod: Int, k: Int): RecFrames = {
    val li = t.lineitem
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("pk"))
      .distinct()
    val days = t.orders.select(col("o_orderkey").as("okey"),
      expr("CAST(datediff(o_orderdate, DATE '1992-01-01') AS BIGINT)")
        .as("d"))
    val cut = days.agg(expr("(min(d) + max(d)) div 2").as("cut"))
    val sides = days.crossJoin(broadcast(cut))
      .select(col("okey"), (col("d") < col("cut")).as("is_train"))
    val trainB = li.join(sides.filter(col("is_train")).select("okey"), "okey")
    val testB = li.join(sides.filter(!col("is_train")).select("okey"), "okey")
    val edges = trainB.as("a")
      .join(trainB.as("b"), "okey")
      .filter(col("a.pk") =!= col("b.pk"))
      .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
      .agg(count(lit(1)).as("cij"))
    val byProbe = Window.partitionBy("u")
      .orderBy(col("cij").desc, col("v"))
    val recs = edges.filter(pmod(col("u"), lit(probeMod)) === 0)
      .withColumn("rnk", row_number().over(byProbe).cast("long"))
      .filter(col("rnk") <= k)
    val withU = testB.filter(pmod(col("pk"), lit(probeMod)) === 0)
      .select(col("okey"), col("pk").as("u")).distinct()
    RecFrames(recs, testB, withU)
  }

  /** Held-out evaluation of the co-purchase recommender — the offline
    * metric loop every recommendation pipeline runs before shipping a
    * model: baskets split at the DATA-DRIVEN midpoint of the order-date
    * range (the [[graft.ops.Events.qCuped]] convention — a calendar
    * literal would put every order on one side of a differently-dated
    * drop), co-occurrence counts build on the TRAIN side only, top-k
    * recommendations per probe part rank by (count desc, candidate asc),
    * and hit-rate@k scores them against the TEST baskets that contain
    * the probe ("did the basket also contain something we would have
    * recommended").
    *
    * Scale: the train-side pair build is the standard bounded-basket
    * self-join (fan-out capped by basket size); the ranking window is
    * per-probe (probe-bounded, never global); test scoring joins the
    * (probe × k) recommendation frame — broadcast-sized — against the
    * test baskets. All counts exact integers; the rate is one division.
    */
  def qRecEval(t: Tables, probeMod: Int = 199, k: Int = 5): DataFrame = {
    val RecFrames(recs, testB, withU) = recFrames(t, probeMod, k)
    val nRecs = recs.groupBy("u").agg(count(lit(1)).as("n_recs"))
    // ... of those, the baskets that also contain >=1 recommended item
    val hitB = withU
      .join(recs.select("u", "v"), "u")
      .join(testB.select(col("okey"), col("pk").as("v")),
        Seq("okey", "v"), "left_semi")
      .select("okey", "u").distinct()
    val nTest = withU.groupBy("u").agg(count(lit(1)).as("n_test_baskets"))
    val nHit = hitB.groupBy("u").agg(count(lit(1)).as("n_hit_baskets"))
    nRecs
      .join(nTest, Seq("u"), "left")
      .join(nHit, Seq("u"), "left")
      .na.fill(0L, Seq("n_test_baskets", "n_hit_baskets"))
      .select(col("u").as("part"), col("n_recs"),
        col("n_test_baskets"), col("n_hit_baskets"),
        when(col("n_test_baskets") === 0L, lit(null))
          .otherwise(round(col("n_hit_baskets").cast("double") /
            col("n_test_baskets").cast("double"), 9)).as("hit_rate"))
      .orderBy("part")
  }

  /** nDCG@k of the same held-out recommendation run — the POSITION-aware
    * complement to [[qRecEval]]'s hit rate (putting the right item at
    * rank 1 should score higher than rank 5). Relevance of a
    * recommendation (u, v) is binary: v co-occurs with u in ≥ 1 test
    * basket; the ideal pool is every part co-occurring with u in test.
    * Discount weights 1/log2(r+1) are embedded as ROUNDED decimal
    * literals (and their prefix sums for the ideal DCG), so DCG sums are
    * exact decimal arithmetic — no transcendental is evaluated at query
    * time and both engines agree to the last digit.
    */
  def qRecNdcg(t: Tables, probeMod: Int = 199, k: Int = 5): DataFrame = {
    require(k == 5, "discount literals are specialized to k = 5")
    val RecFrames(recs, testB, withU) = recFrames(t, probeMod, k)
    val w = Seq("1.000000000", "0.630929754", "0.500000000",
      "0.430676558", "0.386852807")
    val cumW = Seq("1.000000000", "1.630929754", "2.130929754",
      "2.561606312", "2.948459119")
    def decArr(xs: Seq[String]) =
      array(xs.map(x => lit(x).cast("decimal(12,9)")): _*)
    // relevant recommendations: (u, v) co-occurring in some test basket
    val relRec = recs.select("u", "v", "rnk")
      .join(withU, "u")
      .join(testB.select(col("okey"), col("pk").as("v")),
        Seq("okey", "v"), "left_semi")
      .select("u", "v", "rnk").distinct()
    val dcg = relRec
      .withColumn("w", element_at(decArr(w), col("rnk").cast("int")))
      .groupBy("u").agg(sum("w").as("dcg_dec"))
    // ideal pool size: distinct test co-occurring parts per probe
    val nRel = withU
      .join(testB.select(col("okey"), col("pk").as("v")), "okey")
      .filter(col("v") =!= col("u"))
      .groupBy("u").agg(count_distinct(col("v")).as("n_rel"))
    recs.groupBy("u").agg(count(lit(1)).as("n_recs"))
      .join(nRel, Seq("u"), "left")
      .join(dcg, Seq("u"), "left")
      .na.fill(0L, Seq("n_rel"))
      .withColumn("dcg_dec",
        coalesce(col("dcg_dec"), lit("0").cast("decimal(12,9)")))
      .withColumn("idcg_dec",
        when(col("n_rel") === 0L, lit(null))
          .otherwise(element_at(decArr(cumW),
            least(col("n_rel"), lit(5L)).cast("int"))))
      .select(
        col("u").as("part"), col("n_recs"), col("n_rel"),
        col("dcg_dec").cast("double").as("dcg"),
        col("idcg_dec").cast("double").as("idcg"),
        when(col("n_rel") === 0L, lit(null))
          .otherwise(round(col("dcg_dec").cast("double") /
            col("idcg_dec").cast("double"), 9)).as("ndcg"))
      .orderBy("part")
  }

  /** Reciprocal rank of the FIRST relevant recommendation per probe —
    * the ranking metric that only credits the top of the list (a search
    * / retrieval staple next to [[qRecEval]]'s hit rate and
    * [[qRecNdcg]]'s graded discounts). Relevance is the same binary
    * test-basket co-occurrence; a probe whose top-k holds no relevant
    * item scores 0 (the MRR miss convention), with a NULL rank making
    * the miss distinguishable from rank-never-computed. Reciprocals are
    * ROUNDED decimal literals (1, 1/2, …, 1/5 at 9 digits), so any
    * downstream mean over probes is exact decimal arithmetic — same
    * trick as the nDCG discounts.
    *
    * Scale: third consumer of the session-cached train/test frames; the
    * per-probe work is one groupBy over the k-bounded relevant set.
    */
  def qRecMrr(t: Tables, probeMod: Int = 199, k: Int = 5): DataFrame = {
    require(k == 5, "reciprocal literals are specialized to k = 5")
    val RecFrames(recs, testB, withU) = recFrames(t, probeMod, k)
    val rr = Seq("1.000000000", "0.500000000", "0.333333333",
      "0.250000000", "0.200000000")
    val rrArr = array(rr.map(x => lit(x).cast("decimal(12,9)")): _*)
    val relRec = recs.select("u", "v", "rnk")
      .join(withU, "u")
      .join(testB.select(col("okey"), col("pk").as("v")),
        Seq("okey", "v"), "left_semi")
      .select("u", "v", "rnk").distinct()
    val first = relRec.groupBy("u").agg(
      min("rnk").as("first_rel_rank"),
      count(lit(1)).as("n_rel_in_k"))
    recs.groupBy("u").agg(count(lit(1)).as("n_recs"))
      .join(first, Seq("u"), "left")
      .na.fill(0L, Seq("n_rel_in_k"))
      .select(col("u").as("part"), col("n_recs"), col("n_rel_in_k"),
        col("first_rel_rank"),
        coalesce(element_at(rrArr, col("first_rel_rank").cast("int")),
          lit("0").cast("decimal(12,9)")).cast("double").as("rr"))
      .orderBy("part")
  }

  /** Mean-average-precision@k of the held-out recommendation run — the
    * area-under-the-precision-curve companion to [[qRecMrr]] (MRR only
    * credits the first hit; AP credits every relevant position by the
    * precision at that depth). AP = (Σⱼ j/rⱼ) / min(pool, k) over the
    * relevant ranks rⱼ. The rational sum is kept EXACT in integers by
    * clearing denominators with lcm(1..5)=60: each relevant position
    * contributes j·(60 div r), and AP is one IEEE division of the
    * integer sum by 60·min(pool, k) — no float accumulates.
    *
    * Scale: fourth consumer of the session-cached train/test frames;
    * per-probe work is a k-bounded window rank + one aggregate.
    */
  def qRecMap(t: Tables, probeMod: Int = 199, k: Int = 5): DataFrame = {
    require(k == 5, "the lcm(1..k) denominator clearing is built for k = 5")
    val RecFrames(recs, testB, withU) = recFrames(t, probeMod, k)
    val relRec = recs.select("u", "v", "rnk")
      .join(withU, "u")
      .join(testB.select(col("okey"), col("pk").as("v")),
        Seq("okey", "v"), "left_semi")
      .select("u", "v", "rnk").distinct()
    val byRank = Window.partitionBy("u").orderBy("rnk")
    val apNum = relRec
      .withColumn("j", row_number().over(byRank).cast("long"))
      .groupBy("u").agg(
        sum(expr("j * (60 div rnk)")).as("ap_num"),
        count(lit(1)).as("n_rel_in_k"))
    val nRel = withU
      .join(testB.select(col("okey"), col("pk").as("v")), "okey")
      .filter(col("v") =!= col("u"))
      .groupBy("u").agg(count_distinct(col("v")).as("n_rel"))
    recs.groupBy("u").agg(count(lit(1)).as("n_recs"))
      .join(nRel, Seq("u"), "left")
      .join(apNum, Seq("u"), "left")
      .na.fill(0L, Seq("n_rel", "n_rel_in_k", "ap_num"))
      .select(col("u").as("part"), col("n_recs"), col("n_rel"),
        col("n_rel_in_k"),
        when(col("n_rel") === 0L, lit(null)).otherwise(
          col("ap_num").cast("double") /
            (lit(60L) * least(col("n_rel"), lit(5L))).cast("double"))
          .as("ap"))
      .orderBy("part")
  }
}
