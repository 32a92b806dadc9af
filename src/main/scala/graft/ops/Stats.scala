package graft.ops

import graft.Tables
import graft.Engine.LoopCheckpointOps
import graft.transform.Transforms.dsum

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Statistical / aggregate operator surface beyond plain sums.
  *
  * Engine-exact numerics: variance/stddev/correlation are computed from
  * DECIMAL-exact moment sums (sum x, sum x^2, sum x*y) and then a fixed
  * sequence of double operations — the built-in `stddev`/`corr` use
  * streaming update formulas whose result depends on aggregation order and
  * would not hash-match DuckDB.
  */
object Stats {

  private def s1(c: String) = sum(col(c).cast(DecimalType(18, 2))).cast("double")
  private def s2(c: String) =
    sum((col(c) * col(c)).cast(DecimalType(30, 4))).cast("double")
  private def sxy(x: String, y: String) =
    sum((col(x) * col(y)).cast(DecimalType(30, 4))).cast("double")

  /** Column-pruned, core-spread fact projection for per-row-compute-heavy
    * aggregates (decimal moment sums, exact percentile buffers): a
    * bench-scale fact table is one unsplittable parquet row group, so
    * without the fan-out the whole map side runs on ONE task regardless
    * of maxPartitionBytes (round-9 full-plan accounting measured 3-4 s
    * single-threaded for the correlation family). At real scale
    * [[graft.Engine.spread]]'s size guard makes this a no-op — big
    * sources already scan wide.
    */
  private def fanned(df: DataFrame, cols: String*): DataFrame =
    graft.Engine.spread(df.select(cols.map(col): _*))

  /** Grouped variance / stddev / correlation from exact moments. */
  def qStats(t: Tables): DataFrame = {
    val n = count(lit(1)).cast("double")
    fanned(t.lineitem, "l_linestatus", "l_extendedprice", "l_quantity")
      .groupBy("l_linestatus")
      .agg(
        count(lit(1)).as("n"),
        s1("l_extendedprice").as("sx"),
        s2("l_extendedprice").as("sxx"),
        s1("l_quantity").as("sy"),
        s2("l_quantity").as("syy"),
        sxy("l_extendedprice", "l_quantity").as("sxy_"),
        n.as("nd"))
      .select(
        col("l_linestatus"),
        col("n"),
        // rounded well above double ulp at each magnitude: DuckDB's C++
        // build may fuse multiply-adds (FMA), so the last 1-2 ulps of
        // these composite expressions are not engine-portable
        round((col("sxx") - col("sx") * col("sx") / col("nd")) / (col("nd") - 1), 3)
          .as("var_price"),
        round(sqrt((col("sxx") - col("sx") * col("sx") / col("nd")) / (col("nd") - 1)), 6)
          .as("stddev_price"),
        round((col("sxy_") - col("sx") * col("sy") / col("nd")) /
          (sqrt(col("sxx") - col("sx") * col("sx") / col("nd")) *
           sqrt(col("syy") - col("sy") * col("sy") / col("nd"))), 9)
          .as("corr_price_qty"))
      .orderBy("l_linestatus")
  }

  /** Pairwise correlation matrix (long-form) across the three lineitem
    * measures per return flag — the same exact-moment recipe as [[qStats]]
    * generalized to all pairs: ONE scan computes every moment sum in a
    * single aggregation, the 3x3 (pairs x groups) matrix falls out of a
    * projection. round(_, 9) masks cross-engine FMA contraction on the
    * composite arithmetic.
    */
  def qCorrMatrix(t: Tables): DataFrame = {
    val ms = Seq("l_quantity", "l_extendedprice", "l_discount")
    val pairs = Seq(
      ("qty_price", "l_quantity", "l_extendedprice"),
      ("qty_disc", "l_quantity", "l_discount"),
      ("price_disc", "l_extendedprice", "l_discount"))
    val aggs =
      ms.flatMap(m => Seq(s1(m).as(s"s_$m"), s2(m).as(s"ss_$m"))) ++
        pairs.map { case (nm, x, y) => sxy(x, y).as(s"sp_$nm") }
    val grouped = fanned(t.lineitem, "l_returnflag" +: ms: _*)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), aggs: _*)
      .withColumn("nd", col("n").cast("double"))
    def corrOf(nm: String, x: String, y: String) =
      round((col(s"sp_$nm") - col(s"s_$x") * col(s"s_$y") / col("nd")) /
        (sqrt(col(s"ss_$x") - col(s"s_$x") * col(s"s_$x") / col("nd")) *
         sqrt(col(s"ss_$y") - col(s"s_$y") * col(s"s_$y") / col("nd"))), 9)
    grouped
      .select(col("l_returnflag"), col("n"), explode(array(pairs.map {
        case (nm, x, y) =>
          struct(lit(nm).as("pair"), corrOf(nm, x, y).as("corr"))
      }: _*)).as("p"))
      .select(col("l_returnflag"), col("p.pair").as("pair"), col("n"),
        col("p.corr").as("corr"))
      .orderBy("l_returnflag", "pair")
  }

  /** Plain min/max/sum/count per group; dates out as strings. */
  def qMinMax(t: Tables): DataFrame =
    t.lineitem
      .groupBy("l_returnflag")
      .agg(
        min("l_extendedprice").as("min_price"),
        max("l_extendedprice").as("max_price"),
        date_format(min("l_shipdate"), "yyyy-MM-dd").as("min_ship"),
        date_format(max("l_shipdate"), "yyyy-MM-dd").as("max_ship"),
        dsum(col("l_extendedprice")).as("sum_price"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** Argmax via group-max + equi-join back (deterministic under ties:
    * the max orderkey among max-price rows wins on both engines).
    */
  def qArgmax(t: Tables): DataFrame = {
    val m = t.lineitem
      .groupBy(col("l_returnflag").as("rf"))
      .agg(max("l_extendedprice").as("mp"))
    t.lineitem
      .join(broadcast(m),
        col("l_returnflag") === col("rf") && col("l_extendedprice") === col("mp"))
      .groupBy("l_returnflag")
      .agg(
        max("l_extendedprice").as("max_price"),
        max("l_orderkey").as("argmax_orderkey"))
      .orderBy("l_returnflag")
  }

  /** GROUPING SETS beyond rollup/cube — two independent dimensions plus
    * grand total, null keys coalesced for stable ordering.
    */
  def qGroupingSets(t: Tables): DataFrame = {
    val view = "orders_gs_" + java.util.UUID.randomUUID.toString.replace("-", "")
    t.orders
      .select(col("o_orderstatus"), year(col("o_orderdate")).cast("long").as("yr"))
      .createOrReplaceTempView(view)
    t.spark.sql(
      s"""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
            COALESCE(CAST(yr AS STRING), 'ALL') AS yr,
            COUNT(*) AS n
          FROM $view
          GROUP BY GROUPING SETS ((o_orderstatus), (yr), ())
          ORDER BY status, yr""")
  }

  /** UNION ALL + re-aggregate (bag semantics, vs the set-semantics
    * INTERSECT/EXCEPT queries).
    */
  def qUnionAll(t: Tables): DataFrame = {
    def keys(yr: Int) =
      t.orders.filter(year(col("o_orderdate")) === yr).select("o_custkey")
    keys(1997)
      .union(keys(1998))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n"))
      .orderBy("o_custkey")
  }

  /** Supplier-side star join: revenue by supplier nation (broadcast dims,
    * single shuffle for the final small aggregate).
    */
  def qSupplierRevenue(t: Tables): DataFrame = {
    val supNation = broadcast(
      t.supplier
        .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name")))
    t.lineitem
      .join(supNation, col("l_suppkey") === col("s_suppkey"))
      .groupBy("n_name")
      .agg(
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(24, 6))).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }

  /** Sketch aggregate: HyperLogLog++ approximate distinct next to the
    * exact count, graded as a BOUNDED-ERROR oracle (round-10 graduation
    * from rows-only): the output carries the exact count plus a
    * `within_tolerance` flag asserting |approx − exact| ≤
    * max(tolFrac·exact, tolFloor), so the DuckDB oracle (exact distinct
    * + literal 1) hash-FAILS if the sketch ever drifts out of tolerance.
    * The sketch estimate itself stays out of the output — HLL register
    * layouts are engine-specific — but the flag is a pure function of
    * it, so the sketch still executes in the graded plan.
    *
    * Tolerance: rsd = 0.02 ⇒ 4σ = 8 %; the flag uses 8 % with an
    * absolute floor for near-saturated groups. HLL is order-independent
    * (hash-based), so the estimate is deterministic for a fixed corpus —
    * measured error on the driver testdata is ≤ 2.2 % at every scale,
    * leaving ≥ 3.5× headroom before a legitimate red.
    */
  def qApproxDistinct(
      t: Tables, tolFrac: Double = 0.08, tolFloor: Long = 16L): DataFrame =
    t.lineitem
      .groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("approx_parts") - col("exact_parts")).cast("double") <=
          greatest(col("exact_parts").cast("double") * tolFrac,
            lit(tolFloor.toDouble))).cast("long").as("within_tolerance"))
      .orderBy("l_returnflag")

  /** K-minimum-values distinct sketch, the hash-verifiable companion to
    * [[qApproxDistinct]]'s HLL (whose registers are engine-specific and
    * can only be error-bound-tested): hash every part key to a 60-bit
    * md5 value — the one hash both engines evaluate identically — keep
    * the k smallest distinct hashes per group, and estimate
    * D ≈ (k−1)·2⁶⁰/h₍ₖ₎. The estimate is two IEEE ops on exact integers,
    * so the sketch output hash-matches DuckDB exactly, estimator and
    * all. Groups with fewer than k distinct hashes report the exact
    * count (sketch saturation).
    *
    * Scale: the dedup shuffle carries only (group, hash) pairs; the
    * sketch itself is the bounded_topk partial aggregate — k values per
    * group per map task cross the exchange, never the distinct stream.
    */
  def qKmvDistinct(t: Tables, k: Int = 64): DataFrame = {
    val h = expr(
      "conv(substring(md5(CAST(l_partkey AS STRING)), 1, 15), 16, 10)")
      .cast("long")
    val kth = element_at(col("top"), k).getField("id")
    t.lineitem
      .select(col("l_returnflag").as("flag"), h.as("h")).distinct()
      .groupBy("flag")
      .agg(
        count(lit(1)).as("n_exact"),
        call_function("bounded_topk",
          struct(lit(0.0), col("h")), lit(k), lit(true)).as("top"))
      .select(col("flag"), col("n_exact"),
        when(col("n_exact") < k, lit(null)).otherwise(kth).as("kth_hash"),
        when(col("n_exact") < k, col("n_exact").cast("double"))
          .otherwise(lit((k - 1).toDouble) *
            (lit(1152921504606846976.0) / kth.cast("double"))).as("est"))
      .orderBy("flag")
  }

  /** Robust dispersion: median absolute deviation per group — the
    * outlier-resistant spread measure a profiling pass pairs with
    * variance (which a single bad row can dominate). Two exact-percentile
    * passes: group medians broadcast back onto the rows, then the median
    * of absolute deviations. Exact percentiles sort within the group, so
    * both engines produce identical doubles.
    */
  def qMad(t: Tables): DataFrame = {
    // checkpoint the 2-column projection: the median pass and the
    // deviation pass both consume it — one scan + one spread exchange
    // instead of two of each (round 10; guide §3.3)
    val slim = graft.Engine.loopCheckpoint(
      fanned(t.lineitem, "l_returnflag", "l_extendedprice"))
    val med = slim
      .groupBy("l_returnflag")
      .agg(expr("percentile(l_extendedprice, 0.5D)").as("med_price"))
    slim
      .join(broadcast(med), "l_returnflag")
      .withColumn("adev", abs(col("l_extendedprice") - col("med_price")))
      .groupBy("l_returnflag")
      .agg(
        first(col("med_price")).as("med_price"),
        expr("percentile(adev, 0.5D)").as("mad"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  /** Quantile sketch next to the exact answer: approx_percentile is the
    * single-pass mergeable summary a 100 TB profile pass uses (exact
    * percentiles need a full sort per group); graded as a BOUNDED-ERROR
    * oracle (round-10 graduation from rows-only). The sketch value is
    * engine-specific, so the output carries the exact quantiles plus
    * per-quantile flags asserting the approx value lands inside the
    * exact [q − rankTol, q + rankTol] quantile band — rankTol = 0.005 is
    * 5× the accuracy-1000 rank-error guarantee (ε = 0.001), and the
    * guarantee holds under ANY buffer merge order, so the flag is stable
    * while a sketch regression (or a silently-dropped compression bound)
    * flips it and hash-fails the row against DuckDB's exact quantiles +
    * literal 1s.
    */
  // NOT fanned: the exact-percentile halves are reduce-bound (3 groups
  // sorting the full value multiset), so the spread's extra 18 MB
  // exchange measured net-negative here. The six exact quantiles come
  // from ONE array-percentile aggregate (single sort buffer per group),
  // not six independent buffers.
  def qApproxQuantile(t: Tables, rankTol: Double = 0.005): DataFrame = {
    val qs = Seq(0.5 - rankTol, 0.5, 0.5 + rankTol,
      0.9 - rankTol, 0.9, 0.9 + rankTol)
    t.lineitem
      .groupBy("l_returnflag")
      .agg(
        approx_percentile(col("l_extendedprice"), lit(0.5), lit(1000))
          .as("am"),
        approx_percentile(col("l_extendedprice"), lit(0.9), lit(1000))
          .as("ap"),
        percentile(col("l_extendedprice"), array(qs.map(lit): _*)).as("q"))
      .select(col("l_returnflag"),
        element_at(col("q"), 2).as("exact_median"),
        element_at(col("q"), 5).as("exact_p90"),
        (col("am") >= element_at(col("q"), 1) &&
          col("am") <= element_at(col("q"), 3)).cast("long").as("median_ok"),
        (col("ap") >= element_at(col("q"), 4) &&
          col("ap") <= element_at(col("q"), 6)).cast("long").as("p90_ok"))
      .orderBy("l_returnflag")
  }

  /** Equi-width histogram of order values: floor-division bucketing + one
    * grouped aggregate (the profile view a warehouse computes before
    * choosing bin boundaries).
    */
  def qHistogram(t: Tables, width: Double = 50000.0): DataFrame =
    t.orders
      .withColumn("bucket", floor(col("o_totalprice") / width).cast("long"))
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n"),
        min("o_totalprice").as("lo"),
        max("o_totalprice").as("hi"))
      .orderBy("bucket")

  /** Data-quality audit: referential-integrity orphan counts across the
    * star schema plus key-uniqueness, as one summary row — the constraint
    * checks a warehouse load runs before publishing (extends the
    * reference's health-monitoring theme, etl_pipeline.py:317-348).
    * Each check is an anti-join or grouped HAVING that Spark executes as
    * a broadcast/shuffled hash join — no row-by-row validation.
    */
  def qIntegrityChecks(t: Tables): DataFrame = {
    def scalar(df: DataFrame, name: String): DataFrame =
      df.agg(count(lit(1)).as(name))
    // bind each reader once: Tables.* returns a fresh plan (new attribute
    // ids) per call, so join conditions must reference the same instance
    val (orders, customer, lineitem, part) =
      (t.orders, t.customer, t.lineitem, t.part)
    val orphanOrders = scalar(
      orders.join(customer,
        orders("o_custkey") === customer("c_custkey"), "left_anti"),
      "orphan_orders")
    val orphanLineitems = scalar(
      lineitem.join(orders,
        lineitem("l_orderkey") === orders("o_orderkey"), "left_anti"),
      "orphan_lineitems")
    val orphanParts = scalar(
      lineitem.join(part,
        lineitem("l_partkey") === part("p_partkey"), "left_anti"),
      "orphan_parts")
    val dupCustkeys = scalar(
      customer.groupBy("c_custkey").agg(count(lit(1)).as("c"))
        .filter(col("c") > 1),
      "dup_custkeys")
    orphanOrders.crossJoin(orphanLineitems)
      .crossJoin(orphanParts).crossJoin(dupCustkeys)
  }

  /** Regex extraction + aggregate (codegen'd regexp_extract). */
  def qRegexpExtract(t: Tables): DataFrame =
    t.orders
      .withColumn("prio_num",
        regexp_extract(col("o_orderpriority"), "^(\\d+)", 1).cast("long"))
      .groupBy("prio_num")
      .agg(count(lit(1)).as("n"), countDistinct("o_custkey").as("n_custs"))
      .orderBy("prio_num")

  /** Heavy-hitter detection with a count-min-sketch prefilter: users with
    * more than `threshold` events. The CMS (Spark's built-in
    * `count_min_sketch` aggregate) is built in ONE partial-aggregated pass
    * over events — no shuffle of event rows, just sketch merges — then the
    * key dimension (customer, which covers the event keyspace) is probed
    * map-only via the native [[graft.functions.CmsEstimate]]. CMS only
    * OVERcounts, so the candidate set can contain false positives but never
    * misses a true heavy hitter; the exact verify join then touches only
    * candidate keys' events. Output is exact, so the oracle is a plain
    * GROUP BY / HAVING — the sketch machinery changes the plan shape, not
    * the answer (same grading pattern as the bloom-prefiltered join).
    * At 100 TB: the full-shuffle GROUP BY over every key disappears;
    * what's left is one sketch aggregate + a broadcast-sized candidate join.
    */
  def qHeavyHitters(t: Tables, threshold: Long = 80L): DataFrame = {
    t.createViews()
    t.spark.sql(
      s"""WITH cand AS (
            SELECT c_custkey AS user_id FROM customer
            WHERE cms_estimate(
              (SELECT count_min_sketch(user_id, 0.001d, 0.99d, 42)
                 FROM events),
              c_custkey) > ${threshold}L)
          SELECT e.user_id, count(*) AS n_events
          FROM events e JOIN cand ON e.user_id = cand.user_id
          GROUP BY e.user_id
          HAVING count(*) > ${threshold}L
          ORDER BY user_id""")
  }

  /** Z-score outlier detection: top-5 orders by |z| within each market
    * segment, z computed against the segment's mean/stddev from the same
    * exact-moment recipe as [[qStats]]. The 5-row moment frame broadcasts
    * back onto the fact side (no second fact shuffle); the per-segment
    * top-5 is a bounded window. Ranking safety: adjacent |z| values are
    * ≥ 0.01/sd ≈ 1e-7 apart (prices are cents), far above the ~1e-16
    * cross-engine FMA jitter, so the rank-5 cutoff cannot flip; the output
    * z is rounded at 1e-6 like every composite double here.
    */
  def qZscoreOutliers(t: Tables): DataFrame = {
    val seg = t.orders
      .join(t.customer.select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"), col("o_orderkey"),
        col("o_totalprice"))
    val m = seg
      .groupBy("segment")
      .agg(
        count(lit(1)).cast("double").as("nd"),
        s1("o_totalprice").as("sx"),
        s2("o_totalprice").as("sxx"))
      .withColumn("mean", col("sx") / col("nd"))
      .withColumn("sd",
        sqrt((col("sxx") - col("sx") * col("sx") / col("nd")) /
          (col("nd") - 1)))
      .select("segment", "mean", "sd")
    val w = Window.partitionBy("segment")
      .orderBy(abs(col("z")).desc, col("o_orderkey"))
    seg
      .join(broadcast(m), "segment")
      .withColumn("z", (col("o_totalprice") - col("mean")) / col("sd"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("segment"), col("o_orderkey"), round(col("z"), 6).as("z"))
      .orderBy("segment", "o_orderkey")
  }

  /** Chi-square independence test of market segment vs customer nation:
    * the full R x C contingency grid (zero cells densified via the
    * cross-joined marginals — a missing cell still contributes its
    * expectation), expected counts from exact integer marginals, each
    * (o-e)^2/e term rounded at 1e-9 into DECIMAL so the grid sum is
    * aggregation-order exact. Marginals are two tiny aggregates of the
    * contingency frame; nothing beyond the first groupBy touches fact
    * rows. Squares are spelled (o-e)*(o-e) — `pow` is not guaranteed
    * bit-identical across engines' libm.
    */
  def qChi2(t: Tables): DataFrame = {
    val obs = t.customer
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_mktsegment").as("seg"), col("n_name").as("nat"))
      .agg(count(lit(1)).as("o"))
    val segTot = obs.groupBy("seg").agg(sum("o").as("rt"))
    val natTot = obs.groupBy("nat").agg(sum("o").as("ct"))
    val n = obs.agg(sum("o").as("n"))
    segTot.crossJoin(natTot).crossJoin(broadcast(n))
      .join(obs, Seq("seg", "nat"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .withColumn("e",
        col("rt").cast("double") * col("ct").cast("double") /
          col("n").cast("double"))
      .withColumn("d", col("o").cast("double") - col("e"))
      .withColumn("term",
        round(col("d") * col("d") / col("e"), 9).cast("decimal(20,10)"))
      .agg(
        sum("term").cast("double").as("chi2"),
        count(lit(1)).as("n_cells"),
        ((countDistinct("seg") - 1) * (countDistinct("nat") - 1))
          .as("dof"))
  }

  /** The CMS candidate stage alone (false positives included) — exposed so
    * tests can assert the prefilter prunes the dimension yet stays a
    * superset of the true heavy hitters.
    */
  def cmsCandidatesOnly(
      spark: org.apache.spark.sql.SparkSession,
      t: Tables,
      threshold: Long = 80L): DataFrame = {
    t.createViews()
    spark.sql(
      s"""SELECT c_custkey AS user_id FROM customer
          WHERE cms_estimate(
            (SELECT count_min_sketch(user_id, 0.001d, 0.99d, 42) FROM events),
            c_custkey) > ${threshold}L
          ORDER BY user_id""")
  }

  /** Tukey-fence (IQR) anomaly detection per region: order totals outside
    * [q1 - 1.5*IQR, q3 + 1.5*IQR] are outliers — the robust screen that,
    * unlike z-scores ([[qZscoreOutliers]]), is immune to the outliers
    * inflating the threshold itself. Fences are computed from exact
    * `percentile` quartiles NARROWED TO DECIMAL(18,4) before the fence
    * arithmetic, so the 1.5*IQR multiply-subtract chain runs in exact
    * decimal — a 1-ulp engine divergence in a double fence could flip a
    * comparison for a price sitting on it.
    *
    * Scale: pass 1 is a per-region percentile aggregate (region
    * cardinality output); fences broadcast back into a map-side
    * comparison + one counting aggregate. The fact table never sorts
    * globally and crosses exactly two region-keyed exchanges.
    */
  def qAnomalyIqr(t: Tables): DataFrame = {
    // checkpoint the 2-column (region, price) projection: both passes
    // (fence percentiles, fence-compare counts) consumed it, and each
    // instantiation re-ran the orders⋈customer join — at scale two
    // customer-keyed fact shuffles where one narrow materialization
    // suffices (round 10; guide §3.3, §2.3 project-before-the-exchange)
    val enriched = graft.Engine.loopCheckpoint(t.orders
      .join(t.customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"), col("o_totalprice")))
    val fences = enriched
      .groupBy("r_name")
      .agg(
        percentile(col("o_totalprice"), lit(0.25)).cast(DecimalType(18, 4)).as("q1"),
        percentile(col("o_totalprice"), lit(0.75)).cast(DecimalType(18, 4)).as("q3"))
      .withColumn("iqr", col("q3") - col("q1"))
      .withColumn("lo", col("q1") - lit(1.5).cast(DecimalType(2, 1)) * col("iqr"))
      .withColumn("hi", col("q3") + lit(1.5).cast(DecimalType(2, 1)) * col("iqr"))
    enriched
      .join(broadcast(fences), Seq("r_name"))
      .groupBy(col("r_name"), col("q1"), col("q3"), col("lo"), col("hi"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum((col("o_totalprice").cast(DecimalType(18, 4)) < col("lo") ||
          col("o_totalprice").cast(DecimalType(18, 4)) > col("hi")).cast("long"))
          .as("n_outliers"))
      .select(
        col("r_name"),
        col("q1").cast("double").as("q1"),
        col("q3").cast("double").as("q3"),
        col("lo").cast("double").as("lo_fence"),
        col("hi").cast("double").as("hi_fence"),
        col("n_orders"),
        col("n_outliers"),
        (col("n_outliers").cast("double") / col("n_orders").cast("double"))
          .as("outlier_frac"))
      .orderBy("r_name")
  }

  /** Winsorized mean per market segment: order totals clamped to the
    * [p05, p95] band before averaging — the standard robust-mean treatment
    * for heavy-tailed metrics. Same exactness recipe as [[qAnomalyIqr]]:
    * percentiles narrowed to DECIMAL before clamping, so the clamped sum
    * is an exact decimal aggregate and the raw-vs-winsorized comparison
    * cannot drift with aggregation order.
    */
  def qWinsorize(t: Tables): DataFrame = {
    val seg = t.orders
      .join(t.customer.select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"), col("o_totalprice"))
    val bands = seg
      .groupBy("segment")
      .agg(
        percentile(col("o_totalprice"), lit(0.05)).cast(DecimalType(18, 4)).as("p05"),
        percentile(col("o_totalprice"), lit(0.95)).cast(DecimalType(18, 4)).as("p95"))
    seg
      .join(broadcast(bands), Seq("segment"))
      .withColumn("clamped",
        least(greatest(col("o_totalprice").cast(DecimalType(18, 4)), col("p05")),
          col("p95")))
      .groupBy(col("segment"), col("p05"), col("p95"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).as("sraw"),
        sum(col("clamped")).as("swin"))
      .select(
        col("segment"),
        col("p05").cast("double").as("p05"),
        col("p95").cast("double").as("p95"),
        col("n_orders"),
        (col("sraw").cast("double") / col("n_orders").cast("double"))
          .as("mean_raw"),
        (col("swin").cast("double") / col("n_orders").cast("double"))
          .as("mean_winsorized"))
      .orderBy("segment")
  }

  /** Spearman rank correlation between daily shipped quantity and daily
    * revenue, per return flag. The series is pre-aggregated to days (exact
    * decimal sums), then each day's value is replaced by its AVERAGE rank
    * (the tie-correct Spearman convention) and rho is the Pearson
    * correlation of the ranks — computed from exact integer moment sums,
    * not the streaming `corr` whose result depends on aggregation order.
    * Doubled average ranks (2*rank + ties - 1) keep every moment an exact
    * integer; doubling both variables cancels in rho.
    *
    * Scale: the fact stream collapses to (flag, day) rows in one hash
    * aggregate — ranks, windows, and moments all run on the tiny daily
    * frame. The variance product is computed in double (its exact decimal
    * form would exceed precision 38); both factors are exact decimals
    * first, so the result is a fixed op sequence on identical inputs.
    */
  def qSpearman(t: Tables): DataFrame = {
    val daily = t.lineitem
      .groupBy(col("l_returnflag").as("rf"),
        to_date(col("l_shipdate")).as("day"))
      .agg(
        sum(col("l_quantity").cast(DecimalType(18, 2))).as("x"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).as("y"))
    def ranked2(v: String): Column = {
      val byVal = Window.partitionBy("rf").orderBy(col(v))
      val ties = Window.partitionBy("rf", v)
      (lit(2) * rank().over(byVal) + count(lit(1)).over(ties) - lit(1))
        .cast("long")
    }
    daily
      .withColumn("rx", ranked2("x"))
      .withColumn("ry", ranked2("y"))
      .groupBy("rf")
      .agg(
        count(lit(1)).cast(DecimalType(10, 0)).as("n"),
        sum(col("rx").cast(DecimalType(16, 0))).cast(DecimalType(16, 0)).as("sx"),
        sum(col("ry").cast(DecimalType(16, 0))).cast(DecimalType(16, 0)).as("sy"),
        sum((col("rx") * col("ry")).cast(DecimalType(22, 0)))
          .cast(DecimalType(22, 0)).as("sxy"),
        sum((col("rx") * col("rx")).cast(DecimalType(22, 0)))
          .cast(DecimalType(22, 0)).as("sxx"),
        sum((col("ry") * col("ry")).cast(DecimalType(22, 0)))
          .cast(DecimalType(22, 0)).as("syy"))
      .select(
        col("rf").as("l_returnflag"),
        col("n").cast("long").as("n_days"),
        round(
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            sqrt(
              (col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
                (col("n") * col("syy") - col("sy") * col("sy")).cast("double")),
          9).as("spearman_rho"))
      .orderBy("l_returnflag")
  }

  /** Modal order priority per (status, year) with a deterministic
    * lexicographic tiebreak — the categorical "most frequent value"
    * aggregate (the built-in `mode` leaves ties undefined, so it could
    * never hash-match an oracle). One hash aggregate to (status, year,
    * priority) counts, then a tiny window picks the winner.
    */
  def qModeCategory(t: Tables): DataFrame = {
    val counts = t.orders
      .groupBy(
        col("o_orderstatus").as("status"),
        year(col("o_orderdate")).cast("long").as("yr"),
        col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("status", "yr")
    counts
      .withColumn("rk", row_number().over(
        w.orderBy(col("n").desc, col("priority"))))
      .withColumn("total", sum("n").over(w))
      .filter(col("rk") === 1)
      .select(
        col("status"), col("yr"),
        col("priority").as("mode_priority"),
        col("n").as("n_mode"),
        (col("n").cast("double") / col("total").cast("double"))
          .as("mode_share"))
      .orderBy("status", "yr")
  }

  /** Welch's two-sample t-test (unequal variances) between open ('O') and
    * fulfilled ('F') order totals: one conditional-aggregation pass
    * collects both groups' exact decimal moments (n, sum, sum-of-squares),
    * then the t statistic and Welch–Satterthwaite df are a fixed sequence
    * of double ops over those exact inputs. Means surface unrounded (exact
    * division); t/df are composite multiply-subtract chains, rounded at
    * 1e-6 — far above the cross-engine ulp drift, far below any scale the
    * values could terminate at.
    */
  def qWelchTtest(t: Tables): DataFrame = {
    def side(status: String, tag: String) = Seq(
      count(when(col("o_orderstatus") === status, 1)).as(s"n_$tag"),
      sum(when(col("o_orderstatus") === status,
        col("o_totalprice").cast(DecimalType(18, 2)))).cast("double")
        .as(s"sx_$tag"),
      sum(when(col("o_orderstatus") === status,
        (col("o_totalprice") * col("o_totalprice")).cast(DecimalType(30, 4))))
        .cast("double").as(s"sxx_$tag"))
    val aggs = side("O", "o") ++ side("F", "f")
    val m = t.orders.agg(aggs.head, aggs.tail: _*)
    def mean(tag: String) =
      col(s"sx_$tag") / col(s"n_$tag").cast("double")
    def varc(tag: String) =
      (col(s"sxx_$tag") - col(s"sx_$tag") * col(s"sx_$tag") /
        col(s"n_$tag").cast("double")) / (col(s"n_$tag") - 1).cast("double")
    m.select(col("n_o"), col("n_f"),
        mean("o").as("mean_o"), mean("f").as("mean_f"),
        varc("o").as("v_o"), varc("f").as("v_f"))
      .select(col("n_o"), col("n_f"), col("mean_o"), col("mean_f"),
        round((col("mean_o") - col("mean_f")) /
          sqrt(col("v_o") / col("n_o") + col("v_f") / col("n_f")), 6)
          .as("t_stat"),
        round(
          pow(col("v_o") / col("n_o") + col("v_f") / col("n_f"), 2) /
            (pow(col("v_o") / col("n_o"), 2) / (col("n_o") - 1) +
             pow(col("v_f") / col("n_f"), 2) / (col("n_f") - 1)), 4)
          .as("df_welch"))
  }

  /** Delete-a-group jackknife standard error of the mean order total:
    * 10 deterministic buckets (`o_orderkey mod 10`), leave-one-bucket-out
    * means from exact decimal sums, and a SEQUENTIAL fold (sorted array +
    * `aggregate`, mirroring DuckDB's order-preserving `list_sum`) for the
    * sums of theta and theta² — a plain double SUM would be aggregation-
    * order-dependent and could not hash-match. SE and the CI bounds are
    * composite chains, rounded at 1e-6/1e-4.
    */
  def qJackknifeCi(t: Tables): DataFrame = {
    val b = t.orders
      .groupBy(pmod(col("o_orderkey"), lit(10)).as("bucket"))
      .agg(count(lit(1)).as("nb"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).as("sb"))
    val tot = b.agg(sum("nb").as("n"), sum("sb").as("s"))
    val thetas = b.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n"), col("s"),
        ((col("s") - col("sb")).cast("double") /
          (col("n") - col("nb")).cast("double")).as("theta"))
      .groupBy("n", "s")
      .agg(sort_array(collect_list(struct(col("bucket"), col("theta"))))
        .as("ts"))
      .select(col("n"), col("s"),
        size(col("ts")).as("nb2"),
        aggregate(col("ts"), lit(0.0), (acc, x) => acc + x("theta"))
          .as("sum_t"),
        aggregate(col("ts"), lit(0.0),
          (acc, x) => acc + x("theta") * x("theta")).as("sum_t2"))
    thetas.select(
        (col("s").cast("double") / col("n").cast("double")).as("mean_price"),
        round(sqrt(
          ((col("nb2") - 1).cast("double") / col("nb2").cast("double")) *
            (col("sum_t2") - col("sum_t") * col("sum_t") /
              col("nb2").cast("double"))), 6).as("se_jack"))
      .select(col("mean_price"), col("se_jack"),
        round(col("mean_price") - lit(1.96) * col("se_jack"), 4).as("ci_lo"),
        round(col("mean_price") + lit(1.96) * col("se_jack"), 4).as("ci_hi"))
  }

  /** Multivariate OLS by normal equations: o_totalprice regressed on two
    * per-order lineitem features (line count, total quantity), solved in
    * closed form with Cramer's rule over the 3x3 moment matrix. EVERY
    * moment is an exact decimal sum, so the only float work is the fixed
    * determinant arithmetic at the end — one expression tree evaluated once
    * on a single row, written identically in both dialects and rounded at
    * 1e-8. This is the scale shape for linear models over tabular facts:
    * one co-partitioned fact-fact join, one global aggregate of 10 moments,
    * and a driver-free closed-form solve (contrast gradient descent, which
    * would be 100 corpus passes).
    */
  def qMultiRegression(t: Tables): DataFrame = {
    val per = t.lineitem.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("x1"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).as("x2d"))
      .select(col("l_orderkey"), col("x1"), col("x2d").cast("long").as("x2"))
    val joined = t.orders
      .select(col("o_orderkey"), col("o_totalprice").as("y"))
      .join(per, col("o_orderkey") === col("l_orderkey"))
    val m = joined.agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("x1")).cast("double").as("a"),
      sum(col("x2")).cast("double").as("b"),
      sum(col("x1") * col("x1")).cast("double").as("c"),
      sum(col("x1") * col("x2")).cast("double").as("d"),
      sum(col("x2") * col("x2")).cast("double").as("e"),
      sum(col("y").cast(DecimalType(18, 2))).cast("double").as("p"),
      sum((col("x1") * col("y")).cast(DecimalType(28, 2))).cast("double")
        .as("q"),
      sum((col("x2") * col("y")).cast(DecimalType(28, 2))).cast("double")
        .as("r"),
      sum((col("y") * col("y")).cast(DecimalType(30, 4))).cast("double")
        .as("yy"))
    val det = col("n") * (col("c") * col("e") - col("d") * col("d")) -
      col("a") * (col("a") * col("e") - col("d") * col("b")) +
      col("b") * (col("a") * col("d") - col("c") * col("b"))
    val det0 = col("p") * (col("c") * col("e") - col("d") * col("d")) -
      col("a") * (col("q") * col("e") - col("d") * col("r")) +
      col("b") * (col("q") * col("d") - col("c") * col("r"))
    val det1 = col("n") * (col("q") * col("e") - col("d") * col("r")) -
      col("p") * (col("a") * col("e") - col("d") * col("b")) +
      col("b") * (col("a") * col("r") - col("q") * col("b"))
    val det2 = col("n") * (col("c") * col("r") - col("q") * col("d")) -
      col("a") * (col("a") * col("r") - col("q") * col("b")) +
      col("p") * (col("a") * col("d") - col("c") * col("b"))
    m.select(col("n").cast("long").as("n_orders"),
        (det0 / det).as("b0"), (det1 / det).as("b1"), (det2 / det).as("b2"),
        col("p"), col("q"), col("r"), col("yy"), col("a"), col("b"))
      .select(col("n_orders"),
        round(col("b0"), 8).as("beta0"),
        round(col("b1"), 8).as("beta1"),
        round(col("b2"), 8).as("beta2"),
        round(lit(1.0) -
          (col("yy") - col("b0") * col("p") - col("b1") * col("q") -
            col("b2") * col("r")) /
          (col("yy") - col("p") * col("p") / col("n_orders")), 8).as("r2"))
  }

  /** Trailing 30-day rolling correlation between the daily revenue total
    * and the daily order count. Two-stage shape: collapse the fact to one
    * row per day first (the window then runs over a dimension-sized
    * series, never the fact), and compute Pearson from EXACT windowed
    * moment sums — decimal revenue sums and integer counts over a
    * day-keyed RANGE frame are order-free, so only the final fixed
    * composite (the corr formula) touches floats, rounded at 1e-9.
    * Degenerate windows (zero variance on either side) yield null in both
    * engines via the same guard.
    */
  def qRollingCorr(t: Tables, days: Int = 30): DataFrame = {
    val daily = t.orders
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("x"),
        count(lit(1)).as("y"))
      .withColumn("dn", datediff(col("d"), lit("1970-01-01").cast("date")))
    val w = Window.orderBy("dn").rangeBetween(-(days - 1).toLong, 0L)
    val m = daily.select(col("d"), col("dn"),
      count(lit(1)).over(w).as("n"),
      sum(col("x")).over(w).cast("double").as("sx"),
      sum(col("y")).over(w).cast("double").as("sy"),
      sum((col("x") * col("x")).cast(DecimalType(38, 4))).over(w)
        .cast("double").as("sxx"),
      sum(col("y") * col("y")).over(w).cast("double").as("syy"),
      sum((col("x") * col("y")).cast(DecimalType(38, 2))).over(w)
        .cast("double").as("sxy"))
    m.select(date_format(col("d"), "yyyy-MM-dd").as("day"), col("n"),
        round(
          when(
            (col("n") * col("sxx") - col("sx") * col("sx")) === 0.0 ||
            (col("n") * col("syy") - col("sy") * col("sy")) === 0.0,
            lit(null))
          .otherwise(
            (col("n") * col("sxy") - col("sx") * col("sy")) /
              (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
               sqrt(col("n") * col("syy") - col("sy") * col("sy")))), 9)
          .as("corr30"))
      .orderBy("day")
  }

  /** Kaplan–Meier survival of time-to-repeat-purchase: per customer, the
    * duration (days) from first order to the first LATER order date, right-
    * censored at the corpus horizon for one-time customers. First/next are
    * defined by MIN over dates (not row_number), so same-day order pairs
    * cannot introduce an engine-dependent tie-break. Risk sets are exact
    * integer window arithmetic; the survival curve's running product is
    * exp of an EXACT running decimal sum of per-step ln factors (each
    * rounded once at 1e-12, far above ulp drift) — a raw double cumulative
    * sum would depend on the window aggregator's summation tree and could
    * not hash-match across engines. If the final event exhausts the risk
    * set, survival is pinned to exactly 0 (ln would diverge).
    */
  def qKaplanMeier(t: Tables): DataFrame = {
    val o = t.orders.select(col("o_custkey").as("ck"),
      to_date(col("o_orderdate")).as("d"))
    val t0 = o.groupBy("ck").agg(min("d").as("t0"))
    val t1 = o.join(t0, "ck").filter(col("d") > col("t0"))
      .groupBy("ck").agg(min("d").as("t1"))
    val horizon = o.agg(max("d").as("dmax"))
    val subj = t0.join(t1, Seq("ck"), "left")
      .crossJoin(broadcast(horizon))
      .select(
        when(col("t1").isNotNull, datediff(col("t1"), col("t0")))
          .otherwise(datediff(col("dmax"), col("t0"))).cast("long").as("dur"),
        when(col("t1").isNotNull, 1L).otherwise(0L).as("event"))
    val byT = subj.groupBy("dur")
      .agg(count(lit(1)).as("m"), sum("event").as("n_events"))
    val total = subj.agg(count(lit(1)).as("n_total"))
    val wPrior = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.orderBy("dur")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byT.crossJoin(broadcast(total))
      .withColumn("n_risk",
        col("n_total") - coalesce(sum("m").over(wPrior), lit(0L)))
      .filter(col("n_events") > 0)
      .withColumn("lnf",
        when(col("n_events") < col("n_risk"),
          round(log(lit(1.0) - col("n_events").cast("double") /
            col("n_risk").cast("double")), 12).cast(DecimalType(18, 12)))
          .otherwise(lit(null).cast(DecimalType(18, 12))))
      .withColumn("surv",
        when(col("n_events") === col("n_risk"), lit(0.0))
          .otherwise(round(exp(sum("lnf").over(wRun).cast("double")), 6)))
      .select(col("dur"), col("n_risk"), col("n_events"), col("surv"))
      .orderBy("dur")
  }

  /** Mann-Whitney U (Wilcoxon rank-sum) comparing l_quantity between the
    * 'R' and 'A' return-flag populations — the nonparametric two-sample
    * test a pipeline reaches for when distributions are non-normal.
    *
    * Exactness: the U statistic is computed in the doubled-rank domain
    * (2U1 = Σ_v c1(v)·(2·cumc2(<v) + c2(v))) so tie midranks (x.5) never
    * touch a float; only the final tie-corrected normal approximation is
    * a double, rounded at 1e-9. Scale shape: one hash aggregate reduces
    * the corpus to its distinct-value domain (l_quantity: 50 values);
    * the single-partition window runs over that bounded domain frame, not
    * the data.
    */
  def qMannWhitney(t: Tables): DataFrame = {
    val byVal = t.lineitem
      .filter(col("l_returnflag").isin("R", "A"))
      .groupBy(col("l_quantity").as("v"))
      .agg(
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("c1"),
        sum(when(col("l_returnflag") === "A", 1L).otherwise(0L)).as("c2"))
    val wPrior = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    val terms = byVal
      .withColumn("less2", coalesce(sum("c2").over(wPrior), lit(0L)))
      // multiply in DECIMAL: count x cumulative-count products overflow
      // long at full corpus scale
      .withColumn("u2_term", col("c1").cast(DecimalType(28, 0)) *
        (lit(2L) * col("less2") + col("c2")))
      .withColumn("tie", col("c1") + col("c2"))
    terms.agg(
        sum("c1").as("n1"),
        sum("c2").as("n2"),
        sum(col("u2_term")).as("u2x"),
        // cube in DECIMAL: a hot tie group at full scale overflows long³
        sum(col("tie").cast(DecimalType(28, 0)) * col("tie") * col("tie") -
          col("tie")).as("tie3"))
      .select(
        col("n1"), col("n2"),
        (col("u2x").cast("double") / 2.0).as("u1"),
        round(
          // z = (U1 - n1 n2 / 2) / sqrt(n1 n2 ((n+1) - Σ(t³-t)/(n(n-1))) / 12)
          (col("u2x").cast("double") / 2.0 -
            col("n1").cast("double") * col("n2").cast("double") / 2.0) /
            sqrt(col("n1").cast("double") * col("n2").cast("double") / 12.0 *
              ((col("n1") + col("n2") + 1).cast("double") -
                col("tie3").cast("double") /
                  ((col("n1") + col("n2")).cast("double") *
                    (col("n1") + col("n2") - 1).cast("double")))),
          9).as("z"))
  }

  /** Two-sample Kolmogorov-Smirnov D between the o_totalprice
    * distributions of finished ('F') and open ('O') orders. D is found as
    * max |cum1·n2 - cum2·n1| over the pooled distinct-value domain —
    * an INTEGER numerator, so the supremum location cannot be perturbed
    * by float ECDF rounding; only the final D = num/(n1·n2) is a double.
    * Same scale shape as [[qMannWhitney]]: aggregate to the distinct-value
    * domain first, window over the (bounded) domain frame.
    */
  def qKsTest(t: Tables): DataFrame = {
    val byVal = t.orders
      .filter(col("o_orderstatus").isin("F", "O"))
      .groupBy(col("o_totalprice").as("v"))
      .agg(
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("c1"),
        sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("c2"))
    // ECDF prefix counts via the two-pass prefix (guide §2.4/§5): the
    // distinct-price domain scales with order volume, so the old
    // single-partition running/total windows were a serial funnel; long
    // sums are regrouping-exact — identical cum/total values
    graft.ops.Prefix.running(byVal, Seq(col("v")),
        Seq(
          graft.ops.Prefix.Running("cum1", col("c1"), grandTotal = Some("t1")),
          graft.ops.Prefix.Running("cum2", col("c2"), grandTotal = Some("t2"))))
      // ECDF cross-products in DECIMAL: cum x total overflows long at scale
      .withColumn("num", abs(col("cum1").cast(DecimalType(28, 0)) * col("t2") -
        col("cum2").cast(DecimalType(28, 0)) * col("t1")))
      .agg(max("t1").as("n1"), max("t2").as("n2"), max("num").as("dnum0"))
      .select(
        col("n1"), col("n2"),
        // graded emission as long (exact at test scale; the DECIMAL domain
        // above is what the statistic is computed in)
        col("dnum0").cast("long").as("dnum"),
        (col("dnum0").cast("double") /
          (col("n1").cast("double") * col("n2").cast("double"))).as("d"))
  }

  /** Mahalanobis outliers in the (l_quantity, l_extendedprice) plane: the
    * 2x2 covariance from exact decimal moment sums, closed-form inverse,
    * and the top squared distances — multivariate outlier detection
    * without any per-row second pass (the moment frame broadcasts back
    * over the map-side distance computation).
    *
    * Numerics: moment sums are exact decimals; means/covariance/distance
    * are doubles with the same expression shape on both engines, and d²
    * is rounded at 1e-6 before the ranking cut so the top-k membership is
    * taken on a value both engines agree on (ties break on the line's
    * primary key).
    */
  def qMahalanobis(t: Tables, k: Int = 15): DataFrame = {
    val rows = t.lineitem.select(
      col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
      col("l_quantity").cast(DecimalType(18, 2)).as("x"),
      col("l_extendedprice").cast(DecimalType(18, 2)).as("y"))
    val m = rows.agg(
      count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
      .select(
        col("n").cast("double").as("n"),
        col("sx").cast("double").as("sx"), col("sy").cast("double").as("sy"),
        col("sxy").cast("double").as("sxy"),
        col("sxx").cast("double").as("sxx"),
        col("syy").cast("double").as("syy"))
      .select(
        (col("sx") / col("n")).as("mx"), (col("sy") / col("n")).as("my"),
        ((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1))
          .as("vx"),
        ((col("syy") - col("sy") * col("sy") / col("n")) / (col("n") - 1))
          .as("vy"),
        ((col("sxy") - col("sx") * col("sy") / col("n")) / (col("n") - 1))
          .as("cxy"))
    rows.crossJoin(broadcast(m))
      .withColumn("dx", col("x").cast("double") - col("mx"))
      .withColumn("dy", col("y").cast("double") - col("my"))
      .withColumn("det", col("vx") * col("vy") - col("cxy") * col("cxy"))
      .withColumn("d2", round(
        (col("dx") * col("dx") * col("vy")
          - lit(2.0) * col("dx") * col("dy") * col("cxy")
          + col("dy") * col("dy") * col("vx")) / col("det"), 6))
      .orderBy(col("d2").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(k)
      .select("l_orderkey", "l_linenumber", "d2")
  }

  /** Decision-stump training (the boosting weak learner): for each
    * candidate feature, the best threshold by weighted Gini impurity over
    * the feature's distinct-value domain, plus each side's majority
    * class. Label: l_returnflag = 'R'.
    *
    * Exactness + scale: per feature, the corpus collapses to
    * (value, n, n_pos) in one partial-aggregated shuffle; threshold
    * evaluation is a cumsum window over the DOMAIN frame (the
    * [[qMannWhitney]] shape); the Gini score is the only float, rounded
    * at 1e-9 before the min(struct) argmax with the threshold as
    * tie-break — so the chosen split is engine-exact. All features share
    * one union pipeline; none is ever sorted at fact size.
    */
  def qDecisionStump(t: Tables): DataFrame = {
    val base = t.lineitem.select(
      col("l_quantity"), col("l_discount"), col("l_tax"),
      when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
    val perFeature = Seq("l_quantity", "l_discount", "l_tax").map { f =>
      base.select(lit(f).as("feature"),
        col(f).cast(DecimalType(18, 2)).as("v"), col("y"))
    }.reduce(_ unionByName _)
    val byVal = perFeature
      .groupBy("feature", "v")
      .agg(count(lit(1)).as("n"), sum("y").as("np"))
    val wRun = Window.partitionBy("feature").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("feature")
    val scored = byVal
      .withColumn("nl", sum("n").over(wRun))
      .withColumn("pl", sum("np").over(wRun))
      .withColumn("nt", sum("n").over(wAll))
      .withColumn("pt", sum("np").over(wAll))
      .filter(col("nl") < col("nt")) // a split must leave a right side
      .withColumn("nr", col("nt") - col("nl"))
      .withColumn("pr", col("pt") - col("pl"))
      // weighted Gini: Σ_side (n_side/n) * (1 - p² - q²), expanded to
      // divisions of exact integer counts
      .withColumn("gini", round(
        (col("nl").cast("double") / col("nt").cast("double")) *
          (lit(1.0)
            - (col("pl").cast("double") / col("nl").cast("double")) *
              (col("pl").cast("double") / col("nl").cast("double"))
            - ((col("nl") - col("pl")).cast("double") / col("nl").cast("double")) *
              ((col("nl") - col("pl")).cast("double") / col("nl").cast("double"))) +
        (col("nr").cast("double") / col("nt").cast("double")) *
          (lit(1.0)
            - (col("pr").cast("double") / col("nr").cast("double")) *
              (col("pr").cast("double") / col("nr").cast("double"))
            - ((col("nr") - col("pr")).cast("double") / col("nr").cast("double")) *
              ((col("nr") - col("pr")).cast("double") / col("nr").cast("double"))),
        9))
    scored
      .groupBy("feature")
      .agg(min(struct(col("gini").as("g"), col("v").as("thr"),
        col("nl").as("bnl"), col("pl").as("bpl"),
        col("nr").as("bnr"), col("pr").as("bpr"))).as("best"))
      .select(
        col("feature"),
        col("best.thr").cast("double").as("threshold"),
        col("best.g").as("gini"),
        (col("best.bpl") * 2 > col("best.bnl")).as("left_predicts_pos"),
        (col("best.bpr") * 2 > col("best.bnr")).as("right_predicts_pos"))
      .orderBy("feature")
  }

  /** Rank-based AUC of the text quality score as a predictor of
    * lang = 'en' — the standard threshold-free ranking metric, computed
    * through the [[qMannWhitney]] identity AUC = U₁/(n₁n₂) in the
    * doubled-rank integer domain: ties and the supremum never touch a
    * float, AUC is one division at the end. Same scale shape: one
    * aggregate to the (rounded) score domain, a domain-sized cumsum.
    */
  def qScoreAuc(t: Tables): DataFrame = {
    val byVal = t.documents
      .select(
        round(graft.ext.TextAnalysis.qualityExpr(col("text")), 9).as("v"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      .groupBy("v")
      .agg(
        sum(col("y")).as("c1"),
        sum(lit(1L) - col("y")).as("c2"))
    // exclusive prefix count via the two-pass prefix (guide §2.4/§5):
    // the rounded-score domain scales with the corpus, so the old
    // single-partition window was a serial funnel; identical values
    graft.ops.Prefix.running(byVal, Seq(col("v")),
        Seq(graft.ops.Prefix.Running("less2_p", col("c2"),
          inclusive = false)))
      .withColumn("less2", coalesce(col("less2_p"), lit(0L)))
      .withColumn("u2_term", col("c1").cast(DecimalType(28, 0)) *
        (lit(2L) * col("less2") + col("c2")))
      .agg(
        sum("c1").as("n_pos"),
        sum("c2").as("n_neg"),
        sum(col("u2_term")).as("u2x"))
      .select(
        col("n_pos"), col("n_neg"),
        (col("u2x").cast("double") / 2.0 /
          (col("n_pos").cast("double") * col("n_neg").cast("double")))
          .as("auc"))
  }

  /** Kendall tau-b rank correlation between supplier account balance and
    * total lineitem revenue. The corpus-sized work is the per-supplier
    * revenue aggregate (one shuffle); the O(k²) concordance self-join then
    * runs on the aggregated frame — k = supplier count, bounded and tiny
    * relative to the fact data, the standard shape for rank statistics
    * over entity aggregates. Concordant/discordant/tie counts are integers;
    * tau is the only float, rounded at 1e-9.
    */
  def qKendallTau(t: Tables): DataFrame = {
    val per = t.supplier
      .join(t.lineitem.groupBy(col("l_suppkey").as("sk"))
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2))).as("rev")),
        col("s_suppkey") === col("sk"), "left")
      .select(
        col("s_suppkey").as("id"),
        col("s_acctbal").cast(DecimalType(18, 2)).as("x"),
        coalesce(col("rev"), lit(0).cast(DecimalType(18, 2))).as("y"))
    val a = per.select(col("id").as("ida"), col("x").as("xa"), col("y").as("ya"))
    val b = per.select(col("id").as("idb"), col("x").as("xb"), col("y").as("yb"))
    a.join(b, col("ida") < col("idb"))
      .agg(
        sum(when((col("xa") < col("xb") && col("ya") < col("yb")) ||
          (col("xa") > col("xb") && col("ya") > col("yb")), 1L)
          .otherwise(0L)).as("concordant"),
        sum(when((col("xa") < col("xb") && col("ya") > col("yb")) ||
          (col("xa") > col("xb") && col("ya") < col("yb")), 1L)
          .otherwise(0L)).as("discordant"),
        sum(when(col("xa") === col("xb") && col("ya") =!= col("yb"), 1L)
          .otherwise(0L)).as("tie_x"),
        sum(when(col("xa") =!= col("xb") && col("ya") === col("yb"), 1L)
          .otherwise(0L)).as("tie_y"))
      .select(
        col("concordant"), col("discordant"), col("tie_x"), col("tie_y"),
        round(
          (col("concordant") - col("discordant")).cast("double") /
            sqrt((col("concordant") + col("discordant") + col("tie_x"))
              .cast("double") *
              (col("concordant") + col("discordant") + col("tie_y"))
                .cast("double")),
          9).as("tau_b"))
  }

  /** Cohen's kappa between two deterministic document labelers — the
    * inter-annotator-agreement check a labeling/filter pipeline runs
    * before trusting weak heuristics as training signal. Rater A flags
    * length (n_chars >= 300), rater B flags whitespace token count
    * (>= 55); kappa corrects their raw agreement for chance.
    *
    * Computed per language in the INTEGER form
    *   kappa = (n*agree - (a1*b1 + a0*b0)) / (n^2 - (a1*b1 + a0*b0))
    * — numerator and denominator are exact BIGINTs from one aggregate
    * pass, so the single double division is bit-identical in any engine
    * (no marginal-probability float chain to diverge on). pe == 1
    * (degenerate constant raters) yields null, not a division blow-up.
    *
    * Scale: one hash aggregate over the corpus, per-lang rows out.
    */
  def qCohensKappa(t: Tables): DataFrame = {
    val a = (col("n_chars") >= 300).cast("long")
    val b = (graft.ext.TextAnalysis.tokenCount(col("text")) >= 55).cast("long")
    t.documents
      .select(col("lang"), a.as("ra"), b.as("rb"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n"),
        sum(col("ra")).as("a1"),
        sum(col("rb")).as("b1"),
        sum(when(col("ra") === col("rb"), 1L).otherwise(0L)).as("agree"))
      .withColumn("sumprod",
        col("a1") * col("b1") + (col("n") - col("a1")) * (col("n") - col("b1")))
      .withColumn("po", col("agree").cast("double") / col("n").cast("double"))
      .withColumn("kappa",
        when(col("n") * col("n") === col("sumprod"), lit(null))
          .otherwise(
            (col("n") * col("agree") - col("sumprod")).cast("double") /
              (col("n") * col("n") - col("sumprod")).cast("double")))
      .select("lang", "n", "agree", "po", "kappa")
      .orderBy("lang")
  }

  /** Monthly revenue series per market segment in exact cents — the shared
    * input of the trend tests below. The month index is scale-free (the
    * time dimension does not grow with data volume), so the per-segment
    * series stays O(months) rows no matter the corpus size.
    */
  private def monthlySeries(t: Tables): DataFrame = t.orders
    .join(t.customer.select("c_custkey", "c_mktsegment"),
      col("o_custkey") === col("c_custkey"))
    .groupBy(col("c_mktsegment").as("segment"),
      ((year(col("o_orderdate")) - 1992) * 12 + month(col("o_orderdate")) - 1)
        .cast("long").as("x"))
    .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))

  /** Mann–Kendall trend test per market segment over the monthly revenue
    * series: S = sum over ordered month pairs of sign(rev_j - rev_i), with
    * the tie-corrected variance Var(S) = [n(n-1)(2n+5) - sum_t t(t-1)(2t+5)]
    * / 18 and the continuity-corrected normal score. The nonparametric
    * complement of [[graft.ops.Analytics.qRegressionTrend]]'s least-squares
    * slope: it detects ANY monotone drift without assuming linearity.
    *
    * Numerics: revenue is an exact DECIMAL, so every pairwise comparison
    * and the whole S / variance chain is integer arithmetic — the only
    * doubles are the final two divisions, bit-identical in any engine.
    *
    * Scale: the pairwise self-join runs on the AGGREGATED series
    * (segments x months rows), not on orders — months are bounded by the
    * calendar, so the quadratic is over a time dimension that does not
    * grow at 100 TB. One shuffle for the monthly rollup; everything after
    * is metadata-sized.
    */
  def qMannKendall(t: Tables): DataFrame = {
    // materialize the dimension-sized series ONCE: four consumers (pair
    // scan, tie census, month count — each with two join sides) would
    // otherwise each re-run the orders⋈customer rollup
    val m = monthlySeries(t).loopCheckpoint()
    val a = m.select(col("segment"), col("x").as("xa"), col("rev").as("ra"))
    val b = m.select(col("segment").as("seg_b"), col("x").as("xb"),
      col("rev").as("rb"))
    val s = a
      .join(b, col("segment") === col("seg_b") && col("xa") < col("xb"))
      .groupBy("segment")
      .agg(sum(when(col("rb") > col("ra"), 1L)
        .when(col("rb") < col("ra"), -1L).otherwise(0L)).as("s_stat"))
    // tie-group sizes over the revenue values (exact decimal equality)
    val ties = m.groupBy("segment", "rev").agg(count(lit(1)).as("tsz"))
      .groupBy("segment")
      .agg(
        count(lit(1)).as("n_groups"),
        sum(col("tsz") * (col("tsz") - 1L) * (lit(2L) * col("tsz") + 5L))
          .cast("long").as("tie_term"))
    val n = m.groupBy("segment").agg(count(lit(1)).as("n_months"))
    val out = n.join(s, "segment").join(ties, "segment")
      .withColumn("var18",
        col("n_months") * (col("n_months") - 1L) *
          (lit(2L) * col("n_months") + 5L) - col("tie_term"))
      // raw doubles out: every step after the exact-integer aggregate is a
      // single correctly-rounded IEEE op (divide, sqrt), identical in any
      // engine — rounding would only add a half-boundary hazard
      .withColumn("var_s", col("var18").cast("double") / lit(18.0))
      .withColumn("z",
        when(col("s_stat") > 0L,
          (col("s_stat") - 1L).cast("double") / sqrt(col("var_s")))
          .when(col("s_stat") < 0L,
            (col("s_stat") + 1L).cast("double") / sqrt(col("var_s")))
          .otherwise(lit(0.0)))
      .select(col("segment"), col("n_months"), col("s_stat"),
        col("var_s"), col("z"))
      .orderBy("segment")
      .loopCheckpoint() // segment-sized; lets the series checkpoint go
    graft.Engine.freeCheckpoint(m)
    out
  }

  /** Theil–Sen robust trend per market segment: the MEDIAN of all pairwise
    * slopes (rev_j - rev_i) / (j - i) over the monthly revenue series —
    * the outlier-resistant alternative to the least-squares slope (one
    * blow-out month moves the mean line but not the pairwise median).
    *
    * The median is picked POSITIONALLY (row_number over a total slope
    * order, average of the two middle elements) instead of any built-in
    * median/percentile, whose interpolation rules differ across engines.
    * Each slope is one IEEE division of exact integers (cent difference /
    * month difference), so the sorted sequence — and the picked values —
    * are bit-identical in any engine.
    *
    * Scale: as [[qMannKendall]] — quadratic only in the bounded month
    * dimension, on the already-aggregated series.
    */
  def qTheilSen(t: Tables): DataFrame = {
    // one series materialization for the pair scan + two median picks
    // (the qMannKendall rationale)
    val m = monthlySeries(t).loopCheckpoint()
    val a = m.select(col("segment"), col("x").as("xa"), col("rev").as("ra"))
    val b = m.select(col("segment").as("seg_b"), col("x").as("xb"),
      col("rev").as("rb"))
    val slopes = a
      .join(b, col("segment") === col("seg_b") && col("xa") < col("xb"))
      .select(col("segment"), col("xa"), col("xb"),
        ((col("rb") - col("ra")).cast("double") /
          (col("xb") - col("xa")).cast("double")).as("slope"))
    val w = Window.partitionBy("segment")
      .orderBy(col("slope"), col("xa"), col("xb"))
    val ranked = slopes
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("np", count(lit(1)).over(Window.partitionBy("segment")))
    // lo == hi for odd counts; the average of the two picks is then the
    // element itself. Integer `div`, not `/` (Spark's `/` on longs is
    // IEEE division).
    val out = ranked
      .groupBy("segment")
      .agg(max(col("np")).cast("long").as("n_pairs"))
      .join(
        ranked.filter(col("rk") === expr("(np + 1) div 2"))
          .select(col("segment"), col("slope").as("s_lo")), "segment")
      .join(
        ranked.filter(col("rk") === expr("(np + 2) div 2"))
          .select(col("segment"), col("slope").as("s_hi")), "segment")
      // raw double: slopes are IEEE divisions of exact integers and the
      // midpoint is one add + one halving — identical bits in any engine
      .withColumn("ts_slope", (col("s_lo") + col("s_hi")) / lit(2.0))
      .select("segment", "n_pairs", "ts_slope")
      .orderBy("segment")
      .loopCheckpoint()
    graft.Engine.freeCheckpoint(m)
    out
  }

  /** Cramér's V effect size for the language x source contingency of the
    * document corpus — the normalized companion of [[qChi2]] that answers
    * "HOW strongly is language associated with source" on a 0..1 scale,
    * the check a mixture designer runs before stratifying by one of two
    * correlated keys.
    *
    * Chi-square terms are rounded to 9 dp and summed as DECIMAL (the
    * [[qChi2]] recipe) so the 2-digit-cell sum cannot drift with
    * aggregation order; V = sqrt(chi2 / (n * min(r-1, c-1))) is then a
    * fixed double chain. One hash aggregate over the corpus; the grid is
    * (languages x sources)-sized metadata.
    */
  def qCramersV(t: Tables): DataFrame = {
    val obs = t.documents.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("o"))
    val rt = obs.groupBy("lang").agg(sum(col("o")).cast("long").as("rt"))
    val ct = obs.groupBy("source").agg(sum(col("o")).cast("long").as("ct"))
    val grid = rt.crossJoin(ct)
      .join(obs, Seq("lang", "source"), "left")
      .na.fill(0L, Seq("o"))
    val tot = grid.agg(sum(col("o")).cast("long").as("n")).crossJoin(
      grid.agg(countDistinct(col("lang")).as("r"),
        countDistinct(col("source")).as("c")))
    grid.crossJoin(broadcast(tot))
      .withColumn("e",
        col("rt").cast("double") * col("ct").cast("double") /
          col("n").cast("double"))
      .withColumn("term",
        round((col("o").cast("double") - col("e")) *
          (col("o").cast("double") - col("e")) / col("e"), 9)
          .cast(DecimalType(20, 10)))
      .groupBy("n", "r", "c")
      .agg(sum(col("term")).cast("double").as("chi2"),
        count(lit(1)).as("n_cells"))
      .withColumn("dof", (col("r") - 1L) * (col("c") - 1L))
      // chi2 is the decimal term-sum cast once to double (the qChi2
      // contract); V is then a fixed divide+sqrt chain of that value —
      // identical in any engine, so both go out raw
      .withColumn("cramers_v",
        sqrt(col("chi2") /
          (col("n").cast("double") *
            least(col("r") - 1L, col("c") - 1L).cast("double"))))
      .select(col("n").as("n_docs"), col("n_cells"),
        col("dof").cast("long").as("dof"), col("chi2"),
        col("cramers_v"))
  }

  /** Partial correlation r(price, qty | discount) per line status: does
    * the price–quantity relationship survive once the discount channel is
    * controlled for, or was it all discount-driven? Computed from the
    * same exact DECIMAL moment sums as [[qStats]] (one aggregate pass for
    * all three pairwise correlations), then the closed form
    * r_xy·z = (r_xy − r_xz·r_yz) / √((1−r_xz²)(1−r_yz²)) — a composite
    * float chain, rounded far above the cross-engine ulp.
    */
  def qPartialCorr(t: Tables): DataFrame = {
    val n = count(lit(1)).cast("double")
    def r(nd: Column, sab: Column, sa: Column, sb: Column,
        saa: Column, sbb: Column): Column =
      (nd * sab - sa * sb) /
        sqrt((nd * saa - sa * sa) * (nd * sbb - sb * sb))
    fanned(t.lineitem, "l_linestatus", "l_extendedprice", "l_quantity",
        "l_discount")
      .groupBy("l_linestatus")
      .agg(
        count(lit(1)).as("n"),
        s1("l_extendedprice").as("sx"), s2("l_extendedprice").as("sxx"),
        s1("l_quantity").as("sy"), s2("l_quantity").as("syy"),
        s1("l_discount").as("sz"), s2("l_discount").as("szz"),
        sxy("l_extendedprice", "l_quantity").as("sxy_"),
        sxy("l_extendedprice", "l_discount").as("sxz_"),
        sxy("l_quantity", "l_discount").as("syz_"),
        n.as("nd"))
      .withColumn("rxy", r(col("nd"), col("sxy_"), col("sx"), col("sy"),
        col("sxx"), col("syy")))
      .withColumn("rxz", r(col("nd"), col("sxz_"), col("sx"), col("sz"),
        col("sxx"), col("szz")))
      .withColumn("ryz", r(col("nd"), col("syz_"), col("sy"), col("sz"),
        col("syy"), col("szz")))
      .select(
        col("l_linestatus"), col("n"),
        round(col("rxy"), 9).as("r_price_qty"),
        round(col("rxz"), 9).as("r_price_disc"),
        round(col("ryz"), 9).as("r_qty_disc"),
        round((col("rxy") - col("rxz") * col("ryz")) /
          sqrt((lit(1.0) - col("rxz") * col("rxz")) *
            (lit(1.0) - col("ryz") * col("ryz"))), 9)
          .as("partial_r"))
      .orderBy("l_linestatus")
  }

  /** Hill tail-index estimator over order prices: H = (1/k)·Σ ln(x_i /
    * x_{k+1}) on the k largest values, α = 1/H — is the price
    * distribution heavy-tailed enough that means/topk budgets are
    * whale-driven? The top-(k+1) cut is a TakeOrdered (per-partition
    * top-k then merge — never a global sort of the fact table), after
    * which everything runs on k+1 rows. Each log term is rounded to 9 dp
    * into DECIMAL before the sum (libm `ln` may differ in the last ulp
    * across engines; the k-term sum must not amplify it).
    */
  def qHillTail(t: Tables, k: Int = 200): DataFrame = {
    val top = t.orders
      .select((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast("long").as("c"), col("o_orderkey"))
      .orderBy(col("c").desc, col("o_orderkey"))
      .limit(k + 1)
      .loopCheckpoint() // (k+1)-row frame; windows below are bounded
    val ranked = top.withColumn("rk",
      row_number().over(Window.orderBy(col("c").desc, col("o_orderkey")))
        .cast("long"))
    val thr = ranked.filter(col("rk") === (k + 1).toLong)
      .select(col("c").as("xk1"))
    val out = ranked.filter(col("rk") <= k.toLong)
      .crossJoin(broadcast(thr))
      .agg(
        (sum(
          round(log(col("c").cast("double") / col("xk1").cast("double")), 9)
            .cast(DecimalType(16, 10))).cast("double") /
          lit(k.toDouble)).as("hill_h"),
        max(col("xk1")).as("xk1"))
      .select(
        lit(k.toLong).as("k"),
        (col("xk1").cast("double") / lit(100.0)).as("x_threshold"),
        col("hill_h"),
        (lit(1.0) / col("hill_h")).as("alpha"))
      .loopCheckpoint()
    graft.Engine.freeCheckpoint(top)
    out
  }

  /** One-way ANOVA across the five order priorities on the order total —
    * the "does this categorical move the metric at all" omnibus test that
    * precedes per-pair t-tests. Per-group moments (n, Σx, Σx²) are exact
    * DECIMAL sums in ONE pass over the fact table; the between/within
    * decomposition then runs on the k=5 group rows. Cross-group double
    * sums would be fold-order-dependent, so each group's Σx²/n term is
    * rounded at 1e-4 into DECIMAL and the k-row sums stay decimal-exact —
    * the same determinism treatment qDocEntropy gives its log terms. F and
    * η² are composite chains, rounded above the ulp.
    */
  def qAnova(t: Tables): DataFrame = {
    // SS terms in raw dollars² reach ~1e16, past 2^53 — where DuckDB's
    // two-step decimal→double conversion splits from Spark's single
    // correct rounding (the qSeasonalStrength hazard). F and η² are
    // scale-invariant, so the metric is kilo-dollars: every scaled decimal
    // stays under 2^53 and the decimal→double casts are exact on both
    // engines. SS columns are therefore in k$² units.
    val xk = col("o_totalprice") / lit(1000.0)
    val g = t.orders
      .groupBy(col("o_orderpriority").as("grp"))
      .agg(
        count(lit(1)).as("n"),
        sum(xk.cast(DecimalType(18, 6))).as("sx"),
        sum((xk * xk).cast(DecimalType(24, 6))).as("sxx"))
      // per-group squared-sum-over-n term: one double division, pinned to
      // 4 dp (≫ ulp, ≪ the signal) then back to DECIMAL so the k-row
      // reduction below is order-free
      .withColumn("term",
        round(col("sx").cast("double") * col("sx").cast("double") /
          col("n").cast("double"), 4).cast(DecimalType(24, 4)))
    g.agg(
        count(lit(1)).as("k"),
        sum("n").as("n_total"),
        sum("sx").as("s_all"),
        sum("sxx").as("sxx_all"),
        sum("term").as("term_all"))
      .select(
        col("k"), col("n_total"),
        // SSB = Σ(sx_g²/n_g) − S²/N ; SSW = Σx² − Σ(sx_g²/n_g)
        round(col("term_all").cast("double") -
          col("s_all").cast("double") * col("s_all").cast("double") /
            col("n_total").cast("double"), 4).as("ss_between"),
        round(col("sxx_all").cast("double") -
          col("term_all").cast("double"), 4).as("ss_within"))
      .select(
        col("k"), col("n_total"), col("ss_between"), col("ss_within"),
        round((col("ss_between") / (col("k") - 1).cast("double")) /
          (col("ss_within") /
            (col("n_total") - col("k")).cast("double")), 6).as("f_stat"),
        round(col("ss_between") / (col("ss_between") + col("ss_within")), 6)
          .as("eta_sq"))
  }

  /** Benjamini–Hochberg FDR control over the fixed family of 25
    * nation-level independence tests — the multiple-comparisons gate an
    * experimentation platform runs when one launch is read across many
    * segments. Each nation gets the 2×2 chi-square of membership vs the
    * BUILDING market segment, computed EXACTLY: with cells (a,b,c,d),
    * chi² = N(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)), evaluated in
    * DECIMAL(38,0) and floor-scaled to integer micro-units — no floating
    * point anywhere, so both engines produce the identical statistic.
    * (The DECIMAL(38,0) numerator N·(ad−bc)²·1e6 holds to ~1e6 customers
    * per cell; past that, run the same formula on micro-scaled
    * proportions.)
    *
    * BH step-up needs p-value ORDER and per-rank thresholds; with every
    * test at df=1 the statistic order IS the p-value order, and the
    * thresholds p(i) ≤ i·α/m become fixed critical values
    * c(i) = Qχ²₁(1 − i·α/m) — embedded as integer micro-unit constants
    * for α = 0.05, m = 25 (the test family is part of the spec, the
    * same fixed-constant convention as the SPRT gate's micro-nat LLRs).
    * Reject ranks 1..k*, k* = max{i : stat(i) ≥ c(i)}.
    *
    * Scale: one hash aggregate over customers builds the 25-row test
    * frame; ranking and the k* fold run on that dimension-sized frame
    * (the global window is bounded by m, never by the fact table).
    */
  def qFdrBh(t: Tables): DataFrame = {
    // Qχ²₁(1 − 0.002·i)·1e6 for i = 1..25 (α = 0.05, m = 25)
    val critMicro = Seq(
      9549536L, 8283815L, 7550303L, 7033474L, 6634897L, 6310869L,
      6038143L, 5802874L, 5596149L, 5411894L, 5245785L, 5094632L,
      4956019L, 4828067L, 4709292L, 4598497L, 4494704L, 4397105L,
      4305022L, 4217885L, 4135204L, 4056562L, 3981594L, 3909986L,
      3841459L)
    val per = t.customer
      .groupBy(col("c_nationkey").cast("long").as("nation"))
      .agg(
        count(lit(1)).as("n_nat"),
        sum(when(col("c_mktsegment") === "BUILDING", 1L).otherwise(0L))
          .as("n_seg"))
    val tot = per.agg(
      sum("n_nat").as("nn"), sum("n_seg").as("bb"))
    val stats = per.crossJoin(broadcast(tot))
      .withColumn("delta",
        col("n_seg").cast(DecimalType(38, 0)) *
          (col("nn") - col("n_nat") - col("bb") + col("n_seg")) -
          (col("n_nat") - col("n_seg")).cast(DecimalType(38, 0)) *
            (col("bb") - col("n_seg")))
      .withColumn("chi2_micro",
        expr("""(CAST(nn AS DECIMAL(38,0)) * delta * delta * 1000000) div
                (CAST(n_nat AS DECIMAL(38,0)) * (nn - n_nat) * bb * (nn - bb))"""))
    val byStat = Window.orderBy(col("chi2_micro").desc, col("nation"))
    val all = Window.partitionBy() // m = 25 rows — dimension-sized
    stats
      .withColumn("rnk", row_number().over(byStat).cast("long"))
      .withColumn("crit_micro",
        element_at(array(critMicro.map(lit): _*), col("rnk").cast("int")))
      .withColumn("kstar",
        max(when(col("chi2_micro") >= col("crit_micro"), col("rnk"))
          .otherwise(0L)).over(all))
      .select(col("nation"), col("n_nat"), col("n_seg"),
        col("chi2_micro"), col("rnk"), col("crit_micro"),
        (col("rnk") <= col("kstar")).cast("long").as("rejected"))
      .orderBy("rnk")
  }

  /** Brown–Forsythe variance-equality test (Levene with median centers):
    * does order-value SPREAD differ across priority classes, not just the
    * mean [[qAnova]] compares? The robust screen an experimentation
    * platform runs before trusting a pooled-variance readout.
    *
    * Exactness: an interpolated median of doubles is a ulp minefield, so
    * the center is carried as the INTEGER sum of the two middle elements
    * in cents (`med2`, half-cent units — equal to 2·median exactly); the
    * deviation z = |2·cents − med2| is then an exact long, and the
    * kilo-dollar conversion z/200000.0 is one correctly-rounded double op
    * on an integer < 2⁵³ — bit-identical on every engine. From there the
    * moments run the IDENTICAL DECIMAL pipeline as [[qAnova]]; the F on z
    * is the Brown–Forsythe statistic.
    *
    * Scale: the rank window partitions on the group key (k ≈ 5 bounded
    * partitions over the fact — parallel, no global sort); medians reduce
    * to a k-row broadcast frame; moments are one partial-aggregating pass.
    */
  def qLevene(t: Tables): DataFrame = {
    val byGrp = Window.partitionBy("grp")
    val ranked = t.orders
      .select(col("o_orderpriority").as("grp"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
        col("o_orderkey").as("okey"))
      .withColumn("rn",
        row_number().over(byGrp.orderBy("cents", "okey")).cast("long"))
      .withColumn("n", count(lit(1)).over(byGrp))
    // lower + upper middle element (identical when n is odd ⇒ count once
    // each via two separate guarded sums)
    val meds = ranked.groupBy("grp").agg(
      (sum(when(col("rn") === expr("(n + 1) div 2"), col("cents"))
        .otherwise(0L)) +
        sum(when(col("rn") === expr("n div 2 + 1"), col("cents"))
          .otherwise(0L))).as("med2"))
    val zk = col("z") // |x − med| in kilo-dollars (the qAnova unit choice)
    val g = t.orders
      .select(col("o_orderpriority").as("grp"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .join(broadcast(meds), "grp")
      .withColumn("z",
        abs(lit(2L) * col("cents") - col("med2")).cast("double") /
          lit(200000.0))
      .groupBy("grp")
      .agg(
        count(lit(1)).as("n"),
        sum(zk.cast(DecimalType(18, 6))).as("sx"),
        sum((zk * zk).cast(DecimalType(24, 6))).as("sxx"))
      .withColumn("term",
        round(col("sx").cast("double") * col("sx").cast("double") /
          col("n").cast("double"), 4).cast(DecimalType(24, 4)))
    g.agg(
        count(lit(1)).as("k"),
        sum("n").as("n_total"),
        sum("sx").as("s_all"),
        sum("sxx").as("sxx_all"),
        sum("term").as("term_all"))
      .select(
        col("k"), col("n_total"),
        round(col("term_all").cast("double") -
          col("s_all").cast("double") * col("s_all").cast("double") /
            col("n_total").cast("double"), 4).as("ss_between"),
        round(col("sxx_all").cast("double") -
          col("term_all").cast("double"), 4).as("ss_within"))
      .select(
        col("k"), col("n_total"), col("ss_between"), col("ss_within"),
        round((col("ss_between") / (col("k") - 1).cast("double")) /
          (col("ss_within") /
            (col("n_total") - col("k")).cast("double")), 6).as("f_stat"))
  }

  /** Wilcoxon signed-rank test on paired customer revenue, 1995 vs 1996 —
    * the nonparametric "did the same population spend more next year"
    * readout that survives the heavy right tail Welch's t chokes on.
    * Pairs are customers active in BOTH years; differences are exact
    * cent longs; zero differences drop (the standard Wilcoxon
    * convention). Tied |d| get midranks, carried in DOUBLED units
    * (r2 = 2·minrank + ties − 1) so every rank statistic is an integer —
    * `w2_plus`/`w2_minus` are 2·W⁺/2·W⁻ and hash exactly on any engine.
    * The normal approximation z is the one double chain at the end.
    *
    * Scale: revenue pairs are one shuffle on the customer key; the rank
    * windows run on the pair frame (customer-dimension-sized, NOT
    * fact-sized — same bound as [[graft.ops.Analytics.qGini]]'s rank).
    */
  def qWilcoxon(t: Tables): DataFrame = {
    val rev = t.orders
      .withColumn("yr", year(col("o_orderdate")))
      .filter(col("yr").isin(1995, 1996))
      .groupBy("o_custkey", "yr")
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
    val pairs = rev.filter(col("yr") === 1995)
      .select(col("o_custkey"), col("cents").as("c95"))
      .join(rev.filter(col("yr") === 1996)
        .select(col("o_custkey"), col("cents").as("c96")), "o_custkey")
      .withColumn("d", col("c96") - col("c95"))
      .filter(col("d") =!= 0L)
      .withColumn("ad", abs(col("d")))
    // rank over |d| via the two-pass prefix (guide §2.4/§5): rank(ad) =
    // 1 + count of pairs with smaller ad, read off an ad-aggregated frame
    // (unique keys) instead of a single-partition rank window over the
    // customer-scaling pair frame. The aggregate's exchange and the
    // join-back's are the same hash(ad) subtree, so the pair frame is
    // shuffled once (ReuseExchange); tie counts ride along for free.
    val adRanks = graft.ops.Prefix.running(
        pairs.groupBy("ad").agg(count(lit(1)).as("nties")),
        Seq(col("ad")),
        Seq(graft.ops.Prefix.Running("prior", col("nties"),
          inclusive = false)))
      .select(col("ad"),
        (coalesce(col("prior"), lit(0L)) + 1L).as("minrank"), col("nties"))
    pairs
      .join(adRanks, "ad")
      .withColumn("r2", lit(2L) * col("minrank") + col("nties") - 1L)
      .agg(
        count(lit(1)).as("n_pairs"),
        // coalesce: an empty pair set (tiny fixtures) must yield 0, not
        // the SQL empty-sum NULL, in BOTH engines
        coalesce(sum(when(col("d") > 0, col("r2")).otherwise(0L)), lit(0L))
          .as("w2_plus"),
        coalesce(sum(when(col("d") < 0, col("r2")).otherwise(0L)), lit(0L))
          .as("w2_minus"))
      .select(
        col("n_pairs"), col("w2_plus"), col("w2_minus"),
        // z = (W⁺ − n(n+1)/4) / sqrt(n(n+1)(2n+1)/24), W⁺ = w2_plus/2
        round((col("w2_plus").cast("double") / 2.0 -
          col("n_pairs").cast("double") *
            (col("n_pairs").cast("double") + 1.0) / 4.0) /
          sqrt(col("n_pairs").cast("double") *
            (col("n_pairs").cast("double") + 1.0) *
            (lit(2.0) * col("n_pairs").cast("double") + 1.0) / 24.0), 6)
          .as("z_approx"))
  }

  /** Grouped higher moments — skewness and excess kurtosis of order value
    * per priority class, completing [[qStats]]' mean/std profile (the
    * tail-shape diagnostics a monitoring stack alarms on before a mean
    * ever moves). One partial-aggregating pass collects the four raw
    * power sums in DECIMAL; the central-moment algebra is a single
    * pinned double chain mirrored token-for-token in the oracle.
    *
    * Unit choice: deca-kilo-dollars (x/10⁴). Both statistics are
    * scale-invariant, and at this unit x⁴ sums stay ~1e11 — far inside
    * 2⁵³, so even DuckDB's two-step decimal→double conversion is exact
    * (the qAnova/qSeasonalStrength hazard never arms).
    */
  def qMoments(t: Tables): DataFrame =
    momentsEpilogue(momentSums(t.orders))

  /** Power-sum frame shared by the batch query and the streaming drain:
    * a streaming execution's state is one (count + four DECIMAL sums)
    * row per priority class. */
  private[graft] def momentSums(orders: DataFrame): DataFrame = {
    val x = col("o_totalprice") / lit(10000.0)
    orders
      .groupBy(col("o_orderpriority").as("grp"))
      .agg(
        count(lit(1)).as("n"),
        sum(x.cast(DecimalType(18, 6))).as("s1"),
        sum((x * x).cast(DecimalType(24, 6))).as("s2"),
        sum((x * x * x).cast(DecimalType(28, 6))).as("s3"),
        sum((x * x * x * x).cast(DecimalType(32, 6))).as("s4"))
  }

  /** Central-moment algebra over the k-row sums frame (one pinned
    * double chain, mirrored token-for-token in the oracle). */
  private[graft] def momentsEpilogue(sums: DataFrame): DataFrame = {
    def d(c: Column): Column = c.cast("double")
    sums
      .withColumn("mean", d(col("s1")) / d(col("n")))
      .withColumn("m2",
        d(col("s2")) / d(col("n")) - col("mean") * col("mean"))
      .withColumn("m3",
        d(col("s3")) / d(col("n")) -
          lit(3.0) * col("mean") * (d(col("s2")) / d(col("n"))) +
          lit(2.0) * col("mean") * col("mean") * col("mean"))
      .withColumn("m4",
        d(col("s4")) / d(col("n")) -
          lit(4.0) * col("mean") * (d(col("s3")) / d(col("n"))) +
          lit(6.0) * col("mean") * col("mean") * (d(col("s2")) / d(col("n"))) -
          lit(3.0) * col("mean") * col("mean") * col("mean") * col("mean"))
      .select(
        col("grp"), col("n"),
        round(col("mean"), 9).as("mean_10k"),
        round(col("m3") / (col("m2") * sqrt(col("m2"))), 6).as("skewness"),
        round(col("m4") / (col("m2") * col("m2")) - lit(3.0), 6)
          .as("kurtosis_excess"))
      .orderBy("grp")
  }

  /** Lorenz-curve deciles of customer lifetime revenue — the
    * concentration readout behind [[graft.ops.Analytics.qGini]]'s single
    * coefficient: per revenue-decile member counts, decile revenue, and
    * the cumulative share curve ("the top decile holds X% of revenue").
    * Customers rank by (spend, key) so the decile cut is a pure function
    * of the data; decile membership is the ceiling split
    * ⌈i·10/n⌉ computed in INTEGER arithmetic — no ntile() semantics to
    * match across engines. Cents stay exact longs; the share division is
    * the one double chain, on the 10-row frame.
    *
    * Scale: one customer-key aggregate (fact-sized shuffle), then the
    * rank window on the customer-dimension frame — the same bound every
    * rank-based statistic here accepts; the decile rollup is 10 rows.
    */
  def qLorenz(t: Tables): DataFrame = {
    // rank + total via the two-pass prefix (guide §2.4/§5) — the customer
    // frame never single-partitions; the decile rollup below stays on its
    // 10-row frame
    val byDecile = Window.orderBy("decile")
    val all = Window.partitionBy()
    val per = t.orders
      .groupBy("o_custkey")
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
    graft.ops.Prefix.running(per, Seq(col("cents"), col("o_custkey")), Nil,
        rowNumber = Some("i"), totalCount = Some("n"))
      .withColumn("decile", expr("CAST((i * 10 + n - 1) div n AS BIGINT)"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("cents")).as("decile_cents"))
      .withColumn("cum_cents", sum(col("decile_cents")).over(byDecile))
      .withColumn("total_cents", sum(col("decile_cents")).over(all))
      .select(col("decile"), col("n_customers"), col("decile_cents"),
        col("cum_cents"),
        round(col("cum_cents").cast("double") /
          col("total_cents").cast("double"), 9).as("cum_share"))
      .orderBy("decile")
  }

  /** Cohen's d (and Hedges' g) for the customer-parity A/B split over
    * per-customer revenue — the standardized effect size an experiment
    * readout reports next to [[qWelchTtest]]'s p-value ("significant,
    * but how big?"). Per-arm moments are exact decimal cent sums (the
    * qAnova recipe in kilo-dollar units); the pooled-SD chain is the
    * only float algebra, rounded at 6, far above ulp.
    *
    * Scale: one customer-key aggregate then one 2-row arm aggregate —
    * nothing after the first exchange exceeds the arm domain.
    */
  def qCohensD(t: Tables): DataFrame = {
    val xk = col("cents").cast("double") / lit(100000.0) // kilo-dollars
    val perCust = t.orders
      .groupBy(col("o_custkey").as("ck"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        .as("cents"))
    val arms = perCust
      .groupBy(pmod(col("ck"), lit(2)).cast("long").as("arm"))
      .agg(
        count(lit(1)).as("n"),
        sum(xk.cast(DecimalType(18, 6))).as("sx"),
        sum((xk * xk).cast(DecimalType(24, 6))).as("sxx"))
    val a = arms.filter(col("arm") === 1)
      .select(col("n").as("n1"), col("sx").as("sx1"), col("sxx").as("sxx1"))
    val b = arms.filter(col("arm") === 0)
      .select(col("n").as("n0"), col("sx").as("sx0"), col("sxx").as("sxx0"))
    def m(sx: String, n: String) =
      col(sx).cast("double") / col(n).cast("double")
    // sample variance from exact sums: (sxx - sx²/n) / (n - 1)
    def v(sxx: String, sx: String, n: String) =
      (col(sxx).cast("double") -
        col(sx).cast("double") * col(sx).cast("double") /
          col(n).cast("double")) / (col(n) - 1).cast("double")
    val pooled = sqrt(((col("n1") - 1).cast("double") * v("sxx1", "sx1", "n1") +
      (col("n0") - 1).cast("double") * v("sxx0", "sx0", "n0")) /
      (col("n1") + col("n0") - 2).cast("double"))
    val d = (m("sx1", "n1") - m("sx0", "n0")) / pooled
    a.crossJoin(b)
      .select(col("n1"), col("n0"),
        round(m("sx1", "n1") - m("sx0", "n0"), 6).as("mean_diff_k"),
        round(d, 6).as("cohens_d"),
        round(d * (lit(1.0) - lit(3.0) /
          ((col("n1") + col("n0")).cast("double") * 4.0 - 9.0)), 6)
          .as("hedges_g"))
  }

  /** McNemar's test on paired binary outcomes: did each customer place
    * an order in the early era, the late era, both, or neither — the
    * categorical companion to [[qPairedTtest]] (same within-subject era
    * split, but for yes/no outcomes where a t-test is meaningless). The
    * statistic uses only the discordant cells: χ² = (b−c)²/(b+c), plus
    * the Edwards continuity-corrected form. All four cells are exact
    * integer counts; each statistic is one division of exact integers,
    * rounded far above ulp.
    *
    * Scale: one conditional aggregation over orders + a broadcast-scale
    * left join from the customer dimension (for the "neither" cell);
    * the contingency table is a single row.
    */
  def qMcnemar(t: Tables): DataFrame = {
    val cut = "TIMESTAMP '1998-07-01 00:00:00'"
    val isEarly = expr(s"o_orderdate < $cut")
    val flags = t.orders
      .groupBy(col("o_custkey").as("ck"))
      .agg(
        max(when(isEarly, 1L).otherwise(0L)).as("early"),
        max(when(!isEarly, 1L).otherwise(0L)).as("late"))
    t.customer.select(col("c_custkey").as("ck"))
      .join(flags, Seq("ck"), "left")
      .na.fill(0L, Seq("early", "late"))
      .agg(
        count(when(col("early") === 1L && col("late") === 1L, 1)).as("n_both"),
        count(when(col("early") === 1L && col("late") === 0L, 1)).as("n_early_only"),
        count(when(col("early") === 0L && col("late") === 1L, 1)).as("n_late_only"),
        count(when(col("early") === 0L && col("late") === 0L, 1)).as("n_neither"))
      .select(col("n_both"), col("n_early_only"), col("n_late_only"),
        col("n_neither"),
        round(((col("n_early_only") - col("n_late_only")) *
          (col("n_early_only") - col("n_late_only"))).cast("double") /
          (col("n_early_only") + col("n_late_only")).cast("double"), 9)
          .as("mcnemar_chi2"),
        round(((abs(col("n_early_only") - col("n_late_only")) - 1) *
          (abs(col("n_early_only") - col("n_late_only")) - 1)).cast("double") /
          (col("n_early_only") + col("n_late_only")).cast("double"), 9)
          .as("mcnemar_corrected"))
  }

  /** Paired t-test on per-customer mean order value, early era (orders
    * before 1998-07-01) vs late era — the within-subject companion to
    * [[qWelchTtest]]'s independent-samples test: each customer is their
    * own control, so cross-customer spend variance cancels out of the
    * statistic. Only customers with orders in BOTH eras form pairs.
    *
    * Exactness: per-era means are exact cent sums divided once (IEEE
    * double division of exact integers — correctly rounded, engine-
    * identical); the difference moments Σd and Σd² fold those doubles
    * through DECIMAL(22,6)/DECIMAL(30,8) pins so the sums are order-free;
    * t = mean_d / (sd_d/√n) is then a fixed double chain (sqrt is IEEE
    * correctly-rounded), rounded at 1e-6.
    *
    * Scale: one customer-key aggregate over the fact table (conditional
    * aggregation collects both eras in a single pass — no self-join), then
    * a scalar aggregate over the customer-sized pair frame.
    */
  def qPairedTtest(t: Tables): DataFrame = {
    val cut = "TIMESTAMP '1998-07-01 00:00:00'"
    val cents = expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    val isEarly = expr(s"o_orderdate < $cut")
    val pairs = t.orders
      .groupBy("o_custkey")
      .agg(
        count(when(isEarly, 1)).as("n_early"),
        sum(when(isEarly, cents)).as("c_early"),
        count(when(!isEarly, 1)).as("n_late"),
        sum(when(!isEarly, cents)).as("c_late"))
      .filter(col("n_early") > 0 && col("n_late") > 0)
      // mean cents per era: exact-long / exact-long, one double division
      .select(
        ((col("c_late").cast("double") / col("n_late").cast("double")) -
          (col("c_early").cast("double") / col("n_early").cast("double")))
          .as("d"))
      // pin each per-customer difference before the order-free moment sums
      .select(round(col("d"), 6).cast(DecimalType(22, 6)).as("d"))
    pairs
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("d")).as("sd1"),
        sum((col("d") * col("d")).cast(DecimalType(30, 8))).as("sd2"))
      .select(
        col("n_pairs"),
        round(col("sd1").cast("double") / col("n_pairs").cast("double"), 6)
          .as("mean_diff_cents"),
        round(
          (col("sd1").cast("double") / col("n_pairs").cast("double")) /
            (sqrt((col("sd2").cast("double") -
              col("sd1").cast("double") * col("sd1").cast("double") /
                col("n_pairs").cast("double")) /
              (col("n_pairs") - 1).cast("double")) /
              sqrt(col("n_pairs").cast("double"))), 6)
          .as("t_stat"))
  }

  /** Deterministic permutation test for the A/B revenue split: the mod-2
    * customer assignment's observed mean-revenue gap is compared against
    * `nPerm` md5-derived re-randomizations — the exact-inference
    * complement to [[qWelchTtest]]'s parametric t (no normality
    * assumption; at training-pipeline scale the permutation p is the one
    * reviewers trust when revenue is heavy-tailed).
    *
    * Determinism: permutation b assigns customer c to arm
    * parity(md5(b‖':'‖c)) — a pure projection both engines compute
    * identically, so every re-run (and the DuckDB oracle) scores the SAME
    * permutations; no RNG state anywhere. Per-arm means are exact cent
    * sums divided once; the two-sided p-value is an exact integer ratio
    * with the +1 continuity convention.
    *
    * Scale: revenue first collapses to the customer frame (ONE fact-sized
    * shuffle), and the nPerm-way explode happens on that frame — the
    * permutation stream is |customers|·nPerm skinny rows through one
    * hash aggregate with map-side combine. nPerm is config, not data.
    */
  def qPermutationTest(t: Tables, nPerm: Int = 200): DataFrame = {
    // checkpoint the customer-revenue frame: the observed-gap pass and
    // the 200-permutation explode both consume it, and each re-ran the
    // fact-sized orders aggregate before round 10 (guide §3.3)
    val perCust = graft.Engine.loopCheckpoint(t.orders
      .groupBy("o_custkey")
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
      .select(col("o_custkey").as("c"), col("cents")))
    def gapOf(df: DataFrame, arm: Column, grp: Seq[Column]): DataFrame =
      df.groupBy(grp: _*)
        .agg(
          sum(when(arm === 1, col("cents"))).as("c1"),
          count(when(arm === 1, 1)).as("n1"),
          sum(when(arm === 0, col("cents"))).as("c0"),
          count(when(arm === 0, 1)).as("n0"))
        .select((grp :+
          (col("c1").cast("double") / col("n1").cast("double") -
            col("c0").cast("double") / col("n0").cast("double")).as("gap")): _*)
    val observed = gapOf(perCust, pmod(col("c"), lit(2)), Seq(lit(1).as("one")))
      .select(col("gap").as("obs_gap"))
    // one md5 per (customer, 32-permutation group): each hex digit of the
    // digest is an independent arm bit (parity of the digit), so
    // permutation b = 32g+s+1 reads digit s+1 of digest g — 32x less
    // digest work than one md5 per (customer, permutation). The digest is
    // a materialized COLUMN below the digit explode (GenerateExec does no
    // subexpression elimination; see qPoissonBootstrap).
    val perms = gapOf(
      perCust.select(col("c"), col("cents"),
        explode(sequence(lit(0), lit((nPerm + 31) / 32 - 1))).as("g"))
        .withColumn("h", md5(concat(col("g").cast("string"), lit(":"),
          col("c").cast("string"))))
        .select(col("cents"), col("g"), col("h"),
          explode(sequence(lit(0), lit(31))).as("s"))
        .select(col("cents"),
          (col("g") * 32 + col("s") + 1).as("b"),
          (expr("CAST(conv(substring(h, CAST(s AS INT) + 1, 1), 16, 10)" +
            " AS BIGINT)") % 2).as("arm"))
        .filter(col("b") <= nPerm),
      col("arm"), Seq(col("b")))
    perms
      .crossJoin(broadcast(observed))
      .agg(
        count(lit(1)).as("n_perms"),
        sum(when(abs(col("gap")) >= abs(col("obs_gap")), 1L).otherwise(0L))
          .as("n_extreme"),
        max(col("obs_gap")).as("og"))
      .select(
        round(col("og"), 6).as("obs_gap_cents"),
        col("n_perms"),
        col("n_extreme"),
        round((col("n_extreme") + 1).cast("double") /
          (col("n_perms") + 1).cast("double"), 9).as("p_value"))
  }

  /** Q–Q drift audit: each source's document-length distribution lined up
    * against the whole corpus at a fixed quantile grid (10%..90%) — the
    * distribution-shape complement to the PSI/KS/EMD drift family: a
    * Q–Q table localizes WHERE two distributions diverge (head, body,
    * tail), not just whether.
    *
    * Exactness: quantiles are type-1 order statistics (the element at
    * rank ⌈q·n⌉) picked by integer rank arithmetic — no interpolation, so
    * both engines return an actual data value, bit-identical.
    *
    * Scale: the per-source ranks are a window partitioned by source; the
    * corpus-wide ranks come from the [[graft.ops.Prefix]] operator (range
    * partition + offsets), not a single-partition window.
    */
  def qQqDrift(t: Tables): DataFrame = {
    val grid = (1 to 9).map(_ * 10L)
    val lengths = t.documents.select(col("source"), col("n_chars"), col("doc_id"))
    // rows with rank i of n -> the grid points whose type-1 rank is i
    def picked(ranked: DataFrame, tag: String): DataFrame = ranked
      // the 9-point grid is config: a per-row array literal, no join
      .withColumn("q", explode(array(grid.map(lit(_)): _*)))
      .filter(col("i") === expr("CAST((q * n + 99) div 100 AS BIGINT)"))
      .select(col("source"), col("q"), col("n_chars").as(tag))
    val w = Window.partitionBy("source").orderBy(col("n_chars"), col("doc_id"))
    val bySource = picked(lengths
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("source"))), "source_len")
      .withColumnRenamed("source", "k")
    val corpus = picked(Prefix.running(lengths, Seq(col("n_chars"), col("doc_id")), Nil,
        rowNumber = Some("i"), totalCount = Some("n")), "corpus_len")
      .select(col("q"), col("corpus_len"))
    bySource
      .join(broadcast(corpus), "q")
      .select(col("k").as("source"), col("q"),
        col("source_len"), col("corpus_len"),
        (col("source_len") - col("corpus_len")).as("gap"))
      .orderBy("source", "q")
  }

  /** Nearest-neighbor propensity matching for the mod-2 "treatment": each
    * treated customer (odd key) matched to the control (even key) with
    * the CLOSEST account balance within a caliper, then the average
    * treatment effect on per-customer order revenue over matched pairs —
    * the observational-causal step between [[qCuped]]'s variance
    * reduction and [[graft.ops.Events.qDid]]'s time-based identification.
    * Matching is with replacement (each treated picks independently),
    * the standard distributable form: a greedy without-replacement match
    * is inherently sequential.
    *
    * Determinism: the match minimizes (|balance gap|, control key) — an
    * exact integer lexicographic order, so the matched set is unique.
    *
    * Scale: candidate pairs come from a BANDED equi-join on the caliper
    * grid (treated side exploded to its 3 adjacent bands — the
    * [[graft.plans.BandRangeJoin]] discipline), never a quadratic
    * inequality join; per-treated ranking is a window over
    * caliper-bounded candidate groups.
    */
  def qPropensityMatch(t: Tables, caliperCents: Long = 10000L): DataFrame = {
    val cents = expr("CAST(round(c_acctbal * 100) AS BIGINT)")
    val cust = t.customer.select(col("c_custkey").as("ck"), cents.as("bal"),
      pmod(col("c_custkey"), lit(2)).as("arm"))
    val revenue = t.orders
      .groupBy(col("o_custkey").as("ck"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("rev"))
    // checkpoint the customer-dimension-sized (ck, bal, arm, rev) frame:
    // its three consumers (treated side, control side, treated count)
    // each re-ran the customer scan + the fact-sized orders revenue
    // aggregate before round 10 (the 5-scan plan); now that join runs
    // once (guide §3.3 materialise the shared intermediate)
    val withRev = graft.Engine.loopCheckpoint(
      cust.join(revenue, Seq("ck"), "left")
        .withColumn("rev", coalesce(col("rev"), lit(0L))))
    // band on SHIFTED balances: acctbal can be negative, and integer
    // division of negatives truncates in Spark but floors in DuckDB —
    // the +1e5-cent shift keeps every banded value nonnegative, where
    // the two semantics agree
    val treated = withRev.filter(col("arm") === 1)
      .select(col("ck").as("t_ck"), col("bal").as("t_bal"),
        col("rev").as("t_rev"),
        explode(array(lit(-1L), lit(0L), lit(1L))).as("off"))
      .withColumn("band",
        expr(s"((t_bal + 100000) div ${caliperCents}L) + off"))
    val control = withRev.filter(col("arm") === 0)
      .select(col("ck").as("c_ck"), col("bal").as("c_bal"),
        col("rev").as("c_rev"),
        expr(s"(c_bal + 100000) div ${caliperCents}L").as("band"))
    val byTreated = Window.partitionBy("t_ck")
      .orderBy(col("gap"), col("c_ck"))
    val matched = treated.join(control, "band")
      .withColumn("gap", abs(col("t_bal") - col("c_bal")))
      .filter(col("gap") <= caliperCents)
      .withColumn("rnk", row_number().over(byTreated))
      .filter(col("rnk") === 1)
    val nTreated = withRev.filter(col("arm") === 1)
      .agg(count(lit(1)).as("n_treated"))
    matched
      .agg(
        count(lit(1)).as("n_matched"),
        sum(col("t_rev") - col("c_rev")).as("diff_cents"),
        sum(col("gap")).as("gap_cents"))
      .crossJoin(broadcast(nTreated))
      .select(col("n_treated"), col("n_matched"),
        round(col("n_matched").cast("double") /
          col("n_treated").cast("double"), 9).as("match_rate"),
        round(col("diff_cents").cast("double") /
          col("n_matched").cast("double"), 6).as("att_cents"),
        round(col("gap_cents").cast("double") /
          col("n_matched").cast("double"), 6).as("mean_gap_cents"))
  }

  /** Qini curve for the mod-2 "campaign": customers ranked by a targeting
    * score (account balance, the stand-in for an uplift model's output),
    * and at each decile of the ranking the incremental revenue the
    * treated arm shows over the control arm's rate-adjusted expectation —
    * qini(d) = R_t(d) − R_c(d)·N_t(d)/N_c(d). The uplift-model
    * evaluation curve ([[qPropensityMatch]] estimates ONE effect; the
    * Qini curve shows where in the ranking the effect lives, and its
    * final point is the overall incremental revenue).
    *
    * Exactness: decile split by the integer ceiling rank (the qLorenz
    * convention), cumulative counts/cents exact longs via the decile
    * window; qini is one mirrored double chain over exact integers.
    *
    * Scale: one customer-key revenue aggregate (fact-sized shuffle), one
    * global rank — the documented exact-ranking bound — then all
    * cumulative work on the 10-row decile frame.
    */
  def qQiniCurve(t: Tables): DataFrame = {
    // rank + total via the two-pass prefix (guide §2.4/§5) — the ranked
    // customer frame never single-partitions; cumulative work stays on
    // the 10-row decile frame
    val byDecile = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cust = t.customer.select(col("c_custkey").as("ck"),
      expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal"),
      pmod(col("c_custkey"), lit(2)).as("arm"))
    val revenue = t.orders
      .groupBy(col("o_custkey").as("ck"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("rev"))
    val scored = cust.join(revenue, Seq("ck"), "left")
      .withColumn("rev", coalesce(col("rev"), lit(0L)))
    graft.ops.Prefix.running(scored, Seq(col("bal").desc, col("ck")), Nil,
        rowNumber = Some("i"), totalCount = Some("n"))
      .withColumn("decile", expr("CAST((i * 10 + n - 1) div n AS BIGINT)"))
      .groupBy("decile")
      .agg(
        count(when(col("arm") === 1, 1)).as("nt"),
        coalesce(sum(when(col("arm") === 1, col("rev"))), lit(0L)).as("rt"),
        count(when(col("arm") === 0, 1)).as("nc"),
        coalesce(sum(when(col("arm") === 0, col("rev"))), lit(0L)).as("rc"))
      .select(col("decile"),
        sum("nt").over(byDecile).as("cum_nt"),
        sum("rt").over(byDecile).as("cum_rt"),
        sum("nc").over(byDecile).as("cum_nc"),
        sum("rc").over(byDecile).as("cum_rc"))
      .select(col("decile"), col("cum_nt"), col("cum_nc"),
        col("cum_rt"), col("cum_rc"),
        (col("cum_rt").cast("double") -
          col("cum_rc").cast("double") * col("cum_nt").cast("double") /
            col("cum_nc").cast("double")).as("qini_cents"))
      .orderBy("decile")
  }

  /** Tukey HSD pairwise comparisons over the order-priority groups — the
    * post-hoc companion to [[qAnova]]: which pairs of group means differ,
    * via the studentized-range statistic q = (mᵢ−mⱼ) /
    * √(MSW/2·(1/nᵢ+1/nⱼ)). Same kilo-dollar metric and decimal moment
    * sums as qAnova (scaled decimals stay under 2^53, so the
    * decimal→double casts are exact on both engines); the composite
    * float chains (mean diff, q) round at 6, far above ulp.
    *
    * Scale: one hash aggregate collapses the fact to a k-row group
    * frame; the pair join is k², with k the group-domain size.
    */
  def qTukeyHsd(t: Tables): DataFrame = {
    val xk = col("o_totalprice") / lit(1000.0)
    // materialize the k-row group frame: its three consumers (pair left/
    // right sides + the MSW scalar) would otherwise each re-aggregate the
    // fact — three full scans of orders at 100 TB instead of one
    val g = graft.Engine.loopCheckpoint(t.orders
      .groupBy(col("o_orderpriority").as("grp"))
      .agg(
        count(lit(1)).as("n"),
        sum(xk.cast(DecimalType(18, 6))).as("sx"),
        sum((xk * xk).cast(DecimalType(24, 6))).as("sxx"))
      .withColumn("term",
        round(col("sx").cast("double") * col("sx").cast("double") /
          col("n").cast("double"), 4).cast(DecimalType(24, 4))))
    val tot = g.agg(
        sum("n").as("n_total"), count(lit(1)).as("k"),
        sum("sxx").as("sxx_all"), sum("term").as("term_all"))
      .select(col("n_total"), col("k"),
        round(col("sxx_all").cast("double") -
          col("term_all").cast("double"), 4).as("ss_within"))
    val a = g.select(col("grp").as("grp1"), col("n").as("n1"),
      col("sx").as("sx1"))
    val b = g.select(col("grp").as("grp2"), col("n").as("n2"),
      col("sx").as("sx2"))
    val meanDiff = col("sx1").cast("double") / col("n1").cast("double") -
      col("sx2").cast("double") / col("n2").cast("double")
    val out = a.join(b, col("grp1") < col("grp2"))
      .crossJoin(broadcast(tot))
      .select(col("grp1"), col("grp2"), col("n1"), col("n2"),
        round(meanDiff, 6).as("mean_diff_k"),
        round(meanDiff /
          sqrt(col("ss_within") /
            (col("n_total") - col("k")).cast("double") / lit(2.0) *
            (lit(1.0) / col("n1").cast("double") +
              lit(1.0) / col("n2").cast("double"))), 6).as("q_stat"))
      .orderBy("grp1", "grp2")
      .loopCheckpoint() // k²-row result; lets the group-frame cache go
    graft.Engine.freeCheckpoint(g)
    out
  }

  /** Cronbach's alpha over the event-type "items": each user is a
    * subject, each event type an item, the score the user's event count
    * of that type — the internal-consistency check a metrics platform
    * runs before averaging component signals into one index. The
    * variance ratio cancels its n(n−1) denominators, so α = k/(k−1) ·
    * (1 − Σᵢ(n·Σx² − (Σx)²) / (n·Σt² − (Σt)²)) is ONE IEEE division of
    * exact integer sums (counts are integers; absent user×item cells
    * are zeros and contribute nothing to either sum).
    *
    * Scale: two hash aggregates over the fact (user×item, then user),
    * reduced to item-domain and single-row frames.
    */
  def qCronbachAlpha(t: Tables): DataFrame = {
    val cells = t.events
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val items = cells.groupBy("event_type")
      .agg(sum("c").as("sx"),
        sum((col("c") * col("c")).cast(DecimalType(28, 0))).as("sxx"))
    val nUsers = cells.select("user_id").distinct().count()
    val kItems = items.count()
    val itemNum = items
      .agg(sum(lit(nUsers) * col("sxx") -
        (col("sx") * col("sx")).cast(DecimalType(28, 0))).as("num"))
    val totals = cells.groupBy("user_id").agg(sum("c").as("tu"))
      .agg(sum("tu").as("st"),
        sum((col("tu") * col("tu")).cast(DecimalType(28, 0))).as("stt"))
      .select((lit(nUsers) * col("stt") -
        (col("st") * col("st")).cast(DecimalType(28, 0))).as("den"))
    itemNum.crossJoin(totals)
      .select(
        lit(nUsers).as("n_users"), lit(kItems).as("k_items"),
        col("num").cast("long").as("item_var_num"),
        col("den").cast("long").as("total_var_num"),
        round(lit(kItems.toDouble) / lit((kItems - 1).toDouble) *
          (lit(1.0) - col("num").cast("double") /
            col("den").cast("double")), 9).as("alpha"))
  }

  /** Value-at-Risk and conditional VaR (expected shortfall) of daily
    * order revenue at the 95% and 99% levels — the tail-risk summary a
    * finance-facing warehouse reports next to the mean: VaR is the
    * ⌈(1−q)·n⌉-th WORST day (type-1 order statistic, an actual observed
    * value), CVaR the exact mean of the days at or below it.
    *
    * Exactness: daily cents are exact longs; VaR is an element pick by
    * integer rank; CVaR is one IEEE division of exact sums.
    *
    * Scale: the fact collapses to a day-count frame in one aggregate;
    * the rank runs on that calendar-sized frame (bounded by days, not
    * data).
    */
  def qVarCvar(t: Tables, levels: Seq[Int] = Seq(95, 99)): DataFrame =
    varCvarEpilogue(varCvarDaily(t.orders), levels)

  /** The stateful-aggregable stage of [[qVarCvar]]: per-day revenue in
    * exact cents. Long cent sums merge exactly across micro-batches and
    * state is calendar-sized, so the same frame runs as a Structured
    * Streaming aggregation ([[graft.streaming.Streams.drainVarCvar]]). */
  def varCvarDaily(orders: DataFrame): DataFrame =
    orders
      .groupBy(expr("CAST(o_orderdate AS DATE)").as("day"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))

  /** Batch epilogue of [[qVarCvar]]: rank pick + exact tail mean over
    * the day frame (bounded by the calendar, never by order volume). */
  def varCvarEpilogue(
      dailyCents: DataFrame, levels: Seq[Int] = Seq(95, 99)): DataFrame = {
    val byRev = Window.orderBy(col("cents"), col("day"))
    val all = Window.partitionBy()
    val daily = dailyCents
      .withColumn("i", row_number().over(byRev).cast("long"))
      .withColumn("n", count(lit(1)).over(all))
      .withColumn("cum", sum("cents").over(
        Window.orderBy(col("cents"), col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    daily
      .withColumn("level", explode(array(levels.map(lit(_)): _*)))
      .withColumn("k", expr("CAST(((100 - level) * n + 99) div 100 AS BIGINT)"))
      .filter(col("i") === col("k"))
      .select(col("level").cast("long").as("level"), col("n").as("n_days"),
        col("k").as("n_tail_days"),
        col("cents").as("var_cents"),
        (col("cum").cast("double") / col("k").cast("double"))
          .as("cvar_cents"))
      .orderBy("level")
  }
}
