package graft.ops

import graft.Tables
import graft.Engine.LoopCheckpointOps
import graft.transform.Transforms.{davg, dsum}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Event-log operators: tumbling windows, sessionization, JSON extraction,
  * and the as-of join against the orders table. These are the batch
  * equivalents of the Structured Streaming jobs in [[graft.streaming]] —
  * same column logic, so the streaming path is tested against these.
  */
object Events {

  /** 1-hour tumbling window aggregation, the batch twin of the streaming
    * windowed count. Window start computed by exact nanosecond floor on the
    * raw long (no timezone involvement), emitted as a formatted string.
    */
  def qTumblingWindow(t: Tables): DataFrame = {
    val hourNs = 3600L * 1000000000L
    t.events
      .withColumn("win_ns", col("ts_ns") - pmod(col("ts_ns"), lit(hourNs)))
      .groupBy("win_ns", "event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(
        date_format(timestamp_micros(expr("win_ns div 1000")),
          "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("window_start", "event_type")
  }

  /** Gap-based sessionization (30-minute inactivity): lag + cumulative-sum
    * session ids, then per-user session stats. One shuffle on user_id; both
    * windows share the same partitioning so Spark reuses the exchange.
    */
  def qSessionize(t: Tables): DataFrame = {
    val gapNs = 30L * 60L * 1000000000L
    val byUser = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    val sessions = t.events
      .withColumn("prev_ns", lag("ts_ns", 1).over(byUser))
      .withColumn("brk",
        when(col("prev_ns").isNull || col("ts_ns") - col("prev_ns") > gapNs, 1L)
          .otherwise(0L))
      .withColumn("sid",
        sum("brk").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sessions
      .groupBy("user_id", "sid")
      .agg(count(lit(1)).as("sess_events"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_sessions"),
        max("sess_events").as("max_sess_events"),
        sum("sess_events").as("n_events"))
      .orderBy("user_id")
  }

  /** Calendar densification: hourly event counts per type INCLUDING empty
    * hours (zero-filled) across the table's span — the gap-filling
    * resample time-series math needs before window functions are honest.
    * The hour spine comes from sequence() over broadcast min/max bounds,
    * cross-joined with the (tiny) type dimension; the fact side stays a
    * single grouped aggregate — no per-row expansion anywhere.
    */
  def qResampleHourly(t: Tables): DataFrame = {
    val hourNs = 3600L * 1000000000L
    val ev = t.events
      .withColumn("hour_ns", col("ts_ns") - pmod(col("ts_ns"), lit(hourNs)))
    val bounds = ev.agg(min("hour_ns").as("lo"), max("hour_ns").as("hi"))
    val spine = bounds
      .select(explode(sequence(col("lo"), col("hi"), lit(hourNs))).as("hour_ns"))
    val types = ev.select("event_type").distinct()
    val counts = ev.groupBy("hour_ns", "event_type").agg(count(lit(1)).as("n0"))
    spine.crossJoin(broadcast(types))
      .join(counts, Seq("hour_ns", "event_type"), "left")
      .select(
        date_format(timestamp_micros(expr("hour_ns div 1000")),
          "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"),
        coalesce(col("n0"), lit(0L)).as("n"))
      .orderBy("hour", "event_type")
  }

  /** JSON extraction from the props column + grouped aggregate.
    * `get_json_object` is a codegen'd native expression — no UDF.
    */
  def qJsonExtract(t: Tables): DataFrame =
    t.events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum("k").as("sum_k"),
        davg(col("value")).as("avg_value"))
      .orderBy("event_type")

  /** Semi-structured aggregation through Spark 4's VARIANT type: the
    * props blob parses ONCE per row into the binary variant encoding
    * (`parse_json`), and every downstream extraction is a typed
    * `variant_get` over that encoding — the modern replacement for
    * re-parsing the JSON string per `get_json_object` path (at 100 TB a
    * wide-props pipeline re-tokenizes terabytes per extra path; variant
    * pays the parse once and the shredded reads are cheap). Full typed
    * stat battery per event type, incl. an exact-`percentile` median
    * (the DuckDB `quantile_cont` parity contract).
    */
  def qVariantAgg(t: Tables): DataFrame =
    t.events
      .withColumn("v", expr("parse_json(props)"))
      .withColumn("k", expr("variant_get(v, '$.k', 'bigint')"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        count(col("k")).as("n_with_k"),
        count_distinct(col("k")).as("distinct_k"),
        sum("k").as("sum_k"),
        min("k").as("min_k"),
        max("k").as("max_k"),
        expr("percentile(k, 0.5D)").as("med_k"))
      .orderBy("event_type")

  /** Funnel conversion: of users whose first click starts the funnel, how
    * many purchase within the hour. Two grouped aggregates + one
    * range-predicated join on the (already-grouped, small) funnel heads;
    * all time math on exact epoch-ns longs, so the oracle compare has no
    * timestamp-truncation hazard.
    */
  def qFunnel(t: Tables): DataFrame = {
    val hourNs = 3600L * 1000000000L
    val ev = t.events.select("user_id", "event_type", "ts_ns")
    val heads = ev.filter(col("event_type") === "click")
      .groupBy("user_id").agg(min("ts_ns").as("t0"))
    val converted = ev.filter(col("event_type") === "purchase")
      .join(heads, "user_id")
      .filter(col("ts_ns") >= col("t0") && col("ts_ns") <= col("t0") + hourNs)
      .select("user_id").distinct()
    heads.agg(count(lit(1)).as("n_clickers"))
      .crossJoin(broadcast(converted.agg(count(lit(1)).as("n_converted"))))
      .withColumn("conv_rate",
        col("n_converted").cast("double") / col("n_clickers").cast("double"))
  }

  /** Ordered three-step funnel (click -> view -> purchase): each step's
    * cohort is the users whose earliest qualifying event occurs AT OR
    * AFTER their previous step's time — sequential pattern matching, not
    * just co-occurrence. Every stage pre-shrinks to per-user minima before
    * joining (the grids are |users|-sized, never |events|-sized), and the
    * final row is a cross join of three single-row aggregates.
    */
  def qFunnelSteps(t: Tables): DataFrame = {
    val spark = t.spark
    val ev = t.events.select("user_id", "event_type", "ts_ns")
    // each stage materializes ONCE (the later stages and the counts would
    // otherwise re-evaluate the nested plans — six event-table scans for
    // three stages); counts are driver-side scalars, the same
    // orchestration pattern as connectedComponents' convergence counter
    val (s1, n1) = graft.Engine.loopCheckpointWith(
      ev.filter(col("event_type") === "click")
        .groupBy("user_id").agg(min("ts_ns").as("t1")))(_.count())
    val (s2, n2) = graft.Engine.loopCheckpointWith(
      ev.filter(col("event_type") === "view")
        .join(s1, "user_id")
        .filter(col("ts_ns") >= col("t1"))
        .groupBy("user_id").agg(min("ts_ns").as("t2")))(_.count())
    val n3 = ev.filter(col("event_type") === "purchase")
      .join(s2, "user_id")
      .filter(col("ts_ns") >= col("t2"))
      .select("user_id").distinct()
      .count()
    graft.Engine.freeCheckpoint(s1)
    graft.Engine.freeCheckpoint(s2)
    val rate12: java.lang.Double = if (n1 == 0) null else n2.toDouble / n1
    val rate23: java.lang.Double = if (n2 == 0) null else n3.toDouble / n2
    import spark.implicits._
    Seq((n1, n2, n3))
      .toDF("n_step1", "n_step2", "n_step3")
      .withColumn("rate_12", lit(rate12).cast("double"))
      .withColumn("rate_23", lit(rate23).cast("double"))
  }

  /** Weekly cohort retention: per activity week, the share of that week's
    * active users who are active again the following week. One distinct
    * projection + a self-join on (user, week+1) — both sides pre-shrunk to
    * the distinct activity grid before any join.
    */
  def qRetention(t: Tables): DataFrame = {
    val weekNs = 7L * 86400L * 1000000000L
    val active = t.events
      .select(col("user_id"), expr(s"ts_ns div $weekNs").as("wk"))
      .distinct()
    val nextWeek = active.select(col("user_id"), (col("wk") - 1).as("wk"))
    val retained = active.join(nextWeek, Seq("user_id", "wk"))
      .groupBy("wk").agg(count(lit(1)).as("n_retained"))
    active.groupBy("wk").agg(count(lit(1)).as("n_active"))
      .join(retained, Seq("wk"), "left")
      .select(
        col("wk"),
        col("n_active"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        (coalesce(col("n_retained"), lit(0L)).cast("double") /
          col("n_active").cast("double")).as("retention_rate"))
      .orderBy("wk")
  }

  /** Cohort retention matrix: users grouped by first-activity day, counted
    * on each subsequent active day as an offset from their cohort day — the
    * classic triangular retention table. The (user, day) grid is distinct-
    * projected first, the cohort day is a co-partitioned min-aggregate +
    * join on user_id, and the matrix is bounded by timespan², not by input
    * rows — the shape that holds when the event log is the 100 TB side.
    */
  def qCohortMatrix(t: Tables): DataFrame = {
    val dayNs = 86400L * 1000000000L
    val ud = t.events
      .select(col("user_id"), expr(s"ts_ns div $dayNs").as("day"))
      .distinct()
    val cohort = ud.groupBy("user_id").agg(min("day").as("cohort_day"))
    ud.join(cohort, "user_id")
      .groupBy(
        col("cohort_day"),
        (col("day") - col("cohort_day")).as("offset_days"))
      .agg(count(lit(1)).as("n_users"))
      .select(
        date_format(
          timestamp_micros(col("cohort_day") * lit(86400000000L)),
          "yyyy-MM-dd").as("cohort"),
        col("offset_days"), col("n_users"))
      .orderBy("cohort", "offset_days")
  }

  /** Event-type transition matrix: counts of consecutive (from -> to)
    * event pairs per user — the Markov-chain view behind funnel and
    * next-action analyses. One lag window co-partitioned on user_id; the
    * matrix is |event_type|² rows regardless of input size.
    */
  def qEventTransitions(t: Tables): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    val pairs = t.events
      .withColumn("prev_type", lag("event_type", 1).over(byUser))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type").as("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val fromTotals = Window.partitionBy("from_type")
    pairs
      .withColumn("p",
        col("n").cast("double") / sum("n").over(fromTotals).cast("double"))
      .orderBy("from_type", "to_type")
  }

  /** Reciprocity of the directed session-transition graph: for each
    * unordered event-type pair {a, b} (a < b, self-loops excluded), how
    * many a→b transitions vs b→a, and the pair's reciprocity
    * 2·min(c_ab, c_ba) / (c_ab + c_ba) in exact integer micro-units —
    * is traffic between two states symmetric (view↔click) or a one-way
    * funnel (signup→purchase)? Transition counting is
    * [[qEventTransitions]]'s per-user lag window (partitioned — never a
    * global sort); everything after is dimension-sized (|event types|²
    * rows), so the pairing full-outer join costs nothing at any corpus
    * scale.
    */
  def qTransitionReciprocity(t: Tables): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    val pairs = t.events
      .withColumn("prev_type", lag("event_type", 1).over(byUser))
      .filter(col("prev_type").isNotNull &&
        col("prev_type") =!= col("event_type"))
      .groupBy(col("prev_type").as("f"), col("event_type").as("s"))
      .agg(count(lit(1)).as("n"))
    val fwd = pairs.filter(col("f") < col("s"))
      .select(col("f").as("a"), col("s").as("b"), col("n").as("c_ab"))
    val rev = pairs.filter(col("f") > col("s"))
      .select(col("s").as("a"), col("f").as("b"), col("n").as("c_ba"))
    fwd.join(rev, Seq("a", "b"), "full_outer")
      .na.fill(0L, Seq("c_ab", "c_ba"))
      .select(col("a").as("from_type"), col("b").as("to_type"),
        col("c_ab"), col("c_ba"),
        (col("c_ab") + col("c_ba")).as("pair_total"),
        expr("(2000000 * least(c_ab, c_ba)) div (c_ab + c_ba)")
          .as("recip_units"))
      .orderBy("from_type", "to_type")
  }

  /** Sequential probability-ratio test (Wald SPRT) per user cohort: is
    * the purchase rate p0 = 0.10 (H0) or p1 = 0.20 (H1), decided as
    * events stream in, with α = β = 0.05? The experimentation gate that
    * stops a rollout as EARLY as the evidence allows instead of waiting
    * for a fixed horizon.
    *
    * Exactness: per-event log-likelihood increments and the two decision
    * boundaries are fixed integer micro-nat constants (ln(p1/p0) =
    * 693147 μnats, ln((1−p1)/(1−p0)) = −117783, ±ln((1−β)/α) =
    * ±2944439), so the cumulative LLR walk, the first boundary crossing,
    * and the verdict are pure integer functions of the event order — the
    * same walk replays in any engine.
    *
    * Scale: ONE pass — a per-cohort ordered window for the running sum
    * (partitioned by cohort, never global), then two cohort-sized
    * aggregates (min_by picks the first crossing). Cohort count is the
    * parallelism; a hot cohort bounds one partition's sort, exactly the
    * sessionization story.
    */
  def qSprtGate(t: Tables, cohorts: Int = 8): DataFrame = {
    val upper = 2944439L
    val lower = -2944439L
    val byCohort = Window.partitionBy("cohort").orderBy("ts_ns", "event_id")
    val walk = t.events
      .select(pmod(col("user_id"), lit(cohorts.toLong)).as("cohort"),
        col("ts_ns"), col("event_id"),
        when(col("event_type") === "purchase", 693147L)
          .otherwise(-117783L).as("llr"))
      .withColumn("cum", sum("llr").over(byCohort))
      .withColumn("i", row_number().over(byCohort).cast("long"))
    val totals = walk.groupBy("cohort")
      .agg(count(lit(1)).as("n_events"),
        sum("llr").cast("long").as("llr_final"))
    val crossed = walk
      .filter(col("cum") >= upper || col("cum") <= lower)
      .groupBy("cohort")
      .agg(min("i").as("n_at_decision"),
        min_by(col("cum"), col("i")).as("llr_at_decision"))
    totals.join(crossed, Seq("cohort"), "left")
      .withColumn("decision",
        when(col("llr_at_decision") >= upper, lit("accept_h1"))
          .when(col("llr_at_decision") <= lower, lit("accept_h0"))
          .otherwise(lit("continue")))
      .select("cohort", "n_events", "llr_final", "n_at_decision",
        "llr_at_decision", "decision")
      .orderBy("cohort")
  }

  private def asOfInputs(t: Tables): (DataFrame, DataFrame) = (
    t.events.select(col("event_id"), col("user_id"), col("ts")),
    t.orders.select(
      col("o_custkey").as("user_id"),
      col("o_orderdate"),
      col("o_orderkey").as("last_orderkey")))

  /** As-of join: each event picks up the user's most recent order at or
    * before the event time (see [[AsOfJoin]] for the composed shape).
    * Sampled output (every 10th event) to keep the compare compact.
    */
  def qAsOfJoin(t: Tables): DataFrame = {
    val (ev, ord) = asOfInputs(t)
    AsOfJoin
      .asOf(ev, ord, "user_id", "ts", "o_orderdate",
        rightVals = Seq("last_orderkey"), rightTiebreak = "last_orderkey")
      .filter(pmod(col("event_id"), lit(10)) === 0)
      .select(col("event_id"), col("user_id"), col("last_orderkey"))
      .orderBy("event_id")
  }

  /** Forward as-of: each event picks up the user's NEXT order at or after
    * the event time — the next-state-change lookup (see
    * [[AsOfJoin.asOfForward]]).
    */
  def qAsOfForward(t: Tables): DataFrame = {
    val (ev, ord) = asOfInputs(t)
    AsOfJoin
      .asOfForward(ev,
        ord.withColumnRenamed("last_orderkey", "next_orderkey"),
        "user_id", "ts", "o_orderdate",
        rightVals = Seq("next_orderkey"), rightTiebreak = "next_orderkey")
      .filter(pmod(col("event_id"), lit(10)) === 0)
      .select(col("event_id"), col("user_id"), col("next_orderkey"))
      .orderBy("event_id")
  }

  /** Same query on the custom physical operator
    * ([[graft.plans.AsOfJoinPlan]]: logical node + strategy + sort-merge
    * exec) — verified against the same DuckDB oracle as the composed
    * version.
    */
  def qAsOfJoinNative(t: Tables): DataFrame = {
    val (ev, ord) = asOfInputs(t)
    graft.plans.AsOfJoinPlan
      .asOf(ev, ord, "user_id", "ts", "o_orderdate",
        rightVals = Seq("last_orderkey"), rightTiebreak = "last_orderkey")
      .filter(pmod(col("event_id"), lit(10)) === 0)
      .select(col("event_id"), col("user_id"), col("last_orderkey"))
      .orderBy("event_id")
  }

  /** Interval union (gaps-and-islands): each event opens a 5-minute
    * activity interval; overlapping intervals per user merge into islands,
    * reporting island count and total covered time. Pure window math over
    * exact microsecond longs — the running max of prior interval ends marks
    * island breaks, a prefix sum numbers them. One shuffle on user_id,
    * everything after is within-partition; covered_us is integer-exact.
    */
  def qIntervalUnion(t: Tables): DataFrame = {
    val winUs = 5L * 60L * 1000000L
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val prevRows = byUser.rowsBetween(Window.unboundedPreceding, -1)
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.events
      .select(col("user_id"), col("event_id"),
        expr("ts_ns div 1000").as("ts_us"))
      .withColumn("end_us", col("ts_us") + winUs)
      .withColumn("max_prev_end", max("end_us").over(prevRows))
      .withColumn("brk",
        when(col("max_prev_end").isNull ||
          col("ts_us") > col("max_prev_end"), 1L).otherwise(0L))
      .withColumn("island", sum("brk").over(cum))
      .groupBy("user_id", "island")
      .agg(min("ts_us").as("s"), max("end_us").as("e"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_islands"),
        sum(col("e") - col("s")).as("covered_us"))
      .orderBy("user_id")
  }

  /** Top event-type trigrams: the most frequent 3-step paths across all
    * user timelines (sequence mining's cheapest useful form). Two leads in
    * one window pass per user, then a global count over at most
    * |types|^3 = 125 keys — the final top-k sorts a tiny frame. Tie-safe:
    * ordered by (n DESC, path) so the k-boundary is deterministic.
    */
  def qSessionPaths(t: Tables, k: Int = 15): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    t.events
      .select(col("user_id"), col("event_id"), col("ts_ns"), col("event_type"))
      .withColumn("t2", lead("event_type", 1).over(byUser))
      .withColumn("t3", lead("event_type", 2).over(byUser))
      .filter(col("t3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3"))
        .as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(k)
  }

  /** Debounce / in-stream dedup: drop events of the same (user, type)
    * arriving within 5 s of the previous KEPT event — the retry/double-fire
    * cleaner every event pipeline runs before counting. Kept-anchor
    * semantics (not lag-anchor) would need a running state; the classic
    * approximation used here anchors on the previous RAW event, which is
    * exact when bursts are shorter than the window — reported per type as
    * kept/dropped counts. One shuffle on (user, type).
    */
  def qDebounce(t: Tables, windowUs: Long = 5000000L): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy("ts_us", "event_id")
    t.events
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("ts_ns div 1000").as("ts_us"))
      .withColumn("prev_us", lag("ts_us", 1).over(w))
      .withColumn("dropped",
        (col("prev_us").isNotNull &&
          col("ts_us") - col("prev_us") < windowUs).cast("long"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum("dropped").as("n_dropped"),
        (count(lit(1)) - sum("dropped")).as("n_kept"))
      .orderBy("event_type")
  }

  /** Hour-of-day seasonality profile: each event type's traffic share per
    * clock hour (epoch-hour mod 24 — no timezone machinery, same integer
    * both engines) — the baseline a seasonal anomaly detector normalizes
    * against. One hash aggregate to the 24 x |types| frame; shares divide
    * exact counts.
    */
  def qHourlyProfile(t: Tables): DataFrame = {
    val byType = Window.partitionBy("event_type")
    t.events
      .groupBy(col("event_type"),
        expr("(ts_ns div 3600000000000) % 24").as("hod"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share",
        col("n").cast("double") / sum("n").over(byType).cast("double"))
      .orderBy("event_type", "hod")
  }

  /** Day-of-week × hour-of-day traffic heatmap: the 168-cell seasonality
    * matrix behind capacity planning and anomaly baselines — each cell's
    * exact count, corpus share, and lift against the uniform expectation
    * (n·168/total, one multiply and one division of exact integers).
    * `dow` is epoch-day mod 7 (0 = Thursday, the 1970-01-01 anchor) —
    * pure integer arithmetic on the raw nanosecond longs, no calendar
    * library in the hot path.
    *
    * Scale: one two-key hash aggregate collapses the fact; the share
    * window runs on the fixed 168-row frame.
    */
  def qDowHourHeatmap(t: Tables): DataFrame = {
    val all = Window.partitionBy()
    t.events
      .groupBy(
        expr("(ts_ns div 86400000000000) % 7").as("dow"),
        expr("(ts_ns div 3600000000000) % 24").as("hod"))
      .agg(count(lit(1)).as("n"))
      .withColumn("total", sum("n").over(all))
      .select(col("dow"), col("hod"), col("n"),
        (col("n").cast("double") / col("total").cast("double"))
          .as("share"),
        (col("n").cast("double") * lit(168.0) /
          col("total").cast("double")).as("lift"))
      .orderBy("dow", "hod")
  }

  /** Last-touch attribution: each purchase credits the most recent prior
    * click/view in the same user's timeline (an as-of lookup expressed as
    * one IGNORE-NULLS window — no self-join, no second shuffle). Purchases
    * with no prior touch land in the 'none' bucket.
    */
  def qAttribution(t: Tables): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    val prevRows = byUser.rowsBetween(Window.unboundedPreceding, -1)
    t.events
      .withColumn("touch",
        last(when(col("event_type").isin("click", "view"), col("event_type")),
          ignoreNulls = true).over(prevRows))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("touch"), lit("none")).as("touch"))
      .agg(count(lit(1)).as("n_purchases"), dsum(col("value")).as("sum_value"))
      .orderBy("touch")
  }

  /** Markov removal-effect attribution — the marketing-science upgrade of
    * [[qAttribution]]'s last-touch rule: model user journeys as a Markov
    * chain over event types (synthetic `start` feeds each user's first
    * event; `purchase` absorbs as conversion; journey tails absorb at
    * `end`), then credit each channel by how much the start->purchase
    * absorption probability DROPS when that channel is removed from the
    * chain (its transition mass is lost, denominators unchanged).
    *
    * Determinism/oracle story: transition probabilities are micro-unit
    * integers ((n * 1e6) div out-degree) and the K truncated value-
    * iteration rounds are integer multiply-sum-div — order-free, so the
    * distributed transition count hash-matches a SQL replay that unrolls
    * the same rounds. Micro-unit probabilities also BOUND the arithmetic
    * (p <= 1e6, v <= 1e6, |states| <= 7 => sums < 1e13) independent of
    * corpus size.
    *
    * Scale: the one fact-sized stage is the per-user window + transition
    * count (one shuffle each); the chain itself is |event types|^2 rows —
    * index metadata — so the value iteration runs driver-side on the
    * collected count matrix, the same k-sized-collect convention as
    * Lloyd's centroids.
    */
  def qMarkovAttribution(t: Tables, rounds: Int = 8): DataFrame = {
    val spark = t.events.sparkSession
    import spark.implicits._
    val (pMicro, channels) = journeyChain(t)
    val base = absorptionMicro(pMicro, Set.empty, rounds)
    channels.map { c =>
      val cv = absorptionMicro(pMicro, Set(c), rounds)
      val eff = if (base == 0L) None
        else Some((base - cv).toDouble / base.toDouble)
      (c, base, cv, eff)
    }.toDF("channel", "base_cv_micro", "removed_cv_micro", "removal_effect")
      .orderBy("channel")
  }

  /** Shared journey-chain build for the attribution pair: ONE fact-sized
    * window + transition-count stage, collected as the |types|^2
    * micro-unit probability matrix (index metadata) plus the sorted
    * non-absorbing channel list.
    */
  private[graft] def journeyChain(
      t: Tables): (Array[(String, String, Long)], Seq[String]) = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    val seq = t.events
      .select(col("user_id"), col("event_id"), col("ts_ns"), col("event_type"))
      .withColumn("nxt", lead("event_type", 1).over(byUser))
      .withColumn("rn", row_number().over(byUser))
    val starts = seq.filter(col("rn") === 1)
      .select(lit("start").as("src"), col("event_type").as("dst"))
    val steps = seq.filter(col("event_type") =!= "purchase")
      .select(col("event_type").as("src"),
        coalesce(col("nxt"), lit("end")).as("dst"))
    val counts = starts.unionAll(steps)
      .groupBy("src", "dst").agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val outDeg = counts.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    // micro-unit transition probabilities, truncating div (matches //)
    val pMicro = counts.map { case (s, d, n) => (s, d, n * 1000000L / outDeg(s)) }
    val channels = (counts.map(_._1) ++ counts.map(_._2)).distinct
      .filterNot(Set("start", "end", "purchase")).sorted.toSeq
    (pMicro, channels)
  }

  /** Truncated micro-unit value iteration: start->purchase absorption of
    * the chain with `removed` states dropped (their mass is lost —
    * denominators unchanged). Exact integer arithmetic, order-free.
    */
  private[graft] def absorptionMicro(
      pMicro: Array[(String, String, Long)], removed: Set[String],
      rounds: Int): Long = {
    val edges = pMicro.filter { case (s, d, _) => !removed(s) && !removed(d) }
    val states = (edges.map(_._1) ++ edges.map(_._2)).distinct
    var v = Map("purchase" -> 1000000L).withDefaultValue(0L)
    (1 to rounds).foreach { _ =>
      v = states.map { s =>
        s -> (s match {
          case "purchase" => 1000000L
          case "end" => 0L
          case _ =>
            edges.iterator.filter(_._1 == s)
              .map { case (_, d, p) => p * v(d) }.sum / 1000000L
        })
      }.toMap.withDefaultValue(0L)
    }
    v("start")
  }

  /** EXACT Shapley-value channel attribution over the journey Markov
    * chain — the game-theoretic sibling of [[qMarkovAttribution]]:
    * coalition value v(S) is the start->purchase absorption (micro-unit
    * integers, same truncated value iteration) of the chain restricted
    * to channel subset S, and each channel's credit is its exact Shapley
    * average marginal contribution over all 2^|channels| coalitions —
    * tractable exactly because the channel set is the EVENT-TYPE domain
    * (4 here), not a cardinality that grows with data.
    *
    * Numbers: v(S) are exact micro-unit longs; Shapley weights for n=4
    * are {3,1,1,3}/12, so the credit is an integer twelfth-sum with ONE
    * double division at the end — order-free, hash-stable. The
    * efficiency property (credits sum to v(all) - v(none)) holds as an
    * exact integer identity and is spec'd.
    *
    * Scale: identical to qMarkovAttribution — one fact-sized window +
    * count stage; 16 coalition iterations on the driver over the
    * |types|^2 count matrix.
    */
  def qShapleyAttribution(t: Tables, rounds: Int = 8): DataFrame = {
    val spark = t.events.sparkSession
    import spark.implicits._
    val (pMicro, channels) = journeyChain(t)
    val n = channels.length
    require(n <= 8, s"coalition sweep is 2^n; got n=$n channel states")
    val all = channels.toSet
    def vKept(kept: Set[String]): Long =
      absorptionMicro(pMicro, all -- kept, rounds)
    val value = all.subsets().map(s => s -> vKept(s)).toMap
    def fact(k: Int): Long = (1 to k).foldLeft(1L)(_ * _)
    val denom = fact(n)
    val vAll = value(all)

    channels.map { c =>
      val others = all - c
      // integer sum of |S|!(n-|S|-1)! * marginal, over S <= others
      val num = others.subsets().map { s =>
        fact(s.size) * fact(n - s.size - 1) * (value(s + c) - value(s))
      }.sum
      (c, vAll, num, num.toDouble / denom.toDouble)
    }.toDF("channel", "v_full_micro", "shapley_num", "shapley_micro")
      .orderBy("channel")
  }

  /** Peak concurrency per hour-of-day by interval sweep: each event opens
    * a 5-minute activity window [ts, ts+300s), the +1/-1 endpoint deltas
    * are sorted, and a running sum gives the live-interval count at every
    * boundary — the O(n log n) sweep-line that replaces the quadratic
    * self-join formulation of "how many windows overlap". End points sort
    * BEFORE start points at the same instant (delta ascending), which is
    * exactly half-open interval semantics, and the event id is the final
    * tiebreak so the running sum is a total order — engine-exact.
    *
    * Scale: NOT one global single-partition window. The sweep decomposes
    * by epoch hour: a window partitioned by hour runs the in-hour prefix
    * sums in parallel, and each hour's carry-in (the live count inherited
    * from every earlier hour) is a prefix sum over the HOUR-TOTAL frame —
    * dimension-sized (one row per hour in the data), so its global window
    * is bounded regardless of event volume. live = carry + in-hour sum
    * reproduces the global cumsum exactly, so the oracle keeps its plain
    * one-window formulation.
    */
  def qSessionConcurrency(t: Tables, activeUs: Long = 300L * 1000000L): DataFrame = {
    // microsecond domain like qInterarrival: sweep order must be a total
    // order BOTH engines see identically, and DuckDB's parquet reader
    // only keeps microseconds — a nanosecond tiebreak here would be
    // invisible to the oracle and could transiently reorder +1/-1 deltas
    val ev = t.events.select(
      expr("ts_ns div 1000").as("ts_us"), col("event_id"))
    val hourUs = 3600L * 1000000L
    val pts = ev
      .select(col("ts_us").as("pt"), lit(1).as("delta"), col("event_id"))
      .unionAll(ev.select(
        (col("ts_us") + lit(activeUs)).as("pt"), lit(-1).as("delta"),
        col("event_id")))
      .withColumn("hr", expr(s"pt div ${hourUs}L"))
    // pass 1: in-hour sweep — partitioned window, parallel at any scale
    // (epoch hour is monotone in pt, so per-hour order + hour order is
    // exactly the global sweep order)
    val inHour = Window.partitionBy("hr")
      .orderBy(col("pt"), col("delta"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // pass 2: carry-in per hour — prefix sum over one row per hour
    val priorHours = Window.orderBy("hr")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = pts.groupBy("hr").agg(sum("delta").as("tot"))
      .withColumn("carry", coalesce(sum("tot").over(priorHours), lit(0L)))
      .select("hr", "carry")
    pts
      .withColumn("loc", sum("delta").over(inHour))
      .join(broadcast(carry), "hr")
      .withColumn("live", col("carry") + col("loc"))
      .groupBy(expr("(pt div 3600000000) % 24").as("hod"))
      .agg(max("live").cast("long").as("peak_concurrent"),
        count(lit(1)).as("n_boundaries"))
      .orderBy("hod")
  }

  /** Seasonal-naive forecast backtest: predict each hour's event count
    * from the same hour 24h earlier and score MAE / MAPE per type — the
    * baseline every real forecaster must beat, and the backtesting shape
    * (self-join on the lagged calendar key, error aggregate) is the same
    * regardless of model. MAE is a ratio of exact integers; each row's
    * percentage error is rounded at 1e-9 into a narrow decimal BEFORE the
    * mean so the sum is aggregation-order-free.
    */
  def qForecastBacktest(t: Tables): DataFrame = {
    val hourUs = 3600L * 1000000L
    val hourly = t.events
      .groupBy(col("event_type"),
        expr(s"(ts_ns div 1000) div ${hourUs}L").as("hr"))
      .agg(count(lit(1)).as("n"))
    hourly.as("h")
      .join(hourly.as("p"),
        col("h.event_type") === col("p.event_type") &&
          col("h.hr") === col("p.hr") + 24)
      .select(col("h.event_type").as("event_type"),
        col("h.n").as("actual"), col("p.n").as("pred"))
      .withColumn("abs_err", abs(col("actual") - col("pred")))
      .withColumn("pct_err",
        round(col("abs_err").cast("double") / col("pred").cast("double"), 9)
          .cast(DecimalType(14, 10)))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_hours"),
        (sum(col("abs_err")).cast("double") / count(lit(1)).cast("double"))
          .as("mae"),
        (sum(col("pct_err")).cast("double") / count(lit(1)).cast("double"))
          .as("mape"))
      .orderBy("event_type")
  }

  /** Inter-arrival time distribution per event type: mean / median / p95
    * gap between consecutive events of the type — the latency-profile
    * aggregate behind queue sizing and anomaly alerts. Gaps are exact
    * nanosecond longs from one lag window; mean is an exact integer
    * sum / count and the percentiles interpolate over integers, so every
    * output is a deterministic function of the sorted gap multiset.
    * Scale: partitioned by type (the window never sees a global order);
    * a hot type bounds one partition — the per-entity cap documented for
    * sessionization applies the same way.
    */
  def qInterarrival(t: Tables): DataFrame = {
    // microsecond domain: DuckDB's parquet reader truncates TIMESTAMP_NS
    // to microseconds, so nanosecond gaps could never hash-match — the
    // integer `div` keeps the truncation exact (the q_debounce precedent)
    val byType = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
    t.events
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .withColumn("gap", col("ts_us") - lag("ts_us", 1).over(byType))
      .filter(col("gap").isNotNull)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_gaps"),
        (sum(col("gap")).cast("double") / count(lit(1)).cast("double") /
          lit(1e6)).as("mean_gap_s"),
        (percentile(col("gap"), lit(0.5)) / lit(1e6)).as("p50_gap_s"),
        (percentile(col("gap"), lit(0.95)) / lit(1e6)).as("p95_gap_s"))
      .orderBy("event_type")
  }

  /** Rate limiting / throttling: keep at most `maxPerMin` events per
    * (user, minute), earliest-first with the event id as tiebreak — the
    * ingestion guard a pipeline applies before an expensive enrichment
    * stage. Emits per-type admission stats. One window over the
    * (user, minute) key; at scale that key is the shuffle key and hot
    * users bound each partition's sort at 60s of their events.
    */
  def qRateLimit(t: Tables, maxPerMin: Int = 2): DataFrame = {
    // microsecond ordering (see qSessionConcurrency) so the admission
    // tiebreak is the same total order the oracle sees
    val minuteUs = 60L * 1000000L
    val byUserMin = Window
      .partitionBy(col("user_id"), expr(s"(ts_ns div 1000) div ${minuteUs}L"))
      .orderBy(expr("ts_ns div 1000"), col("event_id"))
    t.events
      .withColumn("rn", row_number().over(byUserMin))
      .withColumn("kept", (col("rn") <= maxPerMin).cast("long"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum("kept").cast("long").as("n_kept"),
        (count(lit(1)) - sum("kept")).cast("long").as("n_dropped"))
      .orderBy("event_type")
  }

  /** STL-style anomaly detection over each event type's daily counts,
    * entirely in integer MICRO-UNITS (the PageRank rule — floor-division
    * fixed-point instead of floats, so every step is order-free and
    * engine-exact): trend = centered 7-day moving average, seasonal =
    * day-of-week mean of the detrended series, anomaly = the days with
    * the largest |residual| per type. The windows are per-type day
    * series — partitioned, never global; day-of-week means are a
    * (type × 7)-sized aggregate.
    */
  def qStlAnomalies(t: Tables, topK: Int = 2): DataFrame = {
    val daily = t.events
      .select(col("event_type"), expr("ts_ns div 86400000000000").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("y"))
    val detr = daily
      .withColumn("trend_u",
        expr("(sum(y * 1000000) over (partition by event_type order by day " +
          "rows between 3 preceding and 3 following)) div " +
          "(count(y) over (partition by event_type order by day " +
          "rows between 3 preceding and 3 following))"))
      .withColumn("detr_u", col("y") * 1000000L - col("trend_u"))
      .withColumn("dow", pmod(col("day"), lit(7)))
    val resid = detr
      .withColumn("seas_u",
        expr("sum(detr_u) over (partition by event_type, dow) div " +
          "count(detr_u) over (partition by event_type, dow)"))
      .withColumn("resid_u", col("detr_u") - col("seas_u"))
    val wRank = Window.partitionBy("event_type")
      .orderBy(abs(col("resid_u")).desc, col("day"))
    resid.withColumn("rk", row_number().over(wRank))
      .filter(col("rk") <= topK)
      .select(col("event_type"),
        date_format(timestamp_micros(col("day") * lit(86400000000L)),
          "yyyy-MM-dd").as("date"),
        col("y"),
        (col("trend_u").cast("double") / 1e6).as("trend"),
        (col("seas_u").cast("double") / 1e6).as("seasonal"),
        (col("resid_u").cast("double") / 1e6).as("residual"),
        col("rk").cast("long").as("rk"))
      .orderBy("event_type", "rk")
  }

  /** Holt double-exponential smoothing (level + trend, α=0.3 β=0.1) over
    * each event type's daily count series, seeded at the first
    * observation — the classic recursive forecaster that plain SQL
    * aggregation cannot express. The recurrence runs as ONE sequential
    * fold (`aggregate` HOF) over the day-sorted series; a sequential fold
    * of IEEE doubles is a pinned evaluation order, so the result is
    * bit-identical across partitionings AND engines (DuckDB `list_reduce`
    * replays the same ops — the jackknife rule). Scale: series collect
    * per TYPE and are bounded by the time domain (days), not event
    * volume; the heavy work is the daily-count aggregation, which is an
    * ordinary two-key hash aggregate.
    */
  def qHoltSmoothing(t: Tables): DataFrame = {
    val daily = t.events
      .select(col("event_type"), expr("ts_ns div 86400000000000").as("day"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).cast("double").as("y"))
    daily.groupBy("event_type")
      .agg(array_sort(collect_list(struct(col("day"), col("y")))).as("s"))
      .select(col("event_type"),
        size(col("s")).cast("long").as("n_days"),
        expr("""aggregate(
            slice(transform(s, p -> p.y), 2, size(s) - 1),
            array(s[0].y, cast(0.0 as double)),
            (acc, y) -> array(
              0.3 * y + 0.7 * (acc[0] + acc[1]),
              0.1 * (0.3 * y + 0.7 * (acc[0] + acc[1]) - acc[0])
                + 0.9 * acc[1]))""").as("st"))
      .select(col("event_type"), col("n_days"),
        expr("st[0]").as("level"), expr("st[1]").as("trend"),
        expr("st[0] + 7 * st[1]").as("forecast_7"))
      .orderBy("event_type")
  }

  /** Holt–Winters additive triple-exponential smoothing (level + trend +
    * weekly seasonality, α=0.3 β=0.1 γ=0.2, m=7) over each event type's
    * ZERO-FILLED daily count series — the seasonal upgrade of
    * [[qHoltSmoothing]]. Seeds are the textbook two-season init: L₀ =
    * mean of week 1, B₀ = (mean of week 2 − mean of week 1)/7, Sᵢ =
    * yᵢ − L₀ for the first week; the recurrence then folds y₇..yₙ₋₁
    * carrying state [L, B, S-ring of 7] as ONE sequential `aggregate`
    * HOF — a pinned IEEE evaluation order, so results are bit-identical
    * across partitionings and engines (DuckDB `list_reduce` replays the
    * same ops; the jackknife rule). Types with under two seasons of data
    * are excluded (seeds undefined). Zero-fill matters: a gap day would
    * rotate the seasonal ring out of phase with the calendar.
    *
    * Scale: like qHoltSmoothing — the heavy work is the two-key daily
    * hash aggregate; series collect per TYPE, bounded by the time domain
    * (days), never by event volume.
    */
  def qHoltWinters(t: Tables): DataFrame =
    hwEpilogue(hwDaily(t.events))

  /** The stateful-aggregable stage of [[qHoltWinters]]: per
    * (event_type, day) counts. Count cells merge exactly across
    * micro-batches and the state domain is types × days, so this same
    * frame runs as a Structured Streaming aggregation
    * ([[graft.streaming.Streams.drainHoltWinters]]). */
  def hwDaily(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), expr("ts_ns div 86400000000000").as("day"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n"))

  /** Batch epilogue of [[qHoltWinters]] over the day-count frame:
    * zero-fill, two-season seeds, and the sequential HOF fold. */
  def hwEpilogue(dailyCounts: DataFrame): DataFrame = {
    val daily = dailyCounts
      .select(col("event_type"), col("day"), col("n").cast("double").as("y"))
    val spine = daily.groupBy("event_type")
      .agg(min("day").as("lo"), max("day").as("hi"))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"))).as("day"))
    val ser = spine
      .join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("y"), lit(0.0)).as("y"))
      .groupBy("event_type")
      .agg(array_sort(collect_list(struct(col("day"), col("y")))).as("s"))
      .select(col("event_type"),
        size(col("s")).cast("long").as("n_days"),
        expr("transform(s, p -> p.y)").as("ys"))
      .filter(col("n_days") >= 14)
      // seed scalars once as columns; referenced from inside the HOF
      // lambdas below (outer-column references are legal in both engines)
      .withColumn("l0",
        expr("(ys[0]+ys[1]+ys[2]+ys[3]+ys[4]+ys[5]+ys[6]) / 7.0"))
      .withColumn("b0",
        expr("""((ys[7]+ys[8]+ys[9]+ys[10]+ys[11]+ys[12]+ys[13])
                 - (ys[0]+ys[1]+ys[2]+ys[3]+ys[4]+ys[5]+ys[6])) / 49.0"""))
    // state vector: [L, B, s0..s6] (s0 = the seasonal the NEXT step
    // consumes). Each step drops s0 and appends the re-estimated one —
    // a ring rotation. L' is spelled out 3× (HOF lambdas have no let);
    // the repeated expression is op-for-op identical so IEEE agrees.
    ser.select(col("event_type"), col("n_days"),
        expr("""aggregate(
            slice(ys, 8, size(ys) - 7),
            concat(array(l0, b0), transform(slice(ys, 1, 7), y -> y - l0)),
            (acc, y) -> concat(
              array(
                0.3 * (y - acc[2]) + 0.7 * (acc[0] + acc[1]),
                0.1 * ((0.3 * (y - acc[2]) + 0.7 * (acc[0] + acc[1]))
                  - acc[0]) + 0.9 * acc[1]),
              slice(acc, 4, 6),
              array(0.2 * (y - (0.3 * (y - acc[2])
                + 0.7 * (acc[0] + acc[1]))) + 0.8 * acc[2])))""").as("st"))
      .select(col("event_type"), col("n_days"),
        expr("st[0]").as("level"), expr("st[1]").as("trend"),
        expr("st[2]").as("seasonal_next"),
        expr("st[0] + 1.0 * st[1] + st[2]").as("forecast_1"),
        expr("st[0] + 7.0 * st[1] + st[8]").as("forecast_7"))
      .orderBy("event_type")
  }

  /** Page–Hinkley drift detector over each event type's daily count
    * series: the classic sequential change monitor PHₜ = mₜ − min mᵢ
    * with mₜ = Σ(xᵢ − x̄ᵢ) (running mean, δ=0) — where the cumulative
    * drift peaks is where the series broke from its own history. The
    * recurrence unrolls into window algebra: the per-day deviation
    * term xₜ − cum(x)/t rounds into DECIMAL at 1e-9 (the Kaplan–Meier
    * pinning rule — a raw-double running sum would be summation-tree-
    * dependent), so mₜ, its running min and PH are exact decimal
    * arithmetic; argmax ties break to the EARLIEST day.
    *
    * Scale: the heavy work is the two-key daily hash aggregate; every
    * window is partitioned by type over calendar-bounded series.
    */
  def qPageHinkley(t: Tables): DataFrame = {
    val byDay = Window.partitionBy("event_type").orderBy("day")
    val cumW = byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val typeW = Window.partitionBy("event_type")
    hwDaily(t.events)
      .select(col("event_type"), col("day"), col("n").cast("double").as("x"))
      .withColumn("t", row_number().over(byDay).cast("long"))
      .withColumn("cum_x", sum(col("x").cast(DecimalType(20, 1))).over(cumW))
      .withColumn("term",
        round(col("x") - col("cum_x").cast("double") / col("t").cast("double"),
          9).cast(DecimalType(24, 9)))
      .withColumn("m", sum("term").over(cumW))
      .withColumn("min_m", min("m").over(cumW))
      .withColumn("ph", col("m") - col("min_m"))
      .withColumn("max_ph", max("ph").over(typeW))
      .withColumn("nd", count(lit(1)).over(typeW))
      .groupBy("event_type")
      .agg(
        max("nd").as("n_days"),
        max(when(col("t") === col("nd"), col("ph"))).cast("double")
          .as("ph_final"),
        max("ph").cast("double").as("ph_max"),
        min(when(col("ph") === col("max_ph"), col("t"))).as("ph_argmax_t"))
      .orderBy("event_type")
  }

  /** Lagged cross-correlation between the hourly 'click' and 'view' count
    * series: Pearson r of (click_t, view_{t+lag}) for lags -3..3 hours —
    * the lead/lag diagnostic behind "does one stream drive the other".
    * Series are ZERO-FILLED over the table's hour spine first (a lag over
    * a sparse series would silently skip empty hours and misalign pairs).
    *
    * Scale shape: the corpus reduces to two (hour, n) series in one
    * aggregate; the per-lag self-join runs on spine-sized frames (hours,
    * not events) keyed by exact hour offset. Counts and their moment sums
    * are integers; r is the only float, rounded far above ulp.
    */
  def qCrossCorr(t: Tables, maxLag: Int = 3): DataFrame = {
    val hourNs = 3600L * 1000000000L
    val ev = t.events
      .filter(col("event_type").isin("click", "view"))
      .withColumn("h", expr(s"ts_ns div $hourNs"))
    val bounds = ev.agg(min("h").as("lo"), max("h").as("hi"))
    val spine = bounds
      .select(explode(sequence(col("lo"), col("hi"))).as("h"))
      .loopCheckpoint()
    def series(et: String) = spine
      .join(ev.filter(col("event_type") === et)
          .groupBy("h").agg(count(lit(1)).as("n")),
        Seq("h"), "left")
      .select(col("h"), coalesce(col("n"), lit(0L)).as("n"))
    val x = series("click").toDF("hx", "x")
    val y = series("view").toDF("hy", "y")
    val lags = spine.sparkSession.range(-maxLag, maxLag + 1L)
      .select(col("id").cast("long").as("lag"))
    val out = x.crossJoin(broadcast(lags))
      .join(y, col("hx") + col("lag") === col("hy"))
      .groupBy("lag")
      .agg(
        count(lit(1)).as("n_pairs"),
        sum("x").as("sx"), sum("y").as("sy"),
        // moment products in DECIMAL: hot-hour counts square past long
        // range at full scale
        sum(col("x").cast(DecimalType(28, 0)) * col("y")).as("sxy"),
        sum(col("x").cast(DecimalType(28, 0)) * col("x")).as("sxx"),
        sum(col("y").cast(DecimalType(28, 0)) * col("y")).as("syy"))
      .select(col("lag"), col("n_pairs"),
        // the cross-terms sx*sy / sx² / sy² get the same DECIMAL widening
        // as the moment sums above: long*long would wrap silently at the
        // hot-hour magnitudes the decimal guard exists for (DuckDB computes
        // these in HUGEINT, so only the Spark side needed widening)
        round(
          (col("n_pairs") * col("sxy") -
            col("sx").cast(DecimalType(28, 0)) * col("sy")).cast("double") /
            sqrt(
              (col("n_pairs") * col("sxx") -
                col("sx").cast(DecimalType(28, 0)) * col("sx")).cast("double") *
                (col("n_pairs") * col("syy") -
                  col("sy").cast(DecimalType(28, 0)) * col("sy")).cast("double")),
          9).as("xcorr"))
      .orderBy("lag")
      .loopCheckpoint()
    graft.Engine.freeCheckpoint(spine)
    out
  }

  /** Interval-overlap join: per-user activity sessions (30-minute gap
    * sessionization, [[qSessionize]]'s exact formulation) joined against
    * "incident hours" — hours whose global event count exceeds 1.5x the
    * mean over non-empty hours (an integer-exact predicate:
    * 2·n·n_hours > 3·total). Emits per-user counts of sessions and of
    * sessions that overlap at least one incident hour.
    *
    * Scale shape: because incidents are hour-aligned, interval overlap
    * [s,e] x [hH,(h+1)H) reduces EXACTLY to membership of h in
    * [s div H, e div H] — so the join is an equi-join on the hour key
    * (sessions explode to their covered hours, bounded by session span),
    * not an inequality theta-join; the tiny incident dimension broadcasts.
    * This is the banding trick every production interval join at 100 TB
    * needs, stated in its cleanest form.
    */
  def qIntervalOverlap(t: Tables): DataFrame = {
    val gapNs = 30L * 60L * 1000000000L
    val hourNs = 3600L * 1000000000L
    val byUser = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    val sess = t.events
      .withColumn("prev_ns", lag("ts_ns", 1).over(byUser))
      .withColumn("brk",
        when(col("prev_ns").isNull || col("ts_ns") - col("prev_ns") > gapNs, 1L)
          .otherwise(0L))
      .withColumn("sid",
        sum("brk").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(min("ts_ns").as("s_ns"), max("ts_ns").as("e_ns"))
    val hourly = t.events
      .withColumn("h", expr(s"ts_ns div $hourNs"))
      .groupBy("h").agg(count(lit(1)).as("n"))
    val stats = hourly.agg(
      count(lit(1)).as("n_hours"), sum("n").as("total"))
    val incidents = hourly.crossJoin(broadcast(stats))
      .filter(lit(2L) * col("n") * col("n_hours") > lit(3L) * col("total"))
      .select(col("h"))
    val overlapped = sess
      .select(col("user_id"), col("sid"),
        explode(sequence(expr(s"s_ns div $hourNs"), expr(s"e_ns div $hourNs")))
          .as("h"))
      .join(broadcast(incidents), "h")
      .select("user_id", "sid").distinct()
    sess
      .join(overlapped.withColumn("hit", lit(1L)), Seq("user_id", "sid"), "left")
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(coalesce(col("hit"), lit(0L))).as("n_incident_sessions"))
      .filter(col("n_incident_sessions") > 0)
      .orderBy("user_id")
  }

  /** SLO error-budget burn rate, the multi-window alerting query from the
    * SRE playbook: per day, the error-event share against a 25% error
    * budget, as both the 1-day burn and the 7-day rolling burn
    * (burn = error_rate / budget; burn > 1 consumes budget faster than
    * the SLO allows). Short window catches fast burns, long window slow
    * leaks — paging on both is the standard reduction of alert noise.
    *
    * Scale shape: the corpus reduces to one (day, total, errors) row per
    * day in a single aggregate; the rolling window runs over the
    * day-spine (30 rows/month), not events. All counts are exact longs;
    * each burn is a single long/long IEEE division, bit-identical across
    * engines, rounded far above ulp.
    */
  def qSloBurn(t: Tables): DataFrame = {
    val dayNs = 86400L * 1000000000L
    // RANGE (not ROWS) over the integer day index: a day with zero events
    // is absent from the spine, and a rows-frame would silently stretch
    // the "7-day" window across the gap
    val w7 = Window.orderBy("day_idx").rangeBetween(-6, 0)
    t.events
      .withColumn("day_idx", expr(s"ts_ns div ${dayNs}L"))
      .groupBy("day_idx")
      .agg(
        count(lit(1)).as("n_events"),
        count(when(col("event_type") === "error", 1)).as("n_errors"))
      .withColumn("err7", sum("n_errors").over(w7))
      .withColumn("tot7", sum("n_events").over(w7))
      .select(
        date_format(
          timestamp_micros(expr(s"day_idx * ${86400L * 1000000L}L")),
          "yyyy-MM-dd").as("day"),
        col("n_events"), col("n_errors"),
        // 4*err/tot = (err/tot) / 0.25 in ONE division: two exact longs
        // in, one IEEE op out — no intermediate rounding to disagree on
        round(lit(4L) * col("n_errors").cast("double") /
          col("n_events").cast("double"), 6).as("burn_1d"),
        round(lit(4L) * col("err7").cast("double") /
          col("tot7").cast("double"), 6).as("burn_7d"))
      .orderBy("day")
  }

  /** CUPED variance-reduced A/B readout (Deng et al., WSDM'13): users are
    * split into two variants by id parity; the experiment metric is each
    * user's purchase revenue in the second half of the observed period,
    * adjusted by their first-half revenue as the pre-experiment covariate:
    * adj_mean = mean(Y_v) - theta * (mean(X_v) - mean(X)), with
    * theta = cov(X,Y)/var(X) pooled over all users. The variance the
    * covariate explains drops out of the between-variant comparison —
    * the standard way to cut experiment runtime on heavy-tailed revenue.
    *
    * Scale shape: events reduce to one (x, y) row per user in a single
    * conditional aggregate; moments are micro-unit integer sums (exact
    * DECIMAL cross-products, one cast to double at the ratio), so
    * aggregation order cannot shift a bit. The moment frame is a handful
    * of scalars broadcast into the two variant rows. Micro-unit
    * magnitudes stay exact to ~1e31 — rescale the unit before that.
    */
  def qCuped(t: Tables): DataFrame = {
    val dayNs = 86400L * 1000000000L
    val ev = t.events
      .withColumn("day_idx", expr(s"ts_ns div ${dayNs}L"))
      .withColumn("v_mu",
        when(col("event_type") === "purchase",
          round(col("value") * lit(1000000L)).cast("long")).otherwise(lit(0L)))
    // data-driven midpoint split keeps the query meaningful on any
    // shipped time range (a fixed calendar literal would put every event
    // on one side of the boundary for a differently-dated drop)
    // integer `div`: Spark's `/` on longs yields double, and a fractional
    // midpoint would never equal the oracle's integer-halved boundary
    val mid = ev.agg(expr("(min(day_idx) + max(day_idx) + 1) div 2").as("mid"))
    val perUser = ev.crossJoin(broadcast(mid))
      .groupBy("user_id")
      .agg(
        sum(when(col("day_idx") < col("mid"), col("v_mu")).otherwise(0L))
          .as("x"),
        sum(when(col("day_idx") >= col("mid"), col("v_mu")).otherwise(0L))
          .as("y"))
      .withColumn("variant", pmod(col("user_id"), lit(2)).cast("long"))
    val moments = perUser.agg(
      count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x").cast(DecimalType(28, 0)) * col("y")).as("sxy"),
      sum(col("x").cast(DecimalType(28, 0)) * col("x")).as("sxx"))
    val byVariant = perUser.groupBy("variant")
      .agg(count(lit(1)).as("n_users"), sum("x").as("vx"), sum("y").as("vy"))
    byVariant.crossJoin(broadcast(moments))
      .select(
        col("variant"), col("n_users"),
        col("n"), col("vx"), col("vy"), col("sx"), col("sy"),
        col("sxy"), col("sxx"))
      .withColumn("theta",
        (col("n") * col("sxy") -
          col("sx").cast(DecimalType(28, 0)) * col("sy")).cast("double") /
          (col("n") * col("sxx") -
            col("sx").cast(DecimalType(28, 0)) * col("sx")).cast("double"))
      .withColumn("mean_pre",
        col("vx").cast("double") / lit(1e6) / col("n_users").cast("double"))
      .withColumn("mean_post",
        col("vy").cast("double") / lit(1e6) / col("n_users").cast("double"))
      .withColumn("mean_pre_all",
        col("sx").cast("double") / lit(1e6) / col("n").cast("double"))
      .select(
        col("variant"), col("n_users"),
        round(col("mean_pre"), 6).as("mean_pre"),
        round(col("mean_post"), 6).as("mean_post"),
        round(col("theta"), 6).as("theta"),
        round(col("mean_post") -
          col("theta") * (col("mean_pre") - col("mean_pre_all")), 6)
          .as("mean_adjusted"))
      .orderBy("variant")
  }

  /** Single-changepoint detection per event-type daily revenue series:
    * the split day minimizing total within-segment squared error
    * (binary-segmentation step 1 / CUSUM's offline twin). For each
    * candidate boundary, SSE_left + SSE_right comes from prefix sums:
    * SSE = Sxx - Sx^2/n per segment — the O(n) scan over an O(n)
    * prefix frame, not the naive O(n^2) re-aggregation.
    *
    * Scale shape: events collapse to one row per (type, day) in one
    * aggregate; prefix sums are a window over the per-type day spine;
    * the argmin is a per-type min over spine rows. Daily sums are exact
    * integer cents, so every prefix is an exactly-represented double
    * (< 2^53 up to ~ sf1-scale corpora — rescale the unit beyond) and
    * the cost expression is the same IEEE arithmetic on both engines;
    * the (cost, day) tiebreak never actually decides between unequal
    * plans.
    */
  def qChangepoint(t: Tables): DataFrame = {
    val dayNs = 86400L * 1000000000L
    val daily = t.events
      .withColumn("day_idx", expr(s"ts_ns div ${dayNs}L"))
      .withColumn("v_c", round(col("value") * lit(100L)).cast("long"))
      .groupBy("event_type", "day_idx")
      .agg(sum("v_c").as("v"))
      // the series point is the DAILY sum, so the second moment squares
      // the per-day value, not per-event values
      .withColumn("vv", col("v") * col("v"))
    val byType = Window.partitionBy("event_type")
    val cum = Window.partitionBy("event_type").orderBy("day_idx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy("event_type")
    val scored = daily
      .withColumn("k", count(lit(1)).over(cum))
      .withColumn("sx_l", sum("v").over(cum))
      .withColumn("sxx_l", sum("vv").over(cum))
      .withColumn("n_tot", count(lit(1)).over(all))
      .withColumn("sx_tot", sum("v").over(all))
      .withColumn("sxx_tot", sum("vv").over(all))
      .filter(col("k") < col("n_tot")) // right segment must be non-empty
      .withColumn("cost",
        (col("sxx_l").cast("double") -
          col("sx_l").cast("double") * col("sx_l").cast("double") /
            col("k").cast("double")) +
          ((col("sxx_tot") - col("sxx_l")).cast("double") -
            (col("sx_tot") - col("sx_l")).cast("double") *
              (col("sx_tot") - col("sx_l")).cast("double") /
              (col("n_tot") - col("k")).cast("double")))
      .withColumn("rn",
        row_number().over(byType.orderBy(col("cost"), col("day_idx"))))
      .filter(col("rn") === 1)
    scored.select(
        col("event_type"),
        date_format(
          timestamp_micros(expr(s"day_idx * ${86400L * 1000000L}L")),
          "yyyy-MM-dd").as("split_day"),
        col("k").as("n_left"),
        (col("n_tot") - col("k")).as("n_right"),
        round(col("sx_l").cast("double") / lit(100.0) /
          col("k").cast("double"), 6).as("mean_left"),
        round((col("sx_tot") - col("sx_l")).cast("double") / lit(100.0) /
          (col("n_tot") - col("k")).cast("double"), 6).as("mean_right"),
        round(col("cost") / lit(10000.0), 4).as("sse"))
      .orderBy("event_type")
  }

  /** Per-user interarrival burstiness (Goh–Barabási B = (σ−μ)/(σ+μ) over
    * the gap distribution): B → −1 for a metronome, 0 for a Poisson
    * process, → +1 for extreme bursts. The traffic-shape fingerprint a
    * pipeline uses to separate organic users from schedulers and scrapers
    * before rate decisions.
    *
    * Gaps are exact microsecond integers; μ and the population σ come
    * from (n, Σg, Σg²) with Σg² held in DECIMAL(38,0) (a month-long gap
    * squared overflows a long), so the double chain after the aggregate is
    * fixed-order and engine-portable.
    *
    * Scale: one window per user (the natural shuffle key) + one hash
    * aggregate; output is user-dimension-sized. The min-gap filter keeps
    * drive-by users out of the B estimate (σ of 3 gaps is noise).
    */
  def qBurstiness(t: Tables, minGaps: Int = 20): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val gaps = t.events
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .withColumn("gap", col("ts_us") - lag("ts_us", 1).over(byUser))
      .filter(col("gap").isNotNull)
      .select(col("user_id"), col("gap"))
    burstinessFromGaps(gaps, minGaps)
  }

  /** [[qBurstiness]]' aggregate over an already-extracted (user_id, gap)
    * frame — shared with the streaming drain, whose stateful emitter
    * produces the same gaps incrementally.
    */
  private[graft] def burstinessFromGaps(
      gaps: DataFrame, minGaps: Int): DataFrame = {
    gaps
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_gaps"),
        sum(col("gap")).cast("long").as("sg"),
        // widen BEFORE squaring: a week-long gap is ~6e11 µs and its
        // square overflows long arithmetic (silently, with ANSI off)
        sum(col("gap").cast(DecimalType(38, 0)) * col("gap")).as("sgg"))
      .filter(col("n_gaps") >= minGaps)
      .withColumn("mean_us",
        col("sg").cast("double") / col("n_gaps").cast("double"))
      // population variance: (n·Σg² − (Σg)²) / n² with the numerator exact
      .withColumn("sd_us", sqrt(
        (col("sgg") * col("n_gaps") -
          (col("sg").cast(DecimalType(38, 0)) * col("sg"))).cast("double") /
          (col("n_gaps") * col("n_gaps")).cast("double")))
      // raw doubles out: every step from the exact (n, Σg, Σg²) is a
      // correctly-rounded IEEE op chain identical in any engine
      .select(
        col("user_id"), col("n_gaps"),
        (col("mean_us") / lit(1e6)).as("mean_gap_s"),
        (col("sd_us") / lit(1e6)).as("sd_gap_s"),
        ((col("sd_us") - col("mean_us")) /
          (col("sd_us") + col("mean_us"))).as("burstiness"))
      .orderBy("user_id")
  }

  /** Time-boxed conversion: for every click, the user's NEXT purchase and
    * whether it lands within the attribution window — the conversion-rate
    * + latency readout a funnel owner actually reports (the unboxed
    * funnel [[qFunnel]] overcounts conversions that happen days later).
    *
    * next-purchase lookup is a running MIN over the user's later events
    * (descending window) — one window pass per user, no self-join, exact
    * µs integers. The latency median is the exact `percentile` aggregate
    * over integer µs values, whose linear interpolation matches DuckDB's
    * quantile_cont bit-for-bit on exact integers.
    */
  def qConversionWindow(t: Tables, windowUs: Long = 3600L * 1000000L)
      : DataFrame = {
    val wDesc = Window.partitionBy("user_id")
      .orderBy(col("ts_us").desc, col("event_id").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val clicks = t.events
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .withColumn("purch_ts",
        when(col("event_type") === "purchase", col("ts_us")))
      .withColumn("next_purchase", min("purch_ts").over(wDesc))
      .filter(col("event_type") === "click")
      .select(col("event_id"),
        (col("next_purchase") - col("ts_us")).as("lat"))
      .withColumn("converted",
        (col("lat").isNotNull && col("lat") <= windowUs).cast("long"))
    // exact `percentile` over integer µs latencies: an aggregate, not a
    // global-sort window, and its linear interpolation matches DuckDB's
    // quantile_cont on exact integers (the q_interarrival precedent)
    clicks
      .agg(
        count(lit(1)).as("n_clicks"),
        sum(col("converted")).cast("long").as("n_converted"),
        sum(when(col("converted") === 1L, col("lat")).otherwise(0L))
          .cast("long").as("sl"),
        (percentile(when(col("converted") === 1L, col("lat")), lit(0.5)) /
          lit(1e6)).as("median_latency_s"))
      .select(
        col("n_clicks"), col("n_converted"),
        (col("n_converted").cast("double") / col("n_clicks").cast("double"))
          .as("conv_rate"),
        (col("sl").cast("double") / col("n_converted").cast("double") /
          lit(1e6)).as("mean_latency_s"),
        col("median_latency_s"))
  }

  /** Difference-in-differences readout: per-user purchase value split at
    * the data-driven midpoint day ([[qCuped]]'s pre/post boundary) and by
    * the mod-2 assignment; DiD = (treatment post−pre) − (control
    * post−pre), the estimator that nets out the shared time trend when no
    * pre-period covariate model is wanted. Exact integer micro-unit sums
    * per user → per-variant means by fixed double chains; the cross-
    * variant difference is a window over the two variant rows.
    */
  def qDid(t: Tables, variants: Int = 2): DataFrame = {
    val dayNs = 86400L * 1000000000L
    val ev = t.events
      .withColumn("day_idx", expr(s"ts_ns div ${dayNs}L"))
      .withColumn("v_mu",
        when(col("event_type") === "purchase",
          round(col("value") * lit(1000000L)).cast("long")).otherwise(lit(0L)))
    val mid = ev.agg(expr("(min(day_idx) + max(day_idx) + 1) div 2").as("mid"))
    val perVariant = ev.crossJoin(broadcast(mid))
      .groupBy(pmod(col("user_id"), lit(variants.toLong)).cast("long")
        .as("variant"))
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        sum(when(col("day_idx") < col("mid"), col("v_mu")).otherwise(0L))
          .cast("long").as("sx"),
        sum(when(col("day_idx") >= col("mid"), col("v_mu")).otherwise(0L))
          .cast("long").as("sy"))
      .withColumn("mean_pre",
        col("sx").cast("double") / lit(1e6) / col("n_users").cast("double"))
      .withColumn("mean_post",
        col("sy").cast("double") / lit(1e6) / col("n_users").cast("double"))
      .withColumn("delta", col("mean_post") - col("mean_pre"))
    val w = Window.partitionBy()
    perVariant
      .withColumn("did",
        max(when(col("variant") === 1L, col("delta"))).over(w) -
          max(when(col("variant") === 0L, col("delta"))).over(w))
      .select("variant", "n_users", "mean_pre", "mean_post", "delta", "did")
      .orderBy("variant")
  }

  /** Dominant periodicity: the autocorrelation-maximizing lag of each
    * event type's hourly count series over lags 2..48 — does this metric
    * breathe daily (lag 24), half-daily, or not at all? The detector a
    * monitor runs before choosing its seasonal baseline
    * ([[qSeasonalStrength]] then quantifies the winner).
    *
    * The series is the ZERO-FILLED hour spine (gaps are real zeros, not
    * missing rows); ACF terms use the n-scaled integer form
    * Σ(n·x_t − S)(n·x_{t+l} − S) / Σ(n·x_t − S)² — numerator and
    * denominator are exact DECIMAL sums of integer products, so the
    * argmax lag (picked on 9-dp-rounded decimal r with smallest-lag
    * tie-break) is a pure function of the data in any engine.
    *
    * Scale: the corpus collapses to the (type × hour) spine in one
    * aggregate; the lag self-join and everything after run on
    * spine-sized frames (hours are bounded by the calendar).
    */
  def qDominantPeriod(t: Tables, maxLag: Int = 48): DataFrame = {
    val spineBase = t.events
      .select(col("event_type"), expr("ts_ns div 3600000000000").as("h"))
      .groupBy("event_type", "h")
      .agg(count(lit(1)).as("x"))
      .loopCheckpoint() // spine-sized; consumed by range, stats, both lag sides
    val range = spineBase.groupBy("event_type")
      .agg(min("h").as("h0"), max("h").as("h1"))
    val spine = range
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"))).as("h"))
      .join(spineBase, Seq("event_type", "h"), "left")
      .na.fill(0L, Seq("x"))
      .loopCheckpoint()
    val stats = spine.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").cast("long").as("s"))
    // centered value in n-scaled integers: n·x − S (exact)
    val dev = spine.join(broadcast(stats), "event_type")
      .select(col("event_type"), col("h"),
        (col("x") * col("n") - col("s")).as("d"), col("n"))
    val den = dev.groupBy("event_type")
      .agg(sum((col("d") * col("d")).cast(DecimalType(38, 0))).as("den"),
        max("n").cast("long").as("n_hours"))
    // lag join: one self-join per lag would be 47 passes — instead join
    // (t, t+l) pairs for ALL lags at once via an explode of the lag range
    val pairs = dev
      .select(col("event_type"), col("h"), col("d"),
        explode(expr(s"sequence(2, $maxLag)")).as("lag"))
      .withColumn("h2", col("h") + col("lag"))
      .join(dev.select(col("event_type"), col("h").as("h2"),
        col("d").as("d2")), Seq("event_type", "h2"))
      .groupBy("event_type", "lag")
      .agg(sum((col("d") * col("d2")).cast(DecimalType(38, 0))).as("num"))
    val acf = pairs.join(broadcast(den), "event_type")
      .withColumn("r",
        round(col("num").cast("double") / col("den").cast("double"), 9)
          .cast(DecimalType(12, 10)))
    val out = acf
      .groupBy("event_type")
      .agg(
        max("n_hours").as("n_hours"),
        max(struct(col("r"), (-col("lag")).as("nl"))).as("best"),
        max(when(col("lag") === 24, col("r"))).as("r24"))
      .select(
        col("event_type"), col("n_hours"),
        (-col("best.nl")).cast("long").as("best_lag"),
        col("best.r").cast("double").as("best_acf"),
        col("r24").cast("double").as("acf24"))
      .orderBy("event_type")
      .loopCheckpoint()
    graft.Engine.freeCheckpoint(spine)
    graft.Engine.freeCheckpoint(spineBase)
    out
  }

  /** Pre-experiment power analysis: the minimum detectable effect (MDE)
    * on per-customer revenue for the mod-2 assignment the platform uses
    * ([[qCuped]]'s split family) at α = 0.05 / power = 0.8 — the
    * question every experiment review asks FIRST ("can this test even
    * see the effect size we care about?"). The z-quantile sum
    * z₀.₉₇₅ + z₀.₈ = 2.801585 is embedded as a fixed constant (part of
    * the test spec, the [[graft.ops.Stats.qFdrBh]] convention).
    *
    * Per-arm moments follow the qAnova DECIMAL recipe on kilo-dollar
    * units; the pooled variance and MDE are one pinned double chain.
    * Scale: one customer-key aggregate, then arm-sized everything.
    */
  def qAbPower(t: Tables): DataFrame = {
    val arms = t.orders
      .groupBy(col("o_custkey"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        .as("cents"))
      .withColumn("x", col("cents").cast("double") / lit(100000.0))
      .groupBy(pmod(col("o_custkey"), lit(2)).cast("long").as("arm"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x").cast(DecimalType(18, 6))).as("sx"),
        sum((col("x") * col("x")).cast(DecimalType(24, 6))).as("sxx"))
      .withColumn("term",
        round(col("sx").cast("double") * col("sx").cast("double") /
          col("n").cast("double"), 4).cast(DecimalType(24, 4)))
    arms
      .agg(
        sum("n").as("n_total"),
        min("n").as("n_min"),
        sum("sx").as("s_all"),
        sum("sxx").as("sxx_all"),
        sum("term").as("term_all"))
      .select(
        col("n_total"), col("n_min"),
        round(col("s_all").cast("double") /
          col("n_total").cast("double"), 6).as("grand_mean_k"),
        round((col("sxx_all").cast("double") -
          col("term_all").cast("double")) /
          (col("n_total") - 2).cast("double"), 6).as("pooled_var_k2"))
      .select(
        col("n_total"), col("n_min"), col("grand_mean_k"),
        col("pooled_var_k2"),
        round(lit(2.801585) *
          sqrt(col("pooled_var_k2") * lit(2.0) /
            col("n_min").cast("double")), 6).as("mde_abs_k"),
        round(lit(2.801585) *
          sqrt(col("pooled_var_k2") * lit(2.0) /
            col("n_min").cast("double")) / col("grand_mean_k"), 6)
          .as("mde_rel"))
  }

  /** Sample-ratio-mismatch (SRM) audit: for each candidate assignment
    * split (user_id mod k, k ∈ 2/3/5 — the same hash-mod family
    * [[qCuped]] assigns variants with), a uniform-goodness chi-square over
    * the DISTINCT-user bucket counts against the 95% critical value for
    * k−1 dof. The first gate an experimentation pipeline runs: a skewed
    * split invalidates every downstream readout no matter how good the
    * effect estimator is.
    *
    * The full (k, bucket) grid is joined in (a silently absent empty
    * bucket would drop its (0−e)²/e term); chi-square terms follow the
    * [[graft.ops.Stats.qChi2]] decimal-pinning recipe. One distinct-user
    * shuffle + dimension-sized everything after.
    */
  def qAbSrm(t: Tables): DataFrame = {
    val users = t.events.select(col("user_id")).distinct()
    srmFromCounts(srmBucketCounts(users), users.sparkSession)
  }

  /** The per-(split, bucket) distinct-user counts every SRM consumer
    * (batch gate + streaming drain) aggregates — input must already be
    * one row per user.
    */
  private[graft] def srmBucketCounts(users: DataFrame): DataFrame =
    users
      .select(explode(array(srmKs.map(k =>
        struct(lit(k).as("k"), pmod(col("user_id"), lit(k)).as("b"))): _*))
        .as("s"))
      .select(col("s.k"), col("s.b"))
      .groupBy("k", "b").agg(count(lit(1)).as("o"))

  private[graft] val srmKs = Seq(2L, 3L, 5L)

  /** [[qAbSrm]]'s chi-square epilogue over an already-aggregated
    * (k, b, o) bucket frame — shared with the streaming drain.
    */
  private[graft] def srmFromCounts(
      counts: DataFrame,
      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    val grid = srmKs.flatMap(k => (0L until k).map(b => (k, b))).toDF("k", "b")
    // the user total is the bucket-count sum per split (buckets partition
    // users) — a window over the ≤5-row group, not a second corpus pass
    val e = col("n").cast("double") / col("k").cast("double")
    val d = col("o").cast("double") - e
    grid
      .join(counts, Seq("k", "b"), "left")
      .na.fill(0L, Seq("o"))
      .withColumn("n", sum("o").over(Window.partitionBy("k")))
      .withColumn("term",
        round(d * d / e, 9).cast(DecimalType(20, 10)))
      .groupBy("k")
      .agg(max(col("n")).cast("long").as("n_users"),
        sum(col("term")).cast("double").as("chi2"))
      .withColumn("crit",
        when(col("k") === 2L, lit(3.841459))
          .when(col("k") === 3L, lit(5.991465))
          .otherwise(lit(9.487729)))
      .withColumn("srm_detected",
        (col("chi2") > col("crit")).cast("long"))
      .select(col("k"), col("n_users"), col("chi2"), col("crit"),
        col("srm_detected"))
      .orderBy("k")
  }

  /** Per-state dwell time: the interval until a user's NEXT event is
    * attributed to the type of the event that opened it, then rolled up
    * per type — where user time is actually spent, the engagement
    * complement of the transition-count Markov view
    * ([[qEventTransitions]]). Intervals are exact microsecond integers;
    * totals/means/shares are fixed double chains over one integer sum per
    * type, and the share denominator is a window over the handful of type
    * rows.
    *
    * Scale: one window per user (the shuffle key) + one dimension-sized
    * aggregate — the same shape as [[qInterarrival]].
    */
  def qDwellTime(t: Tables): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val gaps = t.events
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .withColumn("gap", lead("ts_us", 1).over(byUser) - col("ts_us"))
      .filter(col("gap").isNotNull)
      .select(col("event_type"), col("gap"))
    dwellFromGaps(gaps)
  }

  /** [[qDwellTime]]'s rollup over an already-extracted (event_type, gap)
    * frame — shared with the streaming drain.
    */
  private[graft] def dwellFromGaps(gaps: DataFrame): DataFrame = {
    val w = Window.partitionBy()
    gaps
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_intervals"), sum("gap").cast("long").as("sg"))
      .withColumn("total", sum("sg").over(w))
      .select(
        col("event_type"), col("n_intervals"),
        (col("sg").cast("double") / lit(1e6)).as("total_dwell_s"),
        (col("sg").cast("double") / col("n_intervals").cast("double") /
          lit(1e6)).as("mean_dwell_s"),
        (col("sg").cast("double") / col("total").cast("double"))
          .as("dwell_share"))
      .orderBy("event_type")
  }

  /** Hour-of-day seasonality strength per event type: the share of the
    * value variance explained by the hourly profile, 1 − SS_within /
    * SS_total over the 24 hour-of-day groups — the one-number answer to
    * "does this metric actually have a daily cycle" that decides whether
    * a monitor needs hourly baselines ([[qHourlyProfile]]) or one global
    * band.
    *
    * Values are exact integer cents; each hour's within-group sum of
    * squares is a fixed double expression of that hour's exact
    * (n, Σx, Σx²), rounded to 6 dp and summed as DECIMAL across the ≤24
    * hour rows (the [[graft.ops.Stats.qChi2]] recipe) so the final sum
    * cannot drift with aggregation order.
    *
    * Scale: one map-side-combinable aggregate over events into
    * (type x 24) cells; everything downstream is metadata-sized.
    */
  def qSeasonalStrength(t: Tables): DataFrame = {
    val cents = (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
    val hourly = t.events
      .select(col("event_type"),
        expr("(ts_ns div 3600000000000) % 24").as("hod"), cents.as("c"))
      .groupBy("event_type", "hod")
      .agg(
        count(lit(1)).as("nh"),
        sum(col("c")).cast(DecimalType(38, 0)).as("sh"),
        sum((col("c") * col("c")).cast(DecimalType(38, 0))).as("ssh"))
    hourly
      .withColumn("within", round(
        (col("ssh").cast("double") -
          col("sh").cast("double") * col("sh").cast("double") /
            col("nh").cast("double")) / lit(10000.0), 6)
        .cast(DecimalType(28, 8)))
      .groupBy("event_type")
      .agg(
        sum(col("nh")).cast("long").as("n_events"),
        count(lit(1)).as("n_hours"),
        sum(col("sh")).as("s"),
        sum(col("ssh")).as("ss"),
        // round the DECIMAL sum to scale 2 before the double cast: at
        // scale 8 the scaled int128 can exceed 2^53 where DuckDB's
        // two-step decimal→double conversion splits from Spark's
        round(sum(col("within")), 2).cast("double").as("ss_within"))
      .withColumn("ss_total",
        (col("ss").cast("double") -
          col("s").cast("double") * col("s").cast("double") /
            col("n_events").cast("double")) / lit(10000.0))
      .select(
        col("event_type"), col("n_events"), col("n_hours"),
        // ss_total is a composite multiply-subtract chain (ulp-variant
        // across engines) → round far above the ulp; ss_within is already
        // an exact 2-dp value → raw; strength inherits ss_total's ulps →
        // round
        round(col("ss_total"), 4).as("ss_total"),
        col("ss_within"),
        round(lit(1.0) - col("ss_within") / col("ss_total"), 6)
          .as("strength"))
      .orderBy("event_type")
  }

  /** Product-health stickiness series: per day, DAU / trailing-7-day WAU /
    * trailing-28-day MAU (all EXACT distinct-user counts) and the DAU/MAU
    * stickiness ratio. The sliding distinct is computed without any
    * per-day rescan: the event log collapses to the (user, day) activity
    * grid ONCE (the only fact-sized aggregate), and each grid row is
    * exploded to the ≤28 target days it can influence; min(offset) per
    * (target day, user) then classifies the user as daily/weekly/monthly
    * active in a single aggregate. Work is 28 × |grid| — the grid is
    * users × days, dimension-sized next to the raw log — and every count
    * is exact integers, so the shape holds when the log is the 100 TB
    * side. (An HLL variant would drop the ×28 fan-out at the cost of
    * exactness; this operator is the exact path.)
    */
  def qStickiness(t: Tables): DataFrame = {
    val dayNs = 86400L * 1000000000L
    val grid = t.events
      .select(col("user_id"), expr(s"ts_ns div $dayNs").as("day"))
      .distinct()
    // observation horizon: target days past the last observed day would
    // have truncated windows — cut them, as the oracle does
    val horizon = grid.agg(max("day").as("max_day"))
    grid
      .select(col("user_id"), col("day"),
        explode(sequence(lit(0), lit(27))).as("off"))
      .select(col("user_id"), (col("day") + col("off")).as("td"), col("off"))
      .groupBy("td", "user_id").agg(min("off").as("mo"))
      .crossJoin(broadcast(horizon))
      .filter(col("td") <= col("max_day"))
      .groupBy(col("td").as("day"))
      .agg(
        count(when(col("mo") === 0, 1)).as("dau"),
        count(when(col("mo") <= 6, 1)).as("wau"),
        count(lit(1)).as("mau28"))
      .withColumn("stickiness",
        round(col("dau").cast("double") / col("mau28").cast("double"), 6))
      .orderBy("day")
  }

  /** Time-to-nth-conversion: for each user's 1st/2nd/3rd purchase, the
    * latency from their very first event of any type — the activation-
    * funnel latency ladder. All interval arithmetic is exact integer
    * microseconds (the qInterarrival truncation convention); the per-user
    * purchase ordinal is a co-partitioned row_number, and the first-event
    * frame joins back on the user key, so nothing global ever sorts.
    */
  def qTimeToNth(t: Tables, maxN: Int = 3): DataFrame = {
    val first = t.events
      .groupBy("user_id").agg(min(expr("ts_ns div 1000")).as("first_us"))
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    t.events
      .filter(col("event_type") === "purchase")
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .withColumn("n", row_number().over(byUser).cast("long"))
      .filter(col("n") <= maxN)
      .join(first, "user_id")
      .withColumn("lat", col("ts_us") - col("first_us"))
      .groupBy("n")
      .agg(
        count(lit(1)).as("n_users"),
        // sum(long µs) is exact on both engines; one division chain at the end
        (sum(col("lat")).cast("double") / count(lit(1)).cast("double") /
          lit(1e6)).as("mean_latency_s"),
        (percentile(col("lat"), lit(0.5)) / lit(1e6)).as("p50_latency_s"))
      .orderBy("n")
  }

  /** Behavioral diversity: Shannon entropy (bits) of each user's event-type
    * mix — the bot/power-user screen (entropy ≈ 0 = single-action
    * automation; high = organic browsing). Uses the [[graft.ext
    * .TextAnalysis.qDocEntropy]] determinism trick: per-type log2 terms are
    * rounded at 1e-9 and summed in DECIMAL, so the within-group fold order
    * (nondeterministic across engines AND across Spark partitions) cannot
    * move a single ulp. Two co-partitioned aggregates on the user key.
    */
  def qUserEntropy(t: Tables): DataFrame =
    t.events
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
      .groupBy("user_id")
      .agg(
        sum("c").as("n_events"),
        count(lit(1)).as("n_types"),
        sum(round(log2(col("c").cast("double")), 9).cast("decimal(14,10)")
          * col("c").cast("decimal(12,0)")).as("sdec"))
      .select(
        col("user_id"), col("n_events"), col("n_types"),
        round(
          log2(col("n_events").cast("double"))
            - col("sdec").cast("double") / col("n_events").cast("double"),
          9).as("entropy_bits"))
      .orderBy("user_id")

  /** Ordered-sequence pattern matching over user timelines (the
    * sequenceMatch analytic): each user's events collapse to ONE ordered
    * type string, and behavioral funnels become plain regular expressions
    * over it — arbitrary gaps allowed, unlike [[qEventTransitions]]'
    * adjacent pairs or [[qFunnelSteps]]' fixed three stages. Reported per
    * pattern: users matched and the matched share.
    *
    * Determinism: ordering is (microsecond ts, event_id) — the
    * [[qDebounce]] truncation contract, so both engines agree on the
    * sequence string byte for byte; the patterns use only `.`/`.*`
    * constructs that Java regex and RE2 interpret identically.
    * Scale: one hash aggregate to user-sized rows (each bounded by the
    * user's own event count — the sessionization per-entity cap applies),
    * three codegen'd regex probes, one global sum. Nothing event-sized
    * crosses a second shuffle.
    */
  def qSequenceMatch(t: Tables): DataFrame = {
    val seqs = t.events
      .select(col("user_id"), expr("ts_ns div 1000").as("ts_us"),
        col("event_id"), col("event_type"))
      .groupBy("user_id")
      .agg(array_join(
        transform(
          array_sort(collect_list(
            struct(col("ts_us"), col("event_id"), col("event_type")))),
          x => x.getField("event_type")), ",").as("seq"))
    seqs
      .agg(
        count(lit(1)).as("n_users"),
        sum(when(col("seq").rlike("signup.*purchase"), 1L).otherwise(0L))
          .as("m1"),
        sum(when(col("seq").rlike("click.*view.*purchase"), 1L).otherwise(0L))
          .as("m2"),
        sum(when(col("seq").rlike("error.*purchase"), 1L).otherwise(0L))
          .as("m3"))
      .selectExpr(
        """stack(3,
             'click_view_purchase', m2,
             'error_then_purchase', m3,
             'signup_then_purchase', m1) AS (pattern, n_match)""",
        "n_users")
      .select(col("pattern"), col("n_users"), col("n_match"),
        (col("n_match").cast("double") / col("n_users").cast("double"))
          .as("match_share"))
      .orderBy("pattern")
  }

  /** Type-precedence matrix: for every ordered pair of distinct event
    * types, among users who performed both, how often does the FIRST
    * occurrence of type A precede the first occurrence of type B? The
    * directional "what leads to what" summary that transition matrices
    * (adjacent-only) and funnels (fixed order) both miss.
    *
    * Exactness: first-occurrence instants are integer microseconds
    * ([[qDebounce]] contract); a tie (same microsecond) counts for
    * NEITHER direction, which both engines decide identically on the
    * integers. Scale: the firsts frame is (users × ≤|types|) rows off one
    * hash aggregate; the pair join is co-partitioned on user_id with
    * bounded fan-out (≤ |types|² per user); output is |types|²-sized.
    */
  def qTypePrecedence(t: Tables): DataFrame = {
    val firsts = t.events
      .select(col("user_id"), col("event_type"),
        expr("ts_ns div 1000").as("ts_us"))
      .groupBy("user_id", "event_type")
      .agg(min("ts_us").as("f"))
    firsts.select(col("user_id"), col("event_type").as("type_a"),
        col("f").as("fa"))
      .join(firsts.select(col("user_id"), col("event_type").as("type_b"),
        col("f").as("fb")), "user_id")
      .filter(col("type_a") =!= col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(
        count(lit(1)).as("n_both"),
        sum(when(col("fa") < col("fb"), 1L).otherwise(0L)).as("n_a_first"))
      .select(col("type_a"), col("type_b"), col("n_both"), col("n_a_first"),
        (col("n_a_first").cast("double") / col("n_both").cast("double"))
          .as("share_a_first"))
      .orderBy("type_a", "type_b")
  }

  /** The lazy user-day grid behind [[qGrowthAccounting]]: distinct
    * active days with prev/next from ONE ordered window — "first day
    * ever" ⟺ no previous active day, so a separate partition-min window
    * for first_day would be a second exchange for no information.
    * Package-private so the plan audit can assert that shape on the
    * unmaterialized frame (the public query checkpoints it). */
  private[graft] def growthGrid(t: Tables): DataFrame = {
    val dayNs = 86400L * 1000000000L
    val byUser = Window.partitionBy("user_id").orderBy("day")
    t.events
      .select(col("user_id"), expr(s"ts_ns div $dayNs").as("day"))
      .distinct()
      .withColumn("prev_day", lag("day", 1).over(byUser))
      .withColumn("next_day", lead("day", 1).over(byUser))
  }

  /** Daily growth accounting: every active user-day classified as NEW
    * (first day ever), RETAINED (also active the previous calendar day)
    * or RESURRECTED (active before, but not yesterday), plus CHURNED —
    * users active on day d−1 whose next active day is not d. The
    * product-analytics ledger behind "where did today's actives come
    * from"; the conservation law active = new + retained + resurrected
    * holds row by row, and churned(d) = active(d−1) − retained(d). All
    * cells are exact integer counts.
    *
    * Scale: one distinct over (user, day), then user-partitioned lag/
    * lead windows — everything shuffles once on the user key; the
    * day-level rollup is calendar-sized. Churn needs the NEXT active
    * day, so it reads the same windowed frame shifted by one day — no
    * second scan of the fact.
    */
  def qGrowthAccounting(t: Tables): DataFrame = {
    // The windowed grid is materialized: its three consumers (actives
    // rollup, churn rollup, horizon scalar) would otherwise each re-scan
    // the event fact and re-run the distinct + window chain
    val grid = graft.Engine.loopCheckpoint(growthGrid(t))
    val horizon = grid.agg(max("day").as("max_day"))
    val daily = grid.groupBy("day").agg(
      count(lit(1)).as("n_active"),
      count(when(col("prev_day").isNull, 1)).as("n_new"),
      count(when(col("prev_day") === col("day") - 1, 1)).as("n_retained"),
      count(when(col("prev_day") < col("day") - 1, 1))
        .as("n_resurrected"))
    // churn attributed to day d: active on d-1, next active day != d
    // (bounded to the observed horizon so the last day isn't truncated-
    // churned by the end of data)
    val churn = grid
      .crossJoin(broadcast(horizon))
      .filter(col("day") < col("max_day"))
      // flag BEFORE the day+1 regroup: inside the agg, an unqualified
      // `day` could bind to the shifted grouping alias instead of the
      // source column and silently test next_day > day+2
      .withColumn("is_churn", (col("next_day").isNull ||
        col("next_day") > col("day") + 1).cast("long"))
      .groupBy((col("day") + 1).as("day"))
      .agg(sum("is_churn").as("n_churned"))
    val out = daily.join(churn, Seq("day"), "left")
      .na.fill(0L, Seq("n_churned"))
      .orderBy("day")
      .loopCheckpoint() // calendar-sized ledger; lets the grid cache go
    graft.Engine.freeCheckpoint(grid)
    out
  }
}
