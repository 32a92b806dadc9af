package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The BandRangeJoin optimizer rule: fires on bounded-window range joins,
  * rewrites to a banded equi-join without changing results, and leaves
  * non-matching joins alone.
  */
class BandRangeJoinSpec extends SparkSuite {

  private def naive(): DataFrame = {
    val a = tables.orders.select(col("o_custkey").as("ck"),
      col("o_orderkey").as("k1"), col("o_orderdate").as("d1"))
    val b = tables.orders.select(col("o_custkey").as("ck2"),
      col("o_orderkey").as("k2"), col("o_orderdate").as("d2"))
    a.join(b,
      col("ck") === col("ck2") && col("k1") < col("k2") &&
        col("d2") >= col("d1") &&
        col("d2") <= col("d1") + expr("INTERVAL 30 DAYS"))
  }

  private def optimized(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  test("rule rewrites the naive window join to a banded equi-join") {
    val p = optimized(naive())
    assert(p.contains("Generate explode"), s"no band explode:\n$p")
    assert(p.contains("graft_band_bucket"), s"no band key:\n$p")
    // fires once: exactly one Generate of the band array
    assert("graft_band_bucket_l".r.findAllIn(p).size >= 1)
    assert(!p.replaceFirst("Generate explode", "").contains("Generate explode"),
      "rule must fire exactly once")
  }

  test("rewritten join returns exactly the unbanded rows") {
    val withRule = naive().collect().map(_.toString).sorted.toSeq
    val excluded = "spark.sql.optimizer.excludedRules"
    val prev = spark.conf.getOption(excluded)
    spark.conf.set(excluded, graft.plans.BandRangeJoin.ruleName)
    try {
      val unbanded = naive()
      assert(!optimized(unbanded).contains("graft_band_bucket"),
        "the excluded rule still fired")
      val without = unbanded.collect().map(_.toString).sorted.toSeq
      assert(withRule == without)
      assert(withRule.nonEmpty)
    } finally prev.fold(spark.conf.unset(excluded))(spark.conf.set(excluded, _))
  }

  test("joins without a bounded window are left alone") {
    val a = tables.orders.select(col("o_custkey").as("ck"),
      col("o_orderkey").as("k1"), col("o_orderdate").as("d1"))
    val b = tables.orders.select(col("o_custkey").as("ck2"),
      col("o_orderkey").as("k2"), col("o_orderdate").as("d2"))
    // lower bound only — unbounded above, banding impossible
    val unbounded = a.join(b,
      col("ck") === col("ck2") && col("d2") >= col("d1"))
    assert(!optimized(unbounded).contains("graft_band_bucket"))
    // plain equi-join — nothing to do
    val equi = a.join(b, col("ck") === col("ck2"))
    assert(!optimized(equi).contains("graft_band_bucket"))
  }

  test("graded auto query equals the hand-banded query") {
    val auto = ops.Relational.qRangeJoinAuto(tables).collect().toSeq
    val manual = ops.Relational.qRangeJoinPairs(tables).collect().toSeq
    assert(auto == manual)
  }

  test("hand-banded query is not banded a second time") {
    val p = optimized(ops.Relational.qRangeJoinPairs(tables))
    assert(!p.contains("graft_band_bucket"),
      "rule must skip joins that already explode a bucket array")
  }
}
