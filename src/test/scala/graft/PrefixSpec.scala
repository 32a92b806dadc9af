package graft

import graft.ops.Prefix

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** [[graft.ops.Prefix]] must reproduce the single-partition global window
  * bit-for-bit: the round-11 conversions replace `Window.orderBy` with the
  * two-pass range-partitioned prefix on fact-scaling frames, and every
  * converted query's oracle hash is pinned — so the helper itself is
  * property-tested against the window formulation it replaces.
  */
class PrefixSpec extends SparkSuite {

  // deterministic pseudo-random frame with ties in the VALUE domain but a
  // unique (v, id) total order — the shape every converted site has
  private def frame(n: Int) = {
    val s = spark
    import s.implicits._
    (1 to n).map { i =>
      val v = (i * 2654435761L) % 97 // collisions in v
      val y = (i * 40503L) % 7
      (v, i.toLong, y, BigDecimal(v * 100 + y).setScale(2))
    }.toDF("v", "id", "y", "dec")
  }

  test("running long sums (incl + excl), rowNumber, totals match the global window") {
    checkLongSums()
  }

  private def checkLongSums(): Unit = {
    val df = frame(1000)
    val sort = Seq(col("v"), col("id"))
    val got = Prefix.running(df, sort,
      Seq(
        Prefix.Running("cum_y", col("y"), grandTotal = Some("tot_y")),
        Prefix.Running("prior_y", col("y"), inclusive = false)),
      rowNumber = Some("rn"), totalCount = Some("n"))

    val wIncl = Window.orderBy(sort: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wExcl = Window.orderBy(sort: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRank = Window.orderBy(sort: _*)
    val wAll = Window.partitionBy()
    val want = df
      .withColumn("cum_y", sum("y").over(wIncl))
      .withColumn("tot_y", sum("y").over(wAll))
      .withColumn("prior_y", sum("y").over(wExcl))
      .withColumn("rn", row_number().over(wRank).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll))

    val cols = Seq("v", "id", "y", "cum_y", "tot_y", "prior_y", "rn", "n")
    assert(got.select(cols.map(col): _*).orderBy("v", "id").collect().toSeq ==
      want.select(cols.map(col): _*).orderBy("v", "id").collect().toSeq)
  }

  test("running decimal sum matches the global window in value AND type") {
    checkDecimalSum()
  }

  private def checkDecimalSum(): Unit = {
    val df = frame(500)
    val sort = Seq(col("dec").desc, col("id"))
    val got = Prefix.running(df, sort,
      Seq(Prefix.Running("cum", col("dec"))))
    val want = df.withColumn("cum",
      sum("dec").over(Window.orderBy(sort: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    assert(got.schema("cum").dataType == want.schema("cum").dataType)
    assert(got.select("id", "cum").orderBy("id").collect().toSeq ==
      want.select("id", "cum").orderBy("id").collect().toSeq)
  }

  test("exclusive running max matches the global window (incl. leading nulls)") {
    checkExclusiveMax()
  }

  private def checkExclusiveMax(): Unit = {
    val df = frame(300).groupBy("v").agg(max("y").as("gq"))
    val got = Prefix.running(df, Seq(col("v")),
      Seq(Prefix.Running("m_lt", col("gq"), inclusive = false, isMax = true)))
    val want = df.withColumn("m_lt",
      max("gq").over(Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)))
    assert(got.select("v", "gq", "m_lt").orderBy("v").collect().toSeq ==
      want.select("v", "gq", "m_lt").orderBy("v").collect().toSeq)
  }

  test("ntile bucket arithmetic over the prefix rank matches ntile()") {
    checkNtile()
  }

  private def checkNtile(): Unit = {
    for (n <- Seq(3, 4, 10, 41, 1000); buckets <- Seq(4, 10)) {
      val df = frame(n)
      val sort = Seq(col("v"), col("id"))
      val got = Prefix.running(df, sort, Nil,
          rowNumber = Some("i"), totalCount = Some("nn"))
        .withColumn("tile",
          expr(s"""CAST(CASE
            WHEN i <= (nn % $buckets) * (nn div $buckets + 1)
              THEN (i - 1) div (nn div $buckets + 1) + 1
            ELSE (nn % $buckets) +
              (i - 1 - (nn % $buckets) * (nn div $buckets + 1))
                div (nn div $buckets) + 1
            END AS BIGINT)"""))
      val want = df.withColumn("tile",
        ntile(buckets).over(Window.orderBy(sort: _*)).cast("long"))
      assert(got.select("id", "tile").orderBy("id").collect().toSeq ==
        want.select("id", "tile").orderBy("id").collect().toSeq,
        s"n=$n buckets=$buckets")
    }
  }

  /** Run `body` with the given session confs, restoring them after. */
  private def withConf(kv: (String, String)*)(body: => Unit): Unit = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def checkAll(): Unit = {
    checkLongSums()
    checkDecimalSum()
    checkExclusiveMax()
    checkNtile()
  }

  test("prefix results are unchanged with exchange reuse off") {
    // both of the operator's jobs read one shuffle; nothing rests on
    // ReuseExchange planning two range exchanges as one
    withConf("spark.sql.exchange.reuse" -> "false")(checkAll())
  }

  test("prefix results are unchanged with AQE partition coalescing off") {
    withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false")(checkAll())
  }

  test("prefix results are unchanged without AQE, on more partitions than rows") {
    withConf("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "37")(checkAll())
  }

  test("grand totals keep the window formulation's types; float sums are rejected") {
    val df = frame(200).withColumn("d12", col("dec").cast("decimal(12,2)"))
    val got = Prefix.running(df, Seq(col("v"), col("id")),
      Seq(
        Prefix.Running("cum_dec", col("d12"), grandTotal = Some("tot_dec")),
        Prefix.Running("max_y", col("y").cast("int"), isMax = true,
          grandTotal = Some("tot_max"))),
      totalCount = Some("n"))
    // the window formulation folded per-partition sums into the grand
    // total, so its type is a sum of sums
    val want = df.groupBy("v")
      .agg(sum("d12").as("s"), max(col("y").cast("int")).as("m"), count(lit(1)).as("c"))
      .agg(sum("s").as("tot_dec"), max("m").as("tot_max"), sum("c").as("n"))
    val totals = Seq("tot_dec", "tot_max", "n")
    assert(got.schema("cum_dec").dataType == DecimalType(22, 2))
    assert(got.schema("max_y").dataType == org.apache.spark.sql.types.IntegerType)
    assert(totals.map(got.schema(_).dataType) == totals.map(want.schema(_).dataType))
    assert(got.select(totals.map(col): _*).distinct().collect().toSeq == want.collect().toSeq)
    intercept[IllegalArgumentException] {
      Prefix.running(df, Seq(col("v"), col("id")),
        Seq(Prefix.Running("cum_f", col("y").cast("double"))))
    }
  }

  test("freeLater: a frame survives one interleaved construction (two-generation lag)") {
    val s = spark
    import s.implicits._
    // the contract the deferred-free queue used to keep, now held by
    // reachability alone: a checkpoint made in one construction is still
    // readable after later registry constructions have run
    val a = Engine.loopCheckpoint((1 to 100).toDF("x"))
    SparkEntry.queries("q_mad")(spark, sfDir) // construction B
    val b = Engine.loopCheckpoint((1 to 50).toDF("x"))
    // materialize A AFTER B's construction
    assert(a.agg(sum("x")).head().getLong(0) == 5050L)
    SparkEntry.queries("q_anomaly_iqr")(spark, sfDir) // construction C
    assert(b.agg(sum("x")).head().getLong(0) == 1275L)
  }

  test("per-query checkpoints survive interleaved constructions and are released once unreachable") {
    val sc = spark.sparkContext
    val held = Seq("q_mad", "q_anomaly_iqr")
    def build(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    def checkpointIds(df: DataFrame): Set[Int] =
      df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }.toSet
    // construct both, then three more entries, before executing either
    var frames = held.map(build)
    Seq("q1_agg", "q_vocab_containment", "q_sql_q3").foreach(build)
    val got = frames.map(rows)
    val fresh = held.map(build)
    assert(got == fresh.map(rows))
    // a session-cached frame appears in both constructions; what is left
    // are the checkpoints each construction made for itself
    val perQuery =
      frames.flatMap(checkpointIds).toSet -- fresh.flatMap(checkpointIds)
    assert(perQuery.nonEmpty)
    assert(perQuery.subsetOf(sc.getPersistentRDDs.keySet))
    frames = null
    def live(): Set[Int] = perQuery.intersect(sc.getPersistentRDDs.keySet)
    val deadline = System.nanoTime() + 10000000000L
    while (live().nonEmpty && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(100)
    }
    assert(live().isEmpty)
  }
}
