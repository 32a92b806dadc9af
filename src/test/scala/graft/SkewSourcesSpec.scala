package graft

import graft.ops.Stats

import org.apache.spark.sql.functions._

/** Sketch bounds and source-format roundtrips. */
class SkewSourcesSpec extends SparkSuite {
  import spark.implicits._

  test("approx_count_distinct within its error bound of the exact count") {
    // the graded frame: every group's tolerance flag must be 1, and the
    // exact side must equal a brute-force distinct count
    val rows = Stats.qApproxDistinct(tables).collect()
    assert(rows.nonEmpty)
    val brute = tables.lineitem
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getLong(1) == brute(r.getString(0)), "exact side mismatch")
      assert(r.getLong(2) == 1L,
        s"sketch out of tolerance for ${r.getString(0)}")
    }
    // headroom check backing the 8% bound: the raw sketch error on this
    // corpus stays under half the tolerance (a red flag would mean the
    // sketch drifted, not that the bound is tight)
    tables.lineitem.groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey"), 0.02).as("a"),
        countDistinct(col("l_partkey")).as("e"))
      .collect().foreach { r =>
        val err = math.abs(r.getLong(1) - r.getLong(2)).toDouble / r.getLong(2)
        assert(err < 0.04, s"approx err $err >= half the 8% tolerance")
      }
  }

  test("kmv sketch: kth hash is the true order statistic; estimate in bounds") {
    import org.apache.spark.sql.functions._
    val rows = Stats.qKmvDistinct(tables).collect()
    assert(rows.nonEmpty)
    // brute-force the distinct 60-bit hashes per flag
    val hs = tables.lineitem
      .select(col("l_returnflag"),
        expr("conv(substring(md5(CAST(l_partkey AS STRING)), 1, 15), 16, 10)")
          .cast("long").as("h"))
      .distinct().collect()
      .groupBy(_.getString(0)).map { case (f, rs) =>
        f -> rs.map(_.getLong(1)).sorted.toVector }
    rows.foreach { r =>
      val sortedH = hs(r.getString(0))
      assert(r.getLong(1) == sortedH.size)
      if (sortedH.size >= 64) {
        assert(r.getLong(2) == sortedH(63), "kth hash is the 64th smallest")
        val est = r.getDouble(3)
        assert(est == 63.0 * (1.152921504606846976e18 / sortedH(63).toDouble))
        // KMV std error ~ 1/sqrt(k-2) ≈ 13%; allow 4 sigma
        assert(math.abs(est - sortedH.size) / sortedH.size < 0.52,
          s"est=$est exact=${sortedH.size}")
      } else assert(r.isNullAt(2) && r.getDouble(3) == sortedH.size.toDouble)
    }
  }

  test("kmv oracle replay: arithmetic hex decode matches Spark's conv, " +
    "and the SQL avoids every version-sensitive DuckDB surface") {
    // emulate the oracle's 15-term ascii/CASE decode in pure JVM md5
    def oracleDecode(key: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(key.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      hex.foldLeft(0L) { (acc, c) =>
        acc * 16 + (if (c >= 'a') c - 87 else c - 48) }
    }
    val sparkSide = tables.lineitem
      .select(col("l_partkey").cast("string").as("k"),
        expr("conv(substring(md5(CAST(l_partkey AS STRING)), 1, 15), 16, 10)")
          .cast("long").as("h"))
      .distinct().limit(500).collect()
    assert(sparkSide.nonEmpty)
    sparkSide.foreach { r =>
      assert(r.getLong(1) == oracleDecode(r.getString(0)),
        s"decode mismatch for key ${r.getString(0)}")
    }
    // the r5 driver hash-fail was DuckDB version drift in the decode:
    // lambdas (`i ->` collides with the JSON arrow in newer DuckDB),
    // strpos, bit shifts, list_transform, range() bounds. Pin their absence.
    val sql = SparkEntry.oracleSql("q_kmv_distinct")
    Seq("->", "strpos", "<<", "list_transform", "range(", "lambda")
      .foreach(bad => assert(!sql.contains(bad), s"oracle contains '$bad'"))
  }

  test("approx_percentile lands within a few percent of the exact quantile") {
    // graded frame: both rank-band flags 1 per group, exact quantiles
    // equal to an independent percentile computation
    val rows = Stats.qApproxQuantile(tables).collect()
    assert(rows.nonEmpty)
    val brute = tables.lineitem.groupBy("l_returnflag")
      .agg(expr("percentile(l_extendedprice, 0.5D)").as("m"),
        expr("percentile(l_extendedprice, 0.9D)").as("p"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    rows.foreach { r =>
      val (m, p) = brute(r.getString(0))
      assert(r.getDouble(1) == m && r.getDouble(2) == p,
        "exact quantile mismatch")
      assert(r.getLong(3) == 1L && r.getLong(4) == 1L,
        s"approx quantile outside the ±0.005 rank band for ${r.getString(0)}")
    }
    // headroom: raw value error still inside the old 5% value check
    tables.lineitem.groupBy("l_returnflag")
      .agg(
        expr("approx_percentile(l_extendedprice, 0.5D, 1000)").as("am"),
        expr("percentile(l_extendedprice, 0.5D)").as("em"),
        expr("approx_percentile(l_extendedprice, 0.9D, 1000)").as("ap"),
        expr("percentile(l_extendedprice, 0.9D)").as("ep"))
      .collect().foreach { r =>
        assert(math.abs(r.getDouble(1) - r.getDouble(2)) / r.getDouble(2)
          < 0.05)
        assert(math.abs(r.getDouble(3) - r.getDouble(4)) / r.getDouble(4)
          < 0.05)
      }
  }

  test("csv and json source formats roundtrip the customer generator") {
    val tmp = tempDir("graft_fmt").toString
    val src = sources.Generators.customers(spark, 200)
    src.write.mode("overwrite").option("header", "true").csv(s"$tmp/csv")
    src.write.mode("overwrite").json(s"$tmp/json")
    val backCsv = spark.read.option("header", "true").schema(src.schema).csv(s"$tmp/csv")
    val backJson = spark.read.schema(src.schema).json(s"$tmp/json")
    assert(backCsv.count() == 200 && backJson.count() == 200)
    assert(backJson.select("customer_id").exceptAll(src.select("customer_id")).isEmpty)
    // csv writes null email as empty -> read back as null: still 200 ids
    assert(backCsv.select("customer_id").distinct().count() == 200)
  }

  test("bucketed tables join without a shuffle on the bucketed key") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    // a prior JVM's in-memory catalog can leave orphan table dirs behind
    val wh = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"))
    Seq("b_orders", "b_customer").foreach { t =>
      val d = new java.io.File(wh, t)
      if (d.exists()) {
        d.listFiles().foreach(_.delete()); d.delete()
      }
    }
    tables.orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("b_orders")
    tables.customer
      .withColumnRenamed("c_custkey", "o_custkey")
      .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("b_customer")
    // force sort-merge (broadcast would be chosen for the small dim and
    // is a different kind of exchange); bucketing must eliminate the
    // shuffle exchanges on both sides
    val joined = spark.table("b_orders").hint("merge")
      .join(spark.table("b_customer").hint("merge"), "o_custkey")
    val shuffles = joined.queryExecution.executedPlan.toString
      .linesIterator.count(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(shuffles == 0, s"bucketed SMJ should have no shuffle exchange")
    assert(joined.count() > 0)
  }

  test("partitioned warehouse write prunes partitions on read") {
    val tmp = tempDir("graft_part").toString
    val wh = load.Warehouse(spark, tmp)
    val sales = graft.transform.Transforms.sales(sources.Generators.sales(spark, 500))
    wh.loadPartitioned(sales, "fact_sales_p", Seq("month"))
    val one = wh.table("fact_sales_p").filter(col("month") === "2025-12")
    assert(one.count() > 0)
    // pruning must happen at the file index: the month predicate has to
    // land in the scan's partitionFilters (pre-listing), not dataFilters
    val scan = one.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "month")),
      s"month not in partitionFilters: ${scan.partitionFilters}")
  }

  test("dynamic partition pruning: a filtered dim prunes the partitioned fact at runtime") {
    val tmp = tempDir("graft_dpp").toString
    val wh = load.Warehouse(spark, tmp)
    val sales = graft.transform.Transforms.sales(sources.Generators.sales(spark, 500))
    wh.loadPartitioned(sales, "fact_sales_dpp", Seq("month"))
    // dim lands as its own parquet table: the month filter is only
    // discoverable at runtime (no static predicate exists on the fact).
    // The dim predicate must be a real comparison on a NON-join column —
    // a bare boolean attribute fails Spark's isLikelySelective gate and
    // a filter on the join column itself would propagate statically
    // through the equi-join constraint instead of becoming DPP.
    wh.load(sales.select(col("month")).distinct()
      .withColumn("flag", when(col("month") === "2025-12", 1).otherwise(0)),
      "dim_months")
    val joined = wh.table("fact_sales_dpp")
      .join(wh.table("dim_months").filter(col("flag") === 1), "month")
    // the scan sits under AdaptiveSparkPlanExec, which SparkPlan.collect
    // does not descend into — assert on the rendered plan instead
    val planStr = joined.queryExecution.executedPlan.toString.toLowerCase
    assert(planStr.contains("dynamicpruningexpression"),
      s"no dynamic pruning on the fact scan:\n$planStr")
    assert(joined.count() > 0)
  }

  test("xlsx source roundtrips the inventory generator (reference Excel export)") {
    val dir = tempDir("graft_xlsx").toString
    val inv = sources.Generators.inventory(spark, 50)
    sources.Xlsx.write(inv, s"$dir/inventory.xlsx")

    val back = sources.Xlsx.read(spark, dir)
    assert(back.columns.toSeq == inv.columns.toSeq)
    assert(back.count() == 50)
    // values survive the string landing: compare after casting back
    val origQty = inv.select(col("sku"), col("quantity").cast("string"))
      .as[(String, String)].collect().toMap
    val backQty = back.select(col("sku"), col("quantity"))
      .as[(String, String)].collect().toMap
    assert(backQty == origQty)
    // escaping: special characters roundtrip
    val tricky = Seq(("a<b&c\"d", 1L)).toDF("name", "v")
    sources.Xlsx.write(tricky, s"$dir/tricky.xlsx")
    val t2 = sources.Xlsx.read(spark, s"$dir/tricky.xlsx")
    assert(t2.select("name").as[String].head() == "a<b&c\"d")
  }

  test("xlsx read aligns differing column orders by name and rejects mismatches") {
    val dir = tempDir("graft_xlsx_align").toString
    // two workbooks, same columns in DIFFERENT order: values must land
    // under the right names regardless of which file defines the header
    sources.Xlsx.write(Seq(("s1", 10L)).toDF("sku", "qty"), s"$dir/a.xlsx")
    sources.Xlsx.write(Seq((20L, "s2")).toDF("qty", "sku"), s"$dir/b.xlsx")
    val got = sources.Xlsx.read(spark, dir)
      .select("sku", "qty").as[(String, String)].collect().toSet
    assert(got == Set(("s1", "10"), ("s2", "20")))
    // a genuinely different header fails loudly instead of mis-binding
    sources.Xlsx.write(Seq(1L).toDF("other"), s"$dir/c.xlsx")
    val e = intercept[org.apache.spark.SparkException] {
      sources.Xlsx.read(spark, dir).count()
    }
    assert(e.getMessage.contains("header mismatch") ||
      Option(e.getCause).exists(_.getMessage.contains("header mismatch")))
  }

  test("inventoryViaXlsx lands row-identical values to the direct generator frame") {
    val direct = sources.Generators.inventory(spark).orderBy("sku").collect().toSeq
    val viaXlsx = sources.Generators.inventoryViaXlsx(spark).orderBy("sku").collect().toSeq
    assert(viaXlsx == direct)
  }

  test("xlsx landing feeds the standard clean stage like any other source") {
    val dir = tempDir("graft_xlsx_clean").toString
    val inv = sources.Generators.inventory(spark, 40)
    sources.Xlsx.write(inv.union(inv.limit(5)), s"$dir/export.xlsx") // 5 dup rows
    val landed = sources.Xlsx.read(spark, dir)
    val cleaned = graft.clean.Clean.cleanCommon(landed, "inventory_excel")
    assert(cleaned.df.count() == 40) // dedup keep-one, same as every source
  }

  test("orc warehouse format roundtrips with identical rows") {
    val tmp = tempDir("graft_orc").toString
    val wh = load.Warehouse(spark, tmp)
    val src = tables.nation
    wh.load(src, "nation_orc", format = "orc")
    val back = wh.table("nation_orc", format = "orc")
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      src.orderBy("n_nationkey").collect().toSeq)
  }
}
