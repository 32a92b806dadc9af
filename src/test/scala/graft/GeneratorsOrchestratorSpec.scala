package graft

import graft.load.Warehouse
import graft.model.PipelineStatus
import graft.orchestrate.Orchestrator
import graft.sources.Generators

import org.apache.spark.sql.functions._

/** Generators are deterministic and schema-faithful; the orchestrator runs
  * the full 6-source pipeline end-to-end with error containment
  * (reference: etl_pipeline.py:249-348).
  */
class GeneratorsOrchestratorSpec extends SparkSuite {

  test("generators are deterministic across invocations and partitionings") {
    val a = Generators.sales(spark, 500).collect().toSeq
    val b = Generators.sales(spark, 500).repartition(7).collect().toSeq
    assert(a.toSet == b.toSet)
    assert(a.size == 500)
  }

  test("generator schemas match the reference source shapes") {
    assert(Generators.sales(spark).columns.toSeq ==
      Seq("sale_id", "date", "region", "product", "revenue", "units", "source"))
    assert(Generators.customers(spark).columns.toSeq ==
      Seq("customer_id", "name", "email", "segment", "tenure_days", "churn_risk", "source"))
    assert(Generators.finance(spark).columns.toSeq ==
      Seq("txn_id", "account", "debit", "credit", "balance", "txn_date", "source"))
    assert(Generators.inventory(spark).columns.contains("warehouse"))
    assert(Generators.hr(spark).columns.contains("active"))
    assert(Generators.webLogs(spark).columns.contains("session_id"))
  }

  test("customer generator nulls ~5% of emails") {
    val n = 2000
    val nulls = Generators.customers(spark, n).filter(col("email").isNull).count()
    assert(nulls > n * 0.02 && nulls < n * 0.09, s"null emails: $nulls")
  }

  test("full pipeline run: all sources SUCCESS, health persisted, counts add up") {
    val tmp = tempDir("graft_test_wh").toString
    val wh = Warehouse(spark, tmp)
    val run = new Orchestrator(spark, wh).runPipeline("test_run")
    assert(run.status == PipelineStatus.Success.name)
    assert(run.metrics.size == 6)
    assert(run.uptimePct == 100.0)
    run.metrics.foreach { m =>
      assert(m.recordsIn > 0, m.sourceName)
      assert(m.recordsOut > 0 && m.recordsOut <= m.recordsIn, m.sourceName)
      assert(m.recordsDropped == m.recordsIn - m.recordsOut)
    }
    // warehouse readback (reference get_table_count semantics)
    assert(wh.tableCount("fact_sales") == run.metrics.find(_.sourceName == "sales_csv").get.recordsOut)
    assert(wh.tableCount("pipeline_health") == 6)
    assert(wh.tableCount("no_such_table") == 0) // missing table -> 0
    // load-time coercions applied: bool -> int, date -> string
    val sales = wh.table("fact_sales")
    assert(sales.schema("high_value").dataType.typeName == "integer")
    assert(sales.schema("date").dataType.typeName == "string")
  }

  test("pipeline_health deletes its temporary warehouse before it returns") {
    val tmpRoot = new java.io.File(System.getProperty("java.io.tmpdir"))
    def warehouses(): Set[String] = tmpRoot.list().filter(_.startsWith("graft_wh")).toSet
    val before = warehouses()
    val rows = SparkEntry.queries("pipeline_health")(spark, sfDir).collect()
    assert(rows.length == Generators.registry.size)
    val leaked = warehouses() -- before
    assert(leaked.isEmpty, s"pipeline_health left $leaked in $tmpRoot")
  }

  test("a failing source is contained: FAILED metric, run continues") {
    val tmp = tempDir("graft_test_wh2").toString
    val orch = new Orchestrator(spark, Warehouse(spark, tmp))
    val m = orch.runSource(
      "boom", _ => throw new RuntimeException("synthetic failure"),
      "t_boom", "", "test_run")
    assert(m.status == PipelineStatus.Failed.name)
    assert(m.errorMessage.exists(_.contains("synthetic failure")))
  }

  test("pipeline_health oracle VALUES rows replay the generator contract") {
    // the pipeline_health oracle is a deterministic-constant replay of the
    // generator contract (DuckDB can't run the generators). Pin its VALUES
    // rows to Generators.registry at defaults, so changing a generator
    // default or the clean stage's pass-through fails HERE, next to the
    // cause, instead of as a hash mismatch in the DuckDB harness.
    val sql = SparkEntry.oracleSql("pipeline_health")
    val rowRe =
      raw"\('(\w+)',\s*'(\w+)',\s*'(\w+)',\s*(\d+),\s*(\d+)\)".r
    val oracleRows = rowRe.findAllMatchIn(sql).map(m =>
      (m.group(1), m.group(2), m.group(3), m.group(4).toLong,
        m.group(5).toLong)).toSeq.sortBy(_._1)
    val expected = Generators.registry.map { case (name, gen, table, _) =>
      val n = gen(spark).count()
      // the generated corpus carries no full-row dupes and null emails
      // are FILLED (not dropped), so records_out == records_in on a
      // healthy run — exactly what the reference's health table records
      (name, table, "SUCCESS", n, n)
    }.sortBy(_._1)
    assert(oracleRows == expected,
      s"oracle VALUES drifted from the generator contract:\n" +
        s"  oracle:    $oracleRows\n  generators: $expected")
  }
}
