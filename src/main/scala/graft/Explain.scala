package graft

/** Plan auditor: prints the formatted physical plan of selected queries so
  * pushdown / broadcast / codegen shape can be inspected.
  *
  *   runMain graft.Explain [sfDir] [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    // "ALL" dumps every registered query's plan (optimization-round audit)
    val all = args.length > 1 && args(1) == "ALL"
    val names = if (all)
      SparkEntry.queries.keys.toSeq.sorted
    else if (args.length > 1) args.drop(1).toSeq else Seq(
      "q1_agg", "q_join_region_revenue", "q_window_topk", "etl_sales_pipeline",
      "q_knn_brute", "q_dedup_minhash", "q_asof_join")
    val spark = Engine.local()
    spark.sparkContext.setLogLevel("ERROR")
    // Explicitly-named queries dump their FULL tree: loopCheckpoint
    // becomes a pass-through so per-query checkpoints don't truncate the
    // visible plan. Not set in ALL mode — iterative operators (kcore,
    // CC, Lloyd's) rely on per-round materialization to keep their
    // driver loops from recomputing ever-growing lineage.
    // SPARK_GRAFT_EXPLAIN_EXECUTED=1 keeps checkpoints live, so the dump
    // shows the plan that actually executes (materialized shared frames
    // appear as Scan ExistingRDD)
    if (!all && !sys.env.get("SPARK_GRAFT_EXPLAIN_EXECUTED").contains("1"))
      spark.conf.set("spark.graft.explain.noCheckpoint", "true")
    val sb = new StringBuilder
    names.foreach { n =>
      sb.append(s"\n===================== $n =====================\n")
      try sb.append(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      catch { case e: Throwable =>
        sb.append(s"EXPLAIN FAILED: ${e.getClass.getName}: ${e.getMessage}\n")
      }
    }
    // plan dumps have very long lines; a file survives terminal wrapping
    sys.env.get("SPARK_GRAFT_PLANS_OUT") match {
      case Some(path) => java.nio.file.Files.write(
        java.nio.file.Paths.get(path),
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      case None => println(sb.toString)
    }
    spark.stop()
  }
}
