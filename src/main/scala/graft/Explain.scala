package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Plan auditor: for each selected query, prints the formatted plan of
  * every checkpoint its construction ran, then the query's own, so the
  * pushdown / broadcast / codegen shape that executes can be inspected.
  * Exits non-zero, naming them, if any query failed to build or plan.
  *
  *   runMain graft.Explain [sfDir] [query ... | ALL]
  */
object Explain {

  /** The QueryExecution of every checkpoint `build` runs, in execution
    * order, data-cache builds included (the caches are reset first). Each
    * checkpoint runs as a SQL execution named `localCheckpoint` or
    * `checkpoint`; listener events arrive in order, so a marker action run
    * after `build` bounds the wait for them.
    */
  def executedCheckpoints(spark: SparkSession)(build: => Any): Seq[QueryExecution] = {
    Engine.resetDataCaches()
    val runs = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val marker = spark.range(1)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        if (qe eq marker.queryExecution) drained.countDown()
        else if (funcName == "localCheckpoint" || funcName == "checkpoint") runs.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      build
      marker.collect()
      if (!drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
        throw new IllegalStateException("checkpoint listener events did not arrive")
    } finally spark.listenerManager.unregister(listener)
    runs.asScala.toSeq
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = args.drop(1).toSeq match {
      case Seq("ALL") => SparkEntry.queries.keys.toSeq.sorted
      case Seq() => Seq("q1_agg", "q_join_region_revenue", "q_window_topk",
        "etl_sales_pipeline", "q_knn_brute", "q_dedup_minhash", "q_asof_join")
      case named => named
    }
    val spark = Engine.local()
    spark.sparkContext.setLogLevel("ERROR")
    val formatted = ExplainMode.fromString("formatted")
    val sb = new StringBuilder
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    names.foreach { n =>
      sb.append(s"\n===================== $n =====================\n")
      try {
        var query: DataFrame = null
        val checkpoints = executedCheckpoints(spark) {
          query = SparkEntry.queries(n)(spark, sfDir)
        }
        checkpoints.zipWithIndex.foreach { case (qe, i) =>
          sb.append(s"----- checkpoint ${i + 1} of ${checkpoints.size} -----\n")
          sb.append(qe.explainString(formatted))
        }
        if (checkpoints.nonEmpty) sb.append("----- query -----\n")
        sb.append(query.queryExecution.explainString(formatted))
      } catch { case NonFatal(e) =>
        sb.append(s"EXPLAIN FAILED: ${e.getClass.getName}: ${e.getMessage}\n")
        failed += n
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
    if (failed.nonEmpty) {
      System.err.println(s"[explain] failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
