package org.apache.spark.sql

import org.apache.spark.SparkEnv
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.RDDBlockId

/** Bridge into the private[sql] Dataset constructor so graft's custom
  * logical operators ([[graft.plans.AsOfJoinNode]]) can be turned into
  * DataFrames — the standard extension-library pattern for planting a
  * custom LogicalPlan into a session.
  */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Apply a session-extension list to a session built without it: its
    * functions go into the session's registry, its planner strategies and
    * optimizer rules into `experimental`, the one place a built session's
    * planner and optimizer still read. Spark's builder applies the same
    * list through these three `private[sql]` methods.
    */
  def applyExtensions(spark: SparkSession, extensions: SparkSessionExtensions => Unit): Unit = {
    val e = new SparkSessionExtensions
    extensions(e)
    e.registerFunctions(spark.sessionState.functionRegistry)
    spark.experimental.extraStrategies ++= e.buildPlannerStrategies(spark)
    spark.experimental.extraOptimizations ++= e.buildOptimizerRules(spark)
  }

  /** A materialized checkpoint whose `LogicalRDD` leaf reports at most
    * what it stores as its size: the bytes of its local-checkpoint blocks
    * (memory plus disk, read synchronously from the block manager master),
    * else the bytes of its reliable-checkpoint files. Spark's own leaf
    * inherits the estimate of the lineage it replaced, where every join
    * multiplies sizes. The estimate is only ever lowered: in-memory blocks
    * hold deserialized row objects, larger than the row bytes Spark's
    * estimates count, so a leaf already estimated below its stored bytes
    * keeps its estimate (raising it flipped `q_dup_evidence`'s candidate-pair
    * broadcast to a shuffled join, 3 s to 11 s at sf0.1). `df` is a
    * checkpoint, as every frame `Engine` checkpoints is; one with nothing
    * stored yet is returned as it is.
    */
  def withStoredSize(df: DataFrame): DataFrame = {
    val lr = df.queryExecution.logical.asInstanceOf[LogicalRDD]
    storedBytes(lr).filter(_ < lr.computeStats().sizeInBytes).fold(df) { bytes =>
      val session = df.sparkSession.asInstanceOf[classic.SparkSession]
      ofRows(session, lr.copy()(session,
        Some(Statistics(sizeInBytes = bytes.max(1L))), Some(lr.constraints)))
    }
  }

  private def storedBytes(lr: LogicalRDD): Option[BigInt] =
    lr.rdd.getCheckpointFile match {
      case Some(dir) =>
        val path = new org.apache.hadoop.fs.Path(dir)
        val fs = path.getFileSystem(lr.rdd.sparkContext.hadoopConfiguration)
        Some(BigInt(fs.getContentSummary(path).getLength))
      case None =>
        val id = lr.rdd.id
        val blocks = SparkEnv.get.blockManager.master.getStorageStatus.iterator
          .flatMap(_.rddBlocks).collect {
            case (RDDBlockId(`id`, _), s) => s.memSize + s.diskSize
          }.toSeq
        if (blocks.isEmpty) None else Some(BigInt(blocks.sum))
    }
}
