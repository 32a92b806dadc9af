package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.Strategy

package object plans {

  /** Install a planner strategy on an existing session, unless its
    * planner already has it (through [[graft.functions.GraftExtensions]]
    * or an earlier install).
    */
  def install(spark: SparkSession, strategy: Strategy): Unit =
    if (!spark.sessionState.planner.strategies.contains(strategy))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ strategy
}
