package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}

/** Nodes of a frame's final adaptive plan, read inside every query
  * stage (a plain `collect` stops at the stage boundary).
  */
object FinalPlan extends AdaptiveSparkPlanHelper {

  /** Runs `df` once, then returns every node of its final plan. */
  def nodes(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    collectAll(df.queryExecution.executedPlan)
  }

  /** Every node of an already executed plan. */
  def collectAll(plan: SparkPlan): Seq[SparkPlan] = collect(plan) { case p => p }

  /** Runs `df` once, then counts (shuffle exchanges, reused exchanges). */
  def exchanges(df: DataFrame): (Int, Int) = {
    val all = nodes(df)
    (all.count(_.isInstanceOf[ShuffleExchangeExec]),
      all.count(_.isInstanceOf[ReusedExchangeExec]))
  }
}
