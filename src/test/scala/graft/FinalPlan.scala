package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}

/** Exchange counts of a frame's final adaptive plan, read inside every
  * query stage (a plain `collect` stops at the stage boundary).
  */
object FinalPlan extends AdaptiveSparkPlanHelper {

  /** Runs `df` once, then counts (shuffle exchanges, reused exchanges). */
  def exchanges(df: DataFrame): (Int, Int) = {
    df.collect()
    val plan = df.queryExecution.executedPlan
    (collect(plan) { case e: ShuffleExchangeExec => e }.size,
      collect(plan) { case r: ReusedExchangeExec => r }.size)
  }
}
