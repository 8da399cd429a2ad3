package org.apache.spark.vbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** The few package-private Spark members the traced run reads. */
object Bus {

  /** Listener events arrive asynchronously; the traced run reads its
    * counters only after the bus has delivered every event posted so far.
    */
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Local property holding the job group of a job. */
  val JobGroupKey: String = SparkContext.SPARK_JOB_GROUP_ID

  /** Whether the stage writes shuffle output. */
  def isShuffleMap(s: StageInfo): Boolean = s.shuffleDepId.isDefined
}
