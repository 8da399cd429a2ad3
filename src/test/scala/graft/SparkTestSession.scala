package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark-backed suites (startup ~15 s —
  * never per-test).
  */
object SparkTestSession {
  lazy val spark: SparkSession = LocalSession("graft-test")
}
