package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session factory behind `Bench`, `Verify`, `Probe`
  * and the test suites: `local[cores]` with shuffle partitions equal to
  * the core count, UTC session time, no UI, WARN logging. `Cli` builds
  * its own session because its master comes from spark-submit.
  */
object LocalSession {

  /** Cores: `SPARK_GRAFT_CPUS` when set, else every core the JVM sees. */
  def apply(appName: String): SparkSession = {
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val s = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
