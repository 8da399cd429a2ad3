package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.graft.Bridge

/** Per-query perf probe over `SparkEntry.queries` (not part of the
  * library surface). Usage, one mode per run:
  *   runMain graft.Probe time <sfDir> <query>
  *     two timed `count()` runs, cold then warm, construction included
  *   runMain graft.Probe jobs <sfDir> <query>
  *     job and stage timeline of a warm run: driver-side gaps (planning,
  *     codegen, collect processing) show as holes between jobs
  *   runMain graft.Probe plan <sfDir> <outDir> <suffix> <query>...
  *     `explain("formatted")` to `<outDir>/<query>_<suffix>.txt`, the
  *     before/after plan evidence kept under `plans/`
  */
object Probe {

  def main(args: Array[String]): Unit = {
    val spark = LocalSession("graft-probe")
    try run(spark, args.toList) finally spark.stop()
  }

  def run(spark: SparkSession, args: List[String]): Unit = args match {
    case "time" :: sfDir :: name :: Nil => time(spark, sfDir, name)
    case "jobs" :: sfDir :: name :: Nil => jobs(spark, sfDir, name)
    case "plan" :: sfDir :: outDir :: suffix :: names if names.nonEmpty =>
      plan(spark, sfDir, outDir, suffix, names)
    case _ => throw new IllegalArgumentException(
      "usage: time <sfDir> <query> | jobs <sfDir> <query> | " +
        "plan <sfDir> <outDir> <suffix> <query>...")
  }

  private def count(spark: SparkSession, sfDir: String, name: String): Long =
    SparkEntry.queries(name)(spark, sfDir).count()

  private def time(spark: SparkSession, sfDir: String, name: String): Unit =
    // Construction is inside the timing (matches Bench): iterative
    // operators do eager checkpoint work while building the plan.
    Seq("r1", "r2").foreach { run =>
      val t0 = System.nanoTime()
      val n = count(spark, sfDir, name)
      println(f"[probe] $name $run n=$n ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }

  private def jobs(spark: SparkSession, sfDir: String, name: String): Unit = {
    count(spark, sfDir, name) // warm run
    val sc = spark.sparkContext
    Bridge.drainListeners(sc) // keep the warm run's events out
    // Events are recorded on the listener-bus thread and printed on this
    // one after the bus drains, so the lines land on the caller's stdout.
    val starts = scala.collection.mutable.Map.empty[Int, (Long, String)]
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[Long => String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        starts(js.jobId) = (js.time, desc.take(60))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        starts.get(je.jobId).foreach { case (start, desc) =>
          lines.add(t0 => f"[job] ${je.jobId}%4d start=${(start - t0) / 1e3}%8.3f end=${(je.time - t0) / 1e3}%8.3f dur=${(je.time - start) / 1e3}%7.3f  $desc")
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val dur = for (s <- si.submissionTime; e <- si.completionTime)
          yield (e - s) / 1e3
        if (dur.exists(_ > 0.15))
          lines.add(_ => f"[stage] ${si.stageId}%4d tasks=${si.numTasks}%3d dur=${dur.get}%7.3f  ${si.name.take(70)}")
      }
    }
    sc.addSparkListener(listener)
    val t0 = System.currentTimeMillis()
    val (n, wall) = try {
      val n = count(spark, sfDir, name)
      (n, (System.currentTimeMillis() - t0) / 1e3)
    } finally {
      Bridge.drainListeners(sc)
      sc.removeSparkListener(listener)
    }
    lines.forEach(line => println(line(t0)))
    println(f"[probejobs] $name n=$n wall=$wall%.3f s")
  }

  private def plan(spark: SparkSession, sfDir: String, outDir: String,
                   suffix: String, names: Seq[String]): Unit = {
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      val f = new java.io.File(outDir, s"${name}_$suffix.txt")
      java.nio.file.Files.writeString(f.toPath, plan)
      println(s"[plandump] wrote ${f.getPath} (${plan.length} chars)")
    }
  }
}
