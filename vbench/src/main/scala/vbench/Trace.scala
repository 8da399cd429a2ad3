package vbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.collection.mutable

/** Whole-run Spark counters for one set of job groups. */
final case class SparkStats(jobs: Int, stages: Int, shuffleStages: Int,
                            taskS: Double, cpuS: Double, gcS: Double,
                            shuffleWriteMb: Double, spillMb: Double,
                            skew: Double, driverGapS: Double) {
  def metrics: Map[String, Double] = Map(
    "spark.jobs" -> jobs.toDouble, "spark.stages" -> stages.toDouble,
    "spark.shuffle_stages" -> shuffleStages.toDouble,
    "spark.task_s" -> taskS, "spark.cpu_s" -> cpuS, "spark.gc_s" -> gcS,
    "spark.shuffle_write_mb" -> shuffleWriteMb, "spark.spill_mb" -> spillMb,
    "spark.skew" -> skew, "spark.driver_gap_s" -> driverGapS)
}

/** Listener that files every job, stage and task under the job group
  * (`SparkContext.setJobGroup`) that was current when the job started.
  * Jobs outside any group are ignored.
  */
final class GroupListener extends SparkListener {
  private final case class Job(group: String, start: Long, var end: Long)
  private final class Stage(val group: String, val shuffleMap: Boolean) {
    var ran = false
    var wallMs = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
    var runMs, cpuNs, gcMs, shuffleWrite, spill = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, Stage]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty(org.apache.spark.vbench.Bus.JobGroupKey))).orNull
    if (group != null) {
      jobs(e.jobId) = Job(group, e.time, e.time)
      e.stageInfos.foreach { s =>
        if (!stages.contains(s.stageId))
          stages(s.stageId) = new Stage(group, org.apache.spark.vbench.Bus.isShuffleMap(s))
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.ran = true
      s.wallMs += (for (a <- e.stageInfo.submissionTime;
                        b <- e.stageInfo.completionTime) yield b - a).getOrElse(0L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      s.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.diskBytesSpilled
      }
    }
  }

  def jobCount(groups: String => Boolean): Int = synchronized {
    jobs.values.count(j => groups(j.group))
  }

  /** Counters over the groups selected by `groups`; the driver gap is
    * the part of [windowStartMs, windowEndMs] that no job covers.
    */
  def stats(groups: String => Boolean, windowStartMs: Long,
            windowEndMs: Long): SparkStats = synchronized {
    val js = jobs.values.filter(j => groups(j.group)).toSeq
    val ss = stages.values.filter(s => s.ran && groups(s.group)).toSeq
    val mb = 1024.0 * 1024.0
    val longest = if (ss.isEmpty) None else Some(ss.maxBy(_.wallMs))
    val skew = longest.filter(_.taskMs.nonEmpty).map { s =>
      val t = s.taskMs.map(_.toDouble).toSeq
      t.max / math.max(Common.median(t), 1.0)
    }.getOrElse(0.0)
    SparkStats(
      jobs = js.size, stages = ss.size, shuffleStages = ss.count(_.shuffleMap),
      taskS = ss.map(_.runMs).sum / 1000.0, cpuS = ss.map(_.cpuNs).sum / 1e9,
      gcS = ss.map(_.gcMs).sum / 1000.0,
      shuffleWriteMb = ss.map(_.shuffleWrite).sum / mb,
      spillMb = ss.map(_.spill).sum / mb, skew = skew,
      driverGapS = gapMs(js.map(j => (j.start, j.end)), windowStartMs, windowEndMs) / 1000.0)
  }

  private def gapMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    var covered = 0L
    var cur = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > cur) { covered += b - math.max(a, cur); cur = b }
      }
    (hi - lo - covered).toDouble
  }
}

/** In-memory spans (name, start, end, parent), written out when the run
  * ends. A layer's time in the traced run is read from its spans.
  */
final class Spans {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var next = 0

  def apply[T](name: String)(body: => T): T = {
    val id = next
    next += 1
    val parent = stack.headOption.getOrElse(-1)
    stack.push(id)
    val t0 = System.nanoTime()
    try body finally {
      done += Span(id, name, parent, t0, System.nanoTime())
      stack.pop()
    }
  }

  def seconds(name: String): Seq[Double] =
    done.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).toSeq

  def write(path: String): Unit = {
    val lines = done.sortBy(_.id).map(s =>
      s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""")
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n")
      .getBytes(StandardCharsets.UTF_8))
  }
}

/** One external-tool process as logged by the PATH shim. */
final case class Spawn(tool: String, startNs: Long, endNs: Long, exit: Int)

/** Reader of the tool shim's log. The shim appends `S <pid> <ns> <tool>`
  * when a tool starts and `E <pid> <ns> <exit> <tool>` when it ends; a
  * phase's spawns are the lines written between two [[mark]]s. Creating
  * `<log>.off` makes the shim exec the real tool without logging.
  */
final class ShimLog(path: String) {
  private val p = Paths.get(path)
  private val off = Paths.get(path + ".off")

  def enabled(on: Boolean): Unit =
    if (on) Files.deleteIfExists(off) else Files.write(off, Array.emptyByteArray)

  def mark(): Long = if (Files.exists(p)) Files.size(p) else 0L

  def between(from: Long, to: Long): Seq[Spawn] = {
    if (!Files.exists(p)) return Nil
    val ch = Files.newByteChannel(p, StandardOpenOption.READ)
    val buf = java.nio.ByteBuffer.allocate((to - from).toInt)
    try { ch.position(from); while (buf.hasRemaining && ch.read(buf) > 0) () }
    finally ch.close()
    val lines = new String(buf.array(), StandardCharsets.UTF_8).split("\n").filter(_.nonEmpty)
    val open = mutable.HashMap.empty[String, (Long, String)]
    val out = mutable.ArrayBuffer.empty[Spawn]
    lines.map(_.split(" ")).foreach {
      case Array("S", pid, ns, tool) => open(pid) = (ns.toLong, tool)
      case Array("E", pid, ns, rc, tool) =>
        val (s, _) = open.remove(pid).getOrElse((ns.toLong, tool))
        out += Spawn(tool, s, ns.toLong, rc.toInt)
      case _ => ()
    }
    // a start without an end is a tool that never finished
    out ++= open.values.map { case (s, tool) => Spawn(tool, s, s, -1) }
    out.toSeq
  }
}

/** Everything a traced run needs: the listener, spans and shim log. */
final class Tracer(sc: SparkContext, shimLogPath: Option[String]) {
  val listener = new GroupListener
  val spans = new Spans
  val shim: Option[ShimLog] = shimLogPath.map(new ShimLog(_))
  private var attached = false
  shim.foreach(_.enabled(false))

  /** Listener and shim on (traced) or off (plain iteration). */
  def tracing(on: Boolean): Unit = {
    if (on && !attached) { sc.addSparkListener(listener); attached = true }
    if (!on && attached) { flush(); sc.removeSparkListener(listener); attached = false }
    shim.foreach(_.enabled(on))
  }

  def flush(): Unit = org.apache.spark.vbench.Bus.flush(sc)
}

/** The isolated per-layer timings shared by the traced runs. */
object Layers {

  /** Times each call after one untimed, untraced warm-up call, so that
    * neither timed call pays for the plan's first execution: first traced
    * (in its own job group and span, listener and tool shim on), then
    * untraced. Returns name → traced seconds, plus `trace.overhead_s`: the
    * sum over calls of traced minus untraced seconds.
    */
  def timeEach(spark: SparkSession, tr: Tracer,
               layers: Seq[(String, () => Unit)]): Map[String, Double] = {
    var overhead = 0.0
    val times = layers.map { case (name, call) =>
      tr.tracing(on = false)
      call()
      tr.tracing(on = true)
      Common.inGroup(spark, name)(tr.spans(name)(call()))
      val s = tr.spans.seconds(name).last
      tr.tracing(on = false)
      val plain = Common.timed(call())._2
      overhead += s - plain
      System.err.println(f"[vbench] layer $name: $s%.3f s traced, $plain%.3f s untraced")
      name -> s
    }.toMap
    times + ("trace.overhead_s" -> overhead)
  }
}
