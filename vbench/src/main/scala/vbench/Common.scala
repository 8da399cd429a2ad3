package vbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.Locale
import scala.jdk.CollectionConverters._

/** Command-line arguments of the harness JVM (passed by run.py). */
final case class Args(workload: String, input: String, work: String,
                      seconds: Double, trace: Boolean, out: String, cpus: Int)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("input"), m("work"), m("seconds").toDouble,
      m("trace") == "1", m("out"), m("cpus").toInt)
  }
}

/** What a workload reports: operations attempted and failed, the metric
  * values, and human-readable notes for each failure.
  */
final case class Outcome(attempted: Int, failed: Int, metrics: Map[String, Double],
                         notes: Seq[String])

/** Operations attempted and failed in one run, with a note per failure. */
final class Ledger {
  private var attempted, failed = 0
  private val notes = scala.collection.mutable.ArrayBuffer.empty[String]

  /** One checked operation: `body` returns its result and the checks it
    * failed; an exception fails the operation too.
    */
  def attempt[T](label: String)(body: => (T, Seq[String])): Option[T] = {
    attempted += 1
    val r = try {
      val (v, bad) = body
      notes ++= bad
      if (bad.isEmpty) Some(v) else None
    } catch { case e: Exception => notes += s"$label: $e"; None }
    if (r.isEmpty) failed += 1
    r
  }

  def outcome(metrics: Map[String, Double]): Outcome =
    Outcome(attempted, failed, metrics + ("peak_rss_mb" -> Common.peakRssMb()), notes.toSeq)
}

object Common {

  def session(cpus: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("vbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()

  def now(): Long = System.nanoTime()
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Run `body`, returning its result and wall seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = now()
    val r = body
    (r, secondsSince(t0))
  }

  /** Force every row of `df` through the `noop` sink (no output cost). */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Run `body` with its Spark jobs labelled by `group`. */
  def inGroup[T](spark: SparkSession, group: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  /** Wall seconds of `body` and its wall-clock window in ms; with a
    * `group`, its jobs are labelled for the listener.
    */
  def windowed(spark: SparkSession, group: Option[String])(body: => Unit): (Double, Long, Long) = {
    val w0 = System.currentTimeMillis()
    val t = timed(group.fold(body)(g => inGroup(spark, g)(body)))._2
    (t, w0, System.currentTimeMillis())
  }

  /** The untraced run of a batch workload: one unit in a fresh JVM, timed
    * cold, because a user runs the job once per application. A failed
    * unit is retried once. Returns the unit's seconds.
    */
  def coldUnit(unit: Int => Option[Double]): Option[Double] = unit(0).orElse(unit(1))

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile (the numpy default). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = (s.length - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  /** Seconds from JVM start to now. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.delete)
    }

  /** One canonical text field; gen.py's `_canon` is the same function. */
  def canon(v: Any): String = v match {
    case null => "\\N"
    case d: Double => String.format(Locale.ROOT, "%.4f", Double.box(d))
    case f: Float => String.format(Locale.ROOT, "%.4f", Double.box(f.toDouble))
    case b: Boolean => if (b) "true" else "false"
    case x => x.toString
  }

  /** Order-insensitive digest of rows; gen.py's `digest_rows` twin. */
  def digestRows(rows: Iterable[Seq[Any]]): String = {
    val lines = rows.map(_.map(canon).mkString("\t")).toSeq.sorted
    sha256(lines.mkString("\n"))
  }

  def digestFrame(df: DataFrame): String =
    digestRows(df.collect().toSeq.map((r: Row) => r.toSeq))

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map(b => f"$b%02x").mkString

  def readJsonLongs(path: String): Map[String, Long] = {
    val txt = new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
    "\"([^\"]+)\"\\s*:\\s*(-?\\d+)".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
  }

  def writeOutcome(path: String, o: Outcome): Unit = {
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    def str(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val metrics = o.metrics.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString(", ")
    val notes = o.notes.map(str).mkString(", ")
    val json = s"""{"attempted": ${o.attempted}, "failed": ${o.failed}, """ +
      s""""metrics": {$metrics}, "notes": [$notes]}"""
    Files.write(Paths.get(path), json.getBytes(StandardCharsets.UTF_8))
  }
}

/** Shared definitions of the end-to-end metrics. Each workload has one
  * unit of work (a pipeline run, one pass over the SQL query mix, a
  * corpus pass) and items (read pairs, queries, documents).
  */
object EndToEnd {
  def unitMetrics(unitS: Double, items: Double, opLatencyMs: Seq[Double]): Map[String, Double] = {
    val perS = items / unitS
    Map("pipeline_s" -> unitS, "corpus_s" -> unitS,
      "pairs_per_s" -> perS, "docs_per_s" -> perS, "queries_per_s" -> perS,
      "query_p50_ms" -> Common.percentile(opLatencyMs, 50),
      "query_p90_ms" -> Common.percentile(opLatencyMs, 90))
  }
}
