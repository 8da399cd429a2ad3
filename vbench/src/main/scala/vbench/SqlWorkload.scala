package vbench

import graft.io.{Fastq, SamText}
import graft.sql.QueryRunner
import graft.sql.QueryRunner.{BlastSource, FastqSource, SamSource, Source}
import org.apache.spark.sql.{Row, SparkSession}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** `sql_tools`: a fixed, seeded mix of the reference's SQLQueryFastq /
  * SQLQueryBAM / SQLQueryBlast queries through `QueryRunner.run` and
  * `runAndWrite`, checked against closed-form digests from gen.py.
  */
object SqlWorkload {

  final case class Query(id: String, source: String, format: String, sql: String,
                         rows: Long, digest: String)

  private def source(name: String): Source = name match {
    case "fastq" => FastqSource
    case "sam" => SamSource
    case "blast" => BlastSource
  }

  def queries(in: String): Seq[Query] =
    Files.readAllLines(Paths.get(s"$in/queries.tsv")).asScala.toSeq
      .filter(_.nonEmpty).map { l =>
        val f = l.split("\t", -1)
        Query(f(0), f(1), f(2), f(3), f(4).toLong, f(5))
      }

  /** Rows written by `runAndWrite` as FASTQ, read back as (key, seq, qual). */
  private def fastqRows(dir: String): Seq[Seq[Any]] =
    Files.list(Paths.get(dir)).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap { p =>
        Files.readAllLines(p, StandardCharsets.UTF_8).asScala.filter(_.nonEmpty)
          .grouped(4).map(r => Seq(r(0).stripPrefix("@"), r(1), r(3)))
      }

  /** Execute one query the way a user of the SQL tools would: collect
    * the answer, or write it. Returns the collected rows (or null for a
    * write) and the wall seconds.
    */
  def execute(spark: SparkSession, in: String, q: Query, out: String): (Array[Row], Double) =
    Common.timed {
      val path = s"$in/${q.source}"
      if (q.format.isEmpty) QueryRunner.run(spark, source(q.source), path, q.sql).collect()
      else { QueryRunner.runAndWrite(spark, source(q.source), path, q.sql, out, q.format); null }
    }

  /** Checks the answer against its closed-form digest; a failure message. */
  def check(spark: SparkSession, q: Query, answer: Array[Row], out: String): Option[String] = {
    val rows: Seq[Seq[Any]] = q.format match {
      case "" => answer.toSeq.map(_.toSeq)
      case "fastq" => fastqRows(out)
      case "parquet" => spark.read.parquet(out).collect().toSeq.map(_.toSeq)
    }
    val d = Common.digestRows(rows)
    if (rows.size == q.rows && d == q.digest) None
    else Some(s"sql_tools ${q.id}: ${rows.size} rows, digest $d; expected ${q.rows}, ${q.digest}")
  }

  def run(spark: SparkSession, a: Args, tracer: Option[Tracer]): Outcome = {
    val qs = queries(a.input)
    val ledger = new Ledger

    /** One pass over `mix`; the latency of each checked query. */
    def pass(tag: String, mix: Seq[Query] = qs): Seq[Double] = mix.zipWithIndex.flatMap { case (q, j) =>
      val out = s"${a.work}/out/$tag-$j"
      val lat = ledger.attempt(s"sql_tools ${q.id}") {
        val (answer, t) = execute(spark, a.input, q, out)
        System.err.println(f"[vbench] query $tag ${q.id}: ${t * 1000}%.1f ms")
        (t, check(spark, q, answer, out).toSeq)
      }
      Common.deleteTree(Paths.get(out))
      lat
    }

    // warm-up, part of set-up: the first query on each source and the
    // first write of each format
    pass("warm", qs.groupBy(q => (q.source, q.format)).values.map(_.head).toSeq)
    val setupS = Common.sinceJvmStart()
    val base = Map("setup_jvm_s" -> setupS)
    val metrics = tracer match {
      case None =>
        val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
        val cycles = scala.collection.mutable.ArrayBuffer.empty[Double]
        val t0 = Common.now()
        var k = 0
        // at least 100 queries, so that p90 has 10 samples beyond it
        while ((Common.secondsSince(t0) < a.seconds || lat.size < 100) && k < 8) {
          val l = pass(s"c$k")
          lat ++= l
          if (l.size == qs.size) cycles += l.sum
          k += 1
        }
        if (cycles.isEmpty) base
        else base ++ EndToEnd.unitMetrics(Common.median(cycles.toSeq), qs.size,
          lat.toSeq.map(_ * 1000))
      case Some(tr) => base ++ traced(spark, a, tr, qs)
    }
    ledger.outcome(metrics)
  }

  /** One traced pass: each query split into load, plan and execute, each
    * in its own job group; then each source scanned and each sink
    * written in isolation.
    */
  private def traced(spark: SparkSession, a: Args, tr: Tracer,
                     qs: Seq[Query]): Map[String, Double] = {
    tr.tracing(on = true)
    val w0 = System.currentTimeMillis()
    val perQuery = qs.zipWithIndex.map { case (q, j) =>
      val group = s"q$j"
      val path = s"${a.input}/${q.source}"
      val out = s"${a.work}/out/traced-$j"
      val q0 = System.currentTimeMillis()
      Common.inGroup(spark, group) {
        tr.spans("sql.load")(QueryRunner.load(spark, source(q.source), path))
        val df = tr.spans("sql.plan") {
          val df = QueryRunner.run(spark, source(q.source), path, q.sql)
          df.queryExecution.executedPlan
          df
        }
        tr.spans("sql.exec") {
          if (q.format.isEmpty) df.collect()
          else QueryRunner.runAndWrite(spark, source(q.source), path, q.sql, out, q.format)
        }
      }
      val q1 = System.currentTimeMillis()
      Common.deleteTree(Paths.get(out))
      (group, q0, q1)
    }
    val w1 = System.currentTimeMillis()
    tr.flush()
    val groups = perQuery.map(_._1).toSet
    val stats = tr.listener.stats(groups, w0, w1)
    val gapsMs = perQuery.map { case (g, q0, q1) =>
      tr.listener.stats(_ == g, q0, q1).driverGapS * 1000 }

    val fqM = QueryRunner.load(spark, FastqSource, s"${a.input}/fastq").localCheckpoint()
    val samM = QueryRunner.load(spark, SamSource, s"${a.input}/sam").localCheckpoint()
    val sinkDir = s"${a.work}/out/sink"
    val layers: Seq[(String, () => Unit)] = Seq(
      "io.fastq_scan_s" -> (() => Common.noop(QueryRunner.load(spark, FastqSource, s"${a.input}/fastq"))),
      "io.sam_scan_s" -> (() => Common.noop(QueryRunner.load(spark, SamSource, s"${a.input}/sam"))),
      "io.blast_scan_s" -> (() => Common.noop(QueryRunner.load(spark, BlastSource, s"${a.input}/blast"))),
      "io.sink_s" -> (() => {
        Fastq.write(fqM.select("key", "sequence", "quality"), s"$sinkDir/fastq")
        samM.write.mode("overwrite").parquet(s"$sinkDir/parquet")
        SamText.write(samM, s"$sinkDir/sam")
      }))
    val layerS = Layers.timeEach(spark, tr, layers)
    Map(
      "sql.load_ms" -> Common.median(tr.spans.seconds("sql.load")) * 1000,
      "sql.plan_ms" -> Common.median(tr.spans.seconds("sql.plan")) * 1000,
      "sql.exec_ms" -> Common.median(tr.spans.seconds("sql.exec")) * 1000,
      "spark.jobs_per_query" -> stats.jobs.toDouble / qs.size,
      "spark.driver_gap_ms_per_query" -> gapsMs.sum / qs.size
    ) ++ stats.metrics ++ layerS
  }
}
