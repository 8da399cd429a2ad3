package vbench

import graft.functions.{Dna, DnaFunctions}
import graft.io.Fastq
import graft.operators.{Pipeline, ViraPipeline}
import graft.pipe.Pipes
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Paths

/** `pipeline_paired`: paired FASTQ → `ViraPipeline.run` (mock tools) →
  * each of the six `Result` frames written to Parquet once.
  */
object PipelineWorkload {

  /** Non-empty at every stage on the generated input; the quality
    * thresholds are raw ASCII codes, as in the reference.
    */
  val Cfg: ViraPipeline.Config = ViraPipeline.Config(k = 21, minc = 1, maxc = 30,
    minAvgQuality = 50, lowQualThreshold = 40, maxLowQualCount = 10, orfMinLen = 10)

  private val Tools = 4

  private def frames(r: ViraPipeline.Result): Seq[(String, DataFrame)] = Seq(
    "aligned" -> r.aligned, "normalized" -> r.normalized, "contigs" -> r.contigs,
    "filtered" -> r.filteredContigs, "orfs" -> r.orfs, "hmm_hits" -> r.hmmHits)

  private def readPairs(spark: SparkSession, in: String): (DataFrame, DataFrame) =
    (Fastq.read(spark, s"$in/r1"), Fastq.read(spark, s"$in/r2"))

  /** One unit of work. */
  def once(spark: SparkSession, in: String, out: String): Unit = {
    val (r1, r2) = readPairs(spark, in)
    frames(ViraPipeline.run(spark, r1, r2, Cfg)).foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$out/$name")
    }
  }

  private def load(spark: SparkSession, out: String, name: String): DataFrame =
    spark.read.parquet(s"$out/$name")

  /** Output checks; returns one message per failed check. */
  def check(spark: SparkSession, out: String, aligned: Long): Seq[String] = {
    val a = load(spark, out, "aligned")
    val n = load(spark, out, "normalized")
    val c = load(spark, out, "contigs")
    val f = load(spark, out, "filtered")
    val pairName = regexp_replace(col("key"), "[/ ].*$", "")
    val checks = Seq[(String, () => Boolean)](
      s"aligned count is $aligned" -> (() => a.count() == aligned),
      "normalized is a subset of aligned" -> (() =>
        n.select("key", "sequence").exceptAll(a.select("key", "sequence")).isEmpty),
      "one contig per normalized pair name" -> (() =>
        c.count() == n.select(pairName).distinct().count()),
      "every contig sequence is a normalized read" -> (() =>
        c.select("sequence").except(n.select("sequence")).isEmpty),
      "kept contigs are a subset of contigs" -> (() =>
        f.select("sequence").exceptAll(c.select("sequence")).isEmpty),
      // each stage feeds the next, so this covers every earlier stage
      "hmm_hits is not empty" -> (() => !load(spark, out, "hmm_hits").isEmpty))
    checks.flatMap { case (what, ok) =>
      val passed = try ok() catch { case _: Exception => false }
      if (passed) None else Some(s"pipeline_paired check failed: $what")
    }
  }

  /** Digest of the contig-sequence multiset (ids carry `uuid()`). */
  def contigDigest(spark: SparkSession, out: String): String =
    Common.digestFrame(load(spark, out, "contigs").select("sequence"))

  def run(spark: SparkSession, a: Args, tracer: Option[Tracer]): Outcome = {
    val truth = Common.readJsonLongs(s"${a.input}/truth.json")
    val pairs = truth("pairs").toDouble
    val ledger = new Ledger
    val digests = scala.collection.mutable.ArrayBuffer.empty[String]

    /** A checked unit in its own output directory: its seconds and
      * wall-clock window; `group` labels its jobs (not the checks').
      */
    def unit(i: Int, group: Option[String]): Option[(Double, Long, Long)] = {
      val out = s"${a.work}/out/run$i"
      val res = ledger.attempt(s"pipeline run $i") {
        val u = Common.windowed(spark, group)(once(spark, a.input, out))
        val (bad, checkS) = Common.timed(check(spark, out, truth("aligned")))
        if (tracer.isDefined) digests += contigDigest(spark, out)
        System.err.println(f"[vbench] pipeline run $i: ${u._1}%.3f s, checks $checkS%.3f s")
        (u, bad)
      }
      if (i > 0) Common.deleteTree(Paths.get(s"${a.work}/out/run${i - 1}"))
      res
    }

    val setupS = Common.sinceJvmStart()
    val metrics = tracer match {
      case None =>
        Common.coldUnit(unit(_, None).map(_._1)).fold(Map.empty[String, Double])(t =>
          EndToEnd.unitMetrics(t, pairs, Seq(t * 1000)))
      case Some(tr) => traced(spark, a, tr, digests, unit)
    }
    ledger.outcome(metrics + ("setup_jvm_s" -> setupS))
  }

  /** The traced run: the same cold full run as the untraced one, with
    * the listener and the tool shim on; two more evaluations of the
    * contigs for the determinism count; then each module's public
    * function timed in isolation on its materialized stage input.
    */
  private def traced(spark: SparkSession, a: Args, tr: Tracer,
                     digests: collection.mutable.Buffer[String],
                     unit: (Int, Option[String]) => Option[(Double, Long, Long)]): Map[String, Double] = {
    val shim = tr.shim.getOrElse(sys.error("traced pipeline run needs the tool shim"))
    tr.tracing(on = true)
    val m0 = shim.mark()
    val (_, w0, w1) = unit(0, Some("run")).getOrElse(sys.error("traced pipeline run failed"))
    tr.flush()
    val spawns = shim.between(m0, shim.mark())
    val stats = tr.listener.stats(_ == "run", w0, w1)
    tr.tracing(on = false)
    val out = s"${a.work}/out/run0"
    for (k <- 1 to 2) {
      val dir = s"${a.work}/out/contigs$k"
      val (r1, r2) = readPairs(spark, a.input)
      ViraPipeline.run(spark, r1, r2, Cfg).contigs.write.mode("overwrite").parquet(s"$dir/contigs")
      digests += contigDigest(spark, dir)
    }

    // The columns the pipeline reads: evaluating the parsed Illumina header
    // fields of these `/1`-style keys fails under ANSI mode (README.md).
    val (r1, r2) = readPairs(spark, a.input) match {
      case (x, y) => (x.select("key", "sequence", "quality"), y.select("key", "sequence", "quality"))
    }
    val qualified = Pipeline.pairedQualityFilter(Pipeline.interleave(r1, r2),
      Cfg.minAvgQuality, Cfg.lowQualThreshold, Cfg.maxLowQualCount)
    val nonEmpty = qualified.rdd
      .mapPartitions(it => Iterator(if (it.hasNext) 1 else 0)).sum().toInt
    val needed = nonEmpty * Tools

    // stage inputs, materialized before any timer starts
    val r1m = r1.localCheckpoint()
    val r2m = r2.localCheckpoint()
    val interM = Pipeline.interleave(r1m, r2m).localCheckpoint()
    val qualM = Pipeline.pairedQualityFilter(interM, Cfg.minAvgQuality,
      Cfg.lowQualThreshold, Cfg.maxLowQualCount).localCheckpoint()
    val fastqM = fastqLines(qualM).localCheckpoint()
    val alignedM = spark.read.parquet(s"$out/aligned").localCheckpoint()
    val normalizedM = spark.read.parquet(s"$out/normalized")
    val readFastaM = fastaLines(normalizedM
      .select(regexp_replace(col("key"), "[/ ].*$", "").as("id"), col("sequence"))
      .dropDuplicates("id")).localCheckpoint()
    val contigsM = spark.read.parquet(s"$out/contigs").localCheckpoint()
    val contigFastaM = fastaLines(contigsM).localCheckpoint()
    val hitsM = parseHits(Pipes.blastn(spark, contigFastaM)).localCheckpoint()
    val filteredM = spark.read.parquet(s"$out/filtered").localCheckpoint()
    val orfsM = spark.read.parquet(s"$out/orfs")
    val proteinFastaM = fastaLines(orfsM.select(
      concat_ws("_", col("id"), col("strand"), col("frame")).as("id"),
      col("sequence")).dropDuplicates("id")).localCheckpoint()
    val orfUdf = udf((id: String, s: String, minLen: Int) => Dna.sixFrameOrfs(id, s, minLen))

    val layers: Seq[(String, () => Unit)] = Seq(
      "io.fastq_read_s" -> (() => { Common.noop(r1); Common.noop(r2) }),
      "operators.interleave_s" -> (() => Common.noop(Pipeline.interleave(r1m, r2m))),
      "operators.quality_filter_s" -> (() => Common.noop(Pipeline.pairedQualityFilter(
        interM, Cfg.minAvgQuality, Cfg.lowQualThreshold, Cfg.maxLowQualCount))),
      "pipe.align_s" -> (() => Common.noop(Pipes.alignBwa(spark, fastqM).toDF())),
      "functions.kmers_s" -> (() => Common.noop(alignedM.select(
        DnaFunctions.kmersExploded(spark, col("sequence"), Cfg.k).as("kmer")))),
      "operators.normalize_s" -> (() => Common.noop(
        ViraPipeline.digitalNormalize(alignedM, Cfg.k, Cfg.minc, Cfg.maxc))),
      "pipe.assemble_s" -> (() => Common.noop(Pipes.assembleMegahit(spark, readFastaM).toDF())),
      "pipe.blastn_s" -> (() => Common.noop(Pipes.blastn(spark, contigFastaM).toDF())),
      "operators.blast_filter_s" -> (() => Common.noop(
        Pipeline.blastThresholdFilter(contigsM, hitsM, Cfg.blastThreshold))),
      "functions.orfs_s" -> (() => Common.noop(filteredM.select(explode(
        orfUdf(col("id"), col("sequence"), lit(Cfg.orfMinLen))).as("o")))),
      "pipe.hmmsearch_s" -> (() => Common.noop(Pipes.hmmsearch(spark, proteinFastaM).toDF())))
    val layerS = Layers.timeEach(spark, tr, layers)

    val toolSpawns = spawns.size
    Map(
      "pipe.spawns" -> toolSpawns.toDouble,
      "pipe.align_spawns" -> spawns.count(_.tool == "align").toDouble,
      "pipe.proc_s" -> spawns.map(s => (s.endNs - s.startNs) / 1e9).sum,
      "pipe.failed_spawns" -> spawns.count(_.exit != 0).toDouble,
      "pipe.spawns_needed" -> needed.toDouble,
      "pipe.spawn_efficiency" -> (if (toolSpawns == 0) 0.0 else needed.toDouble / toolSpawns),
      "operators.contig_digest_changes" -> digests.count(_ != digests.head).toDouble
    ) ++ stats.metrics ++ layerS
  }

  /** FASTQ records as the 4-line text the aligner reads. */
  private def fastqLines(reads: DataFrame): Dataset[String] = {
    import reads.sparkSession.implicits._
    reads.select(concat(lit("@"), col("key"), lit("\n"), col("sequence"),
      lit("\n+\n"), col("quality"))).as[String].flatMap(_.split("\n"))
  }

  private def fastaLines(df: DataFrame): Dataset[String] = {
    import df.sparkSession.implicits._
    df.select(concat(lit(">"), col("id"), lit("\n"), col("sequence")))
      .as[String].flatMap(_.split("\n"))
  }

  private def parseHits(tsv: Dataset[String]): DataFrame = {
    val f = split(col("value"), "\t")
    tsv.toDF("value").select(f.getItem(0).as("qseqid"),
      f.getItem(2).cast("double").as("pident"),
      f.getItem(6).cast("long").as("qstart"), f.getItem(7).cast("long").as("qend"))
  }
}
