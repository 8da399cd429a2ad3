package vbench

import graft.functions.TextFunctions
import graft.operators.{Corpus, Curation, Dedup, Exif, Multimodal, Staging}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Paths

/** `corpus_prep`: `Curation.fullPipeline` over a seed-resampled corpus,
  * then the media path `Exif.asOrientedPairMedia → Exif.orientedPHash →
  * Multimodal.clipPreprocess` over the same ids, outputs written.
  */
object CorpusWorkload {

  /** The q217 parameters; the domain cap scales with the corpus. */
  private val Mix = Seq(("en", 0.5), ("de", 0.15), ("es", 0.15), ("fr", 0.1), ("zh", 0.1))
  private val Langs = Mix.map(_._1)
  private val MinQuality = 0.3
  private val NearDup = 0.5

  def docs(spark: SparkSession, in: String): DataFrame =
    spark.read.schema("doc_id long, lang string, source string, text string")
      .json(s"$in/docs")
      .withColumn("n_chars", length(col("text")).cast("long"))

  private def bench(d: DataFrame): DataFrame = d.filter(col("doc_id") % 50 === 0)

  def shipped(d: DataFrame, nDocs: Long): DataFrame =
    Curation.fullPipeline(d, "doc_id", "text", "source", "lang", MinQuality, Langs,
      NearDup, bench(d), domainCap = math.max(30, (nDocs / 20).toInt), mixture = Mix)

  /** q380's composition: oriented pairs → pHash → exact-hash keepers →
    * CLIP preprocess of the keepers.
    */
  def media(d: DataFrame): DataFrame = {
    val m = Staging.pin(Exif.asOrientedPairMedia(d), None, "media")
    val groups = Exif.orientedPHash(m).toDF().groupBy("b0", "b1", "b2", "b3")
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).cast("long").as("n_copies"))
    val keepers = groups.join(m, "doc_id")
      .select(col("doc_id"), col("n_copies"), col("payload"))
    Multimodal.clipPreprocess(keepers.select("doc_id", "payload"), size = 32, crop = 24)
      .toDF().join(keepers.select("doc_id", "n_copies"), "doc_id")
      .select("doc_id", "n_copies", "out_w", "out_h", "rgb_md5", "rgb_sum")
  }

  /** One unit of work. */
  def once(spark: SparkSession, in: String, out: String, nDocs: Long): Unit = {
    val d = docs(spark, in)
    shipped(d, nDocs).write.mode("overwrite").parquet(s"$out/shipped")
    media(d).write.mode("overwrite").parquet(s"$out/clip")
  }

  /** Output checks: one message per failed check, and the shipped row
    * count.
    */
  def check(spark: SparkSession, out: String, nDocs: Long): (Seq[String], Long) = {
    val s = spark.read.parquet(s"$out/shipped")
    val c = spark.read.parquet(s"$out/clip")
    val ids = s.agg(count(lit(1)), countDistinct(col("doc_id")), min(col("doc_id")),
      max(col("doc_id"))).head()
    val shipped = ids.getLong(0)
    val clip = c.agg(sum(col("n_copies")), max(col("doc_id")),
      sum(when(col("out_w") === 24 && col("out_h") === 24, 0).otherwise(1))).head()
    val checks = Seq(
      "something shipped and something dropped" -> (shipped > 0 && shipped < nDocs),
      "shipped doc ids are distinct input ids" -> (ids.getLong(1) == shipped &&
        ids.getLong(2) >= 0 && ids.getLong(3) < nDocs),
      "every media row is in exactly one pHash group" -> (clip.getLong(0) == 2 * nDocs),
      "every rotated twin collapsed onto its upright original" -> (clip.getLong(1) < 200000),
      "every CLIP crop is 24x24" -> (clip.getLong(2) == 0))
    (checks.collect { case (what, false) => s"corpus_prep check failed: $what" }, shipped)
  }

  /** Digest over both outputs. */
  def digest(spark: SparkSession, out: String): String =
    Common.sha256(Common.digestFrame(spark.read.parquet(s"$out/shipped")) +
      Common.digestFrame(spark.read.parquet(s"$out/clip")))

  def run(spark: SparkSession, a: Args, tracer: Option[Tracer]): Outcome = {
    val nDocs = Common.readJsonLongs(s"${a.input}/truth.json")("docs")
    val ledger = new Ledger
    val digests = scala.collection.mutable.ArrayBuffer.empty[String]
    var shippedRows = 0L

    /** A checked unit: its seconds and wall-clock window; `group` labels
      * its jobs (not the checks'). In a traced run, each unit's digest
      * must match the first.
      */
    def unit(i: Int, group: Option[String]): Option[(Double, Long, Long)] = {
      val out = s"${a.work}/out/run$i"
      val res = ledger.attempt(s"corpus run $i") {
        val u = Common.windowed(spark, group)(once(spark, a.input, out, nDocs))
        val (bad, n) = check(spark, out, nDocs)
        shippedRows = n
        if (tracer.isDefined) digests += digest(spark, out)
        System.err.println(f"[vbench] corpus run $i: ${u._1}%.3f s")
        (u, bad ++ (if (digests.forall(_ == digests.head)) Nil
          else Seq(s"corpus_prep check failed: run $i digest differs from run 0")))
      }
      Common.deleteTree(Paths.get(out))
      res
    }

    val setupS = Common.sinceJvmStart()
    val metrics = tracer match {
      case None =>
        Common.coldUnit(unit(_, None).map(_._1)).fold(Map.empty[String, Double])(t =>
          EndToEnd.unitMetrics(t, nDocs.toDouble, Seq(t * 1000)))
      case Some(tr) =>
        // the untraced run's cold pass with tracing on, then a second
        // pass whose digest must match the first
        tr.tracing(on = true)
        val (_, w0, w1) = unit(0, Some("run")).getOrElse(sys.error("traced corpus run failed"))
        tr.flush()
        val stats = tr.listener.stats(_ == "run", w0, w1)
        tr.tracing(on = false)
        unit(1, None)
        stats.metrics ++ layers(spark, a, tr) ++ Map(
          "operators.keep_ratio" -> shippedRows.toDouble / nDocs)
    }
    ledger.outcome(metrics + ("setup_jvm_s" -> setupS))
  }

  /** Each operator timed alone on its materialized input. */
  private def layers(spark: SparkSession, a: Args, tr: Tracer): Map[String, Double] = {
    val d = docs(spark, a.input).localCheckpoint()
    val gated = d.filter(TextFunctions.qualityScore(col("text")) >= MinQuality)
      .filter(TextFunctions.langId(col("text")).isin(Langs: _*)).localCheckpoint()
    val pairs = Dedup.minhashLshPairs(gated, "doc_id", "text", threshold = NearDup)
      .localCheckpoint()
    val curated = Curation.curate(d, "doc_id", "text", MinQuality, Langs, NearDup)
      .localCheckpoint()
    val benchDocs = bench(d).localCheckpoint()
    val m = Exif.asOrientedPairMedia(d).localCheckpoint()
    val calls: Seq[(String, () => Unit)] = Seq(
      "functions.text_gate_s" -> (() => Common.noop(
        d.filter(TextFunctions.qualityScore(col("text")) >= MinQuality)
          .filter(TextFunctions.langId(col("text")).isin(Langs: _*)))),
      "operators.curate_s" -> (() => Common.noop(
        Curation.curate(d, "doc_id", "text", MinQuality, Langs, NearDup))),
      "operators.lsh_pairs_s" -> (() => Common.noop(
        Dedup.minhashLshPairs(gated, "doc_id", "text", threshold = NearDup))),
      "operators.cc_s" -> (() => Common.noop(Dedup.connectedComponents(pairs))),
      "operators.decontaminate_s" -> (() => Common.noop(
        Corpus.decontaminate(curated, "doc_id", "text", benchDocs, "text"))),
      "operators.media_encode_s" -> (() => Common.noop(Exif.asOrientedPairMedia(d))),
      "operators.phash_s" -> (() => Common.noop(Exif.orientedPHash(m).toDF())),
      "operators.clip_s" -> (() => Common.noop(
        Multimodal.clipPreprocess(m.select("doc_id", "payload"), size = 32, crop = 24).toDF())))
    val times = Layers.timeEach(spark, tr, calls)
    // one traced call of connectedComponents
    times ++ Map("operators.cc_jobs" -> tr.listener.jobCount(_ == "operators.cc_s").toDouble)
  }
}
