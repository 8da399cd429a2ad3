package graft.operators

import graft.functions.{Dna, DnaFunctions, TextFunctions}
import graft.io.{Bam, Fasta, SamText}
import graft.pipe.Pipes
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's 8-stage pipeline (scripts/virapipe.sh:38-63 — SURVEY.md
  * §3.2) collapsed into ONE SparkSession program: each stage is a Dataset
  * transform and the external tools ride behind injectable
  * [[graft.pipe.PipeStage]] commands (mock stand-ins by default; real
  * BWA/MegaHit/blastn/hmmsearch through the [[Config]] command fields).
  *
  * Each stage runs once per [[run]]: its output is pinned through
  * [[Staging.pin]] where the reference writes its per-stage HDFS
  * directory, and the next stage reads the pinned copy. So every tool
  * spawns once per non-empty input partition, and the `uuid()` contig
  * ids are drawn once, however often a caller reads the [[Result]].
  *
  * Scale: the only shuffles are the ones the semantics demand — the
  * interleave's pairing window on the read name, the k-mer aggregation,
  * and the assembler input's per-pair `min_by`. The blast-filter join
  * broadcasts its small hits side. Everything else is narrow or a
  * per-partition pipe.
  */
object ViraPipeline {

  final case class Config(
      k: Int = 16,
      minc: Long = 0,
      maxc: Long = 20,
      minAvgQuality: Double = 0.0,
      lowQualThreshold: Int = 0,
      maxLowQualCount: Int = Int.MaxValue,
      blastThreshold: Double = 70.0,
      orfMinLen: Int = 2,
      staging: Option[String] = None,
      align: Option[Seq[String]] = None,
      assemble: Option[Seq[String]] = None,
      blastn: Option[Seq[String]] = None,
      hmmsearch: Option[Seq[String]] = None)

  /** The six stage outputs, each already computed and pinned: reading a
    * frame reruns no stage. With `staging = None` the frames are
    * `localCheckpoint` blocks, which live as long as their executor (a
    * lost executor fails the job that reads them); with `staging =
    * Some(dir)` they are snapshot tables under `dir/<stage>` that
    * survive executors and restarts.
    */
  final case class Result(
      aligned: DataFrame,
      normalized: DataFrame,
      contigs: DataFrame,
      filteredContigs: DataFrame,
      orfs: DataFrame,
      hmmHits: DataFrame)

  /** A1+F8+A3 digital normalization (NormalizeRDD.java:64-103), made
    * deterministic: a read survives iff it is the MINIMUM-key read of at
    * least one k-mer whose corpus-wide count lies in (minc, maxc)
    * (reference keeps an arbitrary first-seen read per k-mer).
    */
  def digitalNormalize(reads: DataFrame, k: Int, minc: Long, maxc: Long): DataFrame = {
    val keepers = reads
      .filter(length(col("sequence")) >= k)
      .select(col("key"),
        DnaFunctions.kmersExploded(reads.sparkSession, col("sequence"), k).as("kmer"))
      .groupBy("kmer")
      .agg(count(lit(1)).as("cnt"), min(col("key")).as("keeper"))
      .filter(col("cnt") > minc && col("cnt") < maxc)
      .select(col("keeper").as("key"))
    reads.join(keepers, Seq("key"), "left_semi")
  }

  /** Serialize reads (key, sequence, quality) to 4-line FASTQ records,
    * one multi-line string per record: the pipe writes each record
    * followed by a newline, so the tool reads the same lines as from a
    * file. PARTITION-LOCAL sort only: each pipe process consumes one
    * partition, so per-partition determinism is all the tools need —
    * a global orderBy would range-shuffle the entire read set before
    * the hottest stage (the reference streams partition-local too,
    * AlignInterleaved.java:67-140), a cluster-wide sort for nothing
    * at 100 TB.
    */
  private[graft] def toFastqLines(reads: DataFrame): Dataset[String] = {
    import reads.sparkSession.implicits._
    reads.sortWithinPartitions("key")
      .select(concat(lit("@"), col("key"), lit("\n"), col("sequence"),
        lit("\n+\n"), col("quality")).as("rec"))
      .as[String]
  }

  private[graft] def toFastaLines(df: DataFrame): Dataset[String] = {
    import df.sparkSession.implicits._
    df.sortWithinPartitions("id")
      .select(concat(lit(">"), col("id"), lit("\n"), col("sequence")).as("rec"))
      .as[String]
  }

  /** Run the full pipeline from paired FASTQ DataFrames (key, sequence,
    * quality). Eager: every stage runs, once, before this returns. Each
    * stage output is pinned in dependency order (`cfg.staging` picks
    * the tier, see [[Staging]]) and returned for inspection. The tool
    * commands default to the mocks of [[graft.pipe.Pipes]].
    */
  def run(spark: SparkSession, r1: DataFrame, r2: DataFrame,
          cfg: Config = Config()): Result = {
    def pin(df: DataFrame, stage: String): DataFrame =
      Staging.pin(df, cfg.staging, stage)

    // 1. DecompressInterleave → name-keyed mate pairing (T9/J3/F6).
    val interleaved = Pipeline.interleave(r1, r2)

    // 1b. FastqFilter quality gate (F2/F3, pairwise).
    val qualified =
      if (cfg.minAvgQuality <= 0 && cfg.maxLowQualCount == Int.MaxValue) interleaved
      else Pipeline.pairedQualityFilter(interleaved, cfg.minAvgQuality,
        cfg.lowQualThreshold, cfg.maxLowQualCount)

    // 2. AlignInterleavedMulti: BWA pipe, keep flag-77/141 pairs (F5).
    val samLines = Pipes.alignBwa(spark,
      toFastqLines(qualified.select("key", "sequence", "quality")), cfg.align)
    val aligned = pin(SamText.parse(samLines.toDF("value"))
      .filter(col("flag").isin(77, 141))
      .select(
        concat(col("readName"),
          when(col("flag") === 77, "/1").otherwise("/2")).as("key"),
        col("bases").as("sequence"), col("quality")), "aligned")

    // 3. NormalizeRDD: k-mer coverage-band digital normalization.
    val normalized = pin(digitalNormalize(aligned, cfg.k, cfg.minc, cfg.maxc), "normalized")

    // 4. FastqGroupper is a write-side concern (partitionBy on sample) —
    //    see Pipeline.writeGroupedBySample; the dataflow continues fused.

    // 5. Assemble: MegaHit pipe over FASTA-ified reads, one read per
    //    pair name — the minimum-key mate, so the assembled reads do not
    //    depend on row order.
    val readFasta = toFastaLines(normalized
      .groupBy(regexp_replace(col("key"), "[/ ].*$", "").as("id"))
      .agg(min_by(col("sequence"), col("key")).as("sequence")))
    val contigLines = Pipes.assembleMegahit(spark, readFasta, cfg.assemble)
    val contigs0 = fastaLinesToContigs(spark, contigLines)

    // 6. RenameContigsUniq (T5), pinned so the blastn input and the
    //    filter join below see the same uuid() suffixes.
    val contigs = pin(Fasta.renameContigsUniq(contigs0), "contigs")

    // 7. BlastNFilter: blastn pipe → J1 left-outer join + F10 threshold.
    val blastTsv = Pipes.blastn(spark, toFastaLines(contigs), cfg.blastn)
    val f = split(col("value"), "\t")
    val hits = blastTsv.toDF("value").select(
      f.getItem(0).as("qseqid"),
      f.getItem(2).cast("double").as("pident"),
      f.getItem(6).cast("long").as("qstart"),
      f.getItem(7).cast("long").as("qend"))
    val filteredContigs = pin(Pipeline.blastThresholdFilter(
      contigs, hits, cfg.blastThreshold), "filtered_contigs")

    // 8. Protein/ORF + HMMSearch pipe. A frame can hold several
    //    non-overlapping ORFs, so the start position completes the id.
    val orfUdf = udf((id: String, s: String, minLen: Int) =>
      Dna.sixFrameOrfs(id, s, minLen))
    val orfs = pin(filteredContigs
      .select(explode(orfUdf(col("id"), col("sequence"), lit(cfg.orfMinLen))).as("o"))
      .select(col("o.contigId").as("id"), col("o.strand"), col("o.frame"),
        col("o.start"), col("o.protein").as("sequence")), "orfs")
    val hmmLines = Pipes.hmmsearch(spark, toFastaLines(orfs.select(
      concat_ws("_", col("id"), col("strand"), col("frame"), col("start")).as("id"),
      col("sequence"))), cfg.hmmsearch)
    val hmmHits = pin(hmmLines.toDF("value")
      .filter(!col("value").startsWith("#")) // tblout comment lines
      .select(split(col("value"), "\\s+").getItem(0).as("orf_id")), "hmm_hits")

    Result(aligned, normalized, contigs, filteredContigs, orfs, hmmHits)
  }

  private def fastaLinesToContigs(spark: SparkSession, lines: Dataset[String]): DataFrame = {
    import spark.implicits._
    // Assembler output arrives as alternating >id / sequence lines from
    // the pipe; reassemble per partition (mock emits records intact).
    lines.mapPartitions { it =>
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var id: String = null
      val body = new StringBuilder
      def flush(): Unit = if (id != null) { buf += ((id, body.toString)); body.clear() }
      it.foreach { l =>
        if (l.startsWith(">")) { flush(); id = l.drop(1).split(" ")(0) }
        else body.append(l)
      }
      flush()
      buf.iterator
    }.toDF("id", "sequence")
  }

  /** Per-site allele frequencies from a long-format genotype matrix
    * ([[graft.io.Vcf.readSamples]] output): GT parses on `/` or `|`
    * (unphased/phased), `.` alleles are uncalled, any non-zero allele
    * index counts as alternate (multi-allelic sites pool their alts).
    * Frequencies report as exact parts-per-million (`alt · 10⁶ div
    * called`) — integer end to end, no cross-engine float drift.
    * One narrow projection + one hash agg by site; the per-genotype
    * HOF filters run on 3-7 char strings (not a hot-loop concern).
    */
  def alleleFrequencies(genotypes: DataFrame): DataFrame = {
    val alleles = split(element_at(col("geno"), "GT"), "[/|]")
    genotypes.select(col("chrom"), col("pos"),
      size(filter(alleles, a => a =!= "."))
        .cast("long").as("_called"),
      size(filter(alleles, a => a =!= "." && a =!= "0"))
        .cast("long").as("_alt"))
      .groupBy("chrom", "pos")
      .agg(sum("_called").as("n_called"), sum("_alt").as("n_alt"))
      .withColumn("af_ppm",
        when(col("n_called") === 0, lit(null))
          .otherwise(expr("n_alt * 1000000 DIV n_called")))
  }

  /** Hardy–Weinberg equilibrium test per site — the population-QC
    * column every GWAS pipeline computes (sites far from HWE flag
    * genotyping artifacts): from the long genotype matrix
    * ([[graft.io.Vcf.readSamples]]), count the diploid genotype
    * classes (hom-ref `0/0`, het, hom-alt — any non-zero allele index
    * pools as alternate, matching [[alleleFrequencies]]; genotypes
    * with a `.` allele or non-diploid ploidy are uncalled and drop
    * from the site's n), then the 1-df chi-square of observed vs
    * p²/2pq/q² expected counts. Monomorphic sites (p = 0 or 1) carry
    * a null chi2 — the test is undefined there, not zero.
    *
    * Plan shape: one narrow per-row classification + ONE hash agg on
    * (chrom, pos) — partial aggregation collapses samples map-side, so
    * a biobank-scale (10⁵ samples × 10⁸ sites) matrix shuffles only
    * per-site class counts. The chi-square itself is a projection.
    */
  def hweStats(genotypes: DataFrame): DataFrame = {
    val alleles = split(element_at(col("geno"), "GT"), "[/|]")
    val called = size(alleles) === 2 && !array_contains(alleles, ".")
    val nonRef = size(filter(alleles, a => a =!= "0"))
    val counts = genotypes
      .select(col("chrom"), col("pos"),
        when(!called, lit(null)).otherwise(nonRef).as("k"))
      .groupBy("chrom", "pos")
      .agg(
        sum(when(col("k") === 0, 1L).otherwise(0L)).as("n_hom_ref"),
        sum(when(col("k") === 1, 1L).otherwise(0L)).as("n_het"),
        sum(when(col("k") === 2, 1L).otherwise(0L)).as("n_hom_alt"))
    val n = (col("n_hom_ref") + col("n_het") + col("n_hom_alt"))
      .cast("double")
    val p = (lit(2.0) * col("n_hom_ref") + col("n_het")) / (lit(2.0) * n)
    val q = lit(1.0) - p
    val eAA = n * p * p
    val eAa = lit(2.0) * n * p * q
    val eaa = n * q * q
    val chi2 =
      (col("n_hom_ref") - eAA) * (col("n_hom_ref") - eAA) / eAA +
        (col("n_het") - eAa) * (col("n_het") - eAa) / eAa +
        (col("n_hom_alt") - eaa) * (col("n_hom_alt") - eaa) / eaa
    counts.withColumn("chi2",
      when(n > 0 && p > 0 && p < 1, round(chi2, 6)).otherwise(lit(null)))
  }

  /** Per-position PILEUP over aligned reads — samtools mpileup's core
    * (depth + base counts per reference position), the step between
    * alignment and variant calling: walk each read's CIGAR (M/=/X
    * consume both read and reference and emit aligned bases; I/S
    * consume read only; D/N consume reference only; H/P consume
    * neither — the SAMv1 spec's consumption table), emit one skinny
    * (ref, pos, base) row per aligned base, then ONE hash aggregation.
    * Base counts are case-folded ACGT; other codes (N, ambiguity)
    * count toward depth only. Reads whose CIGAR read-consumption
    * disagrees with the base string error loudly — a silent skip
    * would bias depth exactly where the input is corrupt.
    *
    * Scale shape: the explode factor is read length (the same factor
    * any pileup pays); partial aggregation collapses each partition's
    * (ref, pos) groups map-side, so the shuffle carries per-partition
    * position counts, not per-base rows — at 30× coverage the exchange
    * is ~ positions, not positions × depth. The walker is one typed
    * flatMap: no driver state, no sort, splittable everywhere.
    */
  def pileup(alignments: DataFrame): DataFrame = {
    val spark = alignments.sparkSession
    import spark.implicits._
    alignments
      .select(col("referenceName"), col("start").cast("long"),
        col("cigar"), col("bases"))
      .as[(String, Long, String, String)]
      .flatMap { case (ref, start, cigar, bases) =>
        if (ref == null || ref == "*" || cigar == null || cigar == "*" ||
          bases == null || start <= 0) Iterator.empty
        else {
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(String, Long, String)]
          var refPos = start; var readPos = 0
          val ops = new Bam.CigarWalk(cigar)
          while (ops.next()) {
            val n = ops.len
            ops.op match {
              case 'M' | '=' | 'X' =>
                require(readPos + n <= bases.length,
                  s"CIGAR $cigar consumes past ${bases.length} bases")
                var j = 0
                while (j < n) {
                  out += ((ref, refPos + j,
                    String.valueOf(Character.toUpperCase(
                      bases.charAt(readPos + j)))))
                  j += 1
                }
                refPos += n; readPos += n
              case 'I' | 'S' => readPos += n
              case 'D' | 'N' => refPos += n
              case 'H' | 'P' => ()
              case other =>
                sys.error(s"unsupported CIGAR op '$other' in $cigar")
            }
          }
          require(readPos == bases.length,
            s"CIGAR $cigar consumes $readPos of ${bases.length} bases")
          out.iterator
        }
      }
      .toDF("referenceName", "pos", "b")
      .groupBy("referenceName", "pos")
      .agg(count(lit(1)).as("depth"),
        sum(when(col("b") === "A", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("b") === "C", 1L).otherwise(0L)).as("n_c"),
        sum(when(col("b") === "G", 1L).otherwise(0L)).as("n_g"),
        sum(when(col("b") === "T", 1L).otherwise(0L)).as("n_t"))
  }

  final case class TrimmedRead(id: Long, bases: String, quality: String,
                               trimmed_at: Option[Int], kept_len: Long)

  /** 3' ADAPTER TRIMMING — cutadapt's core rule for end-anchored
    * adapters: scan for the EARLIEST position where the read matches
    * the adapter — a full adapter anywhere in the read, or a read
    * suffix matching an adapter PREFIX of length >= `minOverlap` (the
    * partial-overlap case: the sequencer ran off the fragment end
    * mid-adapter) — and cut read AND quality there. Exact matching
    * (the replayable core; error-tolerant matching is a superset a
    * caller layers with an edit-distance gate). Reads without a match
    * pass through with null `trimmed_at`.
    *
    * One narrow mapPartitions pass — the tagger shape, no shuffle.
    */
  def trimAdapter(reads: DataFrame, idCol: String, seqCol: String,
                  qualCol: String, adapter: String,
                  minOverlap: Int = 3)
      : org.apache.spark.sql.Dataset[TrimmedRead] = {
    require(adapter.nonEmpty, "empty adapter")
    require(minOverlap >= 1 && minOverlap <= adapter.length,
      s"minOverlap $minOverlap out of [1, ${adapter.length}]")
    val spark = reads.sparkSession
    import spark.implicits._
    reads.select(col(idCol).cast("long"), col(seqCol), col(qualCol))
      .as[(Long, String, String)]
      .mapPartitions { rows =>
        rows.map { case (id, seq0, qual0) =>
          val seq = if (seq0 == null) "" else seq0
          val qual = if (qual0 == null) "" else qual0
          var found = -1; var i = 0
          while (found < 0 && i < seq.length) {
            val m = math.min(adapter.length, seq.length - i)
            if (m >= minOverlap && seq.regionMatches(i, adapter, 0, m))
              found = i
            i += 1
          }
          if (found < 0) TrimmedRead(id, seq, qual, None, seq.length.toLong)
          else TrimmedRead(id, seq.substring(0, found),
            qual.substring(0, math.min(found, qual.length)),
            Some(found), found.toLong)
        }
      }
  }

  /** Sliding-window GC content — the genome-browser track between
    * assembly and annotation (GC skew flags origins, isochores, and
    * contamination): one window row per `(contig, step offset)` with
    * the exact G+C count and integer-ppm fraction. Pure codegen'd
    * column arithmetic: `sequence` explodes the window starts,
    * `substring` + `translate` count — no UDF, no shuffle beyond the
    * explode's own partitioning. Contigs shorter than one window
    * yield no rows.
    */
  def gcWindows(contigs: DataFrame, idCol: String, seqCol: String,
                window: Int, step: Int): DataFrame = {
    require(window >= 1 && step >= 1, s"bad window=$window step=$step")
    contigs.select(col(idCol), col(seqCol).as("_s"))
      .filter(length(col("_s")) >= window)
      .select(col(idCol),
        explode(sequence(lit(0L),
          (length(col("_s")) - window).cast("long"),
          lit(step.toLong))).as("win_start"),
        col("_s"))
      .select(col(idCol), col("win_start"),
        col("_s").substr((col("win_start") + 1).cast("int"), lit(window))
          .as("_w"))
      .select(col(idCol), col("win_start"),
        (length(col("_w")) -
          length(translate(col("_w"), "GCgc", ""))).cast("long").as("gc"))
      .withColumn("gc_ppm", expr(s"gc * 1000000 DIV $window"))
  }

  /** Per-sample KMV (k-minimum-values) k-mer sketch — the bottom-s
    * distinct 60-bit k-mer hashes per sample, the sketch behind Mash
    * (Ondov et al. 2016) and every alignment-free genome comparator.
    * 60-bit md5-prefix hashing (the engine's production hash-width
    * convention — cross-engine replayable, positive in signed int64).
    *
    * Scale shape: the k-mer explode streams through the native
    * generator (no array materialization); bottom-s is TWO-PHASE —
    * a bounded per-partition, per-sample TreeSet heap (never more
    * than s values per (partition, sample) in memory) feeds a
    * per-sample merge of ≤ s·partitions candidates — so the full
    * distinct-hash set is NEVER shuffled: a 100× corpus shuffles the
    * same s·partitions rows. The merge itself is one hash agg.
    */
  def mashSketch(reads: DataFrame, sampleCol: String, seqCol: String,
                 k: Int = 16, sketchSize: Int = 256): DataFrame = {
    require(k >= 1 && sketchSize >= 1, s"bad k=$k / s=$sketchSize")
    val spark = reads.sparkSession
    import spark.implicits._
    val hashed = reads
      .select(col(sampleCol).cast("string").as("sample"),
        DnaFunctions.kmersExploded(spark, col(seqCol), k).as("km"))
      .select(col("sample"),
        conv(substring(md5(col("km")), 1, 15), 16, 10)
          .cast("long").as("h"))
    val cands = hashed.as[(String, Long)]
      .mapPartitions { it =>
        val heaps = scala.collection.mutable.HashMap
          .empty[String, java.util.TreeSet[java.lang.Long]]
        it.foreach { case (s, h) =>
          val t = heaps.getOrElseUpdate(s,
            new java.util.TreeSet[java.lang.Long]())
          if (t.size < sketchSize) t.add(h)
          else if (h < t.last()) { if (t.add(h)) t.pollLast() }
        }
        heaps.iterator.flatMap { case (s, t) =>
          val out = new Array[(String, Long)](t.size)
          var i = 0
          t.forEach { h => out(i) = (s, h.longValue()); i += 1 }
          out.iterator
        }
      }
      .toDF("sample", "h")
    cands.groupBy("sample")
      .agg(slice(array_sort(array_distinct(collect_list(col("h")))),
        1, sketchSize).as("sketch"))
  }

  /** Pairwise MASH DISTANCE between samples from their KMV sketches:
    * for each sample pair, merge the two sketches to the union's
    * bottom-s, count how many of those the sketches SHARE (the
    * unbiased containment trick — comparing inside the merged sketch,
    * never the raw sets), j = shared/|merged|, and Mash's distance
    * d = -ln(2j/(1+j))/k. Disjoint sketches carry null (d undefined
    * at j = 0, not infinite-as-a-number).
    *
    * The pair join is a broadcast inequality join over the SKETCH
    * table — one row per sample, a metadata-sized dimension; the
    * heavy lifting stayed in [[mashSketch]]'s bounded two-phase pass.
    */
  def mashDistance(reads: DataFrame, sampleCol: String, seqCol: String,
                   k: Int = 16, sketchSize: Int = 256): DataFrame = {
    val sk = mashSketch(reads, sampleCol, seqCol, k, sketchSize)
      .localCheckpoint() // both sides of the pair join read one pass
    val a = sk.select(col("sample").as("s1"), col("sketch").as("ska"))
    val b = sk.select(col("sample").as("s2"), col("sketch").as("skb"))
    val merged = slice(array_sort(array_distinct(
      concat(col("ska"), col("skb")))), 1, sketchSize)
    val shared = size(array_intersect(col("merged"),
      array_intersect(col("ska"), col("skb")))).cast("long")
    val j = col("shared").cast("double") / col("denom")
    a.join(broadcast(b), col("s1") < col("s2"))
      .withColumn("merged", merged)
      .withColumn("shared", shared)
      .withColumn("denom", size(col("merged")).cast("long"))
      .withColumn("mash_dist",
        when(col("shared") === 0, lit(null)).otherwise(
          round(-log(lit(2.0) * j / (lit(1.0) + j)) / k, 6) + lit(0.0)))
      .select("s1", "s2", "shared", "denom", "mash_dist")
  }

  /** Coverage SUMMARY per reference — the breadth/depth row a
    * sequencing run is accepted or rejected on: from a [[pileup]],
    * per reference the covered-position count, total depth, mean
    * depth over covered positions (exact integer milli-x), and
    * breadth at 1× / 4× (positions at or above the cut). One hash agg
    * over the pileup — positions collapse map-side.
    */
  def coverageSummary(pile: DataFrame): DataFrame = {
    pile.groupBy("referenceName")
      .agg(
        count(lit(1)).as("n_covered"),
        sum("depth").as("total_depth"),
        sum(when(col("depth") >= 4, 1L).otherwise(0L)).as("n_ge4"))
      .withColumn("mean_depth_millix",
        expr("total_depth * 1000 DIV n_covered"))
  }

  /** Sliding-window QUALITY TRIM — Trimmomatic's SLIDINGWINDOW rule,
    * the read-cleanup step before alignment: scan windows of `window`
    * bases left to right; at the FIRST window whose SUM of Phred
    * qualities falls below `window * minMeanQ` (integer arithmetic —
    * the mean test without a float), cut the read at the window's
    * START; reads whose every window passes keep full length. Phred
    * scores decode as `ord(char) - 33` (Sanger offset). Reads shorter
    * than one window pass through untouched. One narrow mapPartitions
    * pass.
    */
  def qualityTrim(reads: DataFrame, idCol: String, seqCol: String,
                  qualCol: String, window: Int = 4, minMeanQ: Int = 15)
      : org.apache.spark.sql.Dataset[TrimmedRead] = {
    require(window >= 1 && minMeanQ >= 0, s"bad window/minMeanQ")
    val spark = reads.sparkSession
    import spark.implicits._
    reads.select(col(idCol).cast("long"), col(seqCol), col(qualCol))
      .as[(Long, String, String)]
      .mapPartitions { rows =>
        rows.map { case (id, seq0, qual0) =>
          val seq = if (seq0 == null) "" else seq0
          val qual = if (qual0 == null) "" else qual0
          var cut = -1
          if (qual.length >= window) {
            // rolling window sum over Phred scores
            var sum = 0; var i = 0
            while (i < window) { sum += qual.charAt(i) - 33; i += 1 }
            if (sum < window * minMeanQ) cut = 0
            while (cut < 0 && i < qual.length) {
              sum += (qual.charAt(i) - 33) - (qual.charAt(i - window) - 33)
              i += 1
              if (sum < window * minMeanQ) cut = i - window
            }
          }
          if (cut < 0) TrimmedRead(id, seq, qual, None, seq.length.toLong)
          else TrimmedRead(id, seq.substring(0, math.min(cut, seq.length)),
            qual.substring(0, cut), Some(cut),
            math.min(cut, seq.length).toLong)
        }
      }
  }

  /** samtools-flagstat twin — the one-row alignment-QC summary every
    * pipeline prints after alignment: counts over the SAMv1 FLAG bits
    * (0x1 paired, 0x2 proper, 0x4 unmapped, 0x8 mate-unmapped, 0x40/
    * 0x80 first/second, 0x100 secondary, 0x400 duplicate, 0x800
    * supplementary). Classic totals (secondary/supplementary included
    * in `total`, as historical flagstat reports). One global agg of
    * bit tests — codegen'd, scale-free.
    */
  def flagstat(alignments: DataFrame): DataFrame = {
    def bit(b: Int): Column = (col("flag").bitwiseAND(lit(b))) =!= 0
    def cnt(c: Column, name: String): Column =
      sum(when(c, 1L).otherwise(0L)).as(name)
    alignments.agg(
      count(lit(1)).as("total"),
      cnt(bit(0x100), "secondary"),
      cnt(bit(0x800), "supplementary"),
      cnt(bit(0x400), "duplicates"),
      cnt(!bit(0x4), "mapped"),
      cnt(bit(0x1), "paired"),
      cnt(bit(0x1) && bit(0x40), "read1"),
      cnt(bit(0x1) && bit(0x80), "read2"),
      cnt(bit(0x1) && bit(0x2) && !bit(0x4), "properly_paired"),
      cnt(bit(0x1) && !bit(0x4) && !bit(0x8), "both_mapped"),
      cnt(bit(0x1) && !bit(0x4) && bit(0x8), "singletons"))
  }

  /** Duplicate marking — Picard MarkDuplicates' core rule, the dedup
    * between alignment and calling (PCR/optical duplicates share a
    * 5'-end signature): reads group by (reference, UNCLIPPED 5' end,
    * strand) — forward reads by `start - leading soft clip`, reverse
    * reads by `start + reference-consumed length - 1 + trailing soft
    * clip` (the 5' end is the alignment END on the reverse strand) —
    * and within each group the best read stays (highest mapq,
    * read-name ascending as the deterministic tie-break), the rest
    * mark `dup = true`. Unmapped reads never mark.
    *
    * Scale shape: the CIGAR walk is a narrow per-row pass (three ints
    * per read, no explode); the grouping is ONE window over the
    * signature key — groups are duplicate stacks (bounded by per-site
    * coverage), so the window sort is per-stack, never global.
    */
  def markDuplicates(alignments: DataFrame): DataFrame = {
    val spark = alignments.sparkSession
    import spark.implicits._
    val keyed = alignments
      .select(col("readName"), col("flag").cast("int"),
        col("referenceName"), col("start").cast("long"), col("cigar"),
        col("mapq").cast("int"))
      .as[(String, Int, String, Long, String, Int)]
      .map { case (name, flag, ref, start, cigar, mapq) =>
        val unmapped = (flag & 0x4) != 0 || ref == null || ref == "*" ||
          cigar == null || cigar == "*"
        if (unmapped) (name, flag, ref, -1L, false, mapq, false)
        else {
          var lead = 0; var trail = 0; var refLen = 0L; var first = true
          val ops = new Bam.CigarWalk(cigar)
          while (ops.next()) {
            val n = ops.len
            ops.op match {
              case 'M' | '=' | 'X' | 'D' | 'N' =>
                refLen += n; first = false; trail = 0
              case 'S' =>
                if (first) lead = n else trail = n
                first = false
              case 'I' => first = false; trail = 0
              case 'H' | 'P' => ()
              case other =>
                sys.error(s"unsupported CIGAR op '$other' in $cigar")
            }
          }
          val rev = (flag & 0x10) != 0
          val pos5 =
            if (rev) start + refLen - 1 + trail
            else start - lead
          (name, flag, ref, pos5, rev, mapq, true)
        }
      }
      .toDF("readName", "flag", "referenceName", "pos5", "rev", "mapq",
        "_mapped")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("referenceName"), col("pos5"), col("rev"))
      .orderBy(col("mapq").desc, col("readName").asc)
    keyed
      .withColumn("_rk",
        when(col("_mapped"), row_number().over(w)).otherwise(lit(1)))
      .select(col("readName"), col("referenceName"), col("pos5"),
        col("rev"), (col("_mapped") && col("_rk") > 1).as("dup"))
  }

  /** Consensus call per pileup position — the naive-caller step after
    * [[pileup]] (majority base per site, the assembly-polishing /
    * quick-consensus primitive): argmax over the ACGT counts with
    * deterministic A<C<G<T tie-break, support as exact integer ppm of
    * CALLED bases (ambiguity codes sit in depth but not in the vote).
    * Positions under `minDepth` or with zero called bases carry a null
    * call — thin evidence is "no call", never a guess. Pure
    * projection over the pileup: zero additional shuffles.
    */
  def consensusFromPileup(pile: DataFrame, minDepth: Long = 1L): DataFrame = {
    val called = col("n_a") + col("n_c") + col("n_g") + col("n_t")
    val mx = greatest(col("n_a"), col("n_c"), col("n_g"), col("n_t"))
    val base = when(col("n_a") === mx, "A").when(col("n_c") === mx, "C")
      .when(col("n_g") === mx, "G").otherwise("T")
    pile.select(col("referenceName"), col("pos"), col("depth"),
      when(col("depth") >= minDepth && called > 0, base)
        .otherwise(lit(null)).as("consensus"),
      when(col("depth") >= minDepth && called > 0,
        mx * lit(1000000L) cast "long")
        .otherwise(lit(null)).as("_num"),
      called.as("_den"))
      .withColumn("support_ppm",
        when(col("consensus").isNull, lit(null))
          .otherwise(expr("_num DIV _den")))
      .drop("_num", "_den")
  }

  /** Per-SAMPLE genotype QC — [[hweStats]]'s sample-side twin (site QC
    * flags bad assays, sample QC flags bad libraries/swaps): per
    * sample, called/uncalled counts, het and hom-alt counts, call rate
    * and heterozygosity as exact integer ppm. Same genotype
    * classification as the site pass (diploid, `.` uncalled, any
    * non-zero allele pools as alternate); ONE hash agg on sample —
    * partial aggregation collapses sites map-side, so a biobank matrix
    * shuffles one row per sample per partition.
    */
  def sampleQc(genotypes: DataFrame): DataFrame = {
    val alleles = split(element_at(col("geno"), "GT"), "[/|]")
    val called = size(alleles) === 2 && !array_contains(alleles, ".")
    val nonRef = size(filter(alleles, a => a =!= "0"))
    genotypes
      .select(col("sample"),
        when(!called, lit(null)).otherwise(nonRef).as("k"))
      .groupBy("sample")
      .agg(
        count(lit(1)).as("n_sites"),
        sum(when(col("k").isNotNull, 1L).otherwise(0L)).as("n_called"),
        sum(when(col("k") === 1, 1L).otherwise(0L)).as("n_het"),
        sum(when(col("k") === 2, 1L).otherwise(0L)).as("n_hom_alt"))
      .withColumn("call_rate_ppm",
        when(col("n_sites") === 0, lit(null))
          .otherwise(expr("n_called * 1000000 DIV n_sites")))
      .withColumn("het_ppm",
        when(col("n_called") === 0, lit(null))
          .otherwise(expr("n_het * 1000000 DIV n_called")))
  }

  /** Transition/transversion ratio — the single-number variant-call QC
    * every caller reports (random errors push Ti/Tv toward 0.5; real
    * human WGS sits near 2.0): over the typed site table
    * ([[graft.io.Vcf.read]]), explode multi-allelic ALTs, keep single-
    * base substitutions only (indels and MNPs are out of the metric by
    * definition), classify A↔G / C↔T as transitions, everything else
    * as transversions. The ratio ships as exact integer ppm
    * (`n_ti · 10⁶ div n_tv`) — no float crosses the engine boundary.
    * One narrow pass + one global agg: scale-free.
    */
  def tiTvRatio(sites: DataFrame): DataFrame = {
    val snp = sites
      .select(col("ref"), explode(col("alt")).as("a"))
      .filter(length(col("ref")) === 1 && length(col("a")) === 1 &&
        TextFunctions.upperCase(col("a")) =!= TextFunctions.upperCase(col("ref")))
    val pair = concat(TextFunctions.upperCase(col("ref")), TextFunctions.upperCase(col("a")))
    val isTi = pair.isin("AG", "GA", "CT", "TC")
    snp.agg(
        sum(when(isTi, 1L).otherwise(0L)).as("n_ti"),
        sum(when(!isTi, 1L).otherwise(0L)).as("n_tv"))
      .withColumn("titv_ppm",
        when(col("n_tv") === 0, lit(null))
          .otherwise(expr("n_ti * 1000000 DIV n_tv")))
  }

  /** Assembly statistics — the post-assembly QC summary every
    * MegaHit/SPAdes run gets (QUAST's headline row): one row of
    * (n_contigs, total_bp, max_len, N50, L50, gc_ppm). N50 is the
    * length of the contig at which the descending-length cumulative
    * sum first reaches half the assembly; L50 the number of contigs
    * in that minimal set; GC as exact parts-per-million (integer
    * arithmetic end to end — no float drift across engines).
    *
    * Plan shape: per-contig (length, gc) is one narrow scan; the
    * cumulative sum runs over the LENGTH HISTOGRAM (groupBy length),
    * whose row count is bounded by the longest contig — metadata-
    * sized, so the single-partition window sorts thousands of rows,
    * never the contig set. The crossing-class arithmetic recovers the
    * exact L50 within the crossing length class.
    */
  def assemblyStats(contigs: DataFrame, seqCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lens = contigs.select(
      length(col(seqCol)).cast("long").as("len"),
      (length(col(seqCol)) -
        length(translate(col(seqCol), "GCgc", ""))).cast("long").as("gc"))
    val hist = lens.groupBy("len")
      .agg(count(lit(1)).as("cnt"), sum("gc").as("gc"))
    val w = Window.orderBy(desc("len"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .select(col("len"), col("cnt"), (col("len") * col("cnt")).as("bp"),
        col("gc"))
      .withColumn("cum_bp", sum("bp").over(w))
      .withColumn("cum_cnt", sum("cnt").over(w))
    val tot = hist.agg(
      sum("cnt").as("n_contigs"),
      sum(col("len") * col("cnt")).as("total_bp"),
      max("len").as("max_len"),
      sum("gc").as("tot_gc"))
    cum.crossJoin(broadcast(tot))
      .filter(col("cum_bp") * 2 >= col("total_bp"))
      .orderBy(desc("len")).limit(1)
      .select(col("n_contigs"), col("total_bp"), col("max_len"),
        col("len").as("n50"),
        (col("cum_cnt") - col("cnt") +
          expr("((total_bp + 1) DIV 2 - (cum_bp - bp) + len - 1) DIV len"))
          .as("l50"),
        expr("tot_gc * 1000000 DIV total_bp").as("gc_ppm"))
  }
}
