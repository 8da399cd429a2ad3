package graft

import graft.operators.ViraPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{MapPartitionsExec, QueryExecution}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

/** End-to-end mini pipeline (SURVEY.md §5 item 4): paired FASTQ →
  * interleave → mock-BWA pipe → flag filter → digital normalize → mock
  * assembler → contig rename → mock blastn + threshold filter → ORFs →
  * mock hmmsearch — all in one SparkSession program with coreutils
  * stand-ins for the native tools.
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // 24-char sequences: mock blastn emits pident = 50 + len%50 = 74 > 70
  // and full-length overlap, so contigs pass the threshold filter.
  private val seqA = "ATGAAACCCTAAGGGTTTCCCGGA"
  private val seqB = "ATGTTTAAACCCGGGTAACCCGGA"

  /** `n` pairs of random 24-mers, keyed p00/1, p00/2, ... */
  private def randomPairs(n: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    def dna() = Seq.fill(24)("ACGT"(rnd.nextInt(4))).mkString
    val pairs = (0 until n).map(i => (f"p$i%02d", dna(), dna()))
    (pairs.map(p => (p._1 + "/1", p._2, "I" * 24)).toDF("key", "sequence", "quality"),
      pairs.map(p => (p._1 + "/2", p._3, "I" * 24)).toDF("key", "sequence", "quality"))
  }

  private def pairedReads = {
    import spark.implicits._
    val r1 = Seq(
      ("pairA/1", seqA, "I" * 24),
      ("pairB/1", seqB, "I" * 24),
      ("orphan/1", seqA, "I" * 24) // no mate → dropped by interleave
    ).toDF("key", "sequence", "quality")
    val r2 = Seq(
      ("pairA/2", seqA, "I" * 24),
      ("pairB/2", seqB, "I" * 24)
    ).toDF("key", "sequence", "quality")
    (r1, r2)
  }

  test("eight-stage pipeline runs end-to-end with mocked tools") {
    val (r1, r2) = pairedReads
    val res = ViraPipeline.run(spark, r1, r2,
      ViraPipeline.Config(k = 4, minc = 0, maxc = 100, orfMinLen = 2))

    // Stage 2: both pairs alignable, orphan dropped → 4 reads, flags 77/141.
    assert(res.aligned.count() == 4)
    val keys = res.aligned.select("key").collect().map(_.getString(0)).toSet
    assert(keys == Set("pairA/1", "pairA/2", "pairB/1", "pairB/2"))

    // Stage 3: all k-mer counts inside (0,100) → min-key reads survive.
    assert(res.normalized.count() > 0)

    // Stage 5-6: one contig per pair name, uuid-suffixed unique ids.
    val contigIds = res.contigs.select("id").collect().map(_.getString(0))
    assert(contigIds.length == 2)
    assert(contigIds.distinct.length == 2)
    assert(contigIds.forall(_.startsWith("contig_")))

    // Stage 7: mock pident 74 > 70, overlap 100 > 70 → contigs retained.
    assert(res.filteredContigs.count() == 2)

    // Stage 8: both sequences carry a ≥2-aa ORF (ATG...stop) → ORFs and
    // one hmm hit per distinct ORF id.
    assert(res.orfs.count() > 0)
    assert(res.hmmHits.count() > 0)
  }

  private val stages =
    Seq("aligned", "normalized", "contigs", "filtered_contigs", "orfs", "hmm_hits")

  private def frames(res: ViraPipeline.Result): Seq[DataFrame] = Seq(res.aligned,
    res.normalized, res.contigs, res.filteredContigs, res.orfs, res.hmmHits)

  private def contigSeqs(res: ViraPipeline.Result): Seq[String] =
    res.contigs.select("sequence").collect().map(_.getString(0)).sorted.toSeq

  /** Runs `body` with the given session confs, restoring them after. */
  private def withConf[T](overrides: Map[String, String])(body: => T): T = {
    val saved = overrides.keys.map(k => k -> spark.conf.get(k))
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  /** Shuffled joins over 7 uncoalesced partitions, so stage inputs span
    * several partitions, some of them empty.
    */
  private val spreadConf = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> "7")

  test("plan fence: mates read from FASTQ files keep filteredContigs' exchange counts") {
    // contigs feed both the blastn pipe and the filter join; pinned, the
    // stage that computes filteredContigs reads the pinned contigs twice
    // and the FASTQ scans never, so the only shuffle left is the distinct
    // (the blast hits are broadcast into the join)
    val (r1, r2) = pairedReads
    val dir = java.nio.file.Files.createTempDirectory("graft_fence").toString
    graft.io.Fastq.write(r1.coalesce(1), s"$dir/r1")
    graft.io.Fastq.write(r2.coalesce(1), s"$dir/r2")
    val pinned = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") pinned.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val res = try {
      val res = ViraPipeline.run(spark,
        graft.io.Fastq.read(spark, s"$dir/r1"), graft.io.Fastq.read(spark, s"$dir/r2"),
        ViraPipeline.Config(k = 4, minc = 0, maxc = 100, orfMinLen = 2))
      eventually(timeout(Span(30, Seconds))) { assert(pinned.size == stages.size) }
      res
    } finally spark.listenerManager.unregister(listener)
    // the pinning jobs run in stage order
    val stage = pinned.asScala.toSeq(stages.indexOf("filtered_contigs")).executedPlan
    val nodes = FinalPlan.collectAll(stage)
    assert(!nodes.exists(_.isInstanceOf[BatchScanExec]), stage.toString.take(4000))
    assert((nodes.count(_.isInstanceOf[ShuffleExchangeExec]),
      nodes.count(_.isInstanceOf[ReusedExchangeExec])) == ((1, 0)), stage.toString.take(4000))
    assert(FinalPlan.exchanges(res.filteredContigs) == ((0, 0)),
      res.filteredContigs.queryExecution.executedPlan.toString.take(4000))
  }

  test("plan fence: the job that pins aligned scans each FASTQ mate once") {
    // the quality gate pairs mates by a window over the interleaved
    // reads, not by joining them to their own aggregate, so neither
    // file is scanned twice
    val (r1, r2) = pairedReads
    val dir = java.nio.file.Files.createTempDirectory("graft_fence").toString
    graft.io.Fastq.write(r1.coalesce(1), s"$dir/r1")
    graft.io.Fastq.write(r2.coalesce(1), s"$dir/r2")
    val pinned = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") pinned.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val res = try {
      val res = ViraPipeline.run(spark,
        graft.io.Fastq.read(spark, s"$dir/r1"), graft.io.Fastq.read(spark, s"$dir/r2"),
        ViraPipeline.Config(k = 4, minc = 0, maxc = 100, orfMinLen = 2,
          minAvgQuality = 1.0, lowQualThreshold = 1, maxLowQualCount = 1))
      eventually(timeout(Span(30, Seconds))) { assert(pinned.size == stages.size) }
      res
    } finally spark.listenerManager.unregister(listener)
    assert(res.aligned.count() == 4)
    val stage = pinned.asScala.toSeq(stages.indexOf("aligned")).executedPlan
    val scans = FinalPlan.collectAll(stage).collect { case s: BatchScanExec => s }
    assert(scans.size == 2, stage.toString.take(6000))
    Seq("r1", "r2").foreach { mate =>
      assert(scans.count(_.toString.contains(s"$dir/$mate")) == 1, stage.toString.take(6000))
    }
    // the gate windows on interleave's pairName, so the mates are
    // hash-partitioned by name once
    val hashed = FinalPlan.collectAll(stage).collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(hashed.size == 1, stage.toString.take(6000))
  }

  test("hmm_hits drop the tblout comment lines around the hit rows") {
    import graft.pipe.Pipes
    val (r1, r2) = pairedReads
    val cfg = ViraPipeline.Config(k = 4, minc = 0, maxc = 100, orfMinLen = 2)
    // the mock framed like a --tblout table: '#' header and trailer
    // lines, columns padded with runs of spaces
    val tblout = Some(Seq("sh", "-c",
      "echo '#  target name  accession'; \"$@\" | sed 's/ /   /g'; echo '# [ok]'",
      "sh") ++ Pipes.HmmsearchMock)
    // the mock answers every protein, so a run's hits are its ORF ids
    // (each run draws fresh contig uuids: check each against its own)
    def hitsAndOrfs(c: ViraPipeline.Config): (Seq[String], Seq[String]) = {
      val res = ViraPipeline.run(spark, r1, r2, c)
      (res.hmmHits.select("orf_id").collect().map(_.getString(0)).sorted.toSeq,
        res.orfs.select(concat_ws("_", col("id"), col("strand"), col("frame"), col("start")))
          .collect().map(_.getString(0)).sorted.toSeq)
    }
    val (plainHits, plainOrfs) = hitsAndOrfs(cfg)
    val (hits, orfs) = hitsAndOrfs(cfg.copy(hmmsearch = tblout))
    assert(hits.nonEmpty && !hits.exists(_.startsWith("#")), hits)
    assert(plainHits == plainOrfs)
    assert(hits == orfs)
  }

  test("every ORF of a frame reaches hmmsearch: the id carries the ORF start") {
    import spark.implicits._
    // frame +1 codons: ATG AAA TAA | ATG CCC TAG | GGG CCC — two ORFs,
    // at 1 and at 10; 24 bases so the blastn mock keeps the contig
    val twoOrfs = "ATGAAATAAATGCCCTAGGGGCCC"
    val r1 = Seq(("pairC/1", twoOrfs, "I" * 24)).toDF("key", "sequence", "quality")
    val r2 = Seq(("pairC/2", twoOrfs, "I" * 24)).toDF("key", "sequence", "quality")
    val res = ViraPipeline.run(spark, r1, r2,
      ViraPipeline.Config(k = 4, minc = 0, maxc = 100, orfMinLen = 2))
    val contig = res.filteredContigs.select("id").as[String].collect().toSeq
    assert(contig.size == 1)
    val hits = res.hmmHits.select("orf_id").as[String].collect().toSeq
    assert(hits.distinct == hits, hits)
    assert(Set(s"${contig.head}_+_1_1", s"${contig.head}_+_1_10").subsetOf(hits.toSet),
      hits)
    assert(hits.size == res.orfs.count())
  }

  test("plan fence: every Result frame reads its pinned stage, with no shuffle and no pipe") {
    val (r1, r2) = pairedReads
    val dir = java.nio.file.Files.createTempDirectory("graft_fence").toString
    graft.io.Fastq.write(r1.coalesce(1), s"$dir/r1")
    graft.io.Fastq.write(r2.coalesce(1), s"$dir/r2")
    val res = ViraPipeline.run(spark,
      graft.io.Fastq.read(spark, s"$dir/r1"), graft.io.Fastq.read(spark, s"$dir/r2"),
      ViraPipeline.Config(k = 4, minc = 0, maxc = 100, orfMinLen = 2))
    stages.zip(frames(res)).foreach { case (stage, df) =>
      val rerun = FinalPlan.nodes(df).filter {
        case _: ShuffleExchangeExec | _: MapPartitionsExec => true
        case _ => false
      }
      assert(rerun.isEmpty, s"$stage:\n${df.queryExecution.executedPlan}")
    }
  }

  test("staging = Some(dir) commits one snapshot per stage and keeps the contigs") {
    val (r1, r2) = pairedReads
    val cfg = ViraPipeline.Config(k = 4, minc = 0, maxc = 100, orfMinLen = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_vp_staging").toFile
    val staged = ViraPipeline.run(spark, r1, r2, cfg.copy(staging = Some(dir.toString)))
    val manifests = dir.listFiles().map(d =>
      d.getName -> d.listFiles().count(_.getName.startsWith("manifest-"))).toMap
    assert(manifests == stages.map(_ -> 1).toMap)
    assert(contigSeqs(staged) == contigSeqs(ViraPipeline.run(spark, r1, r2, cfg)))
    assert(contigSeqs(staged).nonEmpty)
  }

  test("run spawns each tool once per non-empty input partition, however often the Result is read") {
    import graft.pipe.Pipes
    val log = java.nio.file.Files.createTempFile("graft_spawns", ".log")
    // the mock behind a shell that logs one line per spawn
    def logged(tool: String, mock: Seq[String]) =
      Some(Seq("sh", "-c", s"echo $tool >> '$log'; exec \"$$@\"", "sh") ++ mock)
    val (r1, r2) = randomPairs(12)
    val res = withConf(spreadConf) {
      ViraPipeline.run(spark, r1.repartition(3), r2.repartition(2),
        ViraPipeline.Config(k = 8, minc = 0, maxc = 1000, orfMinLen = 2,
          align = logged("align", Pipes.AlignMock),
          assemble = logged("assemble", Pipes.AssembleMock),
          blastn = logged("blastn", Pipes.BlastnMock),
          hmmsearch = logged("hmmsearch", Pipes.HmmsearchMock)))
    }
    for (_ <- 1 to 2; df <- frames(res)) df.collect()
    val spawns = java.nio.file.Files.readAllLines(log).asScala
      .groupBy(identity).map { case (tool, ls) => tool -> ls.size }
    // each stage below is narrow over its tool's output, and every mock
    // emits a line per input record: its non-empty partitions are the
    // tool's non-empty input partitions
    def nonEmpty(df: DataFrame): Int =
      df.rdd.mapPartitions(it => Iterator(if (it.hasNext) 1 else 0)).sum().toInt
    assert(spawns == Map("align" -> nonEmpty(res.aligned),
      "assemble" -> nonEmpty(res.contigs), "blastn" -> nonEmpty(res.contigs),
      "hmmsearch" -> nonEmpty(res.hmmHits)))
    assert(nonEmpty(res.contigs) > 1, "the fixture must spread the contigs")
  }

  test("contig ids agree across the Result frames, each read on its own") {
    val (r1, r2) = randomPairs(12)
    val res = ViraPipeline.run(spark, r1, r2,
      ViraPipeline.Config(k = 8, minc = 0, maxc = 1000, orfMinLen = 2))
    def ids(df: DataFrame): Set[String] =
      df.select("id").collect().map(_.getString(0)).toSet
    // read under other shuffle settings, a recomputed lineage would
    // partition the contigs differently and uuid() would draw other ids
    val contigs = ids(res.contigs)
    val (kept, orfIds) = withConf(spreadConf)((ids(res.filteredContigs), ids(res.orfs)))
    assert(kept.nonEmpty && orfIds.nonEmpty)
    assert(kept.subsetOf(contigs), s"kept $kept, contigs $contigs")
    assert(orfIds.subsetOf(kept), s"orfs $orfIds, kept $kept")
  }

  test("run assembles the minimum-key mate of each pair under any partitioning") {
    val (r1, r2) = randomPairs(12)
    val cfg = ViraPipeline.Config(k = 8, minc = 0, maxc = 1000, orfMinLen = 2)
    val plain = contigSeqs(ViraPipeline.run(spark, r1, r2, cfg))
    // mates reach the assembler's aggregate through a shuffled join and
    // in a different order: the kept read must not change
    val shuffled = withConf(spreadConf)(contigSeqs(ViraPipeline.run(spark,
      r1.repartition(3).sortWithinPartitions(col("key").desc),
      r2.repartition(2).sortWithinPartitions(col("key").desc), cfg)))
    assert(plain == shuffled)
    assert(plain == r1.select("sequence").collect().map(_.getString(0)).sorted.toSeq)
  }

  test("digitalNormalize drops reads whose k-mers are all outside the band") {
    import spark.implicits._
    // 'AAAA' k-mers appear 12 times (3 reads × 4 windows with k=4... the
    // point: with maxc=3 the repeated-sequence reads' only kmer is too
    // common, the distinct read survives via its unique kmers).
    val reads = Seq(
      ("r1", "AAAAAAA", "IIIIIII"),
      ("r2", "AAAAAAA", "IIIIIII"),
      ("r3", "AAAAAAA", "IIIIIII"),
      ("r4", "ACGTACG", "IIIIIII")
    ).toDF("key", "sequence", "quality")
    val out = ViraPipeline.digitalNormalize(reads, k = 4, minc = 0, maxc = 3)
      .select("key").collect().map(_.getString(0)).toSet
    // AAAA count = 12 (>maxc) → r1-r3 all dropped; r4's kmers count 1 → kept.
    assert(out == Set("r4"))
  }

  test("pipe stage handles empty partitions and large-ish streams") {
    import spark.implicits._
    val n = 5000
    val ds = spark.range(n).map(i => s"line_$i").repartition(8)
    val out = graft.pipe.PipeStage(Seq("cat")).run(ds)
    assert(out.count() == n)
  }

  test("pipe stage kills a tool whose consumer stops reading early") {
    import spark.implicits._
    def live(): Set[Long] = ProcessHandle.current().descendants()
      .filter(_.isAlive).map[Long](_.pid()).iterator().asScala.toSet
    val before = live()
    val ds = spark.range(10).map(i => s"line_$i").repartition(1)
    // `yes` never exits on its own: only the task-completion hook ends it
    val out = graft.pipe.PipeStage(Seq("sh", "-c", "yes")).run(ds).limit(1).collect()
    assert(out.toSeq == Seq("y"))
    val deadline = System.nanoTime() + 5000000000L
    while ((live() -- before).nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert((live() -- before).isEmpty, "tool processes outlived their task")
  }

  test("pipe stage drains stderr and fails the task on non-zero exit") {
    import spark.implicits._
    val ds = spark.range(100).map(i => s"line_$i").repartition(1)
    // Tool reads one line, logs to stderr, exits 3 — the stage must fail
    // (not silently truncate) and surface the stderr tail.
    val bad = graft.pipe.PipeStage(
      Seq("sh", "-c", "head -n 1 > /dev/null; echo boom >&2; exit 3"))
    val e = intercept[Exception] { bad.run(ds).collect() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val all = messages(e).mkString("\n")
    assert(all.contains("exited 3") && all.contains("boom"), all)
  }

  test("grouped assembly runs one process per sample: contig numbering restarts") {
    import spark.implicits._
    // 2 reads in sample sA, 1 in sB — per-group processes mean BOTH
    // samples produce a contig_1 (a per-partition pipe would number
    // straight through whenever groups share a partition).
    val reads = Seq(
      ("sA", "r1", seqA), ("sA", "r2", seqB), ("sB", "r3", seqA)
    ).toDF("sample", "id", "seq")
    val out = graft.pipe.Pipes
      .assembleMegahitGrouped(reads, "sample", "id", "seq")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(out.length == 3)
    val bySample = out.groupBy(_._1)
    assert(bySample("sA").map(_._2).sorted.toSeq == Seq("contig_1", "contig_2"))
    assert(bySample("sB").map(_._2).toSeq == Seq("contig_1"))
    // sequences pass through the mock assembler unchanged
    assert(out.map(_._3).sorted.toSeq == Seq(seqA, seqA, seqB).sorted.toSeq)
  }

  test("typed tool builders reproduce the reference default command lines") {
    import graft.pipe.Pipes
    // BlastN.java:69-82 defaults; blastn (non-megablast) long form :115
    assert(Pipes.blastnCmd(db = "/database/blast/nt") == Seq(
      "blastn", "-db", "/database/blast/nt", "-num_threads", "1",
      "-word_size", "11", "-gapopen", "0", "-gapextend", "2",
      "-penalty", "-1", "-reward", "1", "-max_target_seqs", "10",
      "-evalue", "0.001", "-outfmt", "6 std staxids"))
    // megablast short form (BlastN.java:113) at virapipe.sh thread count
    assert(Pipes.blastnCmd(db = "/database/blast/hg", task = "megablast",
      numThreads = 12) == Seq(
      "blastn", "-db", "/database/blast/hg", "-num_threads", "12",
      "-task", "megablast", "-word_size", "11", "-max_target_seqs", "10",
      "-evalue", "0.001", "-outfmt", "6 std staxids"))
    // Assemble.java:121 paired default; :74 single-end switch
    assert(Pipes.megahitCmd(outDir = "/tmp/mh") == Seq(
      "megahit", "-t1", "-m0.9", "--12", "/dev/stdin", "-o", "/tmp/mh"))
    assert(Pipes.megahitCmd(outDir = "/tmp/mh", single = true,
      threads = 10).take(4) == Seq("megahit", "-t10", "-m0.9", "-r"))
    // HMMSearch.java:95 shape
    assert(Pipes.hmmsearchCmd(db = "/database/hmmer/vFam-B_2014.hmm") == Seq(
      "hmmsearch", "--noali", "--cpu", "1", "-o", "/dev/null",
      "--tblout", "/dev/stdout", "/database/hmmer/vFam-B_2014.hmm",
      "/dev/stdin"))
  }

  test("assemblyStats: N50/L50 crossing and exact GC ppm on a hand-computed assembly") {
    import spark.implicits._
    // lengths 10,8,8,4,2 → total 32; desc cumulative 10,26 crosses half
    // (16) inside the len-8 class → N50=8; L50 = 1 + ceil((16-10)/8) = 2
    val contigs = Seq(
      "GGGGGCCCCC",  // len 10, gc 10
      "AAAATTGC",    // len 8, gc 2
      "GCGCGCGC",    // len 8, gc 8
      "ACGT",        // len 4, gc 2
      "AT"           // len 2, gc 0
    ).toDF("sequence")
    val r = graft.operators.ViraPipeline.assemblyStats(contigs, "sequence")
      .as[(Long, Long, Long, Long, Long, Long)].head()
    assert(r === ((5L, 32L, 10L, 8L, 2L, 22L * 1000000L / 32L)))
    // degenerate single-contig assembly: N50 = its length, L50 = 1
    val one = graft.operators.ViraPipeline.assemblyStats(
      Seq("ACGTACGT").toDF("sequence"), "sequence")
      .as[(Long, Long, Long, Long, Long, Long)].head()
    assert(one === ((1L, 8L, 8L, 8L, 1L, 500000L)))
  }

  test("pileup: CIGAR consumption classes land bases on the right positions") {
    import spark.implicits._
    // r1: plain 4M at 10      -> ACGT on 10..13
    // r2: 1S3M at 10          -> (skip a) CGT on 10..12, lowercase folds
    // r3: 2M2D2M at 10        -> AC on 10,11 then GT on 14,15
    // r4: 2M1I1M at 10        -> AC on 10,11, (G inserted), T on 12
    // r5: unmapped (*)        -> contributes nothing
    val aln = Seq(
      ("r1", "c0", 10L, "4M", "ACGT"),
      ("r2", "c0", 10L, "1S3M", "acgt"),
      ("r3", "c0", 10L, "2M2D2M", "ACGT"),
      ("r4", "c0", 10L, "2M1I1M", "ACGT"),
      ("r5", "*", 0L, "*", "ACGT")
    ).toDF("readName", "referenceName", "start", "cigar", "bases")
    val got = graft.operators.ViraPipeline.pileup(aln)
      .as[(String, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => (r._2, r)).toMap
    //           pos -> (depth, nA, nC, nG, nT)
    def row(p: Long) = { val r = got(p); (r._3, r._4, r._5, r._6, r._7) }
    assert(row(10L) === ((4L, 3L, 1L, 0L, 0L))) // A,C,A,A
    assert(row(11L) === ((4L, 0L, 3L, 1L, 0L))) // C,G,C,C
    assert(row(12L) === ((3L, 0L, 0L, 1L, 2L))) // G,T,T
    assert(row(13L) === ((1L, 0L, 0L, 0L, 1L))) // T
    assert(row(14L) === ((1L, 0L, 0L, 1L, 0L))) // r3's G after the deletion
    assert(row(15L) === ((1L, 0L, 0L, 0L, 1L))) // r3's T
    assert(got.size === 6)
  }

  test("consensusFromPileup: argmax, A<C<G<T tie-break, depth floor") {
    import spark.implicits._
    val pile = Seq(
      ("c0", 1L, 5L, 2L, 1L, 2L, 0L), // A/G tie -> A, support 2/5
      ("c0", 2L, 3L, 0L, 0L, 0L, 3L), // unanimous T
      ("c0", 3L, 1L, 1L, 0L, 0L, 0L), // depth 1 < minDepth 2 -> null
      ("c0", 4L, 2L, 0L, 0L, 0L, 0L)  // depth from non-ACGT only -> null
    ).toDF("referenceName", "pos", "depth", "n_a", "n_c", "n_g", "n_t")
    val got = graft.operators.ViraPipeline
      .consensusFromPileup(pile, minDepth = 2L)
      .as[(String, Long, Long, Option[String], Option[Long])]
      .collect().map(r => r._2 -> ((r._4, r._5))).toMap
    assert(got(1L) === ((Some("A"), Some(400000L))))
    assert(got(2L) === ((Some("T"), Some(1000000L))))
    assert(got(3L) === ((None, None)))
    assert(got(4L) === ((None, None)))
  }

  test("flagstat: bit tests match samtools' classic definitions") {
    import spark.implicits._
    val aln = Seq(
      99,   // paired, proper, mate-mapped, first -> everything paired
      77,   // paired, both unmapped, first
      141,  // paired, both unmapped, second
      0,    // unpaired mapped
      1024, // duplicate (mapped, unpaired)
      256,  // secondary
      2048, // supplementary
      73    // paired, mapped, MATE unmapped, first -> singleton
    ).map(f => (s"r$f", f)).toDF("readName", "flag")
    val r = graft.operators.ViraPipeline.flagstat(aln).collect().head
    def g(n: String) = r.getLong(r.fieldIndex(n))
    assert(g("total") === 8 && g("secondary") === 1 &&
      g("supplementary") === 1 && g("duplicates") === 1)
    assert(g("mapped") === 6, "all but the two flag-4 reads")
    assert(g("paired") === 4 && g("read1") === 3 && g("read2") === 1)
    assert(g("properly_paired") === 1)
    assert(g("both_mapped") === 1 && g("singletons") === 1)
  }

  test("markDuplicates: unclipped 5' ends, strand-aware, best-mapq keeper") {
    import spark.implicits._
    val aln = Seq(
      // fwd stack at unclipped pos 100: a (mapq 60) keeps, b (soft-clip
      // shifts 102 back to 100, mapq 50) dups, c ties d on mapq -> name
      ("a", 0, "c0", 100L, "4M", 60),
      ("b", 0, "c0", 102L, "2S4M", 50),
      // rev stack: ends at 100+5-1=104 and 102+3-1=104 -> same stack
      ("c", 16, "c0", 100L, "5M", 30),
      ("d", 16, "c0", 102L, "3M", 30),
      // same position but OPPOSITE strand of the fwd stack: no dup
      ("e", 16, "c0", 96L, "5M", 20),
      // unmapped: never marks
      ("f", 4, "*", 0L, "*", 0)
    ).toDF("readName", "flag", "referenceName", "start", "cigar", "mapq")
    val got = graft.operators.ViraPipeline.markDuplicates(aln)
      .as[(String, String, Long, Boolean, Boolean)]
      .collect().map(r => r._1 -> r._5).toMap
    assert(got === Map("a" -> false, "b" -> true,
      "c" -> false, "d" -> true, "e" -> false, "f" -> false), s"got $got")
  }

  test("mashSketch: bottom-s is exact under any partitioning") {
    import spark.implicits._
    val seqs = (1 to 40).map(i =>
      ("s" + (i % 2), ("ACGT" * 10).drop(i % 4) + "TTAACCGG"))
      .toDF("sample", "seq")
    def sketchOf(parts: Int): Map[String, Seq[Long]] =
      graft.operators.ViraPipeline
        .mashSketch(seqs.repartition(parts), "sample", "seq",
          k = 6, sketchSize = 10)
        .as[(String, Seq[Long])].collect().toMap
    val one = sketchOf(1)
    assert(sketchOf(7) === one && sketchOf(32) === one,
      "two-phase bottom-k must be partitioning-invariant")
    assert(one.values.forall(s => s == s.sorted && s.size <= 10))
  }

  test("mashDistance: identical samples at 0, disjoint at null") {
    import spark.implicits._
    val reads = Seq(
      ("a", "ACGTACGTACGT"), ("b", "ACGTACGTACGT"), // identical content
      ("c", "TTTTTTTTTTTT")                          // disjoint k-mers
    ).toDF("sample", "seq")
    val got = graft.operators.ViraPipeline
      .mashDistance(reads, "sample", "seq", k = 6, sketchSize = 16)
      .as[(String, String, Long, Long, Option[Double])]
      .collect().map(r => (r._1, r._2) -> r).toMap
    val ab = got(("a", "b"))
    assert(ab._3 === ab._4 && ab._5.contains(0.0), s"got $ab")
    assert(got(("a", "c"))._5.isEmpty, "disjoint sketches carry null")
  }

  test("trimAdapter: earliest match, partial suffix overlap, minOverlap gate") {
    import spark.implicits._
    val reads = Seq(
      (1L, "AAAAACGTTGCAGG", "IIIIIIIIIIIIII"), // full adapter at 4
      (2L, "TTTTACG", "IIIIIII"),               // 3-base suffix overlap
      (3L, "TTTTAC", "IIIIII"),                 // overlap 2 < 3: no trim
      (4L, "TTACGTTGCAXXACGTTGCA", "I" * 20),   // earliest (pos 2) wins
      (5L, "", "")
    ).toDF("id", "seq", "qual")
    val got = graft.operators.ViraPipeline
      .trimAdapter(reads, "id", "seq", "qual", "ACGTTGCA", 3)
      .collect().map(r => r.id -> r).toMap
    assert(got(1L).bases === "AAAA" && got(1L).trimmed_at.contains(4))
    assert(got(1L).quality === "IIII")
    assert(got(2L).bases === "TTTT" && got(2L).kept_len === 4)
    assert(got(3L).trimmed_at.isEmpty && got(3L).bases === "TTTTAC")
    assert(got(4L).trimmed_at.contains(2))
    assert(got(5L).trimmed_at.isEmpty && got(5L).kept_len === 0)
  }

  test("gcWindows: exact counts per step, short contigs yield nothing") {
    import spark.implicits._
    val contigs = Seq(("c1", "GGGGCCCCAAAATTTT"), ("c2", "ACG"))
      .toDF("id", "seq")
    val got = graft.operators.ViraPipeline
      .gcWindows(contigs, "id", "seq", window = 8, step = 4)
      .as[(String, Long, Long, Long)].collect().sortBy(_._2)
    assert(got.toSeq === Seq(
      ("c1", 0L, 8L, 1000000L),
      ("c1", 4L, 4L, 500000L),
      ("c1", 8L, 0L, 0L)))
  }

  test("qualityTrim: rolling integer window, boundary cut, short reads pass") {
    import spark.implicits._
    // 'I' = phred 40, '!' = phred 0, '(' = phred 7, '0' = phred 15
    val reads = Seq(
      (1L, "ACGTACGT", "IIII!!!!"), // w@3 {I,!,!,!}=40<60 -> cut 3
      (2L, "ACGTACGT", "IIII(((("), // w@4 {(x4}=28<60 -> cut 4
      (3L, "ACGTACGT", "00000000"), // exactly 15 mean: 60 !< 60 -> keep
      (4L, "ACG", "!!!"),           // shorter than the window: untouched
      (5L, "ACGTACGT", "!!!!IIII")  // fails at w@0 -> cut 0
    ).toDF("id", "seq", "qual")
    val got = graft.operators.ViraPipeline
      .qualityTrim(reads, "id", "seq", "qual", window = 4, minMeanQ = 15)
      .collect().map(r => r.id -> r).toMap
    assert(got(1L).trimmed_at.contains(3) && got(1L).bases === "ACG")
    assert(got(2L).trimmed_at.contains(4) && got(2L).quality === "IIII")
    assert(got(3L).trimmed_at.isEmpty && got(3L).kept_len === 8)
    assert(got(4L).trimmed_at.isEmpty && got(4L).bases === "ACG")
    assert(got(5L).trimmed_at.contains(0) && got(5L).kept_len === 0)
  }

  test("coverageSummary: breadth, total and exact milli-x mean per reference") {
    import spark.implicits._
    val pile = Seq(
      ("c0", 1L, 5L, 5L, 0L, 0L, 0L),
      ("c0", 2L, 4L, 0L, 4L, 0L, 0L),
      ("c0", 3L, 1L, 0L, 0L, 1L, 0L),
      ("c1", 9L, 2L, 0L, 0L, 0L, 2L)
    ).toDF("referenceName", "pos", "depth", "n_a", "n_c", "n_g", "n_t")
    val got = graft.operators.ViraPipeline.coverageSummary(pile)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("c0") === (("c0", 3L, 10L, 2L, 3333L)))
    assert(got("c1") === (("c1", 1L, 2L, 0L, 2000L)))
  }

  test("pileup: CIGAR/base-length disagreement errors loudly") {
    import spark.implicits._
    val bad = Seq(("r", "c0", 1L, "5M", "ACGT"))
      .toDF("readName", "referenceName", "start", "cigar", "bases")
    val e = intercept[org.apache.spark.SparkException] {
      graft.operators.ViraPipeline.pileup(bad).collect()
    }
    assert(e.getMessage.contains("CIGAR") ||
      Option(e.getCause).exists(_.getMessage.contains("CIGAR")))
  }
}
