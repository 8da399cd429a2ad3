package graft

import graft.pipe.Pipes
import org.scalatest.funsuite.AnyFunSuite

/** OPT-IN end-to-end smoke of the P1-P4 pipe operators against the
  * GENUINE binaries (`GRAFT_REAL_TOOLS=1` + the tool on PATH), closing
  * the one gap PipelineSpec's argv pins cannot: that the pinned command
  * lines actually run the real tools. Each test cancels (never fails)
  * when the opt-in flag is unset or a binary/companion tool is absent,
  * so the suite is green in tool-less CI and meaningful on a
  * bioinformatics host.
  *
  * Fixtures are built with each tool's own companion indexer
  * (makeblastdb / hmmbuild / bwa index) in a temp dir; sequences are
  * chosen so a hit/alignment is guaranteed (query == subject).
  */
class RealToolsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def optIn: Boolean = sys.env.get("GRAFT_REAL_TOOLS").contains("1")

  private def onPath(bin: String): Boolean =
    sys.env.getOrElse("PATH", "").split(':')
      .exists(p => new java.io.File(p, bin).canExecute)

  private def need(bins: String*): Unit = {
    assume(optIn, "set GRAFT_REAL_TOOLS=1 to run real-tool smoke tests")
    bins.foreach(b => assume(onPath(b), s"$b not on PATH — skipping"))
  }

  private def tmpDir(tag: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(s"graft_realtools_$tag")

  private def write(dir: java.nio.file.Path, name: String,
                    lines: Seq[String]): String = {
    val p = dir.resolve(name)
    java.nio.file.Files.write(p,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    p.toString
  }

  /** Run a companion indexer synchronously; fail loudly on non-zero. */
  private def sh(cwd: java.nio.file.Path, cmd: String*): Unit = {
    val pb = new ProcessBuilder(cmd: _*)
    pb.directory(cwd.toFile)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes, "UTF-8")
    assert(proc.waitFor() == 0, s"${cmd.mkString(" ")} failed:\n$out")
  }

  // 120 bp of deterministic mixed-base sequence — long enough for
  // default blastn/bwa seeding, short enough to stay a smoke test.
  private val RefSeq: String =
    ("ACGTTGCAAGGCTTACGGATCCTAGGACGTCCATGGAAGCTTGCGCGCAT" * 3).take(120)

  test("blastn: pinned argv runs the real tool against a makeblastdb index") {
    need("blastn", "makeblastdb")
    import spark.implicits._
    val dir = tmpDir("blastn")
    write(dir, "subject.fa", Seq(">subj1", RefSeq))
    sh(dir, "makeblastdb", "-in", "subject.fa", "-dbtype", "nucl",
      "-out", "subjdb")
    val query = Seq(">q1", RefSeq).toDS()
    val hits = Pipes.blastn(spark, query,
      cmd = Some(Pipes.blastnCmd(db = dir.resolve("subjdb").toString)))
      .collect()
    assert(hits.nonEmpty, "self-hit expected from identical query/subject")
    // the 13-column `6 std staxids` contract the TSV parser expects
    assert(hits.exists(_.split('\t').length >= 12), hits.take(3).mkString("\n"))
  }

  test("hmmsearch: pinned argv runs the real tool against an hmmbuild profile") {
    need("hmmsearch", "hmmbuild")
    import spark.implicits._
    val dir = tmpDir("hmmer")
    val protein = "MKTAYIAKQRQISFVKSHFSRQLEERLGLIEVQAPILSRVGDGTQDNLSGAEKAVQ"
    write(dir, "seed.fa", Seq(">seed1", protein))
    sh(dir, "hmmbuild", "--amino", "profile.hmm", "seed.fa")
    val queries = Seq(">p1", protein).toDS()
    val out = Pipes.hmmsearch(spark, queries,
      cmd = Some(Pipes.hmmsearchCmd(
        db = dir.resolve("profile.hmm").toString)))
      .collect()
    // tblout: comment lines plus one hit row naming the query id
    assert(out.exists(l => !l.startsWith("#") && l.contains("p1")),
      out.take(10).mkString("\n"))
  }

  test("megahit: pinned argv assembles overlapping reads into a contig") {
    need("megahit")
    import spark.implicits._
    val dir = tmpDir("megahit")
    val outDir = dir.resolve("mh_out").toString
    // single-end 80-mers tiling RefSeq with 40 bp overlap — enough for
    // a default-k assembly of one contig
    val reads = (0 to 40 by 10).flatMap { off =>
      Seq(s">r$off", RefSeq.slice(off, off + 80))
    }.toDS()
    Pipes.assembleMegahit(spark, reads,
      cmd = Some(Pipes.megahitCmd(outDir = outDir, single = true)))
      .collect() // stdout is the assembler log; contigs land in outDir
    val contigs = new java.io.File(outDir, "final.contigs.fa")
    assert(contigs.exists && contigs.length() > 0,
      s"no contigs at $contigs")
  }

  test("bwa: mem -p aligns interleaved FASTQ from stdin against an index") {
    need("bwa")
    import spark.implicits._
    val dir = tmpDir("bwa")
    val ref = write(dir, "ref.fa", Seq(">ref1", RefSeq))
    sh(dir, "bwa", "index", ref)
    val qual = "I" * 60
    val fastq = Seq(
      "@pair1/1", RefSeq.take(60), "+", qual,
      "@pair1/2", RefSeq.takeRight(60), "+", qual).toDS()
    val sam = Pipes.alignBwa(spark, fastq,
      cmd = Some(Seq("bwa", "mem", "-p", ref, "-"))).collect()
    val aligned = sam.filterNot(_.startsWith("@"))
      .map(_.split('\t')).filter(_.length >= 11)
    assert(aligned.nonEmpty, sam.take(5).mkString("\n"))
    assert(aligned.exists(f => f(2) == "ref1"),
      "at least one mate should map to the reference contig")
  }

  test("run: the eight-stage pipeline drives all four real tools through Config") {
    need("bwa", "megahit", "blastn", "makeblastdb", "hmmsearch", "hmmbuild")
    import spark.implicits._
    val dir = tmpDir("run")
    val rnd = new scala.util.Random(11)
    def dna(n: Int) = Seq.fill(n)("ACGT"(rnd.nextInt(4))).mkString
    val target = dna(200)
    // bwa indexes an unrelated decoy, so every pair stays unmapped
    // (flags 77/141) — the reads run() keeps for assembly
    val decoy = write(dir, "decoy.fa", Seq(">decoy", dna(500)))
    sh(dir, "bwa", "index", decoy)
    write(dir, "target.fa", Seq(">target", target))
    sh(dir, "makeblastdb", "-in", "target.fa", "-dbtype", "nucl", "-out", "targetdb")
    val protein = "MKTAYIAKQRQISFVKSHFSRQLEERLGLIEVQAPILSRVGDGTQDNLSGAEKAVQ"
    write(dir, "seed.fa", Seq(">seed1", protein))
    sh(dir, "hmmbuild", "--amino", "profile.hmm", "seed.fa")

    // 80 bp first mates tiling the target: run() assembles those
    val offsets = 0 to 120 by 20
    val qual = "I" * 80
    val r1 = offsets.map(o => (f"p$o%03d/1", target.slice(o, o + 80), qual))
      .toDF("key", "sequence", "quality")
    val r2 = offsets.map(o => (f"p$o%03d/2",
      graft.functions.Dna.reverseComplement(target.slice(o, o + 80)), qual))
      .toDF("key", "sequence", "quality")
    // megahit writes its contigs to a fresh output directory; the shell
    // sends its log to stderr and the contig FASTA to stdout
    val megahit = Pipes.megahitCmd(outDir = "$d", single = true).mkString(" ")
    val res = graft.operators.ViraPipeline.run(spark, r1, r2,
      graft.operators.ViraPipeline.Config(
        align = Some(Seq("bwa", "mem", "-p", decoy, "-")),
        assemble = Some(Seq("sh", "-c",
          s"""d="$$(mktemp -d)/mh"; $megahit --min-contig-len 100 >&2 && cat "$$d/final.contigs.fa"""")),
        blastn = Some(Pipes.blastnCmd(db = dir.resolve("targetdb").toString)),
        hmmsearch = Some(Pipes.hmmsearchCmd(db = dir.resolve("profile.hmm").toString))))

    assert(res.aligned.count() == 2 * offsets.size)
    val contigs = res.contigs.select("id").as[String].collect().toSet
    val kept = res.filteredContigs.select("id").as[String].collect().toSet
    assert(contigs.nonEmpty, "megahit should assemble the tiled mates")
    // the contigs are target subsequences: blastn self-hits keep them
    assert(kept.nonEmpty && kept.subsetOf(contigs), s"kept $kept, contigs $contigs")
    assert(res.orfs.select("id").as[String].collect().toSet.subsetOf(kept))
    res.hmmHits.collect() // tblout rows; the seed profile need not hit
  }
}
