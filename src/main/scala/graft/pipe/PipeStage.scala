package graft.pipe

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import java.io.{BufferedReader, BufferedWriter, InputStreamReader, OutputStreamWriter}
import java.nio.charset.StandardCharsets

/** External-tool pipe operator (SURVEY.md §2.10, P1-P4): stream a
  * partition's records through a forked process, yield its stdout lines.
  *
  * This is the reference's signature pattern (BWA via JNI at
  * AlignInterleaved.java:67-140; MegaHit/blastn/hmmsearch via
  * ProcessBuilder at Assemble.java:106-177, BlastN.java:104-145,
  * HMMSearch.java:82-163), re-expressed as `Dataset[String] ⇒
  * Dataset[String]` so any record stream can flow through any
  * line-oriented tool. The binary is injected, so tests run with
  * coreutils stand-ins and production runs the real tools.
  *
  * Scale notes:
  *  - one process per PARTITION, not per record — process spawn and tool
  *    index loading amortize exactly like the reference's mapPartitions;
  *  - stdin is fed from a separate thread while stdout is drained on the
  *    task thread, and stderr is drained by a third thread (real tools —
  *    BWA, MegaHit — write verbose progress to stderr; an undrained
  *    stderr pipe fills its OS buffer and deadlocks the child): no
  *    pipe-buffer deadlock on large partitions, and records stream
  *    through without materializing the partition;
  *  - after stdout is exhausted the exit code is checked — a non-zero
  *    exit fails the task (with the stderr tail in the message) instead
  *    of silently truncating output;
  *  - partition count = process parallelism; callers `repartition(n)`
  *    first to match the cluster's process budget (the reference's
  *    `-partitions 100` before blastn, virapipe.sh:24).
  */
final case class PipeStage(cmd: Seq[String]) {

  def run(input: Dataset[String]): Dataset[String] = {
    import input.sparkSession.implicits._
    val command = cmd
    input.mapPartitions(records => PipeStage.pipeIterator(command, records))
  }
}

object PipeStage {

  /** Executor-side core of the pipe operator: fork `command`, feed
    * `records` line-by-line from a writer thread, stream stdout back,
    * drain stderr, and fail (never truncate) on a non-zero exit. A
    * child still alive when its task completes (a consumer stopped
    * reading early, or the task failed) is killed with its descendants,
    * so no tool outlives its task. Shared
    * by the per-PARTITION path ([[PipeStage.run]]) and the per-GROUP
    * path ([[Pipes.assembleMegahitGrouped]] — one process per
    * `groupByKey` group, the reference's per-sample assembly shape).
    */
  def pipeIterator(command: Seq[String], records: Iterator[String]): Iterator[String] = {
    if (records.isEmpty) Iterator.empty
    else {
      val pb = new ProcessBuilder(command: _*)
      pb.redirectErrorStream(false)
      val proc = pb.start()
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { _ =>
        if (proc.isAlive) {
          // descendants first: once the child dies they are re-parented
          // and no longer reachable from it
          proc.descendants().forEach(d => d.destroyForcibly())
          proc.destroyForcibly()
        }
      })

      // Kill switch for the writer: once the child has exited there is
      // no point feeding more stdin, and the writer must stop touching
      // `records` BEFORE this iterator is released (in the per-group
      // path `records` is Spark's shared grouped-row iterator — a
      // still-running writer would race the framework's advance to the
      // next group). The flag stops the writer at the next record
      // boundary; the unbounded join below then guarantees it is done.
      val stopFeeding = new java.util.concurrent.atomic.AtomicBoolean(false)
      val writer = new Thread(() => {
        val w = new BufferedWriter(new OutputStreamWriter(
          proc.getOutputStream, StandardCharsets.UTF_8))
        // A child may legally exit before draining stdin (head-like
        // tools): the resulting broken-pipe IOException just means
        // "stop feeding" — it must terminate this thread promptly, not
        // propagate (the exit-code check below decides success).
        try {
          while (!stopFeeding.get() && records.hasNext) {
            val r = records.next()
            w.write(r); w.newLine()
          }
        }
        catch { case _: java.io.IOException => () }
        finally {
          try w.close() catch { case _: java.io.IOException => () }
        }
      })
      writer.setDaemon(true)
      writer.start()

      // Drain stderr concurrently (tools log progress there; an
      // undrained pipe deadlocks the child) keeping only a tail for
      // the failure message.
      val errTail = new java.util.concurrent.atomic.AtomicReference[String]("")
      val errDrainer = new Thread(() => {
        val e = new BufferedReader(new InputStreamReader(
          proc.getErrorStream, StandardCharsets.UTF_8))
        val tail = new scala.collection.mutable.ArrayDeque[String]()
        var line = e.readLine()
        while (line != null) {
          tail.append(line)
          if (tail.length > 20) tail.removeHead()
          line = e.readLine()
        }
        errTail.set(tail.mkString("\n"))
      })
      errDrainer.setDaemon(true)
      errDrainer.start()

      val out = new BufferedReader(new InputStreamReader(
        proc.getInputStream, StandardCharsets.UTF_8))
      // After stdout EOF, join the drainers and fail the task on a
      // non-zero exit — a crashed tool must not pass off truncated
      // stdout as a complete result.
      Iterator.continually(out.readLine()).takeWhile(_ != null) ++
        new Iterator[String] {
          override def hasNext: Boolean = {
            val code = proc.waitFor()
            // Stop the writer at its next record boundary and WAIT for
            // it (unbounded: if it is blocked inside records.next() on
            // a slow upstream, correctness requires waiting it out —
            // releasing the shared grouped-row iterator while another
            // thread still reads it would corrupt the next group).
            stopFeeding.set(true)
            writer.join()
            errDrainer.join(10000)
            if (code != 0) throw new IllegalStateException(
              s"pipe command '${command.mkString(" ")}' exited $code; " +
                s"stderr tail:\n${errTail.get()}")
            false
          }
          override def next(): String = throw new NoSuchElementException
        }
    }
  }
}

/** Domain pipe wrappers with the reference tools' I/O contracts; every
  * command is injectable (mock with coreutils in tests, real binaries in
  * production).
  */
object Pipes {

  /** The default commands: deterministic awk stand-ins for the four
    * tools, each honouring its tool's line contract (see the wrappers)
    * and its framing: the assembler logs progress to stderr, and
    * hmmsearch frames its `--tblout` rows with `#` header and footer
    * lines, so the stderr drainer and the tblout comment filter run on
    * every default pipeline. (`> "/dev/stderr"` is awk's own special
    * file in mawk and gawk: no extra process per spawn.)
    */
  private[graft] val AlignMock: Seq[String] = Seq("awk",
    "NR % 4 == 1 { name = substr($1, 2) } " +
      "NR % 4 == 2 { seq = $0 } " +
      "NR % 4 == 0 { flag = (name ~ /\\/1$/) ? 77 : 141; sub(/\\/[12]$/, \"\", name); " +
      "print name \"\\t\" flag \"\\t*\\t0\\t0\\t*\\t*\\t0\\t0\\t\" seq \"\\t\" $0 }")
  private[graft] val AssembleMock: Seq[String] = Seq("awk",
    """BEGIN { print "MEGAHIT mock: assembling reads from stdin" > "/dev/stderr" } """ +
      """/^>/ { n += 1; print ">contig_" n; next } { print }""")
  private[graft] val BlastnMock: Seq[String] = Seq("awk",
    "/^>/ { id = substr($1, 2); next } " +
      "{ print id \"\\tSUBJ\\t\" (50 + length($0) % 50) \".0\\t\" length($0) " +
      "\"\\t0\\t0\\t1\\t\" length($0) \"\\t1\\t\" length($0) \"\\t0.001\\t100.0\\t\" " +
      "(length($0) % 7) }")
  private[graft] val HmmsearchMock: Seq[String] = Seq("awk",
    "BEGIN { print \"#                                          --- full sequence ----\"; " +
      "print \"# target name  accession  query name  accession  E-value  score  bias\"; " +
      "print \"#------------ ---------- ----------- ---------- -------- ------ -----\" } " +
      "/^>/ { id = substr($1, 2); next } " +
      "{ print id \" - vFam_mock - 1e-5 \" length($0) \" 0.0\" } " +
      "END { print \"#\"; print \"# Program:         hmmsearch\"; " +
      "print \"# Pipeline mode:   SEARCH\"; print \"# [ok]\" }")

  /** Typed argv builder for REAL blastn, reproducing the reference's
    * command line and defaults verbatim (BlastN.java:69-82 builds
    * `-word_size 11 -gapopen 0 -gapextend 2 -penalty -1 -reward 1
    * -max_target_seqs 10 -evalue 0.001`, task `megablast` switching to
    * the shorter form at BlastN.java:112-115; virapipe.sh:21-25 runs it
    * with `-num_threads 12`). `outfmt` defaults to the 13-column
    * `6 std staxids` contract [[blastn]]'s parser expects. Pass the
    * result as `cmd = Some(...)` to [[blastn]] to drive the real tool.
    */
  def blastnCmd(db: String, task: String = "blastn", bin: String = "blastn",
                numThreads: Int = 1, wordSize: Int = 11, gapOpen: Int = 0,
                gapExtend: Int = 2, penalty: Int = -1, reward: Int = 1,
                maxTargetSeqs: Int = 10, evalue: Double = 0.001,
                showGis: Boolean = false,
                outfmt: String = "6 std staxids"): Seq[String] = {
    val base = Seq(bin, "-db", db, "-num_threads", numThreads.toString)
    val mid =
      if (task.equalsIgnoreCase("megablast"))
        Seq("-task", "megablast", "-word_size", wordSize.toString)
      else
        Seq("-word_size", wordSize.toString, "-gapopen", gapOpen.toString,
          "-gapextend", gapExtend.toString, "-penalty", penalty.toString,
          "-reward", reward.toString)
    base ++ mid ++
      Seq("-max_target_seqs", maxTargetSeqs.toString, "-evalue", evalue.toString) ++
      (if (showGis) Seq("-show_gis") else Nil) ++
      Seq("-outfmt", outfmt)
  }

  /** Typed argv builder for REAL MegaHit (Assemble.java:121 builds
    * `megahit -t<t> -m<m> --12 /dev/stdin -o <dir>`; `-r` replaces
    * `--12` for single-end, Assemble.java:74; defaults t=1, m=0.9,
    * Assemble.java:77-78).
    */
  def megahitCmd(outDir: String = "/tmp/megahit_out", threads: Int = 1,
                 memFraction: Double = 0.9, single: Boolean = false,
                 bin: String = "megahit"): Seq[String] =
    Seq(bin, s"-t$threads", s"-m$memFraction",
      if (single) "-r" else "--12", "/dev/stdin", "-o", outDir)

  /** Typed argv builder for REAL hmmsearch (HMMSearch.java:95 builds
    * `hmmsearch --noali --cpu <t> -o <out> --tblout <table> <db>
    * /dev/stdin`; default t=1, HMMSearch.java:64).
    */
  def hmmsearchCmd(db: String, out: String = "/dev/null",
                   tblout: String = "/dev/stdout", cpu: Int = 1,
                   noali: Boolean = true,
                   bin: String = "hmmsearch"): Seq[String] =
    Seq(bin) ++ (if (noali) Seq("--noali") else Nil) ++
      Seq("--cpu", cpu.toString, "-o", out, "--tblout", tblout, db, "/dev/stdin")

  /** P1 `align_bwa`: interleaved FASTQ lines in → SAM lines out
    * (AlignInterleavedMulti.java:73-150). Default command is a
    * deterministic mock: each 4-line record becomes one SAM line, flag
    * 77 for `/1` mates and 141 for `/2` (the both-unmapped pair flags
    * the reference keeps).
    */
  def alignBwa(spark: SparkSession, interleavedFastq: Dataset[String],
               cmd: Option[Seq[String]] = None): Dataset[String] = {
    PipeStage(cmd.getOrElse(AlignMock)).run(interleavedFastq)
  }

  /** P2 `assemble_megahit`: FASTA reads in → contig FASTA out
    * (Assemble.java:106-177). Mock: pass-through renaming headers to
    * `>contig_<n>` like an assembler's own numbering, with one progress
    * line on stderr.
    */
  def assembleMegahit(spark: SparkSession, fasta: Dataset[String],
                      cmd: Option[Seq[String]] = None): Dataset[String] = {
    PipeStage(cmd.getOrElse(AssembleMock)).run(fasta)
  }

  /** P2 at the reference's actual granularity: one assembler process
    * per SAMPLE group, not per partition (Assemble.java:106-177 runs
    * megahit once per grouped read set and re-ingests that run's contig
    * FASTA under the group's sample id). `reads(sampleCol, idCol,
    * seqCol)` → (sample, contig_id, sequence): each group's reads are
    * serialized to FASTA lines, streamed through its own forked process
    * ([[PipeStage.pipeIterator]] — stdin fed from a writer thread,
    * non-zero exit fails the task), and the emitted contig FASTA is
    * parsed back with the group's sample attached.
    *
    * Scale shape: the `groupByKey` is ONE shuffle on the sample key —
    * the same co-location the reference's `groupBy(sampleId)` pays —
    * and groups stream through the child process without materializing
    * (contig numbering is per-process, so downstream stats should be
    * order-independent: counts, length sums, sequence-set digests).
    * Skewed samples are the caller's to salt/split upstream.
    */
  def assembleMegahitGrouped(reads: DataFrame, sampleCol: String,
                             idCol: String, seqCol: String,
                             cmd: Option[Seq[String]] = None): DataFrame = {
    val spark = reads.sparkSession
    import spark.implicits._
    val command = cmd.getOrElse(AssembleMock)
    reads
      .select(col(sampleCol).cast("string"), col(idCol).cast("string"),
        col(seqCol).cast("string"))
      .as[(String, String, String)]
      .groupByKey(_._1)
      .flatMapGroups { (sample, group) =>
        val fastaLines = group.flatMap { case (_, id, seq) =>
          Iterator(s">$id", seq)
        }
        // one-line bodies in, header/body alternation out
        var header: String = null
        PipeStage.pipeIterator(command, fastaLines).flatMap { line =>
          if (line.startsWith(">")) { header = line.substring(1); Iterator.empty }
          else Iterator((sample, header, line))
        }
      }
      .toDF("sample", "contig_id", "sequence")
  }

  /** P3 `blastn`: FASTA in → outfmt-6 TSV out (BlastN.java:104-145),
    * with a 13th staxid column (`-outfmt '6 std staxids'` — the taxonomy
    * the reference filters on, BlastN.java:147-152). Mock: one hit per
    * record, pident and staxid derived from sequence length.
    */
  def blastn(spark: SparkSession, fasta: Dataset[String],
             cmd: Option[Seq[String]] = None): Dataset[String] = {
    PipeStage(cmd.getOrElse(BlastnMock)).run(fasta)
  }

  /** P4 `hmmsearch`: protein FASTA in → tblout-style lines out
    * (HMMSearch.java:82-163). Mock: one domain hit per sequence,
    * between tblout-style `#` header and footer lines.
    */
  def hmmsearch(spark: SparkSession, proteinFasta: Dataset[String],
                cmd: Option[Seq[String]] = None): Dataset[String] = {
    PipeStage(cmd.getOrElse(HmmsearchMock)).run(proteinFasta)
  }
}
