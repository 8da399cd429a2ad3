package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** FASTQ source/sink (SURVEY.md S1/K1; reference reads via hadoop-bam's
  * FastqInputFormat at SQLQueryFastq.java:69 and writes via
  * FastqOutputFormat at SQLQueryFastq.java:105).
  *
  * Record = 4 lines: `@name`, bases, `+`, quality. The Illumina header
  * `instrument:run:flowcell:lane:tile:x:y read:filter:control:index` is
  * parsed into typed columns exactly like the reference's projection
  * (SQLQueryFastq.java:71-89).
  *
  * Splitting strategy: a FASTQ file cannot be split at an arbitrary byte
  * offset by LOCAL inspection of one line ('@' legally starts quality
  * lines), so
  *  - [[read]] keeps one task per file (`wholetext`) — zero-shuffle, and
  *    at cluster scale FASTQ corpora arrive as many files (the
  *    reference's own model: per-sample pairs), so per-file parallelism
  *    is the natural partitioning;
  *  - [[readSplittable]] handles the single-huge-file case with ZERO
  *    shuffles: parallel byte ranges, each task probing forward from its
  *    offset to the first true record boundary (a 4-line window whose
  *    lines 1/3 start with '@'/'+' and whose sequence and quality
  *    lengths agree, chain-validated one record further — the
  *    FastqInputFormat model the reference rides, SQLQueryFastq.java:69)
  *    and owning exactly the records that START in its range. Compressed
  *    inputs are not byte-addressable; they fall back to a line-scan
  *    with global numbering (one shuffle) — or arrive as many .gz files
  *    and never hit this path at all.
  */
object Fastq {

  val schema: StructType = StructType(Seq(
    StructField("key", StringType),
    StructField("sequence", StringType),
    StructField("quality", StringType),
    StructField("read", IntegerType),
    StructField("instrument", StringType),
    StructField("runNumber", IntegerType),
    StructField("flowcellId", StringType),
    StructField("lane", IntegerType),
    StructField("tile", IntegerType),
    StructField("xpos", IntegerType),
    StructField("ypos", IntegerType),
    StructField("indexSequence", StringType),
    StructField("filterPassed", BooleanType)))

  /** Project (key, sequence, quality) into the full typed Read schema by
    * parsing the Illumina header fields out of `key`. Works on batch AND
    * streaming frames (pure narrow expressions) — the streaming FASTQ
    * source ([[graft.streaming.GenomicStreams]]) shares it.
    *
    * Null-safe under ANSI mode: a missing field (`name/1` keys carry no
    * Illumina comment) or a non-integer one reads NULL instead of
    * throwing, the same rule as [[graft.io.v2.FastqSource]].
    */
  private[graft] def project(raw: DataFrame): DataFrame = {
    val parts = split(col("key"), " ")
    val h = split(get(parts, lit(0)), ":")
    val t = split(get(parts, lit(1)), ":")
    def hs(i: Int) = get(h, lit(i))
    def ts(i: Int) = get(t, lit(i))
    raw.select(
      col("key"),
      col("sequence"),
      col("quality"),
      ts(0).try_cast("int").as("read"),
      hs(0).as("instrument"),
      hs(1).try_cast("int").as("runNumber"),
      hs(2).as("flowcellId"),
      hs(3).try_cast("int").as("lane"),
      hs(4).try_cast("int").as("tile"),
      hs(5).try_cast("int").as("xpos"),
      hs(6).try_cast("int").as("ypos"),
      ts(3).as("indexSequence"),
      when(ts(1) === "N", true)
        .when(ts(1) === "Y", false)
        .otherwise(lit(null).cast("boolean")).as("filterPassed"))
  }

  /** One JVM String per file caps wholetext at 2 GiB and spikes task
    * memory; past this size [[read]] auto-routes to [[readSplittable]].
    */
  val WholetextMaxBytes: Long = 256L * 1024 * 1024

  /** Whole-file read: one task per file, records assembled by a single
    * linear pass over the file's lines (typed flatMap — per-file parsing
    * is inherently imperative, and a flatMap guarantees one O(n) pass;
    * an expression-tree formulation risks re-evaluating the whole-file
    * split inside a HOF lambda, which is quadratic).
    *
    * Auto-routing: if any input file exceeds [[WholetextMaxBytes]] the
    * read dispatches to [[readSplittable]] — wholetext holds each file
    * as ONE JVM String (2 GiB hard ceiling, per-task memory spike), so
    * big single files take the parallel line-scan path instead; callers
    * never have to know which is which.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    if (maxInputFileBytes(spark, path) > WholetextMaxBytes)
      return readSplittable(spark, path)
    val raw = spark.read.option("wholetext", "true").text(path).as[String]
    val records = raw.flatMap { content =>
      content.linesIterator.filter(_.nonEmpty).grouped(4).flatMap {
        case Seq(name, seq, _, qual) =>
          Some((name.stripPrefix("@"), seq, qual))
        case _ => None // trailing partial record
      }
    }.toDF("key", "sequence", "quality")
    project(records)
  }

  /** Largest single file under `path` (glob, dir, or file) — driver-side
    * listing only, no data read.
    */
  private def maxInputFileBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val top = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
    val files = top.flatMap { st =>
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filter(_.isFile)
      else Seq(st)
    }
    if (files.isEmpty) 0L else files.map(_.getLen).max
  }

  /** Splittable read for single huge files with NO shuffle: byte ranges
    * in parallel, each task probing to the first record boundary in its
    * range and decoding exactly the records that start there (Hadoop
    * line-ownership convention at the edges: a line starting exactly on
    * a boundary belongs to the left range; the left range reads past its
    * end to finish its tail record). Compressed files fall back to the
    * line-scan + global-numbering path (not byte-addressable).
    */
  def readSplittable(spark: SparkSession, path: String,
                     splitBytes: Long = 64L << 20): DataFrame = {
    import spark.implicits._
    val files = listFiles(spark, path)
    if (files.exists(f => Seq(".gz", ".bz2", ".zst", ".snappy", ".deflate")
        .exists(f._1.toLowerCase.endsWith)))
      return readSplittableCompressed(spark, path)
    val ranges = files.flatMap { case (p, len) =>
      (0L until len by splitBytes).map(s => (p, s, math.min(s + splitBytes, len)))
    }
    val confBc = spark.sparkContext.broadcast(
      new HadoopConfCarrier(spark.sparkContext.hadoopConfiguration))
    val raw = spark.sparkContext
      .parallelize(ranges, math.max(1, ranges.size))
      .flatMap { case (p, s, e) =>
        decodeFastqRange(confBc.value.toConf, p, s, e)
      }
      .toDF("key", "sequence", "quality")
    project(raw)
  }

  /** Fallback for compressed single files: parallel(ish) line scan +
    * global line numbering + one groupBy(line/4) shuffle.
    */
  private def readSplittableCompressed(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val lines = spark.sparkContext.textFile(path)
      .zipWithIndex()
      .map { case (l, i) => (i / 4, i % 4, l) }
      .toDF("rec", "pos", "line")
    val raw = lines.groupBy("rec").agg(
      max(when(col("pos") === 0, regexp_replace(col("line"), "^@", ""))).as("key"),
      max(when(col("pos") === 1, col("line"))).as("sequence"),
      max(when(col("pos") === 3, col("line"))).as("quality"))
    project(raw.select("key", "sequence", "quality"))
  }

  private[io] def listFiles(spark: SparkSession, path: String): Seq[(String, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val top = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
    top.flatMap { st =>
      if (st.isDirectory)
        fs.listStatus(st.getPath).toSeq
          .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
            !s.getPath.getName.startsWith("."))
      else Seq(st)
    }.filter(_.getLen > 0).map(s => (s.getPath.toString, s.getLen)).sortBy(_._1)
  }

  /** Byte-offset-tracking line reader (lines = '\n'-separated, trailing
    * '\r' stripped; FASTQ is ASCII).
    */
  private final class PosLineReader(in: java.io.InputStream, startOffset: Long) {
    private var offset = startOffset
    private val buf = new Array[Byte](1 << 16)
    private var bl = 0
    private var bp = 0

    /** Raw byte skip to just past the next '\n' — the split-start
      * discard MUST be byte-level: a logical readLine() here would skip
      * empty lines and silently swallow a full owned line whenever the
      * split lands exactly on a newline.
      */
    def skipToNextNewline(): Unit = {
      var done = false
      while (!done) {
        if (bp >= bl) {
          bl = in.read(buf); bp = 0
          if (bl <= 0) return
        }
        val c = buf(bp); bp += 1; offset += 1
        if (c == '\n') done = true
      }
    }
    /** (startOffsetOfLine, text) or null at EOF. Skips empty lines the
      * same way [[read]]'s wholetext parser does.
      */
    def readLine(): (Long, String) = {
      while (true) {
        val start = offset
        val sb = new java.lang.StringBuilder(128)
        var done = false
        var sawAny = false
        while (!done) {
          if (bp >= bl) {
            bl = in.read(buf); bp = 0
            if (bl <= 0) {
              if (!sawAny) return null
              done = true
            }
          }
          if (!done) {
            val c = buf(bp); bp += 1; offset += 1
            sawAny = true
            if (c == '\n') done = true
            else if (c != '\r') sb.append(c.toChar)
          }
        }
        if (sb.length > 0) return (start, sb.toString)
        // else: empty line — loop for the next one
      }
      null // unreachable
    }
  }

  /** Decode the FASTQ records of one byte range [s, e): probe to the
    * first record start, then emit 4-line records while the record's
    * first line starts at offset ≤ e (tail record may read past e).
    */
  private def decodeFastqRange(conf: org.apache.hadoop.conf.Configuration,
                               pathStr: String, s: Long, e: Long)
      : Iterator[(String, String, String)] = {
    val p = new org.apache.hadoop.fs.Path(pathStr)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    in.seek(s)
    val lr = new PosLineReader(new java.io.BufferedInputStream(in, 1 << 16), s)
    if (s != 0) lr.skipToNextNewline() // partial line — left range owns it

    // Sliding lookahead of lines for boundary probing and record pulls.
    val ahead = scala.collection.mutable.ArrayDeque[(Long, String)]()
    var eof = false
    def fill(n: Int): Boolean = {
      while (ahead.length < n && !eof) {
        val l = lr.readLine()
        if (l == null) eof = true else ahead.append(l)
      }
      ahead.length >= n
    }
    // A record starts at lookahead index i iff @-line, +-line two below,
    // and |sequence| == |quality|; chain-validate the NEXT record too
    // (or accept clean EOF) so a quality line starting with '@' cannot
    // fake a boundary.
    def validAt(i: Int): Boolean = {
      if (!fill(i + 4)) return false
      val ok = ahead(i)._2.startsWith("@") && ahead(i + 2)._2.startsWith("+") &&
        ahead(i + 1)._2.length == ahead(i + 3)._2.length
      if (!ok) return false
      // EOF before a full next record: accept if what's left cannot form
      // one (≤3 trailing lines — the same partial-tail read() drops).
      if (!fill(i + 8)) return ahead.length - (i + 4) < 4
      ahead(i + 4)._2.startsWith("@") && ahead(i + 6)._2.startsWith("+") &&
        ahead(i + 5)._2.length == ahead(i + 7)._2.length
    }
    var found = false
    while (!found && fill(1) && ahead.head._1 <= e) {
      if (validAt(0)) found = true
      else ahead.removeHead()
    }

    new Iterator[(String, String, String)] {
      private var closed = !found
      if (closed) in.close()
      override def hasNext: Boolean = {
        if (closed) return false
        val more = fill(4) && ahead.head._1 <= e
        if (!more && !closed) { closed = true; in.close() }
        more
      }
      override def next(): (String, String, String) = {
        val (_, name) = ahead.removeHead()
        val (_, seq) = ahead.removeHead()
        ahead.removeHead() // '+' separator
        val (_, qual) = ahead.removeHead()
        (name.stripPrefix("@"), seq, qual)
      }
    }
  }

  /** FASTQ sink: 4-line text records (K1). Unlike the reference's writer
    * (which replaces every read name with the literal string "key",
    * SQLQueryFastq.java:115-125 — SURVEY.md §7.4 quirk T4), real names
    * are preserved.
    */
  def write(df: DataFrame, path: String, compression: Option[String] = None): Unit = {
    val w = df.select(concat(
      lit("@"), col("key"), lit("\n"),
      col("sequence"), lit("\n+\n"),
      col("quality")).as("value"))
      .write.mode("overwrite")
    compression.fold(w)(c => w.option("compression", c)).text(path)
  }
}
