package graft.io.v2

import java.util
import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import graft.io.{Fastq, HadoopConfCarrier}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The FASTQ and FASTA readers ([[graft.io.Fastq.read]] and
  * [[graft.io.Fasta.read]] are one call each to these sources), with
  * REAL column pruning (SURVEY.md §4.2's deferred item):
  * `SupportsPushDownRequiredColumns` reaches the byte scanner:
  * `select(sequence)` on FASTQ never materializes quality or name
  * strings (record framing still counts their bytes — FASTQ's 4-line
  * frame demands it — but no String/UTF8String is ever built), and
  * `select(id)` on FASTA skips the body lines entirely. At 100 TB of
  * reads, quality is half the bytes of the file; a pruned scan halves
  * the garbage the hot path allocates.
  *
  * Splitting is the FastqInputFormat model the reference rides
  * (SQLQueryFastq.java:69): parallel byte ranges, each task probes
  * forward to the first true record boundary (chain-validated), owns
  * records starting at offset ≤ range end, tail record reads past the
  * end. Compressed files are not byte-addressable → one partition per
  * file, codec-decoded.
  *
  * Scans are case classes: two scans of one relation compare equal, so
  * a plan that reads a frame twice reuses its exchanges. Each reports
  * its listed byte total as `sizeInBytes`, so join planning sees the
  * input's real size.
  *
  * Usage: `spark.read.format("fastq").load(path)` (registered via
  * DataSourceRegister) or the full class name.
  */
class FastqSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "fastq"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = Fastq.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new RangeTable("fastq", Fastq.schema, properties, FastqScan(_, _, _))
}

/** The files under the `path` option, read by one [[RangeScan]] pruned
  * to the required columns; the `splitBytes` option sets the range size.
  */
private[v2] class RangeTable(format: String, fullSchema: StructType,
                             properties: util.Map[String, String],
                             scan: (String, Option[Long], StructType) => Scan)
    extends Table with SupportsRead {
  private val path = properties.get("path")
  private val splitBytes = Option(properties.get("splitBytes")).map(_.toLong)
  require(path != null, s"the $format source needs .load(path)")
  override def name(): String = s"$format($path)"
  override def schema(): StructType = fullSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required = fullSchema
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan = scan(path, splitBytes, required)
    }
}

private[v2] case class RangePartition(path: String, start: Long, end: Long,
                                      compressed: Boolean) extends InputPartition

private[v2] object RangePlanner {
  private val codecExts = Seq(".gz", ".bz2", ".zst", ".snappy", ".deflate")

  def isCompressed(p: String): Boolean = {
    val l = p.toLowerCase
    codecExts.exists(l.endsWith)
  }

  /** Listed files → byte-range partitions; compressed files get one
    * whole-file partition (not byte-addressable).
    */
  def plan(files: Seq[(String, Long)], splitBytes: Long): Array[InputPartition] =
    files.flatMap { case (f, len) =>
      if (isCompressed(f)) Seq(RangePartition(f, 0L, Long.MaxValue, compressed = true))
      else (0L until len by splitBytes)
        .map(s => RangePartition(f, s, math.min(s + splitBytes, len), compressed = false))
    }.toArray[InputPartition]

  /** The listed byte total as the scan's size (compressed files count
    * their stored bytes); the row count is unknown before the scan.
    */
  def statistics(files: Seq[(String, Long)]): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong = OptionalLong.of(files.map(_._2).sum)
    override def numRows(): OptionalLong = OptionalLong.empty()
  }

  def open(conf: Configuration, part: RangePartition): java.io.InputStream = {
    val p = new Path(part.path)
    val fs = p.getFileSystem(conf)
    if (part.compressed) {
      val codec = new CompressionCodecFactory(conf).getCodec(p)
      if (codec != null) codec.createInputStream(fs.open(p)) else fs.open(p)
    } else {
      val in = fs.open(p)
      in.seek(part.start)
      in
    }
  }
}

/** Byte-level line scanner that tracks each line's start offset, first
  * byte, and length. Line bytes land in ONE reusable buffer; [[text]]
  * builds a String only on request — the mechanism that lets pruned
  * columns skip all per-record String/UTF8String allocation while
  * record framing still sees every line. Empty lines are skipped;
  * '\r' is stripped/uncounted.
  */
private[v2] final class PrunedLineScanner(in: java.io.InputStream, startOffset: Long) {
  private var offset = startOffset
  private val buf = new Array[Byte](1 << 16)
  private var bl = 0
  private var bp = 0
  private var lbuf = new Array[Byte](256)

  var lineStart: Long = -1L
  var lineFirst: Byte = 0
  var lineLen: Int = 0

  /** Current line's text — allocates; call only for required columns. */
  def text(): String =
    new String(lbuf, 0, lineLen, java.nio.charset.StandardCharsets.US_ASCII)

  /** Byte-level skip past the next '\n' (split-start discard — must NOT
    * be a logical readLine, which would swallow an owned line when the
    * split lands exactly on a newline).
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

  /** Advance to the next non-empty line; false at EOF. */
  def nextLine(): Boolean = {
    while (true) {
      val start = offset
      var len = 0
      var sawAny = false
      var done = false
      while (!done) {
        if (bp >= bl) {
          bl = in.read(buf); bp = 0
          if (bl <= 0) {
            if (!sawAny) return false
            done = true
          }
        }
        if (!done) {
          val c = buf(bp); bp += 1; offset += 1
          sawAny = true
          if (c == '\n') done = true
          else if (c != '\r') {
            if (len >= lbuf.length) lbuf = java.util.Arrays.copyOf(lbuf, lbuf.length * 2)
            lbuf(len) = c
            len += 1
          }
        }
      }
      if (len > 0) {
        lineStart = start; lineFirst = lbuf(0); lineLen = len
        return true
      }
      // empty line — keep scanning
    }
    false // unreachable
  }
}

/** The byte-range scan both formats share: listing (once per scan),
  * statistics, range planning and the reader factory. Split size
  * defaults to the session's `spark.sql.files.maxPartitionBytes` (what
  * every other source honors); the `splitBytes` option overrides it.
  * Implementations are case classes, so equal scans compare equal.
  */
private[v2] trait RangeScan extends Scan with Batch with SupportsReportStatistics {
  def path: String
  def splitBytes: Option[Long]
  def required: StructType
  protected def reader: RangeScan.Reader

  private lazy val files = Fastq.listFiles(SparkSession.active, path)

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def estimateStatistics(): Statistics = RangePlanner.statistics(files)
  override def planInputPartitions(): Array[InputPartition] =
    RangePlanner.plan(files, splitBytes.getOrElse(
      SparkSession.active.sessionState.conf.filesMaxPartitionBytes))
  override def createReaderFactory(): PartitionReaderFactory =
    new RangeReaderFactory(
      new HadoopConfCarrier(SparkSession.active.sparkContext.hadoopConfiguration),
      required.fieldNames, reader)
}

private[v2] object RangeScan {
  type Reader = (Configuration, RangePartition, Array[String]) => PartitionReader[InternalRow]
}

private[v2] class RangeReaderFactory(conf: HadoopConfCarrier, fields: Array[String],
                                     reader: RangeScan.Reader)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    reader(conf.toConf, p.asInstanceOf[RangePartition], fields)
}

private[v2] case class FastqScan(path: String, splitBytes: Option[Long], required: StructType)
    extends RangeScan {
  override def description(): String =
    s"GraftFastqScan path=$path ReadSchema: ${required.simpleString}"
  override protected def reader: RangeScan.Reader = new FastqPartitionReader(_, _, _)
}

/** Emits one InternalRow per owned FASTQ record, materializing only the
  * line strings the required columns reach: name iff any of the 11
  * header-derived columns is required, sequence/quality iff selected.
  */
private[v2] class FastqPartitionReader(conf: Configuration, part: RangePartition,
                                       fields: Array[String])
    extends PartitionReader[InternalRow] {
  private val needKey = fields.exists(f => f != "sequence" && f != "quality")
  private val needSeq = fields.contains("sequence")
  private val needQual = fields.contains("quality")

  private val in = RangePlanner.open(conf, part)
  private val sc = new PrunedLineScanner(in,
    if (part.compressed) 0L else part.start)
  if (!part.compressed && part.start != 0) sc.skipToNextNewline()

  // --- boundary probe (ranges starting mid-file only; a range at offset
  // 0 — every compressed partition among them — starts at record 1).
  // Probing needs the 4-line frame shape: '@' line, '+' two below,
  // |seq| == |qual|, chain-validated one record further so a quality
  // line starting with '@' cannot fake a boundary.
  // The probe's lookahead window extracts text per line-ROLE: once a
  // candidate boundary is fixed, line i%4 of the window is a name /
  // sequence / '+' / quality line, so pruned roles keep text=null even
  // inside the window.
  private case class L(start: Long, first: Byte, len: Int, text: String)
  private val ahead = scala.collection.mutable.ArrayDeque[L]()
  private var eof = false

  private def roleMat(role: Int): Boolean = role match {
    case 0 => needKey
    case 1 => needSeq
    case 3 => needQual
    case _ => false
  }

  /** Fill the lookahead to n lines. `baseRole` gives the record-role of
    * ahead(0) (0 = name line); -1 = unknown (probing), extract always.
    */
  private def fill(n: Int, baseRole: Int): Boolean = {
    while (ahead.length < n && !eof) {
      if (sc.nextLine()) {
        val mat = baseRole < 0 || roleMat((baseRole + ahead.length) % 4)
        ahead.append(L(sc.lineStart, sc.lineFirst, sc.lineLen,
          if (mat) sc.text() else null))
      } else eof = true
    }
    ahead.length >= n
  }

  private def validAt(i: Int): Boolean = {
    if (!fill(i + 4, -1)) return false
    val ok = ahead(i).first == '@' && ahead(i + 2).first == '+' &&
      ahead(i + 1).len == ahead(i + 3).len
    if (!ok) return false
    if (!fill(i + 8, -1)) return ahead.length - (i + 4) < 4
    ahead(i + 4).first == '@' && ahead(i + 6).first == '+' &&
      ahead(i + 5).len == ahead(i + 7).len
  }

  private var started = part.compressed || part.start == 0
  private def ensureStart(): Unit = {
    if (!started) {
      started = true
      var found = false
      while (!found && fill(1, -1) && ahead.head.start <= part.end) {
        if (validAt(0)) found = true else ahead.removeHead()
      }
      if (!found) ahead.clear()
    }
  }

  private var row: InternalRow = _

  override def next(): Boolean = {
    ensureStart()
    // steady state: ahead(0) is always a record's name line (role 0)
    if (!fill(4, 0) || ahead.head.start > part.end) { in.close(); return false }
    val name = ahead.removeHead()
    val seq = ahead.removeHead()
    ahead.removeHead() // '+' separator
    val qual = ahead.removeHead()
    row = buildRow(
      if (name.text != null) name.text.stripPrefix("@") else null,
      seq.text, qual.text)
    true
  }

  // graft.io.Fastq.project's parse + null semantics exactly (the
  // streaming FASTQ source projects through it): head = key.split(" ")(0)
  // → h = head.split(":"); t = second space token split on ":" (null
  // when absent); int casts null on non-numeric

  /** Int fields as `Fastq.project`'s SQL string→int `try_cast`: trimAll()
    * then UTF8String.toInt — whitespace-tolerant (" 5" parses), unlike a
    * bare Scala toIntOption.
    */
  private def castInt(s: String): Any = {
    val out = new UTF8String.IntWrapper
    if (UTF8String.fromString(s).trimAll().toInt(out)) Int.box(out.value) else null
  }

  private def buildRow(key: String, seq: String, qual: String): InternalRow = {
    var h: Array[String] = null
    var t: Array[String] = null
    if (needKey && key != null) {
      val sp = key.split(" ", -1)
      h = sp(0).split(":", -1)
      t = if (sp.length > 1) sp(1).split(":", -1) else null
    }
    def hs(i: Int): Any =
      if (h != null && i < h.length) UTF8String.fromString(h(i)) else null
    def hi(i: Int): Any =
      if (h != null && i < h.length) castInt(h(i)) else null
    def ts(i: Int): Any =
      if (t != null && i < t.length) UTF8String.fromString(t(i)) else null
    def ti(i: Int): Any =
      if (t != null && i < t.length) castInt(t(i)) else null
    val vals = fields.map {
      case "key"        => if (key != null) UTF8String.fromString(key) else null
      case "sequence"   => if (seq != null) UTF8String.fromString(seq) else null
      case "quality"    => if (qual != null) UTF8String.fromString(qual) else null
      case "read"       => ti(0)
      case "instrument" => hs(0)
      case "runNumber"  => hi(1)
      case "flowcellId" => hs(2)
      case "lane"       => hi(3)
      case "tile"       => hi(4)
      case "xpos"       => hi(5)
      case "ypos"       => hi(6)
      case "indexSequence" => ts(3)
      case "filterPassed" => t match {
        case null => null
        case arr if arr.length > 1 && arr(1) == "N" => true
        case arr if arr.length > 1 && arr(1) == "Y" => false
        case _ => null
      }
      case other => throw new IllegalArgumentException(s"unknown FASTQ column $other")
    }
    new GenericInternalRow(vals.asInstanceOf[Array[Any]])
  }

  override def get(): InternalRow = row
  override def close(): Unit = in.close()
}

/** DataSourceV2 FASTA reader: same provider shape as [[FastqSource]].
  * `select(id)` skips body-line String construction entirely — on a
  * contig/reference FASTA the body is ~99% of the bytes.
  */
class FastaSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "fasta"
  val schema: StructType = FastaSource.schema
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = schema
  override def getTable(s: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new RangeTable("fasta", schema, properties, FastaScan(_, _, _))
}

object FastaSource {
  val schema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("description", StringType),
    StructField("sequence", StringType)))
}

private[v2] case class FastaScan(path: String, splitBytes: Option[Long], required: StructType)
    extends RangeScan {
  override def description(): String =
    s"GraftFastaScan path=$path ReadSchema: ${required.simpleString}"
  override protected def reader: RangeScan.Reader = new FastaPartitionReader(_, _, _)
}

/** A record is a '>' header line plus body lines up to the next '>'.
  * Ownership: the range owning the header's start byte owns the record
  * (start ≤ end; the tail record's body reads past the range end —
  * identical to the FASTQ convention). `select(id)` never materializes
  * body lines; empty-id records are dropped (the F11 guard).
  */
private[v2] class FastaPartitionReader(conf: Configuration, part: RangePartition,
                                      fields: Array[String])
    extends PartitionReader[InternalRow] {
  private val needSeq = fields.contains("sequence")

  private val in = RangePlanner.open(conf, part)
  private val sc = new PrunedLineScanner(in,
    if (part.compressed) 0L else part.start)
  if (!part.compressed && part.start != 0) sc.skipToNextNewline()

  // advance to the first owned header line; header text is cheap ('>'
  // lines are short) and always extracted — body lines build a String
  // only when sequence is selected
  private var pendingHeader: String = null
  private var pendingStart: Long = -1L
  private var eof = false
  private def scanToHeader(): Unit = {
    pendingHeader = null
    while (pendingHeader == null && !eof) {
      if (!sc.nextLine()) eof = true
      else if (sc.lineFirst == '>') { pendingHeader = sc.text(); pendingStart = sc.lineStart }
    }
  }
  scanToHeader()

  private var row: InternalRow = _

  override def next(): Boolean = {
    while (true) {
      if (pendingHeader == null || pendingStart > part.end) { in.close(); return false }
      val header = pendingHeader.drop(1) // strip '>'
      val body = if (needSeq) new java.lang.StringBuilder() else null
      // consume body lines until the next header / EOF; a pruned scan
      // frames them (offset/first-byte bookkeeping) without allocating
      pendingHeader = null
      var done = false
      while (!done && !eof) {
        if (!sc.nextLine()) eof = true
        else if (sc.lineFirst == '>') {
          pendingHeader = sc.text(); pendingStart = sc.lineStart
          done = true
        } else if (needSeq) body.append(sc.text())
      }
      val id0 = header.split(" ", 2)
      val id = id0(0)
      if (id.nonEmpty) {
        val desc = if (id0.length > 1) id0(1) else ""
        val vals = fields.map {
          case "id"          => UTF8String.fromString(id): Any
          case "description" => UTF8String.fromString(desc): Any
          case "sequence"    =>
            (if (needSeq) UTF8String.fromString(body.toString) else null): Any
          case other => throw new IllegalArgumentException(s"unknown FASTA column $other")
        }
        row = new GenericInternalRow(vals.asInstanceOf[Array[Any]])
        return true
      }
      // empty id (dropped): loop to next record
    }
    false // unreachable
  }

  override def get(): InternalRow = row
  override def close(): Unit = in.close()
}
