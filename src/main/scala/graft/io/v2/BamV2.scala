package graft.io.v2

import java.util

import graft.io.{Bam, HadoopConfCarrier}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The BAM reader: [[graft.io.Bam.read]] and [[graft.io.Bam.readRegion]]
  * are this source plus derived columns. Completes the v2 family next
  * to [[FastqSource]] / [[FastaSource]].
  *
  * `spark.read.format("bam").load(path)` plans one task per BGZF byte
  * range from the file listing alone; each task reads its own file's
  * header (Bam.decodeSplit: block-boundary-safe split alignment).
  *
  * REGION PUSHDOWN through options — the DSv2 filter story for a
  * coordinate format: `.option("region", "chr1:500-900")` plans on the
  * driver, from the .bai chunks when every file has an index
  * (Bam.baiRegionPlan) and otherwise by the probe plan (Bam.regionPlan —
  * @HD SO policy + one-record probe per range). The readers get ONLY
  * the surviving ranges (the pruned ranges' BGZF blocks are never
  * inflated) and apply the residual overlap predicate per record, so
  * the scan's OUTPUT is exactly the region's records.
  * `.option("maxSpan", n)` is the probe plan's linear-index granularity
  * contract; `.option("splitBytes", n)` overrides the session's
  * maxPartitionBytes-derived split.
  *
  * Column pruning (SupportsPushDownRequiredColumns) prunes the emitted
  * row to the required fields. (The binary record decode itself still
  * parses every field — BAM's in-record layout demands walking all
  * lengths anyway; the FASTQ/FASTA sources' allocation-level pruning
  * has its analog here in the rows, not the decode.) The scan reports
  * its listed byte total as `sizeInBytes`, like the FASTQ/FASTA scans.
  */
class BamSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "bam"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = BamV2.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val region = Option(properties.get("region"))
    val maxSpan = Option(properties.get("maxSpan")).map(_.toInt)
    new RangeTable("bam", BamV2.schema, properties, BamScan(_, _, region, maxSpan, _))
  }
}

private[v2] object BamV2 {
  val schema: StructType = StructType(Seq(
    StructField("readName", StringType),
    StructField("flag", IntegerType, nullable = false),
    StructField("referenceName", StringType),
    StructField("start", IntegerType, nullable = false),
    StructField("mapq", IntegerType, nullable = false),
    StructField("cigar", StringType),
    StructField("bases", StringType),
    StructField("quality", StringType)))

  /** "rname:start-end" (1-based inclusive, SAM convention). */
  def parseRegion(r: String): (String, Int, Int) = {
    val m = "^(.+):(\\d+)-(\\d+)$".r.findFirstMatchIn(r).getOrElse(
      throw new IllegalArgumentException(
        s"region must be rname:start-end, got '$r'"))
    (m.group(1), m.group(2).toInt, m.group(3).toInt)
  }
}

/** One decodable byte range. `recordOff` is the exact in-block offset
  * of the first record when the range is an index chunk, else -1 (the
  * reader takes it from its file's header, or guesses mid-file).
  */
private[v2] case class BamPartition(path: String, start: Long, end: Long,
                                    recordOff: Int)
    extends InputPartition

/** A case class: two scans of one relation compare equal, so a plan
  * reading the same BAM twice reuses its exchanges.
  */
private[v2] case class BamScan(path: String, splitOpt: Option[Long],
                          region: Option[String], maxSpanOpt: Option[Int],
                          required: StructType)
    extends Scan with Batch with SupportsReportStatistics {
  private lazy val files = Bam.listBams(SparkSession.active, path)

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftBamScan path=$path region=${region.getOrElse("-")} " +
      s"ReadSchema: ${required.simpleString}"
  override def estimateStatistics(): Statistics = RangePlanner.statistics(files)

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val splitBytes = math.max(1L << 16,
      splitOpt.getOrElse(spark.sessionState.conf.filesMaxPartitionBytes))
    val parts = region.map(BamV2.parseRegion) match {
      case None =>
        files.flatMap { case (p, len) =>
          (0L until len by splitBytes).map(s =>
            BamPartition(p, s, math.min(s + splitBytes, len), -1))
        }
      case Some((rname, s, e)) =>
        Bam.baiRegionPlan(spark, path, rname, s, e) match {
          case Some((_, chunks)) =>
            chunks.map { case (p, st, en, off) => BamPartition(p, st, en, off) }
          case None =>
            Bam.regionPlan(spark, path, rname, s, e, splitBytes,
              maxSpanOpt.getOrElse(16384))._2
              .map { case (p, st, en) => BamPartition(p, st, en, -1) }
        }
    }
    parts.toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new BamReaderFactory(
      new HadoopConfCarrier(SparkSession.active.sparkContext.hadoopConfiguration),
      required.fieldNames,
      region.map(BamV2.parseRegion))
}

private[v2] class BamReaderFactory(conf: HadoopConfCarrier,
                                   fields: Array[String],
                                   region: Option[(String, Int, Int)])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new BamPartitionReader(conf.toConf, p.asInstanceOf[BamPartition],
      fields, region)
}

private[v2] class BamPartitionReader(conf: Configuration, part: BamPartition,
                                     fields: Array[String],
                                     region: Option[(String, Int, Int)])
    extends PartitionReader[InternalRow] {

  private val it: Iterator[Bam.Rec] =
    Bam.decodeSplit(conf, part.path, part.start, part.end, part.recordOff)

  // residual region predicate (the partition pruning is necessary, not
  // sufficient — surviving ranges still hold out-of-region records); a
  // cigar spanning 0 reference bases counts as 1
  private def inRegion(r: Bam.Rec): Boolean = region match {
    case None => true
    case Some((rname, s, e)) =>
      r._3 == rname && r._4 <= e &&
        r._4 + math.max(Bam.cigarRefSpan(r._6), 1) - 1 >= s
  }

  private var rec: Bam.Rec = _

  override def next(): Boolean = {
    while (it.hasNext) {
      val r = it.next()
      if (inRegion(r)) { rec = r; return true }
    }
    false
  }

  override def get(): InternalRow = {
    val vals = fields.map {
      case "readName" => if (rec._1 != null) UTF8String.fromString(rec._1) else null
      case "flag" => rec._2
      case "referenceName" =>
        if (rec._3 != null) UTF8String.fromString(rec._3) else null
      case "start" => rec._4
      case "mapq" => rec._5
      case "cigar" => if (rec._6 != null) UTF8String.fromString(rec._6) else null
      case "bases" => if (rec._7 != null) UTF8String.fromString(rec._7) else null
      case "quality" => if (rec._8 != null) UTF8String.fromString(rec._8) else null
      case other => throw new IllegalArgumentException(s"unknown BAM column $other")
    }
    new GenericInternalRow(vals.asInstanceOf[Array[Any]])
  }

  override def close(): Unit = Bam.closeEarly(it)
}
