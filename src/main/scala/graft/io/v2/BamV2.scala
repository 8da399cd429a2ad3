package graft.io.v2

import java.util

import graft.io.{Bam, HadoopConfCarrier}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 BAM source over the [[graft.io.Bam]] splittable/region
  * machinery — completes the v2 family next to [[FastqSource]] /
  * [[FastaSource]].
  *
  * `spark.read.format("bam").load(path)` plans one task per BGZF byte
  * range (block-boundary-safe split alignment, Bam.decodeRange).
  *
  * REGION PUSHDOWN through options — the DSv2 filter story for a
  * coordinate format: `.option("region", "chr1:500-900")` runs the
  * driver-side probe plan (Bam.regionPlan — @HD SO policy + one-record
  * probe per range), hands the readers ONLY the surviving ranges (the
  * pruned ranges' BGZF blocks are never inflated), and applies the
  * residual overlap predicate per record inside the reader — the scan's
  * OUTPUT is exactly the region's records, like Bam.readRegion.
  * `.option("maxSpan", n)` mirrors readRegion's linear-index granularity
  * contract; `.option("splitBytes", n)` overrides the session's
  * maxPartitionBytes-derived split.
  *
  * Column pruning (SupportsPushDownRequiredColumns) prunes the emitted
  * row to the required fields. (The binary record decode itself still
  * parses every field — BAM's in-record layout demands walking all
  * lengths anyway; the FASTQ/FASTA sources' allocation-level pruning
  * has its analog here in the rows, not the decode.)
  */
class BamSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "bam"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = BamV2.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new BamTable(properties.get("path"),
      Option(properties.get("splitBytes")).map(_.toLong),
      Option(properties.get("region")),
      Option(properties.get("maxSpan")).map(_.toInt))
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

  /** Reference span consumed by a CIGAR — [[Bam.cigarRefSpan]] ('*' or
    * all-clipped spans 0; the caller treats 0 as 1).
    */
  def refSpan(cigar: String): Int = Bam.cigarRefSpan(cigar)
}

private[v2] class BamTable(path: String, splitBytes: Option[Long],
                           region: Option[String], maxSpan: Option[Int])
    extends Table with SupportsRead {
  require(path != null, "BamSource needs .load(path)")
  override def name(): String = s"bam($path)"
  override def schema(): StructType = BamV2.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new BamScanBuilder(path, splitBytes, region, maxSpan)
}

private[v2] class BamScanBuilder(path: String, splitBytes: Option[Long],
                                 region: Option[String], maxSpan: Option[Int])
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = BamV2.schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan =
    BamScan(path, splitBytes, region, maxSpan, required)
}

/** One decodable byte range + the owning file's header meta (refs +
  * exact first-record position), shipped per partition so the
  * header-containing range never guesses.
  */
private[v2] case class BamPartition(path: String, start: Long, end: Long,
                                    refs: IndexedSeq[String],
                                    firstBlock: Long, firstOff: Int)
    extends InputPartition

/** A case class: two scans of one relation compare equal, so a plan
  * reading the same BAM twice reuses its exchanges.
  */
private[v2] case class BamScan(path: String, splitOpt: Option[Long],
                          region: Option[String], maxSpanOpt: Option[Int],
                          required: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftBamScan path=$path region=${region.getOrElse("-")} " +
      s"ReadSchema: ${required.simpleString}"

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val splitBytes = math.max(1L << 16,
      splitOpt.getOrElse(spark.sessionState.conf.filesMaxPartitionBytes))
    region match {
      case Some(r) =>
        val (rname, s, e) = BamV2.parseRegion(r)
        // .bai fast path first (same preference as Bam.readRegion):
        // chunk-derived ranges start at exact record virtual offsets
        Bam.baiRegionPlan(spark, path, rname, s, e) match {
          case Some((metas, ranges)) =>
            ranges.map { case (p, st, en, off) =>
              BamPartition(p, st, en, metas(p)._1, st, off)
            }.toArray[InputPartition]
          case None =>
            val (_, surviving, metas) = Bam.regionPlan(spark, path, rname, s, e,
              splitBytes, maxSpanOpt.getOrElse(16384))
            surviving.map { case (p, st, en) =>
              val (refs, fb, fo, _) = metas(p)
              BamPartition(p, st, en, refs, fb, fo)
            }.toArray[InputPartition]
        }
      case None =>
        val files = Bam.listBams(spark, path)
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        files.flatMap { case (p, len) =>
          val (refs, fb, fo, _) =
            Bam.readHeaderMeta(fs, new org.apache.hadoop.fs.Path(p))
          (0L until len by splitBytes).map(s =>
            BamPartition(p, s, math.min(s + splitBytes, len), refs, fb, fo))
        }.toArray[InputPartition]
    }
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

  private val it: Iterator[Bam.Rec] = Bam.decodeRange(conf, part.path,
    part.start, part.end, part.refs, part.firstBlock, part.firstOff)

  // residual region predicate (the partition pruning is necessary, not
  // sufficient — surviving ranges still hold out-of-region records)
  private def inRegion(r: Bam.Rec): Boolean = region match {
    case None => true
    case Some((rname, s, e)) =>
      r._3 == rname && r._4 <= e &&
        r._4 + math.max(BamV2.refSpan(r._6), 1) - 1 >= s
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
