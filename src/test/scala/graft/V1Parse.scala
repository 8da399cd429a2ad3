package graft

import graft.io.{Bam, Fastq}
import org.apache.spark.sql.SparkSession

/** The v1 parse rules over a fixture — the in-test oracles the
  * byte-range FASTQ, FASTA and BAM readers are checked against,
  * whatever the split size.
  *
  *  - FASTQ: drop empty lines, group by 4 (a partial tail record is
  *    dropped), strip the '@', then [[Fastq.project]] for the 13 typed
  *    columns.
  *  - FASTA: split on '>'; the first line is the header (id before the
  *    first space, the rest is the description), the other lines join
  *    into the sequence; records with an empty id are dropped.
  *  - BAM: each file decoded whole by [[Bam.parseBam]], in path order;
  *    a region keeps the records whose bases overlap it.
  */
object V1Parse {

  /** FASTQ rows in file order, each as `Row.toSeq`. */
  def fastq(spark: SparkSession, text: String): Seq[Seq[Any]] = {
    import spark.implicits._
    val records = text.linesIterator.filter(_.nonEmpty).grouped(4).collect {
      case Seq(name, seq, _, qual) => (name.stripPrefix("@"), seq, qual)
    }.toSeq
    Fastq.project(records.toDF("key", "sequence", "quality"))
      .collect().map(_.toSeq).toSeq
  }

  /** FASTA rows (id, description, sequence) in file order. */
  def fasta(text: String): Seq[Seq[Any]] =
    text.split('>').toSeq.flatMap { record =>
      val lines = record.linesIterator.toSeq
      val header = lines.headOption.getOrElse("").split(" ", 2)
      val id = header(0)
      if (id.isEmpty) None
      else Some(Seq(id, if (header.length > 1) header(1) else "", lines.drop(1).mkString))
    }

  /** BAM records of the one file at `path`, or of every `.bam` in the
    * directory at `path`, in path order.
    */
  def bam(path: String): Seq[Bam.Rec] = {
    val f = new java.io.File(path)
    val files =
      if (f.isDirectory) f.listFiles().filter(_.getName.endsWith(".bam")).sortBy(_.getPath).toSeq
      else Seq(f)
    files.flatMap(x => Bam.parseBam(java.nio.file.Files.readAllBytes(x.toPath)))
  }

  /** The records on `rname` whose bases overlap `[lo, hi]` (1-based). */
  def bamRegion(recs: Seq[Bam.Rec], rname: String, lo: Int, hi: Int): Seq[Bam.Rec] =
    recs.filter(r => r._3 == rname && r._4 <= hi && r._4 + r._7.length - 1 >= lo)
}
