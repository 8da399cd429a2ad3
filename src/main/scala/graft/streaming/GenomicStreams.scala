package graft.streaming

import graft.io.Fastq
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Streaming twin of the GENOMIC ingest path — the same batch/stream
  * parity contract the events (q86-q88) and documents (q88) paths
  * carry, for FASTQ: reads arrive as files (a sequencer run directory,
  * an upload bucket) and flow through the identical parse + projection
  * the batch reader uses.
  *
  * Source shape: the `binaryFile` file-stream source — FILES are the
  * atomic micro-batch unit, so FASTQ's 4-line record frame can never
  * straddle a batch boundary (the property a line-level stream source
  * would violate); each file parses whole (non-empty lines, grouped 4,
  * trailing partial dropped — the batch reader's framing for a range
  * that starts at offset 0) and projects through [[Fastq.project]], the
  * header parse the batch reader mirrors. Each file is held whole in
  * one task; sequencer-run files at the 100 TB tier arrive as MANY
  * files, which is exactly the unit this source parallelizes over.
  */
object GenomicStreams {

  /** binaryFile's fixed schema (file sources need an explicit schema
    * under streaming — no inference pass on a stream).
    */
  private val BinaryFileSchema = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  /** Streaming FASTQ records (full typed Read schema) from a directory
    * of FASTQ files; `glob` filters which files count (the text sink
    * writes part-*.txt + _SUCCESS markers — the default glob admits
    * exactly the part files).
    */
  def readFastqStream(spark: SparkSession, path: String,
                      glob: String = "part-*"): DataFrame = {
    import spark.implicits._
    val raw = spark.readStream.format("binaryFile")
      .option("pathGlobFilter", glob)
      .schema(BinaryFileSchema)
      .load(path)
    val records = raw.select("content").as[Array[Byte]]
      .flatMap { bytes =>
        new String(bytes, java.nio.charset.StandardCharsets.US_ASCII)
          .linesIterator.filter(_.nonEmpty).grouped(4).flatMap {
            case Seq(name, seq, _, qual) =>
              Some((name.stripPrefix("@"), seq, qual))
            case _ => None // trailing partial record
          }
      }.toDF("key", "sequence", "quality")
    Fastq.project(records)
  }
}
