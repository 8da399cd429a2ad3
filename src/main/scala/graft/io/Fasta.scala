package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** FASTA source/sink (SURVEY.md S3/K4; reference reads `>`-delimited
  * records via `textinputformat.record.delimiter=">"`, SplitFasta.java:41-43,
  * and writes `">"+id+"\n"+seq`, RenameContigsUniq.java:61-67).
  *
  * Reading is [[graft.io.v2.FastaSource]]: byte ranges split at
  * header lines, so one large FASTA scans in parallel with no shuffle,
  * and `select(id)` never builds the body strings.
  */
object Fasta {

  /** `Dataset`-shaped contigs: (id = header token before first space,
    * description = rest of header, sequence = body lines joined).
    * Empty-id records (F11 guard) are dropped.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format(classOf[graft.io.v2.FastaSource].getName).load(path)

  /** FASTA sink; wraps sequences at `wrap` chars per line when > 0 (the
    * reference writes unwrapped single-line bodies).
    */
  def write(df: DataFrame, path: String, wrap: Int = 0): Unit = {
    val body =
      if (wrap <= 0) col("sequence")
      else when(length(col("sequence")) === 0, lit(""))
        .otherwise(concat_ws("\n", transform(
          sequence(lit(1), ceil(length(col("sequence")) / wrap.toDouble).cast("int")),
          i => col("sequence").substr((i - 1) * wrap + 1, lit(wrap)))))
    df.select(concat(lit(">"), col("id"), lit("\n"), body).as("value"))
      .write.mode("overwrite").text(path)
  }

  /** T5: uniquify contig ids (RenameContigsUniq.java:52-62) — built-in
    * uuid() appended exactly like the reference. `uuid()` draws fresh
    * ids on every evaluation: a caller that reads the result more than
    * once must pin it first, as `ViraPipeline.run` does, or two reads
    * disagree on the ids.
    */
  def renameContigsUniq(df: DataFrame): DataFrame =
    df.withColumn("id", concat(col("id"), lit("_"), expr("uuid()")))
}
