package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SAM-text source/sink (SURVEY.md S2/K5 decision: the BAM binary codec
  * is out of scope — SAM text carries identical query semantics; every
  * `MyAlignment` field, SQLQueryBAM.java:66, derives from SAM columns).
  *
  * SAM is TSV with 11 fixed columns + optional tags; header lines start
  * with '@'. Plain `spark.read.text` keeps the scan splittable.
  */
object SamText {

  /** FLAG bit tests (SAM spec; reference uses htsjdk's accessors). */
  def flagBit(flag: Column, bit: Int): Column = (flag.bitwiseAND(bit)) =!= 0

  /** Read SAM text into the typed alignment shape of [[parse]]. */
  def read(spark: SparkSession, path: String): DataFrame =
    parse(spark.read.text(path))

  /** Project SAM lines (a `value` string column) into the typed
    * alignment shape (readName, flag, referenceName, start, mapq,
    * cigar, bases, quality + derived length/readUnmapped/duplicateRead/
    * firstOfPair/secondOfPair), built in one projection so the frame is
    * analyzed once. Header ('@') and blank lines drop.
    */
  def parse(lines: DataFrame): DataFrame = {
    val f = split(col("value"), "\t")
    val flag = f.getItem(1).cast("int")
    val bases = f.getItem(9)
    lines
      .filter(!col("value").startsWith("@") && length(trim(col("value"))) > 0)
      .select(
        f.getItem(0).as("readName"),
        flag.as("flag"),
        f.getItem(2).as("referenceName"),
        f.getItem(3).cast("int").as("start"),
        f.getItem(4).cast("int").as("mapq"),
        f.getItem(5).as("cigar"),
        bases.as("bases"),
        f.getItem(10).as("quality"),
        length(bases).as("length"),
        flagBit(flag, 4).as("readUnmapped"),
        flagBit(flag, 1024).as("duplicateRead"),
        flagBit(flag, 64).as("firstOfPair"),
        flagBit(flag, 128).as("secondOfPair"))
  }

  /** SAM-text sink: 11 fixed columns, '*' fillers for unused fields. */
  def write(df: DataFrame, path: String): Unit =
    df.select(concat_ws("\t",
      col("readName"), col("flag"), col("referenceName"), col("start"),
      coalesce(col("mapq"), lit(0)), coalesce(col("cigar"), lit("*")),
      lit("*"), lit(0), lit(0), col("bases"), col("quality")).as("value"))
      .write.mode("overwrite").text(path)

  /** T3: SAM → FASTQ projection (SamToFastq.java:47-68): mate suffix
    * /1 · /2 from the pair flags, bases + qualities out.
    */
  def toFastq(df: DataFrame): DataFrame =
    df.select(
      concat(col("readName"),
        when(flagBit(col("flag"), 64), "/1")
          .when(flagBit(col("flag"), 128), "/2")
          .otherwise("")).as("key"),
      col("bases").as("sequence"),
      col("quality"))
}
