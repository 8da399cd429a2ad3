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
  * Reading is one mechanism, [[graft.io.v2.FastqSource]]: parallel
  * byte ranges, each task probing forward from its offset to the first
  * true record boundary (the FastqInputFormat model the reference
  * rides) and owning exactly the records that START in its range;
  * compressed files are one partition each. This object keeps the
  * schema, the header projection the streaming source shares, the
  * file listing and the sink.
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

  /** The FASTQ scan: [[graft.io.v2.FastqSource]], splittable by byte
    * range with pruned columns materializing no strings.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format(classOf[graft.io.v2.FastqSource].getName).load(path)

  /** Non-empty, non-hidden files under `path` (a file, a directory or
    * a glob), in path order; a path matching nothing is an error.
    * `keepChild` filters a matched directory's children by name.
    */
  private[io] def listFiles(spark: SparkSession, path: String,
                            keepChild: String => Boolean = _ => true)
      : Seq[(String, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val top = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
    if (top.isEmpty) throw new java.io.FileNotFoundException(s"Path does not exist: $path")
    top.flatMap { st =>
      if (st.isDirectory)
        fs.listStatus(st.getPath).toSeq
          .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
            !s.getPath.getName.startsWith(".") && keepChild(s.getPath.getName))
      else Seq(st)
    }.filter(_.getLen > 0).map(s => (s.getPath.toString, s.getLen)).sortBy(_._1)
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
