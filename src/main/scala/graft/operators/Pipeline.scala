package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference pipeline's dataflow operators, re-expressed as
  * declarative Dataset transforms (SURVEY.md §2.3-§2.6).
  */
object Pipeline {

  /** J1+F10: BlastNFilter semantics (BlastNFilter.java:163-192) — keep a
    * contig iff it has NO blast hit, or ANY hit with
    * `pident > t && overlap > t` where
    * `overlap = (qend - qstart + 1) / len(sequence) * 100`.
    *
    * Uses float division (the intended semantics, scripts/filter.py:10-12;
    * the reference's Java integer division at BlastNFilter.java:182 is a
    * documented bug — SURVEY.md §7.4).
    *
    * Scale: hits tables are usually much smaller than contig sets (only
    * matching reads hit the DB), so Catalyst/AQE picks broadcast for the
    * left-outer join; otherwise a sort-merge join on qseqid — the one
    * shuffle this operator needs.
    */
  def blastThresholdFilter(contigs: DataFrame, hits: DataFrame,
                           threshold: Double): DataFrame = {
    val overlap = (hits("qend") - hits("qstart") + 1).cast("double") /
      length(contigs("sequence")).cast("double") * 100.0
    val pass = hits("pident") > threshold && overlap > threshold
    contigs.join(hits, contigs("id") === hits("qseqid"), "left_outer")
      .filter(hits("qseqid").isNull || pass)
      .select(contigs("id"), contigs("sequence"))
      .distinct()
  }

  /** F2/F3 pairwise quality filter (FastqFilter.java:109-141): a read
    * survives only if BOTH it and its mate pass the quality predicates.
    * The reference walks physically-adjacent records; we pair by
    * normalized name (T7) — deterministic under any partitioning. Reads
    * from [[interleave]] carry that name as `pairName` and are already
    * partitioned by it, so the mate window adds no shuffle.
    */
  def pairedQualityFilter(reads: DataFrame, minAvgQuality: Double,
                          lowQualThreshold: Int, maxLowQualCount: Int): DataFrame = {
    import graft.functions.DnaFunctions._
    val byPair = reads.columns.contains("pairName")
    val name = if (byPair) "pairName" else "_name"
    val named = if (byPair) reads
      else reads.withColumn("_name", regexp_extract(col("key"), "^([^/ ]+)", 1))
    named
      .withColumn("_pass",
        avgQualityCol(col("quality")) > minAvgQuality &&
          lowQualityCountCol(col("quality"), lowQualThreshold) < maxLowQualCount)
      .withColumn("_pair_pass", // AND across mates
        min(col("_pass")).over(Window.partitionBy(name)))
      .filter(col(name).isNotNull && col("_pair_pass"))
      .drop("_name", "_pass", "_pair_pass")
  }

  /** T9/J3: mate interleave — R1 and R2 read sets zipped into one set
    * with a mate column, joined BY NAME rather than by file position
    * (robust replacement for the reference's positional zip,
    * DecompressInterleave.java:141-158; SURVEY.md §7.4 risk 2).
    * Desynced pairs (name in only one side — F6) drop via the inner join.
    */
  def interleave(r1: DataFrame, r2: DataFrame): DataFrame = {
    val norm = (df: DataFrame, mate: Int) =>
      df.withColumn("_name", regexp_extract(col("key"), "^([^/ ]+)", 1))
        .withColumn("mate", lit(mate))
    norm(r1, 1).unionByName(norm(r2, 2))
      .withColumn("_n_mates", count(lit(1))
        .over(Window.partitionBy("_name")))
      .filter(col("_n_mates") === 2)
      .drop("_n_mates")
      .withColumnRenamed("_name", "pairName")
  }

  /** F7: forward/reverse split (FastqFilter.java:80-87) — route reads to
    * the R1/R2 outputs by name style: `/1`·`/2` suffixes or the Illumina
    * `<name> 1:...`·`<name> 2:...` read field. Two narrow filters over
    * one scan; no shuffle.
    */
  def splitForwardReverse(reads: DataFrame): (DataFrame, DataFrame) = {
    val fwd = col("key").endsWith("/1") || col("key").rlike(" 1:")
    val rev = col("key").endsWith("/2") || col("key").rlike(" 2:")
    (reads.filter(fwd), reads.filter(rev))
  }

  /** F9: BLAST taxonomy filter (BlastN.java:147-152) — keep hits whose
    * subject taxon is in the allowed set (the reference keeps viral
    * taxa). A codegen'd IN-filter; pushes down to the scan when hits
    * come from a columnar source.
    */
  def taxonomyFilter(hits: DataFrame, allowedTaxa: Seq[Int]): DataFrame =
    hits.filter(col("staxid").isin(allowedTaxa: _*))

  /** T8+A4/K6: per-sample grouped write (FastqGroupper.java:63-109) —
    * the idiomatic replacement is a partitioned write: one directory per
    * sample, no groupByKey, no driver-side file handling.
    */
  def writeGroupedBySample(reads: DataFrame, path: String): Unit =
    reads
      .withColumn("sample", split(col("key"), ":").getItem(0))
      .write.mode("overwrite").partitionBy("sample").parquet(path)
}
