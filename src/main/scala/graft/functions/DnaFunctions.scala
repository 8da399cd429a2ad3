package graft.functions

import graft.model.Orf
import graft.plans.NativeFunctions
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Column-level builders + SQL registration for the genomic functions.
  *
  * Where the semantics are expressible with built-in (codegen'd)
  * expressions we use those — they stay inside whole-stage codegen and
  * never box row values. The UDF forms are registered too so the SQL
  * surface has capability parity with the typed API (SURVEY.md §2.12:
  * the reference hid all custom logic in RDD closures; we expose it).
  */
object DnaFunctions {

  /** X1 as built-ins: char-translate then reverse — both codegen'd. */
  def revComp(c: Column): Column =
    reverse(translate(c, "ACGTacgt", "TGCAtgca"))

  /** X5 as built-ins: all k-mers of `c` via transform(sequence(...)).
    * Guarded so short strings yield an empty array (Spark's `sequence`
    * would otherwise count DOWN for start > stop).
    */
  def kmersCol(c: Column, k: Int): Column =
    when(length(c) < k, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), length(c) - (k - 1)),
        i => c.substr(i, lit(k))))

  /** X5 via the native [[graft.plans.KmerGenerator]]: a true Catalyst
    * Generator that streams one row per k-mer — no O(len·k) per-row array
    * and no interpreted-HOF per-element re-evaluation, so this is the hot
    * path for corpus-scale k-mer counting (q21/q28/digitalNormalize).
    * Unlike [[kmersCol]] it IS the exploded form: select it directly.
    * `spark` is unused: the column needs no session registration.
    */
  def kmersExploded(spark: SparkSession, c: Column, k: Int): Column =
    NativeFunctions.call("kmers_native", c, lit(k))

  /** Non-overlapping codon triplets (step-3 k-mers) for A6/X8. */
  def codonsCol(c: Column): Column =
    when(length(c) < 3, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), length(c) - 2, lit(3)),
        i => c.substr(i, lit(3))))

  /** X6 NATIVE: mean of raw code points — one byte loop per read inside
    * whole-stage codegen. The aggregate-HOF form allocated one
    * single-char string + one interpreted lambda eval PER BASE and
    * ejected the projection from codegen; at 100 TB of reads this is
    * the hottest scalar in the quality-filter path. Bit-compatible with
    * the HOF twin (TokensSpec pins equality, incl. the empty-string
    * null from the divide-by-zero rule).
    */
  def avgQualityCol(c: Column): Column =
    NativeFunctions.call("avg_quality_native", c)

  /** X7 NATIVE: count of code points below `t` — same one-pass loop. */
  def lowQualityCountCol(c: Column, t: Int): Column =
    NativeFunctions.call("low_quality_count_native", c, lit(t))

  /** Pre-native HOF twins — reference semantics for TokensSpec. */
  private[graft] def avgQualityHof(c: Column): Column =
    aggregate(split(c, ""), lit(0L), (acc, ch) => acc + ascii(ch))
      .cast("double") / length(c)
  private[graft] def lowQualityCountHof(c: Column, t: Int): Column =
    aggregate(split(c, ""), lit(0),
      (acc, ch) => acc + when(ascii(ch) < t && length(ch) > 0, 1).otherwise(0))

  /** Register the UDF forms for the SQL surface. Generators (X3/X4)
    * come back as array<struct> for `explode`/LATERAL VIEW use.
    */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("revcomp", (s: String) => Dna.reverseComplement(s))
    spark.udf.register("translate_dna", (s: String) => Dna.translateDna(s))
    spark.udf.register("dna_kmers", (s: String, k: Int) => Dna.kmers(s, k))
    spark.udf.register("avg_quality", (s: String) => Dna.avgQuality(s))
    spark.udf.register("low_quality_count",
      (s: String, t: Int) => Dna.lowQualityCount(s, t))
    spark.udf.register("find_orfs",
      (id: String, s: String, strand: String, frame: Int, minLen: Int) =>
        Dna.findOrfs(id, s, strand, frame, minLen))
    spark.udf.register("six_frame_orfs",
      (id: String, s: String, minLen: Int) => Dna.sixFrameOrfs(id, s, minLen))
    spark.udf.register("codon_counts", (s: String) => Dna.codonCounts(s))
  }
}
