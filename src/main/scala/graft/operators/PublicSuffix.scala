package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Registrable-domain (eTLD+1) extraction — the public-suffix
  * algorithm (publicsuffix.org/list, the rule semantics every browser
  * and crawler implements). Domain-level curation (the q190 domain
  * cap, per-site dedup, ownership joins) is only correct on the
  * REGISTRABLE domain: `a.github.io` and `b.github.io` are different
  * owners while `a.example.co.uk` and `b.example.co.uk` are the same,
  * and only the suffix rules can tell.
  *
  * Rule semantics implemented exactly: normal rules match their
  * labels; wildcard rules (`*.ck`) match any label in the `*`
  * position; exception rules (`!www.ck`) beat everything and shorten
  * the suffix by one label; with no matching rule the default rule
  * `*` applies (public suffix = last label); a host that IS a public
  * suffix has no registrable domain (null).
  *
  * Spark-first shape: fully declarative — per DISTINCT host, explode
  * the label-suffix candidates (plain + wildcard forms), equi-join the
  * BROADCAST rule table, and take the winner with one max(struct)
  * aggregation (exception first, then longest match) — no UDF, no
  * driver loop; the host-level result joins back to the row stream on
  * the host key. At 100 TB the distinct-host table is millions of rows
  * against billions of documents, so the expensive work is
  * O(distinct hosts), not O(rows).
  */
object PublicSuffix {

  /** Parse PSL-style rule strings into the join table:
    * (pattern, labels, is_exception).
    */
  def ruleTable(spark: SparkSession, rules: Seq[String]): DataFrame = {
    import spark.implicits._
    rules.map { r =>
      require(r.nonEmpty && !r.contains("/") && !r.contains(" "),
        s"not a public-suffix rule: '$r'")
      val exc = r.startsWith("!")
      val pattern = if (exc) r.substring(1) else r
      (pattern.toLowerCase, pattern.count(_ == '.') + 1, exc)
    }.toDF("pattern", "rule_labels", "is_exception")
  }

  /** Append `outCol` (the registrable domain, null when the host is
    * itself a public suffix) to `df`.
    */
  def registrableDomains(df: DataFrame, hostCol: String, rules: DataFrame,
    outCol: String = "reg_domain"): DataFrame = {
    val hosts = df.select(TextFunctions.lowerCase(col(hostCol)).as("host")).distinct()
      .withColumn("labels", split(col("host"), "\\."))
      .withColumn("n", size(col("labels")))
    // candidate suffixes of k labels, in both matchable forms: the
    // plain suffix and the wildcard form (*.tail) a *-rule would match
    val cands = hosts
      .select(col("host"), col("n"), col("labels"),
        explode(sequence(lit(1), col("n"))).as("k"))
      .withColumn("plain_key",
        array_join(slice(col("labels"), col("n") - col("k") + 1, col("k")),
          "."))
      .withColumn("wild_key",
        when(col("k") >= 2, concat(lit("*."),
          array_join(slice(col("labels"), col("n") - col("k") + 2,
            col("k") - 1), "."))))
      .select(col("host"), col("k"),
        explode(filter(array(col("plain_key"), col("wild_key")),
          x => x.isNotNull)).as("key"))
    // broadcast rule match → one winner per host: exceptions beat
    // normal rules, then the longest match (max on a 2-field struct,
    // partial-aggregated map-side)
    val winners = cands
      .join(broadcast(rules), cands("key") === rules("pattern"))
      .groupBy("host")
      .agg(max(struct(col("is_exception").cast("int").as("exc"),
        col("k").as("k"))).as("win"))
    val perHost = hosts
      .join(winners, Seq("host"), "left")
      .withColumn("ps_labels",
        coalesce(
          when(col("win.exc") === 1, col("win.k") - 1)
            .otherwise(col("win.k")),
          lit(1))) // the default rule "*": last label is public
      .select(col("host"),
        when(col("n") > col("ps_labels"),
          array_join(slice(col("labels"),
            col("n") - col("ps_labels"), col("ps_labels") + 1), "."))
          .as(outCol))
    df.withColumn("__psx_host", TextFunctions.lowerCase(col(hostCol)))
      .join(perHost.withColumnRenamed("host", "__psx_host"),
        Seq("__psx_host"), "left")
      .drop("__psx_host")
  }
}
