package graft.operators

import graft.functions.TextFunctions
import graft.plans.NativeFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Web-crawl curation operators: the ingestion-side stages a
  * Common-Crawl-scale training-data pipeline runs between the WARC scan
  * ([[graft.io.Warc]]) and the dedup/quality families (Dedup.scala,
  * Corpus.scala). The reference engine has no web surface; these are
  * north-star extensions in the published-pipeline shapes (URL-level
  * dedup first, then boilerplate line removal, then content dedup).
  */
object Web {

  /** HTML→text as a Column (native codegen expression —
    * [[graft.functions.Web.htmlToText]] rules; one scan per document,
    * fused into the enclosing projection).
    */
  def htmlToText(html: Column): Column = NativeFunctions.call("html_to_text_native", html)

  /** URL canonicalization as a Column (native codegen expression —
    * [[graft.functions.Web.canonicalizeUrl]] rules).
    */
  def canonicalizeUrl(url: Column): Column =
    NativeFunctions.call("canonicalize_url_native", url)

  /** RFC 3986 reference resolution as a Column (native codegen
    * expression — [[graft.functions.Web.resolveUrl]] rules; null =
    * drop the link).
    */
  def resolveUrl(baseUrl: Column, href: Column): Column =
    NativeFunctions.call("resolve_url_native", baseUrl, href)

  /** [[extractLinks]] with relative-URL resolution against each page's
    * own URL — the form a real crawl link graph needs (most organic
    * hrefs are relative; the absolute-only form below misses those
    * edges entirely). Every captured href resolves per
    * [[graft.functions.Web.resolveUrl]] (absolute pass-through,
    * `//`-protocol-relative, rooted, relative with `../` collapse;
    * fragment-only and non-http(s) schemes drop). Same narrow
    * projection + explode shape — resolution is one codegen'd scalar,
    * no extra pass.
    */
  def extractLinks(pages: DataFrame, idCol: String, htmlCol: String,
                   baseUrlCol: String): DataFrame =
    pages.select(col(idCol), col(baseUrlCol).as("_base"),
        explode(regexp_extract_all(col(htmlCol),
          lit("(?i)(?<![\\w-])href\\s*=\\s*(\"[^\"]*\"|'[^']*')"),
          lit(1))).as("q"))
      .select(col(idCol),
        resolveUrl(col("_base"),
          expr("substring(q, 2, length(q) - 2)")).as("href"))
      .filter(col("href").isNotNull)

  /** Out-link extraction — the crawl-graph construction step between
    * WARC ingestion and [[Graph.pageRank]]: every absolute http(s)
    * `href` attribute value, one (id, href) row per occurrence
    * (multiplicity preserved — parallel links are real edges to a
    * rank computation). Deliberately regex-scoped like the PII tier
    * (deterministic, replayable); the sibling overload above resolves
    * relative hrefs against a base-URL column. One narrow projection +
    * explode, no shuffle; compose with [[canonicalizeUrl]] before
    * grouping into an edge table.
    */
  def extractLinks(pages: DataFrame, idCol: String,
                   htmlCol: String): DataFrame =
    // (?<![\w-]) keeps data-href/xhref out (\b alone passes data-href:
    // '-h' is a word boundary); the alternation pairs quotes properly,
    // so href="a' can never capture across mismatched quotes — the
    // captured value keeps its quotes and is stripped below
    pages.select(col(idCol),
        explode(regexp_extract_all(col(htmlCol),
          lit("(?i)(?<![\\w-])href\\s*=\\s*(\"[^\"]*\"|'[^']*')"),
          lit(1))).as("q"))
      .select(col(idCol),
        expr("substring(q, 2, length(q) - 2)").as("href"))
      .filter(col("href").startsWith("http://") ||
        col("href").startsWith("https://"))

  /** Image-reference extraction — the LAION-recipe step between crawl
    * ingestion and CLIP-style pair construction: every `<img>` tag's
    * `src` (resolved against the page URL per RFC 3986, then
    * canonicalized) with its `alt` caption text ('' when the attribute
    * is absent — alt-less images are still joinable pairs, the caption
    * model just sees an empty string). Deliberately regex-scoped like
    * [[extractLinks]]: the tag regex captures whole `<img ...>` tags,
    * the attribute regexes reuse the href discipline ((?<![\w-]) keeps
    * `data-src` out; quote alternation pairs quotes properly).
    *
    * Scale shape: one narrow projection + explode per page, two
    * codegen'd scalars (resolve + canonicalize), no shuffle — the
    * downstream join to the fetched-image table is the only exchange,
    * and it keys on the canonical URL both sides.
    */
  def extractImageRefs(pages: DataFrame, idCol: String, htmlCol: String,
                       baseUrlCol: String): DataFrame = {
    val srcRx = "(?i)(?<![\\w-])src\\s*=\\s*(\"[^\"]*\"|'[^']*')"
    val altRx = "(?i)(?<![\\w-])alt\\s*=\\s*(\"[^\"]*\"|'[^']*')"
    pages.select(col(idCol), col(baseUrlCol).as("_base"),
        explode(regexp_extract_all(col(htmlCol),
          lit("(?i)<img\\b[^>]*>"), lit(0))).as("tag"))
      .select(col(idCol), col("_base"),
        regexp_extract(col("tag"), srcRx, 1).as("srcq"),
        regexp_extract(col("tag"), altRx, 1).as("altq"))
      .filter(length(col("srcq")) >= 2)
      .select(col(idCol),
        canonicalizeUrl(resolveUrl(col("_base"),
          expr("substring(srcq, 2, length(srcq) - 2)"))).as("img_url"),
        when(length(col("altq")) >= 2,
          expr("substring(altq, 2, length(altq) - 2)"))
          .otherwise(lit("")).as("alt"))
      .filter(col("img_url").isNotNull)
  }

  /** URL-level dedup — the FIRST dedup stage of every published crawl
    * pipeline (it runs before fetching content is even considered):
    * canonicalize, group, keep the minimum id (the engine-wide
    * deterministic keeper rule, Dedup.exactDedup's contract). Returns
    * (canonical_url, keeper id, n_dups).
    *
    * Scale: canonicalization is a narrow per-row scalar; the group-by
    * is ONE hash-partitioned aggregation with map-side partial
    * aggregation — the same shape as exact dedup, which q30 already
    * proves out.
    */
  def urlDedup(df: DataFrame, idCol: String, urlCol: String): DataFrame =
    df.groupBy(canonicalizeUrl(col(urlCol)).as("canonical_url"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_dups"))

  /** robots.txt rule extraction (RFC 9309) — one row per (host, rule)
    * applicable to `agent`: the raw pattern, its allow flag, its
    * precedence length, and the anchored regex
    * ([[graft.functions.Web.robotsRegex]]) the filter matches with.
    * Parsing ([[graft.functions.Web.parseRobots]]: group selection by
    * most-specific agent token, rule merge across same-token groups)
    * is one narrow flatMap over the fetched robots bodies — the
    * output is a per-host RULE TABLE, tiny next to any URL frontier,
    * built once per crawl cycle and broadcast by [[robotsFilter]].
    */
  def robotsRules(robots: DataFrame, hostCol: String, bodyCol: String,
                  agent: String): DataFrame = {
    val spark = robots.sparkSession
    import spark.implicits._
    robots.select(col(hostCol).cast("string"), col(bodyCol).cast("string"))
      .as[(String, String)]
      .flatMap { case (host, body) =>
        graft.functions.Web.parseRobots(body, agent).map(r =>
          (host, r.pattern, r.allow, r.pattern.length,
            graft.functions.Web.robotsRegex(r.pattern)))
      }
      .toDF("host", "pattern", "allow", "plen", "rx")
  }

  /** Crawl-politeness filter: label every URL with its robots verdict
    * under the RFC 9309 longest-match rule — among the host's rules
    * whose pattern matches the URL's path+query, the LONGEST pattern
    * wins; a tie goes to allow; no matching rule (or no rules for the
    * host) defaults to `defaultAllow`. Returns the input plus an
    * `allowed` column.
    *
    * Scale shape: verdicts compute once per DISTINCT (host, path) —
    * the rule table BROADCASTS into that equi-join (it is per-host
    * metadata, never frontier-sized), regex matches run on the
    * deduplicated pairs, and one hash agg takes the
    * (plen, allow)-max. The frontier itself is touched by exactly one
    * narrow projection + one equi-join back.
    */
  def robotsFilter(urls: DataFrame, urlCol: String, rules: DataFrame,
                   defaultAllow: Boolean = true): DataFrame = {
    val hostRx = "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)"
    val pathRx = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^#]*)"
    def hostOf(u: Column) = TextFunctions.lowerCase(regexp_extract(u, hostRx, 1))
    def pathOf(u: Column) = {
      val p = regexp_extract(u, pathRx, 1)
      when(p === "", "/").otherwise(p)
    }
    val targets = urls.select(hostOf(col(urlCol)).as("host"),
      pathOf(col(urlCol)).as("pathq")).distinct()
    val verdicts = targets
      .join(broadcast(rules.select("host", "plen", "allow", "rx")),
        Seq("host"))
      .filter(expr("pathq RLIKE rx"))
      .groupBy("host", "pathq")
      .agg(max(struct(col("plen").as("p"), col("allow").as("a"))).as("m"))
      .select(col("host"), col("pathq"), col("m.a").as("_rf_allowed"))
    urls
      .withColumn("host", hostOf(col(urlCol)))
      .withColumn("pathq", pathOf(col(urlCol)))
      .join(verdicts, Seq("host", "pathq"), "left")
      .drop("host", "pathq")
      .withColumn("allowed",
        coalesce(col("_rf_allowed"), lit(defaultAllow)))
      .drop("_rf_allowed")
  }

  /** Main-content extraction (the jusText/trafilatura recipe, made
    * deterministic): segment the page into blocks at block-tag
    * boundaries, measure per-block word count / link density /
    * stopword density, and keep only blocks passing
    * [[graft.functions.Web.isContentBlock]]'s integer thresholds.
    * This removes PER-PAGE boilerplate (nav, footers, cookie banners)
    * structurally — the complement of [[lineDedup]], which removes
    * CORPUS-frequent lines and needs a second pass over the data.
    * Returns (id, n_blocks, n_good, main_text) with surviving blocks
    * joined by newlines in document order.
    *
    * Scale shape: one narrow mapPartitions pass, no shuffle — a page's
    * classification needs nothing beyond the page. Compose with
    * [[lineDedup]] for template lines that survive the density rule.
    */
  def mainContent(pages: DataFrame, idCol: String,
                  htmlCol: String): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    Parallelism.ensure(pages)
      .select(col(idCol).cast("long"), col(htmlCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, html) =>
          val blocks = graft.functions.Web.mainContentBlocks(html)
          val good = blocks.filter(graft.functions.Web.isContentBlock)
          (id, blocks.size, good.size, good.map(_.text).mkString("\n"))
        }
      }
      .toDF(idCol, "n_blocks", "n_good", "main_text")
  }

  /** Boilerplate removal by GLOBAL line frequency (the RefinedWeb /
    * FineWeb recipe): split each document into lines, count how many
    * DISTINCT documents each exact line occurs in, drop lines occurring
    * in more than `maxDocs` documents (navigation menus, cookie
    * banners, footers — content lines are rare, boilerplate lines are
    * corpus-wide), and reassemble survivors in original order. A
    * document whose every line is boilerplate disappears entirely.
    * Returns (id, clean_text, n_kept).
    *
    * Scale (100 TB): the frequency table is one hash aggregation over
    * XXH64 line keys — the exploded payload that shuffles is (key, id),
    * never the line text, and partial aggregation collapses per-partition
    * repeats first. The line table re-joins as a key equi-join (both
    * sides hash by `lkey`); reassembly is one groupBy(id) with an
    * in-group sort (collect_list + array_sort — bounded by document
    * size, not corpus size). Two shuffles + one equi-join total; nothing
    * driver-side. 64-bit key collisions are the q35 contract: ~n²/2⁶⁵
    * for n distinct lines — at 10¹² lines, odds ~3%; collision promotes
    * a rare line's count, dropping at most that line (never corrupts
    * text).
    */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
                maxDocs: Long): DataFrame = {
    val lines = docs
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("lkey", xxhash64(col("line")))
    val lineDf = lines.select(col("lkey"), col("id"))
      .groupBy("lkey")
      .agg(countDistinct(col("id")).as("line_docs"))
      .filter(col("line_docs") > maxDocs)
    // anti-join against the (small) over-threshold key set: only
    // boilerplate keys ship to the join, content lines pass untouched
    val kept = lines.join(lineDf.select("lkey"), Seq("lkey"), "left_anti")
    kept.groupBy(col("id"))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            s => s.getField("line")),
          "\n").as("clean_text"),
        count(lit(1)).cast("long").as("n_kept"))
      .withColumnRenamed("id", idCol)
  }
}
