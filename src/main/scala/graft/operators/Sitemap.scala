package graft.operators

import graft.functions.Digest
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Sitemap parsing (sitemaps.org protocol, the crawl-seeding side that
  * pairs with the q278 robots.txt gate): `<urlset>` documents carrying
  * `<url>` entries with `<loc>` (required), `<lastmod>`, `<changefreq>`
  * and `<priority>`, plus `<sitemapindex>` documents that point at
  * child sitemaps. A frontier builder reads these by the million, so
  * the operator is a narrow per-document pass.
  *
  * The parser is a strict tag walk over the protocol's grammar:
  * XML declaration and the xmlns attribute tolerated, entity decode
  * (`&amp; &lt; &gt; &quot; &apos;`) on text content, unknown elements
  * INSIDE a `<url>` skipped (the protocol's extension point —
  * image/video sitemap namespaces), missing `<loc>`, malformed
  * nesting, or a root that is neither urlset nor sitemapindex refuse
  * loudly.
  */
object Sitemap {

  // ------------------------------------------------------------------
  // Writer
  // ------------------------------------------------------------------

  private[graft] def escapeXml(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;").replace("'", "&apos;")

  val Freqs: Array[String] = Array("always", "hourly", "daily", "weekly",
    "monthly", "yearly", "never")

  /** URLs per document derive from words: one entry per
    * [[WordsPerUrl]]-word group.
    */
  val WordsPerUrl = 4

  final case class Entry(loc: String, lastmod: String, changefreq: String,
    priority: String)

  /** The fixture's entry rule for document `id`, entry `i` (0-based):
    * shared with the q407 oracle.
    */
  private[graft] def entryFor(id: Long, i: Int): Entry = {
    val day = java.time.LocalDate.of(2024, 1, 1)
      .plusDays(((id + i) % 365).toInt)
    Entry(
      loc = s"https://w$id.example.com/p$i",
      lastmod = day.toString, // ISO yyyy-MM-dd
      changefreq = Freqs(i % Freqs.length),
      priority = "0." + (i % 10))
  }

  def renderUrlset(entries: Seq[Entry]): String = {
    val sb = new StringBuilder
    sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
    sb.append("<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n")
    entries.foreach { e =>
      sb.append("  <url>\n")
      sb.append("    <loc>").append(escapeXml(e.loc)).append("</loc>\n")
      sb.append("    <lastmod>").append(e.lastmod).append("</lastmod>\n")
      sb.append("    <changefreq>").append(e.changefreq)
        .append("</changefreq>\n")
      sb.append("    <priority>").append(e.priority).append("</priority>\n")
      sb.append("  </url>\n")
    }
    sb.append("</urlset>\n")
    sb.toString
  }

  // ------------------------------------------------------------------
  // Parser
  // ------------------------------------------------------------------

  private[graft] def unescapeXml(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val e = s.indexOf(';', i + 1)
        require(e > i, s"unterminated XML entity in: $s")
        s.substring(i + 1, e) match {
          case "amp" => sb.append('&')
          case "lt" => sb.append('<')
          case "gt" => sb.append('>')
          case "quot" => sb.append('"')
          case "apos" => sb.append('\'')
          case other =>
            throw new IllegalArgumentException(s"unknown XML entity &$other;")
        }
        i = e + 1
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private final class Xml(s: String) {
    var pos = 0
    skipProlog()
    private def skipWs(): Unit =
      while (pos < s.length && s.charAt(pos).isWhitespace) pos += 1
    private def skipProlog(): Unit = {
      skipWs()
      if (s.startsWith("<?", pos)) {
        val e = s.indexOf("?>", pos)
        require(e >= 0, "unterminated XML declaration")
        pos = e + 2
      }
      skipWs()
    }
    /** At an opening tag? Returns its name without consuming on None. */
    def peekOpen(): Option[String] = {
      skipWs()
      if (pos < s.length && s.charAt(pos) == '<' &&
        pos + 1 < s.length && s.charAt(pos + 1) != '/') {
        val e = s.indexWhere(c => c == '>' || c == ' ' || c == '\n', pos + 1)
        require(e > 0, "unterminated tag")
        Some(s.substring(pos + 1, e))
      } else None
    }
    def open(): String = {
      val name = peekOpen().getOrElse(
        throw new IllegalArgumentException(
          s"expected an opening tag at $pos"))
      val e = s.indexOf('>', pos)
      require(e >= 0, "unterminated tag")
      pos = e + 1
      name
    }
    def close(name: String): Unit = {
      skipWs()
      val tag = s"</$name>"
      require(s.startsWith(tag, pos),
        s"expected $tag at position $pos")
      pos += tag.length
    }
    def text(): String = {
      val e = s.indexOf('<', pos)
      require(e >= 0, "unterminated element text")
      val t = s.substring(pos, e)
      pos = e
      unescapeXml(t)
    }
    /** Skip a whole element (the one whose open tag is next). */
    def skipElement(): Unit = {
      val name = open()
      var depth = 1
      while (depth > 0) {
        val lt = s.indexOf('<', pos)
        require(lt >= 0, s"unterminated <$name> element")
        if (s.startsWith(s"</", lt)) {
          val gt = s.indexOf('>', lt)
          require(gt >= 0, "unterminated close tag")
          depth -= 1
          pos = gt + 1
        } else {
          val gt = s.indexOf('>', lt)
          require(gt >= 0, "unterminated tag")
          // self-closing tags don't nest
          if (s.charAt(gt - 1) != '/') depth += 1
          pos = gt + 1
        }
      }
    }
    def atClose(name: String): Boolean = {
      skipWs()
      s.startsWith(s"</$name>", pos)
    }
  }

  sealed trait Parsed
  final case class UrlSet(entries: Seq[Entry]) extends Parsed
  final case class SitemapIndex(locs: Seq[String]) extends Parsed

  /** Parse one sitemap document (urlset or sitemapindex). */
  def parse(xml: String): Parsed = {
    val x = new Xml(xml)
    x.open() match {
      case "urlset" =>
        val out = Seq.newBuilder[Entry]
        while (!x.atClose("urlset")) {
          val t = x.open()
          require(t == "url", s"unexpected <$t> in urlset")
          var loc: Option[String] = None
          var lastmod = ""
          var freq = ""
          var prio = ""
          while (!x.atClose("url")) {
            x.peekOpen() match {
              case Some("loc") =>
                x.open(); loc = Some(x.text()); x.close("loc")
              case Some("lastmod") =>
                x.open(); lastmod = x.text(); x.close("lastmod")
              case Some("changefreq") =>
                x.open(); freq = x.text(); x.close("changefreq")
              case Some("priority") =>
                x.open(); prio = x.text(); x.close("priority")
              case Some(_) => x.skipElement() // extensions: skip
              case None => throw new IllegalArgumentException(
                s"malformed <url> content at ${x.pos}")
            }
          }
          x.close("url")
          out += Entry(loc.getOrElse(throw new IllegalArgumentException(
            "<url> without <loc>")), lastmod, freq, prio)
        }
        x.close("urlset")
        UrlSet(out.result())
      case "sitemapindex" =>
        val out = Seq.newBuilder[String]
        while (!x.atClose("sitemapindex")) {
          val t = x.open()
          require(t == "sitemap", s"unexpected <$t> in sitemapindex")
          var loc: Option[String] = None
          while (!x.atClose("sitemap")) {
            x.peekOpen() match {
              case Some("loc") =>
                x.open(); loc = Some(x.text()); x.close("loc")
              case Some(_) => x.skipElement()
              case None => throw new IllegalArgumentException(
                s"malformed <sitemap> content at ${x.pos}")
            }
          }
          x.close("sitemap")
          out += loc.getOrElse(throw new IllegalArgumentException(
            "<sitemap> without <loc>"))
        }
        x.close("sitemapindex")
        SitemapIndex(out.result())
      case other => throw new IllegalArgumentException(
        s"not a sitemap root: <$other>")
    }
  }

  // ------------------------------------------------------------------
  // Dataset operators
  // ------------------------------------------------------------------

  /** Render the documents table as sitemaps by the fixture rule: one
    * `<url>` per [[WordsPerUrl]]-word group, fields from [[entryFor]].
    */
  def asSitemapDocs(docs: DataFrame): DataFrame = {
    Multimodal.perDocument(Parallelism.ensure(docs)) { rows =>
      rows.map { case (id, text) =>
        val n = math.max(1,
          (text.split(" ", -1).length + WordsPerUrl - 1) / WordsPerUrl)
        (id, renderUrlset((0 until n).map(i => entryFor(id, i))))
      }
    }.toDF("doc_id", "sitemap")
  }

  final case class SitemapRow(doc_id: Long, n_urls: Int, locs_md5: String,
    lastmod_min: String, lastmod_max: String, priority_milli: Long)

  /** Distributed frontier extraction over the XML column. */
  def extractEntries(maps: DataFrame): Dataset[SitemapRow] = {
    import maps.sparkSession.implicits._
    maps.select(col("doc_id"), col("sitemap"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, xml) =>
          parse(xml) match {
            case UrlSet(entries) =>
              require(entries.nonEmpty, s"doc $id: empty urlset")
              SitemapRow(id, entries.size,
                Digest.md5Hex(entries.map(_.loc).mkString("\n")),
                entries.map(_.lastmod).min, entries.map(_.lastmod).max,
                entries.map(e =>
                  math.round(e.priority.toDouble * 1000)).sum)
            case SitemapIndex(_) => throw new IllegalArgumentException(
              s"doc $id: expected a urlset, got a sitemapindex")
          }
        }
      }
  }
}
