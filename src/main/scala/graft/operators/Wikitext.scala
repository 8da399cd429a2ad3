package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** MediaWiki wikitext → text extraction — the markup of the single most
  * used LLM pretraining corpus (Wikipedia dumps ship as wikitext inside
  * the dump XML, never as rendered HTML). A curation pipeline wants the
  * prose with markup removed, citations/templates/tables dropped (they
  * are structured data, not prose), and the counts surfaced for quality
  * filtering. Implements the deterministic MediaWiki core:
  *
  *   - global level: HTML comments `<!-- -->` removed; `<ref>…</ref>`
  *     and self-closing `<ref …/>` removed and counted; templates
  *     `{{…}}` removed with nesting; table blocks (`{|` at line start
  *     through the `|}` line) removed and counted; `<nowiki>` spans
  *     shield their content from ALL of the above (the MediaWiki
  *     escape mechanism — wikitext has no backslash escapes);
  *   - line level: `== Heading ==` markers (matched runs, levels 2–6),
  *     leading `* # : ;` list/indent marker runs, blank lines dropped;
  *   - inline level: `'''bold'''`/`''italic''` apostrophe-run toggles
  *     (runs ≥5 consume 5 = bold+italic, ≥3 consume 3, 2 consume 2, a
  *     single apostrophe is literal), internal links `[[t|label]]` →
  *     label / `[[t]]` → t, labeled external links `[url label]` →
  *     label, bare `[url]` → nothing (renders as a footnote number),
  *     `<nowiki>…</nowiki>` unwrapped verbatim.
  *
  * The writer renders a document's words by a fixed layout rule
  * (8 words per line; heading/bullet/indent/numbered by line stride;
  * bold/italic/internal-link/external-link by global word stride; refs,
  * comments and templates ATTACHED to stride words with id-derived
  * content that is never document text; words containing wikitext
  * metacharacters wrapped in `<nowiki>`) so extraction must be exactly
  * text-transparent — the q399 oracle replays the layout arithmetically.
  */
object Wikitext {

  // ------------------------------------------------------------------
  // Writer
  // ------------------------------------------------------------------

  private val Meta = "'[]{}*#:;=<>|".toSet

  /** Wrap words carrying wikitext metacharacters in `<nowiki>` (the
    * only escape wikitext has). A word containing the closing tag
    * itself cannot be represented — fail loudly rather than corrupt.
    */
  private[graft] def escapeWt(w: String): String =
    if (w.exists(Meta.contains)) {
      require(!w.contains("</nowiki>"),
        s"word contains the nowiki closing tag, unrepresentable: $w")
      "<nowiki>" + w + "</nowiki>"
    } else w

  /** Decorate word `w` at 0-based document index `j` (a global stride,
    * so every decoration fires across the 8-word layout). If-chain
    * priority: bold beats italic beats internal link beats external
    * link; empty words stay plain (empty toggles would fuse into
    * longer apostrophe runs and change meaning).
    */
  private def decorate(w: String, j: Int): String = {
    val esc = escapeWt(w)
    val d =
      if (w.isEmpty) esc
      else if (j % 4 == 1) "'''" + esc + "'''"
      else if (j % 4 == 3) "''" + esc + "''"
      else if (j % 9 == 7) "[[Target_" + j + "|" + esc + "]]"
      else if (j % 9 == 2) "[https://example.org/w" + j + " " + esc + "]"
      else esc
    val withRef = if (j % 10 == 6) d + "<ref>r" + j + "</ref>" else d
    val withCmt =
      if (j % 13 == 9) withRef + "<!-- c" + j + " -->" else withRef
    if (j % 11 == 6) withCmt + "{{cite|t" + j + "}}" else withCmt
  }

  /** Words per rendered line — the q399 oracle's layout constant. */
  val WordsPerLine = 8

  /** Render a word sequence as wikitext: lines of [[WordsPerLine]]
    * words, 1-based line index li styled by stride — li%5==1 heading
    * (level li%3+2), ==2 bullet, ==3 indent, ==0 numbered — and (if
    * `table` is set) a trailing table block whose content is NOT
    * document text.
    */
  def render(words: Seq[String], table: Option[String]): String = {
    val sb = new StringBuilder
    words.grouped(WordsPerLine).zipWithIndex.foreach { case (ws, i) =>
      val li = i + 1
      val base = i * WordsPerLine
      val body = ws.zipWithIndex
        .map { case (w, j) => decorate(w, base + j) }.mkString(" ")
      val line = (li % 5) match {
        case 1 =>
          val m = "=" * (li % 3 + 2)
          m + " " + body + " " + m
        case 2 => "* " + body
        case 3 => ": " + body
        case 0 => "# " + body
        // an all-empty-words plain line would read as a blank line; an
        // empty nowiki keeps it a (text-empty) content line
        case _ => if (body.trim.isEmpty) body + "<nowiki></nowiki>" else body
      }
      sb.append(line).append('\n')
    }
    table.foreach { cell =>
      sb.append("{| class=\"wikitable\"\n|-\n| ").append(cell)
        .append("\n|}\n")
    }
    sb.toString
  }

  // ------------------------------------------------------------------
  // Reader
  // ------------------------------------------------------------------

  final case class WtDoc(textLines: Vector[String], nTables: Int, nRefs: Int)

  /** Global pass: remove comments, refs (counted), templates (nested),
    * and table blocks (counted), copying `<nowiki>` spans verbatim so
    * shielded content never triggers the removers.
    */
  private[graft] def stripStructures(s: String): (String, Int, Int) = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    val n = s.length
    var tables = 0
    var refs = 0
    var lineStart = true
    while (i < n) {
      val c = s.charAt(i)
      if (c == '<' && s.startsWith("<nowiki>", i)) {
        val e = s.indexOf("</nowiki>", i + 8)
        require(e >= 0, "unterminated <nowiki> span in wikitext")
        sb.append(s, i, e + 9)
        i = e + 9
        lineStart = false
      } else if (c == '<' && s.startsWith("<!--", i)) {
        val e = s.indexOf("-->", i + 4)
        require(e >= 0, "unterminated HTML comment in wikitext")
        i = e + 3
      } else if (c == '<' && s.startsWith("<ref", i) && i + 4 < n &&
        (s.charAt(i + 4) == '>' || s.charAt(i + 4) == ' ')) {
        val tagEnd = s.indexOf('>', i + 4)
        require(tagEnd >= 0, "unterminated <ref tag in wikitext")
        refs += 1
        if (s.charAt(tagEnd - 1) == '/') i = tagEnd + 1 // self-closing
        else {
          val e = s.indexOf("</ref>", tagEnd + 1)
          require(e >= 0, "unterminated <ref> element in wikitext")
          i = e + 6
        }
        lineStart = false
      } else if (c == '{' && i + 1 < n && s.charAt(i + 1) == '{') {
        var depth = 1
        var j = i + 2
        while (j < n && depth > 0) {
          if (s.startsWith("{{", j)) { depth += 1; j += 2 }
          else if (s.startsWith("}}", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        require(depth == 0, "unterminated {{template}} in wikitext")
        i = j
        lineStart = false
      } else if (c == '{' && lineStart && i + 1 < n &&
        s.charAt(i + 1) == '|') {
        val e = s.indexOf("\n|}", i + 2)
        require(e >= 0, "unterminated {| table |} in wikitext")
        tables += 1
        val after = s.indexOf('\n', e + 3)
        i = if (after < 0) n else after + 1
        lineStart = true
      } else {
        sb.append(c)
        lineStart = c == '\n'
        i += 1
      }
    }
    (sb.toString, tables, refs)
  }

  /** One inline pass over a marker-stripped line: nowiki unwrap,
    * apostrophe-run toggles, internal and external links.
    */
  private[graft] def inlineText(line: String): String = {
    val sb = new java.lang.StringBuilder(line.length)
    var i = 0
    val n = line.length
    while (i < n) {
      val c = line.charAt(i)
      if (c == '<' && line.startsWith("<nowiki>", i)) {
        val e = line.indexOf("</nowiki>", i + 8)
        require(e >= 0, s"unterminated <nowiki> in wikitext line: $line")
        sb.append(line, i + 8, e)
        i = e + 9
      } else if (c == '\'') {
        var run = 0
        while (i + run < n && line.charAt(i + run) == '\'') run += 1
        if (run >= 5) i += 5 // bold+italic toggle
        else if (run >= 3) i += 3 // bold toggle
        else if (run == 2) i += 2 // italic toggle
        else { sb.append('\''); i += 1 }
      } else if (c == '[' && i + 1 < n && line.charAt(i + 1) == '[') {
        // internal link: inner to the matching ]], pipe splits
        // target|label; nowiki spans shield both delimiters
        var j = i + 2
        var pipe = -1
        var close = -1
        while (j < n && close < 0) {
          if (line.startsWith("<nowiki>", j)) {
            val e = line.indexOf("</nowiki>", j + 8)
            require(e >= 0, s"unterminated <nowiki> in wikitext line: $line")
            j = e + 9
          } else if (line.charAt(j) == '|' && pipe < 0) { pipe = j; j += 1 }
          else if (line.startsWith("]]", j)) close = j
          else j += 1
        }
        require(close >= 0, s"unterminated [[link]] in wikitext line: $line")
        val shown =
          if (pipe >= 0) line.substring(pipe + 1, close)
          else line.substring(i + 2, close)
        sb.append(inlineText(shown))
        i = close + 2
      } else if (c == '[' && (line.startsWith("[http://", i) ||
        line.startsWith("[https://", i))) {
        // external link: first space splits url from label; bare links
        // render as a footnote number, i.e. no text
        var j = i + 1
        var space = -1
        var close = -1
        while (j < n && close < 0) {
          if (line.startsWith("<nowiki>", j)) {
            val e = line.indexOf("</nowiki>", j + 8)
            require(e >= 0, s"unterminated <nowiki> in wikitext line: $line")
            j = e + 9
          } else if (line.charAt(j) == ' ' && space < 0) { space = j; j += 1 }
          else if (line.charAt(j) == ']') close = j
          else j += 1
        }
        require(close >= 0, s"unterminated [ext link] in wikitext line: $line")
        if (space >= 0) sb.append(inlineText(line.substring(space + 1, close)))
        i = close + 1
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def stripLineMarkers(raw: String): String = {
    // heading: matched = runs (levels 2..6) with one space inside each
    val lead = raw.takeWhile(_ == '=').length
    val trail = raw.reverseIterator.takeWhile(_ == '=').length
    if (lead >= 2 && lead <= 6 && lead == trail &&
      raw.length >= 2 * lead + 2 && raw.charAt(lead) == ' ' &&
      raw.charAt(raw.length - lead - 1) == ' ')
      raw.substring(lead + 1, raw.length - lead - 1)
    else {
      val run = raw.takeWhile(c => c == '*' || c == '#' || c == ':' ||
        c == ';').length
      if (run >= 1 && run < raw.length && raw.charAt(run) == ' ')
        raw.substring(run + 1)
      else raw
    }
  }

  /** Full extraction: global structure removal, then the line walk and
    * inline pass. Blank lines drop; every other line contributes one
    * text line.
    */
  def extract(wt: String): WtDoc = {
    val (cleaned, tables, refs) = stripStructures(wt)
    val lines = Vector.newBuilder[String]
    cleaned.split("\n", -1).foreach { raw =>
      if (raw.nonEmpty && raw.trim.nonEmpty)
        lines += inlineText(stripLineMarkers(raw))
    }
    WtDoc(lines.result(), tables, refs)
  }

  // ------------------------------------------------------------------
  // Dataset operators
  // ------------------------------------------------------------------

  /** Render the documents table as wikitext by the fixture rule; ids
    * %4==0 also carry a table block (content derived from the id, NOT
    * document text — the structure-dropping case).
    */
  def asWikitextDocs(docs: DataFrame): DataFrame = {
    Multimodal.perDocument(Parallelism.ensure(docs)) { rows =>
      rows.map { case (id, text) =>
        val words = text.split(" ", -1).toSeq
        val tbl = if (id % 4 == 0) Some(s"cell $id") else None
        (id, render(words, tbl))
      }
    }.toDF("doc_id", "wikitext")
  }

  final case class WtText(doc_id: Long, n_lines: Int, n_tables: Int,
    n_refs: Int, text: String)

  /** Distributed extraction; `text` = prose lines joined by newlines,
    * tables and refs counted (and excluded from the text channel).
    */
  def extractTexts(wts: DataFrame): Dataset[WtText] = {
    import wts.sparkSession.implicits._
    wts.select(col("doc_id"), col("wikitext"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, wt) =>
          val doc = extract(wt)
          WtText(id, doc.textLines.size, doc.nTables, doc.nRefs,
            doc.textLines.mkString("\n"))
        }
      }
  }
}
