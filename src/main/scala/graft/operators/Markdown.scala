package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Markdown → text extraction — the dominant lightweight-markup format
  * of code-hosting corpora (READMEs, docs sites, issue threads). A
  * curation pipeline wants the prose with the markup decorations
  * removed and the code fences routed to their own channel (code and
  * prose are trained/filtered differently). Implements the CommonMark
  * subset that covers deterministic round-tripping:
  *
  *   - block level: ATX headings (`#{1,6} `), unordered (`- * +`) and
  *     ordered (`N. `) list markers, blockquote `> ` prefixes
  *     (repeated), fenced code blocks (``` / ~~~, content routed to
  *     the code channel, never the text), setext underlines and
  *     thematic breaks (`===`/`---`/`***` runs) dropped, blank lines
  *     dropped;
  *   - inline level: backslash escapes (backslash before ASCII
  *     punctuation is a literal, the CommonMark rule), code spans
  *     (content verbatim — escapes do NOT apply inside, per spec),
  *     `**bold**`/`__bold__`/`*em*`/`_em_` toggles, links
  *     `[text](url)` → text, images `![alt](url)` → alt.
  *
  * The writer renders a document's words into markdown by a fixed
  * layout rule (6 words per line; heading/list/quote/plain by line
  * stride; bold/em/code-span/link by word stride; every ASCII
  * punctuation char backslash-escaped; words containing backticks or
  * backslashes are never code-wrapped — CommonMark code spans have no
  * escape mechanism) so extraction must be exactly text-transparent.
  */
object Markdown {

  // ------------------------------------------------------------------
  // Writer
  // ------------------------------------------------------------------

  private def isAsciiPunct(c: Char): Boolean =
    (c >= '!' && c <= '/') || (c >= ':' && c <= '@') ||
      (c >= '[' && c <= '`') || (c >= '{' && c <= '~')

  /** Backslash-escape every ASCII punctuation char (CommonMark: a
    * backslash before any ASCII punctuation is an escape).
    */
  private[graft] def escapeMd(w: String): String = {
    val sb = new java.lang.StringBuilder(w.length + 4)
    w.foreach { c =>
      if (isAsciiPunct(c)) sb.append('\\')
      sb.append(c)
    }
    sb.toString
  }

  /** Decorate word `w` at 0-based index `j` within the DOCUMENT (a
    * global stride, so all four decorations actually fire across a
    * 6-word line layout). The if-chain is deterministic: bold beats
    * code-span beats em beats link; code spans refuse words containing
    * backticks/backslashes (no escapes exist inside a code span).
    */
  private def decorate(w: String, j: Int): String = {
    if (j % 4 == 1) "**" + escapeMd(w) + "**"
    else if (j % 7 == 5 && !w.contains('`') && !w.contains('\\'))
      "`" + w + "`"
    else if (j % 4 == 3) "*" + escapeMd(w) + "*"
    else if (j % 9 == 7) "[" + escapeMd(w) + "](https://example.com/doc)"
    else escapeMd(w)
  }

  /** Words per rendered line — the q397 oracle's layout constant. */
  val WordsPerLine = 6

  /** Render a word sequence as a markdown document: lines of
    * [[WordsPerLine]] words, line 1-based index li decorated by
    * stride — li%5==1 heading (level li%3+1), ==2 bullet, ==3
    * blockquote, ==0 ordered item — blank lines between blocks, and
    * (if `codeBlock` is set) a trailing fenced block whose content is
    * NOT document text.
    */
  def render(words: Seq[String], codeBlock: Option[String]): String = {
    val sb = new StringBuilder
    val lines = words.grouped(WordsPerLine).toVector
    lines.zipWithIndex.foreach { case (ws, i) =>
      val li = i + 1
      val base = i * WordsPerLine
      val body = ws.zipWithIndex
        .map { case (w, j) => decorate(w, base + j) }.mkString(" ")
      val line = (li % 5) match {
        case 1 => ("#" * (li % 3 + 1)) + " " + body
        case 2 => "- " + body
        case 3 => "> " + body
        case 0 => s"${li % 9 + 1}. " + body
        // an all-empty-words plain line would read as a blank line;
        // two bold toggles keep it a (text-empty) content line
        case _ => if (body.isEmpty) "****" else body
      }
      sb.append(line).append('\n').append('\n')
    }
    codeBlock.foreach { code =>
      sb.append("```python\n").append(code).append("\n```\n")
    }
    sb.toString
  }

  // ------------------------------------------------------------------
  // Reader
  // ------------------------------------------------------------------

  final case class MdDoc(textLines: Vector[String], codeBlocks: Vector[String])

  /** One inline pass: escapes, code spans, emphasis toggles, links,
    * images. Returns the decorated line's plain text.
    */
  private[graft] def inlineText(line: String): String = {
    val sb = new java.lang.StringBuilder(line.length)
    var i = 0
    val n = line.length
    while (i < n) {
      val c = line.charAt(i)
      if (c == '\\' && i + 1 < n && isAsciiPunct(line.charAt(i + 1))) {
        sb.append(line.charAt(i + 1)); i += 2
      } else if (c == '`') {
        // code span: verbatim to the next backtick (no escapes inside)
        val e = line.indexOf('`', i + 1)
        require(e >= 0, s"unterminated code span in markdown line: $line")
        sb.append(line, i + 1, e)
        i = e + 1
      } else if (c == '*' || c == '_') {
        // emphasis toggles contribute no text; ** consumes both
        if (i + 1 < n && line.charAt(i + 1) == c) i += 2 else i += 1
      } else if (c == '!' && i + 1 < n && line.charAt(i + 1) == '[') {
        i += 1 // image: fall through to the link rule at '['
      } else if (c == '[') {
        var depth = 1
        var j = i + 1
        val inner = new java.lang.StringBuilder()
        while (j < n && depth > 0) {
          val cj = line.charAt(j)
          if (cj == '\\' && j + 1 < n && isAsciiPunct(line.charAt(j + 1))) {
            inner.append(cj).append(line.charAt(j + 1)); j += 2
          } else {
            if (cj == '[') depth += 1
            else if (cj == ']') depth -= 1
            if (depth > 0) inner.append(cj)
            j += 1
          }
        }
        require(depth == 0, s"unterminated link text in markdown line: $line")
        if (j < n && line.charAt(j) == '(') {
          val e = line.indexOf(')', j + 1)
          require(e >= 0, s"unterminated link target in markdown line: $line")
          sb.append(inlineText(inner.toString))
          i = e + 1
        } else { // bare brackets: literal
          sb.append('[').append(inlineText(inner.toString)).append(']')
          i = j
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private val OrderedMarker = "^[0-9]{1,9}\\. ".r

  private def isRuleLine(t: String): Boolean = {
    val stripped = t.replace(" ", "")
    stripped.length >= 3 &&
      (stripped.forall(_ == '-') || stripped.forall(_ == '=') ||
        stripped.forall(_ == '*') || stripped.forall(_ == '_'))
  }

  /** Block-level walk: fences route to the code channel, markers are
    * stripped, blanks/underlines/thematic breaks drop, every other
    * line goes through the inline pass.
    */
  def extract(md: String): MdDoc = {
    val textLines = Vector.newBuilder[String]
    val codeBlocks = Vector.newBuilder[String]
    var fence: Option[String] = None // the opening fence chars
    val code = new java.lang.StringBuilder()
    md.split("\n", -1).foreach { raw =>
      fence match {
        case Some(f) =>
          if (raw.trim.startsWith(f)) {
            codeBlocks += code.toString.stripSuffix("\n")
            code.setLength(0)
            fence = None
          } else code.append(raw).append('\n')
        case None =>
          val t = raw
          if (t.trim.startsWith("```") || t.trim.startsWith("~~~"))
            fence = Some(t.trim.take(3))
          else if (t.isEmpty || t.trim.isEmpty) ()
          else if (isRuleLine(t.trim)) () // setext underline / thematic break
          else {
            var s = t
            // blockquote prefixes strip repeatedly (nested quotes)
            while (s.startsWith("> ")) s = s.substring(2)
            if (s == ">") s = ""
            // ATX heading
            val hashes = s.takeWhile(_ == '#').length
            if (hashes >= 1 && hashes <= 6 && s.length > hashes &&
              s.charAt(hashes) == ' ')
              s = s.substring(hashes + 1)
            else if (s.startsWith("- ") || s.startsWith("* ") ||
              s.startsWith("+ "))
              s = s.substring(2)
            else {
              val m = OrderedMarker.findPrefixOf(s)
              m.foreach(mk => s = s.substring(mk.length))
            }
            textLines += inlineText(s)
          }
      }
    }
    require(fence.isEmpty, "unterminated code fence in markdown")
    MdDoc(textLines.result(), codeBlocks.result())
  }

  // ------------------------------------------------------------------
  // Dataset operators
  // ------------------------------------------------------------------

  /** Render the documents table as markdown by the fixture rule:
    * every doc laid out through [[render]]; ids %4==0 also carry a
    * fenced code block (content derived from the id, NOT document
    * text — the channel-routing case).
    */
  def asMarkdownDocs(docs: DataFrame): DataFrame = {
    Multimodal.perDocument(Parallelism.ensure(docs)) { rows =>
      rows.map { case (id, text) =>
        val words = text.split(" ", -1).toSeq
        val cb = if (id % 4 == 0) Some(s"print('doc $id')") else None
        (id, render(words, cb))
      }
    }.toDF("doc_id", "markdown")
  }

  final case class MdText(doc_id: Long, n_lines: Int, n_code_blocks: Int,
    text: String)

  /** Distributed extraction; `text` = prose lines joined by newlines,
    * code fenced blocks counted (and excluded from the text channel).
    */
  def extractTexts(mds: DataFrame): Dataset[MdText] = {
    import mds.sparkSession.implicits._
    mds.select(col("doc_id"), col("markdown"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, md) =>
          val doc = extract(md)
          MdText(id, doc.textLines.size, doc.codeBlocks.size,
            doc.textLines.mkString("\n"))
        }
      }
  }
}
