package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}

/** RTF text extraction — the legacy rich-text format still abundant in
  * older document corpora (court filings, government archives, email
  * attachments). Implements both directions from the published RTF
  * specification (Microsoft RTF 1.9.1, a public document; same model
  * as the reference's text-extraction pipes, cf.
  * /root/reference/src/main/java/org/ngseq/metagenomics/
  * SQLQueryFastq.java:1 which likewise re-materializes records out of
  * a container format):
  *
  *   - writer: `{\rtf1\ansi\ansicpg1252\deff0 ...}` with a font-table
  *     destination, an `{\*\generator ...}` ignorable destination,
  *     paragraphs terminated by `\par`, every 4th word wrapped in a
  *     `{\b ...}` formatting group (so group push/pop carries real
  *     text), chars escaped by a deterministic rule — `\\ \{ \}` for
  *     the specials, `\'hh` hex escapes on a fixed stride, `\uN?`
  *     unicode escapes (fallback `?`) for anything non-ASCII;
  *   - reader: full tokenizer over the byte stream — groups push/pop
  *     state (`\ucN` is group-scoped per the spec), control words with
  *     optional signed numeric parameters, `\'hh` decoded through
  *     windows-1252, `\uN` appends the code point (negative N means
  *     N+65536) then skips the group's `uc` fallback characters,
  *     `\par` ends a paragraph, `\tab`/`\line` map to TAB/newline,
  *     `{\*\...}` and the known non-text destinations (fonttbl,
  *     colortbl, stylesheet, info, pict) skip entirely, unknown
  *     control words are IGNORED (that is the spec's forward-compat
  *     rule, not a shortcut), and raw CR/LF bytes in the stream are
  *     ignored per spec.
  *
  * OUT OF SCOPE — loud refusal: streams not starting `{\rtf`,
  * unbalanced braces, EOF inside a control word or hex escape.
  */
object Rtf {

  // ------------------------------------------------------------------
  // Writer
  // ------------------------------------------------------------------

  private val Cp1252 = java.nio.charset.Charset.forName("windows-1252")

  /** byte → char through the real codepage, precomputed once. */
  private lazy val Cp1252Table: Array[Char] =
    new String(Array.tabulate(256)(_.toByte), Cp1252).toCharArray

  /** Escape one word by the deterministic rule: specials always
    * escaped; within a word, the char at 0-based index k with
    * k % 5 == 2 goes out as a `\'hh` hex escape (ASCII only); any
    * char above 0x7E goes out as `\uN?`.
    */
  private[graft] def escapeWord(w: String): String = {
    val sb = new java.lang.StringBuilder(w.length + 8)
    var k = 0
    w.foreach { c =>
      if (c == '\\' || c == '{' || c == '}') sb.append('\\').append(c)
      else if (c == '\t') sb.append("\\tab ")
      else if (c > 0x7e) {
        val n = c.toInt
        sb.append("\\u").append(if (n > 32767) n - 65536 else n).append('?')
      } else if (k % 5 == 2) {
        sb.append("\\'")
        sb.append(f"${c.toInt}%02x")
      } else sb.append(c)
      k += 1
    }
    sb.toString
  }

  /** Serialize paragraphs as a minimal valid RTF document. Every 4th
    * word (1-based index % 4 == 1, i.e. words 1, 5, 9, ...) is wrapped
    * in a bold group so the reader's group handling carries text.
    */
  def encode(paragraphs: Seq[String]): Array[Byte] = {
    val sb = new StringBuilder
    sb.append("{\\rtf1\\ansi\\ansicpg1252\\deff0\\uc1")
    sb.append("{\\fonttbl{\\f0\\froman Times New Roman;}}")
    sb.append("{\\*\\generator Graft RTF Writer 1.0;}\n")
    paragraphs.foreach { p =>
      sb.append("\\pard\\plain\\fs24 ")
      val words = p.split(" ", -1)
      words.zipWithIndex.foreach { case (w, j) =>
        if (j > 0) sb.append(' ')
        if (j % 4 == 1) sb.append("{\\b ").append(escapeWord(w)).append('}')
        else sb.append(escapeWord(w))
      }
      sb.append("\\par\n")
    }
    sb.append('}')
    sb.toString.getBytes("windows-1252")
  }

  // ------------------------------------------------------------------
  // Reader
  // ------------------------------------------------------------------

  /** Destinations whose content is not document text even without the
    * `\*` ignorable marker (RTF 1.9.1 destination control words).
    */
  private val SkipDestinations: Set[String] =
    Set("fonttbl", "colortbl", "stylesheet", "info", "pict",
      "themedata", "header", "footer", "footnote")

  /** Extract paragraph texts from an RTF byte stream. */
  def extractText(rtf: Array[Byte]): Vector[String] = {
    require(rtf.length >= 5 &&
      new String(rtf, 0, 5, "US-ASCII") == "{\\rtf",
      "not an RTF stream — missing {\\rtf header")
    val paragraphs = Vector.newBuilder[String]
    val cur = new java.lang.StringBuilder()
    // group state stack: (uc value, skipping?)
    var stack = List.empty[(Int, Boolean)]
    var uc = 1
    var skipping = false
    var pendingFallback = 0
    var i = 0
    val n = rtf.length
    def decodeByte(b: Int): Char = Cp1252Table(b)

    while (i < n) {
      val b = rtf(i) & 0xff
      b match {
        case '{' =>
          stack = (uc, skipping) :: stack
          // `{\*` marks an ignorable destination: skip the group.
          if (!skipping && i + 2 < n && rtf(i + 1) == '\\' &&
            rtf(i + 2) == '*') skipping = true
          i += 1
        case '}' =>
          require(stack.nonEmpty, "unbalanced closing brace in RTF")
          val (u0, s0) = stack.head
          stack = stack.tail
          uc = u0; skipping = s0
          i += 1
        case '\\' =>
          require(i + 1 < n, "EOF after backslash in RTF")
          val c1 = rtf(i + 1) & 0xff
          if (c1 == '\\' || c1 == '{' || c1 == '}') {
            if (!skipping) {
              if (pendingFallback > 0) pendingFallback -= 1
              else cur.append(c1.toChar)
            }
            i += 2
          } else if (c1 == '\'') {
            require(i + 3 < n, "EOF inside \\'hh hex escape in RTF")
            val hex = new String(rtf, i + 2, 2, "US-ASCII")
            val v = Integer.parseInt(hex, 16)
            if (!skipping) {
              if (pendingFallback > 0) pendingFallback -= 1
              else cur.append(decodeByte(v))
            }
            i += 4
          } else if (c1 == '~') { // non-breaking space
            if (!skipping && pendingFallback == 0) cur.append('\u00a0')
            i += 2
          } else if (!Character.isLetter(c1.toChar)) {
            // other control symbols (\-, \_, \:, ...) contribute nothing
            i += 2
          } else {
            // control word: letters, optional signed integer, optional
            // single space delimiter (consumed with the word)
            var j = i + 1
            while (j < n && Character.isLetter((rtf(j) & 0xff).toChar)) j += 1
            val word = new String(rtf, i + 1, j - i - 1, "US-ASCII")
            var neg = false
            var param = -1L
            if (j < n && (rtf(j) == '-' || Character.isDigit((rtf(j) & 0xff).toChar))) {
              if (rtf(j) == '-') { neg = true; j += 1 }
              var v = 0L
              var digits = 0
              while (j < n && Character.isDigit((rtf(j) & 0xff).toChar)) {
                v = v * 10 + (rtf(j) - '0'); digits += 1; j += 1
              }
              require(digits > 0, s"malformed parameter on \\$word")
              param = if (neg) -v else v
            }
            if (j < n && rtf(j) == ' ') j += 1 // delimiter consumed
            word match {
              case "u" =>
                require(param != -1L || neg, s"\\u without code point")
                if (!skipping) {
                  val cp = (if (param < 0) param + 65536 else param).toInt
                  if (pendingFallback > 0) pendingFallback -= 1
                  else cur.append(cp.toChar)
                  pendingFallback += uc
                }
              case "uc" =>
                require(param >= 0, s"\\uc with negative parameter")
                uc = param.toInt
              case "par" =>
                if (!skipping) { paragraphs += cur.toString; cur.setLength(0) }
              case "tab" => if (!skipping && pendingFallback == 0) cur.append('\t')
              case "line" => if (!skipping && pendingFallback == 0) cur.append('\n')
              case "bin" =>
                require(param >= 0, "\\bin with negative length")
                j += param.toInt // raw bytes: not text, always skipped
                require(j <= n, "\\bin runs past EOF")
              case d if SkipDestinations.contains(d) => skipping = true
              case _ => // unknown / formatting control word: ignored
            }
            i = j
          }
        case '\r' | '\n' => i += 1 // raw newlines are ignored per spec
        case _ =>
          if (!skipping) {
            if (pendingFallback > 0) pendingFallback -= 1
            else cur.append(decodeByte(b))
          }
          i += 1
      }
    }
    require(stack.isEmpty, "unbalanced open brace in RTF")
    if (cur.length > 0) paragraphs += cur.toString
    paragraphs.result()
  }

  // ------------------------------------------------------------------
  // Dataset operators
  // ------------------------------------------------------------------

  /** Paragraph layout rule shared with the q396 oracle: 7 words per
    * paragraph (deliberately different from DOCX's 9 so the two
    * container fixtures cannot mask each other).
    */
  val WordsPerParagraph = 7

  def asRtfMedia(docs: DataFrame): DataFrame = {
    Multimodal.perDocument(Parallelism.ensure(docs)) { rows =>
      rows.map { case (id, text) =>
        val paras = text.split(" ", -1).grouped(WordsPerParagraph)
          .map(_.mkString(" ")).toSeq
        Multimodal.MediaRecord(id,
          encode(if (paras.isEmpty) Seq("") else paras))
      }
    }.toDF("doc_id", "payload")
  }

  final case class RtfText(doc_id: Long, n_paragraphs: Int, text: String)

  /** Distributed extraction; `text` = paragraphs joined by newlines. */
  def extractTexts(media: DataFrame): Dataset[RtfText] = {
    Multimodal.perPayload(media) { records =>
      records.map { r =>
        val paras = extractText(r.payload)
        RtfText(r.doc_id, paras.size, paras.mkString("\n"))
      }
    }
  }
}
