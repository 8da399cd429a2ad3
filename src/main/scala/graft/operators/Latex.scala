package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** LaTeX → text extraction — the source format of the arXiv corpus
  * (papers ship as .tex, and the prose is what a curation pipeline
  * wants; math is a separate training channel, citations and labels
  * are structure, not text). Implements the deterministic TeX core:
  *
  *   - `%` comments to end of line (`\%` is a literal percent);
  *   - character escapes `\% \& \# \_ \$ \{ \}` and the named forms
  *     `\textbackslash{} \textasciitilde{} \textasciicircum{}`;
  *     `~` (non-breaking space) reads as a space;
  *   - text-flowing commands `\textbf \textit \emph \texttt
  *     \underline` and `\section \subsection \subsubsection` — the
  *     braces are transparent, their content is text;
  *   - dropped-argument commands `\footnote` (counted), `\cite \ref
  *     \label \documentclass \usepackage` (balanced-brace skip);
  *   - no-argument switches `\item \Large \large \small` (one
  *     following space gobbled, the TeX tokenizer rule);
  *   - environments: `itemize enumerate abstract` are transparent
  *     wrappers; `equation displaymath align*` capture verbatim into
  *     the MATH channel (counted, never text); inline `$…$` likewise;
  *   - paragraphs (blank-line separated) are the line structure;
  *     comment-only and structure-only paragraphs contribute nothing;
  *   - anything before `\begin{document}` / after `\end{document}` is
  *     preamble and drops; unknown commands or environments refuse
  *     loudly (the codec doctrine — silence would corrupt text).
  *
  * The writer renders a document's words by a fixed layout rule
  * (10 words per paragraph; section/itemize/size-group by line
  * stride; bold/emph/tt by word stride; inline math, footnotes and
  * cites ATTACHED to stride words with index-derived content) so
  * extraction must be exactly text-transparent — the q400 oracle
  * replays the layout AND the math channel arithmetically.
  */
object Latex {

  // ------------------------------------------------------------------
  // Writer
  // ------------------------------------------------------------------

  private[graft] def escapeTex(w: String): String = {
    val sb = new java.lang.StringBuilder(w.length + 4)
    w.foreach {
      case '\\' => sb.append("\\textbackslash{}")
      case '~' => sb.append("\\textasciitilde{}")
      case '^' => sb.append("\\textasciicircum{}")
      case c @ ('%' | '&' | '#' | '_' | '$' | '{' | '}') =>
        sb.append('\\').append(c)
      case c => sb.append(c)
    }
    sb.toString
  }

  /** Decorate word `w` at 0-based document index `j`: bold/emph/tt by
    * stride, then inline math, a footnote, and a cite attached (their
    * content is index-derived, never document text).
    */
  private def decorate(w: String, j: Int): String = {
    val esc = escapeTex(w)
    val d =
      if (w.isEmpty) esc
      else if (j % 5 == 1) "\\textbf{" + esc + "}"
      else if (j % 5 == 3) "\\emph{" + esc + "}"
      else if (j % 7 == 2) "\\texttt{" + esc + "}"
      else esc
    val withMath = if (j % 9 == 4) d + "$x_{" + j + "}+1$" else d
    val withFn =
      if (j % 10 == 6) withMath + "\\footnote{note " + j + "}" else withMath
    if (j % 11 == 8) withFn + "\\cite{src" + j + "}" else withFn
  }

  /** Words per rendered paragraph — the q400 oracle's layout constant. */
  val WordsPerLine = 10

  /** Render a word sequence as a LaTeX document: full preamble, then
    * paragraphs of [[WordsPerLine]] words — 1-based index li styled by
    * stride: li%6==1 `\section`, ==2 an itemize item, ==3 a
    * `{\Large }` group, else plain — and (if `equation` is set) a
    * trailing equation environment routed to the math channel.
    */
  def render(words: Seq[String], equation: Option[String]): String = {
    val sb = new StringBuilder
    sb.append("\\documentclass{article}\n")
    sb.append("% generated fixture, not document text\n")
    sb.append("\\usepackage{amsmath}\n\n\\begin{document}\n\n")
    words.grouped(WordsPerLine).zipWithIndex.foreach { case (ws, i) =>
      val li = i + 1
      val base = i * WordsPerLine
      val body = ws.zipWithIndex
        .map { case (w, j) => decorate(w, base + j) }.mkString(" ")
      val par = (li % 6) match {
        case 1 => "\\section{" + body + "}"
        case 2 => "\\begin{itemize}\\item " + body + "\\end{itemize}"
        case 3 => "{\\Large " + body + "}"
        // an all-empty-words plain paragraph carries no content marker
        // (attachments like $math$ don't count as text); an empty
        // group keeps it a (text-empty) content paragraph
        case _ => if (ws.forall(_.isEmpty)) body + "{}" else body
      }
      sb.append(par).append("\n\n")
    }
    equation.foreach { eq =>
      sb.append("\\begin{equation}").append(eq).append("\\end{equation}\n\n")
    }
    sb.append("\\end{document}\n")
    sb.toString
  }

  // ------------------------------------------------------------------
  // Reader
  // ------------------------------------------------------------------

  final case class TexDoc(textLines: Vector[String],
    mathBlocks: Vector[String], nFootnotes: Int)

  private val TextCommands = Set("textbf", "textit", "emph", "texttt",
    "underline", "section", "subsection", "subsubsection")
  private val DropCommands = Set("footnote", "cite", "ref", "label",
    "documentclass", "usepackage")
  private val SwitchCommands = Set("item", "Large", "large", "small")
  private val WrapperEnvs = Set("itemize", "enumerate", "abstract")
  private val MathEnvs = Set("equation", "displaymath", "align*")

  /** Remove `%` comments (to end of line), keeping `\%` escapes. */
  private[graft] def stripComments(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < n) { sb.append(c).append(s.charAt(i + 1)); i += 2 }
      else if (c == '%') { while (i < n && s.charAt(i) != '\n') i += 1 }
      else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Skip a balanced `{…}` group starting at `i` (which must point at
    * the opening brace); returns the index after the closing brace.
    */
  private def skipGroup(s: String, i: Int): Int = {
    require(i < s.length && s.charAt(i) == '{',
      s"expected a {argument} at position $i in LaTeX source")
    var depth = 1
    var j = i + 1
    while (j < s.length && depth > 0) {
      val c = s.charAt(j)
      if (c == '\\' && j + 1 < s.length) j += 2
      else {
        if (c == '{') depth += 1 else if (c == '}') depth -= 1
        j += 1
      }
    }
    require(depth == 0, "unterminated {argument} in LaTeX source")
    j
  }

  private def parseEnvName(s: String, i: Int): (String, Int) = {
    val e = skipGroup(s, i)
    (s.substring(i + 1, e - 1), e)
  }

  private final class Walk(s: String) {
    val text = new java.lang.StringBuilder()
    val maths = Vector.newBuilder[String]
    var footnotes = 0
    var sawText = false
    private var i = 0
    private val n = s.length

    private def gobbleOneSpace(): Unit =
      if (i < n && s.charAt(i) == ' ') i += 1

    def run(): Unit = {
      while (i < n) {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < n && s.charAt(i + 1).isLetter) {
          var j = i + 1
          while (j < n && (s.charAt(j).isLetter || s.charAt(j) == '*')) j += 1
          val name = s.substring(i + 1, j)
          i = j
          name match {
            case "textbackslash" | "textasciitilde" | "textasciicircum" =>
              text.append(name match {
                case "textbackslash" => '\\'
                case "textasciitilde" => '~'
                case _ => '^'
              })
              sawText = true
              if (i + 1 < n && s.charAt(i) == '{' && s.charAt(i + 1) == '}')
                i += 2
            case "begin" =>
              val (env, e) = parseEnvName(s, i)
              i = e
              if (MathEnvs.contains(env)) {
                val endTag = "\\end{" + env + "}"
                val stop = s.indexOf(endTag, i)
                require(stop >= 0, s"unterminated \\begin{$env} in LaTeX")
                maths += s.substring(i, stop).trim
                i = stop + endTag.length
              } else
                require(WrapperEnvs.contains(env),
                  s"unsupported LaTeX environment: $env")
            case "end" =>
              val (env, e) = parseEnvName(s, i)
              require(WrapperEnvs.contains(env),
                s"unexpected \\end{$env} in LaTeX")
              i = e
            case nm if TextCommands.contains(nm) =>
              sawText = true // braces that follow are transparent
            case nm if DropCommands.contains(nm) =>
              if (nm == "footnote") footnotes += 1
              i = skipGroup(s, i)
            case nm if SwitchCommands.contains(nm) =>
              sawText = true
              gobbleOneSpace()
            case other =>
              throw new IllegalArgumentException(
                s"unsupported LaTeX command: \\$other")
          }
        } else if (c == '\\' && i + 1 < n) { // character escape
          text.append(s.charAt(i + 1)); sawText = true; i += 2
        } else if (c == '$') {
          val e = s.indexOf('$', i + 1)
          require(e >= 0, "unterminated $math$ in LaTeX")
          maths += s.substring(i + 1, e)
          i = e + 1
        } else if (c == '{' || c == '}') { sawText = true; i += 1 }
        else if (c == '~') { text.append(' '); sawText = true; i += 1 }
        else if (c == '\n') { text.append(' '); i += 1 }
        else { text.append(c); sawText = c != ' ' || sawText; i += 1 }
      }
    }
  }

  /** Full extraction over one document: preamble cut, paragraph split,
    * per-paragraph walk. `textLines` has one entry per content
    * paragraph; `mathBlocks` collects inline and display math in
    * document order.
    */
  def extract(tex: String): TexDoc = {
    val body0 = {
      val b = tex.indexOf("\\begin{document}")
      val e = tex.indexOf("\\end{document}")
      if (b >= 0) {
        require(e > b, "missing \\end{document} in LaTeX")
        tex.substring(b + "\\begin{document}".length, e)
      } else tex
    }
    val lines = Vector.newBuilder[String]
    val maths = Vector.newBuilder[String]
    var footnotes = 0
    // paragraphs: runs of non-blank lines
    val par = new StringBuilder
    def flush(): Unit = {
      val src = stripComments(par.toString)
      par.clear()
      if (src.trim.nonEmpty) {
        // not trimmed: leading/trailing spaces are empty-word text
        val w = new Walk(src)
        w.run()
        maths ++= w.maths.result()
        footnotes += w.footnotes
        if (w.sawText) lines += w.text.toString
      }
    }
    body0.split("\n", -1).foreach { ln =>
      if (ln.trim.isEmpty) flush()
      else { if (par.nonEmpty) par.append('\n'); par.append(ln) }
    }
    flush()
    TexDoc(lines.result(), maths.result(), footnotes)
  }

  // ------------------------------------------------------------------
  // Dataset operators
  // ------------------------------------------------------------------

  /** Render the documents table as LaTeX by the fixture rule; ids
    * %3==0 also carry a display equation (content fixed, NOT document
    * text — the math-channel routing case).
    */
  def asLatexDocs(docs: DataFrame): DataFrame = {
    Multimodal.perDocument(Parallelism.ensure(docs)) { rows =>
      rows.map { case (id, text) =>
        val words = text.split(" ", -1).toSeq
        val eq = if (id % 3 == 0) Some("E = m c^2") else None
        (id, render(words, eq))
      }
    }.toDF("doc_id", "latex")
  }

  final case class TexText(doc_id: Long, n_lines: Int, n_math: Int,
    n_footnotes: Int, text: String, math: String)

  /** Distributed extraction; `text` = content paragraphs joined by
    * newlines, `math` = the math channel joined by newlines.
    */
  def extractTexts(texs: DataFrame): Dataset[TexText] = {
    import texs.sparkSession.implicits._
    texs.select(col("doc_id"), col("latex"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, tex) =>
          val doc = extract(tex)
          TexText(id, doc.textLines.size, doc.mathBlocks.size,
            doc.nFootnotes, doc.textLines.mkString("\n"),
            doc.mathBlocks.mkString("\n"))
        }
      }
  }
}
