package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}

/** DOCX text extraction — the office-document source next to PDF in
  * real training corpora. A .docx is an OPC ZIP package (ECMA-376)
  * whose text lives in `word/document.xml` as WordprocessingML:
  * paragraphs `<w:p>` of runs `<w:r>` of text nodes `<w:t>`, with
  * explicit `<w:tab/>` and `<w:br/>` marks. This implements both
  * directions from the published container + markup rules:
  *
  *   - writer: ZIP package with `[Content_Types].xml`, `_rels/.rels`,
  *     and `word/document.xml`; paragraphs split into multiple runs
  *     (so run concatenation is actually exercised) with
  *     `xml:space="preserve"` on space-carrying text nodes, XML
  *     entities escaped;
  *   - reader: ZIP walk to `word/document.xml`, then a streaming tag
  *     walk — `<w:t>` content collected (entities decoded: the five
  *     named + numeric `&#N;`/`&#xH;`), runs concatenate inside their
  *     paragraph, `<w:tab/>` → TAB, `<w:br/>` → newline, `</w:p>`
  *     ends a paragraph. Ignorable markup (run properties, section
  *     properties, comments `<!-- -->`) skips.
  *
  * OUT OF SCOPE — loud refusal: packages without `word/document.xml`,
  * CDATA sections, and unterminated tags/entities. Tables/headers/
  * footnotes live in other parts and simply don't contribute (the
  * main-document scope a curation pipeline wants by default).
  */
object Docx {

  // ------------------------------------------------------------------
  // Writer
  // ------------------------------------------------------------------

  private[operators] def xmlEscape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    s.foreach {
      case '&' => sb.append("&amp;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case '"' => sb.append("&quot;")
      case c => sb.append(c)
    }
    sb.toString
  }

  private val ContentTypes =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
      |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
      |<Default Extension="xml" ContentType="application/xml"/>
      |<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>
      |</Types>""".stripMargin

  private val Rels =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
      |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="word/document.xml"/>
      |</Relationships>""".stripMargin

  /** Serialize paragraphs as a minimal valid .docx. Each paragraph is
    * split into runs of `wordsPerRun` words so the reader's
    * run-concatenation rule carries real weight; a leading-space text
    * node marks `xml:space="preserve"` as Word itself does.
    */
  def encode(paragraphs: Seq[String], wordsPerRun: Int = 3): Array[Byte] = {
    require(wordsPerRun >= 1, s"wordsPerRun $wordsPerRun")
    val doc = new StringBuilder
    doc.append("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
    doc.append("\n<w:document xmlns:w=\"http://schemas.openxmlformats.org/" +
      "wordprocessingml/2006/main\"><w:body>")
    paragraphs.foreach { p =>
      doc.append("<w:p><w:pPr><w:jc w:val=\"left\"/></w:pPr>")
      val words = p.split(" ", -1)
      words.grouped(wordsPerRun).zipWithIndex.foreach { case (g, i) =>
        // runs after the first carry the joining space INSIDE their
        // text node — the xml:space="preserve" case
        val text = (if (i == 0) "" else " ") + g.mkString(" ")
        doc.append("<w:r><w:rPr><w:sz w:val=\"24\"/></w:rPr>")
        if (text.startsWith(" ") || text.endsWith(" "))
          doc.append("<w:t xml:space=\"preserve\">")
        else doc.append("<w:t>")
        doc.append(xmlEscape(text)).append("</w:t></w:r>")
      }
      doc.append("</w:p>")
    }
    doc.append("<w:sectPr><w:pgSz w:w=\"12240\" w:h=\"15840\"/></w:sectPr>")
    doc.append("</w:body></w:document>")

    val bos = new java.io.ByteArrayOutputStream()
    val zip = new java.util.zip.ZipOutputStream(bos)
    def entry(name: String, body: Array[Byte]): Unit = {
      zip.putNextEntry(new java.util.zip.ZipEntry(name))
      zip.write(body)
      zip.closeEntry()
    }
    entry("[Content_Types].xml", ContentTypes.getBytes("UTF-8"))
    entry("_rels/.rels", Rels.getBytes("UTF-8"))
    entry("word/document.xml", doc.toString.getBytes("UTF-8"))
    zip.close()
    bos.toByteArray
  }

  // ------------------------------------------------------------------
  // Reader
  // ------------------------------------------------------------------

  /** Extract paragraph texts from a .docx byte array. */
  def extractText(docx: Array[Byte]): Vector[String] = {
    val zip = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(docx))
    var xml: Array[Byte] = null
    try {
      var e = zip.getNextEntry
      while (e != null && xml == null) {
        if (e.getName == "word/document.xml") {
          val buf = new java.io.ByteArrayOutputStream()
          val chunk = new Array[Byte](8192)
          var n = zip.read(chunk)
          while (n >= 0) { buf.write(chunk, 0, n); n = zip.read(chunk) }
          xml = buf.toByteArray
        } else e = zip.getNextEntry
      }
    } finally zip.close()
    require(xml != null,
      "not a DOCX package — no word/document.xml entry (or not a ZIP)")
    parseDocumentXml(new String(xml, "UTF-8"))
  }

  /** The WordprocessingML text walk over document.xml. */
  private[graft] def parseDocumentXml(xml: String): Vector[String] = {
    require(!xml.contains("<![CDATA["), "CDATA sections are out of scope")
    val paragraphs = Vector.newBuilder[String]
    val cur = new java.lang.StringBuilder()
    var inT = false
    var inP = false
    var i = 0
    val n = xml.length
    def tagEnd(from: Int): Int = {
      val e = xml.indexOf('>', from)
      require(e >= 0, "unterminated tag in document.xml")
      e
    }
    while (i < n) {
      val c = xml.charAt(i)
      if (c == '<') {
        if (xml.startsWith("<!--", i)) {
          val e = xml.indexOf("-->", i + 4)
          require(e >= 0, "unterminated comment in document.xml")
          i = e + 3
        } else {
          val e = tagEnd(i)
          val raw = xml.substring(i + 1, e)
          val selfClosing = raw.endsWith("/")
          val body = if (selfClosing) raw.dropRight(1).trim else raw.trim
          val name = body.takeWhile(ch => !ch.isWhitespace)
          name match {
            case "w:p" => inP = true
            case "/w:p" =>
              if (inP) { paragraphs += cur.toString; cur.setLength(0) }
              inP = false
            case "w:t" => if (!selfClosing) inT = true
            case "/w:t" => inT = false
            case "w:tab" => if (inP) cur.append('\t')
            case "w:br" | "w:cr" => if (inP) cur.append('\n')
            case _ => // properties, section marks, bookmarks: ignore
          }
          i = e + 1
        }
      } else if (inT) {
        if (c == '&') {
          val semi = xml.indexOf(';', i + 1)
          require(semi > i && semi - i <= 10,
            "unterminated entity in document.xml")
          val ent = xml.substring(i + 1, semi)
          val rep = ent match {
            case "amp" => "&"
            case "lt" => "<"
            case "gt" => ">"
            case "quot" => "\""
            case "apos" => "'"
            case num if num.startsWith("#x") || num.startsWith("#X") =>
              String.valueOf(Integer.parseInt(num.substring(2), 16).toChar)
            case num if num.startsWith("#") =>
              String.valueOf(Integer.parseInt(num.substring(1)).toChar)
            case other => throw new IllegalArgumentException(
              s"unknown XML entity &$other;")
          }
          cur.append(rep)
          i = semi + 1
        } else { cur.append(c); i += 1 }
      } else i += 1
    }
    require(!inP && !inT, "document.xml ended inside a paragraph")
    paragraphs.result()
  }

  // ------------------------------------------------------------------
  // Dataset operators
  // ------------------------------------------------------------------

  /** Paragraph layout rule shared with the q393 oracle: 9 words per
    * paragraph, runs of 3 words inside each.
    */
  val WordsPerParagraph = 9

  def asDocxMedia(docs: DataFrame): DataFrame = {
    Multimodal.perDocument(Parallelism.ensure(docs)) { rows =>
      rows.map { case (id, text) =>
        val paras = text.split(" ", -1).grouped(WordsPerParagraph)
          .map(_.mkString(" ")).toSeq
        Multimodal.MediaRecord(id,
          encode(if (paras.isEmpty) Seq("") else paras))
      }
    }.toDF("doc_id", "payload")
  }

  final case class DocxText(doc_id: Long, n_paragraphs: Int, text: String)

  /** Distributed extraction; `text` = paragraphs joined by newlines. */
  def extractTexts(media: DataFrame): Dataset[DocxText] = {
    Multimodal.perPayload(media) { records =>
      records.map { r =>
        val paras = extractText(r.payload)
        DocxText(r.doc_id, paras.size, paras.mkString("\n"))
      }
    }
  }
}
