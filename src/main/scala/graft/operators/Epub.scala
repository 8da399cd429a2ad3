package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}

/** EPUB text extraction — books, the long-form corpus source. An
  * .epub is an OCF ZIP container (IDPF/W3C spec): a STORED (never
  * deflated) `mimetype` entry first, `META-INF/container.xml` pointing
  * at the OPF package document, whose `<manifest>` maps ids to hrefs
  * and whose `<spine>` lists the reading order; chapters are XHTML.
  *
  * Reader: container walk → rootfile `full-path` → OPF manifest+spine
  * → each spine chapter's XHTML through the engine's own
  * [[graft.functions.Web.htmlToText]] rules (script/style/comments
  * dropped, block tags break lines, entities decode). Chapters return
  * in SPINE order, not ZIP order — the spec's reading-order contract.
  * Writer emits the full container (stored mimetype with CRC, nested
  * parts, one XHTML per chapter) so the q395 oracle replays the layout
  * arithmetically. Missing container/rootfile/OPF/spine entries and
  * manifest gaps refuse loudly.
  */
object Epub {

  // ------------------------------------------------------------------
  // Writer
  // ------------------------------------------------------------------

  // one escaper for both OPC writers — Docx's escapes quotes too,
  // which is harmless in element content and required in attributes
  private def xmlEscape(s: String): String = Docx.xmlEscape(s)

  /** Serialize chapters (each a seq of lines) as a minimal valid EPUB:
    * stored mimetype, container.xml, OPF with manifest + spine in
    * order, one XHTML per chapter with one `<p>` per line.
    */
  def encode(chapters: Seq[Seq[String]]): Array[Byte] = {
    require(chapters.nonEmpty, "an EPUB needs at least one chapter")
    val bos = new java.io.ByteArrayOutputStream()
    val zip = new java.util.zip.ZipOutputStream(bos)

    // the OCF rule: 'mimetype' first, STORED, no extra field
    val mime = "application/epub+zip".getBytes("US-ASCII")
    val me = new java.util.zip.ZipEntry("mimetype")
    me.setMethod(java.util.zip.ZipEntry.STORED)
    me.setSize(mime.length)
    val crc = new java.util.zip.CRC32()
    crc.update(mime)
    me.setCrc(crc.getValue)
    zip.putNextEntry(me)
    zip.write(mime)
    zip.closeEntry()

    def entry(name: String, body: String): Unit = {
      zip.putNextEntry(new java.util.zip.ZipEntry(name))
      zip.write(body.getBytes("UTF-8"))
      zip.closeEntry()
    }
    entry("META-INF/container.xml",
      """<?xml version="1.0"?>
        |<container version="1.0" xmlns="urn:oasis:names:tc:opendocument:xmlns:container">
        |<rootfiles><rootfile full-path="OEBPS/content.opf" media-type="application/oebps-package+xml"/></rootfiles>
        |</container>""".stripMargin)
    val manifest = chapters.indices.map(i =>
      s"""<item id="ch$i" href="ch$i.xhtml" media-type="application/xhtml+xml"/>""")
      .mkString("\n")
    // spine in REVERSE-manifest order would be wrong; spine defines
    // reading order and the reader must follow it, so write it forward
    val spine = chapters.indices.map(i => s"""<itemref idref="ch$i"/>""")
      .mkString("\n")
    entry("OEBPS/content.opf",
      s"""<?xml version="1.0"?>
         |<package xmlns="http://www.idpf.org/2007/opf" version="3.0" unique-identifier="uid">
         |<metadata><dc:identifier xmlns:dc="http://purl.org/dc/elements/1.1/" id="uid">graft-book</dc:identifier></metadata>
         |<manifest>
         |$manifest
         |</manifest>
         |<spine>
         |$spine
         |</spine>
         |</package>""".stripMargin)
    chapters.zipWithIndex.foreach { case (lines, i) =>
      val body = lines.map(l => s"<p>${xmlEscape(l)}</p>").mkString("\n")
      entry(s"OEBPS/ch$i.xhtml",
        s"""<?xml version="1.0" encoding="UTF-8"?>
           |<html xmlns="http://www.w3.org/1999/xhtml"><head><style>p { margin: 0 }</style></head>
           |<body>
           |$body
           |</body></html>""".stripMargin)
    }
    zip.close()
    bos.toByteArray
  }

  // ------------------------------------------------------------------
  // Reader
  // ------------------------------------------------------------------

  private def zipEntries(epub: Array[Byte]): Map[String, Array[Byte]] = {
    val zip = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(epub))
    val out = Map.newBuilder[String, Array[Byte]]
    try {
      var e = zip.getNextEntry
      while (e != null) {
        if (!e.isDirectory) {
          val buf = new java.io.ByteArrayOutputStream()
          val chunk = new Array[Byte](8192)
          var n = zip.read(chunk)
          while (n >= 0) { buf.write(chunk, 0, n); n = zip.read(chunk) }
          out += e.getName -> buf.toByteArray
        }
        e = zip.getNextEntry
      }
    } finally zip.close()
    out.result()
  }

  /** `name="value"` attribute lookup inside one tag body. The match
    * requires a whitespace boundary BEFORE the name — a bare substring
    * scan would read `guid="g1"` when asked for `id` (real EPUBs carry
    * such sibling attributes).
    */
  private def attr(tag: String, name: String): Option[String] = {
    val needle = name + "=\""
    var at = tag.indexOf(needle)
    while (at >= 0) {
      if (at > 0 && tag.charAt(at - 1).isWhitespace) {
        val end = tag.indexOf('"', at + needle.length)
        require(end >= 0, s"unterminated $name attribute")
        return Some(tag.substring(at + needle.length, end))
      }
      at = tag.indexOf(needle, at + 1)
    }
    None
  }

  /** Every `<tagName … >` (or self-closing) tag body in `xml`. */
  private def tagsOf(xml: String, tagName: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    val open = "<" + tagName
    while ({ i = xml.indexOf(open, i); i >= 0 }) {
      val after = i + open.length
      // a real tag boundary, not a prefix of a longer name
      if (after < xml.length &&
        (xml.charAt(after).isWhitespace || xml.charAt(after) == '>' ||
          xml.charAt(after) == '/')) {
        val e = xml.indexOf('>', i)
        require(e >= 0, s"unterminated <$tagName> tag")
        out += xml.substring(i + 1, e)
        i = e + 1
      } else i = after
    }
    out.result()
  }

  /** Extract chapter texts in SPINE order. */
  def extractText(epub: Array[Byte]): Vector[String] = {
    val entries = zipEntries(epub)
    require(entries.nonEmpty, "not an EPUB — empty or not a ZIP container")
    val container = entries.getOrElse("META-INF/container.xml",
      throw new IllegalArgumentException(
        "not an EPUB — no META-INF/container.xml"))
    val rootPath = tagsOf(new String(container, "UTF-8"), "rootfile")
      .flatMap(attr(_, "full-path")).headOption.getOrElse(
        throw new IllegalArgumentException(
          "container.xml has no rootfile full-path"))
    val opfBytes = entries.getOrElse(rootPath,
      throw new IllegalArgumentException(s"missing package document $rootPath"))
    val opf = new String(opfBytes, "UTF-8")
    val base = rootPath.lastIndexOf('/') match {
      case -1 => ""
      case k => rootPath.substring(0, k + 1)
    }
    val hrefs: Map[String, String] = tagsOf(opf, "item").flatMap { t =>
      for (id <- attr(t, "id"); href <- attr(t, "href")) yield id -> href
    }.toMap
    val spine = tagsOf(opf, "itemref").flatMap(attr(_, "idref"))
    require(spine.nonEmpty, "package document has an empty spine")
    spine.map { idref =>
      val href = hrefs.getOrElse(idref, throw new IllegalArgumentException(
        s"spine idref '$idref' missing from the manifest"))
      val chapter = entries.getOrElse(base + href,
        throw new IllegalArgumentException(s"missing chapter part $base$href"))
      graft.functions.Web.htmlToText(new String(chapter, "UTF-8"))
    }
  }

  // ------------------------------------------------------------------
  // Dataset operators
  // ------------------------------------------------------------------

  /** Layout rule shared with the q395 oracle: 5 words per line, 2
    * lines per chapter.
    */
  val WordsPerLine = 5
  val LinesPerChapter = 2

  def asEpubMedia(docs: DataFrame): DataFrame = {
    Multimodal.perDocument(Parallelism.ensure(docs)) { rows =>
      rows.map { case (id, text) =>
        val lines = text.split(" ", -1).grouped(WordsPerLine)
          .map(_.mkString(" ")).toSeq
        val chapters = lines.grouped(LinesPerChapter).map(_.toSeq).toSeq
        Multimodal.MediaRecord(id,
          encode(if (chapters.isEmpty) Seq(Seq("")) else chapters))
      }
    }.toDF("doc_id", "payload")
  }

  final case class EpubText(doc_id: Long, n_chapters: Int, text: String)

  /** Distributed extraction; `text` = chapters joined by newlines. */
  def extractTexts(media: DataFrame): Dataset[EpubText] = {
    Multimodal.perPayload(media) { records =>
      records.map { r =>
        val chapters = extractText(r.payload)
        EpubText(r.doc_id, chapters.size, chapters.mkString("\n"))
      }
    }
  }
}
