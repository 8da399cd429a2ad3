package graft.operators

import graft.functions.Digest
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** MIME email extraction — mail archives are a classic text corpus
  * (mbox/EML files), and the prose hides behind RFC 2045/5322
  * machinery: folded headers, multipart boundaries, and
  * content-transfer encodings. Implements the deterministic core:
  *
  *   - headers: name:value with RFC 5322 FOLDING (a continuation line
  *     starts with whitespace and joins with a single space),
  *     case-insensitive names, the blank line ends the header block;
  *   - multipart: `Content-Type: multipart/...; boundary="..."` —
  *     parts delimited by `--boundary`, terminated by `--boundary--`,
  *     preamble and epilogue discarded per the RFC;
  *   - transfer encodings: quoted-printable (both directions: `=XX`
  *     escapes, soft line breaks `=\n`, 76-char lines, trailing
  *     space/tab protected) and base64 (RFC 2045 alphabet, wrapped);
  *     7bit/8bit pass through; anything else refuses loudly;
  *   - bodies decode as UTF-8 bytes, so non-ASCII text survives both
  *     encodings exactly.
  */
object Mime {

  // ------------------------------------------------------------------
  // Quoted-printable
  // ------------------------------------------------------------------

  private val Hex = "0123456789ABCDEF"

  /** Encode UTF-8 bytes as quoted-printable: literal printable ASCII
    * except '=', escaped otherwise; soft breaks keep lines ≤ 76 chars;
    * a space or tab that would end a line is escaped (the RFC's
    * trailing-whitespace rule).
    */
  private[graft] def qpEncode(s: String): String = {
    val bytes = s.getBytes("UTF-8")
    val sb = new java.lang.StringBuilder(bytes.length + 16)
    var lineLen = 0
    def emit(tok: String): Unit = {
      if (lineLen + tok.length > 75) { // leave room for a soft break
        sb.append("=\n")
        lineLen = 0
      }
      sb.append(tok)
      lineLen += tok.length
    }
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xFF
      val isLast = i == bytes.length - 1
      if (b == '=' || b < 32 || b > 126 || ((b == ' ' || b == '\t') && isLast))
        emit("=" + Hex((b >> 4) & 0xF) + Hex(b & 0xF))
      else emit(b.toChar.toString)
      i += 1
    }
    sb.toString
  }

  /** Decode quoted-printable to the original string (UTF-8). */
  private[graft] def qpDecode(s: String): String = {
    val out = new java.io.ByteArrayOutputStream(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '=') {
        require(i + 1 < s.length, "truncated quoted-printable escape")
        if (s.charAt(i + 1) == '\n') i += 2 // soft break
        else if (s.charAt(i + 1) == '\r' && i + 2 < s.length &&
          s.charAt(i + 2) == '\n') i += 3
        else {
          require(i + 2 < s.length, "truncated quoted-printable escape")
          val hi = Character.digit(s.charAt(i + 1), 16)
          val lo = Character.digit(s.charAt(i + 2), 16)
          require(hi >= 0 && lo >= 0,
            s"bad quoted-printable escape =${s.substring(i + 1, i + 3)}")
          out.write((hi << 4) | lo)
          i += 3
        }
      } else if (c == '\r') i += 1 // CRLF normalizes to LF
      else { out.write(c.toInt); i += 1 }
    }
    new String(out.toByteArray, "UTF-8")
  }

  // ------------------------------------------------------------------
  // Writer
  // ------------------------------------------------------------------

  /** Render one multipart/alternative email: folded custom header,
    * quoted-printable text/plain part, base64 text/html part.
    */
  def renderEmail(id: Long, text: String): String = {
    val boundary = s"b$id"
    require(!text.contains(boundary), "text collides with the boundary")
    val b64 = java.util.Base64.getMimeEncoder(72, "\n".getBytes)
      .encodeToString(("<p>" + text + "</p>").getBytes("UTF-8"))
    val sb = new StringBuilder
    sb.append(s"From: writer-${id % 7}@example.com\n")
    sb.append(s"To: corpus@example.com\n")
    sb.append(s"Subject: doc $id\n")
    // a folded header: continuation lines start with whitespace
    sb.append("X-Graft-Tag: alpha beta\n")
    sb.append("  gamma delta\n")
    sb.append("\tepsilon\n")
    sb.append("MIME-Version: 1.0\n")
    sb.append(s"""Content-Type: multipart/alternative; boundary="$boundary"\n""")
    sb.append("\n")
    sb.append("preamble to be discarded\n")
    sb.append(s"--$boundary\n")
    sb.append("Content-Type: text/plain; charset=utf-8\n")
    sb.append("Content-Transfer-Encoding: quoted-printable\n")
    sb.append("\n")
    sb.append(qpEncode(text)).append("\n")
    sb.append(s"--$boundary\n")
    sb.append("Content-Type: text/html; charset=utf-8\n")
    sb.append("Content-Transfer-Encoding: base64\n")
    sb.append("\n")
    sb.append(b64).append("\n")
    sb.append(s"--$boundary--\n")
    sb.append("epilogue also discarded\n")
    sb.toString
  }

  // ------------------------------------------------------------------
  // Reader
  // ------------------------------------------------------------------

  /** Parse a header block (already split at the blank line): folded
    * lines joined with one space, names lower-cased.
    */
  private[graft] def parseHeaders(block: String): Map[String, String] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var name: String = null
    block.split("\r?\n", -1).foreach { line =>
      if (line.nonEmpty) {
        if (line.charAt(0) == ' ' || line.charAt(0) == '\t') {
          require(name != null, s"continuation line before any header: $line")
          out(name) = out(name) + " " + line.trim
        } else {
          val colon = line.indexOf(':')
          require(colon > 0, s"malformed header line: $line")
          name = line.substring(0, colon).toLowerCase
          out(name) = line.substring(colon + 1).trim
        }
      }
    }
    out.toMap
  }

  private val BoundaryRx =
    """(?i)boundary="?([^";]+)"?""".r

  final case class Part(contentType: String, body: String)
  final case class Email(subject: String, from: String,
    foldedTag: String, parts: Seq[Part])

  private def decodeBody(headers: Map[String, String],
    raw: String): String =
    headers.getOrElse("content-transfer-encoding", "7bit")
      .toLowerCase match {
      case "quoted-printable" => qpDecode(raw.stripSuffix("\n"))
      case "base64" =>
        new String(java.util.Base64.getMimeDecoder.decode(raw), "UTF-8")
      case "7bit" | "8bit" | "binary" => raw.stripSuffix("\n")
      case other => throw new IllegalArgumentException(
        s"unsupported content-transfer-encoding: $other")
    }

  /** Parse one EML string into subject/from/folded-header/parts. */
  def parse(eml: String): Email = {
    val norm = eml.replace("\r\n", "\n")
    val split = norm.indexOf("\n\n")
    require(split > 0, "no header/body separator")
    val headers = parseHeaders(norm.substring(0, split))
    val body = norm.substring(split + 2)
    val ct = headers.getOrElse("content-type", "text/plain")
    val parts =
      if (ct.toLowerCase.startsWith("multipart/")) {
        val boundary = BoundaryRx.findFirstMatchIn(ct)
          .map(_.group(1))
          .getOrElse(throw new IllegalArgumentException(
            s"multipart without a boundary: $ct"))
        val delim = s"--$boundary"
        val chunks = body.split(java.util.regex.Pattern.quote(delim), -1)
        require(chunks.length >= 2,
          "multipart body without any boundary delimiter")
        val last = chunks.last
        require(last.startsWith("--"),
          "multipart body without the closing boundary")
        // chunks.head = preamble (discard); middle chunks = parts
        chunks.slice(1, chunks.length - 1).map { chunk =>
          val c = chunk.stripPrefix("\n")
          val hb = c.indexOf("\n\n")
          require(hb >= 0, "part without a header/body separator")
          val ph = parseHeaders(c.substring(0, hb))
          Part(ph.getOrElse("content-type", "text/plain"),
            decodeBody(ph, c.substring(hb + 2)))
        }.toSeq
      } else Seq(Part(ct, decodeBody(headers, body)))
    Email(
      subject = headers.getOrElse("subject", ""),
      from = headers.getOrElse("from", ""),
      foldedTag = headers.getOrElse("x-graft-tag", ""),
      parts = parts)
  }

  // ------------------------------------------------------------------
  // Dataset operators
  // ------------------------------------------------------------------

  /** Render the documents table as EML messages by the fixture rule. */
  def asEmailDocs(docs: DataFrame): DataFrame = {
    Multimodal.perDocument(Parallelism.ensure(docs))(_.map { case (id, text) =>
      (id, renderEmail(id, text))
    }).toDF("doc_id", "eml")
  }

  final case class EmailRow(doc_id: Long, subject: String, from: String,
    n_parts: Int, plain_md5: String, html_md5: String)

  /** Distributed extraction: the two alternative bodies and the
    * envelope fields.
    */
  def extractEmails(emls: DataFrame): Dataset[EmailRow] = {
    import emls.sparkSession.implicits._
    emls.select(col("doc_id"), col("eml"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, eml) =>
        val e = parse(eml)
        val plain = e.parts.filter(_.contentType.startsWith("text/plain"))
        val html = e.parts.filter(_.contentType.startsWith("text/html"))
        require(plain.size == 1 && html.size == 1,
          s"doc $id: expected one plain and one html part")
        EmailRow(id, e.subject, e.from, e.parts.size,
          Digest.md5Hex(plain.head.body), Digest.md5Hex(html.head.body))
      })
  }
}
