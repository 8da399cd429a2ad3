package graft.operators

import graft.functions.Digest
import org.apache.spark.sql.{DataFrame, Dataset}

/** Exif metadata for JPEG payloads — the metadata layer real web
  * images carry (camera make/model, capture time, pixel dimensions,
  * and above all ORIENTATION): a multimodal curation pipeline must
  * parse the APP1 TIFF structure and NORMALIZE orientation before any
  * pixel-level dedup/hash step, or the same photo stored rotated
  * hashes differently.
  *
  * Pure-JVM implementation of the public TIFF 6.0 / Exif 2.x layout:
  * an APP1 segment holding "Exif\0\0" + a TIFF byte stream (II or MM
  * byte order, IFD0 entry table, out-of-line values for ASCII/RATIONAL
  * longer than 4 bytes, an Exif sub-IFD via tag 0x8769), and the
  * 8-value Orientation tag (0x0112) with its canonical upright
  * transforms. ExifSpec cross-validates the writer against the JDK's
  * javax.imageio JPEG reader (which surfaces unknown APPn segments)
  * and pins the orientation group laws (o6∘o6 = o3, o5∘o5 = id).
  */
object Exif {

  // TIFF tag ids (public TIFF 6.0 / Exif 2.32 numbering)
  private val TagMake = 0x010f
  private val TagModel = 0x0110
  private val TagOrientation = 0x0112
  private val TagXResolution = 0x011a
  private val TagDateTime = 0x0132
  private val TagExifIfd = 0x8769
  private val TagPixelX = 0xa002
  private val TagPixelY = 0xa003

  final case class Meta(orientation: Int, make: String, model: String,
                        dateTime: String, xresNum: Long, xresDen: Long,
                        pixelX: Long, pixelY: Long, littleEndian: Boolean)

  private final class TiffWriter(littleEndian: Boolean) {
    val buf = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit =
      if (littleEndian) { buf.write(v & 0xff); buf.write((v >> 8) & 0xff) }
      else { buf.write((v >> 8) & 0xff); buf.write(v & 0xff) }
    def u32(v: Long): Unit =
      if (littleEndian) {
        buf.write((v & 0xff).toInt); buf.write(((v >> 8) & 0xff).toInt)
        buf.write(((v >> 16) & 0xff).toInt); buf.write(((v >> 24) & 0xff).toInt)
      } else {
        buf.write(((v >> 24) & 0xff).toInt); buf.write(((v >> 16) & 0xff).toInt)
        buf.write(((v >> 8) & 0xff).toInt); buf.write((v & 0xff).toInt)
      }
  }

  /** Build the APP1 payload ("Exif\0\0" + TIFF): IFD0 carries
    * make/model/orientation/XResolution/DateTime and the Exif-IFD
    * pointer; the Exif sub-IFD carries PixelX/YDimension. ASCII and
    * RATIONAL values exceeding 4 bytes live in the data area, so the
    * offset arithmetic the parser must get right is genuinely
    * exercised.
    */
  def buildApp1(meta: Meta): Array[Byte] = {
    val le = meta.littleEndian
    // entry = (tag, type, count, either inline value or data bytes)
    sealed trait V
    case class Inline(v: Long) extends V
    case class Data(bytes: Array[Byte]) extends V
    def ascii(s: String): Array[Byte] = (s + "\u0000").getBytes("US-ASCII")
    def rational(n: Long, d: Long): Array[Byte] = {
      val w = new TiffWriter(le); w.u32(n); w.u32(d); w.buf.toByteArray
    }
    // IFD0 entries must be sorted by tag per TIFF 6.0
    val ifd0 = Seq[(Int, Int, Long, V)](
      (TagMake, 2, ascii(meta.make).length.toLong, Data(ascii(meta.make))),
      (TagModel, 2, ascii(meta.model).length.toLong, Data(ascii(meta.model))),
      (TagOrientation, 3, 1L, Inline(meta.orientation.toLong)),
      (TagXResolution, 5, 1L, Data(rational(meta.xresNum, meta.xresDen))),
      (TagDateTime, 2, ascii(meta.dateTime).length.toLong,
        Data(ascii(meta.dateTime))),
      (TagExifIfd, 4, 1L, Inline(-1L)) // patched to the sub-IFD offset
    )
    val exifIfd = Seq[(Int, Int, Long, V)](
      (TagPixelX, 4, 1L, Inline(meta.pixelX)),
      (TagPixelY, 4, 1L, Inline(meta.pixelY)))

    // layout: header(8) | IFD0 | exif-IFD | data area
    val ifd0Size = 2 + ifd0.size * 12 + 4
    val exifIfdOff = 8L + ifd0Size
    val exifIfdSize = 2 + exifIfd.size * 12 + 4
    var dataOff = exifIfdOff + exifIfdSize
    val data = new java.io.ByteArrayOutputStream()
    def writeIfd(w: TiffWriter, entries: Seq[(Int, Int, Long, V)]): Unit = {
      w.u16(entries.size)
      entries.foreach { case (tag, typ, count, v) =>
        w.u16(tag); w.u16(typ); w.u32(count)
        v match {
          case Inline(x) if tag == TagExifIfd => w.u32(exifIfdOff)
          case Inline(x) =>
            // SHORT inline values occupy the FIRST two bytes of the
            // 4-byte field (type-sized packing, TIFF 6.0 §2)
            if (typ == 3) { w.u16(x.toInt); w.u16(0) } else w.u32(x)
          case Data(bytes) if bytes.length <= 4 =>
            bytes.foreach(b => w.buf.write(b & 0xff))
            (bytes.length until 4).foreach(_ => w.buf.write(0))
          case Data(bytes) =>
            w.u32(dataOff)
            data.write(bytes, 0, bytes.length)
            dataOff += bytes.length
        }
      }
      w.u32(0L) // next-IFD pointer: none
    }
    val w = new TiffWriter(le)
    // TIFF header
    val bom = if (le) "II" else "MM"
    w.buf.write(bom.getBytes("US-ASCII"), 0, 2)
    w.u16(42)
    w.u32(8L) // IFD0 offset
    writeIfd(w, ifd0)
    writeIfd(w, exifIfd)
    val tiff = w.buf.toByteArray ++ data.toByteArray
    "Exif\u0000\u0000".getBytes("US-ASCII") ++ tiff
  }

  final case class Gps(latUdeg: Long, lonUdeg: Long)

  /** Append a GPS sub-IFD (tag 0x8825) to an APP1 built by
    * [[buildApp1]]: GPSLatitude/GPSLongitude as the spec's 3-RATIONAL
    * triples (microdegrees in the first rational, zero min/sec — a
    * legal encoding that keeps the value on the integer lattice) plus
    * N/E refs. Works by REBUILDING: the GPS IFD and its data area are
    * appended and IFD0 gains the pointer entry, so offsets stay
    * consistent.
    */
  def buildApp1WithGps(meta: Meta, gps: Gps): Array[Byte] = {
    val base = buildApp1(meta) // "Exif\0\0" + TIFF
    val le = meta.littleEndian
    val tiff = base.drop(6)
    // IFD0 currently has 6 entries; rebuild with a 7th (GPS pointer,
    // tag 0x8825 sorted after 0x8769) pointing past the existing bytes.
    // Simplest robust rebuild: regenerate from scratch with the same
    // writer, mirroring buildApp1's layout plus the GPS block.
    val w = new TiffWriter(le)
    def ascii(s: String): Array[Byte] = (s + "\u0000").getBytes("US-ASCII")
    val mk = ascii(meta.make); val md = ascii(meta.model)
    val dt = ascii(meta.dateTime)
    val ifd0N = 7
    val exifN = 2
    val gpsN = 4
    val ifd0Size = 2 + ifd0N * 12 + 4
    val exifOff = 8L + ifd0Size
    val exifSize = 2 + exifN * 12 + 4
    val gpsOff = exifOff + exifSize
    val gpsSize = 2 + gpsN * 12 + 4
    var dataOff = gpsOff + gpsSize
    val data = new java.io.ByteArrayOutputStream()
    def rat(n: Long, d: Long): Unit = {
      val t = new TiffWriter(le); t.u32(n); t.u32(d)
      data.write(t.buf.toByteArray)
    }
    def entry(tag: Int, typ: Int, count: Long, inline: Long): Unit = {
      w.u16(tag); w.u16(typ); w.u32(count)
      if (typ == 3 && count == 1) { w.u16(inline.toInt); w.u16(0) }
      else w.u32(inline)
    }
    def dataEntry(tag: Int, typ: Int, count: Long,
                  bytes: Array[Byte]): Unit = {
      w.u16(tag); w.u16(typ); w.u32(count)
      if (bytes.length <= 4) {
        bytes.foreach(b => w.buf.write(b & 0xff))
        (bytes.length until 4).foreach(_ => w.buf.write(0))
      } else {
        w.u32(dataOff)
        data.write(bytes, 0, bytes.length)
        dataOff += bytes.length
      }
    }
    w.buf.write((if (le) "II" else "MM").getBytes("US-ASCII"), 0, 2)
    w.u16(42); w.u32(8L)
    // IFD0 (sorted by tag)
    w.u16(ifd0N)
    dataEntry(TagMake, 2, mk.length.toLong, mk)
    dataEntry(TagModel, 2, md.length.toLong, md)
    entry(TagOrientation, 3, 1L, meta.orientation.toLong)
    dataEntry(TagXResolution, 5, 1L, {
      val t = new TiffWriter(le); t.u32(meta.xresNum); t.u32(meta.xresDen)
      t.buf.toByteArray
    })
    dataEntry(TagDateTime, 2, dt.length.toLong, dt)
    entry(TagExifIfd, 4, 1L, exifOff)
    entry(TagGpsIfd, 4, 1L, gpsOff)
    w.u32(0L)
    // Exif sub-IFD
    w.u16(exifN)
    entry(TagPixelX, 4, 1L, meta.pixelX)
    entry(TagPixelY, 4, 1L, meta.pixelY)
    w.u32(0L)
    // GPS sub-IFD: refs inline, coordinates in the data area
    w.u16(gpsN)
    dataEntry(1, 2, 2L, "N\u0000".getBytes("US-ASCII"))
    w.u16(2); w.u16(5); w.u32(3L); w.u32(dataOff)
    rat(gps.latUdeg, 1000000L); rat(0L, 1L); rat(0L, 1L)
    dataOff += 24
    dataEntry(3, 2, 2L, "E\u0000".getBytes("US-ASCII"))
    w.u16(4); w.u16(5); w.u32(3L); w.u32(dataOff)
    rat(gps.lonUdeg, 1000000L); rat(0L, 1L); rat(0L, 1L)
    dataOff += 24
    w.u32(0L)
    "Exif\u0000\u0000".getBytes("US-ASCII") ++ w.buf.toByteArray ++
      data.toByteArray
  }

  private val TagGpsIfd = 0x8825

  /** Parse the GPS sub-IFD out of a JPEG's APP1 (None when the payload
    * carries no GPS block): microdegrees from the first rational of
    * each coordinate triple.
    */
  def parseGps(jpeg: Array[Byte]): Option[Gps] = {
    appTiffOf(jpeg).flatMap { tiff =>
      val le = tiff(0) == 'I'.toByte
      def u16(at: Int): Int =
        if (le) (tiff(at) & 0xff) | ((tiff(at + 1) & 0xff) << 8)
        else ((tiff(at) & 0xff) << 8) | (tiff(at + 1) & 0xff)
      def u32(at: Int): Long =
        if (le) (tiff(at) & 0xffL) | ((tiff(at + 1) & 0xffL) << 8) |
          ((tiff(at + 2) & 0xffL) << 16) | ((tiff(at + 3) & 0xffL) << 24)
        else ((tiff(at) & 0xffL) << 24) | ((tiff(at + 1) & 0xffL) << 16) |
          ((tiff(at + 2) & 0xffL) << 8) | (tiff(at + 3) & 0xffL)
      val ifd = u32(4).toInt
      val n = u16(ifd)
      var gpsOff = -1L
      (0 until n).foreach { i =>
        val e = ifd + 2 + i * 12
        if (u16(e) == TagGpsIfd) gpsOff = u32(e + 8)
      }
      if (gpsOff < 0) None
      else {
        val g = gpsOff.toInt
        val gn = u16(g)
        var lat = -1L
        var lon = -1L
        var latSign = 1L
        var lonSign = 1L
        (0 until gn).foreach { i =>
          val e = g + 2 + i * 12
          val tag = u16(e)
          if (tag == 1 || tag == 3) {
            // GPSLatitudeRef / GPSLongitudeRef: 2-byte ASCII, inline.
            // S/W hemispheres negate the coordinate in the audit trail.
            val ref = (tiff(e + 8) & 0xff).toChar
            require("NSEW".indexOf(ref) >= 0, s"bad GPS ref '$ref'")
            if (tag == 1) latSign = if (ref == 'S') -1L else 1L
            else lonSign = if (ref == 'W') -1L else 1L
          }
          if (tag == 2 || tag == 4) {
            val vOff = u32(e + 8).toInt
            val num = u32(vOff); val den = u32(vOff + 4)
            require(den == 1000000L,
              s"GPS coordinate denominator $den outside the udeg contract")
            if (tag == 2) lat = num else lon = num
          }
        }
        if (lat >= 0 && lon >= 0) Some(Gps(latSign * lat, lonSign * lon))
        else None
      }
    }
  }

  /** Extract the APP1 TIFF bytes of a JPEG (None when absent). */
  private def appTiffOf(jpeg: Array[Byte]): Option[Array[Byte]] = {
    var p = 2
    while (p + 2 <= jpeg.length) {
      val m = jpeg(p + 1) & 0xff
      if (m == 0xd9 || m == 0xda) return None
      require(p + 4 <= jpeg.length, "truncated JPEG segment")
      val len = ((jpeg(p + 2) & 0xff) << 8) | (jpeg(p + 3) & 0xff)
      require(len >= 2 && p + 2 + len <= jpeg.length, "truncated JPEG segment")
      if (m == 0xe1 && len >= 8 &&
        new String(jpeg, p + 4, 4, "US-ASCII") == "Exif")
        return Some(java.util.Arrays.copyOfRange(jpeg, p + 10, p + 2 + len))
      p += 2 + len
    }
    None
  }

  /** Strip the GPS block by CANONICAL REBUILD: parse the tag surface,
    * remove the whole APP1, and splice back a fresh [[buildApp1]] of
    * the parsed Meta (which never carries GPS). Pixels untouched; the
    * scrubbed payload parses to the same Meta with parseGps == None —
    * the metadata-PII scrub every public image corpus needs.
    */
  def stripGps(jpeg: Array[Byte]): Array[Byte] = {
    val meta = parseExif(jpeg).getOrElse(
      throw new IllegalArgumentException("no Exif APP1 to scrub"))
    // remove the existing APP1
    val out = new java.io.ByteArrayOutputStream()
    out.write(0xff); out.write(0xd8)
    var p = 2
    var copying = true
    while (copying && p + 2 <= jpeg.length) {
      val m = jpeg(p + 1) & 0xff
      if (m == 0xda) { // SOS: copy the rest verbatim
        out.write(jpeg, p, jpeg.length - p)
        copying = false
      } else {
        require(p + 4 <= jpeg.length, "truncated JPEG segment")
        val len = ((jpeg(p + 2) & 0xff) << 8) | (jpeg(p + 3) & 0xff)
        require(len >= 2 && p + 2 + len <= jpeg.length,
          "truncated JPEG segment")
        val isExif = m == 0xe1 && len >= 8 &&
          new String(jpeg, p + 4, 4, "US-ASCII") == "Exif"
        // drop EVERY Exif APP1: a wild JPEG can carry duplicates, and a
        // survivor would be a silent PII-scrub miss
        if (!isExif) out.write(jpeg, p, 2 + len)
        p += 2 + len
      }
    }
    insertApp1(out.toByteArray, buildApp1(meta))
  }

  /** Splice an APP1 segment into a JPEG immediately after SOI (ahead
    * of APP0 — Exif spec order; readers accept either).
    */
  def insertApp1(jpeg: Array[Byte], app1: Array[Byte]): Array[Byte] = {
    require(jpeg.length >= 2 && (jpeg(0) & 0xff) == 0xff &&
      (jpeg(1) & 0xff) == 0xd8, "not a JPEG (no SOI)")
    val segLen = app1.length + 2
    require(segLen <= 0xffff, "APP1 payload too large")
    val out = new Array[Byte](jpeg.length + 4 + app1.length)
    out(0) = 0xff.toByte; out(1) = 0xd8.toByte
    out(2) = 0xff.toByte; out(3) = 0xe1.toByte
    out(4) = ((segLen >> 8) & 0xff).toByte; out(5) = (segLen & 0xff).toByte
    System.arraycopy(app1, 0, out, 6, app1.length)
    System.arraycopy(jpeg, 2, out, 6 + app1.length, jpeg.length - 2)
    out
  }

  /** Parse the Exif APP1 out of a JPEG: marker walk to APP1/"Exif",
    * then the TIFF structure in either byte order — IFD0, the data
    * area, and the Exif sub-IFD. Returns None when no Exif APP1 is
    * present; throws on a STRUCTURALLY corrupt one (truncated IFD,
    * out-of-range offsets) — malformed metadata must fail loudly.
    */
  def parseExif(jpeg: Array[Byte]): Option[Meta] = {
    require(jpeg.length >= 2 && (jpeg(0) & 0xff) == 0xff &&
      (jpeg(1) & 0xff) == 0xd8, "not a JPEG (no SOI)")
    var p = 2
    var tiff: Array[Byte] = null
    var scanning = true
    while (scanning && p + 4 <= jpeg.length) {
      require((jpeg(p) & 0xff) == 0xff, f"bad marker byte at $p")
      val m = jpeg(p + 1) & 0xff
      if (m == 0xd9 || m == 0xda) scanning = false // EOI / SOS: no APP1 ahead
      else {
        val len = ((jpeg(p + 2) & 0xff) << 8) | (jpeg(p + 3) & 0xff)
        require(len >= 2 && p + 2 + len <= jpeg.length, "truncated JPEG segment")
        if (m == 0xe1 && len >= 8 &&
            new String(jpeg, p + 4, 4, "US-ASCII") == "Exif") {
          tiff = java.util.Arrays.copyOfRange(jpeg, p + 10, p + 2 + len)
          scanning = false
        } else p += 2 + len
      }
    }
    if (tiff == null) None else Some(parseTiff(tiff))
  }

  /** Parse a raw TIFF byte stream (either byte order) into [[Meta]] —
    * shared by the JPEG APP1 path and PNG's standardized eXIf chunk
    * (which carries the TIFF bytes WITHOUT the JPEG path's
    * Exif-plus-two-NUL prefix, per the PNG 1.2 extension spec).
    */
  def parseTiff(tiff: Array[Byte]): Meta = {
    require(tiff.length >= 8, "truncated TIFF header")
    val le = tiff(0) == 'I'.toByte && tiff(1) == 'I'.toByte
    require(le || (tiff(0) == 'M'.toByte && tiff(1) == 'M'.toByte),
      "bad TIFF byte-order mark")
    def u16(at: Int): Int = {
      require(at >= 0 && at + 2 <= tiff.length, s"TIFF read past end at $at")
      if (le) (tiff(at) & 0xff) | ((tiff(at + 1) & 0xff) << 8)
      else ((tiff(at) & 0xff) << 8) | (tiff(at + 1) & 0xff)
    }
    def u32(at: Int): Long = {
      require(at >= 0 && at + 4 <= tiff.length, s"TIFF read past end at $at")
      if (le) (tiff(at) & 0xffL) | ((tiff(at + 1) & 0xffL) << 8) |
        ((tiff(at + 2) & 0xffL) << 16) | ((tiff(at + 3) & 0xffL) << 24)
      else ((tiff(at) & 0xffL) << 24) | ((tiff(at + 1) & 0xffL) << 16) |
        ((tiff(at + 2) & 0xffL) << 8) | (tiff(at + 3) & 0xffL)
    }
    require(u16(2) == 42, "bad TIFF magic")
    var orientation = 1
    var make = ""; var model = ""; var dateTime = ""
    var xn = 0L; var xd = 1L; var px = 0L; var py = 0L
    var exifIfdOff = -1L
    def asciiAt(off: Int, count: Int): String = {
      require(off >= 0 && off + count <= tiff.length, "ASCII value past end")
      val raw = new String(tiff, off, count, "US-ASCII")
      if (raw.nonEmpty && raw.last == '\u0000') raw.dropRight(1) else raw
    }
    def walkIfd(ifdOff: Long): Unit = {
      val base = ifdOff.toInt
      val n = u16(base)
      (0 until n).foreach { i =>
        val e = base + 2 + i * 12
        val tag = u16(e); val typ = u16(e + 2); val count = u32(e + 4)
        val valueSize = (typ match {
          case 1 | 2 | 7 => 1L; case 3 => 2L; case 4 | 9 => 4L
          case 5 | 10 => 8L
          case other => throw new IllegalArgumentException(s"TIFF type $other")
        }) * count
        val vOff = if (valueSize <= 4) e + 8 else u32(e + 8).toInt
        tag match {
          case TagOrientation => orientation = u16(vOff)
          case TagMake => make = asciiAt(vOff, count.toInt)
          case TagModel => model = asciiAt(vOff, count.toInt)
          case TagDateTime => dateTime = asciiAt(vOff, count.toInt)
          case TagXResolution => xn = u32(vOff); xd = u32(vOff + 4)
          case TagPixelX => px = if (typ == 3) u16(vOff).toLong else u32(vOff)
          case TagPixelY => py = if (typ == 3) u16(vOff).toLong else u32(vOff)
          case TagExifIfd => exifIfdOff = u32(vOff)
          case _ => // unknown tag: skip (forward compatibility)
        }
      }
    }
    walkIfd(u32(4))
    if (exifIfdOff > 0) walkIfd(exifIfdOff)
    require(orientation >= 1 && orientation <= 8,
      s"Exif orientation $orientation out of range")
    Meta(orientation, make, model, dateTime, xn, xd, px, py, le)
  }

  /** Splice an eXIf chunk (raw TIFF payload, no JPEG prefix) into a
    * PNG immediately after IHDR. Ancillary by case, so every existing
    * PNG reader skips it untouched.
    */
  def insertPngExif(png: Array[Byte], tiff: Array[Byte]): Array[Byte] = {
    require(png.length >= 33 && (png(0) & 0xff) == 0x89 &&
      png(1) == 'P'.toByte, "not a PNG")
    val insertAt = 8 + 12 + 13 // signature + IHDR chunk
    val chunk = new java.io.ByteArrayOutputStream()
    val tag = "eXIf".getBytes("US-ASCII")
    chunk.write((tiff.length >> 24) & 0xff); chunk.write((tiff.length >> 16) & 0xff)
    chunk.write((tiff.length >> 8) & 0xff); chunk.write(tiff.length & 0xff)
    chunk.write(tag, 0, 4)
    chunk.write(tiff, 0, tiff.length)
    val crc = new java.util.zip.CRC32()
    crc.update(tag)
    crc.update(tiff)
    val c = crc.getValue.toInt
    chunk.write((c >> 24) & 0xff); chunk.write((c >> 16) & 0xff)
    chunk.write((c >> 8) & 0xff); chunk.write(c & 0xff)
    val body = chunk.toByteArray
    val out = new Array[Byte](png.length + body.length)
    System.arraycopy(png, 0, out, 0, insertAt)
    System.arraycopy(body, 0, out, insertAt, body.length)
    System.arraycopy(png, insertAt, out, insertAt + body.length,
      png.length - insertAt)
    out
  }

  /** Find and parse a PNG eXIf chunk (None when absent); chunk CRC
    * verified — corrupt metadata fails loudly.
    */
  def parsePngExif(png: Array[Byte]): Option[Meta] = {
    require(png.length >= 8 && (png(0) & 0xff) == 0x89 &&
      png(1) == 'P'.toByte, "not a PNG")
    var p = 8
    while (p + 12 <= png.length) {
      val len = ((png(p) & 0xff) << 24) | ((png(p + 1) & 0xff) << 16) |
        ((png(p + 2) & 0xff) << 8) | (png(p + 3) & 0xff)
      require(len >= 0 && p + 12 + len <= png.length, "truncated PNG chunk")
      val tag = new String(png, p + 4, 4, "US-ASCII")
      if (tag == "eXIf") {
        val crc = new java.util.zip.CRC32()
        crc.update(png, p + 4, 4 + len)
        val declared = ((png(p + 8 + len) & 0xff) << 24) |
          ((png(p + 9 + len) & 0xff) << 16) |
          ((png(p + 10 + len) & 0xff) << 8) | (png(p + 11 + len) & 0xff)
        require(crc.getValue.toInt == declared, "eXIf chunk CRC mismatch")
        return Some(parseTiff(
          java.util.Arrays.copyOfRange(png, p + 8, p + 8 + len)))
      }
      if (tag == "IEND") return None
      p += 12 + len
    }
    None
  }

  /** Apply the canonical upright transform for an Exif orientation to
    * interleaved RGB pixels. Returns (outWidth, outHeight, rgb). The
    * mapping follows the TIFF 6.0 Orientation table: 1 identity,
    * 2 mirror-H, 3 rotate 180, 4 mirror-V, 5 transpose, 6 rotate 90 CW,
    * 7 transverse, 8 rotate 270 CW.
    */
  def orientRgb(rgb: Array[Byte], w: Int, h: Int,
                orientation: Int): (Int, Int, Array[Byte]) = {
    require(rgb.length == w * h * 3, "RGB buffer size mismatch")
    require(orientation >= 1 && orientation <= 8, s"orientation $orientation")
    if (orientation == 1) return (w, h, rgb)
    val swap = orientation >= 5
    val ow = if (swap) h else w
    val oh = if (swap) w else h
    val out = new Array[Byte](rgb.length)
    var uy = 0
    while (uy < oh) {
      var ux = 0
      while (ux < ow) {
        val (sx, sy) = orientation match {
          case 2 => (w - 1 - ux, uy)
          case 3 => (w - 1 - ux, h - 1 - uy)
          case 4 => (ux, h - 1 - uy)
          case 5 => (uy, ux)
          case 6 => (uy, h - 1 - ux)
          case 7 => (w - 1 - uy, h - 1 - ux)
          case _ => (w - 1 - uy, ux) // 8
        }
        val s = (sy * w + sx) * 3
        val d = (uy * ow + ux) * 3
        out(d) = rgb(s); out(d + 1) = rgb(s + 1); out(d + 2) = rgb(s + 2)
        ux += 1
      }
      uy += 1
    }
    (ow, oh, out)
  }

  // ------------------------------------------------------------------
  // Dataset operators
  // ------------------------------------------------------------------

  /** Attach color-JPEG payloads CARRYING Exif APP1 metadata by
    * arithmetic rule: orientation 1 + doc_id%8, byte order II/MM by
    * parity, make/model/DateTime/XResolution varying with doc_id, and
    * PixelX/YDimension = the true encoded dims. Built on
    * [[Jpeg.asColorJpegMedia]]'s payloads via [[insertApp1]].
    */
  def asExifJpegMedia(docs: DataFrame): DataFrame = {
    Multimodal.perPayload(Jpeg.asColorJpegMedia(docs)) { rows =>
      rows.map { r =>
        val id = r.doc_id
        val (dw, dh) = Multimodal.jpegDims(r.payload).getOrElse(
          throw new IllegalArgumentException("payload has no SOF"))
        val meta = Meta(
          orientation = (1 + id % 8).toInt,
          make = s"Cam${id % 3}",
          model = s"M-${id % 5}",
          dateTime = f"2026:08:${1 + id % 9}%02d 00:00:00",
          xresNum = 72 + (id % 4) * 10, xresDen = 1,
          pixelX = dw.toLong, pixelY = dh.toLong,
          littleEndian = id % 2 == 0)
        Multimodal.MediaRecord(id, insertApp1(r.payload, buildApp1(meta)))
      }
    }.toDF("doc_id", "payload")
  }

  /** 4:4:4 Y/Cb/Cr planes from a block-byte grid: block (br, bc)
    * carries y = b, cb = 255−b, cr = (b+85)%256 from its OWN byte —
    * per-block chroma, so any block permutation (rotation included)
    * stays exactly representable at 4:4:4.
    */
  private def planesOfBlocks(bb: Array[Byte], bRows: Int, bCols: Int)
      : (Array[Byte], Array[Byte], Array[Byte]) = {
    val w = bCols * 8
    val h = bRows * 8
    val y = new Array[Byte](w * h)
    val cb = new Array[Byte](w * h)
    val cr = new Array[Byte](w * h)
    var i = 0
    while (i < y.length) {
      val b = bb((i / w / 8) * bCols + (i % w) / 8) & 0xff
      y(i) = b.toByte
      cb(i) = (255 - b).toByte
      cr(i) = ((b + 85) % 256).toByte
      i += 1
    }
    (y, cb, cr)
  }

  /** Attach, per document, TWO payloads of the SAME upright content:
    * the original (orientation 1) and a twin at doc_id+200000 stored
    * physically ROTATED 90° CCW with orientation tag 6 (so the upright
    * transform rotates it back). Both are 4:4:4 color JPEGs of
    * block-uniform planes (exactly representable), so after
    * normalization the decoded RGB is bit-identical — the fixture that
    * makes orientation-normalized dedup provable.
    */
  def asOrientedPairMedia(docs: DataFrame): DataFrame = {
    // two color encodes per row; a byte-small scan folding into one
    // task serializes them (the q193/q391 lesson)
    Multimodal.perDocument(Parallelism.ensure(docs)) { rows =>
      rows.flatMap { case (id, text) =>
        val bt = Jpeg.colorBlockBytesOf(text)
        val bRows = bt.length / 8
        // stored(nr, nc) = upright(br = nc, bc = 7 − nr): the block
        // grid of the upright rotated 90° CCW
        val sb = new Array[Byte](bt.length)
        var nr = 0
        while (nr < 8) {
          var nc = 0
          while (nc < bRows) {
            sb(nr * bRows + nc) = bt(nc * 8 + (7 - nr))
            nc += 1
          }
          nr += 1
        }
        val (yu, cbu, cru) = planesOfBlocks(bt, bRows, 8)
        val (ys, cbs, crs) = planesOfBlocks(sb, 8, bRows)
        def meta(o: Int) = Meta(o, "Cam", "M", "2026:08:16 00:00:00",
          72, 1, 0, 0, littleEndian = true)
        val up = insertApp1(
          Jpeg.encodeColor(64, bRows * 8, yu, cbu, cru, 1, 1),
          buildApp1(meta(1)))
        val rot = insertApp1(
          Jpeg.encodeColor(bRows * 8, 64, ys, cbs, crs, 1, 1),
          buildApp1(meta(6)))
        Seq(Multimodal.MediaRecord(id, up),
          Multimodal.MediaRecord(id + 200000, rot))
      }
    }.toDF("doc_id", "payload")
  }

  /** Orientation-NORMALIZED perceptual near-dup pairs: parse Exif,
    * decode, apply the upright transform, THEN pHash and band-join —
    * the composition that makes a rotated re-upload of the same photo
    * hash-identical. Without the normalization step the stored pixels
    * differ and the pair is invisible; with it the planted twins land
    * at Hamming 0.
    */
  /** Per-document orientation-NORMALIZED pHash: parse Exif, decode,
    * upright, hash — the building block of [[orientedPHashPairs]] and
    * the rotation-robust dedup compositions.
    */
  def orientedPHash(media: DataFrame): Dataset[Multimodal.PHash] = {
    // decode + upright + DCT per row over what is often a pinned
    // byte-small parquet scan (q380): spread before paying the codec
    Multimodal.perPayload(Parallelism.ensure(media)) { records =>
      records.map { r =>
        val o = parseExif(r.payload).map(_.orientation).getOrElse(1)
        val img = Jpeg.decodeColor(r.payload)
        val (ow, oh, rgb) = orientRgb(img.pixels, img.width, img.height, o)
        val b = Multimodal.pHashBlocksOfRgb(rgb, ow, oh, 3)
        Multimodal.PHash(r.doc_id, b(0), b(1), b(2), b(3))
      }
    }
  }

  def orientedPHashPairs(media: DataFrame, radius: Int = 2): DataFrame =
    Multimodal.blockHashPairs(
      orientedPHash(media).toDF().localCheckpoint(), radius)

  /** Attach eXIf-carrying color PNGs: [[Multimodal.asColorMedia]]'s
    * payloads (all three storage types) with the q363 tag rule spliced
    * in as a raw-TIFF eXIf chunk — PNG's standardized metadata path
    * since the 1.2 extension.
    */
  def asExifPngMedia(docs: DataFrame): DataFrame = {
    Multimodal.perPayload(Multimodal.asColorMedia(docs)) { rows =>
      rows.map { r =>
        val id = r.doc_id
        val meta = Meta(
          orientation = (1 + id % 8).toInt,
          make = s"Cam${id % 3}",
          model = s"M-${id % 5}",
          dateTime = f"2026:08:${1 + id % 9}%02d 00:00:00",
          xresNum = 72 + (id % 4) * 10, xresDen = 1,
          pixelX = 64, pixelY = 0,
          littleEndian = id % 2 == 0)
        // buildApp1 emits the JPEG wrapper; eXIf carries bare TIFF
        val tiff = buildApp1(meta).drop(6)
        Multimodal.MediaRecord(id, insertPngExif(r.payload, tiff))
      }
    }.toDF("doc_id", "payload")
  }

  /** Attach color JPEGs where EVEN doc_ids carry a GPS block (lat =
    * id%90M µdeg, lon = id%180M µdeg) inside the q363 tag rule — the
    * geo-PII fixture for the scrub.
    */
  def asGpsJpegMedia(docs: DataFrame): DataFrame = {
    Multimodal.perPayload(Jpeg.asColorJpegMedia(docs)) { rows =>
      rows.map { r =>
        val id = r.doc_id
        val meta = Meta(
          orientation = (1 + id % 8).toInt,
          make = s"Cam${id % 3}", model = s"M-${id % 5}",
          dateTime = f"2026:08:${1 + id % 9}%02d 00:00:00",
          xresNum = 72 + (id % 4) * 10, xresDen = 1,
          pixelX = 64, pixelY = 0, littleEndian = id % 2 == 0)
        val app1 =
          if (id % 2 == 0)
            buildApp1WithGps(meta, Gps(id % 90000000L, id % 180000000L))
          else buildApp1(meta)
        Multimodal.MediaRecord(id, insertApp1(r.payload, app1))
      }
    }.toDF("doc_id", "payload")
  }

  final case class GpsScrubbed(doc_id: Long, had_gps: Int, lat_udeg: Long,
                               lon_udeg: Long, gps_after: Int,
                               orientation: Int, rgb_md5: String,
                               rgb_sum: Long)

  /** The metadata-PII scrub: record the GPS coordinates (the audit
    * trail a curation pipeline keeps), strip the block by canonical
    * APP1 rebuild, and emit the SCRUBBED payload's decoded digest +
    * surviving orientation — pixels provably untouched, camera tags
    * preserved, geo-PII gone (gps_after re-parsed from the scrubbed
    * bytes, not assumed).
    */
  def gpsScrub(media: DataFrame): Dataset[GpsScrubbed] = {
    Multimodal.perPayload(media) { records =>
      records.map { r =>
        val gps = parseGps(r.payload)
        val scrubbed = if (gps.isDefined) stripGps(r.payload) else r.payload
        val after = parseGps(scrubbed)
        val meta = parseExif(scrubbed).getOrElse(
          throw new IllegalArgumentException("scrub lost the APP1"))
        val img = Jpeg.decodeColor(scrubbed)
        val (md5, sum) = Digest.hexDumpDigest(img.pixels)
        GpsScrubbed(r.doc_id, if (gps.isDefined) 1 else 0,
          gps.map(_.latUdeg).getOrElse(-1L),
          gps.map(_.lonUdeg).getOrElse(-1L),
          if (after.isDefined) 1 else 0, meta.orientation, md5, sum)
      }
    }
  }

  final case class OrientedPng(doc_id: Long, orientation: Int,
                               out_width: Int, out_height: Int,
                               rgb_md5: String, rgb_sum: Long)

  /** The PNG twin of [[orientNormalized]]: parse the eXIf chunk,
    * decode (any of the three storage types), upright, digest RGB.
    */
  def orientNormalizedPng(media: DataFrame): Dataset[OrientedPng] = {
    Multimodal.perPayload(media) { records =>
      records.map { r =>
        val o = parsePngExif(r.payload).map(_.orientation).getOrElse(1)
        val img = Multimodal.Png.decodeColor(r.payload)
        val (ow, oh, up) = orientRgb(img.rgb, img.width, img.height, o)
        val (md5, sum) = Digest.hexDumpDigest(up)
        OrientedPng(r.doc_id, o, ow, oh, md5, sum)
      }
    }
  }

  final case class Oriented(doc_id: Long, orientation: Int, make: String,
                            model: String, date_time: String, xres_num: Long,
                            pixel_x: Long, pixel_y: Long, out_width: Int,
                            out_height: Int, rgb_md5: String, rgb_sum: Long)

  /** Parse Exif, decode, and NORMALIZE orientation — the auto-rotate
    * step a pixel-dedup pipeline needs before hashing. Emits the
    * upright image's dims + RGB digest (rgb_sum is transform-invariant,
    * a built-in sanity split: a digest mismatch with an equal sum is a
    * PERMUTATION error, not a decode error). One narrow mapPartitions
    * pass; payloads never at the driver.
    */
  def orientNormalized(media: DataFrame): Dataset[Oriented] = {
    Multimodal.perPayload(media) { records =>
      records.map { r =>
        val meta = parseExif(r.payload).getOrElse(
          throw new IllegalArgumentException(
            s"doc ${r.doc_id}: payload has no Exif APP1"))
        val img = Jpeg.decodeColor(r.payload)
        val (ow, oh, rgb) =
          orientRgb(img.pixels, img.width, img.height, meta.orientation)
        val (md5, sum) = Digest.hexDumpDigest(rgb)
        Oriented(r.doc_id, meta.orientation, meta.make, meta.model,
          meta.dateTime, meta.xresNum, meta.pixelX, meta.pixelY, ow, oh,
          md5, sum)
      }
    }
  }
}
