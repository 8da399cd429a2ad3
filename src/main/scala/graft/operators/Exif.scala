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
  private val TagPixelX = 0xa002
  private val TagPixelY = 0xa003

  final case class Meta(orientation: Int, make: String, model: String,
                        dateTime: String, xresNum: Long, xresDen: Long,
                        pixelX: Long, pixelY: Long, littleEndian: Boolean)

  /** Build the APP1 payload ("Exif\0\0" + TIFF): IFD0 carries
    * make/model/orientation/XResolution/DateTime and the Exif-IFD
    * pointer; the Exif sub-IFD carries PixelX/YDimension. ASCII and
    * RATIONAL values exceeding 4 bytes live in the data area, so the
    * offset arithmetic the parser must get right is genuinely
    * exercised.
    */
  def buildApp1(meta: Meta): Array[Byte] = app1Of(meta, None)

  final case class Gps(latUdeg: Long, lonUdeg: Long)

  /** [[buildApp1]] plus a GPS sub-IFD (tag 0x8825):
    * GPSLatitude/GPSLongitude as the spec's 3-RATIONAL triples
    * (microdegrees in the first rational, zero min/sec — a legal
    * encoding that keeps the value on the integer lattice) plus N/E
    * refs.
    */
  def buildApp1WithGps(meta: Meta, gps: Gps): Array[Byte] =
    app1Of(meta, Some(gps))

  private val ExifHeader = "Exif\u0000\u0000".getBytes("US-ASCII")

  /** "Exif\0\0" + the TIFF of `meta`: IFD0, the Exif sub-IFD and, with
    * `gps`, the GPS sub-IFD, laid out by [[Tiff.writeIfds]].
    */
  private def app1Of(meta: Meta, gps: Option[Gps]): Array[Byte] = {
    import Tiff.{Entry, IfdAt, Num, Raw}
    val le = meta.littleEndian
    def ascii(tag: Int, s: String): Entry = {
      val b = (s + "\u0000").getBytes("US-ASCII")
      Entry(tag, 2, b.length, Raw(b))
    }
    def rationals(vs: Long*): Raw = Raw(Tiff.longs(le, vs: _*))
    // entries sorted by tag per TIFF 6.0
    val ifd0 = Seq(
      ascii(TagMake, meta.make),
      ascii(TagModel, meta.model),
      Entry(TagOrientation, 3, 1, Num(meta.orientation)),
      Entry(TagXResolution, 5, 1, rationals(meta.xresNum, meta.xresDen)),
      ascii(TagDateTime, meta.dateTime),
      Entry(Tiff.TagExifIfd, 4, 1, IfdAt(1))) ++
      gps.map(_ => Entry(Tiff.TagGpsIfd, 4, 1, IfdAt(2)))
    val exifIfd = Seq(
      Entry(TagPixelX, 4, 1, Num(meta.pixelX)),
      Entry(TagPixelY, 4, 1, Num(meta.pixelY)))
    val gpsIfd = gps.map(g => Seq(
      ascii(1, "N"),
      Entry(2, 5, 3, rationals(g.latUdeg, 1000000L, 0L, 1L, 0L, 1L)),
      ascii(3, "E"),
      Entry(4, 5, 3, rationals(g.lonUdeg, 1000000L, 0L, 1L, 0L, 1L))))
    ExifHeader ++ Tiff.writeIfds(le, Seq(ifd0, exifIfd) ++ gpsIfd)
  }

  /** Parse the GPS sub-IFD out of a JPEG's APP1 (None when the payload
    * carries no GPS block): microdegrees from the first rational of
    * each coordinate triple.
    */
  def parseGps(jpeg: Array[Byte]): Option[Gps] = {
    appTiffOf(jpeg).flatMap { tiff =>
      val r = new Tiff.Reader(tiff)
      var gpsOff = -1L
      r.open(r.ifd0)
      while (r.next()) if (r.tag == Tiff.TagGpsIfd) gpsOff = r.u32(r.at)
      if (gpsOff < 0) None
      else {
        var lat = -1L
        var lon = -1L
        var latSign = 1L
        var lonSign = 1L
        r.open(gpsOff)
        while (r.next()) {
          val tag = r.tag
          if (tag == 1 || tag == 3) {
            // GPSLatitudeRef / GPSLongitudeRef: 2-byte ASCII, inline.
            // S/W hemispheres negate the coordinate in the audit trail.
            val ref = r.u8(r.at).toChar
            require("NSEW".indexOf(ref) >= 0, s"bad GPS ref '$ref'")
            if (tag == 1) latSign = if (ref == 'S') -1L else 1L
            else lonSign = if (ref == 'W') -1L else 1L
          }
          if (tag == 2 || tag == 4) {
            val num = r.u32(r.at); val den = r.u32(r.at + 4)
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

  /** Whether the walk's current segment is an Exif APP1. */
  private def isExif(jpeg: Array[Byte], s: Jpeg.Segments): Boolean =
    s.marker == 0xe1 && s.end - s.at >= 10 &&
      new String(jpeg, s.at + 4, 4, "US-ASCII") == "Exif"

  /** The TIFF bytes of a JPEG's first Exif APP1 (None when absent). */
  private def appTiffOf(jpeg: Array[Byte]): Option[Array[Byte]] = {
    val s = new Jpeg.Segments(jpeg)
    while (s.next())
      if (isExif(jpeg, s))
        return Some(java.util.Arrays.copyOfRange(jpeg, s.at + 10, s.end))
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
    val out = new java.io.ByteArrayOutputStream()
    out.write(0xff); out.write(0xd8)
    val s = new Jpeg.Segments(jpeg)
    // drop EVERY Exif APP1: a wild JPEG can carry duplicates, and a
    // survivor would be a silent PII-scrub miss
    while (s.next()) if (!isExif(jpeg, s)) out.write(jpeg, s.at, s.end - s.at)
    // SOS (or EOI): copy the rest verbatim
    if (s.marker >= 0) out.write(jpeg, s.at, jpeg.length - s.at)
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
  def parseExif(jpeg: Array[Byte]): Option[Meta] = appTiffOf(jpeg).map(parseTiff)

  /** Parse a raw TIFF byte stream (either byte order) into [[Meta]] —
    * shared by the JPEG APP1 path and PNG's standardized eXIf chunk
    * (which carries the TIFF bytes WITHOUT the JPEG path's
    * Exif-plus-two-NUL prefix, per the PNG 1.2 extension spec).
    */
  def parseTiff(tiff: Array[Byte]): Meta = {
    val r = new Tiff.Reader(tiff)
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
      r.open(ifdOff)
      while (r.next()) {
        val at = r.at
        r.tag match {
          case TagOrientation => orientation = r.u16(at)
          case TagMake => make = asciiAt(at, r.count.toInt)
          case TagModel => model = asciiAt(at, r.count.toInt)
          case TagDateTime => dateTime = asciiAt(at, r.count.toInt)
          case TagXResolution => xn = r.u32(at); xd = r.u32(at + 4)
          case TagPixelX => px = if (r.typ == 3) r.u16(at).toLong else r.u32(at)
          case TagPixelY => py = if (r.typ == 3) r.u16(at).toLong else r.u32(at)
          case Tiff.TagExifIfd => exifIfdOff = r.u32(at)
          case _ => // unknown tag: skip (forward compatibility)
        }
      }
    }
    walkIfd(r.ifd0)
    if (exifIfdOff > 0) walkIfd(exifIfdOff)
    require(orientation >= 1 && orientation <= 8,
      s"Exif orientation $orientation out of range")
    Meta(orientation, make, model, dateTime, xn, xd, px, py, r.littleEndian)
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
