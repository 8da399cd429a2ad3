package graft.operators

import graft.functions.Digest
import org.apache.spark.sql.{DataFrame, Dataset}

/** Baseline TIFF 6.0 codec + dataset operators — the fourth real image
  * container after JPEG, PNG, and GIF ([[Jpeg]], [[Multimodal.Png]],
  * [[Gif]]): scanned-document corpora and print pipelines still ship
  * TIFF, and its three baseline compressions exercise codec machinery
  * the other formats don't (PackBits RLE and the MSB-first LZW variant
  * with EARLY CHANGE — one code earlier than GIF's width switch).
  *
  * Pure-JVM, spec-from-scratch per the public TIFF 6.0 specification:
  * II little-endian writer, IFD walk (both byte orders on read),
  * multi-strip images (RowsPerStrip), Compression 1 (none),
  * 32773 (PackBits), and 5 (LZW, MSB-first, early change), 8-bit
  * grayscale and RGB. TiffSpec cross-validates both directions against
  * the JDK's javax.imageio TIFF plugin (reader AND writer, all three
  * compressions).
  *
  * Scale shape: the same as the sibling codecs — one narrow
  * mapPartitions pass per operator, payloads never at the driver.
  */
object Tiff {

  // TIFF 6.0 tag ids
  private val TImageWidth = 256
  private val TImageLength = 257
  private val TBitsPerSample = 258
  private val TCompression = 259
  private val TPhotometric = 262
  private val TStripOffsets = 273
  private val TSamplesPerPixel = 277
  private val TRowsPerStrip = 278
  private val TStripByteCounts = 279

  val CompNone = 1
  val CompLzw = 5
  val CompPackBits = 32773

  // ------------------------------------------------------------------
  // IFD codec (TIFF 6.0 §2) — the byte layer under this codec and
  // Exif's APP1 / eXIf metadata
  // ------------------------------------------------------------------

  /** Sub-IFD pointer tags (Exif 2.32 §4.6.3). */
  private[graft] val TagExifIfd = 0x8769
  private[graft] val TagGpsIfd = 0x8825

  /** Bytes per value of a field type: BYTE/ASCII/SBYTE/UNDEFINED 1,
    * SHORT 2, LONG/SLONG 4, RATIONAL/SRATIONAL 8.
    */
  private def typeSize(typ: Int): Int = typ match {
    case 1 | 2 | 6 | 7 => 1; case 3 => 2; case 4 | 9 => 4; case 5 | 10 => 8
    case o => throw new IllegalArgumentException(s"TIFF type $o")
  }

  /** Bounds-checked reader over a TIFF byte stream in either byte
    * order; construction checks the byte-order mark and the magic.
    * [[open]] puts an entry cursor on an IFD and each true [[next]]
    * loads one entry: `tag`, `typ`, `count`, and `at`, the offset of
    * its value — the entry's own 4-byte field when the value fits,
    * else the offset that field holds. A sub-IFD pointer must point
    * inside the stream. Every read past the end fails with
    * IllegalArgumentException.
    */
  private[graft] final class Reader(bytes: Array[Byte]) {
    require(bytes.length >= 8, "truncated TIFF header")
    val littleEndian: Boolean = bytes(0) == 'I'.toByte && bytes(1) == 'I'.toByte
    require(littleEndian || (bytes(0) == 'M'.toByte && bytes(1) == 'M'.toByte),
      "bad TIFF byte-order mark")
    require(u16(2) == 42, "bad TIFF magic")

    private def check(at: Int, n: Int): Unit =
      require(at >= 0 && at + n <= bytes.length, s"TIFF read past end at $at")
    def u8(at: Int): Int = { check(at, 1); bytes(at) & 0xff }
    def u16(at: Int): Int = {
      check(at, 2)
      if (littleEndian) (bytes(at) & 0xff) | ((bytes(at + 1) & 0xff) << 8)
      else ((bytes(at) & 0xff) << 8) | (bytes(at + 1) & 0xff)
    }
    def u32(at: Int): Long = {
      check(at, 4)
      if (littleEndian) (bytes(at) & 0xffL) | ((bytes(at + 1) & 0xffL) << 8) |
        ((bytes(at + 2) & 0xffL) << 16) | ((bytes(at + 3) & 0xffL) << 24)
      else ((bytes(at) & 0xffL) << 24) | ((bytes(at + 1) & 0xffL) << 16) |
        ((bytes(at + 2) & 0xffL) << 8) | (bytes(at + 3) & 0xffL)
    }
    def ifd0: Long = u32(4)

    var tag = 0
    var typ = 0
    var count = 0L
    var at = 0
    private var base = 0
    private var n = 0
    private var i = 0
    def open(ifd: Long): Unit = { base = ifd.toInt; n = u16(base); i = 0 }
    def next(): Boolean = i < n && {
      val e = base + 2 + 12 * i
      tag = u16(e); typ = u16(e + 2); count = u32(e + 4)
      at = if (typeSize(typ) * count <= 4) e + 8 else u32(e + 8).toInt
      if (tag == TagExifIfd || tag == TagGpsIfd) {
        val ptr = u32(at)
        require(ptr + 2 <= bytes.length, s"TIFF sub-IFD pointer $ptr past end")
      }
      i += 1
      true
    }
  }

  /** An IFD entry for [[writeIfds]]. */
  private[graft] final case class Entry(tag: Int, typ: Int, count: Long, value: Value)
  private[graft] sealed trait Value
  /** A SHORT (first two bytes of the field) or LONG in the entry itself. */
  private[graft] final case class Num(v: Long) extends Value
  /** Value bytes: in the entry's field when they fit in 4, else in the
    * data area.
    */
  private[graft] final case class Raw(bytes: Array[Byte]) extends Value
  /** The offset of the `index`-th IFD of the same stream. */
  private[graft] final case class IfdAt(index: Int) extends Value
  /** The LONG offsets of the strips trailing the data area. */
  private[graft] case object StripAt extends Value

  /** A byte buffer that writes SHORT/LONG fields in one byte order. */
  private final class Out(littleEndian: Boolean)
      extends java.io.ByteArrayOutputStream {
    def u16(v: Int): Unit =
      if (littleEndian) { write(v & 0xff); write((v >> 8) & 0xff) }
      else { write((v >> 8) & 0xff); write(v & 0xff) }
    def u32(v: Long): Unit =
      if (littleEndian) { u16((v & 0xffff).toInt); u16(((v >> 16) & 0xffff).toInt) }
      else { u16(((v >> 16) & 0xffff).toInt); u16((v & 0xffff).toInt) }
  }

  /** LONG values as field bytes in the given byte order. */
  private[graft] def longs(littleEndian: Boolean, vs: Long*): Array[Byte] = {
    val o = new Out(littleEndian); vs.foreach(o.u32); o.toByteArray
  }

  /** Lay out a TIFF stream: header | the IFDs in order (each with a
    * zero next-IFD pointer) | data area (out-of-line values in entry
    * order) | strips. Entries come sorted by tag (TIFF 6.0 §2).
    */
  private[graft] def writeIfds(littleEndian: Boolean, ifds: Seq[Seq[Entry]],
                               strips: Seq[Array[Byte]] = Nil): Array[Byte] = {
    val ifdOffsets = ifds.scanLeft(8L)((off, es) => off + 2 + 12 * es.size + 4)
    val dataStart = ifdOffsets.last
    val outOfLine = ifds.flatten.iterator.map(_.value match {
      case Raw(b) => b.length
      case StripAt => 4 * strips.size
      case _ => 0
    }).filter(_ > 4).sum
    val stripOffsets = longs(littleEndian,
      strips.scanLeft(dataStart + outOfLine)(_ + _.length).init: _*)
    val out = new Out(littleEndian)
    val data = new Out(littleEndian)
    def raw(b: Array[Byte]): Unit =
      if (b.length <= 4) {
        out.write(b, 0, b.length)
        (b.length until 4).foreach(_ => out.write(0))
      } else {
        out.u32(dataStart + data.size)
        data.write(b, 0, b.length)
      }
    val bom = if (littleEndian) 'I' else 'M'
    out.write(bom); out.write(bom); out.u16(42); out.u32(8)
    ifds.foreach { es =>
      out.u16(es.size)
      es.foreach { e =>
        out.u16(e.tag); out.u16(e.typ); out.u32(e.count)
        e.value match {
          case Num(v) => if (e.typ == 3) { out.u16(v.toInt); out.u16(0) } else out.u32(v)
          case IfdAt(i) => out.u32(ifdOffsets(i))
          case Raw(b) => raw(b)
          case StripAt => raw(stripOffsets)
        }
      }
      out.u32(0L) // next-IFD pointer: none
    }
    data.writeTo(out)
    strips.foreach(s => out.write(s, 0, s.length))
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // PackBits (TIFF 6.0 §9)
  // ------------------------------------------------------------------

  /** PackBits compress: replicate runs of ≥3 as (257-n, byte), literal
    * runs as (n-1, bytes). Never crosses the input end; the simple
    * greedy form every writer uses.
    */
  private[graft] def packBits(in: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < in.length) {
      var run = 1
      while (i + run < in.length && run < 128 && in(i + run) == in(i)) run += 1
      if (run >= 3) {
        out.write(257 - run); out.write(in(i)); i += run
      } else {
        // literal run: until the next ≥3 replicate or 128 bytes
        val start = i
        i += run
        var lit = run
        while (i < in.length && lit < 128) {
          var r2 = 1
          while (i + r2 < in.length && r2 < 3 && in(i + r2) == in(i)) r2 += 1
          if (r2 >= 3 && i + 2 < in.length && in(i + 2) == in(i)) {
            // a replicate run starts here
            lit = 129 // break
          } else { i += 1; lit += 1 }
        }
        val n = math.min(i, in.length) - start
        out.write(n - 1)
        out.write(in, start, n)
      }
    }
    out.toByteArray
  }

  /** PackBits decompress into exactly `expected` bytes; -128 is a
    * no-op per the spec. Fails loudly on overrun/truncation.
    */
  private[graft] def unpackBits(in: Array[Byte], expected: Int): Array[Byte] = {
    val out = new Array[Byte](expected)
    var i = 0
    var o = 0
    while (o < expected) {
      require(i < in.length, "truncated PackBits stream")
      val n = in(i); i += 1
      if (n >= 0) {
        require(i + n + 1 <= in.length && o + n + 1 <= expected,
          "PackBits literal overruns")
        System.arraycopy(in, i, out, o, n + 1); i += n + 1; o += n + 1
      } else if (n != -128) {
        require(i < in.length && o + (1 - n) <= expected,
          "PackBits replicate overruns")
        java.util.Arrays.fill(out, o, o + 1 - n, in(i)); i += 1; o += 1 - n
      }
    }
    out
  }

  // ------------------------------------------------------------------
  // TIFF LZW (TIFF 6.0 §13): MSB-first packing, EARLY CHANGE
  // ------------------------------------------------------------------

  /** TIFF-variant LZW compress: 8-bit symbols, codes MSB-first,
    * ClearCode 256 / EOI 257, width switches ONE CODE EARLIER than the
    * GIF variant (at next == 2^width − 1, the spec's "early change"),
    * dictionary reset via ClearCode at 4094 per the reference writers.
    */
  private[graft] def lzwEncode(in: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var bitBuf = 0L
    var bitCnt = 0
    // The emission width mirrors the DECODER's registers exactly: the
    // decoder adds an entry for every received data code except the
    // first since a clear, then widens (early change) at
    // next == 2^w − 1. The add for code k lands between reading k and
    // k+1, so it is applied as PENDING bookkeeping before the next
    // emission — including before EOI/ClearCode, where the final data
    // code's add can cross a width boundary the in-loop schedule never
    // sees (the classic last-code/EOI width bug; MSB-first packing
    // makes it fatal rather than pad-masked).
    var codeSize = 9
    var decNext = 258
    var pending = false
    var emitted = 0 // data codes since the last clear
    def put(code: Int): Unit = {
      bitBuf = (bitBuf << codeSize) | code
      bitCnt += codeSize
      while (bitCnt >= 8) {
        out.write(((bitBuf >>> (bitCnt - 8)) & 0xff).toInt)
        bitCnt -= 8
      }
    }
    def applyPending(): Unit = if (pending) {
      if (decNext < 4096) {
        decNext += 1
        if (decNext == (1 << codeSize) - 1 && codeSize < 12) codeSize += 1
      }
      pending = false
    }
    def emitData(code: Int): Unit = {
      applyPending()
      put(code)
      pending = emitted >= 1
      emitted += 1
    }
    val dict = new java.util.HashMap[Integer, Integer](8192)
    def key(prefix: Int, b: Int): Integer = Integer.valueOf((prefix << 8) | b)
    var assign = 258 // entry numbering (== the decoder's)
    def emitClear(): Unit = {
      applyPending()
      put(256)
      pending = false; emitted = 0
      decNext = 258; codeSize = 9; assign = 258
      dict.clear()
    }
    put(256)
    if (in.nonEmpty) {
      var cur = in(0) & 0xff
      var i = 1
      while (i < in.length) {
        val b = in(i) & 0xff
        val hit = dict.get(key(cur, b))
        if (hit != null) cur = hit.intValue()
        else {
          emitData(cur)
          dict.put(key(cur, b), Integer.valueOf(assign))
          assign += 1
          // spec-mandated reset margin: emit ClearCode before the
          // 12-bit table fills (libtiff and the JDK expect it here)
          if (assign == 4094) emitClear()
          cur = b
        }
        i += 1
      }
      emitData(cur)
    }
    applyPending()
    put(257)
    if (bitCnt > 0) out.write(((bitBuf << (8 - bitCnt)) & 0xff).toInt)
    out.toByteArray
  }

  /** TIFF-variant LZW decompress into exactly `expected` bytes. */
  private[graft] def lzwDecode(in: Array[Byte], expected: Int): Array[Byte] = {
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val stack = new Array[Byte](4096)
    val out = new Array[Byte](expected)
    var outPos = 0
    var codeSize = 9
    var next = 258
    var prev = -1
    var bitBuf = 0L
    var bitCnt = 0
    var pos = 0
    var done = false
    while (!done) {
      while (bitCnt < codeSize && pos < in.length) {
        bitBuf = (bitBuf << 8) | (in(pos) & 0xffL)
        bitCnt += 8
        pos += 1
      }
      require(bitCnt >= codeSize, "truncated TIFF LZW stream")
      val code = ((bitBuf >>> (bitCnt - codeSize)) & ((1 << codeSize) - 1)).toInt
      bitCnt -= codeSize
      if (code == 256) {
        next = 258; codeSize = 9; prev = -1
      } else if (code == 257) {
        done = true
      } else {
        require(code < next || (code == next && prev >= 0),
          s"TIFF LZW code $code out of range (next=$next)")
        var sp = 0
        var c = if (code == next) prev else code
        while (c >= 258) { stack(sp) = suffix(c); sp += 1; c = prefix(c) }
        require(c < 256, s"TIFF LZW chain hit reserved code $c")
        val firstChar = c.toByte
        require(outPos + sp + 1 + (if (code == next) 1 else 0) <= expected,
          "TIFF LZW output overruns the declared strip size")
        out(outPos) = firstChar; outPos += 1
        while (sp > 0) { sp -= 1; out(outPos) = stack(sp); outPos += 1 }
        if (code == next) { out(outPos) = firstChar; outPos += 1 }
        if (prev >= 0 && next < 4096) {
          prefix(next) = prev
          suffix(next) = firstChar
          next += 1
          // early change: widen when the NEXT code could be 2^w − 1
          if (next == (1 << codeSize) - 1 && codeSize < 12) codeSize += 1
        }
        prev = code
      }
    }
    require(outPos == expected,
      s"TIFF strip decoded $outPos of $expected declared bytes")
    out
  }

  // ------------------------------------------------------------------
  // Container
  // ------------------------------------------------------------------

  final case class Image(width: Int, height: Int, channels: Int,
                         photometric: Int, compression: Int,
                         pixels: Array[Byte])

  private val RowsPerStrip = 8

  /** Write a baseline II TIFF: 8-bit gray (photometric 1, 1 sample) or
    * RGB (photometric 2, 3 samples), strips of [[RowsPerStrip]] rows,
    * Compression 1 / 5 / 32773.
    */
  def encode(width: Int, height: Int, channels: Int, compression: Int,
             pixels: Array[Byte]): Array[Byte] = {
    require(channels == 1 || channels == 3, s"channels $channels")
    require(pixels.length == width * height * channels, "pixel buffer size")
    require(compression == CompNone || compression == CompLzw ||
      compression == CompPackBits, s"compression $compression")
    val rowBytes = width * channels
    val nStrips = (height + RowsPerStrip - 1) / RowsPerStrip
    val strips = (0 until nStrips).map { s =>
      val r0 = s * RowsPerStrip
      val rows = math.min(RowsPerStrip, height - r0)
      val raw = java.util.Arrays.copyOfRange(pixels, r0 * rowBytes,
        (r0 + rows) * rowBytes)
      compression match {
        case CompNone => raw
        case CompLzw => lzwEncode(raw)
        case CompPackBits => packBits(raw)
      }
    }
    // one IFD, sorted by tag: gray's BitsPerSample is inline, RGB's an
    // out-of-line triple; the strip tables are inline for one strip
    val ifd = Seq(
      Entry(TImageWidth, 3, 1, Num(width)),
      Entry(TImageLength, 3, 1, Num(height)),
      if (channels == 3) Entry(TBitsPerSample, 3, 3, Raw(Array[Byte](8, 0, 8, 0, 8, 0)))
      else Entry(TBitsPerSample, 3, 1, Num(8)),
      Entry(TCompression, 3, 1, Num(compression)),
      Entry(TPhotometric, 3, 1, Num(if (channels == 3) 2 else 1)),
      Entry(TStripOffsets, 4, nStrips, StripAt),
      Entry(TSamplesPerPixel, 3, 1, Num(channels)),
      Entry(TRowsPerStrip, 3, 1, Num(RowsPerStrip)),
      Entry(TStripByteCounts, 4, nStrips,
        Raw(longs(true, strips.map(_.length.toLong): _*))))
    writeIfds(littleEndian = true, Seq(ifd), strips)
  }

  /** Decode a baseline TIFF (either byte order): IFD walk, strip
    * reassembly, all three baseline compressions, 8-bit gray/RGB.
    * Throws on anything malformed or out of this baseline scope.
    */
  def decode(bytes: Array[Byte]): Image = {
    val r = new Reader(bytes)
    var width = -1; var height = -1; var channels = 1
    var compression = 1; var photometric = -1; var rowsPerStrip = -1
    var soType = 0; var soCount = 0L; var soAt = 0
    var sbcType = 0; var sbcCount = 0L; var sbcAt = 0
    r.open(r.ifd0)
    while (r.next()) {
      val vAt = r.at
      def scalar: Long = if (r.typ == 3) r.u16(vAt).toLong else r.u32(vAt)
      r.tag match {
        case TImageWidth => width = scalar.toInt
        case TImageLength => height = scalar.toInt
        case TBitsPerSample =>
          (0 until r.count.toInt).foreach { k =>
            require(r.u16(vAt + 2 * k) == 8, "only 8-bit samples supported")
          }
        case TCompression => compression = scalar.toInt
        case TPhotometric => photometric = scalar.toInt
        case TSamplesPerPixel => channels = scalar.toInt
        case TRowsPerStrip =>
          rowsPerStrip = math.min(scalar, Int.MaxValue).toInt
        case TStripOffsets => soType = r.typ; soCount = r.count; soAt = vAt
        case TStripByteCounts => sbcType = r.typ; sbcCount = r.count; sbcAt = vAt
        case _ => // ancillary: skip
      }
    }
    require(width > 0 && height > 0, "TIFF missing dimensions")
    require(photometric == 1 || photometric == 2,
      s"photometric $photometric out of baseline scope")
    require(channels == (if (photometric == 2) 3 else 1),
      s"SamplesPerPixel $channels inconsistent with photometric $photometric")
    if (rowsPerStrip <= 0) rowsPerStrip = height
    val nStrips = (height + rowsPerStrip - 1) / rowsPerStrip
    require(soCount == nStrips && sbcCount == nStrips,
      s"strip table sizes $soCount/$sbcCount != $nStrips")
    def tableAt(typ: Int, at: Int, k: Int): Long =
      if (typ == 3) r.u16(at + 2 * k).toLong else r.u32(at + 4 * k)
    val rowBytes = width * channels
    val pixels = new Array[Byte](rowBytes * height)
    (0 until nStrips).foreach { s =>
      val off = tableAt(soType, soAt, s).toInt
      val len = tableAt(sbcType, sbcAt, s).toInt
      require(off >= 0 && len >= 0 && off + len <= bytes.length,
        s"strip $s out of bounds")
      val rows = math.min(rowsPerStrip, height - s * rowsPerStrip)
      val expected = rows * rowBytes
      val comp = java.util.Arrays.copyOfRange(bytes, off, off + len)
      val raw = compression match {
        case CompNone =>
          require(len == expected, s"uncompressed strip $s size $len != $expected")
          comp
        case CompLzw => lzwDecode(comp, expected)
        case CompPackBits => unpackBits(comp, expected)
        case other =>
          throw new IllegalArgumentException(s"compression $other unsupported")
      }
      System.arraycopy(raw, 0, pixels, s * rowsPerStrip * rowBytes, expected)
    }
    Image(width, height, channels, photometric, compression, pixels)
  }

  // ------------------------------------------------------------------
  // Dataset operators
  // ------------------------------------------------------------------

  /** Attach a real RGB TIFF payload per document — the pixelsOf text
    * rule through the shared color rule, compression cycling by
    * doc_id mod 3 (none / PackBits / LZW) — so one arithmetic oracle
    * replay covers all three baseline codecs. One narrow mapPartitions
    * pass; payloads never at the driver.
    */
  def asTiffMedia(docs: DataFrame): DataFrame = {
    Multimodal.perDocument(Parallelism.ensure(docs)) { rows =>
      val w = Multimodal.ImgWidth
      rows.map { case (id, text) =>
        val pix = Multimodal.pixelsOf(text)
        val h = pix.length / w
        val comp = (id % 3) match {
          case 0 => CompNone
          case 1 => CompPackBits
          case _ => CompLzw
        }
        Multimodal.MediaRecord(id, encode(w, h, 3, comp, Multimodal.rgbOf(pix)))
      }
    }.toDF("doc_id", "payload")
  }

  // ------------------------------------------------------------------
  // BMP (Windows DIB) — the fifth image container: uncompressed 24-bit
  // BITMAPINFOHEADER, bottom-up rows, BGR order, 4-byte row padding.
  // Small enough to live beside TIFF; BmpSpec cross-validates both
  // directions against javax.imageio.
  // ------------------------------------------------------------------

  object Bmp {
    /** Encode interleaved RGB as a 24-bit bottom-up BMP. */
    def encode(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] = {
      require(rgb.length == width * height * 3, "RGB buffer size")
      val rowBytes = (width * 3 + 3) & ~3
      val dataSize = rowBytes * height
      val out = java.nio.ByteBuffer.allocate(54 + dataSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put('B'.toByte).put('M'.toByte)
      out.putInt(54 + dataSize)
      out.putInt(0)
      out.putInt(54)
      out.putInt(40) // BITMAPINFOHEADER
      out.putInt(width)
      out.putInt(height) // positive: bottom-up
      out.putShort(1)    // planes
      out.putShort(24)   // bpp
      out.putInt(0)      // BI_RGB
      out.putInt(dataSize)
      out.putInt(2835).putInt(2835) // 72 dpi in px/m
      out.putInt(0).putInt(0)
      var y = height - 1
      while (y >= 0) {
        var x = 0
        while (x < width) {
          val i = (y * width + x) * 3
          out.put(rgb(i + 2)).put(rgb(i + 1)).put(rgb(i)) // BGR
          x += 1
        }
        var pad = rowBytes - width * 3
        while (pad > 0) { out.put(0.toByte); pad -= 1 }
        y -= 1
      }
      out.array()
    }

    final case class Image(width: Int, height: Int, pixels: Array[Byte])

    /** Decode a 24-bit BI_RGB BMP (bottom-up or top-down): validates
      * the headers and materializes interleaved RGB. Throws on
      * anything malformed or outside the 24-bit uncompressed scope.
      */
    def decode(bytes: Array[Byte]): Image = {
      require(bytes.length >= 54 && bytes(0) == 'B'.toByte &&
        bytes(1) == 'M'.toByte, "not a BMP")
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val dataOff = bb.getInt(10)
      val dibSize = bb.getInt(14)
      require(dibSize >= 40, s"DIB header $dibSize out of scope")
      val width = bb.getInt(18)
      val rawHeight = bb.getInt(22)
      val topDown = rawHeight < 0
      val height = math.abs(rawHeight)
      require(width > 0 && height > 0, "bad BMP dimensions")
      require((bb.getShort(26) & 0xffff) == 1, "BMP planes != 1")
      val bpp = bb.getShort(28) & 0xffff
      val comp = bb.getInt(30)
      require(bpp == 24 && comp == 0,
        s"unsupported BMP: bpp=$bpp compression=$comp (24-bit BI_RGB only)")
      val rowBytes = (width * 3 + 3) & ~3
      require(dataOff >= 54 && dataOff.toLong + rowBytes.toLong * height
        <= bytes.length, "truncated BMP pixel data")
      val rgb = new Array[Byte](width * height * 3)
      var r = 0
      while (r < height) {
        val srcRow = dataOff + r * rowBytes
        val y = if (topDown) r else height - 1 - r
        var x = 0
        while (x < width) {
          val s = srcRow + x * 3
          val d = (y * width + x) * 3
          rgb(d) = bytes(s + 2); rgb(d + 1) = bytes(s + 1)
          rgb(d + 2) = bytes(s)
          x += 1
        }
        r += 1
      }
      Image(width, height, rgb)
    }
  }

  /** Attach a real 24-bit BMP payload per document (the shared color
    * rule) and the dataset-level meta parse — same contract shape as
    * the sibling containers.
    */
  def asBmpMedia(docs: DataFrame): DataFrame = {
    Multimodal.perDocument(Parallelism.ensure(docs)) { rows =>
      val w = Multimodal.ImgWidth
      rows.map { case (id, text) =>
        val pix = Multimodal.pixelsOf(text)
        val h = pix.length / w
        Multimodal.MediaRecord(id, Bmp.encode(w, h, Multimodal.rgbOf(pix)))
      }
    }.toDF("doc_id", "payload")
  }

  final case class BmpMeta(doc_id: Long, width: Int, height: Int,
                           n_pixels: Int, rgb_md5: String, rgb_sum: Long)

  def parseBmpMeta(media: DataFrame): Dataset[BmpMeta] = {
    Multimodal.perPayload(Parallelism.ensure(media)) { records =>
      records.map { r =>
        val img = Bmp.decode(r.payload)
        val (md5, sum) = Digest.hexDumpDigest(img.pixels)
        BmpMeta(r.doc_id, img.width, img.height, img.width * img.height,
          md5, sum)
      }
    }
  }

  final case class TiffMeta(doc_id: Long, width: Int, height: Int,
                            channels: Int, compression: Int, n_pixels: Int,
                            rgb_md5: String, rgb_sum: Long)

  /** Decode each payload and emit header geometry + the decoded-RGB
    * digest — every field comes out of the decoder (compression
    * included), not construction metadata.
    */
  def parseTiffMeta(media: DataFrame): Dataset[TiffMeta] = {
    Multimodal.perPayload(Parallelism.ensure(media)) { records =>
      records.map { r =>
        val img = decode(r.payload)
        val (md5, sum) = Digest.hexDumpDigest(img.pixels)
        TiffMeta(r.doc_id, img.width, img.height, img.channels,
          img.compression, img.width * img.height, md5, sum)
      }
    }
  }
}
