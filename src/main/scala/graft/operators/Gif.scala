package graft.operators

import graft.functions.Digest
import org.apache.spark.sql.{DataFrame, Dataset}

/** GIF89a codec + dataset operators — the third real web-image
  * container after JPEG ([[Jpeg]]) and PNG ([[Multimodal.Png]]), and
  * the one that carries ANIMATION: a multi-frame GIF is the smallest
  * real instance of the video-frame-sampling problem a multimodal
  * training pipeline has (decode container → enumerate frames →
  * stride-sample → per-frame features), so the frame operators here
  * double as the executable contract for that path.
  *
  * Pure-JVM, spec-from-scratch implementation of the public GIF89a
  * specification: logical screen descriptor, global/local color
  * tables, graphic control extensions (frame delay), NETSCAPE loop
  * extension, image descriptors with left/top sub-rectangles, the
  * 4-pass row interlace, and GIF-variant LZW (variable 3..12-bit
  * codes, LSB-first packing, CLEAR/EOI, deferred-clear tolerant).
  * GifSpec cross-validates both directions against javax.imageio's
  * GIF reader AND writer, so the codec is not merely self-consistent.
  *
  * Scale shape: all per-payload work runs inside one narrow
  * mapPartitions pass — payload bytes are built and decoded on the
  * executors and never reach the driver; a 100-TB image corpus
  * parallelizes by row with no shuffle before the digest aggregation.
  */
object Gif {

  /** GIF-variant LZW compress: `mcs`-bit symbols (palette indices),
    * variable code width starting at mcs+1, LSB-first bit packing,
    * leading CLEAR, trailing EOI, dictionary frozen at 4096 (deferred
    * clear — decoders that track `next` identically stay in lockstep).
    * Returns the raw code stream (NOT yet chopped into sub-blocks).
    */
  private[graft] def lzwEncode(indices: Array[Byte], mcs: Int): Array[Byte] = {
    require(mcs >= 2 && mcs <= 8, s"bad LZW min code size $mcs")
    val clear = 1 << mcs
    val eoi = clear + 1
    val out = new java.io.ByteArrayOutputStream()
    var bitBuf = 0L
    var bitCnt = 0
    // The emission width is the DECODER's register, mirrored exactly:
    // the decoder adds a dictionary entry for every received data code
    // except the first since a clear, then widens at next == 2^w. The
    // add for code k lands between reading k and reading k+1, so the
    // encoder applies it as PENDING bookkeeping before the next
    // emission — including before EOI, where the final data code's add
    // can cross a width boundary the in-loop (one-code-lagged)
    // schedule never sees (the classic last-code/EOI width bug).
    var codeSize = mcs + 1
    var decNext = eoi + 1
    var pending = false
    var emitted = 0 // data codes emitted (GIF never clears mid-stream)
    def put(code: Int): Unit = {
      bitBuf |= code.toLong << bitCnt
      bitCnt += codeSize
      while (bitCnt >= 8) {
        out.write((bitBuf & 0xff).toInt)
        bitBuf >>>= 8
        bitCnt -= 8
      }
    }
    def applyPending(): Unit = if (pending) {
      if (decNext < 4096) {
        decNext += 1
        if (decNext == (1 << codeSize) && codeSize < 12) codeSize += 1
      }
      pending = false
    }
    def emitData(code: Int): Unit = {
      applyPending()
      put(code)
      pending = emitted >= 1
      emitted += 1
    }
    // dictionary: (prefix code, next byte) -> code, via a flat hashmap
    val dict = new java.util.HashMap[Integer, Integer](8192)
    def key(prefix: Int, b: Int): Integer = Integer.valueOf((prefix << 8) | b)
    var assign = eoi + 1 // entry numbering (== the decoder's)
    put(clear)
    if (indices.nonEmpty) {
      var cur = indices(0) & 0xff
      var i = 1
      while (i < indices.length) {
        val b = indices(i) & 0xff
        val hit = dict.get(key(cur, b))
        if (hit != null) cur = hit.intValue()
        else {
          emitData(cur)
          if (assign < 4096) { // table full: freeze (deferred clear)
            dict.put(key(cur, b), Integer.valueOf(assign))
            assign += 1
          }
          cur = b
        }
        i += 1
      }
      emitData(cur)
    }
    applyPending()
    put(eoi)
    if (bitCnt > 0) out.write((bitBuf & 0xff).toInt)
    out.toByteArray
  }

  /** GIF-variant LZW decompress `data` (concatenated sub-block
    * payloads) into exactly `expected` palette indices. Fails loudly on
    * malformed streams — out-of-range codes, truncation, overrun.
    */
  private[graft] def lzwDecode(data: Array[Byte], mcs: Int,
                               expected: Int): Array[Byte] = {
    require(mcs >= 2 && mcs <= 8, s"bad LZW min code size $mcs")
    val clear = 1 << mcs
    val eoi = clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val out = new Array[Byte](expected)
    var outPos = 0
    val stack = new Array[Byte](4096)
    var codeSize = mcs + 1
    var next = eoi + 1
    var prev = -1
    var bitBuf = 0L
    var bitCnt = 0
    var pos = 0
    var done = false
    while (!done) {
      while (bitCnt < codeSize && pos < data.length) {
        bitBuf |= (data(pos) & 0xffL) << bitCnt
        bitCnt += 8
        pos += 1
      }
      require(bitCnt >= codeSize, "truncated GIF LZW stream")
      val code = (bitBuf & ((1 << codeSize) - 1)).toInt
      bitBuf >>>= codeSize
      bitCnt -= codeSize
      if (code == clear) {
        next = eoi + 1
        codeSize = mcs + 1
        prev = -1
      } else if (code == eoi) {
        done = true
      } else {
        require(code < next || (code == next && prev >= 0),
          s"GIF LZW code $code out of range (next=$next)")
        // expand `code` (or the KwKwK case) onto the stack
        var sp = 0
        var c = if (code == next) prev else code
        while (c >= clear + 2) {
          stack(sp) = suffix(c); sp += 1
          c = prefix(c)
        }
        require(c < clear, s"GIF LZW chain hit reserved code $c")
        val firstChar = c.toByte
        require(outPos + sp + 1 + (if (code == next) 1 else 0) <= expected,
          "GIF LZW output overruns the declared frame size")
        out(outPos) = firstChar; outPos += 1
        while (sp > 0) { sp -= 1; out(outPos) = stack(sp); outPos += 1 }
        if (code == next) { out(outPos) = firstChar; outPos += 1 }
        if (prev >= 0 && next < 4096) {
          prefix(next) = prev
          suffix(next) = firstChar
          next += 1
          if (next == (1 << codeSize) && codeSize < 12) codeSize += 1
        }
        prev = code
      }
    }
    require(outPos == expected,
      s"GIF frame decoded $outPos of $expected declared pixels")
    out
  }

  /** The 4-pass GIF interlace: storage row order for an image of
    * `height` rows — pass starts/strides (0,8), (4,8), (2,4), (1,2).
    */
  private[graft] def interlaceOrder(height: Int): Array[Int] = {
    val order = new Array[Int](height)
    var k = 0
    val passes = Array((0, 8), (4, 8), (2, 4), (1, 2))
    passes.foreach { case (start, step) =>
      var r = start
      while (r < height) { order(k) = r; k += 1; r += step }
    }
    order
  }

  /** One decoded frame: sub-rectangle geometry, delay from its GCE,
    * de-interlaced palette indices (row-major, length w*h), and the
    * EFFECTIVE palette (local if present, else global; 3 bytes/entry).
    */
  final case class Frame(left: Int, top: Int, width: Int, height: Int,
                         delayCs: Int, interlaced: Boolean,
                         indices: Array[Byte], palette: Array[Byte])

  final case class Decoded(width: Int, height: Int, frames: Vector[Frame])

  /** An input frame for [[encode]]: indices are row-major w*h palette
    * bytes placed at (left, top) in the logical screen.
    */
  final case class FrameSpec(left: Int, top: Int, width: Int, height: Int,
                             delayCs: Int, interlaced: Boolean,
                             indices: Array[Byte],
                             localPalette: Option[Array[Byte]] = None)

  private def put16(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
  }

  /** Encode a (possibly animated) GIF89a: logical screen + 256-entry
    * global color table `palette` (768 bytes), NETSCAPE loop extension
    * when multi-frame, one GCE (delay) + image descriptor + LZW data
    * per frame. Frames may be sub-rectangles and/or interlaced.
    */
  def encode(width: Int, height: Int, palette: Array[Byte],
             frames: Seq[FrameSpec]): Array[Byte] = {
    require(palette.length == 256 * 3, "global color table must be 256 RGB entries")
    require(frames.nonEmpty, "GIF needs at least one frame")
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    put16(out, width); put16(out, height)
    out.write(0xf7) // GCT present, color resolution 8, size 2^(7+1)=256
    out.write(0)    // background color index
    out.write(0)    // pixel aspect ratio
    out.write(palette, 0, palette.length)
    if (frames.size > 1) {
      // NETSCAPE2.0 application extension: loop forever
      out.write(0x21); out.write(0xff); out.write(11)
      out.write("NETSCAPE2.0".getBytes("US-ASCII"))
      out.write(3); out.write(1); put16(out, 0); out.write(0)
    }
    frames.foreach { f =>
      require(f.indices.length == f.width * f.height,
        s"frame geometry ${f.width}x${f.height} != ${f.indices.length} indices")
      require(f.left + f.width <= width && f.top + f.height <= height,
        "frame rectangle exceeds the logical screen")
      // graphic control extension: disposal 0, no transparency
      out.write(0x21); out.write(0xf9); out.write(4)
      out.write(0)
      put16(out, f.delayCs)
      out.write(0); out.write(0)
      // image descriptor
      out.write(0x2c)
      put16(out, f.left); put16(out, f.top)
      put16(out, f.width); put16(out, f.height)
      val lct = f.localPalette
      lct.foreach(p => require(p.length == 256 * 3, "local color table must be 256 RGB entries"))
      out.write((if (lct.isDefined) 0x87 else 0x00) |
        (if (f.interlaced) 0x40 else 0x00))
      lct.foreach(p => out.write(p, 0, p.length))
      val stored =
        if (!f.interlaced) f.indices
        else {
          val s = new Array[Byte](f.indices.length)
          val order = interlaceOrder(f.height)
          var k = 0
          while (k < f.height) {
            System.arraycopy(f.indices, order(k) * f.width, s, k * f.width, f.width)
            k += 1
          }
          s
        }
      out.write(8) // LZW minimum code size (8-bit palette indices)
      val lzw = lzwEncode(stored, 8)
      var off = 0
      while (off < lzw.length) {
        val n = math.min(255, lzw.length - off)
        out.write(n)
        out.write(lzw, off, n)
        off += n
      }
      out.write(0) // block terminator
    }
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** Decode a GIF87a/89a byte stream: header + LSD + GCT, extensions
    * (GCE delays honored, others skipped per the sub-block grammar),
    * every image descriptor (local color tables, sub-rectangles,
    * interlace) through LZW. Throws on anything malformed — a corrupt
    * payload must fail loudly, not yield garbage pixels.
    */
  def decode(bytes: Array[Byte]): Decoded = {
    require(bytes.length >= 13, "truncated GIF header")
    val sig = new String(bytes, 0, 6, "US-ASCII")
    require(sig == "GIF89a" || sig == "GIF87a", s"not a GIF (signature '$sig')")
    var p = 6
    def u8(): Int = { require(p < bytes.length, "truncated GIF"); val v = bytes(p) & 0xff; p += 1; v }
    def u16(): Int = { val lo = u8(); val hi = u8(); (hi << 8) | lo }
    val width = u16()
    val height = u16()
    val packed = u8()
    u8() // background color index
    u8() // pixel aspect ratio
    val gct: Array[Byte] =
      if ((packed & 0x80) != 0) {
        val n = 2 << (packed & 0x07)
        val t = new Array[Byte](n * 3)
        require(p + t.length <= bytes.length, "truncated global color table")
        System.arraycopy(bytes, p, t, 0, t.length); p += t.length
        t
      } else Array.emptyByteArray
    def skipSubBlocks(): Unit = {
      var n = u8()
      while (n != 0) { require(p + n <= bytes.length, "truncated sub-block"); p += n; n = u8() }
    }
    val frames = Vector.newBuilder[Frame]
    var pendingDelay = 0
    var sawTrailer = false
    while (!sawTrailer) {
      u8() match {
        case 0x3b => sawTrailer = true
        case 0x21 => // extension
          val label = u8()
          if (label == 0xf9) { // graphic control
            val sz = u8()
            require(sz == 4, s"bad GCE block size $sz")
            val gcePacked = u8() // disposal/transparency flags
            require((gcePacked & 0x01) == 0,
              "GIF transparency out of scope — would decode to wrong RGB")
            pendingDelay = u16()
            u8() // transparent color index
            val term = u8()
            require(term == 0, "unterminated GCE")
          } else skipSubBlocks()
        case 0x2c => // image descriptor
          val left = u16(); val top = u16()
          val w = u16(); val h = u16()
          require(w > 0 && h > 0 && left + w <= width && top + h <= height,
            s"frame rectangle ${w}x$h@($left,$top) exceeds ${width}x$height screen")
          val ipacked = u8()
          val interlaced = (ipacked & 0x40) != 0
          val palette: Array[Byte] =
            if ((ipacked & 0x80) != 0) {
              val n = 2 << (ipacked & 0x07)
              val t = new Array[Byte](n * 3)
              require(p + t.length <= bytes.length, "truncated local color table")
              System.arraycopy(bytes, p, t, 0, t.length); p += t.length
              t
            } else {
              require(gct.nonEmpty, "frame has no color table (no GCT, no LCT)")
              gct
            }
          val mcs = u8()
          val lzw = new java.io.ByteArrayOutputStream()
          var n = u8()
          while (n != 0) {
            require(p + n <= bytes.length, "truncated image data sub-block")
            lzw.write(bytes, p, n); p += n
            n = u8()
          }
          val stored = lzwDecode(lzw.toByteArray, mcs, w * h)
          val indices =
            if (!interlaced) stored
            else {
              val d = new Array[Byte](stored.length)
              val order = interlaceOrder(h)
              var k = 0
              while (k < h) {
                System.arraycopy(stored, k * w, d, order(k) * w, w)
                k += 1
              }
              d
            }
          frames += Frame(left, top, w, h, pendingDelay, interlaced, indices, palette)
          pendingDelay = 0
        case other =>
          throw new IllegalArgumentException(
            f"unknown GIF block 0x$other%02x at offset ${p - 1}")
      }
    }
    val fs = frames.result()
    require(fs.nonEmpty, "GIF has no image frames")
    Decoded(width, height, fs)
  }

  // ------------------------------------------------------------------
  // Dataset operators
  // ------------------------------------------------------------------

  /** Attach a real single-frame GIF payload per document: palette
    * indices are the text's UTF-8 bytes '.'-padded to 64-wide rows
    * (the [[Multimodal.pixelsOf]] rule), the global color table is
    * [[Multimodal.FixturePalette]] (entry i = the shared color rule at
    * i), and odd doc_ids store INTERLACED — so one arithmetic oracle
    * replay covers both row layouts and the palette→RGB mapping. One
    * narrow mapPartitions pass; payloads never at the driver.
    */
  def asGifMedia(docs: DataFrame): DataFrame = {
    Multimodal.perDocument(Parallelism.ensure(docs)) { rows =>
      val w = Multimodal.ImgWidth
      rows.map { case (id, text) =>
        val pix = Multimodal.pixelsOf(text)
        val h = pix.length / w
        val payload = encode(w, h, Multimodal.FixturePalette,
          Seq(FrameSpec(0, 0, w, h, 0, interlaced = id % 2 == 1, pix)))
        Multimodal.MediaRecord(id, payload)
      }
    }.toDF("doc_id", "payload")
  }

  /** Attach an ANIMATED GIF payload per document: 1 + doc_id%4 frames,
    * frame f's index bytes are (text byte + 17·f) mod 256 with delay
    * 10·(f+1) centiseconds — pure arithmetic per frame, so the oracle
    * replays every frame's decoded RGB and delay exactly.
    */
  def asAnimatedGifMedia(docs: DataFrame): DataFrame = {
    Multimodal.perDocument(Parallelism.ensure(docs)) { rows =>
      val w = Multimodal.ImgWidth
      rows.map { case (id, text) =>
        val pix = Multimodal.pixelsOf(text)
        val h = pix.length / w
        val nFrames = (1 + id % 4).toInt
        val frames = (0 until nFrames).map { f =>
          val fpix = new Array[Byte](pix.length)
          var i = 0
          while (i < pix.length) {
            fpix(i) = (((pix(i) & 0xff) + 17 * f) % 256).toByte
            i += 1
          }
          FrameSpec(0, 0, w, h, 10 * (f + 1), interlaced = false, fpix)
        }
        Multimodal.MediaRecord(id, encode(w, h, Multimodal.FixturePalette, frames))
      }
    }.toDF("doc_id", "payload")
  }

  final case class GifMeta(doc_id: Long, width: Int, height: Int,
                           n_frames: Int, interlaced: Int, n_pixels: Int,
                           rgb_md5: String, rgb_sum: Long)

  final case class GifFrame(doc_id: Long, frame_idx: Int, n_frames: Int,
                            delay_cs: Int, rgb_md5: String, rgb_sum: Long)

  private def hexDigestOf(frame: Frame): (String, Long) = {
    val n = frame.width * frame.height
    val rgb = new Array[Byte](n * 3)
    var i = 0
    while (i < n) {
      System.arraycopy(frame.palette, (frame.indices(i) & 0xff) * 3, rgb, i * 3, 3)
      i += 1
    }
    Digest.hexDumpDigest(rgb)
  }

  /** Decode each payload and emit header geometry + the FIRST frame's
    * palette-resolved RGB digest/sum — every field below comes out of
    * the decoder (interlace flag included), not construction metadata.
    */
  def parseGifMeta(media: DataFrame): Dataset[GifMeta] = {
    Multimodal.perPayload(Parallelism.ensure(media)) { records =>
      records.map { r =>
        val g = decode(r.payload)
        val f0 = g.frames.head
        val (digest, sum) = hexDigestOf(f0)
        GifMeta(r.doc_id, g.width, g.height, g.frames.size,
          if (f0.interlaced) 1 else 0, f0.width * f0.height, digest, sum)
      }
    }
  }

  /** Enumerate frames with stride sampling (frame_idx % stride == 0) —
    * the video-frame-sample contract over a real animated container:
    * decode once per payload, emit delay + palette-resolved RGB digest
    * per kept frame.
    */
  def sampleGifFrames(media: DataFrame, stride: Int): Dataset[GifFrame] = {
    require(stride >= 1, s"bad stride $stride")
    Multimodal.perPayload(Parallelism.ensure(media)) { records =>
      records.flatMap { r =>
        val g = decode(r.payload)
        g.frames.zipWithIndex.collect {
          case (f, idx) if idx % stride == 0 =>
            val (digest, sum) = hexDigestOf(f)
            GifFrame(r.doc_id, idx, g.frames.size, f.delayCs, digest, sum)
        }
      }
    }
  }
}
