package graft.operators

import graft.functions.Digest
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

import scala.reflect.runtime.universe.TypeTag

import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.{CRC32, Deflater, Inflater}

/** Multimodal column support: media as opaque `binary` payloads with a
  * typed metadata struct, processed in per-partition batches.
  *
  * The decode step is REAL (since r6): payloads are valid PNG byte
  * streams produced by [[Png.encodeGray]] and decoded by [[Png.decode]]
  * — a pure-JVM parser that walks the chunk stream, verifies every
  * CRC32, inflates the IDAT data and reverses all five PNG row filters
  * (None/Sub/Up/Average/Paeth, RFC 2083 §6). MultimodalSpec
  * cross-validates the decoder against the JDK's own javax.imageio
  * on images the JDK encoder wrote (adaptive filters included), so the
  * codec is not merely self-consistent. A JPEG dimension parser
  * ([[jpegDims]] — SOF marker walk) covers the second container.
  *
  * At scale this is the same pattern as the external tool pipes:
  * per-partition batch processing amortizing codec state, with binary
  * payloads never touching the driver.
  */
object Multimodal {

  /** Minimal-but-real PNG codec: 8-bit grayscale (colour type 0),
    * non-interlaced. The DECODER handles anything a conformant encoder
    * produces for that pixel format — multiple IDAT chunks, any row
    * filter per scanline, ancillary chunks — and validates chunk CRCs.
    */
  object Png {
    private val Signature =
      Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

    private def chunk(tag: String, body: Array[Byte]): Array[Byte] = {
      val out = ByteBuffer.allocate(12 + body.length).order(ByteOrder.BIG_ENDIAN)
      out.putInt(body.length)
      val tagBytes = tag.getBytes("US-ASCII")
      out.put(tagBytes).put(body)
      val crc = new CRC32()
      crc.update(tagBytes)
      crc.update(body)
      out.putInt(crc.getValue.toInt)
      out.array()
    }

    /** Encode `width*height` grayscale pixels (row-major) as a valid
      * PNG: IHDR + one IDAT (deflated scanlines, filter byte 0 per row)
      * + IEND.
      */
    def encodeGray(width: Int, height: Int, pixels: Array[Byte]): Array[Byte] = {
      require(width > 0 && height > 0 && pixels.length == width * height,
        s"bad dimensions: $width x $height for ${pixels.length} pixels")
      val ihdr = ByteBuffer.allocate(13).order(ByteOrder.BIG_ENDIAN)
      ihdr.putInt(width).putInt(height)
      ihdr.put(8.toByte)  // bit depth
      ihdr.put(0.toByte)  // colour type: grayscale
      ihdr.put(0.toByte).put(0.toByte).put(0.toByte) // deflate, adaptive, no interlace
      val raw = new Array[Byte]((width + 1) * height)
      var r = 0
      while (r < height) {
        raw(r * (width + 1)) = 0 // filter: None
        System.arraycopy(pixels, r * width, raw, r * (width + 1) + 1, width)
        r += 1
      }
      val deflater = new Deflater()
      deflater.setInput(raw)
      deflater.finish()
      val comp = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!deflater.finished()) comp.write(buf, 0, deflater.deflate(buf))
      deflater.end()
      val out = new java.io.ByteArrayOutputStream()
      out.write(Signature)
      out.write(chunk("IHDR", ihdr.array()))
      out.write(chunk("IDAT", comp.toByteArray))
      out.write(chunk("IEND", Array.empty[Byte]))
      out.toByteArray
    }

    final case class Image(width: Int, height: Int, bitDepth: Int,
                           colorType: Int, pixels: Array[Byte])

    /** Decode a PNG byte stream (8-bit grayscale, non-interlaced):
      * validates the signature and every chunk CRC, concatenates IDAT
      * payloads, inflates, and reverses the per-row filter. Throws on
      * anything malformed — a corrupt payload must fail loudly, not
      * yield garbage pixels.
      */
    def decode(png: Array[Byte]): Image = {
      require(png.length >= 8 && (0 until 8).forall(i => png(i) == Signature(i)),
        "not a PNG (bad signature)")
      val bb = ByteBuffer.wrap(png, 8, png.length - 8).order(ByteOrder.BIG_ENDIAN)
      var width, height, bitDepth, colorType, interlace = -1
      val idat = new java.io.ByteArrayOutputStream()
      var seenEnd = false
      while (!seenEnd) {
        require(bb.remaining() >= 12, "truncated PNG chunk")
        val len = bb.getInt
        require(len >= 0 && bb.remaining() >= len + 8, "truncated PNG chunk body")
        val tagAndBody = new Array[Byte](4 + len)
        bb.get(tagAndBody)
        val declared = bb.getInt
        val crc = new CRC32()
        crc.update(tagAndBody)
        require(crc.getValue.toInt == declared, "PNG chunk CRC mismatch")
        val tag = new String(tagAndBody, 0, 4, "US-ASCII")
        tag match {
          case "IHDR" =>
            require(len == 13, "bad IHDR length")
            val h = ByteBuffer.wrap(tagAndBody, 4, 13).order(ByteOrder.BIG_ENDIAN)
            width = h.getInt; height = h.getInt
            bitDepth = h.get() & 0xff; colorType = h.get() & 0xff
            h.get() // compression (0)
            h.get() // filter method (0)
            interlace = h.get() & 0xff
          case "IDAT" => idat.write(tagAndBody, 4, len)
          case "IEND" => seenEnd = true
          case _ => // ancillary chunk: skip
        }
      }
      require(width > 0 && height > 0, "PNG missing IHDR")
      require(bitDepth == 8 && colorType == 0 && interlace == 0,
        s"unsupported PNG format: depth=$bitDepth type=$colorType interlace=$interlace" +
          " (this decoder handles 8-bit grayscale, non-interlaced)")
      // inflate the scanline stream: height rows of (1 filter byte + width)
      val raw = new Array[Byte]((width + 1) * height)
      val inflater = new Inflater()
      inflater.setInput(idat.toByteArray)
      var off = 0
      while (off < raw.length && !inflater.finished()) {
        val n = inflater.inflate(raw, off, raw.length - off)
        require(n > 0 || inflater.finished() || !inflater.needsInput(),
          "truncated IDAT stream")
        off += n
      }
      inflater.end()
      require(off == raw.length, s"IDAT inflated to $off of ${raw.length} bytes")
      // reverse the row filters (RFC 2083 §6; bpp = 1 for gray8). The
      // filter id is CONSTANT within a row, so the branch is hoisted
      // out of the byte loop: a None row is one arraycopy (our own
      // writer emits filter 0 for every row — the corpus-decode hot
      // path), and each other case drops the per-byte match plus the
      // dead neighbor loads. Same mod-256 arithmetic per case as the
      // fused loop — bit-identical output (the imageio
      // cross-validation specs cover filters 1-4 via JDK-written
      // PNGs).
      val pix = new Array[Byte](width * height)
      var r = 0
      while (r < height) {
        val filter = raw(r * (width + 1)) & 0xff
        val in = r * (width + 1) + 1
        val out = r * width
        filter match {
          case 0 => System.arraycopy(raw, in, pix, out, width)
          case 1 =>
            var c = 0
            while (c < width) {
              val a = if (c == 0) 0 else pix(out + c - 1) & 0xff
              pix(out + c) = (((raw(in + c) & 0xff) + a) & 0xff).toByte
              c += 1
            }
          case 2 =>
            if (r == 0) System.arraycopy(raw, in, pix, out, width) // b = 0
            else {
              var c = 0
              while (c < width) {
                val b = pix(out - width + c) & 0xff
                pix(out + c) = (((raw(in + c) & 0xff) + b) & 0xff).toByte
                c += 1
              }
            }
          case 3 =>
            var c = 0
            while (c < width) {
              val a = if (c == 0) 0 else pix(out + c - 1) & 0xff
              val b = if (r == 0) 0 else pix(out - width + c) & 0xff
              pix(out + c) =
                (((raw(in + c) & 0xff) + (a + b) / 2) & 0xff).toByte
              c += 1
            }
          case 4 =>
            var c = 0
            while (c < width) {
              val a = if (c == 0) 0 else pix(out + c - 1) & 0xff
              val b = if (r == 0) 0 else pix(out - width + c) & 0xff
              val pa = if (c == 0 || r == 0) 0
                else pix(out - width + c - 1) & 0xff
              val p = a + b - pa
              val da = math.abs(p - a); val db = math.abs(p - b)
              val dc = math.abs(p - pa)
              val pred = if (da <= db && da <= dc) a
                else if (db <= dc) b else pa
              pix(out + c) = (((raw(in + c) & 0xff) + pred) & 0xff).toByte
              c += 1
            }
          case f => throw new IllegalArgumentException(s"bad PNG filter $f")
        }
        r += 1
      }
      Image(width, height, bitDepth, colorType, pix)
    }

    /** Bytes per pixel in the RAW (pre-palette) scanline stream for an
      * 8-bit-depth image of the given colour type — also the filter
      * stride `bpp` of RFC 2083 §6.
      */
    private def rawChannels(colorType: Int): Int = colorType match {
      case 0 => 1 // grayscale
      case 2 => 3 // truecolor RGB
      case 3 => 1 // palette indices
      case 4 => 2 // gray + alpha
      case 6 => 4 // RGBA
      case t => throw new IllegalArgumentException(s"bad PNG colour type $t")
    }

    private def deflate(raw: Array[Byte]): Array[Byte] = {
      val deflater = new Deflater()
      deflater.setInput(raw)
      deflater.finish()
      val comp = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!deflater.finished()) comp.write(buf, 0, deflater.deflate(buf))
      deflater.end()
      comp.toByteArray
    }

    /** Shared color-capable encoder core: filter-0 scanlines of
      * `rawChannels(colorType)` bytes per pixel, optional PLTE (palette
      * type only, ≤256 RGB triples) emitted before IDAT.
      */
    private def encodeRaw(width: Int, height: Int, colorType: Int,
                          raw: Array[Byte],
                          palette: Array[Byte] = null): Array[Byte] = {
      val bpp = rawChannels(colorType)
      require(width > 0 && height > 0 && raw.length == width * height * bpp,
        s"bad dimensions: $width x $height x $bpp for ${raw.length} bytes")
      val ihdr = ByteBuffer.allocate(13).order(ByteOrder.BIG_ENDIAN)
      ihdr.putInt(width).putInt(height)
      ihdr.put(8.toByte).put(colorType.toByte)
      ihdr.put(0.toByte).put(0.toByte).put(0.toByte)
      val stride = width * bpp
      val lines = new Array[Byte]((stride + 1) * height)
      var r = 0
      while (r < height) {
        lines(r * (stride + 1)) = 0 // filter: None
        System.arraycopy(raw, r * stride, lines, r * (stride + 1) + 1, stride)
        r += 1
      }
      val out = new java.io.ByteArrayOutputStream()
      out.write(Signature)
      out.write(chunk("IHDR", ihdr.array()))
      if (colorType == 3) {
        require(palette != null && palette.length % 3 == 0 &&
          palette.length <= 256 * 3, "palette PNG needs a PLTE of <=256 RGB triples")
        out.write(chunk("PLTE", palette))
      }
      out.write(chunk("IDAT", deflate(lines)))
      out.write(chunk("IEND", Array.empty[Byte]))
      out.toByteArray
    }

    /** Truecolor PNG (colour type 2): `width*height*3` interleaved RGB. */
    def encodeRgb(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] =
      encodeRaw(width, height, 2, rgb)

    /** Adam7 pass geometry: (x0, y0, dx, dy) per RFC 2083 §2.6. */
    private val Adam7 = Array(
      (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
      (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

    /** INTERLACED truecolor PNG (Adam7, colour type 2): the seven
      * sub-images serialized pass by pass, each with its own filter-0
      * scanlines — the progressive-download layout real web PNGs
      * still ship. Exercises [[decodeColor]]'s deinterlacer; pixel
      * content is identical to [[encodeRgb]]'s.
      */
    def encodeRgbInterlaced(width: Int, height: Int,
                            rgb: Array[Byte]): Array[Byte] = {
      require(width > 0 && height > 0 && rgb.length == width * height * 3,
        s"bad dimensions: $width x $height for ${rgb.length} bytes")
      val ihdr = ByteBuffer.allocate(13).order(ByteOrder.BIG_ENDIAN)
      ihdr.putInt(width).putInt(height)
      ihdr.put(8.toByte).put(2.toByte)
      ihdr.put(0.toByte).put(0.toByte).put(1.toByte) // interlace: Adam7
      val lines = new java.io.ByteArrayOutputStream()
      Adam7.foreach { case (x0, y0, dx, dy) =>
        val wp = if (width > x0) (width - x0 + dx - 1) / dx else 0
        val hp = if (height > y0) (height - y0 + dy - 1) / dy else 0
        if (wp > 0 && hp > 0) {
          var r = 0
          while (r < hp) {
            lines.write(0) // filter: None
            var c = 0
            while (c < wp) {
              val sy = y0 + r * dy
              val sx = x0 + c * dx
              val o = (sy * width + sx) * 3
              lines.write(rgb(o)); lines.write(rgb(o + 1))
              lines.write(rgb(o + 2))
              c += 1
            }
            r += 1
          }
        }
      }
      val out = new java.io.ByteArrayOutputStream()
      out.write(Signature)
      out.write(chunk("IHDR", ihdr.array()))
      out.write(chunk("IDAT", deflate(lines.toByteArray)))
      out.write(chunk("IEND", Array.empty[Byte]))
      out.toByteArray
    }

    /** Truecolor+alpha PNG (colour type 6): `width*height*4` RGBA. */
    def encodeRgba(width: Int, height: Int, rgba: Array[Byte]): Array[Byte] =
      encodeRaw(width, height, 6, rgba)

    /** Gray+alpha PNG (colour type 4): `width*height*2` interleaved
      * (gray, alpha) — the fourth 8-bit storage type; completes the
      * encoder set over everything [[decodeColor]] reads.
      */
    def encodeGrayAlpha(width: Int, height: Int,
                        ga: Array[Byte]): Array[Byte] =
      encodeRaw(width, height, 4, ga)

    /** Palette PNG (colour type 3): one index byte per pixel + a PLTE
      * of RGB triples (index i → palette[3i..3i+2]).
      */
    def encodePalette(width: Int, height: Int, indices: Array[Byte],
                      palette: Array[Byte]): Array[Byte] =
      encodeRaw(width, height, 3, indices, palette)

    /** Decoded color image: pixels ALWAYS materialized as interleaved
      * RGBA (alpha 255 for opaque storage types; palette alpha from
      * tRNS when present). `channels` is the STORAGE channel count —
      * bytes per pixel in the raw scanline stream (palette = 1).
      */
    final case class ColorImage(width: Int, height: Int, bitDepth: Int,
                                colorType: Int, channels: Int,
                                rgba: Array[Byte]) {
      /** The interleaved RGB, alpha dropped. */
      def rgb: Array[Byte] = {
        val n = width * height
        val out = new Array[Byte](n * 3)
        var i = 0
        while (i < n) {
          out(i * 3) = rgba(i * 4)
          out(i * 3 + 1) = rgba(i * 4 + 1)
          out(i * 3 + 2) = rgba(i * 4 + 2)
          i += 1
        }
        out
      }
    }

    /** Decode any 8-bit-depth non-interlaced PNG — colour types 0
      * (gray), 2 (RGB), 3 (palette + PLTE [+ tRNS]), 4 (gray+alpha),
      * 6 (RGBA) — with the same loud-failure contract as [[decode]]:
      * signature + every chunk CRC verified, IDAT concatenated and
      * inflated, all five row filters reversed at the colour type's
      * byte stride (RFC 2083 §6: `a`/`c` are the bytes `bpp` positions
      * back). Output is normalized to RGBA so downstream passes see
      * one pixel layout regardless of storage.
      */
    def decodeColor(png: Array[Byte]): ColorImage = {
      require(png.length >= 8 && (0 until 8).forall(i => png(i) == Signature(i)),
        "not a PNG (bad signature)")
      val bb = ByteBuffer.wrap(png, 8, png.length - 8).order(ByteOrder.BIG_ENDIAN)
      var width, height, bitDepth, colorType, interlace = -1
      var palette: Array[Byte] = null
      var trns: Array[Byte] = null
      val idat = new java.io.ByteArrayOutputStream()
      var seenEnd = false
      while (!seenEnd) {
        require(bb.remaining() >= 12, "truncated PNG chunk")
        val len = bb.getInt
        require(len >= 0 && bb.remaining() >= len + 8, "truncated PNG chunk body")
        val tagAndBody = new Array[Byte](4 + len)
        bb.get(tagAndBody)
        val declared = bb.getInt
        val crc = new CRC32()
        crc.update(tagAndBody)
        require(crc.getValue.toInt == declared, "PNG chunk CRC mismatch")
        new String(tagAndBody, 0, 4, "US-ASCII") match {
          case "IHDR" =>
            require(len == 13, "bad IHDR length")
            val h = ByteBuffer.wrap(tagAndBody, 4, 13).order(ByteOrder.BIG_ENDIAN)
            width = h.getInt; height = h.getInt
            bitDepth = h.get() & 0xff; colorType = h.get() & 0xff
            h.get(); h.get()
            interlace = h.get() & 0xff
          case "PLTE" =>
            require(len % 3 == 0 && len <= 256 * 3, "bad PLTE length")
            palette = java.util.Arrays.copyOfRange(tagAndBody, 4, 4 + len)
          case "tRNS" =>
            trns = java.util.Arrays.copyOfRange(tagAndBody, 4, 4 + len)
          case "IDAT" => idat.write(tagAndBody, 4, len)
          case "IEND" => seenEnd = true
          case _ => // ancillary chunk: skip
        }
      }
      require(width > 0 && height > 0, "PNG missing IHDR")
      require(bitDepth == 8 && (interlace == 0 || interlace == 1),
        s"unsupported PNG format: depth=$bitDepth interlace=$interlace" +
          " (this decoder handles 8-bit depth, interlace 0 or Adam7)")
      val bpp = rawChannels(colorType)
      if (colorType == 3)
        require(palette != null, "palette PNG missing PLTE")
      // pass geometry: one (width, height, x0, y0, dx, dy) per
      // sub-image — a single full-frame pass when non-interlaced, the
      // seven Adam7 passes otherwise (empty passes dropped)
      val passes: Array[(Int, Int, Int, Int, Int, Int)] =
        if (interlace == 0) Array((width, height, 0, 0, 1, 1))
        else Adam7.map { case (x0, y0, dx, dy) =>
          val wp = if (width > x0) (width - x0 + dx - 1) / dx else 0
          val hp = if (height > y0) (height - y0 + dy - 1) / dy else 0
          (wp, hp, x0, y0, dx, dy)
        }.filter(p => p._1 > 0 && p._2 > 0)
      val rawLen = passes.map { case (wp, hp, _, _, _, _) =>
        (wp * bpp + 1) * hp }.sum
      val raw = new Array[Byte](rawLen)
      val inflater = new Inflater()
      inflater.setInput(idat.toByteArray)
      var off = 0
      while (off < raw.length && !inflater.finished()) {
        val n = inflater.inflate(raw, off, raw.length - off)
        require(n > 0 || inflater.finished() || !inflater.needsInput(),
          "truncated IDAT stream")
        off += n
      }
      inflater.end()
      require(off == raw.length, s"IDAT inflated to $off of ${raw.length} bytes")
      // reverse the row filters PER PASS at stride bpp (filters never
      // cross a pass boundary — each sub-image unfilters independently,
      // RFC 2083 §2.6/§6) and scatter the pass pixels into the full
      // image at (y0 + r·dy, x0 + c·dx)
      val stride = width * bpp
      val un = new Array[Byte](stride * height)
      var base = 0
      passes.foreach { case (wp, hp, x0, y0, dx, dy) =>
        val ps = wp * bpp
        val pun = new Array[Byte](ps * hp)
        // filter branch hoisted per row (constant within a row), same
        // per-case mod-256 arithmetic as the fused loop — see the
        // gray8 decoder above for the rationale; filter-0 rows (our
        // own writer's output) become one arraycopy each.
        var r = 0
        while (r < hp) {
          val filter = raw(base + r * (ps + 1)) & 0xff
          val in = base + r * (ps + 1) + 1
          val out = r * ps
          filter match {
            case 0 => System.arraycopy(raw, in, pun, out, ps)
            case 1 =>
              var c = 0
              while (c < ps) {
                val a = if (c < bpp) 0 else pun(out + c - bpp) & 0xff
                pun(out + c) = (((raw(in + c) & 0xff) + a) & 0xff).toByte
                c += 1
              }
            case 2 =>
              if (r == 0) System.arraycopy(raw, in, pun, out, ps) // b = 0
              else {
                var c = 0
                while (c < ps) {
                  val b = pun(out - ps + c) & 0xff
                  pun(out + c) = (((raw(in + c) & 0xff) + b) & 0xff).toByte
                  c += 1
                }
              }
            case 3 =>
              var c = 0
              while (c < ps) {
                val a = if (c < bpp) 0 else pun(out + c - bpp) & 0xff
                val b = if (r == 0) 0 else pun(out - ps + c) & 0xff
                pun(out + c) =
                  (((raw(in + c) & 0xff) + (a + b) / 2) & 0xff).toByte
                c += 1
              }
            case 4 =>
              var c = 0
              while (c < ps) {
                val a = if (c < bpp) 0 else pun(out + c - bpp) & 0xff
                val b = if (r == 0) 0 else pun(out - ps + c) & 0xff
                val pa = if (r == 0 || c < bpp) 0
                  else pun(out - ps + c - bpp) & 0xff
                val p = a + b - pa
                val da = math.abs(p - a); val db = math.abs(p - b)
                val dc = math.abs(p - pa)
                val pred = if (da <= db && da <= dc) a
                  else if (db <= dc) b else pa
                pun(out + c) = (((raw(in + c) & 0xff) + pred) & 0xff).toByte
                c += 1
              }
            case f => throw new IllegalArgumentException(s"bad PNG filter $f")
          }
          r += 1
        }
        r = 0
        while (r < hp) {
          var c = 0
          while (c < wp) {
            System.arraycopy(pun, (r * wp + c) * bpp, un,
              ((y0 + r * dy) * width + (x0 + c * dx)) * bpp, bpp)
            c += 1
          }
          r += 1
        }
        base += (ps + 1) * hp
      }
      // normalize to RGBA
      val rgba = new Array[Byte](width * height * 4)
      var i = 0
      val n = width * height
      while (i < n) {
        colorType match {
          case 0 =>
            val v = un(i)
            rgba(i * 4) = v; rgba(i * 4 + 1) = v; rgba(i * 4 + 2) = v
            rgba(i * 4 + 3) = 0xff.toByte
          case 2 =>
            rgba(i * 4) = un(i * 3); rgba(i * 4 + 1) = un(i * 3 + 1)
            rgba(i * 4 + 2) = un(i * 3 + 2); rgba(i * 4 + 3) = 0xff.toByte
          case 3 =>
            val idx = un(i) & 0xff
            require(idx * 3 + 2 < palette.length,
              s"palette index $idx outside PLTE of ${palette.length / 3}")
            rgba(i * 4) = palette(idx * 3)
            rgba(i * 4 + 1) = palette(idx * 3 + 1)
            rgba(i * 4 + 2) = palette(idx * 3 + 2)
            rgba(i * 4 + 3) =
              if (trns != null && idx < trns.length) trns(idx)
              else 0xff.toByte
          case 4 =>
            val v = un(i * 2)
            rgba(i * 4) = v; rgba(i * 4 + 1) = v; rgba(i * 4 + 2) = v
            rgba(i * 4 + 3) = un(i * 2 + 1)
          case 6 =>
            rgba(i * 4) = un(i * 4); rgba(i * 4 + 1) = un(i * 4 + 1)
            rgba(i * 4 + 2) = un(i * 4 + 2); rgba(i * 4 + 3) = un(i * 4 + 3)
        }
        i += 1
      }
      ColorImage(width, height, bitDepth, colorType, bpp, rgba)
    }
  }

  /** JPEG (width, height) via the SOF marker walk — the second real
    * container format: walks the header segments ([[Jpeg.Segments]])
    * past APPn/DQT/etc. to the first start-of-frame (SOF0-SOF15,
    * excluding DHT/DAC/JPG) and reads the 2-byte big-endian dimensions.
    * None if not a JPEG, no SOF comes before SOS/EOI, or the header is
    * malformed.
    */
  def jpegDims(bytes: Array[Byte]): Option[(Int, Int)] =
    try {
      val s = new Jpeg.Segments(bytes)
      def isSof(m: Int) = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
      while (s.next() && !isSof(s.marker)) {}
      def u16(at: Int) = ((bytes(at) & 0xff) << 8) | (bytes(at + 1) & 0xff)
      if (isSof(s.marker) && s.end >= s.at + 9) Some((u16(s.at + 7), u16(s.at + 5)))
      else None
    } catch { case _: IllegalArgumentException => None }

  /** Deterministic image-pixel rule shared with the DuckDB oracle:
    * pixels = the text's UTF-8 bytes, '.'-padded (0x2e) to a whole
    * number of 64-wide rows (empty text ⇒ one all-dots row). The
    * oracle recomputes every decoded value from this rule, so the PNG
    * ENCODER and DECODER are both under oracle test — a bug in either
    * breaks the hash match.
    */
  private[graft] val ImgWidth = 64
  private[graft] def pixelsOf(text: String): Array[Byte] = {
    val tb = text.getBytes("UTF-8")
    val height = math.max(1, (tb.length + ImgWidth - 1) / ImgWidth)
    val pix = new Array[Byte](ImgWidth * height)
    java.util.Arrays.fill(pix, '.'.toByte)
    System.arraycopy(tb, 0, pix, 0, tb.length)
    pix
  }

  final case class Media(doc_id: Long, payload: Array[Byte],
                         format: String, width: Int, height: Int)

  /** Attach a REAL binary payload: each document's text renders to a
    * valid grayscale PNG via the deterministic [[pixelsOf]] rule. One
    * narrow mapPartitions pass; payload bytes are built and stay on the
    * executors.
    */
  def asMedia(docs: DataFrame): DataFrame = {
    // PNG encode per row is codec-priced; a byte-small scan folding
    // into one task serializes it (the q193/q391 lesson)
    perDocument(Parallelism.ensure(docs)) { rows =>
      rows.map { case (id, text) =>
        val pix = pixelsOf(text)
        val h = pix.length / ImgWidth
        Media(id, Png.encodeGray(ImgWidth, h, pix), "image/png", ImgWidth, h)
      }
    }.select(col("doc_id"), col("payload"),
      struct(col("format"), col("width"), col("height")).as("meta"))
  }

  final case class MediaRecord(doc_id: Long, payload: Array[Byte])

  /** The per-document pass every text-rendered fixture builds on: `f`
    * maps one partition of `(doc_id, text)` rows, a null text read as
    * "". The spread is the caller's: a codec-priced builder passes
    * `Parallelism.ensure(docs)`.
    */
  private[graft] def perDocument[U <: Product : TypeTag](docs: DataFrame)(
      f: Iterator[(Long, String)] => Iterator[U]): Dataset[U] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      .as[(Long, String)]
      .mapPartitions(f)(Encoders.product[U])
  }

  /** The decode pass every media parser builds on: `f` maps one
    * partition of `(doc_id, payload)` records. The spread is the
    * caller's, as in [[perDocument]].
    */
  private[graft] def perPayload[U <: Product : TypeTag](media: DataFrame)(
      f: Iterator[MediaRecord] => Iterator[U]): Dataset[U] = {
    import media.sparkSession.implicits._
    media.select(col("doc_id"), col("payload")).as[MediaRecord]
      .mapPartitions(f)(Encoders.product[U])
  }

  final case class MediaMeta(doc_id: Long, width: Int, height: Int,
                             bit_depth: Int, color_type: Int,
                             n_pixels: Int, pixel_md5: String)
  final case class MediaFeatures(doc_id: Long, n_pixels: Int,
                                 mean_pixel: Double, n_frames: Int)

  private val FrameBytes = 256 // frame-sampling granularity over pixels

  /** REAL decode pass: parse each PNG payload, emit the PARSED header
    * fields and a digest of the DECODED pixels — the oracle recomputes
    * both from the pixel rule, so a decoder that misreads dimensions or
    * mis-unfilters a row hash-mismatches.
    */
  def parseMeta(media: DataFrame): Dataset[MediaMeta] = {
    perPayload(Parallelism.ensure(media)) { records =>
      records.map { r =>
        val img = Png.decode(r.payload)
        MediaMeta(r.doc_id, img.width, img.height, img.bitDepth,
          img.colorType, img.pixels.length, Digest.md5Hex(img.pixels))
      }
    }
  }

  final case class Frame(doc_id: Long, frame_idx: Int, n_bytes: Int,
                         frame_md5: String)

  /** Frame sampling over the DECODED pixel buffer: chunk into
    * [[FrameBytes]] "frames", keep every `every`-th, emit per-frame
    * digests — the video-frame-sampling plumbing (a production
    * implementation would seek container keyframes; the
    * decode/chunk/sample/batch shape is what survives that swap). One
    * narrow flatMap, no shuffle; payload bytes never leave the executor.
    */
  def sampleFrames(media: DataFrame, every: Int): Dataset[Frame] = {
    perPayload(media) { records =>
      records.flatMap { r =>
        val d = Png.decode(r.payload).pixels
        val nFrames = math.ceil(d.length.toDouble / FrameBytes).toInt
        (0 until nFrames by every).iterator.map { fi =>
          val start = fi * FrameBytes
          val end = math.min(start + FrameBytes, d.length)
          Frame(r.doc_id, fi, end - start,
            Digest.md5Hex(java.util.Arrays.copyOfRange(d, start, end)))
        }
      }
    }
  }

  final case class ResizedImage(doc_id: Long, out_width: Int, out_height: Int,
                                out_n_pixels: Int, out_md5: String,
                                out_sum: Long)

  /** Nearest-neighbor downsample by an integer `factor` THROUGH the
    * codec, twice: decode the payload, sample pixel (r·factor,
    * c·factor) for every output position, RE-ENCODE the result as a
    * fresh PNG, RE-DECODE it, and emit digest + exact pixel sum from
    * the second decode — so the encoder is exercised on dimensions the
    * fixture rule never produces (32-wide rows) and a bug in either
    * codec direction breaks the oracle hash. Output dims are
    * ceil(in/factor) (positions 0, factor, 2·factor, … < in).
    *
    * This is the image-preprocessing shape of a multimodal training
    * pipeline (thumbnail/low-res variants for dedup and filtering): one
    * narrow mapPartitions pass, codec state amortized per partition,
    * payload bytes never touching the driver — swap the sampling loop
    * for a real resampling kernel and the plumbing is unchanged.
    */
  /** Fixed-point bilinear resize of interleaved RGB — the real
    * resampling kernel behind CLIP-style preprocessing, on the integer
    * lattice so both engines replay it exactly: source position in
    * 1/256ths via the half-pixel (align_corners=false) convention
    * fx = floorDiv((2·dx+1)·srcW·128, dstW) − 128, neighbors clamped at
    * the borders, blend = Σ wᵢ·pᵢ >> 16 with 8-bit weights. All
    * arithmetic is nonnegative after the +256 shift, so the oracle's
    * truncating division agrees.
    */
  private[graft] def bilinearResizeRgb(rgb: Array[Byte], w: Int, h: Int,
                                       ow: Int, oh: Int): Array[Byte] = {
    require(rgb.length == w * h * 3, "RGB buffer size mismatch")
    require(ow > 0 && oh > 0, s"bad target ${ow}x$oh")
    val out = new Array[Byte](ow * oh * 3)
    var dy = 0
    while (dy < oh) {
      val fy = Math.floorDiv((2L * dy + 1) * h * 128, oh).toInt - 128
      val y0 = Math.floorDiv(fy, 256)
      val wy = fy - y0 * 256
      val y0c = math.max(0, math.min(y0, h - 1))
      val y1c = math.max(0, math.min(y0 + 1, h - 1))
      var dx = 0
      while (dx < ow) {
        val fx = Math.floorDiv((2L * dx + 1) * w * 128, ow).toInt - 128
        val x0 = Math.floorDiv(fx, 256)
        val wx = fx - x0 * 256
        val x0c = math.max(0, math.min(x0, w - 1))
        val x1c = math.max(0, math.min(x0 + 1, w - 1))
        val w00 = (256 - wx) * (256 - wy)
        val w10 = wx * (256 - wy)
        val w01 = (256 - wx) * wy
        val w11 = wx * wy
        var ch = 0
        while (ch < 3) {
          val p00 = rgb((y0c * w + x0c) * 3 + ch) & 0xff
          val p10 = rgb((y0c * w + x1c) * 3 + ch) & 0xff
          val p01 = rgb((y1c * w + x0c) * 3 + ch) & 0xff
          val p11 = rgb((y1c * w + x1c) * 3 + ch) & 0xff
          out((dy * ow + dx) * 3 + ch) =
            ((w00 * p00 + w10 * p10 + w01 * p01 + w11 * p11) >> 16).toByte
          ch += 1
        }
        dx += 1
      }
      dy += 1
    }
    out
  }

  final case class ClipPre(doc_id: Long, src_w: Int, src_h: Int,
                           out_w: Int, out_h: Int, rgb_md5: String,
                           rgb_sum: Long)

  /** The CLIP image-preprocessing shape over color-JPEG payloads:
    * decode → bilinear resize to `size`×`size` → center-crop
    * `crop`×`crop` → digest. (The float normalize step that follows in
    * a real CLIP stack is a per-channel affine map the training side
    * owns; the Spark-side contract is decode+resize+crop, and those
    * are exact here.) One narrow mapPartitions pass; payloads never at
    * the driver.
    */
  def clipPreprocess(media: DataFrame, size: Int = 32,
                     crop: Int = 24): Dataset[ClipPre] = {
    require(size > 0 && crop > 0 && crop <= size, s"bad $size/$crop")
    perPayload(Parallelism.ensure(media)) { records =>
      val off = (size - crop) / 2
      records.map { r =>
        val img = Jpeg.decodeColor(r.payload)
        val rs = bilinearResizeRgb(img.pixels, img.width, img.height,
          size, size)
        val cropped = new Array[Byte](crop * crop * 3)
        var dy = 0
        while (dy < crop) {
          System.arraycopy(rs, ((dy + off) * size + off) * 3,
            cropped, dy * crop * 3, crop * 3)
          dy += 1
        }
        val (md5, sum) = Digest.hexDumpDigest(cropped)
        ClipPre(r.doc_id, img.width, img.height, crop, crop, md5, sum)
      }
    }
  }

  def resizeNearest(media: DataFrame, factor: Int): Dataset[ResizedImage] = {
    require(factor > 0, s"bad resize factor $factor")
    perPayload(media) { records =>
      records.map { r =>
        val img = Png.decode(r.payload)
        val ow = (img.width + factor - 1) / factor
        val oh = (img.height + factor - 1) / factor
        val small = new Array[Byte](ow * oh)
        var rr = 0
        while (rr < oh) {
          var cc = 0
          while (cc < ow) {
            small(rr * ow + cc) = img.pixels(rr * factor * img.width + cc * factor)
            cc += 1
          }
          rr += 1
        }
        val out = Png.decode(Png.encodeGray(ow, oh, small))
        var s = 0L
        var i = 0
        while (i < out.pixels.length) { s += (out.pixels(i) & 0xff); i += 1 }
        ResizedImage(r.doc_id, out.width, out.height, out.pixels.length,
          Digest.md5Hex(out.pixels), s)
      }
    }
  }

  /** Per-partition batch decode + feature extraction (pixel stats and a
    * frame count) — the Scala analog of a mapInPandas batch UDF, now
    * over genuinely decoded image data.
    */
  def extractFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    perPayload(media) { records =>
      // per-partition codec state would initialize once, here
      records.map { r =>
        val img = Png.decode(r.payload)
        val n = img.pixels.length
        var s = 0L
        var i = 0
        while (i < n) { s += (img.pixels(i) & 0xff); i += 1 }
        MediaFeatures(
          doc_id = r.doc_id,
          n_pixels = n,
          mean_pixel = if (n == 0) 0.0 else s.toDouble / n,
          n_frames = math.ceil(n.toDouble / FrameBytes).toInt)
      }
    }
  }

  final case class Patch(doc_id: Long, patch_row: Int, patch_col: Int,
                         pix_sum: Long, patch_md5: String)

  /** ViT-style patchification: the DECODED image cut into a
    * non-overlapping `size`×`size` grid (full patches only — the edge
    * remainder is dropped, the common ViT preprocessing choice), each
    * patch emitted with its exact pixel sum and a digest of its bytes
    * in row-major order. This is the token-ization step of a
    * vision-transformer data pipeline; swap the digest for a linear
    * projection and the plumbing is unchanged.
    *
    * One narrow mapPartitions pass — codec per partition, payloads
    * never at the driver, output fans out h/size × w/size rows per
    * image (skinny: two ints, a long, a hex string).
    */
  def imagePatches(media: DataFrame, size: Int): Dataset[Patch] = {
    require(size > 0, s"bad patch size $size")
    perPayload(media) { records =>
      records.flatMap { r =>
        val img = Png.decode(r.payload)
        val pRows = img.height / size
        val pCols = img.width / size
        val buf = new Array[Byte](size * size)
        for {
          pr <- (0 until pRows).iterator
          pc <- (0 until pCols).iterator
        } yield {
          var s = 0L
          var i = 0
          while (i < size) {
            var j = 0
            while (j < size) {
              val b = img.pixels((pr * size + i) * img.width + pc * size + j)
              buf(i * size + j) = b
              s += (b & 0xff)
              j += 1
            }
            i += 1
          }
          Patch(r.doc_id, pr, pc, s, Digest.md5Hex(buf))
        }
      }
    }
  }

  /** Deterministic multi-frame "video" fixture: `nFrames` complete
    * PNGs concatenated into one payload (the simplest real container —
    * every frame is an independently decodable image). Frame f's
    * pixels are the document's pixel row rotated left by f, so each
    * frame differs and the oracle can re-derive every frame digest
    * from the text rule.
    */
  def asVideo(docs: DataFrame, nFrames: Int): DataFrame = {
    require(nFrames >= 1, s"bad frame count $nFrames")
    perDocument(docs) { rows =>
      rows.map { case (id, text) =>
        val pix = pixelsOf(text)
        val h = pix.length / ImgWidth
        val frames = (0 until nFrames).map { f =>
          val rot = new Array[Byte](pix.length)
          var i = 0
          while (i < pix.length) { rot(i) = pix((i + f) % pix.length); i += 1 }
          Png.encodeGray(ImgWidth, h, rot)
        }
        val buf = new Array[Byte](frames.map(_.length).sum)
        var off = 0
        frames.foreach { fb =>
          System.arraycopy(fb, 0, buf, off, fb.length); off += fb.length
        }
        (id, buf)
      }
    }.toDF("doc_id", "payload")
  }

  final case class VideoFrame(doc_id: Long, frame_idx: Int, width: Int,
                              height: Int, frame_md5: String)

  /** REAL container frame sampling: walk the concatenated-PNG stream
    * STRUCTURALLY — each image spans its signature through its IEND
    * chunk, so frame boundaries come from the chunk walk, never from
    * magic-byte scanning (the 8-byte signature can legitimately occur
    * inside deflate data). Every `every`-th frame is decoded with the
    * real codec and its PIXELS digested — a bad boundary, a corrupt
    * chunk length, or a decoder fault all break the digest. One narrow
    * flatMap; payload bytes never leave the executor. (A production
    * container swaps the chunk walk for an index/atom parser — the
    * decode-every-kth-keyframe shape is unchanged.)
    */
  def sampleVideoFrames(video: DataFrame, every: Int): Dataset[VideoFrame] = {
    require(every >= 1, s"bad sampling stride $every")
    perPayload(video) { records =>
      records.flatMap { r =>
        val bytes = r.payload
        val bounds = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
        var off = 0
        while (off < bytes.length) {
          val start = off
          require(bytes.length - off > 8, s"truncated container at $off")
          off += 8 // signature (validated by the per-frame decode)
          var done = false
          while (!done) {
            require(bytes.length - off >= 12, s"truncated chunk at $off")
            val len = ((bytes(off) & 0xff) << 24) |
              ((bytes(off + 1) & 0xff) << 16) |
              ((bytes(off + 2) & 0xff) << 8) | (bytes(off + 3) & 0xff)
            val typ = new String(bytes, off + 4, 4, "US-ASCII")
            off += 12 + len
            if (typ == "IEND") done = true
          }
          bounds += ((start, off))
        }
        bounds.zipWithIndex.iterator.collect {
          case ((s0, e0), fi) if fi % every == 0 =>
            val img = Png.decode(java.util.Arrays.copyOfRange(bytes, s0, e0))
            VideoFrame(r.doc_id, fi, img.width, img.height,
              Digest.md5Hex(img.pixels))
        }
      }
    }
  }

  /** Deterministic COLOR rule shared with the oracle, applied to the
    * gray pixel rule's byte `b` at every position: R = b, G = 255 − b,
    * B = (b + 85) mod 256, A = 255 − (b mod 32). All integer — both
    * engines derive identical channel bytes from the text.
    */
  private[graft] def colorOf(b: Int): (Int, Int, Int, Int) =
    (b, 255 - b, (b + 85) % 256, 255 - (b % 32))

  /** The 256-entry PLTE used by the palette fixture: entry i IS the
    * color rule evaluated at i, so index-byte == gray-rule byte and the
    * decoded RGB equals the other storage types' exactly.
    */
  private[graft] lazy val FixturePalette: Array[Byte] =
    rgbOf(Array.tabulate(256)(_.toByte))

  /** The [[colorOf]] rule's interleaved RGB over gray-rule pixels. */
  private[graft] def rgbOf(pix: Array[Byte]): Array[Byte] = {
    val rgb = new Array[Byte](pix.length * 3)
    var i = 0
    while (i < pix.length) {
      val (r, g, b, _) = colorOf(pix(i) & 0xff)
      rgb(i * 3) = r.toByte; rgb(i * 3 + 1) = g.toByte
      rgb(i * 3 + 2) = b.toByte
      i += 1
    }
    rgb
  }

  /** Attach a real COLOR PNG payload, cycling the three web-reality
    * storage types by doc_id mod 3 — 0 → truecolor RGB (colour type
    * 2), 1 → palette + PLTE (type 3), 2 → RGBA (type 6) — all three
    * encoding the SAME decoded RGB per the [[colorOf]] rule, so one
    * oracle replay covers every storage path. One narrow mapPartitions
    * pass; payloads never at the driver.
    */
  def asColorMedia(docs: DataFrame): DataFrame = {
    perDocument(Parallelism.ensure(docs)) { rows =>
      rows.map { case (id, text) =>
        val pix = pixelsOf(text)
        val h = pix.length / ImgWidth
        val payload = (id % 3) match {
          case 0 =>
            Png.encodeRgb(ImgWidth, h, rgbOf(pix))
          case 1 =>
            Png.encodePalette(ImgWidth, h, pix, FixturePalette)
          case _ =>
            val rgba = new Array[Byte](pix.length * 4)
            var i = 0
            while (i < pix.length) {
              val (r, g, b, a) = colorOf(pix(i) & 0xff)
              rgba(i * 4) = r.toByte; rgba(i * 4 + 1) = g.toByte
              rgba(i * 4 + 2) = b.toByte; rgba(i * 4 + 3) = a.toByte
              i += 1
            }
            Png.encodeRgba(ImgWidth, h, rgba)
        }
        Media(id, payload, "image/png", ImgWidth, h)
      }
    }.select(col("doc_id"), col("payload"),
      struct(col("format"), col("width"), col("height")).as("meta"))
  }

  /** The [[asColorMedia]] rule stored INTERLACED (Adam7, truecolor):
    * same decoded RGB as the sequential fixture, progressive-download
    * layout — [[Png.decodeColor]]'s deinterlacer under the oracle.
    */
  def asInterlacedMedia(docs: DataFrame): DataFrame = {
    perDocument(Parallelism.ensure(docs)) { rows =>
      rows.map { case (id, text) =>
        val pix = pixelsOf(text)
        val h = pix.length / ImgWidth
        Media(id, Png.encodeRgbInterlaced(ImgWidth, h, rgbOf(pix)),
          "image/png", ImgWidth, h)
      }
    }.select(col("doc_id"), col("payload"),
      struct(col("format"), col("width"), col("height")).as("meta"))
  }

  final case class ColorMeta(doc_id: Long, width: Int, height: Int,
                             color_type: Int, channels: Int, n_pixels: Int,
                             rgb_md5: String, rgb_sum: Long, alpha_sum: Long)

  /** REAL color decode pass: every field below comes out of
    * [[Png.decodeColor]] — parsed colour type, storage channel count,
    * a digest over the DECODED RGB (as the lowercase-hex dump, the
    * q339 doctrine: channel values >127 would be multi-byte UTF-8 in a
    * DuckDB string), the exact RGB sum, and the exact alpha sum
    * (opaque storage types decode to alpha 255). A mis-stride in the
    * unfilter, a bad PLTE lookup, or a dropped alpha byte all break
    * the oracle hash.
    */
  def parseColorMeta(media: DataFrame): Dataset[ColorMeta] = {
    perPayload(Parallelism.ensure(media)) { records =>
      records.map { r =>
        val img = Png.decodeColor(r.payload)
        val n = img.width * img.height
        var aSum = 0L
        var i = 0
        while (i < n) { aSum += img.rgba(i * 4 + 3) & 0xff; i += 1 }
        val rgb = img.rgb
        val (md5, rgbSum) = Digest.hexDumpDigest(rgb)
        ColorMeta(r.doc_id, img.width, img.height, img.colorType,
          img.channels, n, md5, rgbSum, aSum)
      }
    }
  }

  final case class AHash(doc_id: Long, b0: Int, b1: Int, b2: Int, b3: Int)

  /** 8×8 average hash (aHash — the classic public perceptual-hash
    * recipe): decode, nearest-sample an 8×8 grid (row i*h/8, col
    * j*w/8), set bit (i, j) iff the sample exceeds the grid mean. The
    * threshold compare is pure integers (p·64 > Σp), so the hash is
    * bit-reproducible across engines; emitted as four 16-bit blocks —
    * exactly the [[graft.operators.Dedup.simhashNearDupPairs]] block
    * layout, so radius-≤3 search pigeonholes on one exact block.
    * One narrow mapPartitions pass; payload bytes never leave the
    * executor.
    */
  def aHash(media: DataFrame): Dataset[AHash] = {
    perPayload(media) { records =>
      records.map { r =>
        val img = Png.decode(r.payload)
        val w = img.width
        val h = img.height
        val s = new Array[Int](64)
        var sum = 0L
        var i = 0
        while (i < 8) {
          var j = 0
          while (j < 8) {
            val p = img.pixels((i * h / 8) * w + (j * w / 8)) & 0xff
            s(i * 8 + j) = p
            sum += p
            j += 1
          }
          i += 1
        }
        val b = new Array[Int](4)
        var k = 0
        while (k < 64) {
          if (s(k) * 64L > sum) b(k / 16) |= 1 << (k % 16)
          k += 1
        }
        AHash(r.doc_id, b(0), b(1), b(2), b(3))
      }
    }
  }

  /** Manku pigeonhole pair search over a 64-bit hash carried as 4×16-
    * bit blocks (`doc_id, b0..b3`): candidate equi-join on any whole
    * block (a pair within Hamming ≤ 3 must agree on ≥ 1 of 4 blocks),
    * exact Hamming verify via xor + bit_count. Never all-pairs; the
    * shuffle carries (id, block, 16 bits). Shared by the aHash and
    * pHash dedup families.
    */
  private[graft] def blockHashPairs(hs: DataFrame, radius: Int): DataFrame = {
    require(radius >= 0 && radius <= 3,
      s"radius $radius outside the 4-block pigeonhole guarantee (0..3)")
    val blocks = hs.select(col("doc_id").as("id"),
      posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
        .as(Seq("blk", "key")))
    val cands = blocks.as("a")
      .join(blocks.as("b"),
        col("a.blk") === col("b.blk") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val ham = (0 to 3).map(k =>
      bit_count(col(s"a$k").bitwiseXOR(col(s"x$k")))).reduce(_ + _)
    cands
      .join(hs.select(col("doc_id").as("doc_a"), col("b0").as("a0"),
        col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3")), "doc_a")
      .join(hs.select(col("doc_id").as("doc_b"), col("b0").as("x0"),
        col("b1").as("x1"), col("b2").as("x2"), col("b3").as("x3")), "doc_b")
      .withColumn("hamming", ham.cast("int"))
      .filter(col("hamming") <= radius)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Perceptual near-duplicate IMAGE pairs within aHash Hamming
    * `radius` — the multimodal dedup twin of the text-side SimHash
    * radius search (see [[blockHashPairs]] for the join shape).
    */
  def imageNearDupPairs(media: DataFrame, radius: Int = 3): DataFrame =
    blockHashPairs(aHash(media).toDF().localCheckpoint(), radius)

  /** The 8×32 scaled-integer DCT basis shared with the oracle:
    * C[u][k] = round(cos(π(2k+1)u/64) · 1024). Integer so both
    * engines compute IDENTICAL coefficients (the float cos is
    * evaluated once HERE and the literal table is interpolated into
    * the oracle SQL — no cross-engine cos/rounding drift can flip a
    * bit near the median threshold).
    */
  private[graft] lazy val PHashCos: Array[Array[Int]] =
    Array.tabulate(8, 32)((u, k) =>
      math.round(math.cos(math.Pi * (2 * k + 1) * u / 64.0) * 1024.0).toInt)

  final case class PHash(doc_id: Long, b0: Int, b1: Int, b2: Int, b3: Int)

  /** DCT perceptual hash (pHash — the LAION-pipeline image-dedup
    * recipe, strictly stronger than [[aHash]] against brightness and
    * local-noise edits): decode the COLOR JPEG payload
    * ([[Jpeg.decodeColor]]), take integer Rec.601 luma
    * ((77R + 150G + 29B) >> 8), nearest-sample a 32×32 grid (source
    * pixel (r·H/32, c·W/32)), apply the separable scaled-integer DCT
    * ([[PHashCos]] — exact longs, no float in the hash path), keep
    * the top-left 8×8 coefficients in row-major order, and set bit k
    * iff coefficient k exceeds the lower median (sorted index 31 of
    * 64 — deterministic for ties). Emitted as 4×16-bit Manku blocks.
    * One narrow mapPartitions pass; payloads never at the driver.
    */
  /** The pHash kernel over decoded pixels (shared by [[pHash]] and the
    * orientation-normalized variant in [[Exif]]): integer luma → 32×32
    * nearest grid → separable scaled-integer DCT → lower-median bits →
    * 4×16-bit Manku blocks.
    */
  private[graft] def pHashBlocksOfRgb(pixels: Array[Byte], w: Int, h: Int,
                                      channels: Int): Array[Int] = {
    val cTab = PHashCos
    val l32 = new Array[Int](32 * 32)
    var rr = 0
    while (rr < 32) {
      val sr = rr * h / 32
      var cc = 0
      while (cc < 32) {
        val sc = cc * w / 32
        val o = (sr * w + sc) * channels
        l32(rr * 32 + cc) =
          if (channels == 3)
            (77 * (pixels(o) & 0xff) +
              150 * (pixels(o + 1) & 0xff) +
              29 * (pixels(o + 2) & 0xff)) >> 8
          else pixels(o) & 0xff
        cc += 1
      }
      rr += 1
    }
    // separable integer DCT, top-left 8×8 only
    val m1 = new Array[Long](8 * 32)
    var u = 0
    while (u < 8) {
      var c = 0
      while (c < 32) {
        var s = 0L
        var k = 0
        while (k < 32) { s += cTab(u)(k).toLong * l32(k * 32 + c); k += 1 }
        m1(u * 32 + c) = s
        c += 1
      }
      u += 1
    }
    val f = new Array[Long](64)
    u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var s = 0L
        var c = 0
        while (c < 32) { s += m1(u * 32 + c) * cTab(v)(c); c += 1 }
        f(u * 8 + v) = s
        v += 1
      }
      u += 1
    }
    val sorted = f.clone()
    java.util.Arrays.sort(sorted)
    val med = sorted(31)
    val b = new Array[Int](4)
    var k = 0
    while (k < 64) {
      if (f(k) > med) b(k / 16) |= 1 << (k % 16)
      k += 1
    }
    b
  }

  def pHash(media: DataFrame): Dataset[PHash] = {
    perPayload(Parallelism.ensure(media)) { records =>
      records.map { r =>
        val img = Jpeg.decodeColor(r.payload)
        val b = pHashBlocksOfRgb(img.pixels, img.width, img.height,
          img.channels)
        PHash(r.doc_id, b(0), b(1), b(2), b(3))
      }
    }
  }

  /** Perceptual near-duplicate pairs by DCT pHash within Hamming
    * `radius` over color-JPEG payloads — same Manku block join as
    * [[imageNearDupPairs]], stronger hash.
    */
  def pHashNearDupPairs(media: DataFrame, radius: Int = 3): DataFrame =
    blockHashPairs(pHash(media).toDF().localCheckpoint(), radius)

  /** Cross-modal JOINT dedup (the LAION-style pair-curation keeper
    * rule): an image-text pair is a duplicate if its IMAGE is a
    * perceptual near-dup ([[pHashNearDupPairs]], Hamming ≤ `radius`)
    * OR its CAPTION is a MinHash near-dup
    * ([[Dedup.minhashLshPairs]], Jaccard ≥ `threshold`) of another
    * pair's — connected components over the UNION of both pair
    * families, so near-dup-ness is transitive ACROSS modalities
    * (A≈B by image, B≈C by caption ⇒ {A,B,C} one cluster, one
    * keeper). Returns one row per input pair:
    * (doc_id, cluster_id = min id of its joint component, is_keeper).
    *
    * Scale shape: both pair generators are banded/blocked candidate
    * joins (never all-pairs); the union pair set is sparse (near-dups
    * only), and [[Dedup.connectedComponents]] iterates over exactly
    * that sparse edge list with pointer jumping — the same shapes the
    * single-modality dedups (q31/q351) run at corpus scale.
    */
  def crossModalDedup(media: DataFrame, captions: DataFrame, idCol: String,
                      captionCol: String, radius: Int = 3,
                      threshold: Double = 0.5): DataFrame = {
    val imgPairs = pHashNearDupPairs(media, radius)
      .select(col("doc_a"), col("doc_b"))
    val capPairs = Dedup.minhashLshPairs(captions, idCol, captionCol,
        threshold = threshold)
      .select(col("doc_a"), col("doc_b"))
    val pairs = imgPairs.unionByName(capPairs).dropDuplicates()
    val cc = Dedup.connectedComponents(pairs)
    captions.select(col(idCol).cast("long").as("doc_id"))
      .join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .withColumn("is_keeper",
        when(col("cluster_id") === col("doc_id"), 1).otherwise(0))
  }
}
