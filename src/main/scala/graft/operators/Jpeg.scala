package graft.operators

import graft.functions.Digest
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Baseline sequential JPEG (ITU-T T.81) — the third REAL image codec
  * next to [[Multimodal.Png]] and [[Audio]]'s WAV: a pure-JVM encoder
  * (level shift → FDCT → quantize → zigzag → DC-diff/AC-run Huffman
  * with byte stuffing) and a FULL decoder (marker walk, DQT 8/16-bit,
  * DHT canonical tables, DRI/RSTn restart intervals, Huffman entropy
  * decode, dequantize, separable IDCT, level shift + clamp, edge
  * crop). JpegSpec cross-validates the decoder against javax.imageio
  * on JPEGs the JDK's own encoder wrote, and validates the encoder by
  * decoding its output with javax.imageio — neither direction is
  * merely self-consistent.
  *
  * Oracle strategy (the q60 doctrine, adapted to a LOSSY codec): the
  * fixture plants one UNIFORM 8×8 block per text byte. A uniform block
  * has exactly one nonzero DCT coefficient (DC = 8·(v−128); every AC
  * is analytically zero), so with a flat quantization table the
  * encode→decode round trip is EXACT — the DuckDB oracle recomputes
  * every decoded pixel arithmetically from the text while the engine
  * runs the full lossy pipeline (real FDCT, real Huffman, real IDCT).
  * A mis-signed DC diff, a bad zigzag, a broken restart reset, or an
  * IDCT scale error all break the hash.
  *
  * Scale shape: identical to the PNG family — one narrow mapPartitions
  * pass, codec tables built once per partition, payload bytes never at
  * the driver.
  */
object Jpeg {

  // ---- shared constants -------------------------------------------------

  /** Natural-order index of each zigzag position (T.81 Figure A.6). */
  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** Separable DCT basis: ct(u)(x) = 0.5·C(u)·cos((2x+1)uπ/16), so both
    * FDCT and IDCT are two 8-point passes over the same table.
    */
  private val Ct: Array[Array[Double]] = Array.tabulate(8, 8) { (u, x) =>
    val c = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
    0.5 * c * math.cos((2 * x + 1) * u * math.Pi / 16.0)
  }

  // Standard Annex K luminance Huffman tables (T.81 Tables K.3/K.5) —
  // used by the encoder; the decoder always reads tables from DHT.
  private val DcBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcVals = (0 to 11).map(_.toByte).toArray
  private val AcBits = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val AcVals: Array[Byte] = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3a, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3,
    0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
    0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2, 0xf3, 0xf4,
    0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa).map(_.toByte)

  // Standard Annex K CHROMINANCE Huffman tables (T.81 Tables K.4/K.6) —
  // the color encoder's tables 1; the decoder still reads all tables
  // from DHT.
  private val DcBitsC = Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val DcValsC = (0 to 11).map(_.toByte).toArray
  private val AcBitsC = Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
  private val AcValsC: Array[Byte] = Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0, 0x15, 0x62, 0x72, 0xd1,
    0x0a, 0x16, 0x24, 0x34, 0xe1, 0x25, 0xf1, 0x17, 0x18, 0x19, 0x1a, 0x26,
    0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3a, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a,
    0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4,
    0xb5, 0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7,
    0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda,
    0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf2, 0xf3, 0xf4,
    0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa).map(_.toByte)

  /** Flat quantization table: DC step 1 keeps uniform blocks exact (the
    * oracle contract); a real deployment swaps in a perceptual table —
    * the pipeline is identical.
    */
  val FlatQuant: Array[Int] = Array.fill(64)(1)

  // ---- canonical Huffman construction ------------------------------------

  /** (code, length) per symbol from a (bits, vals) table — T.81 C.2. */
  private def buildEncodeTable(bits: Array[Int], vals: Array[Byte]): Array[(Int, Int)] = {
    val table = new Array[(Int, Int)](256)
    var code = 0
    var k = 0
    var len = 1
    while (len <= 16) {
      var i = 0
      while (i < bits(len - 1)) {
        table(vals(k) & 0xff) = (code, len)
        code += 1; k += 1; i += 1
      }
      code <<= 1
      len += 1
    }
    table
  }

  /** Decoder tables: minCode/maxCode/valPtr per code length (F.2.2.3). */
  private final class HuffTable(bits: Array[Int], vals: Array[Byte]) {
    val minCode = new Array[Int](17)
    val maxCode = Array.fill(17)(-1)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      var len = 1
      while (len <= 16) {
        if (bits(len - 1) > 0) {
          valPtr(len) = k
          minCode(len) = code
          code += bits(len - 1); k += bits(len - 1)
          maxCode(len) = code - 1
        }
        code <<= 1
        len += 1
      }
    }
    def value(len: Int, code: Int): Int =
      vals(valPtr(len) + code - minCode(len)) & 0xff
  }

  // ---- encoder ------------------------------------------------------------

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0
    private var nBits = 0
    def put(bitsVal: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((bitsVal >>> i) & 1)
        nBits += 1
        if (nBits == 8) {
          out.write(acc)
          if (acc == 0xff) out.write(0x00) // byte stuffing
          acc = 0; nBits = 0
        }
        i -= 1
      }
    }
    def flush(): Unit = if (nBits > 0) { // pad with 1s (T.81 F.1.2.3)
      acc = (acc << (8 - nBits)) | ((1 << (8 - nBits)) - 1)
      out.write(acc)
      if (acc == 0xff) out.write(0x00)
      acc = 0; nBits = 0
    }
  }

  private def category(v: Int): Int = {
    var t = 0
    var a = math.abs(v)
    while (a != 0) { t += 1; a >>= 1 }
    t
  }

  /** The encoders' output stream: raw bytes plus T.81 B.1 markers and
    * length-counted segments.
    */
  private final class SegmentWriter extends java.io.ByteArrayOutputStream {
    def marker(m: Int): Unit = { write(0xff); write(m) }
    def segment(m: Int, body: Array[Int]): Unit = {
      marker(m)
      val len = body.length + 2
      write(len >> 8); write(len & 0xff)
      body.foreach(write)
    }
    /** DQT for table `tq`: natural order in, zigzag on the wire. */
    def dqt(tq: Int, quant: Array[Int]): Unit = segment(0xdb, tq +: Zigzag.map(quant))
    /** DHT for class/id byte `tcTh`. */
    def dht(tcTh: Int, bits: Array[Int], vals: Array[Byte]): Unit =
      segment(0xc4, tcTh +: (bits ++ vals.map(_ & 0xff)))
  }

  /** Gather the 8×8 block at (ox, oy) of a plane (edge replication
    * past the plane bounds), level shift, FDCT and quantize it into
    * `coef(at until at + 64)`, natural order; `block` is the caller's
    * 64-entry scratch. A uniform block skips the transform: its FDCT
    * is exactly DC = 8·(v−128) with every AC 0 (the encode twin of the
    * decoder's dcval shortcut; bit-identical to the full transform).
    */
  private def quantizeBlock(plane: Array[Byte], pw: Int, ph: Int, ox: Int, oy: Int,
                            quant: Array[Int], block: Array[Double],
                            coef: Array[Int], at: Int): Unit = {
    var uniform = true
    val first = plane(math.min(oy, ph - 1) * pw + math.min(ox, pw - 1)) & 0xff
    var y = 0
    while (y < 8) {
      val sy = math.min(oy + y, ph - 1)
      var x = 0
      while (x < 8) {
        val sx = math.min(ox + x, pw - 1)
        val v = plane(sy * pw + sx) & 0xff
        if (v != first) uniform = false
        block(y * 8 + x) = v - 128.0
        x += 1
      }
      y += 1
    }
    if (uniform) {
      java.util.Arrays.fill(coef, at, at + 64, 0)
      coef(at) = Math.round(8.0 * (first - 128) / quant(0)).toInt
    } else {
      fdct(block)
      var i = 0
      while (i < 64) { coef(at + i) = Math.round(block(i) / quant(i)).toInt; i += 1 }
    }
  }

  /** Per-component block encoder: [[quantizeBlock]], then DC-diff +
    * AC-run-length Huffman. One instance per scan component — `pred`
    * is that component's DC predictor.
    */
  private final class BlockEncoder(bw: BitWriter, quant: Array[Int],
                                   dcTab: Array[(Int, Int)],
                                   acTab: Array[(Int, Int)]) {
    private val block = new Array[Double](64)
    private val coef = new Array[Int](64)
    var pred = 0
    def encode(plane: Array[Byte], pw: Int, ph: Int, ox: Int, oy: Int): Unit = {
      quantizeBlock(plane, pw, ph, ox, oy, quant, block, coef, 0)
      // DC
      val diff = coef(0) - pred
      pred = coef(0)
      val t = category(diff)
      val (dcCode, dcLen) = dcTab(t)
      bw.put(dcCode, dcLen)
      if (t > 0) bw.put(if (diff < 0) diff + (1 << t) - 1 else diff, t)
      // AC
      var run = 0
      var lastNz = 0
      var k = 1
      while (k < 64) { if (coef(Zigzag(k)) != 0) lastNz = k; k += 1 }
      k = 1
      while (k <= lastNz) {
        val v = coef(Zigzag(k))
        if (v == 0) run += 1
        else {
          while (run > 15) { val (c, l) = acTab(0xf0); bw.put(c, l); run -= 16 }
          val s = category(v)
          val (c, l) = acTab((run << 4) | s)
          bw.put(c, l)
          bw.put(if (v < 0) v + (1 << s) - 1 else v, s)
          run = 0
        }
        k += 1
      }
      if (lastNz < 63) { val (c, l) = acTab(0x00); bw.put(c, l) } // EOB
    }
  }

  /** Encode 8-bit grayscale pixels as a baseline sequential JPEG: SOI,
    * DQT (`quant`, natural order in, zigzag on the wire), SOF0, DHT
    * (standard luminance DC+AC), optional DRI, SOS, entropy-coded
    * scan, EOI. Dimensions not multiples of 8 pad by edge replication.
    * `restartInterval` > 0 emits DRI + RSTn markers every that many
    * blocks (exercised by JpegSpec; the fixture path uses 0).
    */
  def encodeGray(width: Int, height: Int, pixels: Array[Byte],
                 quant: Array[Int] = FlatQuant, restartInterval: Int = 0): Array[Byte] = {
    require(width > 0 && height > 0 && pixels.length == width * height,
      s"bad dimensions: $width x $height for ${pixels.length} pixels")
    require(quant.length == 64 && quant.forall(q => q >= 1 && q <= 255),
      "quant table must be 64 entries in 1..255")
    val out = new SegmentWriter
    out.marker(0xd8) // SOI
    out.dqt(0, quant)
    out.segment(0xc0, Array(8, height >> 8, height & 0xff, width >> 8,
      width & 0xff, 1, 1, 0x11, 0)) // SOF0: 1 component, 1x1, table 0
    out.dht(0x00, DcBits, DcVals)
    out.dht(0x10, AcBits, AcVals)
    if (restartInterval > 0)
      out.segment(0xdd, Array(restartInterval >> 8, restartInterval & 0xff))
    out.segment(0xda, Array(1, 1, 0x00, 0, 63, 0)) // SOS
    val bw = new BitWriter(out)
    val enc = new BlockEncoder(bw, quant,
      buildEncodeTable(DcBits, DcVals), buildEncodeTable(AcBits, AcVals))
    val bw8 = (width + 7) / 8
    val bh8 = (height + 7) / 8
    var mcu = 0
    var rstIdx = 0
    var by = 0
    while (by < bh8) {
      var bx = 0
      while (bx < bw8) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          bw.flush()
          out.marker(0xd0 + rstIdx)
          rstIdx = (rstIdx + 1) % 8
          enc.pred = 0
        }
        enc.encode(pixels, width, height, bx * 8, by * 8)
        mcu += 1
        bx += 1
      }
      by += 1
    }
    bw.flush()
    out.marker(0xd9) // EOI
    out.toByteArray
  }

  /** The color encoders' argument checks; returns the chroma plane
    * size (ceil(width/hSamp), ceil(height/vSamp)).
    */
  private def colorPlaneDims(width: Int, height: Int, yPlane: Array[Byte],
                             cbPlane: Array[Byte], crPlane: Array[Byte],
                             hSamp: Int, vSamp: Int, quantY: Array[Int],
                             quantC: Array[Int]): (Int, Int) = {
    require(width > 0 && height > 0 && yPlane.length == width * height,
      s"bad dimensions: $width x $height for ${yPlane.length} luma pixels")
    require(hSamp >= 1 && hSamp <= 2 && vSamp >= 1 && vSamp <= 2,
      s"sampling factors ${hSamp}x$vSamp outside 1..2 (4:4:4/4:2:2/4:2:0)")
    val cw = (width + hSamp - 1) / hSamp
    val ch = (height + vSamp - 1) / vSamp
    require(cbPlane.length == cw * ch && crPlane.length == cw * ch,
      s"chroma planes must be $cw x $ch for ${hSamp}x$vSamp sampling")
    Seq(quantY, quantC).foreach(q => require(
      q.length == 64 && q.forall(v => v >= 1 && v <= 255),
      "quant tables must be 64 entries in 1..255"))
    (cw, ch)
  }

  /** SOI, APP0 JFIF, the luma/chroma DQTs and the 3-component frame
    * header `sof` (SOF0 baseline, SOF2 progressive): Y sampled
    * `hSamp`×`vSamp` with tables 0, Cb/Cr 1×1 with tables 1.
    */
  private def colorHeader(sof: Int, width: Int, height: Int, hSamp: Int,
                          vSamp: Int, quantY: Array[Int],
                          quantC: Array[Int]): SegmentWriter = {
    val out = new SegmentWriter
    out.marker(0xd8) // SOI
    // APP0 JFIF v1.02, no thumbnail: declares the full-range YCbCr
    // interpretation every JFIF reader assumes for 3-component frames
    out.segment(0xe0, Array('J', 'F', 'I', 'F', 0, 1, 2, 0, 0, 1, 0, 1, 0, 0))
    out.dqt(0, quantY)
    out.dqt(1, quantC)
    out.segment(sof, Array(8, height >> 8, height & 0xff, width >> 8,
      width & 0xff, 3,
      1, (hSamp << 4) | vSamp, 0, // Y: tables 0
      2, 0x11, 1, // Cb: 1x1, tables 1
      3, 0x11, 1)) // Cr
    out
  }

  /** Encode a COLOR baseline sequential JPEG from YCbCr planes (JFIF
    * full-range): SOI, APP0 JFIF, two DQTs (luma table 0, chroma table
    * 1), 3-component SOF0 with sampling factors `hSamp`×`vSamp` on Y
    * and 1×1 on chroma — (1,1) = 4:4:4, (2,1) = 4:2:2, (2,2) = 4:2:0 —
    * four DHTs (Annex K luma + chroma), optional DRI, one interleaved
    * scan in MCU order (Y's vSamp×hSamp blocks raster-order, then Cb,
    * then Cr; per-component DC predictors; RSTn resets all three).
    * The chroma planes are supplied at THEIR resolution
    * (ceil(width/hSamp) × ceil(height/vSamp)) — the caller picks the
    * downsampling; block edges past any plane replicate.
    */
  def encodeColor(width: Int, height: Int,
                  yPlane: Array[Byte], cbPlane: Array[Byte], crPlane: Array[Byte],
                  hSamp: Int = 2, vSamp: Int = 2,
                  quantY: Array[Int] = FlatQuant, quantC: Array[Int] = FlatQuant,
                  restartInterval: Int = 0): Array[Byte] = {
    val (cw, ch) = colorPlaneDims(width, height, yPlane, cbPlane, crPlane,
      hSamp, vSamp, quantY, quantC)
    val out = colorHeader(0xc0, width, height, hSamp, vSamp, quantY, quantC)
    out.dht(0x00, DcBits, DcVals)
    out.dht(0x10, AcBits, AcVals)
    out.dht(0x01, DcBitsC, DcValsC)
    out.dht(0x11, AcBitsC, AcValsC)
    if (restartInterval > 0)
      out.segment(0xdd, Array(restartInterval >> 8, restartInterval & 0xff))
    out.segment(0xda, Array(3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0)) // SOS
    val bw = new BitWriter(out)
    val encY = new BlockEncoder(bw, quantY,
      buildEncodeTable(DcBits, DcVals), buildEncodeTable(AcBits, AcVals))
    val encCb = new BlockEncoder(bw, quantC,
      buildEncodeTable(DcBitsC, DcValsC), buildEncodeTable(AcBitsC, AcValsC))
    val encCr = new BlockEncoder(bw, quantC,
      buildEncodeTable(DcBitsC, DcValsC), buildEncodeTable(AcBitsC, AcValsC))
    val mcusX = (width + 8 * hSamp - 1) / (8 * hSamp)
    val mcusY = (height + 8 * vSamp - 1) / (8 * vSamp)
    var mcu = 0
    var rstIdx = 0
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          bw.flush()
          out.marker(0xd0 + rstIdx)
          rstIdx = (rstIdx + 1) % 8
          encY.pred = 0; encCb.pred = 0; encCr.pred = 0
        }
        var by = 0
        while (by < vSamp) {
          var bx = 0
          while (bx < hSamp) {
            encY.encode(yPlane, width, height,
              (mx * hSamp + bx) * 8, (my * vSamp + by) * 8)
            bx += 1
          }
          by += 1
        }
        encCb.encode(cbPlane, cw, ch, mx * 8, my * 8)
        encCr.encode(crPlane, cw, ch, mx * 8, my * 8)
        mcu += 1
        mx += 1
      }
      my += 1
    }
    bw.flush()
    out.marker(0xd9) // EOI
    out.toByteArray
  }

  // Progressive AC scans need EOBn symbols ((n<<4)|0, n = 1..14) that
  // the Annex K sequential AC tables never define — a uniform 9-bit
  // canonical table over symbols 0..254 covers every (run, size), ZRL,
  // and EOBn the encoder can emit (Kraft sum 255/512; compression is
  // not the point of the fixture encoder).
  private val ProgAcBits =
    Array(0, 0, 0, 0, 0, 0, 0, 0, 255, 0, 0, 0, 0, 0, 0, 0)
  private val ProgAcVals: Array[Byte] = (0 until 255).map(_.toByte).toArray

  /** Encode a COLOR PROGRESSIVE JPEG (SOF2) from YCbCr planes — same
    * geometry/sampling/quant contract as [[encodeColor]], with the
    * canonical simple scan script (T.81 G.1.2):
    *   1. interleaved DC first scan (Ah=0, Al=1),
    *   2. interleaved DC refinement (Ah=1, Al=0),
    *   3-5. one AC first scan per component (Ss=1, Se=63, Al=0) with
    *        EOB-run aggregation across all-zero-tail blocks.
    * The five scans carry every quantized coefficient exactly, so the
    * decode is bit-identical to decoding [[encodeColor]]'s baseline
    * stream of the same planes — which is what JpegSpec pins.
    */
  def encodeColorProgressive(width: Int, height: Int,
                             yPlane: Array[Byte], cbPlane: Array[Byte],
                             crPlane: Array[Byte],
                             hSamp: Int = 2, vSamp: Int = 2,
                             quantY: Array[Int] = FlatQuant,
                             quantC: Array[Int] = FlatQuant): Array[Byte] = {
    val (cw, chh) = colorPlaneDims(width, height, yPlane, cbPlane, crPlane,
      hSamp, vSamp, quantY, quantC)
    val out = colorHeader(0xc2, width, height, hSamp, vSamp, quantY, quantC)
    out.dht(0x00, DcBits, DcVals)
    out.dht(0x01, DcBitsC, DcValsC)
    out.dht(0x10, ProgAcBits, ProgAcVals)
    val mcusX = (width + 8 * hSamp - 1) / (8 * hSamp)
    val mcusY = (height + 8 * vSamp - 1) / (8 * vSamp)
    // quantized coefficient grids, padded to the interleaved MCU grid
    // (the same storage shape the decoder reconstructs)
    final class PC(plane: Array[Byte], pw: Int, ph: Int,
                   val h: Int, val v: Int, q: Array[Int]) {
      val bw = mcusX * h
      val bh = mcusY * v
      val nw = ((width * h + hSamp - 1) / hSamp + 7) / 8
      val nh = ((height * v + vSamp - 1) / vSamp + 7) / 8
      val coef = new Array[Int](bw * bh * 64)
      locally {
        val block = new Array[Double](64)
        var bRow = 0
        while (bRow < bh) {
          var bCol = 0
          while (bCol < bw) {
            quantizeBlock(plane, pw, ph, bCol * 8, bRow * 8, q, block, coef,
              (bRow * bw + bCol) * 64)
            bCol += 1
          }
          bRow += 1
        }
      }
    }
    val pcs = Array(new PC(yPlane, width, height, hSamp, vSamp, quantY),
      new PC(cbPlane, cw, chh, 1, 1, quantC),
      new PC(crPlane, cw, chh, 1, 1, quantC))
    val dcTabs = Array(buildEncodeTable(DcBits, DcVals),
      buildEncodeTable(DcBitsC, DcValsC),
      buildEncodeTable(DcBitsC, DcValsC))
    val acTab = buildEncodeTable(ProgAcBits, ProgAcVals)
    def mcuWalk(f: (Int, Int) => Unit): Unit = { // (ci, blockIndex)
      var my = 0
      while (my < mcusY) {
        var mx = 0
        while (mx < mcusX) {
          var ci = 0
          while (ci < 3) {
            val c = pcs(ci)
            var by = 0
            while (by < c.v) {
              var bx = 0
              while (bx < c.h) {
                f(ci, (my * c.v + by) * c.bw + (mx * c.h + bx))
                bx += 1
              }
              by += 1
            }
            ci += 1
          }
          mx += 1
        }
        my += 1
      }
    }
    // scan 1: interleaved DC first, Al=1 — DPCM over (DC >> 1)
    out.segment(0xda, Array(3, 1, 0x00, 2, 0x10, 3, 0x10, 0, 0, 0x01))
    val bw1 = new BitWriter(out)
    val preds = new Array[Int](3)
    mcuWalk { (ci, bi) =>
      val dc = pcs(ci).coef(bi * 64) >> 1
      val diff = dc - preds(ci)
      preds(ci) = dc
      val t = category(diff)
      val (code, len) = dcTabs(ci)(t)
      bw1.put(code, len)
      if (t > 0) bw1.put(if (diff < 0) diff + (1 << t) - 1 else diff, t)
    }
    bw1.flush()
    // scan 2: interleaved DC refinement, Ah=1 Al=0 — the DC low bit
    out.segment(0xda, Array(3, 1, 0x00, 2, 0x10, 3, 0x10, 0, 0, 0x10))
    val bw2 = new BitWriter(out)
    mcuWalk { (ci, bi) => bw2.put(pcs(ci).coef(bi * 64) & 1, 1) }
    bw2.flush()
    // scans 3-5: per-component AC first, Ss=1 Se=63 Al=0, EOB runs
    var ci = 0
    while (ci < 3) {
      val c = pcs(ci)
      out.segment(0xda, Array(1, ci + 1, 0x00, 1, 63, 0x00))
      val bw3 = new BitWriter(out)
      var eobrun = 0
      def flushEob(): Unit = if (eobrun > 0) {
        var n = 0
        while ((2 << n) <= eobrun) n += 1 // n = floor(log2(eobrun))
        val (code, len) = acTab(n << 4)
        bw3.put(code, len)
        if (n > 0) bw3.put(eobrun - (1 << n), n)
        eobrun = 0
      }
      var row = 0
      while (row < c.nh) {
        var colB = 0
        while (colB < c.nw) {
          val base = (row * c.bw + colB) * 64
          var lastNz = 0
          var k = 1
          while (k < 64) {
            if (c.coef(base + Zigzag(k)) != 0) lastNz = k
            k += 1
          }
          if (lastNz == 0) {
            eobrun += 1
            if (eobrun == 32767) flushEob()
          } else {
            flushEob()
            var run = 0
            k = 1
            while (k <= lastNz) {
              val v = c.coef(base + Zigzag(k))
              if (v == 0) run += 1
              else {
                while (run > 15) {
                  val (zc, zl) = acTab(0xf0)
                  bw3.put(zc, zl)
                  run -= 16
                }
                val s = category(v)
                val (code, len) = acTab((run << 4) | s)
                bw3.put(code, len)
                bw3.put(if (v < 0) v + (1 << s) - 1 else v, s)
                run = 0
              }
              k += 1
            }
            if (lastNz < 63) eobrun = 1 // this block's EOB, aggregatable
          }
          colB += 1
        }
        row += 1
      }
      flushEob()
      bw3.flush()
      ci += 1
    }
    out.marker(0xd9) // EOI
    out.toByteArray
  }

  /** Separable 2-D DCT in place: rows then columns through [[Ct]]. The
    * same routine is its own inverse with the table transposed, so
    * [[idct]] shares it.
    */
  private def fdct(b: Array[Double]): Unit = transform2d(b, forward = true)
  private def idct(b: Array[Double]): Unit = transform2d(b, forward = false)

  private def transform2d(b: Array[Double], forward: Boolean): Unit = {
    val tmp = new Array[Double](64)
    var r = 0
    while (r < 8) { // transform each row
      var u = 0
      while (u < 8) {
        var s = 0.0
        var x = 0
        while (x < 8) {
          s += b(r * 8 + x) * (if (forward) Ct(u)(x) else Ct(x)(u))
          x += 1
        }
        tmp(r * 8 + u) = s
        u += 1
      }
      r += 1
    }
    var c = 0
    while (c < 8) { // then each column
      var u = 0
      while (u < 8) {
        var s = 0.0
        var y = 0
        while (y < 8) {
          s += tmp(y * 8 + c) * (if (forward) Ct(u)(y) else Ct(y)(u))
          y += 1
        }
        b(u * 8 + c) = s
        u += 1
      }
      c += 1
    }
  }

  // ---- header segments ------------------------------------------------------

  /** Cursor over a JPEG's header segments (T.81 B.1): construction
    * checks SOI, and each true [[next]] steps onto the following
    * marker — `at` its offset, `marker` its code, `end` the offset
    * after its length-counted segment (`at + 2` for the standalone SOI
    * and RSTn). [[next]] returns false at SOS or EOI (`at` points at
    * it) or when fewer than two bytes remain (`marker` -1). A marker
    * byte other than 0xFF or a length past the buffer fails with
    * IllegalArgumentException.
    */
  private[graft] final class Segments(bytes: Array[Byte]) {
    require(bytes.length >= 2 && (bytes(0) & 0xff) == 0xff &&
      (bytes(1) & 0xff) == 0xd8, "not a JPEG (no SOI)")
    var at = 2
    var marker = -1
    var end = 2
    def next(): Boolean = {
      at = end
      marker = -1
      if (at + 2 > bytes.length) return false
      require((bytes(at) & 0xff) == 0xff, s"bad marker byte at $at")
      marker = bytes(at + 1) & 0xff
      if (marker == 0xd9 || marker == 0xda) return false
      if (marker >= 0xd0 && marker <= 0xd8) end = at + 2
      else {
        require(at + 4 <= bytes.length, "truncated JPEG segment")
        val len = ((bytes(at + 2) & 0xff) << 8) | (bytes(at + 3) & 0xff)
        require(len >= 2 && at + 2 + len <= bytes.length, "truncated JPEG segment")
        end = at + 2 + len
      }
      true
    }
  }

  // ---- decoder ------------------------------------------------------------

  final case class Image(width: Int, height: Int, pixels: Array[Byte])

  private final class BitReader(bytes: Array[Byte], var pos: Int) {
    private var acc = 0
    private var nBits = 0
    private var sawMarker = false
    def readBit(): Int = {
      if (nBits == 0) {
        // T.81 F.2.2.5: a marker mid-read supplies 1-fill bits to
        // complete the CURRENT decode — one byte of fill covers the ≤7
        // legal pad bits. A refill still hungry after that byte means
        // the scan over-ran into the marker (truncated/corrupt stream),
        // which must fail loudly, not decode the marker identifier
        // byte (e.g. the D9 of EOI) as entropy data.
        if (sawMarker)
          throw new IllegalArgumentException(
            "entropy stream over-ran into a marker — truncated or corrupt scan")
        require(pos < bytes.length, "truncated entropy stream")
        var b = bytes(pos) & 0xff
        pos += 1
        if (b == 0xff) {
          require(pos < bytes.length, "truncated after 0xFF")
          val m = bytes(pos) & 0xff
          if (m == 0x00) pos += 1 // stuffed byte: data 0xFF
          else {
            // marker reached mid-read: rewind so pos still points AT
            // the 0xFF (restart() can consume an RST), latch the flag,
            // and serve this one byte of 1-fill
            pos -= 1
            sawMarker = true
            b = 0xff
          }
        }
        acc = b; nBits = 8
      }
      nBits -= 1
      (acc >> nBits) & 1
    }
    def receive(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }
    /** Byte-align and consume an expected RSTn marker. Clears the
      * marker latch: fill bits before an RST followed by resync is the
      * one legal way a well-formed stream touches a marker mid-read.
      */
    def restart(): Unit = {
      nBits = 0
      require(pos + 1 < bytes.length && (bytes(pos) & 0xff) == 0xff &&
        (bytes(pos + 1) & 0xf8) == 0xd0,
        f"expected RST marker at $pos, got ${bytes(pos) & 0xff}%02x ${bytes(pos + 1) & 0xff}%02x")
      pos += 2
      sawMarker = false
    }
    def decodeHuff(t: HuffTable): Int = {
      var code = readBit()
      var len = 1
      while (len <= 16) {
        if (code <= t.maxCode(len)) return t.value(len, code)
        code = (code << 1) | readBit()
        len += 1
      }
      throw new IllegalArgumentException("invalid Huffman code")
    }
  }

  private def extend(v: Int, t: Int): Int =
    if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

  /** Decoded multi-channel image: `channels` 1 (gray) or 3 (RGB,
    * interleaved r g b per pixel).
    */
  final case class ColorImage(width: Int, height: Int, channels: Int,
                              pixels: Array[Byte])

  /** One frame component: SOF identity + sampling + its decoded plane
    * at COMPONENT resolution, padded to the block grid. For progressive
    * frames `coef` accumulates the quantized coefficients across scans
    * (natural order per block, padded-grid stride `bw`); `nw`×`nh` is
    * the NON-interleaved block grid single-component scans walk
    * (T.81 A.2.2 — ceil of the component's own dimensions).
    */
  private final class FrameComp(val id: Int, val h: Int, val v: Int,
                                val tq: Int) {
    var td = 0
    var ta = 0
    var plane: Array[Byte] = null
    var pw = 0
    var ph = 0
    var coef: Array[Int] = null
    var bw = 0
    var bh = 0
    var nw = 0
    var nh = 0
  }

  /** The shared marker walk + entropy scan behind [[decode]] and
    * [[decodeColor]]: APPn/COM skipped, multi-table DQT (8/16-bit) and
    * DHT, DRI, SOF0/1 with 1 or 3 components and per-component
    * sampling factors, one INTERLEAVED scan in MCU order (per T.81
    * A.2.3: each MCU carries v×h data units per component in raster
    * order; per-component DC predictors; RSTn resets all). Each block:
    * Huffman decode → dequantize → IDCT (DC-only shortcut for blocks
    * with no AC) → +128 level shift → clamp → into that component's
    * padded plane. Returns (width, height, components, maxH, maxV).
    * Throws on anything malformed — corrupt payloads must fail loudly.
    *
    * PROGRESSIVE frames (SOF2) decode through the same walk: every SOS
    * runs one spectral-selection / successive-approximation scan
    * (T.81 G.1.2) into per-component COEFFICIENT buffers — DC first
    * scans are DPCM like baseline but shifted left Al (interleaved or
    * single-component), DC refinement supplies one raw bit per block,
    * AC first scans are single-component with EOB-run coding, AC
    * refinement applies the G.1.2.3 correction-bit algorithm — and EOI
    * triggers one dequantize + IDCT pass over the accumulated
    * coefficients. Restart markers reset predictors AND the EOB run.
    */
  private def decodePlanes(bytes: Array[Byte])
      : (Int, Int, Array[FrameComp], Int, Int) = {
    require(bytes.length >= 4 && (bytes(0) & 0xff) == 0xff &&
      (bytes(1) & 0xff) == 0xd8, "not a JPEG (no SOI)")
    var p = 2
    val quant = new Array[Array[Int]](4)
    val dcTabs = new Array[HuffTable](4)
    val acTabs = new Array[HuffTable](4)
    var width, height = -1
    var comps: Array[FrameComp] = null
    var restartInterval = 0
    var scanStart = -1
    var progressive = false
    var gridReady = false
    var sawScan = false
    var eoi = false
    var maxH, maxV = 1
    var mcusX, mcusY = 0
    def u16(at: Int) = ((bytes(at) & 0xff) << 8) | (bytes(at + 1) & 0xff)
    def parseSof(body: Int): Unit = {
      require((bytes(body) & 0xff) == 8, "only 8-bit precision supported")
      height = u16(body + 1); width = u16(body + 3)
      val nComp = bytes(body + 5) & 0xff
      require(nComp == 1 || nComp == 3,
        s"expected 1 (grayscale) or 3 (YCbCr) components, got $nComp " +
          "(CMYK/unknown color model)")
      comps = Array.tabulate(nComp) { i =>
        val at = body + 6 + 3 * i
        val hv = bytes(at + 1) & 0xff
        val c = new FrameComp(bytes(at) & 0xff, hv >> 4, hv & 0x0f,
          bytes(at + 2) & 0x0f)
        require(c.h >= 1 && c.h <= 2 && c.v >= 1 && c.v <= 2,
          s"sampling factors ${c.h}x${c.v} outside 1..2 " +
            "(4:4:4/4:2:2/4:2:0 supported)")
        c
      }
    }
    // Allocate grids + coefficient buffers (progressive needs them at
    // the FIRST scan; baseline allocates planes after its walk below).
    def ensureGrid(): Unit = if (!gridReady) {
      require(width > 0 && height > 0, "SOS before SOF")
      maxH = if (comps.length == 1) 1 else comps.map(_.h).max
      maxV = if (comps.length == 1) 1 else comps.map(_.v).max
      mcusX = (width + 8 * maxH - 1) / (8 * maxH)
      mcusY = (height + 8 * maxV - 1) / (8 * maxV)
      comps.foreach { c =>
        val ch = if (comps.length == 1) 1 else c.h
        val cv = if (comps.length == 1) 1 else c.v
        c.pw = mcusX * ch * 8
        c.ph = mcusY * cv * 8
        c.bw = c.pw / 8
        c.bh = c.ph / 8
        c.nw = ((width * ch + maxH - 1) / maxH + 7) / 8
        c.nh = ((height * cv + maxV - 1) / maxV + 7) / 8
        c.plane = new Array[Byte](c.pw * c.ph)
        if (progressive) c.coef = new Array[Int](c.bw * c.bh * 64)
      }
      gridReady = true
    }
    /** First real marker at or after `from` — skips entropy bytes,
      * stuffed 0xFF00 and RSTn debris after a finished scan.
      */
    def nextMarker(from: Int): Int = {
      var q = from
      var found = -1
      while (found < 0) {
        require(q + 1 < bytes.length, "truncated after entropy scan")
        if ((bytes(q) & 0xff) == 0xff) {
          val m2 = bytes(q + 1) & 0xff
          if (m2 == 0xff) q += 1 // fill byte: the NEXT 0xff may start the marker
          else if (m2 == 0x00 || (m2 >= 0xd0 && m2 <= 0xd7)) q += 2
          else found = q
        } else q += 1
      }
      found
    }
    /** One progressive scan (T.81 G.1.2): `sc` the scan's components
      * (frame order for interleaved DC), returns the byte position
      * after the scan's entropy data.
      */
    def progressiveScan(sc: Array[FrameComp], ss: Int, se: Int,
                        ah: Int, al: Int, dataStart: Int): Int = {
      val br = new BitReader(bytes, dataStart)
      val preds = new Array[Int](sc.length)
      var eobrun = 0
      var unit = 0 // MCU (interleaved) or block (single-component) counter
      def maybeRestart(): Unit =
        if (restartInterval > 0 && unit > 0 && unit % restartInterval == 0) {
          br.restart()
          java.util.Arrays.fill(preds, 0)
          eobrun = 0
        }
      def dcFirst(c: FrameComp, ci: Int, bi: Int): Unit = {
        val t = br.decodeHuff(dcTabs(c.td))
        preds(ci) += extend(br.receive(t), t)
        c.coef(bi * 64) = preds(ci) << al
      }
      def dcRefine(c: FrameComp, bi: Int): Unit =
        if (br.readBit() == 1) c.coef(bi * 64) |= (1 << al)
      def acFirst(c: FrameComp, bi: Int): Unit = {
        if (eobrun > 0) { eobrun -= 1; return }
        var k = ss
        var done = false
        while (k <= se && !done) {
          val rs = br.decodeHuff(acTabs(c.ta))
          val r = rs >> 4
          val s = rs & 0x0f
          if (s == 0) {
            if (r == 15) k += 16 // ZRL
            else {
              eobrun = (1 << r) - 1 + (if (r > 0) br.receive(r) else 0)
              done = true
            }
          } else {
            k += r
            require(k <= se, "AC index overflow in progressive scan")
            c.coef(bi * 64 + Zigzag(k)) = extend(br.receive(s), s) << al
            k += 1
          }
        }
      }
      // G.1.2.3 / libjpeg decode_mcu_AC_refine: correction bits for
      // every nonzero-history coefficient crossed; new ±1<<Al values
      // land after `r` ZERO-history positions; EOB runs carry pure
      // correction passes.
      def acRefine(c: FrameComp, bi: Int): Unit = {
        val p1 = 1 << al
        val m1 = -1 << al
        val base = bi * 64
        def correct(pos: Int): Unit =
          if (br.readBit() == 1 && (c.coef(pos) & p1) == 0)
            c.coef(pos) += (if (c.coef(pos) >= 0) p1 else m1)
        var k = ss
        if (eobrun == 0) {
          var brk = false
          while (k <= se && !brk) {
            val rs = br.decodeHuff(acTabs(c.ta))
            var r = rs >> 4
            val s = rs & 0x0f
            var newVal = 0
            if (s != 0) {
              require(s == 1, "AC refinement magnitude category must be 1")
              newVal = if (br.readBit() == 1) p1 else m1
            } else if (r != 15) {
              // unlike acFirst (where EOB ends the current block at
              // once), the refinement EOB run INCLUDES the current
              // block's correction tail — the eobrun>0 pass below
              // handles it and decrements
              eobrun = (1 << r) + (if (r > 0) br.receive(r) else 0)
              brk = true
            }
            if (!brk) {
              var placed = false
              while (k <= se && !placed) {
                val pos = base + Zigzag(k)
                if (c.coef(pos) != 0) correct(pos)
                else if (r == 0) {
                  if (newVal != 0) c.coef(pos) = newVal
                  placed = true
                } else r -= 1
                k += 1
              }
            }
          }
        }
        if (eobrun > 0) {
          while (k <= se) {
            val pos = base + Zigzag(k)
            if (c.coef(pos) != 0) correct(pos)
            k += 1
          }
          eobrun -= 1
        }
      }
      if (ss == 0) {
        require(se == 0, "DC scan must have Se = 0 (T.81 G.1.1.1)")
        if (sc.length > 1) { // interleaved DC scan over MCUs
          var my = 0
          while (my < mcusY) {
            var mx = 0
            while (mx < mcusX) {
              maybeRestart()
              var ci = 0
              while (ci < sc.length) {
                val c = sc(ci)
                var by = 0
                while (by < c.v) {
                  var bx = 0
                  while (bx < c.h) {
                    val bi = (my * c.v + by) * c.bw + (mx * c.h + bx)
                    if (ah == 0) dcFirst(c, ci, bi) else dcRefine(c, bi)
                    bx += 1
                  }
                  by += 1
                }
                ci += 1
              }
              unit += 1
              mx += 1
            }
            my += 1
          }
        } else { // single-component DC scan: non-interleaved grid
          val c = sc(0)
          var row = 0
          while (row < c.nh) {
            var colB = 0
            while (colB < c.nw) {
              maybeRestart()
              val bi = row * c.bw + colB
              if (ah == 0) dcFirst(c, 0, bi) else dcRefine(c, bi)
              unit += 1
              colB += 1
            }
            row += 1
          }
        }
      } else { // AC scan: single component only (T.81 G.1.1.1)
        require(sc.length == 1,
          "AC progressive scan must cover exactly one component")
        val c = sc(0)
        var row = 0
        while (row < c.nh) {
          var colB = 0
          while (colB < c.nw) {
            maybeRestart()
            val bi = row * c.bw + colB
            if (ah == 0) acFirst(c, bi) else acRefine(c, bi)
            unit += 1
            colB += 1
          }
          row += 1
        }
      }
      br.pos
    }
    while (scanStart < 0 && !eoi) {
      require(p + 2 <= bytes.length, "truncated JPEG marker stream")
      require((bytes(p) & 0xff) == 0xff, f"bad marker byte at $p")
      val m = bytes(p + 1) & 0xff
      if (m == 0xd9) { // EOI: standalone marker, no length field
        if (progressive && sawScan) eoi = true
        else throw new IllegalArgumentException("EOI before SOS")
      } else {
        require(p + 4 <= bytes.length, "truncated JPEG marker stream")
        val segLen = u16(p + 2)
        val body = p + 4
        require(body + segLen - 2 <= bytes.length, "truncated JPEG segment")
        var next = body + segLen - 2
        m match {
          case 0xdb => // DQT: one or more tables
            var q = body
            while (q < body + segLen - 2) {
              val pq = (bytes(q) & 0xff) >> 4
              val tq = bytes(q) & 0x0f
              require(pq <= 1 && tq < 4, "bad DQT header")
              val tab = new Array[Int](64)
              var i = 0
              while (i < 64) {
                tab(Zigzag(i)) =
                  if (pq == 0) bytes(q + 1 + i) & 0xff else u16(q + 1 + 2 * i)
                i += 1
              }
              quant(tq) = tab
              q += 1 + (if (pq == 0) 64 else 128)
            }
          case 0xc4 => // DHT: one or more tables
            var q = body
            while (q < body + segLen - 2) {
              val tc = (bytes(q) & 0xff) >> 4
              val th = bytes(q) & 0x0f
              require(tc <= 1 && th < 4, "bad DHT header")
              val bits = Array.tabulate(16)(i => bytes(q + 1 + i) & 0xff)
              val n = bits.sum
              val vals = java.util.Arrays.copyOfRange(bytes, q + 17, q + 17 + n)
              if (tc == 0) dcTabs(th) = new HuffTable(bits, vals)
              else acTabs(th) = new HuffTable(bits, vals)
              q += 17 + n
            }
          case 0xc0 | 0xc1 => // SOF0/1: baseline (extended-sequential ok)
            parseSof(body)
            progressive = false
          case 0xc2 => // SOF2: progressive
            parseSof(body)
            progressive = true
          case 0xdd => restartInterval = u16(body)
          case 0xda => // SOS
            require(comps != null, "SOS before SOF")
            val ns = bytes(body) & 0xff
            if (!progressive) {
              require(ns == comps.length,
                s"expected one interleaved scan covering all ${comps.length} " +
                  s"components, got a $ns-component scan")
              var i = 0
              while (i < ns) {
                val cs = bytes(body + 1 + 2 * i) & 0xff
                val c = comps.find(_.id == cs).getOrElse(
                  throw new IllegalArgumentException(
                    s"scan references unknown component id $cs"))
                c.td = (bytes(body + 2 + 2 * i) & 0xff) >> 4
                c.ta = bytes(body + 2 + 2 * i) & 0x0f
                i += 1
              }
              scanStart = body + segLen - 2
            } else {
              ensureGrid()
              require(ns >= 1 && ns <= comps.length, s"bad scan count $ns")
              val sc = Array.tabulate(ns) { i =>
                val cs = bytes(body + 1 + 2 * i) & 0xff
                val c = comps.find(_.id == cs).getOrElse(
                  throw new IllegalArgumentException(
                    s"scan references unknown component id $cs"))
                c.td = (bytes(body + 2 + 2 * i) & 0xff) >> 4
                c.ta = bytes(body + 2 + 2 * i) & 0x0f
                c
              }
              val ss = bytes(body + 1 + 2 * ns) & 0xff
              val se = bytes(body + 2 + 2 * ns) & 0xff
              val ahAl = bytes(body + 3 + 2 * ns) & 0xff
              require(ss <= 63 && se <= 63 && ss <= se,
                s"bad spectral selection $ss..$se")
              // Mirror the baseline path's loud missing-DHT checks: a
              // malformed stream whose scan references a never-defined
              // table must fail with the descriptive error, not an NPE.
              // (DC refinement reads raw bits only — no table needed.)
              sc.foreach { c =>
                if (ss == 0 && (ahAl >> 4) == 0)
                  require(dcTabs(c.td) != null, s"missing DC table ${c.td}")
                if (ss > 0)
                  require(acTabs(c.ta) != null, s"missing AC table ${c.ta}")
              }
              val end = progressiveScan(sc, ss, se, ahAl >> 4, ahAl & 0x0f,
                body + segLen - 2)
              sawScan = true
              next = nextMarker(end)
            }
          case _ => // APPn / COM / others: skip
        }
        if (scanStart < 0) p = next
      }
    }
    if (progressive) {
      // All scans consumed: dequantize the accumulated coefficients and
      // IDCT every block of every component's padded grid.
      val block = new Array[Double](64)
      comps.foreach { c =>
        val qt = quant(c.tq)
        require(qt != null, s"missing quant table ${c.tq}")
        var bRow = 0
        while (bRow < c.bh) {
          var bCol = 0
          while (bCol < c.bw) {
            val base = (bRow * c.bw + bCol) * 64
            var anyAc = false
            var i = 1
            while (i < 64 && !anyAc) { anyAc = c.coef(base + i) != 0; i += 1 }
            if (!anyAc) {
              // DC-only shortcut, rounded/clamped once (bit-identical)
              val v = Math.round(
                c.coef(base).toDouble * qt(0) / 8.0 + 128.0).toInt
              val b = (if (v < 0) 0 else if (v > 255) 255 else v).toByte
              var y = 0
              while (y < 8) {
                val row = (bRow * 8 + y) * c.pw + bCol * 8
                var x = 0
                while (x < 8) { c.plane(row + x) = b; x += 1 }
                y += 1
              }
            } else {
              i = 0
              while (i < 64) {
                block(i) = c.coef(base + i).toDouble * qt(i)
                i += 1
              }
              idct(block)
              var y = 0
              while (y < 8) {
                val row = (bRow * 8 + y) * c.pw + bCol * 8
                var x = 0
                while (x < 8) {
                  val v = Math.round(block(y * 8 + x) + 128.0).toInt
                  c.plane(row + x) =
                    (if (v < 0) 0 else if (v > 255) 255 else v).toByte
                  x += 1
                }
                y += 1
              }
            }
            bCol += 1
          }
          bRow += 1
        }
      }
      return (width, height, comps, maxH, maxV)
    }
    require(width > 0 && height > 0, "missing SOF before SOS")
    // A single-component frame ignores sampling factors (T.81 A.2.2:
    // non-interleaved data is a plain ceil(w/8) x ceil(h/8) block
    // grid) — ensureGrid normalizes to 1x1 so the MCU loop covers it.
    ensureGrid()
    comps.foreach { c =>
      require(quant(c.tq) != null, s"missing quant table ${c.tq}")
      require(dcTabs(c.td) != null && acTabs(c.ta) != null,
        s"missing Huffman tables ${c.td}/${c.ta}")
    }
    val br = new BitReader(bytes, scanStart)
    val block = new Array[Double](64)
    val preds = new Array[Int](comps.length)
    def decodeBlock(c: FrameComp, ci: Int, bCol: Int, bRow: Int): Unit = {
      val qt = quant(c.tq)
      val dcT = dcTabs(c.td)
      val acT = acTabs(c.ta)
      val t = br.decodeHuff(dcT)
      preds(ci) += extend(br.receive(t), t)
      val dc = preds(ci).toDouble * qt(0)
      var k = 1
      var done = false
      var anyAc = false
      while (k < 64 && !done) {
        val rs = br.decodeHuff(acT)
        val r = rs >> 4
        val s = rs & 0x0f
        if (s == 0) {
          if (r == 15) k += 16 else done = true // ZRL vs EOB
        } else {
          k += r
          require(k < 64, "AC coefficient index overflow")
          if (!anyAc) { // first AC: zero the buffer the IDCT will read
            java.util.Arrays.fill(block, 0.0)
            block(0) = dc
            anyAc = true
          }
          block(Zigzag(k)) = extend(br.receive(s), s).toDouble * qt(Zigzag(k))
          k += 1
        }
      }
      // DC-only shortcut (libjpeg's dcval path): the IDCT of a lone DC
      // coefficient is the uniform value F00/8 — skip the two 8-point
      // passes AND round/clamp once instead of per pixel (same double,
      // same Math.round: bit-identical output). Block-uniform fixture
      // corpora take this path for every block, so the zeroing of the
      // coefficient buffer is also deferred to the first AC hit above.
      if (!anyAc) {
        val v = Math.round(dc / 8.0 + 128.0).toInt
        val b = (if (v < 0) 0 else if (v > 255) 255 else v).toByte
        var y = 0
        while (y < 8) {
          val row = (bRow * 8 + y) * c.pw + bCol * 8
          var x = 0
          while (x < 8) { c.plane(row + x) = b; x += 1 }
          y += 1
        }
      } else {
        idct(block)
        var y = 0
        while (y < 8) {
          val row = (bRow * 8 + y) * c.pw + bCol * 8
          var x = 0
          while (x < 8) {
            val v = Math.round(block(y * 8 + x) + 128.0).toInt
            c.plane(row + x) =
              (if (v < 0) 0 else if (v > 255) 255 else v).toByte
            x += 1
          }
          y += 1
        }
      }
    }
    var mcu = 0
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          br.restart()
          java.util.Arrays.fill(preds, 0)
        }
        var ci = 0
        while (ci < comps.length) {
          val c = comps(ci)
          val ch = if (comps.length == 1) 1 else c.h
          val cv = if (comps.length == 1) 1 else c.v
          var by = 0
          while (by < cv) {
            var bx = 0
            while (bx < ch) {
              decodeBlock(c, ci, mx * ch + bx, my * cv + by)
              bx += 1
            }
            by += 1
          }
          ci += 1
        }
        mcu += 1
        mx += 1
      }
      my += 1
    }
    (width, height, comps, maxH, maxV)
  }

  /** Crop a component's padded plane to the declared frame size. */
  private def cropPlane(c: FrameComp, w: Int, h: Int): Array[Byte] = {
    val out = new Array[Byte](w * h)
    var y = 0
    while (y < h) {
      System.arraycopy(c.plane, y * c.pw, out, y * w, w)
      y += 1
    }
    out
  }

  /** Decode a baseline sequential GRAYSCALE JPEG (the historical API —
    * refuses color frames; use [[decodeColor]] for those).
    */
  def decode(bytes: Array[Byte]): Image = {
    val (w, h, comps, _, _) = decodePlanes(bytes)
    require(comps.length == 1,
      s"grayscale decode: expected 1 component, got ${comps.length} — " +
        "use decodeColor")
    Image(w, h, cropPlane(comps(0), w, h))
  }

  /** Decode a baseline sequential JPEG of either color model: 1
    * component → gray channel through [[decodePlanes]]; 3 components →
    * JFIF YCbCr with chroma upsampled by sample replication (each
    * full-res pixel reads component sample (x·h/maxH, y·v/maxV)) and
    * converted to interleaved RGB with the JFIF full-range equations
    * (R = Y + 1.402·(Cr−128), G = Y − 0.344136·(Cb−128) −
    * 0.714136·(Cr−128), B = Y + 1.772·(Cb−128)), rounded half-up via
    * floor(x+0.5) — the exact arithmetic the q339 oracle replays — and
    * clamped to 0..255.
    */
  def decodeColor(bytes: Array[Byte]): ColorImage = {
    val (w, h, comps, maxH, maxV) = decodePlanes(bytes)
    if (comps.length == 1)
      return ColorImage(w, h, 1, cropPlane(comps(0), w, h))
    require(comps.map(_.id).sameElements(Array(1, 2, 3)),
      s"3-component frame with ids ${comps.map(_.id).mkString(",")} — " +
        "only JFIF YCbCr (ids 1,2,3) is supported")
    val Array(cY, cCb, cCr) = comps
    val out = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      val yRow = y * cY.pw
      val cbRow = (y * cCb.v / maxV) * cCb.pw
      val crRow = (y * cCr.v / maxV) * cCr.pw
      var x = 0
      while (x < w) {
        val yv = (cY.plane(yRow + x) & 0xff).toDouble
        val cbv = (cCb.plane(cbRow + x * cCb.h / maxH) & 0xff).toDouble
        val crv = (cCr.plane(crRow + x * cCr.h / maxH) & 0xff).toDouble
        val r = math.floor(yv + 1.402 * (crv - 128.0) + 0.5).toInt
        val g = math.floor(
          yv - 0.344136 * (cbv - 128.0) - 0.714136 * (crv - 128.0) + 0.5).toInt
        val b = math.floor(yv + 1.772 * (cbv - 128.0) + 0.5).toInt
        val o = (y * w + x) * 3
        out(o) = (if (r < 0) 0 else if (r > 255) 255 else r).toByte
        out(o + 1) = (if (g < 0) 0 else if (g > 255) 255 else g).toByte
        out(o + 2) = (if (b < 0) 0 else if (b > 255) 255 else b).toByte
        x += 1
      }
      y += 1
    }
    ColorImage(w, h, 3, out)
  }

  // ---- fixture + operators -------------------------------------------------

  /** Block-planted pixel rule (shared with the DuckDB oracle): the
    * text's bytes, '.'-padded to a whole number of 8-byte groups
    * (empty text ⇒ one all-dots group), each byte expanded to a
    * uniform 8×8 block, 8 blocks per row → a 64-wide image of
    * 8·ceil(len/8)-pixel-tall rows. Uniform blocks make the lossy
    * pipeline exact (see object doc), so the oracle replays pixels
    * arithmetically.
    */
  private[graft] val BlocksPerRow = 8
  private[graft] def blockBytesOf(text: String): Array[Byte] = {
    val tb = text.getBytes("UTF-8")
    val n = math.max(1, (tb.length + BlocksPerRow - 1) / BlocksPerRow) * BlocksPerRow
    val bt = new Array[Byte](n)
    java.util.Arrays.fill(bt, '.'.toByte)
    System.arraycopy(tb, 0, bt, 0, tb.length)
    bt
  }
  private[graft] def blockPixelsOf(text: String): Array[Byte] = {
    val bt = blockBytesOf(text)
    val w = BlocksPerRow * 8
    val h = (bt.length / BlocksPerRow) * 8
    val pix = new Array[Byte](w * h)
    var i = 0
    while (i < pix.length) {
      val r = i / w
      val c = i % w
      pix(i) = bt((r / 8) * BlocksPerRow + c / 8)
      i += 1
    }
    pix
  }

  /** Attach a REAL JPEG payload per document via [[blockPixelsOf]]: one
    * narrow mapPartitions pass, full encode pipeline (FDCT + Huffman),
    * payloads built and kept on the executors.
    */
  def asJpegMedia(docs: DataFrame): DataFrame = {
    // JPEG encode per row is codec-priced; a byte-small scan folding
    // into one task serializes it (the q193/q391 lesson)
    Multimodal.perDocument(Parallelism.ensure(docs)) { rows =>
      rows.map { case (id, text) =>
        val pix = blockPixelsOf(text)
        val h = pix.length / 64
        Multimodal.Media(id, encodeGray(64, h, pix), "image/jpeg", 64, h)
      }
    }.select(col("doc_id"), col("payload"),
      struct(col("format"), col("width"), col("height")).as("meta"))
  }

  // ---- color fixture + operators -------------------------------------------

  /** Color block rule (the q339 oracle contract): text bytes '.'-padded
    * to 16-BYTE groups (two block-rows — 4:2:0 needs the luma height to
    * be a multiple of 16 so the half-resolution chroma grid is whole
    * 8×8 blocks). Luma = the grayscale block rule over the padded
    * bytes. Chroma (32×h/2 planes) is block-uniform too: the chroma
    * block covering the 2×2 luma-block group at rows 2r..2r+1, cols
    * 2c..2c+1 takes its values from that group's TOP-LEFT byte g —
    * Cb = 255 − g, Cr = (g + 85) mod 256. Every plane is uniform per
    * 8×8 block with flat quant, so the whole 4:2:0 lossy pipeline
    * (downsampled encode → interleaved MCU scan → decode → replicate
    * upsample → RGB) is EXACT and the oracle replays each block's RGB
    * triple arithmetically.
    */
  private[graft] def colorBlockBytesOf(text: String): Array[Byte] = {
    val tb = text.getBytes("UTF-8")
    val n = math.max(1, (tb.length + 15) / 16) * 16
    val bt = new Array[Byte](n)
    java.util.Arrays.fill(bt, '.'.toByte)
    System.arraycopy(tb, 0, bt, 0, tb.length)
    bt
  }

  /** (Y 64×h, Cb 32×h/2, Cr 32×h/2) planes for the color block rule. */
  private[graft] def colorPlanesOf(text: String)
      : (Array[Byte], Array[Byte], Array[Byte], Int) = {
    val bt = colorBlockBytesOf(text)
    val h = bt.length // one pixel row per byte: 8 blocks/row, 8 rows/block
    val yP = new Array[Byte](64 * h)
    var i = 0
    while (i < yP.length) {
      val r = i / 64
      val c = i % 64
      yP(i) = bt((r / 8) * BlocksPerRow + c / 8)
      i += 1
    }
    val cw = 32
    val chh = h / 2
    val cbP = new Array[Byte](cw * chh)
    val crP = new Array[Byte](cw * chh)
    i = 0
    while (i < cbP.length) {
      val cy = i / cw
      val cx = i % cw
      val g = bt(16 * (cy / 8) + 2 * (cx / 8)) & 0xff
      cbP(i) = (255 - g).toByte
      crP(i) = ((g + 85) % 256).toByte
      i += 1
    }
    (yP, cbP, crP, h)
  }

  /** Attach a REAL 4:2:0 COLOR JPEG payload per document via
    * [[colorPlanesOf]]: full color encode (3 planes, subsampled
    * chroma, interleaved MCU scan), one narrow mapPartitions pass.
    */
  def asColorJpegMedia(docs: DataFrame): DataFrame = {
    Multimodal.perDocument(Parallelism.ensure(docs)) { rows =>
      rows.map { case (id, text) =>
        val (yP, cbP, crP, h) = colorPlanesOf(text)
        Multimodal.Media(id, encodeColor(64, h, yP, cbP, crP),
          "image/jpeg", 64, h)
      }
    }.select(col("doc_id"), col("payload"),
      struct(col("format"), col("width"), col("height")).as("meta"))
  }

  /** [[asColorJpegMedia]]'s PROGRESSIVE twin: the same planted planes
    * through [[encodeColorProgressive]] (SOF2, 5-scan spectral script).
    * Because the scan script carries every quantized coefficient
    * exactly, [[parseColorMeta]] over this media decodes to the SAME
    * RGB as the baseline payload — which is why q345 shares q339's
    * oracle verbatim: hash equality proves the progressive path.
    */
  def asProgressiveJpegMedia(docs: DataFrame): DataFrame = {
    Multimodal.perDocument(Parallelism.ensure(docs)) { rows =>
      rows.map { case (id, text) =>
        val (yP, cbP, crP, h) = colorPlanesOf(text)
        Multimodal.Media(id, encodeColorProgressive(64, h, yP, cbP, crP),
          "image/jpeg", 64, h)
      }
    }.select(col("doc_id"), col("payload"),
      struct(col("format"), col("width"), col("height")).as("meta"))
  }

  final case class JpegColorMeta(doc_id: Long, width: Int, height: Int,
                                 channels: Int, n_pixels: Int,
                                 rgb_md5: String, rgb_sum: Long)

  /** REAL color decode pass: full baseline decode (interleaved MCUs,
    * chroma upsample, YCbCr→RGB) per payload; emits dimensions plus
    * digest and exact sum of the decoded RGB bytes. The digest is md5
    * over the LOWERCASE-HEX dump of the interleaved RGB bytes (2 chars
    * per byte) — RGB values exceed ASCII, and the DuckDB oracle can
    * only hash strings, so both sides hash the hex text instead.
    */
  def parseColorMeta(media: DataFrame): Dataset[JpegColorMeta] = {
    Multimodal.perPayload(Parallelism.ensure(media)) { records =>
      records.map { r =>
        val img = decodeColor(r.payload)
        val (md5, s) = Digest.hexDumpDigest(img.pixels)
        JpegColorMeta(r.doc_id, img.width, img.height, img.channels,
          img.width * img.height, md5, s)
      }
    }
  }

  final case class JpegMeta(doc_id: Long, width: Int, height: Int,
                            n_pixels: Int, pixel_md5: String, pixel_sum: Long)

  /** REAL decode pass: run the full baseline decoder on each payload
    * and emit parsed dimensions plus digest AND exact sum of the
    * DECODED pixels — all recomputed by the oracle from the block
    * rule, so encoder and decoder are both under the hash.
    */
  def parseMeta(media: DataFrame): Dataset[JpegMeta] = {
    Multimodal.perPayload(Parallelism.ensure(media)) { records =>
      records.map { r =>
        val img = decode(r.payload)
        var s = 0L
        var i = 0
        while (i < img.pixels.length) { s += (img.pixels(i) & 0xff); i += 1 }
        JpegMeta(r.doc_id, img.width, img.height, img.pixels.length,
          Digest.md5Hex(img.pixels), s)
      }
    }
  }
}
