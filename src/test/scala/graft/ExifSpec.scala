package graft

import graft.operators.{Exif, Jpeg}
import org.scalatest.funsuite.AnyFunSuite

/** Exif APP1 writer/parser and the orientation-normalization
  * transforms: TIFF roundtrips in both byte orders, JDK coexistence
  * (an Exif segment must not break javax.imageio's JPEG decode), the
  * orientation group laws, and hand-computed tiny-image transforms.
  */
class ExifSpec extends AnyFunSuite {

  private def meta(le: Boolean, o: Int = 6) = Exif.Meta(
    orientation = o, make = "CamCo", model = "M-7",
    dateTime = "2026:08:16 12:00:00", xresNum = 72, xresDen = 1,
    pixelX = 64, pixelY = 128, littleEndian = le)

  private def sampleJpeg(text: String = "exif sample payload"): Array[Byte] = {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val docs = Seq((0L, text)).toDF("doc_id", "text")
    Jpeg.asColorJpegMedia(docs).select("payload").as[Array[Byte]].head()
  }

  test("APP1 roundtrips through build → insert → parse (both byte orders)") {
    val jpeg = sampleJpeg()
    for (le <- Seq(true, false)) {
      val m = meta(le)
      val withExif = Exif.insertApp1(jpeg, Exif.buildApp1(m))
      val parsed = Exif.parseExif(withExif)
      assert(parsed.contains(m), s"roundtrip mismatch (littleEndian=$le)")
    }
  }

  test("a payload without APP1 parses as None; corrupt TIFF fails loudly") {
    val jpeg = sampleJpeg()
    assert(Exif.parseExif(jpeg).isEmpty)
    val app1 = Exif.buildApp1(meta(le = true))
    // flip the byte-order mark into garbage
    val bad = app1.clone()
    bad(6) = 'X'.toByte; bad(7) = 'X'.toByte
    intercept[IllegalArgumentException](
      Exif.parseExif(Exif.insertApp1(jpeg, bad)))
    // truncate the TIFF mid-IFD
    val short = Exif.buildApp1(meta(le = false)).take(20)
    intercept[IllegalArgumentException](
      Exif.parseExif(Exif.insertApp1(jpeg, short)))
  }

  test("Exif segment does not break JDK ImageIO's JPEG decode") {
    val jpeg = sampleJpeg()
    val withExif = Exif.insertApp1(jpeg, Exif.buildApp1(meta(le = true)))
    val bi = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(withExif))
    assert(bi != null && bi.getWidth == 64)
    // and our own color decoder still reads it bit-identically
    val a = Jpeg.decodeColor(jpeg)
    val b = Jpeg.decodeColor(withExif)
    assert(a.pixels.toSeq == b.pixels.toSeq)
  }

  test("orientRgb: hand-computed transforms on a 2x1 strip") {
    // pixels: A=(1,2,3) left, B=(4,5,6) right
    val rgb = Array[Byte](1, 2, 3, 4, 5, 6)
    def px(out: (Int, Int, Array[Byte]), x: Int, y: Int): Seq[Byte] = {
      val (w, _, a) = out; a.slice((y * w + x) * 3, (y * w + x) * 3 + 3).toSeq
    }
    val o2 = Exif.orientRgb(rgb, 2, 1, 2) // mirror H: B A
    assert(px(o2, 0, 0) == Seq[Byte](4, 5, 6) && px(o2, 1, 0) == Seq[Byte](1, 2, 3))
    val o6 = Exif.orientRgb(rgb, 2, 1, 6) // rotate 90 CW: A above B
    assert(o6._1 == 1 && o6._2 == 2)
    assert(px(o6, 0, 0) == Seq[Byte](1, 2, 3) && px(o6, 0, 1) == Seq[Byte](4, 5, 6))
    val o8 = Exif.orientRgb(rgb, 2, 1, 8) // rotate 270 CW: B above A
    assert(px(o8, 0, 0) == Seq[Byte](4, 5, 6) && px(o8, 0, 1) == Seq[Byte](1, 2, 3))
  }

  test("orientation group laws: t6∘t6 = t3, t5∘t5 = id, t2∘t2 = id") {
    val r = new scala.util.Random(5)
    val w = 8; val h = 24
    val rgb = new Array[Byte](w * h * 3)
    r.nextBytes(rgb)
    def t(o: Int)(in: (Int, Int, Array[Byte])): (Int, Int, Array[Byte]) =
      Exif.orientRgb(in._3, in._1, in._2, o)
    val id = (w, h, rgb)
    val r66 = t(6)(t(6)(id))
    val r3 = t(3)(id)
    assert(r66._3.toSeq == r3._3.toSeq && r66._1 == r3._1)
    assert(t(5)(t(5)(id))._3.toSeq == rgb.toSeq)
    assert(t(2)(t(2)(id))._3.toSeq == rgb.toSeq)
    assert(t(4)(t(4)(id))._3.toSeq == rgb.toSeq)
  }

  test("orientNormalized: distributed parse+decode+transform, sums invariant") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val docs = Seq((4L, "landscape text"), (5L, "portrait doc"),
      (6L, "rotate me " * 9)).toDF("doc_id", "text")
    val rows = Exif.orientNormalized(Exif.asExifJpegMedia(docs))
      .collect().map(o => o.doc_id -> o).toMap
    assert(rows(4L).orientation == 5 && rows(5L).orientation == 6 &&
      rows(6L).orientation == 7)
    // transposed orientations swap dims
    assert(rows(4L).out_width == rows(4L).pixel_y.toInt &&
      rows(4L).out_height == 64)
    // rgb_sum equals the unrotated decode's sum (transform invariance)
    val plain = Jpeg.parseColorMeta(Jpeg.asColorJpegMedia(docs))
      .collect().map(m => m.doc_id -> m.rgb_sum).toMap
    rows.foreach { case (id, o) => assert(o.rgb_sum == plain(id), s"doc $id") }
    // tag arithmetic
    assert(rows(5L).make == "Cam2" && rows(5L).model == "M-0")
    assert(rows(6L).date_time == "2026:08:07 00:00:00")
    assert(rows(4L).xres_num == 72)
  }

  test("orientedPHashPairs: rotated twins land at Hamming 0") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val docs = Seq((1L, "rotated twin one " * 3), (2L, "second body " * 5))
      .toDF("doc_id", "text")
    val pairs = Exif.orientedPHashPairs(
      Exif.asOrientedPairMedia(docs), radius = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.contains((1L, 200001L, 0)), s"missing twin pair: ${pairs.toSeq}")
    assert(pairs.contains((2L, 200002L, 0)))
    // and WITHOUT normalization the twins do NOT pair: hash the stored
    // pixels directly
    val raw = Exif.asOrientedPairMedia(docs)
    val rawPairs = graft.operators.Multimodal.pHashNearDupPairs(raw, radius = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!rawPairs.contains((1L, 200001L)),
      "rotated twin paired without normalization - fixture not rotating")
  }

  test("PNG eXIf: chunk roundtrip, CRC verified, readers skip it") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val docs = Seq((0L, "png exif body")).toDF("doc_id", "text")
    val plain = graft.operators.Multimodal.asColorMedia(docs)
      .select("doc_id", "payload").as[(Long, Array[Byte])].head()._2
    val m = meta(le = false, o = 7).copy(pixelX = 64, pixelY = 0)
    val tiff = Exif.buildApp1(m).drop(6)
    val withExif = Exif.insertPngExif(plain, tiff)
    assert(Exif.parsePngExif(withExif).contains(m))
    assert(Exif.parsePngExif(plain).isEmpty)
    // the decoder (and the JDK) skip the ancillary chunk untouched
    val a = graft.operators.Multimodal.Png.decodeColor(plain)
    val b = graft.operators.Multimodal.Png.decodeColor(withExif)
    assert(a.rgba.toSeq == b.rgba.toSeq)
    assert(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(withExif)) != null)
    // corrupt the chunk body: CRC must catch it
    val bad = withExif.clone()
    bad(8 + 25 + 8 + 4) = (bad(8 + 25 + 8 + 4) ^ 0x5a).toByte
    intercept[IllegalArgumentException](Exif.parsePngExif(bad))
  }

  test("GPS: build/parse roundtrip; strip removes GPS, keeps everything else") {
    val jpeg = sampleJpeg("gps scrub body")
    val m = meta(le = true, o = 3).copy(pixelX = 64, pixelY = 0)
    val gps = Exif.Gps(37774900L, 122419400L)
    val withGps = Exif.insertApp1(jpeg, Exif.buildApp1WithGps(m, gps))
    assert(Exif.parseGps(withGps).contains(gps))
    assert(Exif.parseExif(withGps).contains(m), "tag surface survives GPS")
    val scrubbed = Exif.stripGps(withGps)
    assert(Exif.parseGps(scrubbed).isEmpty, "GPS must be gone")
    assert(Exif.parseExif(scrubbed).contains(m), "camera tags survive")
    // pixels bit-identical through the scrub
    val a = Jpeg.decodeColor(withGps)
    val b = Jpeg.decodeColor(scrubbed)
    assert(a.pixels.toSeq == b.pixels.toSeq)
    // a GPS-free payload parses as None, and the JDK still reads the
    // GPS-carrying one
    assert(Exif.parseGps(Exif.insertApp1(jpeg, Exif.buildApp1(m))).isEmpty)
    assert(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(withGps)) != null)
  }

  test("stripGps removes EVERY Exif APP1 — duplicate segments cannot leak GPS") {
    val jpeg = sampleJpeg("double app1 body")
    val m = meta(le = true, o = 1).copy(pixelX = 64, pixelY = 0)
    val gps = Exif.Gps(10000000L, 20000000L)
    // first APP1 WITHOUT GPS, second WITH: the naive first-only scrub
    // would keep the GPS-carrying second segment
    val doubled = Exif.insertApp1(
      Exif.insertApp1(jpeg, Exif.buildApp1WithGps(m, gps)),
      Exif.buildApp1(m))
    val scrubbed = Exif.stripGps(doubled)
    assert(Exif.parseGps(scrubbed).isEmpty, "GPS survived in a later APP1")
    // exactly one APP1 remains, and the tag surface survives
    assert(Exif.parseExif(scrubbed).contains(m))
    val a = Jpeg.decodeColor(doubled)
    val b = Jpeg.decodeColor(scrubbed)
    assert(a.pixels.toSeq == b.pixels.toSeq)
  }

  test("parseGps honors S/W hemisphere refs; bad refs fail loudly") {
    val jpeg = sampleJpeg("hemisphere body")
    val m = meta(le = true, o = 1).copy(pixelX = 64, pixelY = 0)
    val gps = Exif.Gps(33865100L, 151209300L)
    val withGps = Exif.insertApp1(jpeg, Exif.buildApp1WithGps(m, gps))
    // flip the refs in-place: N→S, E→W (2-byte inline ASCII values)
    val flipped = withGps.clone()
    var i = 0
    var n = 0
    while (i + 1 < flipped.length && n < 2) {
      if (flipped(i) == 'N'.toByte && flipped(i + 1) == 0 && n == 0) {
        flipped(i) = 'S'.toByte; n += 1
      } else if (flipped(i) == 'E'.toByte && flipped(i + 1) == 0 && n == 1) {
        flipped(i) = 'W'.toByte; n += 1
      }
      i += 1
    }
    assert(n == 2, "fixture did not locate both refs")
    assert(Exif.parseGps(flipped).contains(
      Exif.Gps(-33865100L, -151209300L)))
    // garbage ref byte: loud failure, not a silent sign guess
    val bad = withGps.clone()
    i = 0
    var done = false
    while (i + 1 < bad.length && !done) {
      if (bad(i) == 'N'.toByte && bad(i + 1) == 0) {
        bad(i) = 'Q'.toByte; done = true
      }
      i += 1
    }
    intercept[IllegalArgumentException](Exif.parseGps(bad))
  }

  /** Little-endian in-place writes and the IFD0 entry of `tag` in an
    * II TIFF — the corrupt-structure fixtures below.
    */
  private def putLe(b: Array[Byte], at: Int, v: Long, n: Int): Unit =
    (0 until n).foreach(i => b(at + i) = ((v >> (8 * i)) & 0xff).toByte)
  private def ifd0Entry(tiff: Array[Byte], tag: Int): Int = {
    val n = (tiff(8) & 0xff) | ((tiff(9) & 0xff) << 8)
    (0 until n).map(i => 10 + 12 * i).find { e =>
      ((tiff(e) & 0xff) | ((tiff(e + 1) & 0xff) << 8)) == tag
    }.getOrElse(fail(f"no IFD0 entry for tag 0x$tag%04x"))
  }

  test("corrupt TIFF structure fails with IllegalArgumentException, never AIOOBE") {
    val jpeg = sampleJpeg("corrupt tiff body")
    def asJpeg(tiff: Array[Byte]) =
      Exif.insertApp1(jpeg, "Exif\u0000\u0000".getBytes("US-ASCII") ++ tiff)
    def allThrow(tiff: Array[Byte], what: String): Seq[String] = Seq(
      intercept[IllegalArgumentException](Exif.parseGps(asJpeg(tiff))),
      intercept[IllegalArgumentException](Exif.parseExif(asJpeg(tiff))),
      intercept[IllegalArgumentException](graft.operators.Tiff.decode(tiff))
    ).map(e => s"$what: ${e.getMessage}")

    // an 8-byte TIFF whose IFD0 offset points past its end, both orders
    val ii = Array[Byte]('I'.toByte, 'I'.toByte, 42, 0, 0, 1, 0, 0) // IFD0 at 256
    val mm = Array[Byte]('M'.toByte, 'M'.toByte, 0, 42, 0, 0, 1, 0)
    Seq(ii, mm).foreach { t =>
      allThrow(t, "IFD0 past end").foreach(msg => assert(msg.contains("past end"), msg))
    }

    // a GPS sub-IFD pointer past the end of the TIFF
    val m = meta(le = true, o = 1)
    val withGps = Exif.buildApp1WithGps(m, Exif.Gps(1000000L, 2000000L)).drop(6)
    val farGps = withGps.clone()
    putLe(farGps, ifd0Entry(farGps, 0x8825) + 8, farGps.length + 64L, 4)
    allThrow(farGps, "GPS pointer past end").foreach(msg =>
      assert(msg.contains("past end"), msg))

    // a bad byte-order mark ("XX" used to read as big-endian in parseGps)
    val xx = withGps.clone()
    xx(0) = 'X'.toByte; xx(1) = 'X'.toByte
    allThrow(xx, "bad byte order").foreach(msg =>
      assert(msg.contains("byte-order mark"), msg))

    // an IFD entry of type 13 (IFD) is outside the value-type table
    val t13 = Exif.buildApp1(m).drop(6)
    putLe(t13, ifd0Entry(t13, 0x010f) + 2, 13, 2)
    Seq(
      intercept[IllegalArgumentException](Exif.parseExif(asJpeg(t13))),
      intercept[IllegalArgumentException](graft.operators.Tiff.decode(t13))
    ).foreach(e => assert(e.getMessage.contains("TIFF type 13"), e.getMessage))
  }

  test("an Exif entry of type 6 (SBYTE) reads as a 1-byte value") {
    val jpeg = sampleJpeg("sbyte body")
    val m = meta(le = true, o = 1)
    // retype Make (ASCII, out of line) as SBYTE: same size per value,
    // so the walk reads the same bytes; only the type changes
    val tiff = Exif.buildApp1(m).drop(6)
    putLe(tiff, ifd0Entry(tiff, 0x010f) + 2, 6, 2)
    val parsed = Exif.parseExif(
      Exif.insertApp1(jpeg, "Exif\u0000\u0000".getBytes("US-ASCII") ++ tiff))
    assert(parsed.contains(m))
  }

  test("truncated JPEG tails fail with a descriptive require, not AIOOBE") {
    val jpeg = sampleJpeg("truncation body")
    val m = meta(le = true, o = 1).copy(pixelX = 64, pixelY = 0)
    val withGps = Exif.insertApp1(
      jpeg, Exif.buildApp1WithGps(m, Exif.Gps(1000000L, 2000000L)))
    // cut inside the APP1 length field (marker present, length bytes gone)
    val cut = withGps.take(4)
    val e1 = intercept[IllegalArgumentException](Exif.parseGps(cut))
    assert(e1.getMessage.contains("truncated"))
    val e2 = intercept[IllegalArgumentException](Exif.stripGps(withGps.take(5)))
    assert(e2.getMessage.contains("truncated") ||
      e2.getMessage.contains("no Exif"))
  }
}
