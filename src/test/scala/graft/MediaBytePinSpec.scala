package graft

import graft.functions.Digest
import graft.operators.{Exif, Jpeg, Tiff}
import org.scalatest.funsuite.AnyFunSuite

/** Byte pins for every media WRITER: the md5 of each encoder's output
  * for fixed inputs. The codec specs and the oracle compare decoded
  * pixels and parsed values, so a layout drift that still decodes
  * (a reordered data area, a moved strip, a different segment order)
  * would pass them; these digests catch it. The inputs mix uniform
  * 8×8 blocks (the FDCT shortcut) with textured ones (the full
  * transform), odd sizes (edge replication), runs and noise (PackBits
  * and LZW), and one- and multi-strip TIFFs.
  */
class MediaBytePinSpec extends AnyFunSuite {

  /** Deterministic plane: every third 8×8 block uniform, the rest a
    * textured gradient.
    */
  private def plane(w: Int, h: Int, salt: Int): Array[Byte] =
    Array.tabulate[Byte](w * h) { i =>
      val x = i % w
      val y = i / w
      if ((x / 8 + y / 8 + salt) % 3 == 0) (0x40 + 16 * salt).toByte
      else ((x * 11 + y * 7 + (x ^ y) * 3 + salt * 29) & 0xff).toByte
    }

  private val W = 37
  private val H = 21

  private def pin(name: String, bytes: Array[Byte], expected: String): Unit = {
    val got = Digest.md5Hex(bytes)
    assert(got == expected, s"$name: md5 $got (${bytes.length} bytes)")
  }

  private def meta(le: Boolean) = Exif.Meta(
    orientation = 6, make = "CamCo", model = "M-7",
    dateTime = "2026:08:16 12:00:00", xresNum = 72, xresDen = 1,
    pixelX = 37, pixelY = 21, littleEndian = le)

  private val gps = Exif.Gps(37774900L, 122419400L)

  test("JPEG encoders: gray with and without restarts, color 4:4:4 / 4:2:0, progressive") {
    val gray = plane(W, H, 0)
    pin("gray", Jpeg.encodeGray(W, H, gray), "01009ae217852de74a560565265613b0")
    pin("gray rst3", Jpeg.encodeGray(W, H, gray, restartInterval = 3), "99a5e96849e1f2bba9ff2eba4958646e")
    val y = plane(W, H, 1)
    val cb444 = plane(W, H, 2)
    val cr444 = plane(W, H, 3)
    pin("color 4:4:4",
      Jpeg.encodeColor(W, H, y, cb444, cr444, 1, 1), "01d0f2cbf08ecda2c4cc544bfd144e8c")
    val cw = (W + 1) / 2
    val ch = (H + 1) / 2
    val cb420 = plane(cw, ch, 2)
    val cr420 = plane(cw, ch, 3)
    pin("color 4:2:0", Jpeg.encodeColor(W, H, y, cb420, cr420), "6b5fd342725b7b4700b26debdd643509")
    pin("progressive 4:2:0",
      Jpeg.encodeColorProgressive(W, H, y, cb420, cr420), "34eb884c74c1d392ac41a7c5f7311006")
  }

  test("Exif APP1 writers: II and MM, with GPS, and the GPS scrub") {
    pin("buildApp1 II", Exif.buildApp1(meta(le = true)), "806413b170392e2bc026172e36bae08d")
    pin("buildApp1 MM", Exif.buildApp1(meta(le = false)), "64a2b8fb11e8605bfeb63707d55b9e5d")
    pin("buildApp1WithGps II", Exif.buildApp1WithGps(meta(le = true), gps), "38058dfea1d34ad551e7e752adac4579")
    pin("buildApp1WithGps MM", Exif.buildApp1WithGps(meta(le = false), gps), "f33f36cbb6e2ca19f567577de219cbc7")
    val jpeg = Jpeg.encodeGray(W, H, plane(W, H, 0))
    val withGps = Exif.insertApp1(jpeg, Exif.buildApp1WithGps(meta(le = false), gps))
    pin("stripGps", Exif.stripGps(withGps), "1f01cb0a735b9b44b2df5a3ffc289f6b")
  }

  test("TIFF writer: gray and RGB, every compression, one strip and several") {
    val expected = Map(
      (1, Tiff.CompNone, 6) -> "340d0a6d99a84fd10f804b18c1e79e13",
      (1, Tiff.CompNone, H) -> "08db18b105d21c558cfd3c03351a54ae",
      (1, Tiff.CompPackBits, 6) -> "b78535b2a9ce6eb3b61f97c4f5e764a6",
      (1, Tiff.CompPackBits, H) -> "205832810af29f8276561dabfee33d94",
      (1, Tiff.CompLzw, 6) -> "ef1ef9dbf5981d213e192e695c4913e1",
      (1, Tiff.CompLzw, H) -> "b0ce932db6251d9db86ce77b7aa65267",
      (3, Tiff.CompNone, 6) -> "f6ebdd520627ad364918aea6c9798e18",
      (3, Tiff.CompNone, H) -> "3275d9585780ca4c38ddc96be4d21fe2",
      (3, Tiff.CompPackBits, 6) -> "05dd7e061dfd32767a8ff9c6465d266c",
      (3, Tiff.CompPackBits, H) -> "d86c2decb8434e0ab1cd58411bcdf317",
      (3, Tiff.CompLzw, 6) -> "d4d79bae668693a49906dcc7eb32f1a0",
      (3, Tiff.CompLzw, H) -> "8fc24ceeb16f52127de6af2a726b6e8f")
    for (((channels, comp, h), md5) <- expected) {
      val pixels = plane(W * channels, h, channels)
      pin(s"tiff channels=$channels compression=$comp height=$h",
        Tiff.encode(W, h, channels, comp, pixels), md5)
    }
  }
}
