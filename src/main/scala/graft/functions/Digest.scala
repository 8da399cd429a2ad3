package graft.functions

import java.security.MessageDigest

/** The one MD5 and lowercase-hex helper the codecs, readers and writers
  * share. Every digest column in the engine is the lowercase hex of an
  * MD5 (DuckDB's `md5()` text form), so one formatter and one digest
  * source keep them byte-identical.
  */
object Digest {

  private val HexChars = "0123456789abcdef".toCharArray

  // MessageDigest is stateful; one per thread serves the one-shot calls
  private val perThread = ThreadLocal.withInitial[MessageDigest](() => md5())

  /** A fresh MD5 instance, for callers that `update` incrementally. */
  def md5(): MessageDigest = MessageDigest.getInstance("MD5")

  /** The 16-byte MD5 of `bytes`. */
  def md5(bytes: Array[Byte]): Array[Byte] = perThread.get.digest(bytes)

  /** Lowercase hex of `bytes`, two characters per byte. */
  def hex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(2 * i) = HexChars((bytes(i) >> 4) & 0xf)
      out(2 * i + 1) = HexChars(bytes(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Lowercase-hex MD5 of `bytes`. */
  def md5Hex(bytes: Array[Byte]): String = hex(md5(bytes))

  /** Lowercase-hex MD5 of `s`'s UTF-8 bytes. */
  def md5Hex(s: String): String = md5Hex(s.getBytes("UTF-8"))

  /** The decoded-pixel digest of the media decode passes: the
    * lowercase-hex MD5 of the lowercase-hex DUMP of `bytes`, and the sum
    * of the bytes read unsigned. The oracle can only hash strings, and
    * channel values above 127 would be multi-byte UTF-8 in a DuckDB
    * string, so both engines hash the ASCII hex text instead.
    */
  def hexDumpDigest(bytes: Array[Byte]): (String, Long) = {
    val dump = new Array[Byte](bytes.length * 2)
    var sum = 0L
    var i = 0
    while (i < bytes.length) {
      val v = bytes(i) & 0xff
      dump(2 * i) = HexChars(v >> 4).toByte
      dump(2 * i + 1) = HexChars(v & 0xf).toByte
      sum += v
      i += 1
    }
    (md5Hex(dump), sum)
  }
}
