package graft.operators

import graft.functions.Digest
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import java.nio.{ByteBuffer, ByteOrder}

/** Ogg container + Vorbis header metadata — the framing of speech and
  * music corpora (RFC 3533 pages; Vorbis I identification and comment
  * headers). Audio triage at corpus scale is container-level: sample
  * rate, channels, duration (the last granule position), and the
  * VorbisComment tags — none of which needs a codec.
  *
  * Reader: page walk verifying EVERY page's CRC (the Ogg CRC-32:
  * polynomial 0x04C11DB7, non-reflected, init 0, no final xor,
  * computed with the checksum field zeroed), capture pattern and
  * version checks, lacing-table packet reassembly INCLUDING packets
  * spanning pages (a 255 lacing value continues the packet), BOS/EOS
  * flags, then parses the `\x01vorbis` identification header
  * (channels, sample rate) and the `\x03vorbis` comment header
  * (vendor + KEY=value list, little-endian length prefixes, framing
  * bit required). Truncation, CRC mismatch, bad capture, or a
  * malformed header refuses loudly.
  */
object Ogg {

  // ------------------------------------------------------------------
  // Ogg CRC
  // ------------------------------------------------------------------

  private val CrcTable: Array[Int] = {
    val t = new Array[Int](256)
    var n = 0
    while (n < 256) {
      var r = n << 24
      var k = 0
      while (k < 8) {
        r = if ((r & 0x80000000) != 0) (r << 1) ^ 0x04C11DB7 else r << 1
        k += 1
      }
      t(n) = r
      n += 1
    }
    t
  }

  private[graft] def crc(b: Array[Byte], off: Int, len: Int): Int = {
    var r = 0
    var i = off
    val end = off + len
    while (i < end) {
      r = (r << 8) ^ CrcTable(((r >>> 24) ^ (b(i) & 0xFF)) & 0xFF)
      i += 1
    }
    r
  }

  // ------------------------------------------------------------------
  // Writer
  // ------------------------------------------------------------------

  private def lePut(bb: ByteBuffer, v: Long): Unit = bb.putLong(v)

  /** Build one Ogg page. `packetChunk` is this page's payload;
    * `lacing` its segment table.
    */
  private def page(headerType: Int, granule: Long, serial: Int,
    seq: Int, lacing: Array[Int], payload: Array[Byte]): Array[Byte] = {
    require(lacing.length <= 255, "too many lacing values for one page")
    val out = ByteBuffer.allocate(27 + lacing.length + payload.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    out.put("OggS".getBytes("ASCII")).put(0.toByte)
      .put(headerType.toByte)
    lePut(out, granule)
    out.putInt(serial).putInt(seq).putInt(0) // CRC zeroed for the pass
    out.put(lacing.length.toByte)
    lacing.foreach(v => out.put(v.toByte))
    out.put(payload)
    val bytes = out.array()
    val c = crc(bytes, 0, bytes.length)
    ByteBuffer.wrap(bytes, 22, 4).order(ByteOrder.LITTLE_ENDIAN).putInt(c)
    bytes
  }

  private def lacingFor(packetLens: Seq[Int]): Array[Int] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    packetLens.foreach { len =>
      var rem = len
      while (rem >= 255) { out += 255; rem -= 255 }
      out += rem // the terminating short segment (0 for exact multiples)
    }
    out.toArray
  }

  private def identPacket(channels: Int, sampleRate: Int): Array[Byte] = {
    val bb = ByteBuffer.allocate(30).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(1.toByte).put("vorbis".getBytes("ASCII"))
    bb.putInt(0) // vorbis_version
    bb.put(channels.toByte)
    bb.putInt(sampleRate)
    bb.putInt(0).putInt(0).putInt(0) // bitrate max/nominal/min
    bb.put(0xB8.toByte) // blocksizes (2^8, 2^11)
    bb.put(1.toByte) // framing bit
    bb.array()
  }

  private def commentPacket(vendor: String,
    comments: Seq[String]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(3)
    out.write("vorbis".getBytes("ASCII"))
    def str(s: String): Unit = {
      val b = s.getBytes("UTF-8")
      val lb = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
        .putInt(b.length).array()
      out.write(lb, 0, 4)
      out.write(b, 0, b.length)
    }
    str(vendor)
    val cb = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(comments.length).array()
    out.write(cb, 0, 4)
    comments.foreach(str)
    out.write(1) // framing bit
    out.toByteArray
  }

  final case class OggMeta(serial: Int, channels: Int, sampleRate: Int,
    vendor: String, comments: Seq[String], lastGranule: Long, pages: Int)

  /** Render one logical stream: BOS page with the identification
    * header, a comment-header page (the packet may span pages via 255
    * lacing), then `audioPages` opaque pages with rising granules and
    * an EOS flag on the last.
    */
  def encode(m: OggMeta, audioPages: Int,
    granuleStep: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val ident = identPacket(m.channels, m.sampleRate)
    out.write(page(0x02, 0L, m.serial, 0, lacingFor(Seq(ident.length)),
      ident))
    val comment = commentPacket(m.vendor, m.comments)
    out.write(page(0x00, 0L, m.serial, 1,
      lacingFor(Seq(comment.length)), comment))
    var seq = 2
    var granule = 0L
    (0 until audioPages).foreach { i =>
      granule += granuleStep
      val payload = Array.tabulate[Byte](20)(j => ((i * 7 + j) & 0xFF).toByte)
      val flags = if (i == audioPages - 1) 0x04 else 0x00
      out.write(page(flags, granule, m.serial, seq,
        lacingFor(Seq(payload.length)), payload))
      seq += 1
    }
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // Reader
  // ------------------------------------------------------------------

  /** Walk all pages; returns reassembled packets + the final granule +
    * page count. CRC verified per page.
    */
  private[graft] def walkPages(b: Array[Byte]): (Seq[Array[Byte]], Long, Int, Int) = {
    var pos = 0
    var serial = Integer.MIN_VALUE
    var lastGranule = 0L
    var pages = 0
    var sawEos = false
    val packets = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    val current = new java.io.ByteArrayOutputStream()
    var open = false
    while (pos < b.length) {
      require(!sawEos, "data after the EOS page")
      require(pos + 27 <= b.length, "truncated ogg page header")
      require(new String(b, pos, 4, "ASCII") == "OggS",
        s"bad capture pattern at $pos")
      require(b(pos + 4) == 0, s"ogg version ${b(pos + 4)} unsupported")
      val flags = b(pos + 5) & 0xFF
      val bb = ByteBuffer.wrap(b, pos + 6, 21).order(ByteOrder.LITTLE_ENDIAN)
      val granule = bb.getLong
      val ser = bb.getInt
      bb.getInt // page sequence
      val storedCrc = bb.getInt
      val nSegs = bb.get() & 0xFF
      require(pos + 27 + nSegs <= b.length, "truncated lacing table")
      val lacing = (0 until nSegs).map(i => b(pos + 27 + i) & 0xFF)
      val bodyLen = lacing.sum
      val pageLen = 27 + nSegs + bodyLen
      require(pos + pageLen <= b.length, "truncated ogg page body")
      // CRC: whole page with the checksum field zeroed
      val copy = java.util.Arrays.copyOfRange(b, pos, pos + pageLen)
      copy(22) = 0; copy(23) = 0; copy(24) = 0; copy(25) = 0
      require(crc(copy, 0, copy.length) == storedCrc,
        s"ogg page CRC mismatch at $pos")
      if (serial == Integer.MIN_VALUE) serial = ser
      else require(ser == serial, "multiplexed streams unsupported")
      if ((flags & 0x01) != 0)
        require(open, "continuation flag without an open packet")
      var off = pos + 27 + nSegs
      lacing.foreach { l =>
        current.write(b, off, l)
        off += l
        open = true
        if (l < 255) { // packet ends here
          packets += current.toByteArray
          current.reset()
          open = false
        }
      }
      if (granule != -1L) lastGranule = granule
      if ((flags & 0x04) != 0) sawEos = true
      pages += 1
      pos += pageLen
    }
    require(sawEos, "stream without an EOS page")
    require(!open, "stream ends mid-packet")
    (packets.toSeq, lastGranule, pages, serial)
  }

  /** Parse the stream: pages, then the two Vorbis headers. */
  def decode(b: Array[Byte]): OggMeta = {
    val (packets, lastGranule, pages, serial) = walkPages(b)
    require(packets.length >= 2, "missing vorbis header packets")
    val ident = packets.head
    require(ident.length >= 30 && ident(0) == 1 &&
      new String(ident, 1, 6, "ASCII") == "vorbis",
      "first packet is not a vorbis identification header")
    val ib = ByteBuffer.wrap(ident, 7, ident.length - 7)
      .order(ByteOrder.LITTLE_ENDIAN)
    require(ib.getInt == 0, "vorbis_version must be 0")
    val channels = ib.get() & 0xFF
    val sampleRate = ib.getInt
    val com = packets(1)
    require(com.length >= 7 && com(0) == 3 &&
      new String(com, 1, 6, "ASCII") == "vorbis",
      "second packet is not a vorbis comment header")
    val cb = ByteBuffer.wrap(com, 7, com.length - 7)
      .order(ByteOrder.LITTLE_ENDIAN)
    def str(): String = {
      val len = cb.getInt
      require(len >= 0 && cb.remaining() >= len,
        "comment string overruns the packet")
      val out = new Array[Byte](len)
      cb.get(out)
      new String(out, "UTF-8")
    }
    val vendor = str()
    val n = cb.getInt
    require(n >= 0 && n < (1 << 20), s"implausible comment count $n")
    val comments = (0 until n).map(_ => str())
    require(cb.remaining() >= 1 && (cb.get() & 0x01) == 1,
      "comment header framing bit missing")
    OggMeta(serial, channels, sampleRate, vendor, comments, lastGranule,
      pages)
  }

  // ------------------------------------------------------------------
  // Dataset operators
  // ------------------------------------------------------------------

  /** Render the documents table as Ogg/Vorbis streams by the fixture
    * rule (fields id-derived; one audio page per 16-word group at 64
    * granules each; a LONG comment so the header packet exercises the
    * 255-lacing span on some ids).
    */
  def asOggDocs(docs: DataFrame): DataFrame = {
    Multimodal.perDocument(Parallelism.ensure(docs)) { rows =>
      rows.map { case (id, text) =>
        val nWords = text.split(" ", -1).length
        val audioPages = math.max(1, (nWords + 15) / 16)
        val langs = Array("eng", "und", "fra", "deu")
        val comments = Seq(
          s"TITLE=doc $id",
          s"ARTIST=writer ${id % 7}",
          s"LANGUAGE=${langs((id % 4).toInt)}",
          // 300 x's: the comment packet tops 255 bytes and spans
          // lacing segments — the reassembly path is always live
          "PAD=" + ("x" * 300))
        val m = OggMeta(
          serial = (id & 0x7FFFFFFF).toInt,
          channels = 1 + (id % 2).toInt,
          sampleRate = 8000 * (1 + (id % 5).toInt),
          vendor = "graft-0.1",
          comments = comments,
          lastGranule = 0L, pages = 0)
        (id, encode(m, audioPages, 64L * 16))
      }
    }.toDF("doc_id", "ogg")
  }

  final case class OggRow(doc_id: Long, serial: Int, channels: Int,
    sample_rate: Int, vendor: String, n_comments: Int,
    comments_md5: String, last_granule: Long, n_pages: Int)

  /** Distributed metadata extraction over the binary column. */
  def extractMeta(oggs: DataFrame): Dataset[OggRow] = {
    import oggs.sparkSession.implicits._
    oggs.select(col("doc_id"), col("ogg"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val m = decode(bytes)
          OggRow(id, m.serial, m.channels, m.sampleRate, m.vendor,
            m.comments.size, Digest.md5Hex(m.comments.mkString("\n")),
            m.lastGranule, m.pages)
        }
      }
  }
}
