package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import java.nio.ByteBuffer

/** MP4 / ISO-BMFF metadata extraction — the container of every video
  * corpus (ISO/IEC 14496-12, the published base-media file format). A
  * multimodal pipeline triages video by CONTAINER metadata (duration,
  * frame count, dimensions, language) long before any codec runs, so
  * the box walk is the operator that matters at 100 TB: it reads a few
  * hundred header bytes per file and never touches the sample payload
  * beyond an accounting check.
  *
  * Reader: big-endian size+type box walk (top level in any order),
  * nested containers `moov → trak → mdia → minf → stbl`, leaf parses
  * for `mvhd tkhd mdhd hdlr stts stsz`, UNKNOWN boxes skipped by size
  * (the format's forward-compat rule — new boxes appear constantly);
  * 64-bit `largesize`, `size==0` (to-EOF), version-1 boxes, and a
  * `mdat` whose payload disagrees with the `stsz` accounting all
  * refuse loudly. Writer: a structurally valid minimal file — `ftyp`,
  * full `moov` tree (incl. a VisualSampleEntry `stsd`, `stsc`, `stco`
  * the reader deliberately skips), `mdat` sized to the sample table.
  */
object Mp4 {

  // ------------------------------------------------------------------
  // Writer
  // ------------------------------------------------------------------

  private def be32(v: Int): Array[Byte] =
    ByteBuffer.allocate(4).putInt(v).array()
  private def be16(v: Int): Array[Byte] =
    ByteBuffer.allocate(2).putShort(v.toShort).array()

  private def box(kind: String, payload: Array[Byte]*): Array[Byte] = {
    val total = 8 + payload.map(_.length).sum
    val out = ByteBuffer.allocate(total)
    out.putInt(total)
    out.put(kind.getBytes("ASCII"))
    payload.foreach(out.put)
    out.array()
  }

  /** Pack an ISO-639-2 code into mdhd's 3x5-bit field. */
  private[graft] def packLang(code: String): Int = {
    require(code.length == 3 && code.forall(c => c >= 'a' && c <= 'z'),
      s"not an ISO-639-2 code: $code")
    ((code(0) - 0x60) << 10) | ((code(1) - 0x60) << 5) | (code(2) - 0x60)
  }

  private[graft] def unpackLang(v: Int): String = {
    val chars = Array((v >> 10) & 0x1F, (v >> 5) & 0x1F, v & 0x1F)
    require(chars.forall(c => c >= 1 && c <= 26),
      s"mdhd language field out of the a-z range: $v")
    new String(chars.map(c => (c + 0x60).toChar))
  }

  /** Per-sample size rule shared with the q403 oracle. */
  private[graft] def sampleSize(i: Int): Int = 64 + (i * 7) % 128

  final case class VideoMeta(frames: Int, delta: Int, timescale: Int,
    width: Int, height: Int, lang: String)

  /** Build a minimal structurally-valid MP4 for the given metadata.
    * Sample i has [[sampleSize]] bytes; mdat carries exactly the sum.
    */
  def encode(m: VideoMeta): Array[Byte] = {
    val duration = m.frames * m.delta
    val movieTimescale = 1000
    val movieDuration = (duration.toLong * 1000L / m.timescale).toInt
    val ftyp = box("ftyp", "isom".getBytes, be32(0x200),
      "isom".getBytes, "iso2".getBytes)
    val mvhd = box("mvhd", be32(0), be32(0), be32(0),
      be32(movieTimescale), be32(movieDuration),
      be32(0x00010000), be16(0x0100), new Array[Byte](10),
      be32(0x00010000), be32(0), be32(0), be32(0), be32(0x00010000),
      be32(0), be32(0), be32(0), be32(0x40000000),
      new Array[Byte](24), be32(2))
    val tkhd = box("tkhd", be32(0x000007), be32(0), be32(0), be32(1),
      be32(0), be32(movieDuration), new Array[Byte](8),
      be16(0), be16(0), be16(0), be16(0),
      be32(0x00010000), be32(0), be32(0), be32(0), be32(0x00010000),
      be32(0), be32(0), be32(0), be32(0x40000000),
      be32(m.width << 16), be32(m.height << 16))
    val mdhd = box("mdhd", be32(0), be32(0), be32(0),
      be32(m.timescale), be32(duration), be16(packLang(m.lang)), be16(0))
    val hdlr = box("hdlr", be32(0), be32(0), "vide".getBytes,
      new Array[Byte](12), Array[Byte](0))
    val visual = {
      val b = ByteBuffer.allocate(86)
      b.putInt(86).put("mp4v".getBytes)
      b.put(new Array[Byte](6)).putShort(1) // data_ref_index
      b.putShort(0).putShort(0).put(new Array[Byte](12))
      b.putShort(m.width.toShort).putShort(m.height.toShort)
      b.putInt(0x00480000).putInt(0x00480000).putInt(0)
      b.putShort(1).put(new Array[Byte](32))
      b.putShort(24).putShort(-1)
      b.array()
    }
    val stsd = box("stsd", be32(0), be32(1), visual)
    val stts = box("stts", be32(0), be32(1), be32(m.frames), be32(m.delta))
    val sizes = (0 until m.frames).map(sampleSize)
    val stsz = box("stsz", be32(0), be32(0), be32(m.frames),
      sizes.flatMap(be32(_)).toArray)
    val stsc = box("stsc", be32(0), be32(1), be32(1),
      be32(math.max(m.frames, 1)), be32(1))
    // stco's offset is not consumed by decode (skipped leaf); a single
    // placeholder chunk entry keeps the table structurally present
    val stbl = box("stbl", stsd, stts, stsc, stsz,
      box("stco", be32(0), be32(1), be32(0)))
    val minf = box("minf", box("vmhd", be32(1), new Array[Byte](8)),
      stbl)
    val mdia = box("mdia", mdhd, hdlr, minf)
    val trak = box("trak", tkhd, mdia)
    val moov = box("moov", mvhd, trak)
    val mdat = box("mdat", new Array[Byte](sizes.sum))
    val out = ByteBuffer.allocate(ftyp.length + moov.length + mdat.length)
    out.put(ftyp).put(moov).put(mdat)
    out.array()
  }

  // ------------------------------------------------------------------
  // Reader
  // ------------------------------------------------------------------

  final case class Mp4Meta(brand: String, timescale: Int, frames: Int,
    durationMs: Long, width: Int, height: Int, lang: String,
    sampleBytes: Long)

  private final class Boxes(b: Array[Byte], start: Int, end: Int) {
    var pos: Int = start
    def hasMore: Boolean = pos < end
    /** Returns (type, payloadStart, payloadEnd) and advances. */
    def next(): (String, Int, Int) = {
      require(pos + 8 <= end, s"truncated box header at $pos")
      val size = ByteBuffer.wrap(b, pos, 4).getInt
      val kind = new String(b, pos + 4, 4, "ASCII")
      require(size != 1, s"64-bit largesize box '$kind' unsupported")
      require(size != 0, s"to-EOF box '$kind' unsupported")
      require(size >= 8 && pos + size <= end,
        s"box '$kind' of $size bytes overruns its container")
      val r = (kind, pos + 8, pos + size)
      pos += size
      r
    }
  }

  private def fullBoxV0(b: Array[Byte], s: Int, kind: String): Int = {
    require(s + 4 <= b.length, s"truncated $kind")
    require(b(s) == 0, s"$kind version ${b(s)} unsupported (need 0)")
    s + 4
  }

  /** Parse one MP4: top-level walk in any order, required boxes
    * enforced, sample accounting checked against mdat.
    */
  def decode(bytes: Array[Byte]): Mp4Meta = {
    var brand: Option[String] = None
    var timescale = -1
    var duration = -1
    var width = -1
    var height = -1
    var lang: Option[String] = None
    var frames = -1
    var sttsTicks = -1L
    var sampleBytes = -1L
    var mdatLen = -1L
    var handler: Option[String] = None

    def bb(s: Int, len: Int) = ByteBuffer.wrap(bytes, s, len)

    def walkStbl(s: Int, e: Int): Unit = {
      val it = new Boxes(bytes, s, e)
      while (it.hasMore) it.next() match {
        case ("stts", ps, pe) =>
          val p = fullBoxV0(bytes, ps, "stts")
          val n = bb(p, 4).getInt
          require(p + 4 + 8L * n <= pe, "stts entries overrun the box")
          var i = 0
          var cnt = 0L
          var ticks = 0L
          while (i < n) {
            val c = bb(p + 4 + 8 * i, 4).getInt
            val d = bb(p + 8 + 8 * i, 4).getInt
            require(c >= 0 && d >= 0, "negative stts entry")
            cnt += c
            ticks += c.toLong * d
            i += 1
          }
          require(cnt <= Int.MaxValue, "stts sample count overflow")
          frames = cnt.toInt
          sttsTicks = ticks
        case ("stsz", ps, pe) =>
          val p = fullBoxV0(bytes, ps, "stsz")
          val uniform = bb(p, 4).getInt
          val n = bb(p + 4, 4).getInt
          if (uniform != 0) sampleBytes = uniform.toLong * n
          else {
            require(p + 8 + 4L * n <= pe, "stsz sizes overrun the box")
            var i = 0
            var total = 0L
            while (i < n) {
              total += bb(p + 8 + 4 * i, 4).getInt.toLong
              i += 1
            }
            sampleBytes = total
          }
        case _ => () // stsd/stsc/stco/...: skipped, the format's rule
      }
    }

    def walk(kind: String, s: Int, e: Int): Unit = kind match {
      case "moov" | "trak" | "mdia" | "minf" =>
        val it = new Boxes(bytes, s, e)
        while (it.hasMore) {
          val (k, ps, pe) = it.next()
          k match {
            case "mvhd" =>
              fullBoxV0(bytes, ps, "mvhd") // movie-level; media wins below
            case "tkhd" =>
              fullBoxV0(bytes, ps, "tkhd")
              width = bb(pe - 8, 4).getInt >>> 16
              height = bb(pe - 4, 4).getInt >>> 16
            case "mdhd" =>
              val p = fullBoxV0(bytes, ps, "mdhd")
              // media timescale overrides the movie one for duration
              timescale = bb(p + 8, 4).getInt
              duration = bb(p + 12, 4).getInt
              lang = Some(unpackLang(bb(p + 16, 2).getShort & 0xFFFF))
            case "hdlr" =>
              val p = fullBoxV0(bytes, ps, "hdlr")
              handler = Some(new String(bytes, p + 4, 4, "ASCII"))
            case "stbl" => walkStbl(ps, pe)
            case "trak" | "mdia" | "minf" => walk(k, ps, pe)
            case _ => () // unknown: skip
          }
        }
      case _ => ()
    }

    val top = new Boxes(bytes, 0, bytes.length)
    while (top.hasMore) {
      val (k, ps, pe) = top.next()
      k match {
        case "ftyp" =>
          require(pe - ps >= 8, "ftyp too short")
          brand = Some(new String(bytes, ps, 4, "ASCII"))
        case "moov" => walk("moov", ps, pe)
        case "mdat" => mdatLen = (pe - ps).toLong
        case _ => () // free/skip/uuid...: skipped
      }
    }
    require(brand.nonEmpty, "no ftyp box")
    require(timescale > 0 && duration >= 0, "no mdhd box")
    require(frames >= 0, "no stts box")
    require(sampleBytes >= 0, "no stsz box")
    require(width >= 0, "no tkhd box")
    require(handler.contains("vide"),
      s"track handler ${handler.getOrElse("absent")}, expected vide")
    require(sttsTicks == duration.toLong,
      s"stts ticks $sttsTicks disagree with mdhd duration $duration")
    require(mdatLen == sampleBytes,
      s"mdat payload $mdatLen bytes vs stsz accounting $sampleBytes")
    Mp4Meta(brand.get, timescale, frames,
      duration.toLong * 1000L / timescale, width, height, lang.get,
      sampleBytes)
  }

  // ------------------------------------------------------------------
  // Dataset operators
  // ------------------------------------------------------------------

  /** Render the documents table as MP4 containers by the fixture rule:
    * one frame per word, all header fields id-derived arithmetic the
    * q403 oracle replays.
    */
  def asVideoDocs(docs: DataFrame): DataFrame = {
    Multimodal.perDocument(Parallelism.ensure(docs)) { rows =>
      rows.map { case (id, text) =>
        val langs = Array("eng", "und", "fra", "deu")
        val m = VideoMeta(
          frames = text.split(" ", -1).length,
          delta = 24 + (id % 7).toInt,
          timescale = 600 + (id % 3).toInt * 300,
          width = 160 + (id % 5).toInt * 32,
          height = 120 + (id % 4).toInt * 24,
          lang = langs((id % 4).toInt))
        (id, encode(m))
      }
    }.toDF("doc_id", "mp4")
  }

  final case class VideoRow(doc_id: Long, brand: String, timescale: Int,
    n_frames: Int, duration_ms: Long, width: Int, height: Int,
    lang: String, sample_bytes: Long)

  /** Distributed metadata extraction over the binary column. */
  def extractMeta(vids: DataFrame): Dataset[VideoRow] = {
    import vids.sparkSession.implicits._
    vids.select(col("doc_id"), col("mp4"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val m = decode(bytes)
          VideoRow(id, m.brand, m.timescale, m.frames, m.durationMs,
            m.width, m.height, m.lang, m.sampleBytes)
        }
      }
  }
}
