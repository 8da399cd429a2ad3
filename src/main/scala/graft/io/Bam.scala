package graft.io

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.ByteArrayInputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.US_ASCII
import java.util.zip.{CRC32, Deflater, GZIPInputStream}

/** BAM binary source/sink (SURVEY.md S2/K5 completion; reference reads
  * real `.bam` via hadoop-bam at SQLQueryBAM.java:63-66 and writes with a
  * broadcast header at HDFSWriter.java:62-107).
  *
  * Implemented from the PUBLIC SAM v1 specification only (§4: BGZF
  * framing, §4.2: alignment record layout) — no htsjdk/hadoop-bam:
  *  - BGZF is a series of standards-conformant gzip members (each with a
  *    BC extra subfield carrying the block size), so DECODING rides on
  *    `GZIPInputStream`, which consumes concatenated members natively;
  *  - ENCODING emits real BGZF: ≤64 KiB deflate blocks with the BC
  *    subfield plus the fixed 28-byte EOF sentinel block, so external
  *    spec-compliant tools can read what we write.
  *
  * Parallelism model: [[read]] and [[readRegion]] are the DataSourceV2
  * scan ([[graft.io.v2.BamSource]]), one task per byte range, planned
  * from the file listing alone. Each task reads its file's header, scans
  * to the first BGZF block magic in its range (chain-validated), aligns
  * to the first alignment-record start (exact offset for the header
  * range and for index chunks, a field-validated guess elsewhere — the
  * hadoop-bam split model the reference relies on at
  * SQLQueryBAM.java:63-66), and decodes exactly the records whose START
  * block lies inside the range, spilling into following blocks for its
  * tail record. A 300 GiB single BAM therefore fans out to thousands of
  * tasks instead of one. A single-member plain-gzip BAM (legal gzip, not
  * BGZF) has no block boundaries: its first range decodes the whole
  * stream. [[write]] emits one BAM per partition with the header
  * replicated into each file — exactly the reference's
  * KeyIgnoringBAMOutputFormat header-broadcast design, minus the
  * driver-side header mutation.
  */
object Bam {

  private[graft] type Rec = (String, Int, String, Int, Int, String, String, String)

  /** Default split size for [[readRegion]]. */
  private val DefaultSplitBytes: Long = 64L << 20

  /** Upper bound used when VALIDATING a guessed record start — a real
    * block_size/l_seq beyond this marks the guess as garbage.
    */
  private val MaxRecordBytes: Int = 1 << 26

  private val SeqCode = "=ACMGRSVTWYHKDBN"
  private val CigarOps = "MIDNSHP=X"
  private val CigarOpRe = "(\\d+)([MIDNSHP=X])".r

  /** Fixed BGZF end-of-file sentinel block (SAM spec §4.1.2). */
  private val BgzfEof: Array[Byte] = Array(
    0x1f, 0x8b, 0x08, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00, 0xff, 0x06, 0x00,
    0x42, 0x43, 0x02, 0x00, 0x1b, 0x00, 0x03, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00).map(_.toByte)

  // ---------- read ----------

  /** Read BAM files (a file, a directory of `.bam` files or a glob) into
    * the same typed alignment shape as [[SamText.read]] (readName, flag,
    * referenceName, start, mapq, cigar, bases, quality + derived
    * length/flag-bit columns), so the two sources are drop-in
    * interchangeable.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    withDerivedCols(spark.read.format("bam").load(path))

  private def withDerivedCols(rows: DataFrame): DataFrame =
    rows
      .withColumn("length", length(col("bases")))
      .withColumn("readUnmapped", SamText.flagBit(col("flag"), 4))
      .withColumn("duplicateRead", SamText.flagBit(col("flag"), 1024))
      .withColumn("firstOfPair", SamText.flagBit(col("flag"), 64))
      .withColumn("secondOfPair", SamText.flagBit(col("flag"), 128))

  /** The BAM files under `path`: the globbed files themselves, and the
    * `.bam` children of globbed directories (a sibling `.bai` is never
    * data). Throws `FileNotFoundException` when nothing matches.
    */
  private[graft] def listBams(spark: SparkSession, path: String): Seq[(String, Long)] =
    Fastq.listFiles(spark, path, _.endsWith(".bam"))

  /** Decode one whole BAM stream (gzip members → uncompressed BAM →
    * records): the reader of plain-gzip files, and the independent
    * decoder the spec fixtures check the split reader against.
    */
  private[graft] def parseBam(bam: Array[Byte])
      : Iterator[(String, Int, String, Int, Int, String, String, String)] = {
    val data = new GZIPInputStream(new ByteArrayInputStream(bam)).readAllBytes()
    val bb = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    val magic = new Array[Byte](4)
    bb.get(magic)
    require(new String(magic, 0, 3, US_ASCII) == "BAM" && magic(3) == 1,
      "not a BAM file (bad magic)")
    val lText = bb.getInt
    bb.position(bb.position() + lText) // SAM-text header (schema is binary)
    val nRef = bb.getInt
    val refs = (0 until nRef).map { _ =>
      val lName = bb.getInt
      val nameBytes = new Array[Byte](lName)
      bb.get(nameBytes)
      bb.getInt // l_ref (sequence length, unused here)
      new String(nameBytes, 0, lName - 1, US_ASCII) // strip NUL
    }

    new Iterator[Rec] {
      override def hasNext: Boolean = bb.remaining() >= 4
      override def next(): Rec = decodeOneRecord(bb, refs)
    }
  }

  /** Decode ONE alignment record from `bb` positioned at its block_size
    * field; leaves the buffer positioned after the record's tags. Shared
    * by [[parseBam]] and the range decoder.
    */
  private def decodeOneRecord(bb: ByteBuffer, refs: IndexedSeq[String]): Rec = {
    val blockSize = bb.getInt
    val end = bb.position() + blockSize
    val refID = bb.getInt
    val pos = bb.getInt // 0-based; -1 when unmapped
    val lReadName = bb.get() & 0xff
    val mapq = bb.get() & 0xff
    bb.getShort // bin (index hint, unused)
    val nCigar = bb.getShort & 0xffff
    val flag = bb.getShort & 0xffff
    val lSeq = bb.getInt
    bb.getInt; bb.getInt; bb.getInt // next_refID, next_pos, tlen
    val nameBytes = new Array[Byte](lReadName)
    bb.get(nameBytes)
    val name = new String(nameBytes, 0, lReadName - 1, US_ASCII)
    val cigar =
      if (nCigar == 0) "*"
      else (0 until nCigar).map { _ =>
        val v = bb.getInt
        s"${v >>> 4}${CigarOps(v & 0xf)}"
      }.mkString
    val seqBytes = new Array[Byte]((lSeq + 1) / 2)
    bb.get(seqBytes)
    val bases =
      if (lSeq == 0) "*"
      else {
        val sb = new StringBuilder(lSeq)
        var i = 0
        while (i < lSeq) {
          val b = seqBytes(i / 2) & 0xff
          sb.append(SeqCode(if (i % 2 == 0) b >>> 4 else b & 0xf))
          i += 1
        }
        sb.toString
      }
    val qualBytes = new Array[Byte](lSeq)
    bb.get(qualBytes)
    val quality =
      if (lSeq == 0 || (qualBytes(0) & 0xff) == 0xff) "*"
      else {
        val sb = new StringBuilder(lSeq)
        qualBytes.foreach(q => sb.append((q + 33).toChar))
        sb.toString
      }
    bb.position(end) // skip optional tags
    val refName = if (refID < 0 || refID >= refs.length) "*" else refs(refID)
    (name, flag, refName, pos + 1, mapq, cigar, bases, quality)
  }

  // ---------- region read ----------

  /** Region query `rname:[start,end]` (1-based inclusive, SAM
    * convention) over a COORDINATE-SORTED BAM: [[read]] with the scan's
    * `region`, `splitBytes` and `maxSpan` options. Beyond the reference's
    * surface (SQLQueryBAM.java reads whole files), the scan plans only
    * the byte ranges that can hold region records and keeps each record
    * whose reference span overlaps the region.
    *
    * INDEXED path: when every input file has a sibling `.bai` (written by
    * [[write]] with `index = true`, or any conformant indexer), pruning
    * comes from the index ([[baiRegionPlan]]) — bin chunks ∩ linear-index
    * lower bound, no probe pass, and long-spanning records are bounded
    * EXACTLY by their bins.
    *
    * PROBE path otherwise ([[regionPlan]]): a cheap distributed probe
    * decodes ONE record per byte range to learn the range's first
    * (refId, pos); a range survives only if its [first-key,
    * next-range-first-key] interval can overlap the region, so the BGZF
    * blocks of pruned ranges are never inflated by the decode job.
    * `maxSpan` plays the BAI linear index's role for records that START
    * before the region but span into it: the region lower bound is
    * extended by maxSpan, and records longer than maxSpan starting more
    * than maxSpan before `start` may be missed (the same granularity
    * contract an index chunk gives).
    *
    * Sortedness detection: the @HD SO header tag is AUTHORITATIVE when
    * present — `SO:coordinate` enables pruning (cross-checked against
    * the probe keys: if they contradict the header, every range is
    * kept), any other declared SO disables it (full scan + filter,
    * correct but unpruned). When no SO tag is declared the probe keys
    * alone decide, and that path is BEST-EFFORT: the probe sees only
    * the FIRST record of each byte range, so a file sorted across
    * ranges but shuffled within them is indistinguishable from sorted
    * and would be pruned incorrectly — write coordinate-sorted BAMs
    * with `sortOrder = Some("coordinate")` (or an SO-tagging tool) to
    * get the guaranteed path.
    */
  def readRegion(spark: SparkSession, path: String, rname: String,
                 start: Int, end: Int,
                 splitBytes: Long = DefaultSplitBytes,
                 maxSpan: Int = 16384): DataFrame =
    withDerivedCols(spark.read.format("bam")
      .option("region", s"$rname:$start-$end")
      .option("splitBytes", splitBytes.toString)
      .option("maxSpan", maxSpan.toString)
      .load(path))

  /** The .bai half of region planning: when EVERY input file has a
    * sibling `<file>.bai`, the region's merged chunk list
    * ([[Bai.chunksFor]]) as decode ranges (path, compressed start,
    * compressed end, uoffset of the first record), plus the per-file
    * header metas. Each chunk starts at its exact virtual offset
    * (block-aligned merging guarantees no record decodes twice). None
    * when any input file lacks an index: the caller falls back to
    * [[regionPlan]].
    */
  private[graft] def baiRegionPlan(spark: SparkSession, path: String,
      rname: String, start: Int, end: Int)
      : Option[(Map[String, HeaderMeta], Seq[(String, Long, Long, Int)])] = {
    val files = listBams(spark, path)
    if (files.isEmpty) return None
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!files.forall { case (p, _) =>
      fs.exists(new org.apache.hadoop.fs.Path(p + ".bai")) &&
        isBgzf(fs, new org.apache.hadoop.fs.Path(p)) }) return None
    val metas: Map[String, HeaderMeta] = files.map { case (p, _) =>
      p -> readHeaderMeta(fs, new org.apache.hadoop.fs.Path(p))
    }.toMap
    val ranges: Seq[(String, Long, Long, Int)] = files.flatMap { case (p, _) =>
      val rid = metas(p)._1.indexOf(rname)
      if (rid < 0) Seq.empty
      else {
        val in = fs.open(new org.apache.hadoop.fs.Path(p + ".bai"))
        val idx = try Bai.parse(in.readAllBytes()) finally in.close()
        Bai.chunksFor(idx, rid, start - 1, end).map { c =>
          (p, c.beg >>> 16, (c.end >>> 16) + 1, (c.beg & 0xffff).toInt)
        }
      }
    }
    Some((metas, ranges))
  }

  private def lexLe(a: (Int, Int), b: (Int, Int)): Boolean =
    a._1 < b._1 || (a._1 == b._1 && a._2 <= b._2)

  /** The probe half of region planning (see [[readRegion]]): returns
    * (all ranges, surviving ranges, per-file header meta). A plain-gzip
    * (non-BGZF) file has no block boundaries to probe or prune: it
    * plans as its one whole range, which the scan decodes in one pass
    * and filters per record, and it has no header meta here.
    */
  private[graft] def regionPlan(spark: SparkSession, path: String,
      rname: String, start: Int, end: Int, splitBytes: Long, maxSpan: Int)
      : (Seq[(String, Long, Long)], Seq[(String, Long, Long)],
         Map[String, HeaderMeta]) = {
    require(splitBytes >= (1 << 16), s"splitBytes must be >= 64 KiB, got $splitBytes")
    val files = listBams(spark, path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metas: Map[String, HeaderMeta] = files.collect {
      case (p, _) if isBgzf(fs, new org.apache.hadoop.fs.Path(p)) =>
        p -> readHeaderMeta(fs, new org.apache.hadoop.fs.Path(p))
    }.toMap
    val ranges: Seq[(String, Long, Long)] = files.flatMap { case (p, len) =>
      if (!metas.contains(p)) Seq((p, 0L, len))
      else (0L until len by splitBytes).map(s => (p, s, math.min(s + splitBytes, len)))
    }
    val probed = ranges.filter(r => metas.contains(r._1))
    val conf = new HadoopConfCarrier(spark.sparkContext.hadoopConfiguration)
    // distributed probe: decode exactly ONE record per range (a couple
    // of blocks each); unmapped/unknown refs key as MaxValue — the slot
    // coordinate sort gives them (end of file)
    val probes: Map[(String, Long), Option[(Int, Int)]] =
      if (probed.isEmpty) Map.empty
      else spark.sparkContext.parallelize(probed, probed.size)
        .map { case (p, s, e) =>
          val (refs, fb, fo, _) = metas(p)
          val refIdx = refs.zipWithIndex.toMap
          val it = decodeRange(conf.toConf, p, s, e, refs, fb, fo)
          val first =
            if (it.hasNext) {
              val r = it.next()
              Some((refIdx.getOrElse(r._3, Int.MaxValue), r._4))
            } else None
          closeEarly(it)
          ((p, s), first)
        }.collect().toMap
    // one pass over the ranges list (grouped per file), and the
    // next-defined-key lookup precomputed as a suffix scan — both
    // linear in |ranges|, so planning stays cheap at millions of ranges
    val byFile = ranges.groupBy(_._1)
    val surviving = files.flatMap { case (p, _) =>
      val frs = byFile.getOrElse(p, Seq.empty)
      val los = frs.map(r => probes.getOrElse((p, r._2), None))
      val defined = los.flatten
      val probesMonotone = defined.size < 2 ||
        defined.sliding(2).forall {
          case Seq(a, b) => lexLe(a, b)
          case _ => true
        }
      // Pruning policy (see readRegion scaladoc): the @HD SO tag is
      // AUTHORITATIVE when present — SO:coordinate allows pruning (the
      // probe must still agree: a header lying about sortedness would
      // otherwise drop records), any other declared SO forbids it. With
      // no SO declared, the probe alone decides — BEST-EFFORT: it sees
      // one record per byte range, so a file unsorted only WITHIN
      // ranges passes undetected. A plain-gzip file has no meta: its
      // one range is kept.
      val isSorted = metas.get(p).exists(_._4 match {
        case Some("coordinate") => probesMonotone
        case Some(_) => false
        case None => probesMonotone
      })
      lazy val refIdx = metas(p)._1.zipWithIndex.toMap
      if (!isSorted) frs // unsorted: keep all (scan + filter, no pruning)
      else if (!refIdx.contains(rname)) Seq.empty // unknown ref: no rows
      else {
        val ri = refIdx(rname)
        val regionLo = (ri, math.max(1, start - maxSpan))
        val regionHi = (ri, end)
        // nextDefined(i) = first defined key at index > i
        val nextDefined = new Array[(Int, Int)](los.length)
        var nxt = (Int.MaxValue, Int.MaxValue)
        for (i <- los.indices.reverse) {
          nextDefined(i) = nxt
          los(i).foreach(k => nxt = k)
        }
        frs.indices.flatMap { i =>
          los(i).flatMap { lo =>
            if (lexLe(lo, regionHi) && lexLe(regionLo, nextDefined(i)))
              Some(frs(i))
            else None
          }
        }
      }
    }
    (ranges, surviving, metas)
  }

  /** Walk the BC extra subfields of a BGZF member header; returns the
    * TOTAL block size (BSIZE+1) or -1 if `b(off..)` is not a valid BGZF
    * block header within `avail` bytes.
    */
  private def bgzfBlockSize(b: Array[Byte], off: Int, avail: Int): Int = {
    if (avail < 18) return -1
    if ((b(off) & 0xff) != 0x1f || (b(off + 1) & 0xff) != 0x8b ||
      b(off + 2) != 8 || (b(off + 3) & 0x04) == 0) return -1
    val xlen = (b(off + 10) & 0xff) | ((b(off + 11) & 0xff) << 8)
    if (avail < 12 + xlen) return -1
    var p = off + 12
    val endX = off + 12 + xlen
    while (p + 4 <= endX) {
      val slen = (b(p + 2) & 0xff) | ((b(p + 3) & 0xff) << 8)
      if ((b(p) & 0xff) == 'B' && (b(p + 1) & 0xff) == 'C' && slen == 2) {
        if (p + 6 > endX) return -1
        val bsize = ((b(p + 4) & 0xff) | ((b(p + 5) & 0xff) << 8)) + 1
        return if (bsize >= 12 + xlen + 8) bsize else -1
      }
      p += 4 + slen
    }
    -1
  }

  /** Sequential BGZF member reader over a seekable stream: yields
    * (compressed block offset, inflated payload) until EOF.
    */
  private final class BgzfCursor(in: org.apache.hadoop.fs.FSDataInputStream,
                                 startOffset: Long, fileLen: Long) {
    private var offset = startOffset
    private var seeked = false
    private val inflater = new java.util.zip.Inflater(true)

    /** Release the inflater's native zlib state deterministically —
      * thousands of range tasks would otherwise only free it at GC
      * finalization.
      */
    def close(): Unit = inflater.end()

    def next(): (Long, Array[Byte]) = {
      if (offset + 28 > fileLen) return null // nothing smaller than the EOF block fits
      if (!seeked) { in.seek(offset); seeked = true }
      val hdr = new Array[Byte](12)
      in.readFully(hdr, 0, 12)
      val xlen = (hdr(10) & 0xff) | ((hdr(11) & 0xff) << 8)
      require((hdr(0) & 0xff) == 0x1f && (hdr(1) & 0xff) == 0x8b &&
        hdr(2) == 8 && (hdr(3) & 0x04) != 0,
        s"not a BGZF block at offset $offset")
      val extra = new Array[Byte](xlen)
      in.readFully(extra, 0, xlen)
      val joined = hdr ++ extra
      val bsize = bgzfBlockSize(joined, 0, joined.length)
      require(bsize > 0, s"BGZF block at $offset lacks a valid BC subfield")
      val rest = new Array[Byte](bsize - 12 - xlen)
      in.readFully(rest, 0, rest.length)
      val isize = (rest(rest.length - 4) & 0xff) |
        ((rest(rest.length - 3) & 0xff) << 8) |
        ((rest(rest.length - 2) & 0xff) << 16) |
        ((rest(rest.length - 1) & 0xff) << 24)
      require(isize >= 0 && isize <= (1 << 17), s"implausible ISIZE $isize at $offset")
      val out = new Array[Byte](isize)
      if (isize > 0) {
        inflater.reset()
        inflater.setInput(rest, 0, rest.length - 8)
        var n = 0
        while (n < isize) {
          val k = inflater.inflate(out, n, isize - n)
          require(k > 0, s"bad deflate stream in BGZF block at $offset")
          n += k
        }
      }
      val o = offset
      offset += bsize
      (o, out)
    }
  }

  /** Per-file header metadata: (reference names, BGZF block offset of
    * the first record, offset within that block, @HD SO tag value if
    * declared). The SO tag drives region-query pruning policy — see
    * [[readRegion]].
    */
  private[graft] type HeaderMeta = (IndexedSeq[String], Long, Int, Option[String])

  /** Parse one file's header. A record-less BAM reports
    * firstBlock = Long.MaxValue, so every range of it decodes nothing.
    */
  private def readHeaderMeta(fs: org.apache.hadoop.fs.FileSystem,
                             path: org.apache.hadoop.fs.Path)
      : HeaderMeta = {
    val len = fs.getFileStatus(path).getLen
    val in = fs.open(path)
    val cursor = new BgzfCursor(in, 0, len)
    try {
      var data = new Array[Byte](0)
      val starts = scala.collection.mutable.ArrayBuffer[(Int, Int, Long)]() // (bufStart, bufEnd, comp)
      def need(n: Int): Boolean = {
        while (data.length < n) {
          val blk = cursor.next()
          if (blk == null) return false
          if (blk._2.length > 0) {
            starts += ((data.length, data.length + blk._2.length, blk._1))
            data = data ++ blk._2
          }
        }
        true
      }
      require(need(12), s"$path: truncated BAM header")
      val bb = ByteBuffer.wrap(data, 0, 12).order(ByteOrder.LITTLE_ENDIAN)
      val magic = new Array[Byte](4)
      bb.get(magic)
      require(new String(magic, 0, 3, US_ASCII) == "BAM" && magic(3) == 1,
        s"$path is not a BAM file (bad magic)")
      val lText = bb.getInt
      require(need(12 + lText + 4), s"$path: truncated BAM header")
      // @HD SO tag (sort-order declaration) from the SAM-text header —
      // optional per spec; absent ⇒ None
      val soTag: Option[String] = {
        val text = new String(data, 8, lText, US_ASCII)
        text.linesIterator.find(_.startsWith("@HD")).flatMap { hd =>
          hd.split('\t').find(_.startsWith("SO:")).map(_.drop(3))
        }
      }
      var p = 8 + lText
      def i32(o: Int): Int = (data(o) & 0xff) | ((data(o + 1) & 0xff) << 8) |
        ((data(o + 2) & 0xff) << 16) | ((data(o + 3) & 0xff) << 24)
      val nRef = i32(p); p += 4
      val refs = (0 until nRef).map { _ =>
        require(need(p + 4), s"$path: truncated reference list")
        val lName = i32(p)
        require(need(p + 8 + lName), s"$path: truncated reference list")
        val name = new String(data, p + 4, lName - 1, US_ASCII)
        p += 8 + lName
        name
      }
      if (!need(p + 1)) return (refs, Long.MaxValue, 0, soTag) // record-less BAM
      val blk = starts.find(s => s._1 <= p && p < s._2).get
      (refs, blk._3, p - blk._1, soTag)
    } finally { cursor.close(); in.close() }
  }

  /** First compressed offset in [s, e) that starts a BGZF block, found by
    * magic scan + chain validation (the candidate's BSIZE must land on
    * another valid block header or exactly on EOF); -1 if none.
    */
  private def scanForBlock(in: org.apache.hadoop.fs.FSDataInputStream,
                           s: Long, e: Long, fileLen: Long): Long = {
    val chunk = 1 << 20
    val slack = 65536 + 18 // worst-case header+extra spans the chunk edge
    var base = s
    while (base < e) {
      val scanLimit = math.min(chunk.toLong, e - base).toInt
      val readLen = math.min(scanLimit.toLong + slack, fileLen - base).toInt
      if (readLen < 28) return -1
      val bytes = new Array[Byte](readLen)
      in.readFully(base, bytes, 0, readLen)
      var i = 0
      while (i < scanLimit && i < readLen) {
        if ((bytes(i) & 0xff) == 0x1f) {
          val bsize = bgzfBlockSize(bytes, i, readLen - i)
          if (bsize > 0) {
            val nOff = base + i + bsize
            if (nOff == fileLen) return base + i
            if (nOff < fileLen) {
              val h2len = math.min(4096L, fileLen - nOff).toInt
              val h2 = new Array[Byte](h2len)
              in.readFully(nOff, h2, 0, h2len)
              if (bgzfBlockSize(h2, 0, h2len) > 0) return base + i
            }
          }
        }
        i += 1
      }
      base += scanLimit
    }
    -1
  }

  private def decodeRange(conf: org.apache.hadoop.conf.Configuration,
                          pathStr: String, s: Long, e: Long,
                          refs: IndexedSeq[String], firstBlock: Long,
                          firstOff: Int): Iterator[Rec] = {
    if (e <= firstBlock) return Iterator.empty
    val path = new org.apache.hadoop.fs.Path(pathStr)
    val fs = path.getFileSystem(conf)
    val len = fs.getFileStatus(path).getLen
    val in = fs.open(path)
    val (startBlock, off0) =
      if (s <= firstBlock) (firstBlock, firstOff)
      else {
        val b = scanForBlock(in, s, e, len)
        if (b < 0) { in.close(); return Iterator.empty }
        (b, -1) // -1 = record alignment unknown: guess
      }
    new BamRangeIterator(in, len, e, startBlock, off0, refs)
  }

  /** Whether the file opens with a BGZF block (a plain-gzip BAM does not). */
  private def isBgzf(fs: org.apache.hadoop.fs.FileSystem,
                     path: org.apache.hadoop.fs.Path): Boolean = {
    val in = fs.open(path)
    try {
      val head = new Array[Byte](4096)
      bgzfBlockSize(head, 0, in.readNBytes(head, 0, head.length)) > 0
    } finally in.close()
  }

  /** The records of one planned range [s, e) of `pathStr`, read by the
    * scan's tasks: the file's own header gives the references and the
    * first record's position; `recordOff >= 0` is instead the exact
    * in-block offset of an index chunk that starts at block `s`. A
    * plain-gzip (non-BGZF) file has no block boundaries: its range at
    * offset 0 decodes the whole stream through [[parseBam]] and every
    * other range of it is empty.
    */
  private[graft] def decodeSplit(conf: org.apache.hadoop.conf.Configuration,
                                 pathStr: String, s: Long, e: Long,
                                 recordOff: Int): Iterator[Rec] = {
    val path = new org.apache.hadoop.fs.Path(pathStr)
    val fs = path.getFileSystem(conf)
    if (!isBgzf(fs, path)) {
      if (s > 0) return Iterator.empty
      val whole = fs.open(path)
      return try parseBam(whole.readAllBytes()) finally whole.close()
    }
    val (refs, firstBlock, firstOff, _) = readHeaderMeta(fs, path)
    if (recordOff >= 0) decodeRange(conf, pathStr, s, e, refs, s, recordOff)
    else decodeRange(conf, pathStr, s, e, refs, firstBlock, firstOff)
  }

  /** Early-terminate a [[decodeRange]] iterator (releases its stream);
    * no-op for exhausted or foreign iterators. For callers outside this
    * object — BamRangeIterator itself is private.
    */
  private[graft] def closeEarly(it: Iterator[Rec]): Unit =
    it match { case b: BamRangeIterator => b.closeEarly(); case _ => }

  /** Decodes the records of one byte range. Keeps a compacting buffer of
    * inflated payloads plus their block offsets; stops at the first
    * record whose start block is outside the range.
    */
  private final class BamRangeIterator(
      in: org.apache.hadoop.fs.FSDataInputStream, fileLen: Long,
      rangeEnd: Long, startBlock: Long, firstOffInStart: Int,
      refs: IndexedSeq[String]) extends Iterator[Rec] {

    private val cursor = new BgzfCursor(in, startBlock, fileLen)
    private var buf = new Array[Byte](1 << 20)
    private var bufLen = 0
    private val blkStart = scala.collection.mutable.ArrayBuffer[Int]()
    private val blkEnd = scala.collection.mutable.ArrayBuffer[Int]()
    private val blkComp = scala.collection.mutable.ArrayBuffer[Long]()
    private var p = 0
    private var closed = false
    private var nextRec: Rec = _

    locally {
      if (firstOffInStart >= 0) p = firstOffInStart
      else {
        while (bufLen < (1 << 18) && pull()) {}
        p = guessFirstRecord()
      }
      if (p < 0) finish() else advance()
    }

    override def hasNext: Boolean = nextRec != null
    override def next(): Rec = {
      val r = nextRec
      advance()
      r
    }

    private def finish(): Unit = {
      nextRec = null
      if (!closed) { closed = true; cursor.close(); in.close() }
    }

    /** Release the stream without draining (probe reads one record). */
    def closeEarly(): Unit = finish()

    private def pull(): Boolean = {
      val blk = cursor.next()
      if (blk == null) return false
      if (blk._2.length == 0) return pull() // EOF sentinel / empty blocks
      if (bufLen + blk._2.length > buf.length) {
        compact()
        while (bufLen + blk._2.length > buf.length)
          buf = java.util.Arrays.copyOf(buf, buf.length * 2)
      }
      blkStart += bufLen
      blkEnd += bufLen + blk._2.length
      blkComp += blk._1
      System.arraycopy(blk._2, 0, buf, bufLen, blk._2.length)
      bufLen += blk._2.length
      true
    }

    /** Drop whole blocks wholly before the block containing `p` (block-
      * aligned so offset→block mapping stays exact).
      */
    private def compact(): Unit = {
      var drop = 0
      while (drop < blkStart.length && blkEnd(drop) <= p) drop += 1
      if (drop > 0) {
        val shift = blkStart(drop)
        System.arraycopy(buf, shift, buf, 0, bufLen - shift)
        bufLen -= shift
        p -= shift
        blkStart.remove(0, drop); blkEnd.remove(0, drop); blkComp.remove(0, drop)
        for (i <- blkStart.indices) { blkStart(i) -= shift; blkEnd(i) -= shift }
      }
    }

    private def i32(o: Int): Int = (buf(o) & 0xff) | ((buf(o + 1) & 0xff) << 8) |
      ((buf(o + 2) & 0xff) << 16) | ((buf(o + 3) & 0xff) << 24)

    /** Compressed offset of the block containing buffer offset `q`. */
    private def compOf(q: Int): Long = {
      var i = blkStart.length - 1
      while (i >= 0 && blkStart(i) > q) i -= 1
      blkComp(i)
    }

    /** Field-plausibility check for a record start at `q`, chained
      * `depth` records deep (names must be printable ASCII + NUL, sizes
      * self-consistent, next record must validate too) — the standard
      * split-guess validation, strong enough that a false positive
      * inside spilled record bytes is vanishingly unlikely.
      */
    private def validAt(q: Int, depth: Int): Boolean = {
      while (bufLen < q + 36 && pull()) {}
      if (bufLen < q + 36) return false
      val bs = i32(q)
      if (bs < 32 || bs > MaxRecordBytes) return false
      val refID = i32(q + 4)
      if (refID < -1 || refID >= refs.length) return false
      val pos = i32(q + 8)
      if (pos < -1 || pos >= (1 << 29)) return false
      val lName = buf(q + 12) & 0xff
      if (lName < 2) return false
      val nCigar = (buf(q + 16) & 0xff) | ((buf(q + 17) & 0xff) << 8)
      val lSeq = i32(q + 20)
      if (lSeq < 0 || lSeq > MaxRecordBytes) return false
      if (32 + lName + 4L * nCigar + (lSeq + 1) / 2 + lSeq > bs) return false
      while (bufLen < q + 36 + lName && pull()) {}
      if (bufLen < q + 36 + lName) return false
      var i = 0
      while (i < lName - 1) {
        val c = buf(q + 36 + i) & 0xff
        if (c < 33 || c > 126) return false
        i += 1
      }
      if (buf(q + 36 + lName - 1) != 0) return false
      if (depth == 0) return true
      val nxt = q + 4 + bs
      while (bufLen < nxt + 4 && pull()) {}
      if (bufLen == nxt) return true // clean EOF boundary
      if (bufLen < nxt + 4) return false
      validAt(nxt, depth - 1)
    }

    private def guessFirstRecord(): Int = {
      var q = 0
      while (q < bufLen || pull()) {
        if (q < bufLen) {
          if (compOf(q) >= rangeEnd) return -1 // first record start is beyond us
          if (validAt(q, depth = 2)) return q
          q += 1
        }
      }
      -1
    }

    private def advance(): Unit = {
      nextRec = null
      if (closed) return
      while (p >= bufLen && pull()) {}
      if (p >= bufLen) { finish(); return }
      if (compOf(p) >= rangeEnd) { finish(); return } // next range's record
      while (bufLen < p + 4 && pull()) {}
      if (bufLen < p + 4) {
        // 1-3 stray bytes after the last record: truncation, not clean
        // EOF — report it like any other mid-record cut would be.
        finish()
        throw new IllegalStateException(
          s"truncated BAM: ${bufLen - p} dangling bytes after the last record")
      }
      val bs = i32(p)
      while (bufLen < p + 4 + bs) {
        if (!pull()) { finish(); throw new IllegalStateException(
          s"truncated BAM record at decompressed offset $p (block ${compOf(p)})") }
      }
      val bb = ByteBuffer.wrap(buf, p, 4 + bs).order(ByteOrder.LITTLE_ENDIAN)
      nextRec = decodeOneRecord(bb, refs)
      p += 4 + bs
      if (p > (1 << 21)) compact()
    }
  }

  // ---------- write ----------

  /** When indexing, bamBytes also returns the ingredients of the BAI:
    * per MAPPED record (refId, beg0, end0 — 0-based half-open — plus
    * its uncompressed byte span), the compressed offset of each BGZF
    * block (blocks are exact 60 KiB uncompressed slices, so uncompressed
    * offset → block index is a division), and the compressed size of the
    * data stream (the virtual-offset sentinel past the last record).
    */
  private final class IndexFeed {
    val records = scala.collection.mutable.ArrayBuffer[(Int, Int, Int, Long, Long)]()
    val blockComp = scala.collection.mutable.ArrayBuffer[Long]()
    var dataEnd: Long = 0L
    val uncompPerBlock: Int = 60 * 1024

    def virtualOffset(u: Long): Long = {
      val b = (u / uncompPerBlock).toInt
      val comp = if (b < blockComp.length) blockComp(b) else dataEnd
      val within = if (b < blockComp.length) u % uncompPerBlock else 0L
      (comp << 16) | within
    }
  }

  /** Serialize one complete BAM byte stream: header (magic + SAM text +
    * reference dictionary) then records, the whole stream chunked into
    * ≤60 KiB uncompressed BGZF payloads INDEPENDENT of logical
    * boundaries (header and records may legally span blocks, spec §4.1 —
    * a many-reference header or one long-read record can exceed any
    * single block, and BSIZE is uint16, so flushing on logical
    * boundaries could overflow one). 60 KiB + worst-case deflate
    * expansion + 26 bytes framing stays safely under 65536.
    */
  private def bamBytes(localRefs: Seq[(String, Int)],
                       rows: Iterator[org.apache.spark.sql.Row],
                       sortOrder: Option[String],
                       feed: Option[IndexFeed] = None): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val so = sortOrder.map(v => s"\tSO:$v").getOrElse("")
    val headerText = (s"@HD\tVN:1.6$so\n" +
      localRefs.map { case (n, l) => s"@SQ\tSN:$n\tLN:$l\n" }.mkString).getBytes(US_ASCII)
    val head = ByteBuffer.allocate(12 + headerText.length +
      localRefs.map(r => 8 + r._1.length + 1).sum).order(ByteOrder.LITTLE_ENDIAN)
    head.put("BAM".getBytes(US_ASCII)).put(1.toByte)
    head.putInt(headerText.length)
    head.put(headerText)
    head.putInt(localRefs.length)
    localRefs.foreach { case (n, l) =>
      val nb = n.getBytes(US_ASCII)
      head.putInt(nb.length + 1)
      head.put(nb).put(0.toByte)
      head.putInt(l)
    }
    val chunk = 60 * 1024
    val refIdx = localRefs.map(_._1).zipWithIndex.toMap
    val batch = new java.io.ByteArrayOutputStream()
    var uncomp = 0L
    def drain(force: Boolean): Unit =
      if (batch.size() >= chunk || (force && batch.size() > 0)) {
        val bytes = batch.toByteArray
        var off = 0
        while (bytes.length - off >= chunk) {
          feed.foreach(_.blockComp += out.size().toLong)
          out.write(bgzfBlock(bytes, off, chunk)); off += chunk
        }
        if (force && bytes.length > off) {
          feed.foreach(_.blockComp += out.size().toLong)
          out.write(bgzfBlock(bytes, off, bytes.length - off)); off = bytes.length
        }
        batch.reset()
        if (off < bytes.length) batch.write(bytes, off, bytes.length - off)
      }
    batch.write(head.array())
    uncomp += head.array().length
    drain(force = false)
    rows.foreach { r =>
      val enc = encodeRecord(localRefs, r.getString(0), r.getInt(1),
        r.getString(2), r.getInt(3), r.getInt(4), r.getString(5),
        r.getString(6), r.getString(7))
      feed.foreach { f =>
        val rid = refIdx.getOrElse(r.getString(2), -1)
        if (rid >= 0) {
          val beg0 = r.getInt(3) - 1
          val end0 = beg0 + math.max(cigarRefSpan(r.getString(5)), 1)
          f.records += ((rid, beg0, end0, uncomp, uncomp + enc.length))
        }
      }
      batch.write(enc)
      uncomp += enc.length
      drain(force = false)
    }
    drain(force = true)
    feed.foreach(_.dataEnd = out.size().toLong)
    out.write(BgzfEof)
    out.toByteArray
  }

  /** Reference span consumed by a CIGAR (Σ M/D/N/=/X op lengths); '*'
    * or all-clipped spans 0. The writer's index feed and the region
    * scan's residual predicate both read it, so the bins a record is
    * indexed under and the overlap it is kept by agree.
    */
  private[graft] def cigarRefSpan(cigar: String): Int = {
    if (cigar == null) return 0
    val ops = new CigarWalk(cigar)
    var span = 0
    while (ops.next()) {
      val c = ops.op
      if (c == 'M' || c == 'D' || c == 'N' || c == '=' || c == 'X') span += ops.len
    }
    span
  }

  /** Cursor over a CIGAR string's ops: each true [[next]] loads one op
    * character and the length its digits spell; trailing digits with
    * no op are ignored. What an unknown op means is the caller's call.
    */
  private[graft] final class CigarWalk(cigar: String) {
    private var i = 0
    var op: Char = 0
    var len = 0
    def next(): Boolean = {
      var n = 0
      while (i < cigar.length) {
        val c = cigar.charAt(i)
        i += 1
        if (c >= '0' && c <= '9') n = n * 10 + (c - '0')
        else { op = c; len = n; return true }
      }
      false
    }
  }

  /** Write BAM output. Default: one BAM file per partition under `path`
    * (a directory), header (refs) replicated into each — the
    * broadcast-header pattern (HDFSWriter.java:247-315). Expects the
    * SAM-text sink's columns: readName, flag, referenceName, start, mapq,
    * cigar, bases, quality. `refs` = (name, length) per reference
    * sequence; records whose referenceName is absent write refID -1.
    * `sortOrder` (e.g. Some("coordinate")) declares the @HD SO tag —
    * the writer does NOT verify it; declare coordinate only for data
    * actually coordinate-sorted, which gives [[readRegion]] its
    * guaranteed pruning path.
    *
    * `singleFile = true` writes `path` as ONE .bam file (the shape
    * external single-file tools expect) and first VALIDATES + PATCHES
    * the sequence dictionary against the data, as the reference's
    * writer does per record (HDFSWriter.java:247-315): every reference
    * name observed in the records joins the dictionary (provided-ref
    * order preserved, observed-only names appended sorted), and each LN
    * is raised to cover the furthest record end on it — so no record
    * silently degrades to refID -1 and no LN undershoots its records.
    * The final write is one task (`coalesce(1)`); use the default
    * per-partition mode for anything too big to serialize through one
    * writer.
    */
  def write(df: DataFrame, path: String, refs: Seq[(String, Int)] = Nil,
            singleFile: Boolean = false,
            sortOrder: Option[String] = None,
            index: Boolean = false): Unit = {
    require(!index || (singleFile && sortOrder.contains("coordinate")),
      "index=true requires singleFile=true and sortOrder=Some(\"coordinate\") " +
        "— a BAI is only meaningful for one coordinate-sorted file")
    val spark = df.sparkSession
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(hPath)) fs.delete(hPath, true)
    val confBc = spark.sparkContext.broadcast(
      new HadoopConfCarrier(spark.sparkContext.hadoopConfiguration))
    val proj = df.select(col("readName"), col("flag").cast("int"),
      coalesce(col("referenceName"), lit("*")).as("referenceName"),
      coalesce(col("start").cast("int"), lit(0)).as("start"),
      coalesce(col("mapq").cast("int"), lit(0)).as("mapq"),
      coalesce(col("cigar"), lit("*")).as("cigar"),
      col("bases"), col("quality"))

    if (singleFile) {
      // dictionary patch: observed reference names + furthest record end
      // null bases encode as "" (see encodeRecord) — coalesce so a
      // reference whose every record has null bases aggregates to
      // max(start + 0), not null (which would NPE the getInt below)
      val observed = proj.filter(col("referenceName") =!= "*")
        .groupBy("referenceName")
        .agg(max(col("start") + length(coalesce(col("bases"), lit(""))))
          .cast("int").as("end_max"))
        .collect().map(r => (r.getString(0), r.getInt(1)))
      val byName = observed.toMap
      val patched = refs.map { case (n, l) => (n, math.max(l, byName.getOrElse(n, 0))) } ++
        observed.filter { case (n, _) => !refs.exists(_._1 == n) }.sortBy(_._1)
      val refsBc = spark.sparkContext.broadcast(patched)
      val withIndex = index
      proj.coalesce(1).foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        val fsw = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(confBc.value.toConf)
        val feed = if (withIndex) Some(new IndexFeed) else None
        val stream = fsw.create(new org.apache.hadoop.fs.Path(path), true)
        try stream.write(bamBytes(refsBc.value, rows, sortOrder, feed))
        finally stream.close()
        // sibling .bai from the per-record positions + virtual offsets
        // the serializer just fed back
        feed.foreach { f =>
          val bai = Bai.serialize(refsBc.value.length,
            f.records.map(r =>
              (r._1, r._2, r._3,
                f.virtualOffset(r._4), f.virtualOffset(r._5))).toSeq)
          val bs = fsw.create(new org.apache.hadoop.fs.Path(path + ".bai"), true)
          try bs.write(bai) finally bs.close()
        }
      }
    } else {
      fs.mkdirs(hPath)
      val refsBc = spark.sparkContext.broadcast(refs)
      proj.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        val part = TaskContext.getPartitionId()
        val filePath = new org.apache.hadoop.fs.Path(path, f"part-$part%05d.bam")
        // executor-side FS resolved from the SESSION's hadoop conf (not a
        // bare `new Configuration()`, which would drop defaultFS/credential
        // settings and only ever write to the local FS)
        val fsw = filePath.getFileSystem(confBc.value.toConf)
        val stream = fsw.create(filePath, true)
        try stream.write(bamBytes(refsBc.value, rows, sortOrder))
        finally stream.close()
      }
    }
  }


  /** One gzip member with the BGZF BC extra subfield (spec §4.1.1). */
  private def bgzfBlock(payload: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val deflater = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    deflater.setInput(payload, off, len)
    deflater.finish()
    val cdata = new Array[Byte](len + 64)
    var n = 0
    while (!deflater.finished()) n += deflater.deflate(cdata, n, cdata.length - n)
    deflater.end()
    val crc = new CRC32()
    crc.update(payload, off, len)
    val total = n + 26 // 12 hdr + 6 extra + cdata + 4 crc + 4 isize
    // BSIZE is uint16 (= total - 1): the spec's hard 64 KiB block bound.
    // Callers keep uncompressed payloads ≤ 60 KiB so this cannot trip.
    require(total <= 65536,
      s"BGZF block overflow: $total bytes compressed (payload len=$len)")
    val buf = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    buf.put(0x1f.toByte).put(0x8b.toByte).put(8.toByte).put(4.toByte) // FEXTRA
    buf.putInt(0) // mtime
    buf.put(0.toByte).put(0xff.toByte) // xfl, os=unknown
    buf.putShort(6.toShort) // xlen
    buf.put('B'.toByte).put('C'.toByte).putShort(2.toShort)
    buf.putShort((total - 1).toShort) // BSIZE (total block size - 1)
    buf.put(cdata, 0, n)
    buf.putInt(crc.getValue.toInt)
    buf.putInt(len)
    buf.array()
  }

  private def encodeRecord(refs: Seq[(String, Int)], name: String, flag: Int,
                           refName: String, start: Int, mapq: Int, cigar: String,
                           bases: String, quality: String): Array[Byte] = {
    val refID = refs.indexWhere(_._1 == refName) // -1 for "*"/unknown
    val nameBytes = name.getBytes(US_ASCII)
    val cigarOps: Seq[Int] =
      if (cigar == null || cigar == "*") Seq.empty
      else CigarOpRe.findAllMatchIn(cigar)
        .map(m => (m.group(1).toInt << 4) | CigarOps.indexOf(m.group(2).charAt(0)))
        .toSeq
    val seq = if (bases == null || bases == "*") "" else bases
    val lSeq = seq.length
    // Catch length desync BEFORE allocating: a short quality would leave
    // the tail as phred-0 zeros (corrupt but parseable), a long one would
    // throw BufferOverflow mid-write and leave a partial file behind.
    require(quality == null || quality == "*" || quality.length == lSeq,
      s"quality length ${if (quality == null) -1 else quality.length} != " +
        s"sequence length $lSeq for read '$name'")
    val size = 32 + nameBytes.length + 1 + 4 * cigarOps.length + (lSeq + 1) / 2 + lSeq
    val bb = ByteBuffer.allocate(4 + size).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(size)
    bb.putInt(refID)
    bb.putInt(start - 1) // SAM 1-based → BAM 0-based (0 → -1 unmapped)
    bb.put((nameBytes.length + 1).toByte)
    bb.put(mapq.toByte)
    bb.putShort(0.toShort) // bin (index hint; not needed without a BAI)
    bb.putShort(cigarOps.length.toShort)
    bb.putShort(flag.toShort)
    bb.putInt(lSeq)
    bb.putInt(-1) // next_refID
    bb.putInt(-1) // next_pos
    bb.putInt(0) // tlen
    bb.put(nameBytes).put(0.toByte)
    cigarOps.foreach(v => bb.putInt(v))
    def nib(c: Char): Int = SeqCode.indexOf(Character.toUpperCase(c)) match {
      case -1 => 15 // unknown base → N
      case v => v
    }
    var i = 0
    while (i < lSeq) {
      val hi = nib(seq.charAt(i))
      val lo = if (i + 1 >= lSeq) 0 else nib(seq.charAt(i + 1))
      bb.put(((hi << 4) | lo).toByte)
      i += 2
    }
    if (quality == null || quality == "*") (0 until lSeq).foreach(_ => bb.put(0xff.toByte))
    else quality.foreach(q => bb.put((q - 33).toByte))
    bb.array()
  }
}
