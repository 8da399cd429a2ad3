package graft.io

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.US_ASCII

/** BAI — the BAM index (SAM spec §5): the R-tree-flavoured binning
  * scheme (6 levels over 512 Mbp, bin 0 the root) plus a 16 kbp linear
  * index of virtual file offsets (coffset << 16 | uoffset).
  *
  * The WRITER builds an index for a coordinate-sorted BAM from the
  * per-record positions/virtual offsets the BAM serializer feeds it;
  * the READER parses any spec-conformant .bai and answers region
  * queries with a pruned chunk list — the BAM scan's region planning
  * ([[Bam.baiRegionPlan]], behind [[Bam.readRegion]] and the `region`
  * option) prefers it over the probe plan when every file has a sibling
  * `.bai`, and each chunk becomes one scan partition:
  * the index prunes without the probe job's one-record-per-range
  * decode pass, and its bin scheme bounds long-spanning records
  * EXACTLY (the probe path's `maxSpan` granularity contract
  * disappears). Reference whole-file reads (SQLQueryBAM.java) had
  * neither; this mirrors what its hadoop-bam dependency used .bai for.
  */
object Bai {

  /** Chunk of the compressed file in virtual offsets: [beg, end). */
  final case class Chunk(beg: Long, end: Long)

  /** One reference's index: bins → chunks, plus the linear index. */
  final case class RefIndex(bins: Map[Int, Seq[Chunk]], linear: IndexedSeq[Long])

  final case class Index(refs: IndexedSeq[RefIndex])

  /** Spec §5.3 reg2bin: the SMALLEST bin containing [beg, end). */
  def reg2bin(beg: Int, end0: Int): Int = {
    val end = end0 - 1
    if ((beg >> 14) == (end >> 14)) ((1 << 15) - 1) / 7 + (beg >> 14)
    else if ((beg >> 17) == (end >> 17)) ((1 << 12) - 1) / 7 + (beg >> 17)
    else if ((beg >> 20) == (end >> 20)) ((1 << 9) - 1) / 7 + (beg >> 20)
    else if ((beg >> 23) == (end >> 23)) ((1 << 6) - 1) / 7 + (beg >> 23)
    else if ((beg >> 26) == (end >> 26)) ((1 << 3) - 1) / 7 + (beg >> 26)
    else 0
  }

  /** Spec §5.3 reg2bins: every bin that may hold records overlapping
    * [beg, end).
    */
  def reg2bins(beg: Int, end0: Int): Seq[Int] = {
    val end = end0 - 1
    Seq(0) ++
      (1 + (beg >> 26) to 1 + (end >> 26)) ++
      (9 + (beg >> 23) to 9 + (end >> 23)) ++
      (73 + (beg >> 20) to 73 + (end >> 20)) ++
      (585 + (beg >> 17) to 585 + (end >> 17)) ++
      (4681 + (beg >> 14) to 4681 + (end >> 14))
  }

  /** Serialize an index for `nRef` references from per-record rows
    * (refId, beg0, end0, voStart, voEnd) — records must arrive in file
    * order (the BAM serializer's order). Chunks within a bin merge when
    * adjacent/overlapping; the linear index takes the minimum voStart
    * over every 16 kbp window a record overlaps, with gaps filled by
    * the previous value (samtools' rule — a lower bound is what the
    * query path needs).
    */
  def serialize(nRef: Int,
                records: Seq[(Int, Int, Int, Long, Long)]): Array[Byte] = {
    val byRef = records.groupBy(_._1)
    val out = new java.io.ByteArrayOutputStream()
    def i32(v: Int): Unit = {
      val b = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(v); out.write(b.array())
    }
    def i64(v: Long): Unit = {
      val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      b.putLong(v); out.write(b.array())
    }
    out.write("BAI".getBytes(US_ASCII)); out.write(1)
    i32(nRef)
    for (rid <- 0 until nRef) {
      val recs = byRef.getOrElse(rid, Seq.empty)
      // bins: group by reg2bin, merge adjacent chunks (file-ordered)
      val bins = recs.groupBy(r => reg2bin(r._2, r._3)).map { case (bin, rs) =>
        val merged = scala.collection.mutable.ArrayBuffer[Chunk]()
        rs.sortBy(_._4).foreach { r =>
          if (merged.nonEmpty && r._4 <= merged.last.end)
            merged(merged.length - 1) = Chunk(merged.last.beg,
              math.max(merged.last.end, r._5))
          else merged += Chunk(r._4, r._5)
        }
        bin -> merged.toSeq
      }
      // linear index over every overlapped 16 kbp window
      val nIntv = if (recs.isEmpty) 0
        else recs.iterator.map(r => ((r._3 - 1) >> 14) + 1).max
      val lin = Array.fill(nIntv)(-1L)
      recs.foreach { r =>
        var w = r._2 >> 14
        val wEnd = (r._3 - 1) >> 14
        while (w <= wEnd) {
          if (lin(w) < 0 || r._4 < lin(w)) lin(w) = r._4
          w += 1
        }
      }
      // gap fill: empty windows inherit the previous lower bound
      var prev = 0L
      for (w <- lin.indices) {
        if (lin(w) < 0) lin(w) = prev else prev = lin(w)
      }
      i32(bins.size)
      bins.toSeq.sortBy(_._1).foreach { case (bin, chunks) =>
        i32(bin)
        i32(chunks.length)
        chunks.foreach { c => i64(c.beg); i64(c.end) }
      }
      i32(nIntv)
      lin.foreach(i64)
    }
    out.toByteArray
  }

  /** Parse a .bai byte stream. */
  def parse(bytes: Array[Byte]): Index = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val magic = new Array[Byte](4)
    bb.get(magic)
    require(new String(magic, 0, 3, US_ASCII) == "BAI" && magic(3) == 1,
      "not a BAI index (bad magic)")
    val nRef = bb.getInt
    val refs = (0 until nRef).map { _ =>
      val nBin = bb.getInt
      val bins = (0 until nBin).map { _ =>
        val bin = bb.getInt
        val nChunk = bb.getInt
        bin -> (0 until nChunk).map(_ => Chunk(bb.getLong, bb.getLong))
      }.toMap
      val nIntv = bb.getInt
      val lin = (0 until nIntv).map(_ => bb.getLong)
      RefIndex(bins.map { case (k, v) => k -> (v: Seq[Chunk]) }, lin.toIndexedSeq)
    }
    Index(refs.toIndexedSeq)
  }

  /** Candidate chunks for region [beg0, end0) on reference `rid`:
    * chunks of every overlapping bin, gated by the linear index's lower
    * bound, merged at COMPRESSED-BLOCK granularity (two chunks whose
    * byte ranges would share a BGZF block fuse, so the decode ranges
    * derived from the result never decode a record twice).
    */
  def chunksFor(idx: Index, rid: Int, beg0: Int, end0: Int): Seq[Chunk] = {
    if (rid < 0 || rid >= idx.refs.length) return Seq.empty
    val r = idx.refs(rid)
    if (r.linear.isEmpty) return Seq.empty
    val minOff = r.linear(math.min(beg0 >> 14, r.linear.length - 1))
    val cand = reg2bins(beg0, end0)
      .flatMap(r.bins.getOrElse(_, Seq.empty))
      .filter(_.end > minOff)
      .sortBy(_.beg)
    val merged = scala.collection.mutable.ArrayBuffer[Chunk]()
    cand.foreach { c =>
      if (merged.nonEmpty && (c.beg >> 16) <= (merged.last.end >> 16))
        merged(merged.length - 1) = Chunk(merged.last.beg,
          math.max(merged.last.end, c.end))
      else merged += c
    }
    merged.toSeq
  }
}
