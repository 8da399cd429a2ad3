package graft

import graft.io.{Bai, Bam}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The BAI index path: reg2bin/reg2bins against spec identities, the
  * writer's serialize → parse round-trip, chunk pruning, and region
  * reads through the index proven equal to scan+filter (with the probe
  * path as the fallback twin on the same data).
  */
class BaiSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("reg2bin/reg2bins spec identities") {
    // level anchors from SAM spec §5.3
    assert(Bai.reg2bin(0, 1) == 4681)        // first 16 kbp leaf
    assert(Bai.reg2bin(16384, 16385) == 4682)
    assert(Bai.reg2bin(0, 1 << 26) == 1)     // fills a level-1 slot
    assert(Bai.reg2bin(0, (1 << 26) + 1) == 0) // spans two -> root
    // every region's reg2bins contains the reg2bin of any sub-interval
    val rng = new scala.util.Random(3)
    for (_ <- 0 until 200) {
      val beg = rng.nextInt(1 << 27)
      val end = beg + 1 + rng.nextInt(1 << 20)
      val rbeg = beg + rng.nextInt(end - beg)
      val rend = rbeg + 1 + rng.nextInt(end - rbeg)
      assert(Bai.reg2bins(beg, end).contains(Bai.reg2bin(rbeg, rend)),
        s"[$beg,$end) missing bin of [$rbeg,$rend)")
    }
  }

  test("serialize → parse round-trips bins, chunks, and the linear index") {
    val recs = Seq(
      (0, 100, 200, 10L << 16, 11L << 16),
      (0, 150, 250, 11L << 16, 12L << 16),     // merges with previous chunk
      (0, 40000, 40100, 20L << 16, 21L << 16), // separate window + bin
      (1, 5, 50, 30L << 16, 31L << 16))
    val idx = Bai.parse(Bai.serialize(2, recs))
    assert(idx.refs.length == 2)
    val r0 = idx.refs(0)
    // records 1+2 share a 16 kbp leaf bin and adjacent offsets -> one chunk
    val leaf = Bai.reg2bin(100, 200)
    assert(r0.bins(leaf) == Seq(Bai.Chunk(10L << 16, 12L << 16)))
    assert(r0.bins(Bai.reg2bin(40000, 40100)) == Seq(Bai.Chunk(20L << 16, 21L << 16)))
    // linear index: window 0 holds the min offset, window 2 the later one,
    // window 1 (empty) gap-fills from window 0
    assert(r0.linear(0) == (10L << 16))
    assert(r0.linear(1) == (10L << 16))
    assert(r0.linear(2) == (20L << 16))
    assert(idx.refs(1).linear(0) == (30L << 16))
  }

  test("indexed write → region read prunes via the .bai and equals scan+filter") {
    import spark.implicits._
    val rng = new scala.util.Random(47)
    val n = 4000
    val rows = (0 until n).map { i =>
      val len = 80 + rng.nextInt(40)
      val bases = Array.fill(len)("ACGT"(rng.nextInt(4))).mkString
      val quals = Array.fill(len)(('!' + 2 + rng.nextInt(40)).toChar).mkString
      (f"r$i%06d", 0, "chr1", i * 25 + 1, 60, s"${len}M", bases, quals)
    }.toDF("readName", "flag", "referenceName", "start", "mapq", "cigar",
      "bases", "quality")
    val dir = java.nio.file.Files.createTempDirectory("graft_bai").toString
    val file = s"$dir/indexed.bam"
    Bam.write(rows.coalesce(1), file, refs = Seq(("chr1", 200000)),
      singleFile = true, sortOrder = Some("coordinate"), index = true)
    assert(new java.io.File(file + ".bai").isFile, "sibling .bai expected")

    // the index-derived decode ranges cover a small slice of the file
    val Some((_, ranges)) = Bam.baiRegionPlan(spark, file, "chr1", 30000, 40000)
    assert(ranges.nonEmpty)
    val covered = ranges.map(r => r._3 - r._2).sum
    val fileLen = new java.io.File(file).length()
    assert(covered < fileLen / 2,
      s"index should prune most of the file: $covered of $fileLen bytes")

    val full = Bam.read(spark, file)
      .select("readName", "start", "bases").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2)))
    for ((lo, hi) <- Seq((30000, 40000), (1, 500), (99000, 99900), (500000, 600000))) {
      val got = Bam.readRegion(spark, file, "chr1", lo, hi)
        .select("readName", "start").collect().map(_.toSeq).toSet
      val want = full.filter { case (_, s, b) => s <= hi && s + b.length - 1 >= lo }
        .map(r => Seq(r._1, r._2)).toSet
      assert(got == want, s"region [$lo,$hi]")
    }
    // records spanning INTO a region from before its start are found
    val spanIn = Bam.readRegion(spark, file, "chr1", 30000, 40000)
      .filter(col("start") < 30000).count()
    assert(spanIn > 0)
    // unknown reference: no ranges, no rows
    val Some((_, none)) = Bam.baiRegionPlan(spark, file, "chrX", 1, 100)
    assert(none.isEmpty)
    assert(Bam.readRegion(spark, file, "chrX", 1, 100).count() == 0)

    // delete the .bai: readRegion falls back to the probe plan and the
    // results are unchanged
    assert(new java.io.File(file + ".bai").delete())
    assert(Bam.baiRegionPlan(spark, file, "chr1", 30000, 40000).isEmpty)
    val probeGot = Bam.readRegion(spark, file, "chr1", 30000, 40000,
        splitBytes = 1 << 16)
      .select("readName", "start").collect().map(_.toSeq).toSet
    val probeWant = full.filter { case (_, s, b) =>
      s <= 40000 && s + b.length - 1 >= 30000
    }.map(r => Seq(r._1, r._2)).toSet
    assert(probeGot == probeWant)
  }

  test("long-spanning records are found exactly (no maxSpan contract on the BAI path)") {
    import spark.implicits._
    // one 50 kbp-spanning record far before the region + dense short
    // records: the probe path would need maxSpan >= 50k to find it; the
    // bin scheme places it in a coarser bin and finds it exactly
    val long = ("long01", 0, "chr1", 1000, 60, "50000M",
      "A" * 100, "I" * 100) // seq shorter than span: cigar rules
    val shorts = (0 until 500).map { i =>
      ("s%05d".format(i), 0, "chr1", 2000 + i * 25, 60, "100M",
        "C" * 100, "I" * 100)
    }
    val rows = (Seq(long) ++ shorts).sortBy(_._4).toDF(
      "readName", "flag", "referenceName", "start", "mapq", "cigar",
      "bases", "quality")
    val dir = java.nio.file.Files.createTempDirectory("graft_bai_span").toString
    val file = s"$dir/span.bam"
    Bam.write(rows.coalesce(1), file, refs = Seq(("chr1", 200000)),
      singleFile = true, sortOrder = Some("coordinate"), index = true)
    val got = Bam.readRegion(spark, file, "chr1", 45000, 46000)
      .select("readName").collect().map(_.getString(0)).toSet
    // only the long record overlaps [45000,46000]
    assert(got == Set("long01"))
  }
}
