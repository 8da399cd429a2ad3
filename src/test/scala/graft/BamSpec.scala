package graft

import graft.io.{Bam, SamText}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.US_ASCII

/** BAM binary codec (S2/K5 completion), tested two ways:
  *  1. the READER against a byte-by-byte hand-encoded fixture from the
  *     SAM v1 spec §4.2 (independent of our writer — a codec that only
  *     round-trips itself could be self-consistently wrong);
  *  2. the WRITER by round-trip, asserted equal to the SAM-text twin on
  *     the shared alignment columns.
  */
class BamSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("reader decodes a hand-encoded spec fixture") {
    // Uncompressed BAM: header with one reference chr1:1000, then ONE
    // record: r1, flag 0, POS 100 (1-based), MAPQ 30, CIGAR 4M, ACGT,
    // qual IIII (phred 40). Every byte below is from spec §4.2.
    val text = "@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:1000\n".getBytes(US_ASCII)
    val recSize = 32 + 3 + 4 + 2 + 4 // fixed + name"r1\0" + 1 cigar + 2 seq + 4 qual
    val bb = ByteBuffer.allocate(4 + 4 + text.length + 4 + (4 + 5 + 4) + 4 + recSize)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.put("BAM".getBytes(US_ASCII)).put(1.toByte)
    bb.putInt(text.length).put(text)
    bb.putInt(1) // n_ref
    bb.putInt(5).put("chr1".getBytes(US_ASCII)).put(0.toByte).putInt(1000)
    bb.putInt(recSize)
    bb.putInt(0) // refID
    bb.putInt(99) // pos (0-based)
    bb.put(3.toByte) // l_read_name incl NUL
    bb.put(30.toByte) // mapq
    bb.putShort(0.toShort) // bin
    bb.putShort(1.toShort) // n_cigar_op
    bb.putShort(0.toShort) // flag
    bb.putInt(4) // l_seq
    bb.putInt(-1).putInt(-1).putInt(0) // next_refID, next_pos, tlen
    bb.put("r1".getBytes(US_ASCII)).put(0.toByte)
    bb.putInt((4 << 4) | 0) // 4M
    bb.put(0x12.toByte).put(0x48.toByte) // A,C | G,T nibbles (=ACMG..: A=1 C=2 G=4 T=8)
    Seq(40, 40, 40, 40).foreach(q => bb.put(q.toByte))

    // Plain (non-BGZF) gzip framing — the decoder must accept any
    // conformant gzip member stream, BGZF included.
    val gz = new java.io.ByteArrayOutputStream()
    val go = new java.util.zip.GZIPOutputStream(gz)
    go.write(bb.array()); go.close()

    val recs = Bam.parseBam(gz.toByteArray).toList
    assert(recs == List(("r1", 0, "chr1", 100, 30, "4M", "ACGT", "IIII")))
  }

  test("BAM write → read round-trips and equals the SAM-text twin") {
    import spark.implicits._
    val rows = Seq(
      ("u1", 77, "*", 0, 0, "*", "ACGTACGT", "IIIIJJJJ"),
      ("u2", 141, "*", 0, 0, "*", "TTTTCCCC", "KKKKLLLL"),
      ("m1", 0, "chr2", 42, 60, "5M3S", "ACGTTGCA", "IJKLMNOP")
    ).toDF("readName", "flag", "referenceName", "start", "mapq", "cigar",
      "bases", "quality")
    val dir = java.nio.file.Files.createTempDirectory("graft_bam").toString

    Bam.write(rows, s"$dir/bam", refs = Seq(("chr1", 1000), ("chr2", 2000)))
    SamText.write(rows, s"$dir/sam")

    val cols = Seq("readName", "flag", "referenceName", "start", "mapq",
      "cigar", "bases", "quality", "readUnmapped", "firstOfPair", "secondOfPair")
    val fromBam = Bam.read(spark, s"$dir/bam")
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    val fromSam = SamText.read(spark, s"$dir/sam")
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    assert(fromBam == fromSam)
    assert(fromBam.size == 3)
    // the mapped record's reference resolved through the header refs
    val mapped = Bam.read(spark, s"$dir/bam").filter(col("readName") === "m1").collect()(0)
    assert(mapped.getAs[String]("referenceName") == "chr2")
    assert(mapped.getAs[Int]("start") == 42)
    assert(mapped.getAs[String]("cigar") == "5M3S")
  }

  test("single-file write patches the dictionary and reads back as one file") {
    import spark.implicits._
    val rows = Seq(
      ("r1", 0, "chr1", 100, 30, "4M", "ACGT", "IIII"),
      ("r2", 0, "chrZ", 50, 30, "4M", "GGCC", "IIII"), // ref NOT in provided dict
      ("r3", 4, "*", 0, 0, "*", "TTTT", "IIII")
    ).toDF("readName", "flag", "referenceName", "start", "mapq", "cigar",
      "bases", "quality").repartition(3) // multi-partition in, ONE file out
    val dir = java.nio.file.Files.createTempDirectory("graft_bam_single").toString
    val file = s"$dir/single.bam"
    // provided LN 10 is too short for r1's end — must be patched up
    Bam.write(rows, file, refs = Seq(("chr1", 10)), singleFile = true)
    assert(new java.io.File(file).isFile, "expected ONE .bam file, not a directory")
    val back = Bam.read(spark, file)
      .select("readName", "referenceName", "start", "bases").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getInt(2), r.getString(3)))).toMap
    assert(back.size == 3)
    // observed-only chrZ joined the dictionary: the record did NOT
    // silently degrade to refID -1 / "*" as the per-partition mode would
    assert(back("r2") == (("chrZ", 50, "GGCC")))
    assert(back("r1") == (("chr1", 100, "ACGT")))
    assert(back("r3")._1 == "*")
    // header SAM text carries the patched lengths (end bound start+len)
    val gz = new java.util.zip.GZIPInputStream(new java.io.FileInputStream(file))
    val headStr = try new String(gz.readNBytes(4096), US_ASCII) finally gz.close()
    assert(headStr.contains("SN:chr1\tLN:104"), headStr.take(300))
    assert(headStr.contains("SN:chrZ\tLN:54"), headStr.take(300))
  }

  private def bigBamFixture(n: Int): String = {
    import spark.implicits._
    // 600-base reads → records span the writer's 60 KiB BGZF chunking,
    // so split alignment must cope with records crossing block borders.
    val rng = new scala.util.Random(7)
    val rows = (0 until n).map { i =>
      val bases = Array.fill(600)("ACGT" (rng.nextInt(4))).mkString
      val quals = Array.fill(600)(('!' + 2 + rng.nextInt(40)).toChar).mkString
      (f"read_$i%06d", if (i % 3 == 0) 0 else 4,
        if (i % 3 == 0) "chr1" else "*", if (i % 3 == 0) i + 1 else 0,
        if (i % 3 == 0) 60 else 0, if (i % 3 == 0) "600M" else "*",
        bases, quals)
    }.toDF("readName", "flag", "referenceName", "start", "mapq", "cigar",
      "bases", "quality")
    val dir = java.nio.file.Files.createTempDirectory("graft_bam_split").toString
    Bam.write(rows.coalesce(1), s"$dir/bam", refs = Seq(("chr1", 10000000)))
    dir
  }

  test("splittable read over >=2 splits is bit-identical to the whole-file read") {
    val dir = bigBamFixture(800)
    val cols = Seq("readName", "flag", "referenceName", "start", "mapq",
      "cigar", "bases", "quality")
    val whole = Bam.read(spark, s"$dir/bam")
      .select(cols.map(col): _*).collect().map(_.toSeq).toSeq
    val bamFile = new java.io.File(s"$dir/bam").listFiles()
      .filter(_.getName.endsWith(".bam")).head
    assert(bamFile.length() > 3 * 65536, "fixture must span several BGZF blocks")
    // 64 KiB splits (the minimum) force many ranges: mid-block cuts,
    // ranges with no block start, header-range and guesser paths all hit.
    val split = spark.read.format("bam").option("splitBytes", 1 << 16)
      .load(bamFile.getAbsolutePath)
      .select(cols.map(col): _*).collect().map(_.toSeq).toSeq
    val want = V1Parse.bam(bamFile.getAbsolutePath).map(_.productIterator.toSeq)
    assert(whole == want)
    assert(split.size == want.size)
    assert(split == want) // same records in the same order = bit-identical
  }

  test("splittable read via a directory path and a coarse split matches too") {
    val dir = bigBamFixture(120)
    val cols = Seq("readName", "flag", "referenceName", "start", "mapq",
      "cigar", "bases", "quality")
    val whole = Bam.read(spark, s"$dir/bam")
      .select(cols.map(col): _*).collect().map(_.toSeq).toSeq
    val split = spark.read.format("bam").option("splitBytes", 1 << 20)
      .load(s"$dir/bam")
      .select(cols.map(col): _*).collect().map(_.toSeq).toSeq
    assert(whole == V1Parse.bam(s"$dir/bam").map(_.productIterator.toSeq))
    assert(split == whole)
  }

  private val recCols = Seq("readName", "flag", "referenceName", "start", "mapq",
    "cigar", "bases", "quality")

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.select(recCols.map(col): _*).collect().map(_.toSeq).toSeq

  test("a plain-gzip (non-BGZF) BAM reads whole, once, through Bam.read and a split scan") {
    val dir = bigBamFixture(800)
    val bgzf = new java.io.File(s"$dir/bam").listFiles().filter(_.getName.endsWith(".bam")).head
    val raw = new java.util.zip.GZIPInputStream(new java.io.FileInputStream(bgzf)).readAllBytes()
    // one gzip member without the BC subfield: legal gzip, not BGZF
    val plain = java.nio.file.Files.createTempDirectory("graft_bam_gzip").resolve("plain.bam")
    val go = new java.util.zip.GZIPOutputStream(java.nio.file.Files.newOutputStream(plain))
    try go.write(raw) finally go.close()
    assert(java.nio.file.Files.size(plain) > 65536, "the file must span several splits")
    val want = V1Parse.bam(plain.toString).map(_.productIterator.toSeq)
    assert(want.size == 800)
    assert(rows(Bam.read(spark, plain.toString)) == want)
    assert(rows(spark.read.format("bam").option("splitBytes", 65536).load(plain.toString)) == want)
  }

  test("a region read of a plain-gzip BAM scans it whole and keeps the region's records") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bam_gzip_region")
    val sorted = dir.resolve("sorted.bam").toString
    val recs = (0 until 50).map(i => (f"z$i%03d", 0, "chr1", i * 10 + 1, 60, "8M",
      "ACGTACGT", "IIIIIIII")).toDF(recCols: _*)
    Bam.write(recs.coalesce(1), sorted, refs = Seq(("chr1", 10000)),
      singleFile = true, sortOrder = Some("coordinate"))
    val raw = new java.util.zip.GZIPInputStream(new java.io.FileInputStream(sorted)).readAllBytes()
    val plain = java.nio.file.Files.createDirectory(dir.resolve("plain")).resolve("plain.bam")
    val go = new java.util.zip.GZIPOutputStream(java.nio.file.Files.newOutputStream(plain))
    try go.write(raw) finally go.close()
    val all = Bam.read(spark, plain.toString)
    assert(all.count() == 50)
    // starts 101, 111, ..., 191 overlap [100, 200] with their 8 bases
    val want = rows(all.filter(col("referenceName") === "chr1" &&
      col("start") <= 200 && col("start") + 7 >= 100))
    assert(want.size == 10)
    assert(rows(Bam.readRegion(spark, plain.toString, "chr1", 100, 200)) == want)
    assert(Bam.readRegion(spark, plain.toString, "chrX", 1, 100).count() == 0)
  }

  test("a glob of .bam files reads as their directory does, never the .bai beside them") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bam_glob").toString
    for (part <- 0 until 2) {
      val recs = (0 until 50).map { i =>
        (s"g${part}_$i", 0, "chr1", part * 1000 + i * 10 + 1, 60, "8M", "ACGTACGT", "IIIIIIII")
      }.toDF(recCols: _*)
      Bam.write(recs.coalesce(1), s"$dir/part-$part.bam", refs = Seq(("chr1", 10000)),
        singleFile = true, sortOrder = Some("coordinate"), index = true)
    }
    assert(new java.io.File(s"$dir/part-0.bam.bai").isFile)
    val byDir = rows(Bam.read(spark, dir))
    assert(byDir == V1Parse.bam(dir).map(_.productIterator.toSeq))
    assert(byDir.size == 100)
    assert(rows(Bam.read(spark, s"$dir/*.bam")) == byDir)
  }

  test("Bam.read reports the BAM's byte size to the optimizer") {
    val dir = bigBamFixture(120)
    val file = new java.io.File(s"$dir/bam").listFiles().filter(_.getName.endsWith(".bam")).head
    val scan = spark.read.format("bam").load(file.getPath).queryExecution.optimizedPlan
    assert(scan.stats.sizeInBytes == BigInt(file.length()), scan.stats)
    val plan = Bam.read(spark, file.getPath).queryExecution.optimizedPlan
    // the derived columns' projection scales the scan's size by the
    // estimated row widths, a few percent
    assert(plan.collectLeaves().map(_.stats.sizeInBytes) == Seq(BigInt(file.length())), plan)
    assert(plan.stats.sizeInBytes < 2 * file.length(), plan.stats)
  }

  test("Bam.read and Bam.readRegion run one GraftBamScan, with and without a .bai") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bam_plan").toString
    val file = s"$dir/sorted.bam"
    val recs = (0 until 200).map(i => (f"p$i%04d", 0, "chr1", i * 10 + 1, 60, "8M",
      "ACGTACGT", "IIIIIIII")).toDF(recCols: _*)
    Bam.write(recs.coalesce(1), file, refs = Seq(("chr1", 10000)),
      singleFile = true, sortOrder = Some("coordinate"), index = true)
    def scans(df: DataFrame): Seq[String] =
      FinalPlan.nodes(df).collect { case b: BatchScanExec => b.scan.description() }
    for (indexed <- Seq(true, false)) {
      if (!indexed) assert(new java.io.File(file + ".bai").delete())
      for (df <- Seq(Bam.read(spark, file), Bam.readRegion(spark, file, "chr1", 100, 200))) {
        val s = scans(df)
        assert(s.size == 1 && s.head.startsWith("GraftBamScan"), s"indexed=$indexed: $s")
      }
      // starts 101, 111, ..., 191: the 8-base reads overlapping [100, 200]
      assert(Bam.readRegion(spark, file, "chr1", 100, 200).count() == 10)
    }
  }

  test("region read prunes out-of-region ranges and equals scan+filter") {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    val n = 4000
    val rows = (0 until n).map { i =>
      val len = 80 + rng.nextInt(40)
      val bases = Array.fill(len)("ACGT"(rng.nextInt(4))).mkString
      val quals = Array.fill(len)(('!' + 2 + rng.nextInt(40)).toChar).mkString
      (f"r$i%06d", 0, "chr1", i * 25 + 1, 60, s"${len}M", bases, quals)
    }.toDF("readName", "flag", "referenceName", "start", "mapq", "cigar",
      "bases", "quality")
    val dir = java.nio.file.Files.createTempDirectory("graft_bam_region").toString
    val file = s"$dir/sorted.bam"
    Bam.write(rows.coalesce(1), file, refs = Seq(("chr1", 200000)),
      singleFile = true)
    assert(new java.io.File(file).length() > 5 * 65536,
      "fixture must span several BGZF blocks")
    val (all, surviving, _) =
      Bam.regionPlan(spark, file, "chr1", 30000, 40000, 1L << 16, 16384)
    assert(all.size >= 8, s"want many ranges, got ${all.size}")
    // out-of-region ranges are never handed to the decode job — their
    // BGZF blocks are never inflated
    assert(surviving.size < all.size, s"${surviving.size} of ${all.size} survive")
    assert(surviving.nonEmpty)
    val got = Bam.readRegion(spark, file, "chr1", 30000, 40000,
        splitBytes = 1 << 16)
      .select("readName", "start").collect().map(_.toSeq).toSet
    val want = V1Parse.bamRegion(V1Parse.bam(file), "chr1", 30000, 40000)
      .map(r => Seq(r._1, r._4)).toSet
    assert(got == want)
    assert(got.nonEmpty)
    // records spanning INTO the region from before its start are kept
    assert(got.exists(r => r(1).asInstanceOf[Int] < 30000))
    // unknown reference on a sorted file: zero ranges, zero rows
    val (_, none, _) = Bam.regionPlan(spark, file, "chrX", 1, 100, 1L << 16, 16384)
    assert(none.isEmpty)
    // a SHUFFLED (not coordinate-sorted) file: the probe sees
    // non-monotone first-record keys, keeps every range, and the result
    // still equals scan+filter (correct, just unpruned)
    val shuffled = scala.util.Random.shuffle((0 until n).toList).zipWithIndex
      .map { case (pos, i) =>
        val len = 80 + rng.nextInt(40)
        val bases = Array.fill(len)("ACGT"(rng.nextInt(4))).mkString
        val quals = Array.fill(len)(('!' + 2 + rng.nextInt(40)).toChar).mkString
        (f"s$i%06d", 0, "chr1", pos * 25 + 1, 60, s"${len}M", bases, quals)
      }.toDF("readName", "flag", "referenceName", "start", "mapq", "cigar",
        "bases", "quality")
    val ufile = s"$dir/shuffled.bam"
    Bam.write(shuffled.coalesce(1), ufile, refs = Seq(("chr1", 200000)),
      singleFile = true)
    val (uall, usurv, _) =
      Bam.regionPlan(spark, ufile, "chr1", 30000, 40000, 1L << 16, 16384)
    assert(uall.size >= 3)
    assert(usurv == uall, "unsorted file must keep every range")
    val ugot = Bam.readRegion(spark, ufile, "chr1", 30000, 40000,
        splitBytes = 1 << 16)
      .select("readName", "start").collect().map(_.toSeq).toSet
    val uwant = V1Parse.bamRegion(V1Parse.bam(ufile), "chr1", 30000, 40000)
      .map(r => Seq(r._1, r._4)).toSet
    assert(ugot == uwant)
  }

  test("region read over a DIRECTORY of sorted per-part BAMs prunes per file") {
    import spark.implicits._
    val rng = new scala.util.Random(31)
    // two range-disjoint sorted files in one dir (the range-partitioned
    // write shape): regions inside file 1's span must prune ALL of file 2
    val dir = java.nio.file.Files.createTempDirectory("graft_bam_multi").toString
    def mk(file: String, lo: Int, n: Int): Unit = {
      val rows = (0 until n).map { i =>
        val len = 80 + rng.nextInt(40)
        val bases = Array.fill(len)("ACGT"(rng.nextInt(4))).mkString
        val quals = Array.fill(len)(('!' + 2 + rng.nextInt(40)).toChar).mkString
        (f"r${lo + i * 25}%07d", 0, "chr1", lo + i * 25, 60, s"${len}M", bases, quals)
      }.toDF("readName", "flag", "referenceName", "start", "mapq", "cigar",
        "bases", "quality")
      Bam.write(rows.coalesce(1), s"$dir/$file",
        refs = Seq(("chr1", 300000)), singleFile = true)
    }
    mk("part-0.bam", 1, 2000)      // spans [1, ~50000]
    mk("part-1.bam", 100001, 2000) // spans [100001, ~150000]
    val (all, surviving, _) =
      Bam.regionPlan(spark, dir, "chr1", 10000, 20000, 1L << 16, 16384)
    assert(all.exists(_._1.contains("part-1")), "both files must range")
    assert(!surviving.exists(_._1.contains("part-1")),
      "file 2 is wholly out of region — every range of it must prune")
    assert(surviving.nonEmpty)
    val got = Bam.readRegion(spark, dir, "chr1", 10000, 20000,
        splitBytes = 1 << 16)
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1))).collect()(0).getLong(0)
    val want = V1Parse.bamRegion(V1Parse.bam(dir), "chr1", 10000, 20000)
      .size.toLong
    assert(got == want && got > 0)
  }

  test("@HD SO tag drives region-pruning policy") {
    import spark.implicits._
    val rng = new scala.util.Random(41)
    def rowsDf(n: Int) = (0 until n).map { i =>
      val len = 80 + rng.nextInt(40)
      val bases = Array.fill(len)("ACGT"(rng.nextInt(4))).mkString
      val quals = Array.fill(len)(('!' + 2 + rng.nextInt(40)).toChar).mkString
      (f"r$i%06d", 0, "chr1", i * 25 + 1, 60, s"${len}M", bases, quals)
    }.toDF("readName", "flag", "referenceName", "start", "mapq", "cigar",
      "bases", "quality")
    val dir = java.nio.file.Files.createTempDirectory("graft_bam_so").toString

    // SO:coordinate on genuinely sorted data: pruning active
    val cfile = s"$dir/coord.bam"
    Bam.write(rowsDf(4000).coalesce(1), cfile, refs = Seq(("chr1", 200000)),
      singleFile = true, sortOrder = Some("coordinate"))
    val (call, csurv, cmeta) =
      Bam.regionPlan(spark, cfile, "chr1", 30000, 40000, 1L << 16, 16384)
    assert(cmeta.values.head._4.contains("coordinate"))
    assert(csurv.size < call.size && csurv.nonEmpty)

    // SO:queryname is an AUTHORITATIVE negative: same (sorted!) bytes,
    // but the declaration forbids pruning — every range is kept even
    // though the probe keys are monotone
    val qfile = s"$dir/qname.bam"
    Bam.write(rowsDf(4000).coalesce(1), qfile, refs = Seq(("chr1", 200000)),
      singleFile = true, sortOrder = Some("queryname"))
    val (qall, qsurv, qmeta) =
      Bam.regionPlan(spark, qfile, "chr1", 30000, 40000, 1L << 16, 16384)
    assert(qmeta.values.head._4.contains("queryname"))
    assert(qsurv == qall, "declared non-coordinate SO must disable pruning")
    // and the read still returns the correct region rows (scan + filter)
    val got = Bam.readRegion(spark, qfile, "chr1", 30000, 40000,
        splitBytes = 1 << 16)
      .select("readName").collect().map(_.getString(0)).toSet
    val want = V1Parse.bamRegion(V1Parse.bam(qfile), "chr1", 30000, 40000)
      .map(_._1).toSet
    assert(got == want && got.nonEmpty)
  }

  test("property: random regions on the sorted file always equal scan+filter") {
    import spark.implicits._
    // reuse one sorted multi-block fixture for 6 random regions
    val rng = new scala.util.Random(29)
    val n = 4000
    val rows = (0 until n).map { i =>
      val len = 80 + rng.nextInt(40)
      val bases = Array.fill(len)("ACGT"(rng.nextInt(4))).mkString
      val quals = Array.fill(len)(('!' + 2 + rng.nextInt(40)).toChar).mkString
      (f"r$i%06d", 0, "chr1", i * 25 + 1, 60, s"${len}M", bases, quals)
    }.toDF("readName", "flag", "referenceName", "start", "mapq", "cigar",
      "bases", "quality")
    val dir = java.nio.file.Files.createTempDirectory("graft_bam_prop").toString
    val file = s"$dir/sorted.bam"
    Bam.write(rows.coalesce(1), file, refs = Seq(("chr1", 200000)),
      singleFile = true)
    val full = Bam.read(spark, file)
      .select("readName", "start", "bases").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2)))
    for (t <- 0 until 6) {
      // spans from empty (beyond data) to nearly-whole-file
      val lo = 1 + rng.nextInt(120000)
      val hi = lo + rng.nextInt(40000)
      val got = Bam.readRegion(spark, file, "chr1", lo, hi,
          splitBytes = 1 << 16)
        .select("readName", "start").collect().map(_.toSeq).toSet
      val want = full.filter { case (_, s, b) =>
        s <= hi && s + b.length - 1 >= lo
      }.map(r => Seq(r._1, r._2)).toSet
      assert(got == want, s"region [$lo,$hi]")
    }
  }
}
