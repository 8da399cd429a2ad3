package graft

import graft.io.v2.{FastaSource, FastqSource}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** DataSourceV2 FASTQ/FASTA/BAM readers: row parity with the v1 parse
  * rules ([[V1Parse]], incl. hostile split boundaries and gzip), the
  * point of the exercise — `SupportsPushDownRequiredColumns` actually
  * pruning the scan's read schema — and scan equality for exchange
  * reuse.
  */
class V2IoSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def readV2(fmt: Class[_], dir: String, split: Long = 64L << 20): DataFrame =
    spark.read.format(fmt.getName).option("splitBytes", split.toString).load(dir)

  private def writeFixture(name: String, content: String): String = {
    val dir = Files.createTempDirectory("graft_v2_" + name)
    Files.writeString(dir.resolve("data.txt"), content)
    dir.toString
  }

  private def hostileFastq: String = {
    // quality lines starting with '@'/'+' — boundary probe bait
    val rng = new scala.util.Random(17)
    (0 until 300).map { i =>
      val n = 8 + rng.nextInt(40)
      val seq = Array.fill(n)("ACGT"(rng.nextInt(4))).mkString
      val qual = (if (i % 3 == 0) "@" else if (i % 3 == 1) "+" else "I") +
        Array.fill(n - 1)(('!' + 1 + rng.nextInt(40)).toChar).mkString
      s"@R$i:${i % 7}:FC:1:2:$i:${i * 2} ${1 + i % 2}:N:0:AC\n$seq\n+\n$qual\n"
    }.mkString
  }

  test("v2 FASTQ: full-schema rows equal v1 across split sizes") {
    val dir = writeFixture("fq", hostileFastq)
    val v1 = V1Parse.fastq(spark, hostileFastq).toSet
    for (split <- Seq(256L, 1021L, 64L << 20)) {
      val v2 = readV2(classOf[FastqSource], dir, split).collect().map(_.toSeq).toSet
      assert(v2 == v1, s"split=$split")
    }
  }

  test("v2 FASTQ: gzip single-partition fallback equals v1") {
    val dir = Files.createTempDirectory("graft_v2_gz")
    val out = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(dir.resolve("data.fastq.gz")))
    out.write(hostileFastq.getBytes("US-ASCII")); out.close()
    val v1 = V1Parse.fastq(spark, hostileFastq).toSet
    val v2 = readV2(classOf[FastqSource], dir.toString).collect().map(_.toSeq).toSet
    assert(v2 == v1)
    assert(v2.nonEmpty)
  }

  test("v2 FASTQ: bz2 single-partition fallback equals v1") {
    val dir = Files.createTempDirectory("graft_v2_bz2")
    val out = new org.apache.hadoop.io.compress.BZip2Codec()
    out.setConf(new org.apache.hadoop.conf.Configuration())
    val os = out.createOutputStream(
      Files.newOutputStream(dir.resolve("data.fastq.bz2")))
    os.write(hostileFastq.getBytes("US-ASCII")); os.close()
    val v1 = V1Parse.fastq(spark, hostileFastq).toSet
    val v2 = readV2(classOf[FastqSource], dir.toString).collect().map(_.toSeq).toSet
    assert(v2 == v1)
    assert(v2.nonEmpty)
  }

  test("v2 FASTQ: select(sequence) prunes the scan to one column") {
    val dir = writeFixture("fq_prune", hostileFastq)
    val df = readV2(classOf[FastqSource], dir).select("sequence")
    val scans = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty, df.queryExecution.executedPlan.toString.take(800))
    assert(scans.head.scan.readSchema().fieldNames.toSeq == Seq("sequence"),
      scans.head.scan.description())
    assert(df.collect().length == 300)
  }

  private val fastaFixture =
    """>k141_1 flag=1 multi=2.0000 len=24
      |ACGTACGTACGT
      |ACGTACGTACGT
      |>k141_2
      |TTTTGGGGCCCCAAAA
      |>
      |>k141_3
      |>k141_4 tail record
      |GGGG
      |""".stripMargin

  test("v2 FASTA: rows equal v1 (multi-line bodies, empty records, descriptions)") {
    val dir = writeFixture("fa", fastaFixture)
    val v1 = V1Parse.fasta(fastaFixture).toSet
    for (split <- Seq(16L, 64L, 64L << 20)) {
      val v2 = readV2(classOf[FastaSource], dir, split).collect().map(_.toSeq).toSet
      assert(v2 == v1, s"split=$split")
    }
  }

  test("v2 FASTA: select(id) prunes the body column out of the scan") {
    val dir = writeFixture("fa_prune", fastaFixture)
    val df = readV2(classOf[FastaSource], dir).select("id")
    val scans = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty)
    assert(scans.head.scan.readSchema().fieldNames.toSeq == Seq("id"))
    assert(df.collect().map(_.getString(0)).sorted.toSeq ==
      Seq("k141_1", "k141_2", "k141_3", "k141_4"))
  }

  test("short names resolve through DataSourceRegister") {
    val fq = writeFixture("fq_short", hostileFastq)
    assert(spark.read.format("fastq").load(fq).count() == 300)
    val fa = writeFixture("fa_short", fastaFixture)
    assert(spark.read.format("fasta").load(fa).count() == 4)
  }

  test("v2 FASTA: splittable read of a larger corpus matches v1 under tiny splits") {
    val rng = new scala.util.Random(5)
    val recs = (0 until 200).map { i =>
      val body = (0 until 1 + rng.nextInt(4)).map(_ =>
        Array.fill(10 + rng.nextInt(50))("ACGT"(rng.nextInt(4))).mkString).mkString("\n")
      s">c$i d$i\n$body\n"
    }.mkString
    val dir = writeFixture("fa_big", recs)
    val v1 = V1Parse.fasta(recs).toSet
    val v2 = readV2(classOf[FastaSource], dir, 512L).collect().map(_.toSeq).toSet
    assert(v2 == v1)
  }

  private def bamFixture(sortOrder: Option[String]): String = {
    import spark.implicits._
    val rng = new scala.util.Random(43)
    val rows = (0 until 3000).map { i =>
      val len = 80 + rng.nextInt(40)
      val bases = Array.fill(len)("ACGT"(rng.nextInt(4))).mkString
      val quals = Array.fill(len)(('!' + 2 + rng.nextInt(40)).toChar).mkString
      (f"r$i%06d", 0, "chr1", i * 25 + 1, 60, s"${len}M", bases, quals)
    }.toDF("readName", "flag", "referenceName", "start", "mapq", "cigar",
      "bases", "quality")
    val dir = Files.createTempDirectory("graft_v2_bam").toString
    val file = s"$dir/data.bam"
    graft.io.Bam.write(rows.coalesce(1), file, refs = Seq(("chr1", 200000)),
      singleFile = true, sortOrder = sortOrder)
    file
  }

  test("v2 BAM: rows equal v1 readSplittable across split sizes") {
    val file = bamFixture(None)
    val v1 = V1Parse.bam(file).map(_.productIterator.toSeq).toSet
    for (split <- Seq(1L << 16, 64L << 20)) {
      val v2 = spark.read.format("bam")
        .option("splitBytes", split.toString).load(file)
        .collect().map(_.toSeq).toSet
      assert(v2 == v1, s"split=$split")
    }
  }

  test("v2 BAM: region option plans only surviving ranges and equals v1 readRegion") {
    val file = bamFixture(Some("coordinate"))
    val v2df = spark.read.format("bam")
      .option("region", "chr1:30000-40000")
      .option("splitBytes", (1L << 16).toString)
      .load(file)
    // region pushdown visible in the plan: fewer partitions than the
    // plain scan has ranges
    val plain = spark.read.format("bam")
      .option("splitBytes", (1L << 16).toString).load(file)
    val scansOf = (df: org.apache.spark.sql.DataFrame) =>
      df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    val regionParts = scansOf(v2df).head.inputRDD.getNumPartitions
    val plainParts = scansOf(plain).head.inputRDD.getNumPartitions
    assert(regionParts < plainParts,
      s"region scan must prune ranges: $regionParts vs $plainParts")
    val got = v2df.select("readName", "start").collect().map(_.toSeq).toSet
    val want = V1Parse.bamRegion(V1Parse.bam(file), "chr1", 30000, 40000)
      .map(r => Seq(r._1, r._4)).toSet
    assert(got == want && got.nonEmpty)
  }

  test("v2 BAM: column pruning reaches the scan's read schema") {
    val file = bamFixture(None)
    val df = spark.read.format("bam").load(file).select("readName", "start")
    val scans = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty)
    assert(scans.head.scan.readSchema().fieldNames.toSeq == Seq("readName", "start"),
      scans.head.scan.description())
    assert(df.count() == 3000)
  }

  test("equal scans: a self-join reuses the scan's exchange for FASTQ, FASTA and BAM") {
    val inputs = Seq(
      ("fastq", writeFixture("fq_reuse", hostileFastq), "key"),
      ("fasta", writeFixture("fa_reuse", fastaFixture), "id"),
      ("bam", bamFixture(None), "readName"))
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // keep both sides shuffled
    try for ((format, path, key) <- inputs) {
      val df = spark.read.format(format).load(path)
      val joined = df.as("a").join(df.as("b"), col(s"a.$key") === col(s"b.$key"))
      val (_, reused) = FinalPlan.exchanges(joined)
      assert(reused == 1, s"$format:\n${joined.queryExecution.executedPlan}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }
}
