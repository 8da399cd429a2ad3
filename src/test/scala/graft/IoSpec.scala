package graft

import graft.io.{Fasta, Fastq, SamText}
import graft.operators.Pipeline
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** Fixture tests for the domain sources/sinks (FIXTURES.md cases:
  * multi-line FASTA bodies, empty records, both name styles, desynced
  * mate pairs, pairwise quality drop).
  */
class IoSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def writeFixture(name: String, content: String): String = {
    val dir = Files.createTempDirectory("graft_fixture_" + name)
    Files.writeString(dir.resolve("data.txt"), content)
    dir.toString
  }

  private val fastqFixture =
    """@SAMPLE01:42:FLOWCELL1:1:1101:1001:2201 1:N:0:ACGT
      |ACGTACGTACGT
      |+
      |IIIIIIIIIIII
      |@SAMPLE01:42:FLOWCELL1:1:1101:1001:2201 2:Y:0:ACGT
      |TTTTGGGGCCCC
      |+
      |@@@@IIII@@@@
      |""".stripMargin

  test("Fastq.read parses Illumina header fields") {
    val df = Fastq.read(spark, writeFixture("fq", fastqFixture))
    val rows = df.orderBy("read").collect()
    assert(rows.length == 2)
    val r1 = rows(0)
    assert(r1.getAs[String]("instrument") == "SAMPLE01")
    assert(r1.getAs[Int]("runNumber") == 42)
    assert(r1.getAs[String]("flowcellId") == "FLOWCELL1")
    assert(r1.getAs[Int]("lane") == 1)
    assert(r1.getAs[Int]("tile") == 1101)
    assert(r1.getAs[Int]("xpos") == 1001)
    assert(r1.getAs[Int]("ypos") == 2201)
    assert(r1.getAs[Int]("read") == 1)
    assert(r1.getAs[Boolean]("filterPassed")) // N → passed
    assert(!rows(1).getAs[Boolean]("filterPassed")) // Y → failed
    assert(r1.getAs[String]("sequence") == "ACGTACGTACGT")
    assert(rows(1).getAs[String]("quality") == "@@@@IIII@@@@")
  }

  test("Fastq round-trip write → read preserves records") {
    val dir = Files.createTempDirectory("graft_fq_rt").toString + "/out"
    val df = Fastq.read(spark, writeFixture("fq2", fastqFixture))
    Fastq.write(df, dir)
    val back = Fastq.read(spark, dir)
    assert(back.count() == 2)
    assert(back.select("key", "sequence", "quality").collect().toSet ==
      df.select("key", "sequence", "quality").collect().toSet)
  }

  private def readSplit(dir: String, splitBytes: Long) =
    spark.read.format("fastq").option("splitBytes", splitBytes.toString).load(dir)

  test("Fastq.read agrees with a splitBytes read cutting mid-record") {
    val dir = writeFixture("fq3", fastqFixture)
    val a = Fastq.read(spark, dir).collect().toSet
    val b = readSplit(dir, 64L).collect().toSet
    assert(a == b)
    assert(a.map(_.toSeq) == V1Parse.fastq(spark, fastqFixture).toSet)
  }

  test("Fastq.read frames a file from its first line, as the v1 parse does") {
    // the first record's quality is short: a mid-file probe would skip
    // it, but offset 0 is a record start by definition
    val text = "@R1 1:N:0:A\nACGTAC\n+\nIII\n@R2 1:N:0:A\nACGT\n+\nIIII\n"
    val dir = writeFixture("fq_first", text)
    assert(Fastq.read(spark, dir).collect().map(_.toSeq).toSeq == V1Parse.fastq(spark, text))
    assert(Fastq.read(spark, dir).count() == 2)
  }

  test("Fastq.read and Fasta.read fail on a path that does not exist") {
    val missing = Files.createTempDirectory("graft_missing").toString + "/nope"
    intercept[java.io.FileNotFoundException](Fastq.read(spark, missing).collect())
    intercept[java.io.FileNotFoundException](Fasta.read(spark, missing).collect())
    intercept[java.io.FileNotFoundException](graft.io.Bam.read(spark, missing).collect())
  }

  test("Fastq.read under ANSI mode: /1-/2 keys and bad ints read NULL header columns") {
    val fixture =
      """@pairA/1
        |ACGT
        |+
        |IIII
        |@pairA/2
        |TTGG
        |+
        |@@@@
        |@SAMPLE01:x42:FC1:1:1101:1001:2201 1:N:0:ACGT
        |CCAA
        |+
        |IIII
        |""".stripMargin
    val dir = writeFixture("fq_ansi", fixture)
    val saved = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val rows = Fastq.read(spark, dir).orderBy("key").collect()
      assert(rows.map(_.length).toSet == Set(13))
      val byKey = rows.map(r => r.getString(0) -> r).toMap
      val mate = byKey("pairA/1")
      assert(mate.getAs[String]("instrument") == "pairA/1")
      Seq("read", "runNumber", "flowcellId", "lane", "tile", "xpos", "ypos",
        "indexSequence", "filterPassed").foreach(c => assert(mate.isNullAt(mate.fieldIndex(c)), c))
      val bad = byKey("SAMPLE01:x42:FC1:1:1101:1001:2201 1:N:0:ACGT")
      assert(bad.isNullAt(bad.fieldIndex("runNumber")))
      assert(bad.getAs[Int]("tile") == 1101 && bad.getAs[Int]("read") == 1)
      // same NULL rule as the DataSourceV2 reader
      val v2 = spark.read.format(classOf[graft.io.v2.FastqSource].getName).load(dir)
      assert(v2.collect().map(_.toSeq).toSet == rows.map(_.toSeq).toSet)
    } finally spark.conf.set("spark.sql.ansi.enabled", saved)
  }

  test("Fastq.read splitBytes: tiny splits cutting mid-record, hostile quality lines") {
    // Quality lines that START with '@' and '+' — the probe must never
    // take one for a record boundary; varied lengths force splits to cut
    // records at every position.
    val rng = new scala.util.Random(11)
    val recs = (0 until 400).map { i =>
      val n = 8 + rng.nextInt(40)
      val seq = Array.fill(n)("ACGT" (rng.nextInt(4))).mkString
      val qual = (if (i % 3 == 0) "@" else if (i % 3 == 1) "+" else "I") +
        Array.fill(n - 1)(('!' + 1 + rng.nextInt(40)).toChar).mkString
      s"@R$i:${i % 7} 1:N:0:AC\n$seq\n+\n$qual\n"
    }.mkString
    val dir = writeFixture("fq_split", recs)
    val whole = Fastq.read(spark, dir)
      .select("key", "sequence", "quality").collect().map(_.toSeq).toSeq
    assert(whole == V1Parse.fastq(spark, recs).map(_.take(3)))
    for (split <- Seq(256L, 1021L, 4096L)) {
      val sp = readSplit(dir, split)
        .select("key", "sequence", "quality").collect().map(_.toSeq).toSeq
      assert(sp.size == whole.size, s"split=$split")
      assert(sp == whole, s"split=$split") // same records, same order
    }
  }

  private val fastaFixture =
    """>k141_1 flag=1 multi=2.0000 len=24
      |ACGTACGTACGT
      |ACGTACGTACGT
      |>k141_2
      |TTTTGGGGCCCCAAAA
      |>
      |>k141_3
      |""".stripMargin

  test("Fasta.read: multi-line bodies joined, empty records dropped, description split") {
    val rows = Fasta.read(spark, writeFixture("fa", fastaFixture))
      .orderBy("id").collect()
    assert(rows.length == 3)
    assert(rows(0).getAs[String]("id") == "k141_1")
    assert(rows(0).getAs[String]("description") == "flag=1 multi=2.0000 len=24")
    assert(rows(0).getAs[String]("sequence") == "ACGTACGTACGTACGTACGTACGT")
    assert(rows(1).getAs[String]("sequence") == "TTTTGGGGCCCCAAAA")
    assert(rows(2).getAs[String]("sequence") == "") // header-only record kept, empty body
  }

  test("Fasta wrapped write round-trips") {
    val dir = Files.createTempDirectory("graft_fa_rt").toString + "/out"
    val df = Fasta.read(spark, writeFixture("fa2", fastaFixture))
    Fasta.write(df, dir, wrap = 7)
    val back = Fasta.read(spark, dir)
    assert(back.select("id", "sequence").collect().toSet ==
      df.select("id", "sequence").collect().toSet)
  }

  test("renameContigsUniq appends unique suffixes") {
    import spark.implicits._
    val df = Seq(("c1", "ACGT"), ("c1", "GGTT")).toDF("id", "sequence")
    val out = Fasta.renameContigsUniq(df).collect()
    assert(out.map(_.getString(0)).distinct.length == 2)
    assert(out.forall(_.getString(0).startsWith("c1_")))
  }

  private val samFixture =
    """@HD	VN:1.6
      |@SQ	SN:ref	LN:100
      |r1	77	*	0	0	*	*	0	0	ACGT	IIII
      |r1	141	*	0	0	*	*	0	0	TTTT	IIII
      |r2	0	ref	10	60	4M	*	0	0	GGGG	IIII
      |r3	1101	ref	20	60	4M	*	0	0	CCCC	IIII
      |""".stripMargin

  test("SamText.read skips headers, derives flag bits") {
    val df = SamText.read(spark, writeFixture("sam", samFixture))
    assert(df.count() == 4)
    val r1 = df.filter(col("readName") === "r1" && col("flag") === 77).first()
    assert(r1.getAs[Boolean]("readUnmapped"))
    assert(r1.getAs[Boolean]("firstOfPair"))
    val r2 = df.filter(col("readName") === "r2").first()
    assert(!r2.getAs[Boolean]("readUnmapped"))
    assert(r2.getAs[Int]("start") == 10)
    val r3 = df.filter(col("readName") === "r3").first()
    assert(r3.getAs[Boolean]("duplicateRead")) // 1101 has bit 1024
  }

  test("SamText.toFastq adds mate suffixes (T3)") {
    val df = SamText.read(spark, writeFixture("sam2", samFixture))
    val keys = SamText.toFastq(df).select("key").collect().map(_.getString(0)).toSet
    assert(keys.contains("r1/1") && keys.contains("r1/2") && keys.contains("r2"))
  }

  test("interleave pairs by name and drops desynced reads (T9/F6)") {
    import spark.implicits._
    val r1 = Seq(("a/1", "ACGT", "IIII"), ("b/1", "CCCC", "IIII"))
      .toDF("key", "sequence", "quality")
    val r2 = Seq(("a/2", "TTTT", "IIII"), ("c/2", "GGGG", "IIII"))
      .toDF("key", "sequence", "quality")
    val out = Pipeline.interleave(r1, r2)
    val names = out.select("pairName").collect().map(_.getString(0))
    assert(names.toSet == Set("a")) // b and c are desynced → dropped
    assert(names.length == 2) // both mates of a survive
  }

  test("writeGroupedBySample partitions output one directory per sample (K6/A4)") {
    import spark.implicits._
    val reads = Seq(
      ("s1:1:FC:1:1:1:1", "ACGT", "IIII"),
      ("s1:1:FC:1:1:1:2", "CCCC", "IIII"),
      ("s2:1:FC:1:1:1:1", "GGGG", "IIII")
    ).toDF("key", "sequence", "quality")
    val out = Files.createTempDirectory("graft_grouped").toString + "/out"
    Pipeline.writeGroupedBySample(reads, out)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("sample=")).sorted
    assert(dirs.toSeq == Seq("sample=s1", "sample=s2"))
    val s1 = spark.read.parquet(out).filter(col("sample") === "s1")
    assert(s1.count() == 2)
  }

  test("forward/reverse split by name style (F7)") {
    import spark.implicits._
    val reads = Seq(
      ("a 1:N:0:1", "ACGT", "IIII"), ("a 2:N:0:1", "TTTT", "IIII"),
      ("b/1", "CCCC", "IIII"), ("b/2", "GGGG", "IIII")
    ).toDF("key", "sequence", "quality")
    val (fwd, rev) = Pipeline.splitForwardReverse(reads)
    assert(fwd.count() == 2 && rev.count() == 2)
    assert(fwd.select("key").collect().map(_.getString(0)).forall(k =>
      k.contains(" 1:") || k.endsWith("/1")))
  }

  test("pairedQualityFilter drops the partner of a failing mate (F2 pairwise)") {
    import spark.implicits._
    val reads = Seq(
      ("p/1", "ACGT", "IIII"), // good
      ("p/2", "ACGT", "!!!!"), // bad → kills p/1 too
      ("q/1", "ACGT", "IIII"),
      ("q/2", "ACGT", "IIII")
    ).toDF("key", "sequence", "quality")
    val out = Pipeline.pairedQualityFilter(reads, minAvgQuality = 40.0,
      lowQualThreshold = 40, maxLowQualCount = 2)
    val keys = out.select("key").collect().map(_.getString(0)).toSet
    assert(keys == Set("q/1", "q/2"))
  }

  test("Tables.events adapts to long-nanos AND timestamp ts physical types") {
    // The driver's events.parquet has shipped ts as TIMESTAMP(NANOS)
    // (readable only as a raw long) in some testdata generations and
    // TIMESTAMP(MICROS) in others; the r6 gate lost 17 queries to the
    // switch. Both layouts must load to the same timestamp_ntz values.
    import spark.implicits._
    val base = "2024-03-01T12:34:56.789012" // µs precision
    val micros = java.time.LocalDateTime.parse(base)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + 789012L

    val nanoDir = Files.createTempDirectory("graft_ev_nanos").toString
    Seq((1L, micros * 1000L, 7L, "view", 1.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$nanoDir/events.parquet")

    val tsDir = Files.createTempDirectory("graft_ev_micros").toString
    Seq((1L, java.time.LocalDateTime.parse(base), 7L, "view", 1.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tsDir/events.parquet")

    for (d <- Seq(nanoDir, tsDir)) {
      val df = Tables.events(spark, d)
      assert(df.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampNTZType, s"dir $d")
      val got = df.select(col("ts").cast("string")).head().getString(0)
      assert(got == "2024-03-01 12:34:56.789012", s"dir $d: $got")
    }
  }

  test("Avro container round-trip: primitives, nulls, bytes, float arrays") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_avro").toString
    val rows = (1 to 100).map { i =>
      (i.toLong,
        if (i % 7 == 0) null else s"text-$i,\"quoted\"\nline",
        i * 0.5f,
        if (i % 5 == 0) null else Array.fill(4)((i % 17).toByte),
        Seq.tabulate(3)(j => i * 1.0f + j),
        i % 2 == 0)
    }.toDF("id", "s", "f", "b", "vec", "flag")
      .repartition(5) // multiple container files
    graft.io.Avro.write(rows, dir)
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".avro")) == 5)
    val back = graft.io.Avro.read(spark, dir)
    assert(back.schema.map(f => (f.name, f.dataType)).toSeq ==
      rows.schema.map(f => (f.name, f.dataType)).toSeq)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id"), col("s"), col("f"), hex(col("b")).as("b"),
        col("vec"), col("flag"))
      .collect().map(_.toSeq.map {
        case s: Seq[_] => s.toList
        case v => v
      }).toSet
    assert(canon(back) == canon(rows))
    // unsupported Spark types are rejected loudly, not mis-encoded
    intercept[IllegalArgumentException] {
      graft.io.Avro.write(
        Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
          .toDF("id", "ts"), s"$dir/bad")
    }
    // empty partitions produce header-only containers; the read side
    // (including its schema resolution from the FIRST file, which may
    // be record-free) survives them
    val sparseDir = Files.createTempDirectory("graft_avro_sparse").toString
    graft.io.Avro.write(
      (1 to 10).map(i => (i.toLong, s"v$i")).toDF("id", "s")
        .repartition(40), sparseDir)
    val sparse = graft.io.Avro.read(spark, sparseDir)
    assert(sparse.count() == 10)
    assert(sparse.select("id").as[Long].collect().sorted.toSeq ==
      (1L to 10L))
  }

  test("BED/GFF3: header skips, dot-nulls, and coordinate normalization") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bed").toString
    Seq("track name=x", "browser position c1", "# comment",
      "c1\t10\t20\tiv1\t5\t+",
      "c1\t30\t40\t.\t.\t.").toDF("value")
      .coalesce(1).write.mode("overwrite").text(s"$dir/b")
    val bed = graft.io.Bed.read(spark, s"$dir/b")
      .as[(String, Long, Long, Option[String], Option[Double],
        Option[String], Long, Long)].collect().sortBy(_._2)
    assert(bed.length === 2)
    assert(bed(0) === (("c1", 10L, 20L, Some("iv1"), Some(5.0),
      Some("+"), 10L, 20L)))
    assert(bed(1)._4.isEmpty && bed(1)._5.isEmpty && bed(1)._6.isEmpty)
    Seq("##gff-version 3",
      "c1\tsrc\tgene\t100\t200\t.\t+\t.\tID=g1;pseudo").toDF("value")
      .coalesce(1).write.mode("overwrite").text(s"$dir/g")
    val g = graft.io.Bed.readGff3(spark, s"$dir/g").collect().head
    assert(g.getAs[Long]("start") === 100 && g.getAs[Long]("end") === 200)
    // GFF3 is 1-based CLOSED; the normalized pair is 0-based half-open
    assert(g.getAs[Long]("start0") === 99 && g.getAs[Long]("end0") === 200)
    val attrs = g.getAs[Map[String, String]]("attributes")
    assert(attrs("ID") === "g1" && attrs.contains("pseudo") &&
      attrs("pseudo") == null)
  }
}
