package graft

import graft.io.Fastq
import graft.io.v2.{FastaSource, FastqSource}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Property-based parity for the DataSourceV2 readers: ARBITRARY
  * well-formed corpora (random record counts, lengths, hostile quality
  * first-bytes, multi-line bodies, CRLF line endings) read through the
  * v2 byte scanner must equal the v1 parse rules ([[V1Parse]]) at
  * every split size — including splits smaller than one record. Raw ScalaCheck generators
  * driven by fixed seeds (the scalatest bridge isn't on the classpath;
  * fixed seeds keep failures reproducible anyway).
  */
class V2PropertySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def write(name: String, content: String): String = {
    val dir = Files.createTempDirectory("graft_prop_" + name)
    Files.writeString(dir.resolve("data.txt"), content)
    dir.toString
  }

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private val baseGen: Gen[Char] = Gen.oneOf('A', 'C', 'G', 'T')

  private val fastqRecordGen: Gen[String] = for {
    n <- Gen.choose(1, 60)
    seq <- Gen.stringOfN(n, baseGen)
    // quality may START with '@' or '+' — boundary-probe bait
    q0 <- Gen.oneOf('@', '+', 'I', '#')
    qrest <- Gen.stringOfN(n - 1, Gen.choose('"', 'J'))
    id <- Gen.choose(0, 999999)
    mate <- Gen.oneOf("1:N:0:AC", "2:Y:0:AC")
  } yield s"@R$id:7:FC:1:2:$id:${id * 2} $mate\n$seq\n+\n$q0$qrest\n"

  private val fastqCorpusGen: Gen[String] = for {
    k <- Gen.choose(1, 120)
    recs <- Gen.listOfN(k, fastqRecordGen)
  } yield recs.mkString

  test("property: v2 FASTQ == v1 for arbitrary corpora and split sizes") {
    val splits = Seq(64L, 257L, 1021L, 1L << 20)
    for (i <- 0 until 8) {
      val corpus = sample(fastqCorpusGen, 1000L + i)
      val split = splits(i % splits.length)
      val dir = write("fq", corpus)
      val v1 = V1Parse.fastq(spark, corpus).toSet
      val v2 = spark.read.format(classOf[FastqSource].getName)
        .option("splitBytes", split.toString).load(dir)
        .collect().map(_.toSeq).toSet
      assert(v2 == v1, s"seed=${1000 + i} split=$split\n${corpus.take(400)}")
    }
  }

  private val fastaRecordGen: Gen[String] = for {
    id <- Gen.choose(0, 999999)
    hasDesc <- Gen.oneOf(true, false)
    nLines <- Gen.choose(0, 4)
    lines <- Gen.listOfN(nLines,
      Gen.choose(1, 40).flatMap(n => Gen.stringOfN(n, baseGen)))
  } yield {
    val hdr = if (hasDesc) s">c$id some desc $id" else s">c$id"
    (hdr +: lines).mkString("", "\n", "\n")
  }

  private val fastaCorpusGen: Gen[String] = for {
    k <- Gen.choose(1, 80)
    recs <- Gen.listOfN(k, fastaRecordGen)
  } yield recs.mkString

  test("property: v2 FASTA == v1 for arbitrary corpora and split sizes") {
    val splits = Seq(16L, 131L, 1L << 20)
    for (i <- 0 until 8) {
      val corpus = sample(fastaCorpusGen, 2000L + i)
      val split = splits(i % splits.length)
      val dir = write("fa", corpus)
      val v1 = V1Parse.fasta(corpus).toSet
      val v2 = spark.read.format(classOf[FastaSource].getName)
        .option("splitBytes", split.toString).load(dir)
        .collect().map(_.toSeq).toSet
      assert(v2 == v1, s"seed=${2000 + i} split=$split\n${corpus.take(400)}")
    }
  }

  test("CRLF line endings parse identically in both readers") {
    val crlf = "@R1:7:FC:1:2:3:4 1:N:0:AC\r\nACGT\r\n+\r\nIIII\r\n"
    val dir = write("crlf", crlf)
    val v1 = V1Parse.fastq(spark, crlf).toSet
    val v2 = Fastq.read(spark, dir).collect().map(_.toSeq).toSet
    assert(v1 == v2)
    assert(v1.nonEmpty)
  }
}
