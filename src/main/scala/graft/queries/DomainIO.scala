package graft.queries

import graft.Tables
import graft.io.{Bam, BlastTsv, Fasta, Fastq, SamText}
import graft.operators.Pipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Domain-format IO, verified by ROUND-TRIP: deterministic FASTQ/FASTA/
  * SAM/BLAST-TSV content is generated from the harness tables, written
  * with our sinks, read back with our sources, and the parsed result is
  * hash-compared against a DuckDB oracle that reconstructs the same
  * records straight from the parquet — so the writer, the reader, and
  * the header/field parsers are all under oracle test (SURVEY.md S1-S4,
  * K1-K4, T3, F5, J1+F10).
  */
object DomainIO {

  private def tmp(d: String, name: String): String =
    s"/tmp/graft_io/${new java.io.File(d).getName}/$name"

  // digits → bases/quality (cross-engine: translate() in both).
  private def dnaOf(c: org.apache.spark.sql.Column) =
    translate(c.cast("string"), "0123456789", "ACGTACGTAC")
  private def qualOf(c: org.apache.spark.sql.Column) =
    translate(c.cast("string"), "0123456789", "IJKLMNOPQH")

  /** q285/q306 shared fixture: 3-sample VCF whose genotypes derive
    * from `(o_orderkey * m) % 4` per sample multiplier m in (1, 3, 5)
    * — class 3 is the uncalled `./.` stratum.
    */
  private def hweVcfFixture(s: SparkSession, d: String,
                            name: String): String = {
    val dir = tmp(d, name)
    val o = Tables.orders(s, d)
    def gt(m: Int) = {
      val c = pmod(col("o_orderkey") * m, lit(4))
      when(c === 0, "0/0").when(c === 1, "0/1")
        .when(c === 2, "1/1").otherwise("./.")
    }
    val lines = o.select(concat_ws("\t",
      concat(lit("chr"), pmod(col("o_custkey"), lit(3)).cast("string")),
      col("o_orderkey").cast("string"), lit("."), lit("A"), lit("G"),
      lit("50"), lit("PASS"), lit("NS=3"), lit("GT"),
      gt(1), gt(3), gt(5)).as("value"))
    import s.implicits._
    val header = "##fileformat=VCFv4.3\n" +
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tsA\tsB\tsC"
    lines.coalesce(1).as[String]
      .mapPartitions(it => Iterator(header) ++ it)
      .write.mode("overwrite").text(dir)
    dir
  }

  /** q287/q288 shared fixture: SAM round-trip through a 4-stratum
    * CIGAR grammar (match / soft-clip / deletion / insertion by k%4;
    * k >= 1000 keeps every read >= 4 bases), then [[ViraPipeline
    * .pileup]].
    */
  private def pileupFixture(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).filter(col("o_orderkey") >= 1000)
    val k = col("o_orderkey")
    val bases = dnaOf(k)
    val len = length(bases)
    val strat = pmod(k, lit(4))
    val cig = when(strat === 0, concat(len, lit("M")))
      .when(strat === 1, concat(lit("1S"), len - 1, lit("M")))
      .when(strat === 2, concat(lit("2M3D"), len - 2, lit("M")))
      .otherwise(concat(lit("2M1I"), len - 3, lit("M")))
    val sam = o.select(
      concat_ws("", lit("r"), k).as("readName"),
      lit(0).as("flag"),
      concat(lit("c"), pmod(col("o_custkey"), lit(2)).cast("string"))
        .as("referenceName"),
      (pmod(k, lit(30)) + 1).cast("int").as("start"),
      lit(60).as("mapq"),
      cig.as("cigar"),
      bases.as("bases"),
      qualOf(k).as("quality"))
    val dir = tmp(d, "sam_pileup")
    SamText.write(sam, dir)
    graft.operators.ViraPipeline.pileup(
      SamText.read(s, dir).filter(!col("readUnmapped")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1 via DataSourceV2: same fixture as q50, read through
    // graft.io.v2.FastqSource with a PRUNED projection — quality (and
    // 9 header fields) never materialize in the scan
    // (SupportsPushDownRequiredColumns; V2IoSpec asserts the read
    // schema, this row asserts the values).
    "q105_fastq_v2_pruned" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val mate = when(col("l_linenumber") % 2 === 1, 1).otherwise(2)
      val fq = li.select(
        concat_ws("",
          lit("M01:"), col("l_orderkey"), lit(":FC1:2:1101:"),
          col("l_partkey"), lit(":"), col("l_linenumber"),
          lit(" "), mate, lit(":N:0:ACGT")).as("key"),
        dnaOf(col("l_partkey")).as("sequence"),
        qualOf(col("l_partkey")).as("quality"))
      val dir = tmp(d, "fastq_v2")
      Fastq.write(fq, dir)
      s.read.format(classOf[graft.io.v2.FastqSource].getName).load(dir)
        .select("key", "sequence", "read")
    },

    // S3 via DataSourceV2: q51's fixture through graft.io.v2.FastaSource
    // with the body column pruned away — only ids and descriptions are
    // ever built.
    "q106_fasta_v2_pruned" -> { (s, d) =>
      val p = Tables.part(s, d)
      val contigs = p.select(
        concat_ws("", lit("P"), col("p_partkey")).as("id"),
        translate(regexp_replace(upper(col("p_name")), "[^A-Z]", ""),
          "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
          "ACGTACGTACGTACGTACGTACGTAC").as("sequence"))
      val dir = tmp(d, "fasta_v2")
      Fasta.write(contigs, dir, wrap = 10)
      s.read.format(classOf[graft.io.v2.FastaSource].getName).load(dir)
        .select("id", "description")
    },

    // S2 region query: coordinate-sorted single-file BAM → readRegion
    // prunes out-of-region BGZF ranges via the distributed one-record
    // probe (BamSpec asserts the pruning; this row asserts the values
    // against a straight SQL reconstruction of the region).
    "q107_bam_region" -> { (s, d) =>
      val o = Tables.orders(s, d)
      val bam = o.select(
        concat_ws("", lit("r"), col("o_orderkey")).as("readName"),
        lit(0).as("flag"),
        lit("chr1").as("referenceName"),
        (col("o_orderkey") + 1).cast("int").as("start"),
        lit(60).as("mapq"),
        concat(length(dnaOf(col("o_orderkey"))).cast("string"), lit("M"))
          .as("cigar"),
        dnaOf(col("o_orderkey")).as("bases"),
        qualOf(col("o_orderkey")).as("quality"))
        .repartition(1).sortWithinPartitions("start", "readName")
      val file = tmp(d, "bam_region.bam")
      Bam.write(bam, file, refs = Seq(("chr1", 200000)), singleFile = true,
        sortOrder = Some("coordinate"))
      Bam.readRegion(s, file, "chr1", 500, 900, splitBytes = 1L << 16,
          maxSpan = 64)
        .select(col("readName"), col("start"), col("bases"))
    },

    // S2 region query through the DSv2 source: the SAME region, but the
    // probe plan + residual predicate ride `.option("region", ...)` —
    // the v2 filter story for a coordinate format (q107's oracle, so
    // the two paths are pinned equal through one hash).
    "q115_bam_v2_region" -> { (s, d) =>
      val o = Tables.orders(s, d)
      val bam = o.select(
        concat_ws("", lit("r"), col("o_orderkey")).as("readName"),
        lit(0).as("flag"),
        lit("chr1").as("referenceName"),
        (col("o_orderkey") + 1).cast("int").as("start"),
        lit(60).as("mapq"),
        concat(length(dnaOf(col("o_orderkey"))).cast("string"), lit("M"))
          .as("cigar"),
        dnaOf(col("o_orderkey")).as("bases"),
        qualOf(col("o_orderkey")).as("quality"))
        .repartition(1).sortWithinPartitions("start", "readName")
      val file = tmp(d, "bam_v2_region.bam")
      Bam.write(bam, file, refs = Seq(("chr1", 200000)), singleFile = true,
        sortOrder = Some("coordinate"))
      s.read.format("bam")
        .option("region", "chr1:500-900")
        .option("splitBytes", (1L << 16).toString)
        .option("maxSpan", "64")
        .load(file)
        .select(col("readName"), col("start"), col("bases"))
    },

    // S2 region query through the BAI INDEX: the writer emits a sibling
    // .bai (bins + 16kbp linear index from the serializer's virtual
    // offsets), and readRegion routes through Bai.chunksFor — no probe
    // pass, exact long-record bounds. Same oracle as q107/q115, so the
    // probe, v2-option, and indexed paths are pinned to one hash.
    "q118_bam_bai_region" -> { (s, d) =>
      val o = Tables.orders(s, d)
      val bam = o.select(
        concat_ws("", lit("r"), col("o_orderkey")).as("readName"),
        lit(0).as("flag"),
        lit("chr1").as("referenceName"),
        (col("o_orderkey") + 1).cast("int").as("start"),
        lit(60).as("mapq"),
        concat(length(dnaOf(col("o_orderkey"))).cast("string"), lit("M"))
          .as("cigar"),
        dnaOf(col("o_orderkey")).as("bases"),
        qualOf(col("o_orderkey")).as("quality"))
        .repartition(1).sortWithinPartitions("start", "readName")
      val file = tmp(d, "bam_bai_region.bam")
      Bam.write(bam, file, refs = Seq(("chr1", 200000)), singleFile = true,
        sortOrder = Some("coordinate"), index = true)
      require(Bam.baiRegionPlan(s, file, "chr1", 500, 900).isDefined,
        "q118 must exercise the indexed path")
      Bam.readRegion(s, file, "chr1", 500, 900)
        .select(col("readName"), col("start"), col("bases"))
    },

    // S1 STREAMING twin under the oracle (the genomic analog of q86's
    // events parity): the q50 FASTQ fixture ingested by Structured
    // Streaming — binaryFile file-stream source → the batch reader's
    // own parse+projection (GenomicStreams.readFastqStream) → parquet
    // sink (append, Trigger.AvailableNow) → read back. Stateless
    // narrow transform ⇒ no watermark needed; oracle = q50-style SQL,
    // so batch reader, stream reader, and both engines are pinned to
    // one hash.
    "q116_fastq_stream" -> { (s, d) =>
      import org.apache.spark.sql.streaming.Trigger
      val li = Tables.lineitem(s, d)
      val mate = when(col("l_linenumber") % 2 === 1, 1).otherwise(2)
      val fq = li.select(
        concat_ws("",
          lit("M01:"), col("l_orderkey"), lit(":FC1:2:1101:"),
          col("l_partkey"), lit(":"), col("l_linenumber"),
          lit(" "), mate, lit(":N:0:ACGT")).as("key"),
        dnaOf(col("l_partkey")).as("sequence"),
        qualOf(col("l_partkey")).as("quality"))
      val base = Fixtures.fresh(tmp(d, "fastq_stream"))
      Fastq.write(fq, s"$base/in")
      val stream = graft.streaming.GenomicStreams
        .readFastqStream(s, s"$base/in")
        .select("key", "sequence", "read")
      val q = stream.writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.schema(stream.schema).parquet(s"$base/out")
    },

    // T5 under oracle test (q101 flag pattern): uuid() values can't
    // hash-match another engine, so the row emits exact counts plus
    // deterministic structural flags — every renamed id is unique,
    // carries the uuid format, and preserves its original prefix.
    "q110_rename_contigs" -> { (s, d) =>
      val contigs = Tables.part(s, d).select(
        concat_ws("", lit("P"), col("p_partkey")).as("id"),
        lit("ACGT").as("sequence"))
      val renamed = Fasta.renameContigsUniq(contigs)
      val uuidRe =
        "^P[0-9]+_[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$"
      renamed.agg(
          count(lit(1)).as("n_rows"),
          count_distinct(col("id")).as("_n_ids"),
          bool_and(col("id").rlike(uuidRe)).as("format_ok"),
          count_distinct(regexp_extract(col("id"), "^(P[0-9]+)_", 1))
            .as("_n_prefixes"))
        .select(col("n_rows"),
          (col("_n_ids") === col("n_rows")).as("ids_unique"),
          col("format_ok"),
          (col("_n_prefixes") === col("n_rows")).as("prefixes_preserved"))
    },

    // S1+K1+T1: FASTQ write → read → Illumina-header projection.
    "q50_fastq_roundtrip" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val mate = when(col("l_linenumber") % 2 === 1, 1).otherwise(2)
      val fq = li.select(
        concat_ws("",
          lit("M01:"), col("l_orderkey"), lit(":FC1:2:1101:"),
          col("l_partkey"), lit(":"), col("l_linenumber"),
          lit(" "), mate, lit(":N:0:ACGT")).as("key"),
        dnaOf(col("l_partkey")).as("sequence"),
        qualOf(col("l_partkey")).as("quality"))
      val dir = tmp(d, "fastq")
      Fastq.write(fq, dir)
      Fastq.read(s, dir)
    },

    // S3+K4+F11: FASTA write (wrapped at 10 chars — multi-line bodies)
    // → delimiter-safe read → (id, sequence).
    "q51_fasta_roundtrip" -> { (s, d) =>
      val p = Tables.part(s, d)
      val contigs = p.select(
        concat_ws("", lit("P"), col("p_partkey")).as("id"),
        translate(regexp_replace(upper(col("p_name")), "[^A-Z]", ""),
          "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
          "ACGTACGTACGTACGTACGTACGTAC").as("sequence"))
      val dir = tmp(d, "fasta")
      Fasta.write(contigs, dir, wrap = 10)
      Fasta.read(s, dir).select("id", "sequence")
    },

    // S2+K5+F5: SAM write → read → flag-77/141 both-unmapped filter
    // (AlignInterleaved.java:104-139).
    "q52_sam_flag_filter" -> { (s, d) =>
      val o = Tables.orders(s, d)
      val sam = o.select(
        concat_ws("", lit("r"), col("o_orderkey")).as("readName"),
        when(col("o_orderstatus") === "F", 77)
          .when(col("o_orderstatus") === "O", 141)
          .otherwise(4).as("flag"),
        lit("*").as("referenceName"),
        lit(0).as("start"),
        lit(0).as("mapq"),
        lit("*").as("cigar"),
        dnaOf(col("o_orderkey")).as("bases"),
        qualOf(col("o_orderkey")).as("quality"))
      val dir = tmp(d, "sam")
      SamText.write(sam, dir)
      SamText.read(s, dir)
        .filter(col("flag").isin(77, 141))
        .select(col("readName"), col("flag"), col("readUnmapped"),
          col("firstOfPair"), col("secondOfPair"))
    },

    // S4+K3+J1+F10: BLAST TSV write → schema read → BlastNFilter
    // (left-outer join + pident/overlap threshold, no-hit contigs kept).
    "q53_blast_filter" -> { (s, d) =>
      val p = Tables.part(s, d)
      val contigs = p.select(
        concat_ws("", lit("P"), col("p_partkey")).as("id"),
        translate(regexp_replace(upper(col("p_name")), "[^A-Z]", ""),
          "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
          "ACGTACGTACGTACGTACGTACGTAC").as("sequence"))
      val li = Tables.lineitem(s, d)
      val hits = li.select(
        concat_ws("", lit("P"), col("l_partkey")).as("qseqid"),
        concat_ws("", lit("S"), col("l_suppkey")).as("sseqid"),
        (lit(50.0) + (col("l_partkey") % 50).cast("double")).as("pident"),
        lit(10).as("length"), lit(0).as("mismatch"), lit(0).as("gapopen"),
        lit(1L).as("qstart"),
        (col("l_quantity") * 2).cast("long").as("qend"),
        lit(1L).as("sstart"), lit(10L).as("send"),
        lit(0.001).as("evalue"), lit(100.0).as("bitscore"))
      val dir = tmp(d, "blast")
      BlastTsv.write(hits, dir)
      Pipeline.blastThresholdFilter(contigs, BlastTsv.read(s, dir), 70.0)
        .select("id")
    },

    // P1-P4 machinery: stream records through a forked process (identity
    // command) and parse them back — the pipe operator under oracle test.
    "q54_pipe_roundtrip" -> { (s, d) =>
      import s.implicits._
      val lines = Tables.documents(s, d)
        .select(concat_ws("\t", col("doc_id"), md5(col("text"))).as("line"))
        .as[String]
      val piped = graft.pipe.PipeStage(Seq("cat")).run(lines)
      val f = split(col("value"), "\t")
      piped.toDF("value").select(
        f.getItem(0).cast("long").as("doc_id"),
        f.getItem(1).as("text_md5"))
    },

    // F7: forward/reverse split (FastqFilter.java:80-87) through a FASTQ
    // round-trip — mates re-paired by joining the two split halves.
    "q55_fwdrev_split" -> { (s, d) =>
      val o = Tables.orders(s, d)
      val r1 = o.select(
        concat_ws("", lit("r"), col("o_orderkey"), lit("/1")).as("key"),
        dnaOf(col("o_orderkey")).as("sequence"),
        qualOf(col("o_orderkey")).as("quality"))
      val r2 = o.select(
        concat_ws("", lit("r"), col("o_orderkey"), lit("/2")).as("key"),
        graft.functions.DnaFunctions.revComp(dnaOf(col("o_orderkey"))).as("sequence"),
        qualOf(col("o_orderkey")).as("quality"))
      val dir = tmp(d, "fqsplit")
      Fastq.write(r1.unionByName(r2), dir)
      val back = Fastq.read(s, dir).select("key", "sequence", "quality")
      val (fwd, rev) = Pipeline.splitForwardReverse(back)
      fwd.select(regexp_replace(col("key"), "/1$", "").as("pair"),
          col("sequence").as("fwd_seq"))
        .join(rev.select(regexp_replace(col("key"), "/2$", "").as("pair"),
          col("sequence").as("rev_seq")), "pair")
    },

    // T9/J3/F6 + S5: mate interleave from two GZIP-compressed FASTQ
    // directories (the reference's actual input shape — paired .gz files,
    // DecompressInterleave.java:78-139), name-keyed; 1-in-10 R2 mates
    // are withheld so the desync-drop is oracle-checked.
    "q56_interleave" -> { (s, d) =>
      val c = Tables.customer(s, d)
      val r1 = c.select(
        concat_ws("", lit("c"), col("c_custkey"), lit("/1")).as("key"),
        dnaOf(col("c_custkey")).as("sequence"),
        qualOf(col("c_custkey")).as("quality"))
      val r2 = c.filter(col("c_custkey") % 10 =!= 0).select(
        concat_ws("", lit("c"), col("c_custkey"), lit("/2")).as("key"),
        graft.functions.DnaFunctions.revComp(dnaOf(col("c_custkey"))).as("sequence"),
        qualOf(col("c_custkey")).as("quality"))
      val dir1 = tmp(d, "il_r1")
      val dir2 = tmp(d, "il_r2")
      Fastq.write(r1, dir1, compression = Some("gzip"))
      Fastq.write(r2, dir2, compression = Some("gzip"))
      Pipeline.interleave(
          Fastq.read(s, dir1).select("key", "sequence", "quality"),
          Fastq.read(s, dir2).select("key", "sequence", "quality"))
        .select(col("pairName").as("pair"), col("mate"), col("sequence"))
    },

    // K6/A4/T8: grouped per-sample write (FastqGroupper.java:63-109) as a
    // partitionBy parquet write, read back and re-aggregated.
    "q57_grouped_write" -> { (s, d) =>
      val c = Tables.customer(s, d)
      val reads = c.select(
        concat_ws("", lit("s"), col("c_nationkey"), lit(":r"), col("c_custkey")).as("key"),
        dnaOf(col("c_custkey")).as("sequence"),
        qualOf(col("c_custkey")).as("quality"))
      val dir = tmp(d, "grouped")
      Pipeline.writeGroupedBySample(reads, dir)
      s.read.parquet(dir).groupBy("sample").agg(count(lit(1)).as("n"))
    },

    // T3: SAM → FASTQ projection (SamToFastq.java:47-68) through a SAM
    // round-trip: pair flags become /1 · /2 mate suffixes.
    "q58_sam_to_fastq" -> { (s, d) =>
      val o = Tables.orders(s, d).filter(col("o_orderstatus").isin("F", "O"))
      val sam = o.select(
        concat_ws("", lit("r"), col("o_orderkey")).as("readName"),
        when(col("o_orderstatus") === "F", 77).otherwise(141).as("flag"),
        lit("*").as("referenceName"), lit(0).as("start"), lit(0).as("mapq"),
        lit("*").as("cigar"),
        dnaOf(col("o_orderkey")).as("bases"),
        qualOf(col("o_orderkey")).as("quality"))
      val dir = tmp(d, "sam2fq")
      SamText.write(sam, dir)
      SamText.toFastq(SamText.read(s, dir))
        .select("key", "sequence", "quality")
    },

    // S2/K5 complete: BAM BINARY write → read (BGZF + record codec from
    // the public SAM v1 spec) → the same flag filter as the SAM-text twin
    // q52, plus the seq/qual codecs under oracle test via bases/quality.
    "q59_bam_roundtrip" -> { (s, d) =>
      val o = Tables.orders(s, d)
      val bam = o.select(
        concat_ws("", lit("r"), col("o_orderkey")).as("readName"),
        when(col("o_orderstatus") === "F", 77)
          .when(col("o_orderstatus") === "O", 141)
          .otherwise(4).as("flag"),
        lit("*").as("referenceName"),
        lit(0).as("start"),
        lit(0).as("mapq"),
        lit("*").as("cigar"),
        dnaOf(col("o_orderkey")).as("bases"),
        qualOf(col("o_orderkey")).as("quality"))
      val dir = tmp(d, "bam")
      Bam.write(bam, dir)
      Bam.read(s, dir)
        .filter(col("flag").isin(77, 141))
        .select(col("readName"), col("flag"), col("bases"), col("quality"),
          col("readUnmapped"), col("firstOfPair"), col("secondOfPair"))
    },

    // F9: blastn pipe (13-column outfmt '6 std staxids' mock) → taxonomy
    // filter + pident threshold (BlastN.java:147-152).
    "q62_blast_taxonomy" -> { (s, d) =>
      import s.implicits._
      val contigs = Tables.part(s, d).select(
        concat_ws("", lit("P"), col("p_partkey")).as("id"),
        translate(regexp_replace(upper(col("p_name")), "[^A-Z]", ""),
          "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
          "ACGTACGTACGTACGTACGTACGTAC").as("sequence"))
      val fastaLines = contigs
        .select(concat(lit(">"), col("id"), lit("\n"), col("sequence")).as("rec"))
        .as[String].flatMap(_.split("\n"))
      val f = split(col("value"), "\t")
      val hits = graft.pipe.Pipes.blastn(s, fastaLines).toDF("value").select(
        f.getItem(0).as("qseqid"),
        f.getItem(2).cast("double").as("pident"),
        f.getItem(12).cast("int").as("staxid"))
      Pipeline.taxonomyFilter(hits, Seq(1, 2, 4))
        .filter(col("pident") > 55.0)
    },

    // S7+F12+P4: FASTA files scanned WHOLE (one row per file, empty
    // files pruned), repartitioned so each file feeds ITS OWN forked
    // process (the per-file pipe model, HMMSearch.java:82-163), hits
    // parsed back and checked against the parquet-derived oracle.
    "q79_wholefile_pipe" -> { (s, d) =>
      import s.implicits._
      val contigs = Tables.part(s, d).select(
        concat_ws("", lit("P"), col("p_partkey")).as("id"),
        translate(regexp_replace(upper(col("p_name")), "[^A-Z]", ""),
          "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
          "ACGTACGTACGTACGTACGTACGTAC").as("sequence"))
        .filter(length(col("sequence")) > 0)
      val dir = tmp(d, "wfpipe")
      Fasta.write(contigs.repartition(4), dir) // several whole files
      val files = graft.io.WholeFiles.readText(s, dir) // S7 + F12 pruning
        .repartition(4, col("path")) // one pipe process per file
      val lines = files
        .select(explode(split(col("content"), "\n")).as("line"))
        .filter(length(col("line")) > 0)
        .as[String]
      val f = split(col("value"), " ")
      graft.pipe.Pipes.hmmsearch(s, lines).toDF("value")
        .filter(!col("value").startsWith("#")) // tblout comment lines
        .select(f.getItem(0).as("id"), f.getItem(5).cast("int").as("seq_len"))
    },

    // P1 under oracle test: interleaved FASTQ lines → BWA pipe
    // (deterministic SAM-line mock) → SAM parse → flag-77/141
    // both-unmapped keep → FASTQ re-emit with /1 · /2 mate suffixes —
    // the reference's align contract end to end
    // (AlignInterleavedMulti.java:114-149).
    "q84_align_pipe" -> { (s, d) =>
      import s.implicits._
      val c = Tables.customer(s, d)
      val r1 = c.select(
        concat_ws("", lit("c"), col("c_custkey"), lit("/1")).as("key"),
        dnaOf(col("c_custkey")).as("sequence"),
        qualOf(col("c_custkey")).as("quality"))
      val r2 = c.select(
        concat_ws("", lit("c"), col("c_custkey"), lit("/2")).as("key"),
        graft.functions.DnaFunctions.revComp(dnaOf(col("c_custkey"))).as("sequence"),
        qualOf(col("c_custkey")).as("quality"))
      val fqLines = r1.unionByName(r2)
        .select(concat(lit("@"), col("key"), lit("\n"), col("sequence"),
          lit("\n+\n"), col("quality")).as("rec"))
        .as[String].flatMap(_.split("\n"))
      val f = split(col("value"), "\t")
      graft.pipe.Pipes.alignBwa(s, fqLines).toDF("value").select(
          f.getItem(0).as("name"),
          f.getItem(1).cast("int").as("flag"),
          f.getItem(9).as("sequence"),
          f.getItem(10).as("quality"))
        .filter(col("flag").isin(77, 141))
        .select(
          concat(col("name"),
            when(col("flag") === 77, "/1").otherwise("/2")).as("key"),
          col("sequence"), col("quality"))
    },

    // P2 under oracle test: per-sample grouped FASTA → ONE assembler
    // process PER GROUP (Assemble.java:106-177's granularity) → contig
    // FASTA re-ingest → order-independent per-sample stats (the mock
    // assembler's contig numbering is per-process and order-dependent,
    // so the oracle row aggregates counts, lengths, and a sorted
    // sequence-digest set, none of which depend on numbering).
    "q85_assemble_pipe" -> { (s, d) =>
      val reads = Tables.customer(s, d).select(
        concat_ws("", lit("s"), col("c_nationkey")).as("sample"),
        concat_ws("", lit("c"), col("c_custkey")).as("id"),
        dnaOf(col("c_custkey")).as("seq"))
      graft.pipe.Pipes.assembleMegahitGrouped(reads, "sample", "id", "seq")
        .groupBy("sample")
        .agg(count(lit(1)).as("n_contigs"),
          sum(length(col("sequence"))).cast("bigint").as("total_len"),
          md5(concat_ws("",
            array_sort(collect_list(md5(col("sequence")))))).as("seqs_md5"))
    },

    // S5 write side under oracle test: members PACKED in-task into real
    // .zip / .tar containers (alternating — both codecs exercised, the
    // tar with bsdtar-style space-padded size fields), expanded back by
    // expandArchives, every member digest-checked.
    "q80_archive_roundtrip" -> { (s, d) =>
      import s.implicits._
      val dir = tmp(d, "arch")
      val root = new java.io.File(dir)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      if (root.exists()) rm(root)
      root.mkdirs()
      Tables.documents(s, d)
        .select(col("doc_id").cast("long"), col("text"))
        .repartition(8)
        .as[(Long, String)]
        .foreachPartition { (it: Iterator[(Long, String)]) =>
          val entries = it.map { case (id, t) =>
            (s"doc_$id.txt", t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }.toVector
          if (entries.nonEmpty) {
            val pid = org.apache.spark.TaskContext.getPartitionId()
            val (name, bytes) =
              if (pid % 2 == 0) (f"members-$pid%03d.zip", graft.io.WholeFiles.zipBytes(entries))
              else (f"members-$pid%03d.tar", graft.io.WholeFiles.tarBytes(entries))
            val fo = new java.io.FileOutputStream(new java.io.File(dir, name))
            try fo.write(bytes) finally fo.close()
          }
        }
      graft.io.WholeFiles.expandArchives(s, dir)
        .select(col("entry"), md5(col("content")).as("content_md5"))
    },

    // VCF round-trip (q279): variants synthesized arithmetically,
    // written as spec VCF text (dots for nulls, comma'd multi-allelic
    // ALT, INFO flags bare), read back through the splittable scan,
    // then filtered on a parsed QUAL threshold + an INFO FLAG key and
    // projected to scalars (DP as int, AF as written). The oracle
    // recomputes the surviving rows from lineitem directly — the
    // whole serialize→parse→null-handling loop is under the hash.
    "q279_vcf_roundtrip" -> { (s, d) =>
      val dir = tmp(d, "vcf")
      val li = Tables.lineitem(s, d)
      val variants = li.select(
        concat(lit("chr"),
          pmod(col("l_partkey"), lit(4)).cast("string")).as("chrom"),
        (pmod(col("l_orderkey"), lit(100000)) + 1).cast("long").as("pos"),
        when(pmod(col("l_orderkey"), lit(3)) === 0,
          concat(lit("rs"), col("l_suppkey").cast("string")))
          .otherwise(lit(null)).as("id"),
        lit("A").as("ref"),
        when(pmod(col("l_partkey"), lit(2)) === 0, array(lit("T")))
          .otherwise(array(lit("T"), lit("G"))).as("alt"),
        (pmod(col("l_partkey"), lit(150)).cast("double") / 10.0)
          .as("qual"),
        when(pmod(col("l_suppkey"), lit(5)) === 0, "PASS")
          .otherwise("q10").as("filter"),
        expr("str_to_map(concat('DP=', l_partkey % 50, ';AF=0.', " +
          "l_suppkey % 9, IF(l_orderkey % 7 = 0, ';DB', '')), " +
          "';', '=')").as("info"))
      graft.io.Vcf.write(variants, dir)
      graft.io.Vcf.read(s, dir)
        .filter(col("qual") >= 7.5 &&
          array_contains(map_keys(col("info")), "DB"))
        .select(col("chrom"), col("pos"), col("id"), col("ref"),
          array_join(col("alt"), ",").as("alts"), col("qual"),
          col("filter"),
          element_at(col("info"), "DP").cast("int").as("dp"),
          element_at(col("info"), "AF").as("af"))
    },

    // Multi-sample VCF genotypes (q280): a 3-sample VCF (FORMAT GT:DP)
    // read through readSamples into LONG format — sample names resolve
    // from the file's #CHROM header (one bounded driver line-read per
    // file), genotype fields positionally explode and key by FORMAT.
    // The oracle replays the (site x sample) matrix from orders.
    "q280_vcf_samples" -> { (s, d) =>
      val dir = tmp(d, "vcf_samples")
      val o = Tables.orders(s, d)
      def sv(i: Int) = concat(
        when(pmod(col("o_orderkey") + i, lit(3)) === 0, "0/0")
          .when(pmod(col("o_orderkey") + i, lit(3)) === 1, "0/1")
          .otherwise("1/1"),
        lit(":"), pmod(col("o_orderkey") * i, lit(60)).cast("string"))
      val lines = o.select(concat_ws("\t",
        concat(lit("chr"), pmod(col("o_custkey"), lit(3)).cast("string")),
        col("o_orderkey").cast("string"), lit("."), lit("A"), lit("G"),
        lit("50"), lit("PASS"), lit("NS=3"), lit("GT:DP"),
        sv(1), sv(2), sv(3)).as("value"))
      import s.implicits._
      val header = "##fileformat=VCFv4.3\n" +
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tsA\tsB\tsC"
      lines.coalesce(1).as[String]
        .mapPartitions(it => Iterator(header) ++ it)
        .write.mode("overwrite").text(dir)
      graft.io.Vcf.readSamples(s, dir)
        .select(col("chrom"), col("pos"), col("sample"),
          element_at(col("geno"), "GT").as("gt"),
          element_at(col("geno"), "DP").cast("int").as("dp"))
    },

    // Allele frequencies (q281): the q280 genotype matrix folded to
    // per-site (n_called, n_alt, af_ppm) — GT parsing, uncalled
    // handling, and the exact-ppm arithmetic all replayed by the
    // oracle from the generating arithmetic.
    "q281_allele_freq" -> { (s, d) =>
      val dir = tmp(d, "vcf_af")
      val o = Tables.orders(s, d)
      def sv(i: Int) = concat(
        when(pmod(col("o_orderkey") + i, lit(3)) === 0, "0/0")
          .when(pmod(col("o_orderkey") + i, lit(3)) === 1, "0/1")
          .otherwise("1/1"),
        lit(":"), pmod(col("o_orderkey") * i, lit(60)).cast("string"))
      val lines = o.select(concat_ws("\t",
        concat(lit("chr"), pmod(col("o_custkey"), lit(3)).cast("string")),
        col("o_orderkey").cast("string"), lit("."), lit("A"), lit("G"),
        lit("50"), lit("PASS"), lit("NS=3"), lit("GT:DP"),
        sv(1), sv(2), sv(3)).as("value"))
      import s.implicits._
      val header = "##fileformat=VCFv4.3\n" +
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tsA\tsB\tsC"
      lines.coalesce(1).as[String]
        .mapPartitions(it => Iterator(header) ++ it)
        .write.mode("overwrite").text(dir)
      graft.operators.ViraPipeline.alleleFrequencies(
        graft.io.Vcf.readSamples(s, dir))
    },

    // Hardy-Weinberg chi-square (q285): per-site genotype-class counts
    // and the 1-df HWE test over a 3-sample VCF whose genotypes derive
    // from (o_orderkey * m) % 4 per sample multiplier m — class 3 is
    // the uncalled "./." stratum, so missing genotypes provably drop
    // from n. The oracle replays classification, counting, and the
    // chi-square arithmetic in the same IEEE operation order;
    // monomorphic strata (k%4 in {0,2}) pin the null-chi2 rule.
    "q285_hwe" -> { (s, d) =>
      graft.operators.ViraPipeline.hweStats(
        graft.io.Vcf.readSamples(s, hweVcfFixture(s, d, "vcf_hwe")))
    },

    // Per-sample genotype QC (q306): the sample-side twin of q285 over
    // the same 3-sample genotype grammar — call rate and
    // heterozygosity as integer ppm, the library/swap screen. The
    // oracle replays per-multiplier class counts.
    "q306_sample_qc" -> { (s, d) =>
      graft.operators.ViraPipeline.sampleQc(
        graft.io.Vcf.readSamples(s, hweVcfFixture(s, d, "vcf_sqc")))
    },

    // Ti/Tv ratio (q286): transition/transversion classification over
    // a site table with multi-allelic SNPs and a planted indel stratum
    // (k%7==0 gets REF "AT" — excluded from the metric by definition).
    // REF cycles ACGT by k%4; ALT picks among the other bases by
    // (k/4)%3, with a second allele on k%5==0 sites. Integer-ppm
    // ratio, so the one-row oracle is exact.
    "q286_titv" -> { (s, d) =>
      val dir = tmp(d, "vcf_titv")
      val o = Tables.orders(s, d)
      val k = col("o_orderkey")
      val refBase = element_at(
        split(lit("A,C,G,T"), ","), (pmod(k, lit(4)) + 1).cast("int"))
      val ref = when(pmod(k, lit(7)) === 0, lit("AT")).otherwise(refBase)
      // the 3 non-ref bases, picked by (k/4)%3; a 2nd allele on k%5==0
      val others = filter(split(lit("A,C,G,T"), ","), b => b =!= refBase)
      val a1 = element_at(others, (pmod(floor(k / 4), lit(3)) + 1).cast("int"))
      val a2 = element_at(others, (pmod(floor(k / 4) + 1, lit(3)) + 1).cast("int"))
      val alt = when(pmod(k, lit(5)) === 0,
        concat(a1, lit(","), a2)).otherwise(a1)
      val lines = o.select(concat_ws("\t",
        concat(lit("chr"), pmod(col("o_custkey"), lit(3)).cast("string")),
        k.cast("string"), lit("."), ref, alt,
        lit("50"), lit("PASS"), lit("NS=3")).as("value"))
      import s.implicits._
      val header = "##fileformat=VCFv4.3\n" +
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO"
      lines.coalesce(1).as[String]
        .mapPartitions(it => Iterator(header) ++ it)
        .write.mode("overwrite").text(dir)
      graft.operators.ViraPipeline.tiTvRatio(graft.io.Vcf.read(s, dir))
    },

    // Pileup (q287): SAM write → read → per-position depth + base
    // counts through a CIGAR grammar that exercises every consumption
    // class — k%4 strata give full-match, soft-clip (read-only),
    // deletion (ref-only), and insertion CIGARs. Reads are digit-DNA
    // of o_orderkey (k >= 1000 so every read has >= 4 bases and the
    // stratum arithmetic never underflows); the oracle replays the
    // read-index → reference-position mapping per stratum and
    // re-aggregates.
    "q287_pileup" -> { (s, d) => pileupFixture(s, d) },

    // Consensus calling (q288): the majority-base projection over the
    // q287 pileup at minDepth=2 — argmax with A<C<G<T tie-break,
    // support as integer ppm of called bases, null below the depth
    // floor. The oracle wraps the q287 replay in the same CASE chain.
    "q288_consensus" -> { (s, d) =>
      graft.operators.ViraPipeline.consensusFromPileup(
        pileupFixture(s, d), minDepth = 2L)
    },

    // Liftover (q289): assembly-to-assembly coordinate mapping through
    // ungapped chain blocks — 25 blocks (nation) with 1000 bp gaps
    // (unmapped stratum), a '-'-strand stratum (reverse arithmetic),
    // and tileBits=12 so 3000 bp blocks straddle tile boundaries. The
    // oracle is the direct range left-join replay.
    "q289_liftover" -> { (s, d) =>
      val positions = Tables.orders(s, d).select(
        col("o_orderkey").as("id"),
        concat(lit("c"), pmod(col("o_custkey"), lit(2)).cast("string"))
          .as("chrom"),
        pmod(col("o_orderkey"), lit(100000)).as("pos"))
      val chain = Tables.nation(s, d).select(
        concat(lit("c"), pmod(col("n_nationkey"), lit(2)).cast("string"))
          .as("src_chrom"),
        (col("n_nationkey") * 4000L).as("src_start"),
        (col("n_nationkey") * 4000L + 3000L).as("src_end"),
        concat(lit("d"), pmod(col("n_nationkey"), lit(3)).cast("string"))
          .as("dst_chrom"),
        (lit(1000000L) + col("n_nationkey") * 5000L).as("dst_start"),
        when(pmod(col("n_nationkey"), lit(4)) === 0, "-").otherwise("+")
          .as("strand"))
      graft.operators.Joins.liftOver(positions, "chrom", "pos", chain,
        tileBits = 12)
    },

    // flagstat (q292): the one-row FLAG-bit QC summary. `k % 4096` IS
    // a valid flag bitset, so the fixture sweeps every bit combination
    // and the oracle is pure bit arithmetic.
    "q292_flagstat" -> { (s, d) =>
      val aln = Tables.orders(s, d).select(
        concat_ws("", lit("r"), col("o_orderkey")).as("readName"),
        pmod(col("o_orderkey"), lit(4096)).cast("int").as("flag"))
      graft.operators.ViraPipeline.flagstat(aln)
    },

    // MarkDuplicates (q293): 5'-end signature dedup over the 4-stratum
    // CIGAR grammar — a 10-position start space forces real duplicate
    // stacks; strand alternates so reverse reads key by alignment END
    // (start + ref-consumed - 1), and the soft-clip stratum proves the
    // unclipped-start arithmetic. The oracle replays per-stratum
    // refLen/lead and the (mapq desc, readName asc) keeper rule.
    "q293_markdup" -> { (s, d) =>
      val o = Tables.orders(s, d).filter(col("o_orderkey") >= 1000)
      val k = col("o_orderkey")
      val len = length(dnaOf(k))
      val strat = pmod(k, lit(4))
      val cig = when(strat === 0, concat(len, lit("M")))
        .when(strat === 1, concat(lit("1S"), len - 1, lit("M")))
        .when(strat === 2, concat(lit("2M3D"), len - 2, lit("M")))
        .otherwise(concat(lit("2M1I"), len - 3, lit("M")))
      val aln = o.select(
        concat_ws("", lit("r"), k).as("readName"),
        when(pmod(k, lit(2)) === 0, 0).otherwise(16).cast("int").as("flag"),
        concat(lit("c"), pmod(col("o_custkey"), lit(2)).cast("string"))
          .as("referenceName"),
        (pmod(k, lit(10)) + 1).cast("long").as("start"),
        pmod(k, lit(60)).cast("int").as("mapq"),
        cig.as("cigar"))
      graft.operators.ViraPipeline.markDuplicates(aln)
    },

    // Mash distance (q299): alignment-free sample comparison via KMV
    // k-mer sketches (bottom-64 distinct 60-bit hashes, k=8) over the
    // digit-DNA contigs split into 5 samples — shared/merged counts
    // and the -ln(2j/(1+j))/k distance per pair. The oracle replays
    // hashing, the bottom-s rank, the union-merge, and the distance
    // arithmetic.
    "q299_mash_distance" -> { (s, d) =>
      val contigs = Tables.part(s, d).select(
        concat(lit("s"), pmod(col("p_partkey"), lit(5)).cast("string"))
          .as("sample"),
        translate(regexp_replace(upper(col("p_name")), "[^A-Z]", ""),
          "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
          "ACGTACGTACGTACGTACGTACGTAC").as("seq"))
      graft.operators.ViraPipeline.mashDistance(contigs, "sample", "seq",
        k = 8, sketchSize = 64)
    },

    // BED round-trip (q300): 0-based half-open intervals with null
    // strata for name/score/strand (the `.` convention), integral
    // scores rendering as integers — write → splittable read → typed
    // shape vs arithmetic replay.
    "q300_bed_roundtrip" -> { (s, d) =>
      val k = col("o_orderkey")
      val start = pmod(k, lit(1000)) * 10
      val iv = Tables.orders(s, d).select(
        concat(lit("c"), pmod(col("o_custkey"), lit(3)).cast("string"))
          .as("chrom"),
        start.cast("long").as("start"),
        (start + pmod(k, lit(50)) + 10).cast("long").as("end"),
        concat(lit("iv"), k.cast("string")).as("name"),
        (pmod(k, lit(100)) / lit(2.0)).as("score"),
        when(pmod(k, lit(3)) === 0, "+")
          .when(pmod(k, lit(3)) === 1, "-")
          .otherwise(lit(null)).cast("string").as("strand"))
      val dir = tmp(d, "bed")
      graft.io.Bed.write(iv, dir)
      graft.io.Bed.read(s, dir)
    },

    // GFF3 parse (q301): 1-based closed records with `.` strata on
    // source/score/phase, ID/biotype attributes and a valueless flag
    // key — typed fields plus the BED-normalized start0/end0 pair and
    // attribute-map lookups, all replayed arithmetically.
    "q301_gff_attributes" -> { (s, d) =>
      val k = col("p_partkey")
      val start = pmod(k, lit(1000)) + 1
      val lines = Tables.part(s, d).select(concat_ws("\t",
        concat(lit("c"), pmod(k, lit(3)).cast("string")),
        when(k % 2 === 0, "graft").otherwise("."),
        when(k % 5 === 0, "gene").otherwise("mRNA"),
        start.cast("string"),
        (start + pmod(k, lit(100)) + 1).cast("string"),
        when(k % 4 === 0, (pmod(k, lit(10)) / lit(2.0)).cast("string"))
          .otherwise("."),
        when(k % 3 === 0, "+").when(k % 3 === 1, "-").otherwise("."),
        when(k % 5 === 0, ".").otherwise(pmod(k, lit(3)).cast("string")),
        concat(lit("ID=g"), k.cast("string"), lit(";biotype=bt"),
          pmod(k, lit(4)).cast("string"),
          when(k % 7 === 0, ";pseudo").otherwise(lit("")))).as("value"))
      val dir = tmp(d, "gff")
      import s.implicits._
      lines.coalesce(1).as[String]
        .mapPartitions(it =>
          Iterator("##gff-version 3", "# comment line") ++ it)
        .write.mode("overwrite").text(dir)
      graft.io.Bed.readGff3(s, dir).select(
        col("seqid"), col("source"), col("type"), col("start"),
        col("end"), col("score"), col("strand"), col("phase"),
        col("start0"), col("end0"),
        element_at(col("attributes"), "ID").as("id"),
        element_at(col("attributes"), "biotype").as("biotype"),
        map_contains_key(col("attributes"), "pseudo").as("has_pseudo"))
    },

    // Adapter trimming (q302): cutadapt's 3' rule over digit-DNA reads
    // with planted strata — full adapter mid-read (k%3==0), 4-base
    // partial suffix overlap (k%3==1), clean (k%3==2, where accidental
    // >= 3-base prefix overlaps at read ends still trim, exactly as
    // the tool would). The oracle replays the earliest-position scan.
    "q302_adapter_trim" -> { (s, d) =>
      val k = col("o_orderkey")
      val reads = Tables.orders(s, d).select(
        k.as("id"),
        concat(dnaOf(k),
          when(pmod(k, lit(3)) === 0, lit("ACGTTGCATT"))
            .when(pmod(k, lit(3)) === 1, lit("ACGT"))
            .otherwise(lit(""))).as("seq"))
        .withColumn("qual", expr("repeat('I', length(seq))"))
      graft.operators.ViraPipeline.trimAdapter(reads, "id", "seq",
        "qual", adapter = "ACGTTGCA", minOverlap = 3).toDF()
    },

    // GC sliding windows (q303): window-16/step-8 GC track over the
    // digit-DNA contigs — exact integer counts + ppm, pure column
    // arithmetic replayed in SQL.
    "q303_gc_windows" -> { (s, d) =>
      // part-name DNA is ~10 bases; 4x tandem repeat makes contigs
      // long enough to slide a 16-base window across
      val contigs = Tables.part(s, d).select(
        concat(lit("P"), col("p_partkey").cast("string")).as("id"),
        expr("repeat(" +
          "translate(regexp_replace(upper(p_name), '[^A-Z]', ''), " +
          "'ABCDEFGHIJKLMNOPQRSTUVWXYZ', " +
          "'ACGTACGTACGTACGTACGTACGTAC'), 4)").as("seq"))
      graft.operators.ViraPipeline.gcWindows(contigs, "id", "seq",
        window = 16, step = 8)
    },

    // Per-gene coverage (q304): the ecosystem composition row — the
    // q287 pileup joined against a BED gene table (written and read
    // through io/Bed) on chrom + half-open range, summing depth and
    // counting covered positions per gene. The gene table is
    // metadata-small, so the join broadcasts; the oracle composes the
    // pileup replay with the interval sum.
    "q304_gene_coverage" -> { (s, d) =>
      val n = col("n_nationkey")
      val genes = Tables.nation(s, d).select(
        concat(lit("c"), pmod(n, lit(2)).cast("string")).as("chrom"),
        (pmod(n, lit(12)) * 4).cast("long").as("start"),
        (pmod(n, lit(12)) * 4 + 9).cast("long").as("end"),
        concat(lit("g"), n.cast("string")).as("name"),
        lit(null).cast("double").as("score"),
        lit(null).cast("string").as("strand"))
      val bedDir = tmp(d, "genes_bed")
      graft.io.Bed.write(genes, bedDir)
      val g = graft.io.Bed.read(s, bedDir)
        .select(col("chrom"), col("start0"), col("end0"), col("name"))
      val pile = pileupFixture(s, d)
      pile.join(broadcast(g),
          pile("referenceName") === g("chrom") &&
            pile("pos") >= g("start0") && pile("pos") < g("end0"))
        .groupBy(col("name"))
        .agg(sum("depth").as("total_depth"),
          count(lit(1)).as("n_positions"))
    },

    // Coverage summary (q307): the per-reference breadth/depth
    // acceptance row over the q287 pileup — covered positions, total
    // depth, exact milli-x mean, breadth at 4x.
    "q307_coverage_summary" -> { (s, d) =>
      graft.operators.ViraPipeline.coverageSummary(pileupFixture(s, d))
    },

    // Quality trimming (q308): Trimmomatic's SLIDINGWINDOW(4,15) over
    // digit-DNA reads with planted tails — phred-0 ('!') tails cut one
    // base EARLY (the boundary window already fails), phred-7 ('(')
    // tails cut exactly at the tail, clean reads pass whole. The
    // oracle replays the rolling integer window scan.
    "q308_quality_trim" -> { (s, d) =>
      val k = col("o_orderkey")
      val reads = Tables.orders(s, d).select(
        k.as("id"),
        concat(dnaOf(k),
          when(pmod(k, lit(3)) < 2, lit("AAAA")).otherwise(lit("")))
          .as("seq"),
        concat(qualOf(k),
          when(pmod(k, lit(3)) === 0, lit("!!!!"))
            .when(pmod(k, lit(3)) === 1, lit("(((("))
            .otherwise(lit(""))).as("qual"))
      graft.operators.ViraPipeline.qualityTrim(reads, "id", "seq",
        "qual", window = 4, minMeanQ = 15).toDF()
    },

    // Assembly statistics (q277): the QUAST-style post-assembly QC
    // row — N50/L50 via the descending-length cumulative crossing,
    // GC as exact ppm — over the q51 contig fixture. All-integer
    // arithmetic, so the oracle replays it exactly; the cumulative
    // sum runs over the length HISTOGRAM (bounded by the longest
    // contig), never the contig set.
    "q277_assembly_stats" -> { (s, d) =>
      val contigs = Tables.part(s, d).select(
        translate(regexp_replace(upper(col("p_name")), "[^A-Z]", ""),
          "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
          "ACGTACGTACGTACGTACGTACGTAC").as("sequence"))
      graft.operators.ViraPipeline.assemblyStats(contigs, "sequence")
    }
  )

  /** q287's replay, shared with q288 (which wraps it in the consensus
    * projection).
    */
  private val pileupOracle: String =
      """WITH r AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
                'c' || (o_custkey % 2) AS ref,
                CAST(o_orderkey % 30 + 1 AS BIGINT) AS strt,
                translate(CAST(o_orderkey AS VARCHAR),
                  '0123456789', 'ACGTACGTAC') AS bases
              FROM orders WHERE o_orderkey >= 1000),
         e AS (SELECT ref, k % 4 AS s, strt, i,
                 upper(substr(bases, CAST(i AS INTEGER), 1)) AS b
               FROM r, UNNEST(range(1, length(bases) + 1)) AS u(i)),
         a AS (SELECT ref, b,
                 CASE WHEN s = 0 THEN strt + i - 1
                      WHEN s = 1 THEN
                        CASE WHEN i >= 2 THEN strt + i - 2 END
                      WHEN s = 2 THEN
                        CASE WHEN i <= 2 THEN strt + i - 1
                             ELSE strt + i + 2 END
                      ELSE CASE WHEN i <= 2 THEN strt + i - 1
                                WHEN i >= 4 THEN strt + i - 2 END
                 END AS pos
               FROM e)
         SELECT ref AS "referenceName", CAST(pos AS BIGINT) AS pos,
                CAST(count(*) AS BIGINT) AS depth,
                CAST(sum(CASE WHEN b = 'A' THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_a,
                CAST(sum(CASE WHEN b = 'C' THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_c,
                CAST(sum(CASE WHEN b = 'G' THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_g,
                CAST(sum(CASE WHEN b = 'T' THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_t
         FROM a WHERE pos IS NOT NULL
         GROUP BY 1, 2"""

  val oracles: Map[String, String] = Map(
    "q307_coverage_summary" ->
      s"""WITH pile AS ($pileupOracle)
         SELECT "referenceName",
           CAST(count(*) AS BIGINT) AS n_covered,
           CAST(sum(depth) AS BIGINT) AS total_depth,
           CAST(sum(CASE WHEN depth >= 4 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_ge4,
           CAST(sum(depth) AS BIGINT) * 1000
             // CAST(count(*) AS BIGINT) AS mean_depth_millix
         FROM pile GROUP BY 1""",
    "q308_quality_trim" ->
      """WITH r AS (SELECT CAST(o_orderkey AS BIGINT) AS id,
             translate(CAST(o_orderkey AS VARCHAR),
               '0123456789', 'ACGTACGTAC')
             || CASE WHEN o_orderkey % 3 < 2 THEN 'AAAA'
                     ELSE '' END AS seq,
             translate(CAST(o_orderkey AS VARCHAR),
               '0123456789', 'IJKLMNOPQH')
             || CASE WHEN o_orderkey % 3 = 0 THEN '!!!!'
                     WHEN o_orderkey % 3 = 1 THEN '(((('
                     ELSE '' END AS qual
           FROM orders),
         ph AS (SELECT id, seq, qual,
             list_transform(range(1, length(qual) + 1),
               i -> ord(substr(qual, CAST(i AS INTEGER), 1)) - 33) AS p
           FROM r),
         c AS (SELECT id, seq, qual,
             list_min(list_filter(range(1, length(qual) - 2), s ->
               p[CAST(s AS INTEGER)] + p[CAST(s + 1 AS INTEGER)]
               + p[CAST(s + 2 AS INTEGER)] + p[CAST(s + 3 AS INTEGER)]
               < 60)) - 1 AS cut
           FROM ph)
         SELECT id,
           CASE WHEN cut IS NULL THEN seq
                ELSE substr(seq, 1,
                  CAST(least(cut, length(seq)) AS INTEGER)) END AS bases,
           CASE WHEN cut IS NULL THEN qual
                ELSE substr(qual, 1, CAST(cut AS INTEGER)) END
             AS quality,
           CAST(cut AS INTEGER) AS trimmed_at,
           CAST(CASE WHEN cut IS NULL THEN length(seq)
                ELSE least(cut, length(seq)) END AS BIGINT) AS kept_len
         FROM c""",
    "q304_gene_coverage" ->
      s"""WITH pile AS ($pileupOracle),
         genes AS (SELECT 'c' || (n_nationkey % 2) AS chrom,
             CAST(n_nationkey % 12 * 4 AS BIGINT) AS start0,
             CAST(n_nationkey % 12 * 4 + 9 AS BIGINT) AS end0,
             'g' || n_nationkey AS name
           FROM nation)
         SELECT g.name,
           CAST(sum(p.depth) AS BIGINT) AS total_depth,
           CAST(count(*) AS BIGINT) AS n_positions
         FROM pile p JOIN genes g
           ON p."referenceName" = g.chrom
           AND p.pos >= g.start0 AND p.pos < g.end0
         GROUP BY 1""",
    "q302_adapter_trim" ->
      """WITH r AS (SELECT CAST(o_orderkey AS BIGINT) AS id,
             translate(CAST(o_orderkey AS VARCHAR),
               '0123456789', 'ACGTACGTAC')
             || CASE WHEN o_orderkey % 3 = 0 THEN 'ACGTTGCATT'
                     WHEN o_orderkey % 3 = 1 THEN 'ACGT'
                     ELSE '' END AS seq
           FROM orders),
         p AS (SELECT id, seq,
             list_min(list_filter(range(1, length(seq) + 1), i ->
               least(8, length(seq) - i + 1) >= 3 AND
               substr(seq, CAST(i AS INTEGER),
                 CAST(least(8, length(seq) - i + 1) AS INTEGER)) =
               substr('ACGTTGCA', 1,
                 CAST(least(8, length(seq) - i + 1) AS INTEGER))))
               AS pos
           FROM r)
         SELECT id,
           CASE WHEN pos IS NULL THEN seq
                ELSE substr(seq, 1, CAST(pos - 1 AS INTEGER)) END
             AS bases,
           repeat('I', CAST(CASE WHEN pos IS NULL THEN length(seq)
             ELSE pos - 1 END AS INTEGER)) AS quality,
           CAST(pos - 1 AS INTEGER) AS trimmed_at,
           CAST(CASE WHEN pos IS NULL THEN length(seq)
             ELSE pos - 1 END AS BIGINT) AS kept_len
         FROM p""",
    "q303_gc_windows" ->
      """WITH contigs AS (SELECT 'P' || p_partkey AS id,
             repeat(translate(
               regexp_replace(upper(p_name), '[^A-Z]', '', 'g'),
               'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
               'ACGTACGTACGTACGTACGTACGTAC'), 4) AS seq
           FROM part),
         w AS (SELECT id, CAST(ws AS BIGINT) AS win_start,
             substr(seq, CAST(ws + 1 AS INTEGER), 16) AS wstr
           FROM contigs, UNNEST(range(0, length(seq) - 15, 8)) AS u(ws)
           WHERE length(seq) >= 16)
         SELECT id, win_start,
           CAST(length(wstr) - length(regexp_replace(wstr,
             '[GCgc]', '', 'g')) AS BIGINT) AS gc,
           (length(wstr) - length(regexp_replace(wstr,
             '[GCgc]', '', 'g'))) * 1000000 // 16 AS gc_ppm
         FROM w""",
    "q300_bed_roundtrip" ->
      """SELECT 'c' || (o_custkey % 3) AS chrom,
           CAST(o_orderkey % 1000 * 10 AS BIGINT) AS start,
           CAST(o_orderkey % 1000 * 10 + o_orderkey % 50 + 10 AS BIGINT)
             AS "end",
           'iv' || o_orderkey AS name,
           CAST(o_orderkey % 100 AS DOUBLE) / 2.0 AS score,
           CASE WHEN o_orderkey % 3 = 0 THEN '+'
                WHEN o_orderkey % 3 = 1 THEN '-' END AS strand,
           CAST(o_orderkey % 1000 * 10 AS BIGINT) AS start0,
           CAST(o_orderkey % 1000 * 10 + o_orderkey % 50 + 10 AS BIGINT)
             AS end0
         FROM orders""",
    "q301_gff_attributes" ->
      """SELECT 'c' || (p_partkey % 3) AS seqid,
           CASE WHEN p_partkey % 2 = 0 THEN 'graft' END AS source,
           CASE WHEN p_partkey % 5 = 0 THEN 'gene'
                ELSE 'mRNA' END AS type,
           CAST(p_partkey % 1000 + 1 AS BIGINT) AS start,
           CAST(p_partkey % 1000 + 1 + p_partkey % 100 + 1 AS BIGINT)
             AS "end",
           CASE WHEN p_partkey % 4 = 0
             THEN CAST(p_partkey % 10 AS DOUBLE) / 2.0 END AS score,
           CASE WHEN p_partkey % 3 = 0 THEN '+'
                WHEN p_partkey % 3 = 1 THEN '-' END AS strand,
           CASE WHEN p_partkey % 5 != 0
             THEN CAST(p_partkey % 3 AS INTEGER) END AS phase,
           CAST(p_partkey % 1000 AS BIGINT) AS start0,
           CAST(p_partkey % 1000 + 1 + p_partkey % 100 + 1 AS BIGINT)
             AS end0,
           'g' || p_partkey AS id,
           'bt' || (p_partkey % 4) AS biotype,
           (p_partkey % 7 = 0) AS has_pseudo
         FROM part""",
    "q299_mash_distance" ->
      """WITH contigs AS (SELECT 's' || (p_partkey % 5) AS sample,
                translate(regexp_replace(upper(p_name), '[^A-Z]', '', 'g'),
                  'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                  'ACGTACGTACGTACGTACGTACGTAC') AS seq
              FROM part),
         km AS (SELECT sample,
                 CAST(('0x' || substr(md5(substr(seq, CAST(i AS INTEGER),
                   8)), 1, 15)) AS BIGINT) AS h
               FROM contigs, UNNEST(range(1, length(seq) - 6)) AS u(i)
               WHERE length(seq) >= 8),
         dd AS (SELECT DISTINCT sample, h FROM km),
         rk AS (SELECT sample, h, row_number() OVER (
                  PARTITION BY sample ORDER BY h) AS r FROM dd),
         sk AS (SELECT sample, list(h ORDER BY h) AS sketch
                FROM rk WHERE r <= 64 GROUP BY 1),
         pr AS (SELECT a.sample AS s1, b.sample AS s2,
                  a.sketch AS ska, b.sketch AS skb
                FROM sk a JOIN sk b ON a.sample < b.sample),
         mg AS (SELECT s1, s2, ska, skb,
                  list_sort(list_distinct(list_concat(ska, skb)))[1:64]
                    AS merged
                FROM pr),
         ct AS (SELECT s1, s2,
                  CAST(len(list_filter(merged, h ->
                    list_contains(ska, h) AND list_contains(skb, h)))
                    AS BIGINT) AS shared,
                  CAST(len(merged) AS BIGINT) AS denom
                FROM mg)
         SELECT s1, s2, shared, denom,
           CASE WHEN shared = 0 THEN NULL
                ELSE round(-ln(2.0 * (shared / CAST(denom AS DOUBLE))
                  / (1.0 + shared / CAST(denom AS DOUBLE))) / 8, 6) + 0.0
           END AS mash_dist
         FROM ct""",
    "q292_flagstat" ->
      """WITH f AS (SELECT CAST(o_orderkey % 4096 AS INTEGER) AS flag
                    FROM orders)
         SELECT CAST(count(*) AS BIGINT) AS total,
           CAST(sum(CASE WHEN (flag & 256) != 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS secondary,
           CAST(sum(CASE WHEN (flag & 2048) != 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS supplementary,
           CAST(sum(CASE WHEN (flag & 1024) != 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS duplicates,
           CAST(sum(CASE WHEN (flag & 4) = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS mapped,
           CAST(sum(CASE WHEN (flag & 1) != 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS paired,
           CAST(sum(CASE WHEN (flag & 1) != 0 AND (flag & 64) != 0
             THEN 1 ELSE 0 END) AS BIGINT) AS read1,
           CAST(sum(CASE WHEN (flag & 1) != 0 AND (flag & 128) != 0
             THEN 1 ELSE 0 END) AS BIGINT) AS read2,
           CAST(sum(CASE WHEN (flag & 1) != 0 AND (flag & 2) != 0
             AND (flag & 4) = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS properly_paired,
           CAST(sum(CASE WHEN (flag & 1) != 0 AND (flag & 4) = 0
             AND (flag & 8) = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS both_mapped,
           CAST(sum(CASE WHEN (flag & 1) != 0 AND (flag & 4) = 0
             AND (flag & 8) != 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS singletons
         FROM f""",
    "q293_markdup" ->
      """WITH r AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
                'r' || o_orderkey AS rn,
                'c' || (o_custkey % 2) AS ref,
                CAST(o_orderkey % 10 + 1 AS BIGINT) AS strt,
                length(CAST(o_orderkey AS VARCHAR)) AS len,
                o_orderkey % 4 AS s,
                (o_orderkey % 2) != 0 AS rev,
                CAST(o_orderkey % 60 AS INTEGER) AS mapq
              FROM orders WHERE o_orderkey >= 1000),
         p AS (SELECT rn, ref, rev, mapq,
                 CASE WHEN rev THEN strt - 1 +
                     (CASE s WHEN 0 THEN len WHEN 1 THEN len - 1
                             WHEN 2 THEN len + 3 ELSE len - 1 END)
                      ELSE strt - (CASE WHEN s = 1 THEN 1 ELSE 0 END)
                 END AS pos5
               FROM r),
         k2 AS (SELECT *, row_number() OVER (
                  PARTITION BY ref, pos5, rev
                  ORDER BY mapq DESC, rn ASC) AS rk
                FROM p)
         SELECT rn AS "readName", ref AS "referenceName",
           CAST(pos5 AS BIGINT) AS pos5, rev, (rk > 1) AS dup
         FROM k2""",
    "q289_liftover" ->
      """WITH p AS (SELECT CAST(o_orderkey AS BIGINT) AS id,
                'c' || (o_custkey % 2) AS chrom,
                CAST(o_orderkey % 100000 AS BIGINT) AS pos
              FROM orders),
         ch AS (SELECT 'c' || (n_nationkey % 2) AS src_chrom,
                CAST(n_nationkey * 4000 AS BIGINT) AS src_start,
                CAST(n_nationkey * 4000 + 3000 AS BIGINT) AS src_end,
                'd' || (n_nationkey % 3) AS dst_chrom,
                CAST(1000000 + n_nationkey * 5000 AS BIGINT) AS dst_start,
                CASE WHEN n_nationkey % 4 = 0 THEN '-' ELSE '+' END
                  AS strand
              FROM nation)
         SELECT p.id, p.chrom, p.pos, ch.dst_chrom,
           CASE WHEN ch.src_start IS NULL THEN NULL
                WHEN ch.strand = '-'
                  THEN ch.dst_start + (ch.src_end - 1 - p.pos)
                ELSE ch.dst_start + (p.pos - ch.src_start) END AS dst_pos
         FROM p LEFT JOIN ch ON p.chrom = ch.src_chrom
           AND p.pos >= ch.src_start AND p.pos < ch.src_end""",
    "q287_pileup" -> pileupOracle,
    "q288_consensus" ->
      s"""WITH pile AS ($pileupOracle),
         m AS (SELECT *, n_a + n_c + n_g + n_t AS called,
                 greatest(n_a, n_c, n_g, n_t) AS mx
               FROM pile)
         SELECT "referenceName", pos, depth,
           CASE WHEN depth >= 2 AND called > 0 THEN
             CASE WHEN n_a = mx THEN 'A' WHEN n_c = mx THEN 'C'
                  WHEN n_g = mx THEN 'G' ELSE 'T' END
           END AS consensus,
           CASE WHEN depth >= 2 AND called > 0
                THEN mx * 1000000 // called END AS support_ppm
         FROM m""",
    "q306_sample_qc" ->
      """WITH sm AS (SELECT * FROM (VALUES ('sA', 1), ('sB', 3),
                ('sC', 5)) AS t(sample, m)),
         per AS (SELECT sample, (o_orderkey * m) % 4 AS c
                 FROM orders, sm),
         agg AS (SELECT sample,
                  CAST(count(*) AS BIGINT) AS n_sites,
                  CAST(sum(CASE WHEN c != 3 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_called,
                  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_het,
                  CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_hom_alt
                 FROM per GROUP BY 1)
         SELECT sample, n_sites, n_called, n_het, n_hom_alt,
           CASE WHEN n_sites = 0 THEN NULL
                ELSE n_called * 1000000 // n_sites END AS call_rate_ppm,
           CASE WHEN n_called = 0 THEN NULL
                ELSE n_het * 1000000 // n_called END AS het_ppm
         FROM agg""",
    "q285_hwe" ->
      """WITH sm AS (SELECT * FROM (VALUES (1), (3), (5)) AS t(m)),
         per AS (SELECT 'chr' || (o_custkey % 3) AS chrom,
                        CAST(o_orderkey AS BIGINT) AS pos,
                        (o_orderkey * m) % 4 AS c
                 FROM orders, sm),
         cnt AS (SELECT chrom, pos,
                  CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_hom_ref,
                  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_het,
                  CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_hom_alt
                 FROM per GROUP BY 1, 2),
         x AS (SELECT *,
                 CAST(n_hom_ref + n_het + n_hom_alt AS DOUBLE) AS n,
                 (2.0 * n_hom_ref + n_het) /
                   (2.0 * CAST(n_hom_ref + n_het + n_hom_alt AS DOUBLE))
                   AS p
               FROM cnt)
         SELECT chrom, pos, n_hom_ref, n_het, n_hom_alt,
           CASE WHEN n > 0 AND p > 0 AND p < 1 THEN round(
               (n_hom_ref - n*p*p) * (n_hom_ref - n*p*p) / (n*p*p)
             + (n_het - 2.0*n*p*(1.0-p)) * (n_het - 2.0*n*p*(1.0-p))
                 / (2.0*n*p*(1.0-p))
             + (n_hom_alt - n*(1.0-p)*(1.0-p))
                 * (n_hom_alt - n*(1.0-p)*(1.0-p)) / (n*(1.0-p)*(1.0-p)),
             6) END AS chi2
         FROM x""",
    "q286_titv" ->
      """WITH e AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
                 substr('ACGT', CAST(o_orderkey % 4 + 1 AS INTEGER), 1)
                   AS rb
               FROM orders),
         f AS (SELECT k, rb,
                 CASE WHEN k % 7 = 0 THEN 'AT' ELSE rb END AS ref,
                 list_filter(['A','C','G','T'], x -> x != rb) AS others
               FROM e),
         alleles AS (
           SELECT k, ref, others[CAST((k // 4) % 3 + 1 AS INTEGER)] AS a
           FROM f
           UNION ALL
           SELECT k, ref, others[CAST(((k // 4) + 1) % 3 + 1 AS INTEGER)]
           FROM f WHERE k % 5 = 0),
         snp AS (SELECT ref, a FROM alleles
                 WHERE length(ref) = 1 AND length(a) = 1
                   AND upper(a) != upper(ref)),
         c AS (SELECT
                 CAST(sum(CASE WHEN upper(ref) || upper(a)
                   IN ('AG','GA','CT','TC') THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_ti,
                 CAST(sum(CASE WHEN upper(ref) || upper(a)
                   IN ('AG','GA','CT','TC') THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_tv
               FROM snp)
         SELECT n_ti, n_tv,
           CASE WHEN n_tv = 0 THEN NULL
                ELSE n_ti * 1000000 // n_tv END AS titv_ppm
         FROM c""",
    "q281_allele_freq" ->
      """WITH per AS (
           SELECT 'chr' || (o_custkey % 3) AS chrom,
                  CAST(o_orderkey AS BIGINT) AS pos,
                  CASE (o_orderkey + 1) % 3 WHEN 0 THEN 0
                       WHEN 1 THEN 1 ELSE 2 END
                + CASE (o_orderkey + 2) % 3 WHEN 0 THEN 0
                       WHEN 1 THEN 1 ELSE 2 END
                + CASE (o_orderkey + 3) % 3 WHEN 0 THEN 0
                       WHEN 1 THEN 1 ELSE 2 END AS alt
           FROM orders)
         SELECT chrom, pos, CAST(6 AS BIGINT) AS n_called,
                CAST(alt AS BIGINT) AS n_alt,
                CAST(alt AS BIGINT) * 1000000 // 6 AS af_ppm
         FROM per""",
    "q280_vcf_samples" ->
      """WITH sm AS (SELECT * FROM (VALUES ('sA', 1), ('sB', 2),
                ('sC', 3)) AS t(sample, i))
         SELECT 'chr' || (o_custkey % 3) AS chrom,
                CAST(o_orderkey AS BIGINT) AS pos,
                sample,
                CASE (o_orderkey + i) % 3 WHEN 0 THEN '0/0'
                     WHEN 1 THEN '0/1' ELSE '1/1' END AS gt,
                CAST((o_orderkey * i) % 60 AS INTEGER) AS dp
         FROM orders CROSS JOIN sm""",
    "q279_vcf_roundtrip" ->
      """SELECT 'chr' || (l_partkey % 4) AS chrom,
              CAST(l_orderkey % 100000 + 1 AS BIGINT) AS pos,
              CASE WHEN l_orderkey % 3 = 0 THEN 'rs' || l_suppkey END AS id,
              'A' AS ref,
              CASE WHEN l_partkey % 2 = 0 THEN 'T' ELSE 'T,G' END AS alts,
              CAST(l_partkey % 150 AS DOUBLE) / 10.0 AS qual,
              CASE WHEN l_suppkey % 5 = 0 THEN 'PASS'
                   ELSE 'q10' END AS filter,
              CAST(l_partkey % 50 AS INTEGER) AS dp,
              '0.' || (l_suppkey % 9) AS af
         FROM lineitem
         WHERE l_partkey % 150 >= 75 AND l_orderkey % 7 = 0""",
    "q277_assembly_stats" ->
      """WITH contigs AS (
           SELECT translate(regexp_replace(upper(p_name), '[^A-Z]', '', 'g'),
                    'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                    'ACGTACGTACGTACGTACGTACGTAC') AS seq
           FROM part),
         l AS (SELECT CAST(length(seq) AS BIGINT) AS len,
                  CAST(length(seq) - length(translate(seq, 'GCgc', ''))
                    AS BIGINT) AS gc
               FROM contigs),
         hist AS (SELECT len, CAST(count(*) AS BIGINT) AS cnt,
                    CAST(sum(gc) AS BIGINT) AS gc
                  FROM l GROUP BY len),
         cum AS (SELECT len, cnt, len * cnt AS bp, gc,
                   CAST(sum(len * cnt) OVER (ORDER BY len DESC)
                     AS BIGINT) AS cum_bp,
                   CAST(sum(cnt) OVER (ORDER BY len DESC)
                     AS BIGINT) AS cum_cnt
                 FROM hist),
         tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_contigs,
                   CAST(sum(len * cnt) AS BIGINT) AS total_bp,
                   max(len) AS max_len,
                   CAST(sum(gc) AS BIGINT) AS tot_gc
                 FROM hist),
         cr AS (SELECT cum.* FROM cum, tot
                WHERE cum_bp * 2 >= total_bp
                ORDER BY len DESC LIMIT 1)
         SELECT n_contigs, total_bp, max_len, cr.len AS n50,
                cum_cnt - cnt +
                  ((total_bp + 1) // 2 - (cum_bp - bp) + len - 1) // len
                  AS l50,
                tot_gc * 1000000 // total_bp AS gc_ppm
         FROM cr, tot""",
    "q105_fastq_v2_pruned" ->
      """SELECT 'M01:' || l_orderkey || ':FC1:2:1101:' || l_partkey || ':' ||
                l_linenumber || ' ' || (CASE WHEN l_linenumber % 2 = 1 THEN 1 ELSE 2 END) ||
                ':N:0:ACGT' AS key,
              translate(CAST(l_partkey AS VARCHAR), '0123456789', 'ACGTACGTAC') AS sequence,
              CAST(CASE WHEN l_linenumber % 2 = 1 THEN 1 ELSE 2 END AS INTEGER) AS "read"
         FROM lineitem""",
    "q106_fasta_v2_pruned" ->
      """SELECT 'P' || p_partkey AS id, '' AS description FROM part""",
    "q110_rename_contigs" ->
      """SELECT count(*) AS n_rows, true AS ids_unique, true AS format_ok,
              true AS prefixes_preserved
         FROM part""",
    // region overlap in the 1-based inclusive domain: pos <= 900 and
    // pos + len(bases) - 1 >= 500 (cigar is all-M, span = |bases|)
    "q107_bam_region" ->
      """SELECT 'r' || o_orderkey AS "readName",
              CAST(o_orderkey + 1 AS INTEGER) AS "start",
              translate(CAST(o_orderkey AS VARCHAR), '0123456789', 'ACGTACGTAC') AS bases
         FROM orders
         WHERE (o_orderkey + 1) <= 900
           AND (o_orderkey + 1) +
               length(translate(CAST(o_orderkey AS VARCHAR), '0123456789', 'ACGTACGTAC')) - 1 >= 500""",
    // q50's key/sequence/read projection: the streaming reader must
    // reproduce the batch reader's parse bit-for-bit
    "q116_fastq_stream" ->
      """SELECT 'M01:' || l_orderkey || ':FC1:2:1101:' || l_partkey || ':' ||
                l_linenumber || ' ' || (CASE WHEN l_linenumber % 2 = 1 THEN 1 ELSE 2 END) ||
                ':N:0:ACGT' AS key,
              translate(CAST(l_partkey AS VARCHAR), '0123456789', 'ACGTACGTAC') AS sequence,
              CAST(CASE WHEN l_linenumber % 2 = 1 THEN 1 ELSE 2 END AS INTEGER) AS "read"
         FROM lineitem""",
    // q107's oracle verbatim: probe, v2-option, and BAI paths agree
    "q118_bam_bai_region" ->
      """SELECT 'r' || o_orderkey AS "readName",
              CAST(o_orderkey + 1 AS INTEGER) AS "start",
              translate(CAST(o_orderkey AS VARCHAR), '0123456789', 'ACGTACGTAC') AS bases
         FROM orders
         WHERE (o_orderkey + 1) <= 900
           AND (o_orderkey + 1) +
               length(translate(CAST(o_orderkey AS VARCHAR), '0123456789', 'ACGTACGTAC')) - 1 >= 500""",
    // q107's oracle verbatim: the v1 and v2 region paths must agree
    "q115_bam_v2_region" ->
      """SELECT 'r' || o_orderkey AS "readName",
              CAST(o_orderkey + 1 AS INTEGER) AS "start",
              translate(CAST(o_orderkey AS VARCHAR), '0123456789', 'ACGTACGTAC') AS bases
         FROM orders
         WHERE (o_orderkey + 1) <= 900
           AND (o_orderkey + 1) +
               length(translate(CAST(o_orderkey AS VARCHAR), '0123456789', 'ACGTACGTAC')) - 1 >= 500""",
    "q50_fastq_roundtrip" ->
      """SELECT 'M01:' || l_orderkey || ':FC1:2:1101:' || l_partkey || ':' ||
                l_linenumber || ' ' || (CASE WHEN l_linenumber % 2 = 1 THEN 1 ELSE 2 END) ||
                ':N:0:ACGT' AS key,
              translate(CAST(l_partkey AS VARCHAR), '0123456789', 'ACGTACGTAC') AS sequence,
              translate(CAST(l_partkey AS VARCHAR), '0123456789', 'IJKLMNOPQH') AS quality,
              CAST(CASE WHEN l_linenumber % 2 = 1 THEN 1 ELSE 2 END AS INTEGER) AS "read",
              'M01' AS instrument,
              CAST(l_orderkey AS INTEGER) AS "runNumber",
              'FC1' AS "flowcellId",
              CAST(2 AS INTEGER) AS lane,
              CAST(1101 AS INTEGER) AS tile,
              CAST(l_partkey AS INTEGER) AS xpos,
              CAST(l_linenumber AS INTEGER) AS ypos,
              'ACGT' AS "indexSequence",
              TRUE AS "filterPassed"
         FROM lineitem""",
    "q51_fasta_roundtrip" ->
      """SELECT 'P' || p_partkey AS id,
              translate(regexp_replace(upper(p_name), '[^A-Z]', '', 'g'),
                'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                'ACGTACGTACGTACGTACGTACGTAC') AS sequence
         FROM part""",
    "q52_sam_flag_filter" ->
      """SELECT 'r' || o_orderkey AS "readName",
              CAST(CASE WHEN o_orderstatus = 'F' THEN 77 ELSE 141 END AS INTEGER) AS flag,
              TRUE AS "readUnmapped",
              (o_orderstatus = 'F') AS "firstOfPair",
              (o_orderstatus = 'O') AS "secondOfPair"
         FROM orders WHERE o_orderstatus IN ('F', 'O')""",
    "q53_blast_filter" ->
      """WITH contigs AS (
           SELECT 'P' || p_partkey AS id,
                  translate(regexp_replace(upper(p_name), '[^A-Z]', '', 'g'),
                    'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                    'ACGTACGTACGTACGTACGTACGTAC') AS sequence
           FROM part),
         hits AS (
           SELECT 'P' || l_partkey AS qseqid,
                  50.0 + CAST(l_partkey % 50 AS DOUBLE) AS pident,
                  CAST(1 AS BIGINT) AS qstart,
                  CAST(l_quantity * 2 AS BIGINT) AS qend
           FROM lineitem)
         SELECT DISTINCT c.id AS id
         FROM contigs c LEFT JOIN hits h ON c.id = h.qseqid
         WHERE h.qseqid IS NULL
            OR (h.pident > 70.0 AND
                CAST(h.qend - h.qstart + 1 AS DOUBLE) / length(c.sequence) * 100.0 > 70.0)""",
    "q54_pipe_roundtrip" ->
      "SELECT doc_id, md5(text) AS text_md5 FROM documents",
    "q55_fwdrev_split" ->
      """SELECT 'r' || o_orderkey AS pair,
              translate(CAST(o_orderkey AS VARCHAR), '0123456789', 'ACGTACGTAC') AS fwd_seq,
              reverse(translate(
                translate(CAST(o_orderkey AS VARCHAR), '0123456789', 'ACGTACGTAC'),
                'ACGTacgt', 'TGCAtgca')) AS rev_seq
         FROM orders""",
    "q56_interleave" ->
      """WITH paired AS (SELECT c_custkey FROM customer WHERE c_custkey % 10 != 0)
         SELECT 'c' || c_custkey AS pair, CAST(1 AS INTEGER) AS mate,
                translate(CAST(c_custkey AS VARCHAR), '0123456789', 'ACGTACGTAC') AS sequence
         FROM paired
         UNION ALL
         SELECT 'c' || c_custkey, CAST(2 AS INTEGER),
                reverse(translate(
                  translate(CAST(c_custkey AS VARCHAR), '0123456789', 'ACGTACGTAC'),
                  'ACGTacgt', 'TGCAtgca'))
         FROM paired""",
    "q57_grouped_write" ->
      """SELECT 's' || c_nationkey AS sample, count(*) AS n
         FROM customer GROUP BY 1""",
    "q58_sam_to_fastq" ->
      """SELECT 'r' || o_orderkey ||
                (CASE WHEN o_orderstatus = 'F' THEN '/1' ELSE '/2' END) AS key,
              translate(CAST(o_orderkey AS VARCHAR), '0123456789', 'ACGTACGTAC') AS sequence,
              translate(CAST(o_orderkey AS VARCHAR), '0123456789', 'IJKLMNOPQH') AS quality
         FROM orders WHERE o_orderstatus IN ('F', 'O')""",
    "q59_bam_roundtrip" ->
      """SELECT 'r' || o_orderkey AS "readName",
              CAST(CASE WHEN o_orderstatus = 'F' THEN 77 ELSE 141 END AS INTEGER) AS flag,
              translate(CAST(o_orderkey AS VARCHAR), '0123456789', 'ACGTACGTAC') AS bases,
              translate(CAST(o_orderkey AS VARCHAR), '0123456789', 'IJKLMNOPQH') AS quality,
              TRUE AS "readUnmapped",
              (o_orderstatus = 'F') AS "firstOfPair",
              (o_orderstatus = 'O') AS "secondOfPair"
         FROM orders WHERE o_orderstatus IN ('F', 'O')""",
    "q62_blast_taxonomy" ->
      """WITH contigs AS (
           SELECT 'P' || p_partkey AS qseqid,
                  length(regexp_replace(upper(p_name), '[^A-Z]', '', 'g')) AS len
           FROM part)
         SELECT qseqid,
                50.0 + CAST(len % 50 AS DOUBLE) AS pident,
                CAST(len % 7 AS INTEGER) AS staxid
         FROM contigs
         WHERE (len % 7) IN (1, 2, 4)
           AND 50.0 + CAST(len % 50 AS DOUBLE) > 55.0""",
    "q79_wholefile_pipe" ->
      """SELECT 'P' || p_partkey AS id,
              CAST(length(regexp_replace(upper(p_name), '[^A-Z]', '', 'g')) AS INTEGER) AS seq_len
         FROM part
         WHERE length(regexp_replace(upper(p_name), '[^A-Z]', '', 'g')) > 0""",
    "q84_align_pipe" ->
      """SELECT 'c' || c_custkey || '/1' AS key,
              translate(CAST(c_custkey AS VARCHAR), '0123456789', 'ACGTACGTAC') AS sequence,
              translate(CAST(c_custkey AS VARCHAR), '0123456789', 'IJKLMNOPQH') AS quality
         FROM customer
         UNION ALL
         SELECT 'c' || c_custkey || '/2',
              reverse(translate(
                translate(CAST(c_custkey AS VARCHAR), '0123456789', 'ACGTACGTAC'),
                'ACGTacgt', 'TGCAtgca')),
              translate(CAST(c_custkey AS VARCHAR), '0123456789', 'IJKLMNOPQH')
         FROM customer""",
    "q85_assemble_pipe" ->
      """WITH r AS (SELECT 's' || c_nationkey AS sample,
                  translate(CAST(c_custkey AS VARCHAR), '0123456789', 'ACGTACGTAC') AS seq
             FROM customer)
         SELECT sample, count(*) AS n_contigs,
                CAST(sum(length(seq)) AS BIGINT) AS total_len,
                md5(string_agg(md5(seq), '' ORDER BY md5(seq))) AS seqs_md5
         FROM r GROUP BY sample""",
    "q80_archive_roundtrip" ->
      "SELECT 'doc_' || doc_id || '.txt' AS entry, md5(text) AS content_md5 FROM documents"
  )
}
