package graft

import graft.functions.Dna
import graft.plans.NativeFunctions
import org.scalatest.funsuite.AnyFunSuite

class NativeExprSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("revcomp_native agrees with the pure implementation (codegen path)") {
    NativeFunctions.register(spark)
    import spark.implicits._
    val rows = Seq("ACGT", "AACCGGTTN", "", "acgtn").toDF("s")
    rows.createOrReplaceTempView("native_in")
    val got = spark.sql("SELECT s, revcomp_native(s) AS rc FROM native_in").collect()
    got.foreach { r =>
      assert(r.getString(1) == Dna.reverseComplement(r.getString(0)))
    }
  }

  test("kmers_native generator streams len-k+1 rows per input") {
    NativeFunctions.register(spark)
    import spark.implicits._
    Seq("ACGTACGT", "AC", "").toDF("s").createOrReplaceTempView("native_in2")
    val got = spark.sql(
      """SELECT s, kmer FROM native_in2
         LATERAL VIEW kmers_native(s, 3) t AS kmer""").collect()
    // only the 8-char string yields kmers: 8-3+1 = 6
    assert(got.length == 6)
    assert(got.forall(_.getString(1).length == 3))
    val expected = Dna.kmers("ACGTACGT", 3).toSet
    assert(got.map(_.getString(1)).toSet == expected)
  }

  test("dot_native is bit-identical to the HOF dot product") {
    NativeFunctions.register(spark)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val vecs = Seq(
      (Array(0.1f, -2.5f, 3.25f), Array(1.5f, 0.25f, -0.75f)),
      (Array.empty[Float], Array.empty[Float]),
      (Array(1.0f), Array(2.0f))
    ).toDF("x", "y")
    val hof = graft.operators.Similarity.dot(col("x"), col("y"))
    val rows = vecs.select(hof.as("h"),
      call_function("dot_native", col("x"), col("y")).as("n")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)), r.toString)
    }
    // mixed float/double sides (the k-means assignment shape)
    val mixed = vecs.select(col("x"), col("y").cast("array<double>").as("y"))
    val r2 = mixed.select(graft.operators.Similarity.dot(col("x"), col("y")).as("h"),
      call_function("dot_native", col("x"), col("y")).as("n")).collect()
    r2.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("nfc_native composes decomposed sequences; ASCII passes through") {
    NativeFunctions.register(spark)
    import spark.implicits._
    val decomposed = "café" // e + combining acute
    val composed = "café"
    val rows = Seq(decomposed, composed, "plain ascii").toDF("s")
      .createOrReplaceTempView("nfc_in")
    val got = spark.sql("SELECT s, nfc_native(s) AS n FROM nfc_in").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(got(decomposed) == composed)
    assert(got(composed) == composed)
    assert(got("plain ascii") == "plain ascii")
  }

  test("fix_encoding_native repairs 1x and 2x mojibake, never touches clean text") {
    NativeFunctions.register(spark)
    import graft.plans.NativeText
    import spark.implicits._
    // build every string from codepoint constants (q366 doctrine)
    val clean = "caf" + new String(Array(0xe9), 0, 1) +
      " " + new String(Array(0xe4, 0x20ac, 0x201c), 0, 3)
    val once = NativeText.mojibake(clean)
    val twice = NativeText.mojibake(once)
    assert(once != clean && twice != once, "fixture failed to corrupt")
    val rows = Seq(clean, once, twice, "pure ascii").toDF("s")
    rows.createOrReplaceTempView("fixenc_in")
    val got = spark.sql(
      "SELECT s, fix_encoding_native(s) AS f FROM fixenc_in").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(got(once) == clean, "single-encoded not repaired")
    assert(got(twice) == clean, "double-encoded not repaired")
    assert(got(clean) == clean, "genuine non-ASCII text was damaged")
    assert(got("pure ascii") == "pure ascii")
    // kernel edges: a lone high char is genuine CP-1252, never touched
    val lone = new String(Array(0xe9), 0, 1)
    assert(NativeText.fixEncoding(
      org.apache.spark.unsafe.types.UTF8String.fromString(lone))
      .toString == lone)
    // non-CP-1252-encodable chars (CJK) pass through unchanged
    val cjk = new String(Array(0x6771, 0x4eac), 0, 2)
    assert(NativeText.fixEncoding(
      org.apache.spark.unsafe.types.UTF8String.fromString(cjk))
      .toString == cjk)
  }

  test("binary_quantize_native matches the HOF pack loop; empty packs to empty") {
    NativeFunctions.register(spark)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the ORIGINAL HOF formulation (kept here as the independent twin)
    def hofQuantize(e: org.apache.spark.sql.Column) =
      transform(
        sequence(lit(0), floor((size(e) + 31) / 32).cast("int") - 1),
        b => aggregate(
          sequence(lit(0), least(lit(31), size(e) - b * 32 - 1)),
          lit(0L),
          (acc, j) => acc +
            when(e.getItem(b * 32 + j) >= 0,
              call_function("shiftleft", lit(1L), j)).otherwise(0L)))
    val rng = new scala.util.Random(5)
    // 64-dim (exact blocks), 40-dim (partial tail block), 1-dim
    val data = Seq(64, 40, 1).map(d => Tuple1(Array.fill(d)(rng.nextFloat() - 0.5f)))
    val df = data.toDF("e")
    val rows = df.select(
      hofQuantize(col("e")).as("h"),
      call_function("binary_quantize_native", col("e")).as("n")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString)
    }
    // zero-length: HOF had the sequence(0,-1) bug (two spurious blocks);
    // native packs to a zero-length array
    val empty = Seq(Tuple1(Array.empty[Float])).toDF("e")
      .select(call_function("binary_quantize_native", col("e")).as("n"))
      .collect()
    assert(empty(0).getSeq[Long](0).isEmpty)
    // null element leaves its bit 0 (when(null >= 0).otherwise(0) twin)
    val withNull = Seq(Tuple1(Array[java.lang.Float](1.0f, null, -1.0f, 2.0f)))
      .toDF("e")
      .select(call_function("binary_quantize_native", col("e")).as("n"))
      .collect()
    assert(withNull(0).getSeq[Long](0) == Seq(0x9L)) // bits 0 and 3 only
  }

  test("hamming_native matches the HOF xor/popcount fold, null semantics included") {
    NativeFunctions.register(spark)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def hofHamming(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(
        zip_with(x, y, (a, b) => bit_count(a.bitwiseXOR(b))),
        lit(0), (acc, d) => acc + d)
    val rng = new scala.util.Random(11)
    val data = (0 until 50).map { _ =>
      (Array.fill(2)(rng.nextLong() & 0xffffffffL),
        Array.fill(2)(rng.nextLong() & 0xffffffffL))
    }
    val df = data.toDF("x", "y")
    val rows = df.select(hofHamming(col("x"), col("y")).as("h"),
      call_function("hamming_native", col("x"), col("y")).as("n")).collect()
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))
    // unequal lengths: zip_with pads with null → HOF yields null; so
    // must the native kernel
    val uneq = Seq((Array(1L, 2L), Array(1L))).toDF("x", "y")
      .select(hofHamming(col("x"), col("y")).as("h"),
        call_function("hamming_native", col("x"), col("y")).as("n"))
      .collect()
    assert(uneq(0).isNullAt(0) && uneq(0).isNullAt(1))
  }

  test("logistic_score_native is bit-identical to the literal fold") {
    NativeFunctions.register(spark)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // deterministic pseudo-random grid incl. extremes that stress exp()
    val rng = new scala.util.Random(42)
    val rows = (0 until 200).map { i =>
      def v() = i % 17 match {
        case 0 => 0.0
        case 1 => -0.0
        case 2 => 1e300
        case 3 => -1e300
        case 4 => 1e-300
        case _ => rng.nextGaussian() * 10
      }
      (v(), v(), v())
    }.toDF("x1", "x2", "x3")
    val w = Array(0.37, -1.25, 4.0, -0.0625)
    val fold = graft.operators.Corpus.logisticScore(w, Seq("x1", "x2", "x3"))
    val got = rows.select(fold.as("f"),
      call_function("logistic_score_native",
        typedlit(w.toSeq), col("x1"), col("x2"), col("x3")).as("n"))
      .collect()
    got.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)), r.toString)
    }
    // null propagation matches the fold (null feature -> null score)
    val withNull = Seq((Some(1.0), None: Option[Double], Some(2.0)))
      .toDF("x1", "x2", "x3")
      .select(graft.operators.Corpus.logisticScore(w, Seq("x1", "x2", "x3")).as("f"),
        call_function("logistic_score_native",
          typedlit(w.toSeq), col("x1"), col("x2"), col("x3")).as("n"))
      .collect()
    assert(withNull(0).isNullAt(0) && withNull(0).isNullAt(1))
  }

  test("GD training trajectory is unchanged by the native score kernel") {
    NativeFunctions.register(spark)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val feats = (0 until 500).map { i =>
      val x1 = rng.nextDouble(); val x2 = rng.nextDouble() * 2 - 1
      val x3 = rng.nextGaussian()
      val y = if (x1 + 0.5 * x2 - x3 > 0.4) 1.0 else 0.0
      (y, x1, x2, x3)
    }.toDF("y", "x1", "x2", "x3").repartition(4).localCheckpoint()
    val cols = Seq("x1", "x2", "x3")
    // the kernel-based trainer under test
    val wNew = graft.operators.Corpus.logisticRegression(
      feats, "y", cols, iterations = 12, lr = 2.0)
    // the pre-kernel literal-fold loop, replayed verbatim
    var wOld = Array.fill(cols.size + 1)(0.0)
    val df = feats.select(("y" +: cols).map(c => col(c).cast("double")): _*)
      .localCheckpoint()
    for (_ <- 1 to 12) {
      val err = graft.operators.Corpus.logisticScore(wOld, cols) - col("y")
      val aggs = avg(err) +: cols.map(c => avg(err * col(c)))
      val row = df.agg(aggs.head, aggs.tail: _*).head()
      wOld = wOld.zipWithIndex.map { case (wi, i) =>
        wi - 2.0 * row.getDouble(i) }
    }
    // per-row sigma is bit-identical (previous test); the trajectory can
    // differ only through shuffle-fetch merge order of the avg partials,
    // which is sub-ulp-per-step — far below the 4dp scoring contract
    wNew.zip(wOld).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"weights diverged: $a vs $b")
    }
  }

  test("extensions class registers the same functions at session build") {
    // the names runtime registration adds to a fresh session...
    val orig = spark
    def names(s: org.apache.spark.sql.SparkSession): Set[String] =
      s.sessionState.functionRegistry.listFunction().map(_.funcName).toSet
    val plain = orig.newSession()
    val before = names(plain)
    graft.plans.NativeFunctions.register(plain)
    val native = names(plain) -- before
    assert(native.size >= 19 && native.forall(_.endsWith("_native")),
      s"runtime registration added $native")
    // ...a session built with the extensions class has every one of
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val ext = org.apache.spark.sql.SparkSession.builder()
        .master("local[4]")
        .withExtensions(new graft.plans.GraftExtensions)
        .getOrCreate()
      assert(ext ne orig)
      val missing = native -- names(ext)
      assert(missing.isEmpty, s"not injected at session build: $missing")
      assert(ext.sql("SELECT revcomp_native('AACG')").head().getString(0)
        === "CGTT")
    } finally {
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
      org.apache.spark.sql.SparkSession.setActiveSession(orig)
      org.apache.spark.sql.SparkSession.setDefaultSession(orig)
    }
  }

  test("native fence: every table entry's Column form equals its SQL form, inside whole-stage codegen") {
    import graft.plans.KmerGenerator
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
    import org.apache.spark.sql.functions.expr
    NativeFunctions.register(spark)
    def cp(cps: Int*) = new String(cps.toArray, 0, cps.length)
    // a decomposed e-acute and an i-diaeresis; then "cafe-acute" as mojibake
    val text = Seq("caf" + cp(0x65, 0x301) + " na" + cp(0xef) + "ve the a the",
      graft.plans.NativeText.mojibake("caf" + cp(0xe9)) + " THE  x")
    // two rows of every argument type, then an all-NULL row; shuffled,
    // because a projection over a local relation is folded away
    spark.sql(s"""SELECT * FROM VALUES
        ('ACGTACGTN', '${text(0)}', '<p>Hi <b>there</b> &amp; bye</p>',
         'HTTP://Ex.COM:80/a/./b/../c?x=1#f', '../d.html', 'II#5+',
         cast(array(0.5, -1, 2) as array<float>), cast(array(1, 0.25, -0.75) as array<float>),
         2.29D, array('the', 'a', 'b'), array(5L, 9L), array(3L, 1L), 0.5D, -2D,
         0L, 1L, array(0.5D, 1D), array(2D, -1D), 1.25D, 5D),
        ('acgtt', '${text(1)}', '<div>a<br>b</div>', 'https://x.org/p?b=2&a=1', 'q?z=1',
         '!!!!', cast(array(0, 0, 0) as array<float>), cast(array(-1, 2, 3) as array<float>),
         0D, array('the', 'the', 'x'), array(0L), array(0L, 7L), -1D, 3D,
         1L, 0L, array(-0.5D, 2D), array(0D, 0D), 4.25D, 0D),
        (NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
         NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL)
      AS t(dna, text, html, url, href, qual, x, y, nx, toks, c1, c2, f1, f2,
        a0, a1, q0, q1, n0, n1)""").repartition(2).createOrReplaceTempView("native_fence")
    val cents = Seq("array(7L, 3L)", "array(array(1D, 0D, 0D), array(0D, 1D, 1D))",
      "array(1D, 1.4142135623730951D)")
    val adcTables = Seq(
      "array(array(array(1D, 0D), array(0D, 1D)), array(array(1D, 1D), array(2D, 0D)))",
      "array(array(1D, 1D), array(2D, 4D))")
    // SQL argument text per table entry; the Column form parses the same text
    val args = Map(
      "revcomp_native" -> Seq("dna"),
      "translate_dna_native" -> Seq("dna"),
      "kmers_native" -> Seq("dna", "3"),
      "dot_native" -> Seq("x", "y"),
      "nfc_native" -> Seq("text"),
      "fix_encoding_native" -> Seq("text"),
      "strip_accents_native" -> Seq("text"),
      "tokens_native" -> Seq("text"),
      "lower_native" -> Seq("text"),
      "upper_native" -> Seq("text"),
      "token_set_count_native" -> Seq("toks", "array('a', 'the')"),
      "avg_quality_native" -> Seq("qual"),
      "low_quality_count_native" -> Seq("qual", "40"),
      "cosine_argmax_native" -> (Seq("x", "nx") ++ cents),
      "l2_argmin_native" -> (Seq("x", "nx") ++ cents),
      "logistic_score_native" -> Seq("array(0.5D, -1D, 2D)", "f1", "f2"),
      "adc_sum_native" -> (adcTables ++ Seq("a0", "a1", "q0", "q1", "n0", "n1")),
      "binary_quantize_native" -> Seq("x"),
      "hamming_native" -> Seq("c1", "c2"),
      "html_to_text_native" -> Seq("html"),
      "canonicalize_url_native" -> Seq("url"),
      "resolve_url_native" -> Seq("url", "href"))
    assert(args.keySet == NativeFunctions.fns.map(_._1).toSet)
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    NativeFunctions.fns.foreach { case (name, cls, _) =>
      val a = args(name)
      val viaCall = spark.table("native_fence").select(NativeFunctions.call(name, a.map(expr): _*))
      val viaSql = spark.sql(s"SELECT $name(${a.mkString(", ")}) FROM native_fence")
      assert(viaCall.columns.toSeq == viaSql.columns.toSeq, name)
      assert(rows(viaCall) == rows(viaSql), name)
      if (cls != classOf[KmerGenerator]) Seq(viaCall, viaSql).foreach { df =>
        val nodes = FinalPlan.collectAll(df.queryExecution.executedPlan)
        val fused = nodes.collect { case w: WholeStageCodegenExec => w }
          .flatMap(_.collect { case p: ProjectExec => p })
          .exists(_.projectList.exists(_.find(cls.isInstance).isDefined))
        assert(fused, s"$name: ${df.queryExecution.executedPlan}")
        val fallback = nodes.flatMap(_.expressions.flatMap(_.collect {
          case e: CodegenFallback => e.nodeName }))
        assert(fallback.isEmpty, s"$name: $fallback")
      }
    }
    val unknown = intercept[IllegalArgumentException](
      NativeFunctions.call("no_such_native", expr("dna")))
    assert(unknown.getMessage.contains("no_such_native"))
  }
}
