package graft

import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native tokens expression must be BIT-IDENTICAL to the HOF form
  * it replaced — same trim rule (0x20 spaces only), same Java-regex
  * `\s+` split classes, same empty-drop, same null propagation.
  */
class TokensSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("native tokens == HOF tokens on hostile inputs") {
    import spark.implicits._
    val hostile = Seq(
      "plain words here",
      "  leading and trailing  ",
      "tab\tseparated\twords",
      "newline\nseparated",
      "\r\n mixed \t\f whitespace  here ",
      "", " ", "\t", "\n\n\n",
      "one",
      "unicode café 中文 words",
      "nbsp is-not-ascii-whitespace",   // \s does NOT match U+00A0
      "many     spaces      between",
      "trailing-tab\t",
      "\ta\tb\t")
      .toDF("text")
    val both = hostile.select(
      TextFunctions.tokens(col("text")).as("native"),
      TextFunctions.tokensHof(col("text")).as("hof"))
    val rows = both.collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"native=${r.getSeq[String](0)} hof=${r.getSeq[String](1)}")
    }
    // null propagates as null through both
    val n = Seq[Option[String]](None).toDF("text").select(
      TextFunctions.tokens(col("text")).as("native"),
      TextFunctions.tokensHof(col("text")).as("hof")).collect()(0)
    assert(n.isNullAt(0) && n.isNullAt(1))
  }

  /** Case-mapping inputs: ASCII, Latin-1 accents, Greek final sigma,
    * Turkish dotted/dotless i, German sharp s, a titlecase digraph, a
    * ligature, CJK, emoji, invalid UTF-8 bytes, the empty string and
    * null. Built as binary and cast, so the invalid bytes reach the
    * string column as they are.
    */
  private val invalidUtf8 = Array(0x41, 0xc3, 0x28, 0xff, 0x62, 0xe2, 0x82).map(_.toByte)
  private def caseInputs: DataFrame = {
    import spark.implicits._
    val texts = Seq("Hello World 42 !?", "Café ÀÉÎÕÜ àéîõü Ññ Øresund",
      "ΟΔΟΣ οδος Σ", "İstanbul ısı I i", "Straße ß", "ǅemal ﬁne",
      "東京 データ", "🚀 emoji 👍🏽", "")
      .map(t => Option(t.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    (texts ++ Seq(Some(invalidUtf8), None)).toDF("b")
      .select(col("b").cast("string").as("text"))
  }

  test("native lower/upper == Spark lower/upper on hostile inputs, both eval paths") {
    val df = caseInputs
    assert(df.filter(col("text").cast("binary") === lit(invalidUtf8)).count() == 1,
      "premise: the invalid bytes reach the string column unchanged")
    def check(d: DataFrame, how: String): Unit = {
      val rows = d.select(
        lower(col("text")), TextFunctions.lowerCase(col("text")),
        upper(col("text")), TextFunctions.upperCase(col("text")),
        // a HOF lambda body is always interpreted
        transform(array(col("text")), t => TextFunctions.lowerCase(t)),
        transform(array(col("text")), t => lower(t)),
        col("text").cast("binary")).collect()
      assert(rows.length == 11)
      rows.foreach { r =>
        val what = s"$how ${Option(r.getAs[Array[Byte]](6)).map(_.toSeq)}"
        assert(r.get(1) == r.get(0), s"lower $what")
        assert(r.get(3) == r.get(2), s"upper $what")
        assert(r.get(4) == r.get(5), s"lower in a lambda $what")
      }
    }
    check(df, "local relation (interpreted)")
    check(df.repartition(2), "after a shuffle (codegen)")
    // the cases this input is here for really do change under ICU
    val spot = df.select(TextFunctions.upperCase(col("text"))).collect()
      .flatMap(r => Option(r.getString(0))).toSet
    assert(spot("STRASSE SS") && spot("ǄEMAL FINE"), spot)
    graft.plans.NativeFunctions.register(spark)
    assert(spark.sql("SELECT lower_native('ΟΔΟΣ'), upper_native('ß')").head().toSeq ==
      Seq("οδος", "SS"))
  }

  test("token-set count == per-word size(filter) sum: repeats, empties, nulls") {
    import spark.implicits._
    val words = Seq("the", "and", "of")
    val arrays = Seq[Option[Seq[String]]](
      Some(Seq("the", "the", "and", "", "x", "the")), Some(Seq()),
      Some(Seq("", "", "")), Some(Seq("The", "THE", "of", "of ")),
      Some(Seq("x", "y", "z")), Some(Seq("the", null, "of", null)), None)
      .toDF("toks")
    def check(d: DataFrame, how: String): Unit =
      d.select(TextFunctions.tokenSetCount(col("toks"), words),
        TextFunctions.tokenSetCountHof(col("toks"), words), col("toks"))
        .collect().foreach { r =>
          assert(r.get(0) == r.get(1), s"$how ${r.get(2)}")
        }
    check(arrays, "interpreted")
    check(arrays.repartition(2), "codegen")
    assert(arrays.select(TextFunctions.tokenSetCount(col("toks"), words))
      .collect().map(r => Option(r.get(0))).toSeq ==
      Seq(Some(4), Some(0), Some(0), Some(1), Some(0), Some(2), None))
    // null text: null tokens, null count through both forms
    val n = Seq[Option[String]](None).toDF("text")
      .select(TextFunctions.stopwordCount(TextFunctions.tokens(col("text"))),
        TextFunctions.tokenSetCountHof(TextFunctions.tokens(col("text")), words))
      .head()
    assert(n.isNullAt(0) && n.isNullAt(1))
  }

  test("qualityScore / langId == their HOF twins row for row on stop-word and marker texts") {
    import spark.implicits._
    // the sf0.001 documents run through the same check in PlanSpec
    val docs = Seq("the cat and the dog of the house is in a box",
      "der Hund und die Katze das Haus", "el perro y la casa de los que",
      "le chat et les chiens des maisons", "the der el le", "", "   ",
      "THE AND OF", "unicode café 中文 words", null).toDF("text")
    val rows = docs.select(col("text"),
      TextFunctions.qualityScore(col("text")), TextFunctions.qualityScoreHof(col("text")),
      TextFunctions.langId(col("text")), TextFunctions.langIdHof(col("text")))
      .collect()
    rows.foreach { r =>
      assert(r.get(1) == r.get(2), s"qualityScore: ${r.get(0)}")
      assert(r.get(3) == r.get(4), s"langId: ${r.get(0)}")
    }
    assert(rows.map(_.get(3)).distinct.length == 4, "every language wins somewhere")
  }

  test("native avg_quality / low_quality_count == HOF twins on non-empty strings") {
    import spark.implicits._
    val cases = Seq("IIIIIIII", "!#%&", "I", "@@@@IIII@@@@",
      "mixed unicode é≤").toDF("q")
    val both = cases.select(
      graft.functions.DnaFunctions.avgQualityCol(col("q")).as("a_nat"),
      graft.functions.DnaFunctions.avgQualityHof(col("q")).as("a_hof"),
      graft.functions.DnaFunctions.lowQualityCountCol(col("q"), 40).as("c_nat"),
      graft.functions.DnaFunctions.lowQualityCountHof(col("q"), 40).as("c_hof"))
    both.collect().foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), r.toString)
      assert(r.getInt(2) == r.getInt(3), r.toString)
    }
  }

  test("native avg_quality: empty string is NULL (the HOF form THREW under ANSI)") {
    import spark.implicits._
    val r = Seq("").toDF("q").select(
      graft.functions.DnaFunctions.avgQualityCol(col("q")).as("a"),
      graft.functions.DnaFunctions.lowQualityCountCol(col("q"), 40).as("c"))
      .collect()(0)
    assert(r.isNullAt(0))
    assert(r.getInt(1) == 0)
  }

  test("gpt2Pretokens: contractions, leading-space convention, categories") {
    import spark.implicits._
    def toks(t: String): Seq[String] =
      Seq(t).toDF("text")
        .select(TextFunctions.gpt2Pretokens(col("text")).as("t"))
        .head().getSeq[String](0)
    // contraction suffixes split as their own tokens
    assert(toks("it's we're don't") ==
      Seq("it", "'s", " we", "'re", " don", "'t"))
    // leading space attaches to the following letter/number/punct run;
    // "42nd" splits at the number/letter category edge
    assert(toks("the 42nd #tag!!") ==
      Seq("the", " 42", "nd", " #", "tag", "!!"))
    // accented letters are \p{L}
    assert(toks("naïve café") == Seq("naïve", " café"))
    // apostrophe that is NOT a contraction is a punct run
    assert(toks("l'été") == Seq("l", "'", "été"))
    // a multi-space run is ONE whitespace token (the documented RE2
    // lookahead divergence); single spaces still attach forward
    assert(toks("a  b") == Seq("a", "  ", "b"))
    // CJK letter runs, 4-byte emoji as punct-category run
    assert(toks("東京 データ 🚀") == Seq("東京", " データ", " 🚀"))
  }

  test("tokens stays inside whole-stage codegen (the point of the rewrite)") {
    import spark.implicits._
    // parquet-backed input: a literal Seq constant-folds to a
    // LocalTableScan with no codegen stage to inspect
    val dir = java.nio.file.Files.createTempDirectory("graft_tok").toString + "/t"
    Seq(("a b c", 1), ("d e", 2)).toDF("text", "n").write.parquet(dir)
    val df = spark.read.parquet(dir)
      .filter(col("n") > 0)
      .select(size(TextFunctions.tokens(col("text"))).as("k"), col("n"))
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan.take(800))
    // SQL surface too
    graft.plans.NativeFunctions.register(spark)
    val viaSql = spark.sql("SELECT tokens_native('  x  y ') AS t")
      .collect()(0).getSeq[String](0)
    assert(viaSql == Seq("x", "y"))
  }
}
