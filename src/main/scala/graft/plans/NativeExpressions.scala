package graft.plans

import graft.functions.Dna
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hottest domain scalars — the
  * preference ladder from SURVEY.md §7.3: built-in composition first,
  * then a custom `Expression` with codegen (this file), then UDFs.
  *
  * Every kernel is plain JVM code shared by the interpreted and the
  * generated path: static methods on [[NativeDna]], [[NativeText]] and
  * [[NativeVec]], or a driver-built object handed to generated code
  * through `addReferenceObj` when the expression holds a literal table
  * (word set, centroids, weights, PQ lookup tables). Two bases carry
  * the repeated expression shapes:
  *  - [[StringKernelExpression]]: the nine `STRING → X` scalars. It owns
  *    the type check, the interpreted call and the generated code, one
  *    call of the static kernel inside whole-stage codegen;
  *  - [[CentroidArgBestExpression]] over [[CentroidArgBestKernel]]: the
  *    per-row arg-best over a literal centroid table, one loop for
  *    cosine (k-means, IVF) and squared L2 (PQ), each kind supplying
  *    only its score and skip rule.
  * The rest hand-write their codegen (quality scores, vector kernels,
  * literal-table scorers); [[KmerGenerator]] is the one Generator.
  *
  * One table, [[NativeFunctions.fns]], maps each SQL name to its
  * builder: `register` installs it in a live session,
  * [[GraftExtensions]] at session build, and [[NativeFunctions.call]]
  * builds Columns from it, so a name means one expression in SQL and in
  * the Column API.
  */
object NativeDna {

  /** Codegen-ed revcomp core, shared by interpreted + generated paths.
    * Public + static-shaped so generated code can call it.
    */
  def revcomp(s: UTF8String): UTF8String =
    UTF8String.fromString(Dna.reverseComplement(s.toString))

  /** Codegen-ed codon translation core (X2). */
  def translateDna(s: UTF8String): UTF8String =
    UTF8String.fromString(Dna.translateDna(s.toString))

  /** Unicode NFC normalization core — composes decomposed sequences
    * (e + U+0301 → é) so visually-identical text hashes identically:
    * the standard preprocessing step before exact/near dedup on
    * multilingual corpora. ASCII fast path: bytes==chars means no
    * combining sequences, return the input untouched (no String
    * round-trip on the common case).
    */
  def nfc(s: UTF8String): UTF8String = {
    if (s.getBytes.length == s.numChars()) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFC))
  }

  /** Accent stripping with DuckDB `strip_accents` parity: NFD
    * decomposition, drop combining marks (Mn), NFC recompose — pure
    * ASCII stays on the byte==char fast path like [[nfc]].
    */
  def stripAccents(s: UTF8String): UTF8String = {
    if (s.getBytes.length == s.numChars()) s
    else UTF8String.fromString(java.text.Normalizer.normalize(
      java.text.Normalizer.normalize(s.toString,
        java.text.Normalizer.Form.NFD)
        .replaceAll("\\p{Mn}+", ""),
      java.text.Normalizer.Form.NFC))
  }

  /** Quality-string cores (X6/X7) — EXACT twins of the HOF forms
    * `aggregate(split(c, ""), 0, acc + ascii(ch))` etc.: ascii() is the
    * code point of the (single-code-point) element, so both loops step
    * by CODE POINT. ASCII fast path sums bytes directly (the Phred+33
    * domain); the general path walks code points.
    */
  def qualityCodePointSum(s: UTF8String): Long = {
    val nb = s.numBytes()
    if (nb == s.numChars()) {
      val b = s.getBytes
      var sum = 0L
      var i = 0
      while (i < nb) { sum += (b(i) & 0xff); i += 1 }
      sum
    } else {
      val str = s.toString
      var sum = 0L
      var i = 0
      while (i < str.length) {
        val cp = str.codePointAt(i)
        sum += cp
        i += Character.charCount(cp)
      }
      sum
    }
  }

  def lowQualityCount(s: UTF8String, t: Int): Int = {
    val nb = s.numBytes()
    if (nb == s.numChars()) {
      val b = s.getBytes
      var n = 0
      var i = 0
      while (i < nb) { if ((b(i) & 0xff) < t) n += 1; i += 1 }
      n
    } else {
      val str = s.toString
      var n = 0
      var i = 0
      while (i < str.length) {
        val cp = str.codePointAt(i)
        if (cp < t) n += 1
        i += Character.charCount(cp)
      }
      n
    }
  }

  /** Whitespace tokenization core — EXACTLY
    * `filter(split(trim(c), "\\s+"), _ != "")`: trim strips 0x20 spaces
    * only (the StringTrim rule), the split is Java regex `\s+` (ASCII
    * whitespace classes), empties drop. One compiled-regex pass per row;
    * the shared pattern is stateless and thread-safe.
    */
  private val wsPattern = java.util.regex.Pattern.compile("\\s+")
  def tokens(s: UTF8String): GenericArrayData = {
    val parts = wsPattern.split(s.trim().toString, -1)
    var n = 0
    var i = 0
    while (i < parts.length) { if (parts(i).nonEmpty) n += 1; i += 1 }
    val out = new Array[Any](n)
    var j = 0
    i = 0
    while (i < parts.length) {
      if (parts(i).nonEmpty) { out(j) = UTF8String.fromString(parts(i)); j += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Web-corpus cores ([[graft.functions.Web]]): single-pass HTML→text
    * and URL canonicalization, codegen-callable like the rest of this
    * object. Both run once per crawled document — the hottest scalars
    * of a web-ingestion pipeline after tokenization.
    */
  def htmlToText(s: UTF8String): UTF8String =
    UTF8String.fromString(graft.functions.Web.htmlToText(s.toString))

  def canonicalUrl(s: UTF8String): UTF8String =
    UTF8String.fromString(graft.functions.Web.canonicalizeUrl(s.toString))

  /** May return null — "drop this link" ([[graft.functions.Web
    * .resolveUrl]]); the expression wrapper propagates it as SQL NULL.
    */
  def resolveUrl(base: UTF8String, href: UTF8String): UTF8String = {
    val r = graft.functions.Web.resolveUrl(base.toString, href.toString)
    if (r == null) null else UTF8String.fromString(r)
  }
}

/** A `STRING → X` scalar over one static kernel: the STRING type check,
  * `nullSafeEval` through [[kernel]], and generated code that is one
  * call of [[kernelPath]] (straight-line Java inside whole-stage
  * codegen, no row boxing, no Scala closure dispatch). A subclass names
  * its SQL function (`prettyName`) and its kernel twice: as the Java
  * path generated code calls and as the same call for the interpreted
  * path. The result type is STRING unless the subclass says otherwise.
  */
abstract class StringKernelExpression extends UnaryExpression {

  /** The kernel's static Java path, e.g. `graft.plans.NativeDna.tokens`. */
  protected def kernelPath: String
  protected def kernel(s: UTF8String): Any

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${child.dataType.catalogString}")
  override def dataType: DataType = StringType

  override protected def nullSafeEval(v: Any): Any = kernel(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$kernelPath($c)")
}

/** Generated code for a kernel whose Java `null` is SQL NULL: the boxed
  * result unboxes into `ev.value` or sets `ev.isNull`. For the body of
  * a nullable expression's `nullSafeCodeGen`, which declares both.
  */
private[plans] object BoxedResult {
  def apply(ctx: CodegenContext, ev: ExprCode, dt: DataType, call: String): String = {
    val res = ctx.freshName("res")
    s"""${CodeGenerator.boxedType(dt)} $res = $call;
       |${ev.isNull} = $res == null;
       |if (!${ev.isNull}) { ${ev.value} = $res; }""".stripMargin
  }
}

/** X1: reverse complement. */
case class RevCompExpression(child: Expression) extends StringKernelExpression {
  override def prettyName: String = "revcomp_native"
  override protected def kernelPath = "graft.plans.NativeDna.revcomp"
  override protected def kernel(s: UTF8String): Any = NativeDna.revcomp(s)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Whitespace tokenizer. The HOF form (`filter(split(...), lambda)`) is
  * CodegenFallback: the per-element predicate interprets AND the
  * fallback breaks whole-stage codegen for the entire enclosing
  * projection — every text query paid that. This stays inside the
  * fused stage and runs one compiled-regex pass per row;
  * [[graft.functions.TextFunctions.tokens]] builds it.
  */
case class TokensExpression(child: Expression) extends StringKernelExpression {
  override def prettyName: String = "tokens_native"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def kernelPath = "graft.plans.NativeDna.tokens"
  override protected def kernel(s: UTF8String): Any = NativeDna.tokens(s)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** X6 as a native expression: mean Phred score = code-point sum /
  * numChars, one byte loop per read instead of a per-char
  * split("")+aggregate HOF (which allocated one single-char string AND
  * one interpreted lambda eval per base — at 100 TB of reads, the
  * hottest scalar in the quality-filter path). NULL on the empty
  * string — a deliberate improvement over the HOF form, whose
  * sum/length(=0) division THREW under Spark 4's default ANSI mode
  * (the try_divide semantics are the safe ones for a data-quality
  * scalar).
  */
case class AvgQualityExpression(child: Expression) extends UnaryExpression {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"avg_quality_native requires STRING, got ${child.dataType.catalogString}")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "avg_quality_native"

  override protected def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String]
    val n = s.numChars()
    if (n == 0) null
    else NativeDna.qualityCodePointSum(s).toDouble / n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      // freshName, not a fixed local: with a non-nullable child the code
      // isn't wrapped in its own block, and two instances in one codegen
      // scope would redeclare the variable (janino error → silent
      // interpreted fallback)
      val n = ctx.freshName("n")
      s"""
      int $n = $c.numChars();
      if ($n == 0) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = (double) graft.plans.NativeDna.qualityCodePointSum($c) / $n;
      }
    """
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** X7 as a native expression: count of code points below the threshold
  * (same one-pass loop as [[AvgQualityExpression]]).
  */
case class LowQualityCountExpression(child: Expression, threshold: Expression)
    extends BinaryExpression {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  override def left: Expression = child
  override def right: Expression = threshold
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && threshold.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"low_quality_count_native requires (STRING, INT), got " +
        s"(${child.dataType.catalogString}, ${threshold.dataType.catalogString})")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "low_quality_count_native"

  override protected def nullSafeEval(s: Any, t: Any): Any =
    NativeDna.lowQualityCount(s.asInstanceOf[UTF8String], t.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (s, t) => s"graft.plans.NativeDna.lowQualityCount($s, $t)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(child = newLeft, threshold = newRight)
}

/** X2: the 64-entry codon table compiled into JIT-ed Scala — replaces
  * the per-row Scala UDF (closure dispatch + row boxing) in q24.
  */
case class TranslateDnaExpression(child: Expression) extends StringKernelExpression {
  override def prettyName: String = "translate_dna_native"
  override protected def kernelPath = "graft.plans.NativeDna.translateDna"
  override protected def kernel(s: UTF8String): Any = NativeDna.translateDna(s)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Unicode NFC normalization: text-pipeline preprocessing so
  * canonically-equivalent strings fingerprint identically before dedup.
  */
case class NfcNormalizeExpression(child: Expression) extends StringKernelExpression {
  override def prettyName: String = "nfc_native"
  override protected def kernelPath = "graft.plans.NativeDna.nfc"
  override protected def kernel(s: UTF8String): Any = NativeDna.nfc(s)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class StripAccentsExpression(child: Expression) extends StringKernelExpression {
  override def prettyName: String = "strip_accents_native"
  override protected def kernelPath = "graft.plans.NativeDna.stripAccents"
  override protected def kernel(s: UTF8String): Any = NativeDna.stripAccents(s)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Mojibake repair kernel (the deterministic ftfy-core subset): detect
  * and undo UTF-8 text that was mis-decoded as CP-1252/Latin-1 and
  * re-encoded ("Ã¤" → "ä"), including the double-encoded form. Table
  * driven, zero heuristics beyond the decision rule below — the same
  * rule is replayable byte-exactly, which is what makes it safe to run
  * unsupervised over 100 TB of crawl text.
  *
  * One repair round: every char must map to a byte under SLOPPY
  * CP-1252 (the published table, [[graft.functions.Cp1252]], plus the
  * five undefined 0x80–0x9F slots as their C1 code points — the
  * "sloppy-windows-1252" convention mojibake actually round-trips
  * through); the byte string must then decode as STRICT UTF-8 with at
  * least one multibyte sequence. If any condition fails the text is
  * returned unchanged — genuine CP-1252/Latin-1 text (a lone "é") is
  * never valid UTF-8, so it is never touched. Rounds iterate to a
  * fixed point (≤ 3), which unwinds double-encoding.
  */
object NativeText {

  def fixEncodingOnce(s: String): String = {
    var hasHigh = false
    var i = 0
    while (i < s.length && !hasHigh) {
      if (s.charAt(i) >= 0x80) hasHigh = true
      i += 1
    }
    if (!hasHigh) return s // pure ASCII: nothing to repair
    val bytes = new Array[Byte](s.length)
    i = 0
    while (i < s.length) {
      val cp = s.charAt(i).toInt
      val b =
        if (cp >= 0x80 && cp <= 0x9f) cp // sloppy C1 fallback
        else graft.functions.Cp1252.fromChar(cp)
      if (b < 0) return s // not CP-1252-encodable: not this mojibake class
      bytes(i) = b.toByte
      i += 1
    }
    val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
    try {
      val out = dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
      // a successful strict decode of a string with high bytes always
      // consumed a multibyte sequence (a lone high byte is malformed),
      // so out != s here; returned as the repaired round
      out
    } catch {
      case _: java.nio.charset.CharacterCodingException => s
    }
  }

  def fixEncoding(u: UTF8String): UTF8String = {
    var cur = u.toString
    var rounds = 0
    var changed = true
    while (changed && rounds < 3) {
      val nxt = fixEncodingOnce(cur)
      changed = nxt != cur
      cur = nxt
      rounds += 1
    }
    UTF8String.fromString(cur)
  }

  /** The CORRUPTION this kernel undoes — UTF-8 bytes mis-decoded as
    * sloppy CP-1252 — exposed for fixtures and specs (apply N times to
    * plant N-times-encoded mojibake).
    */
  private[graft] def mojibake(s: String): String = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val sb = new java.lang.StringBuilder(bytes.length)
    bytes.foreach { b =>
      val v = b & 0xff
      val cp = graft.functions.Cp1252.toChar(v)
      sb.append((if (cp >= 0) cp else v).toChar) // sloppy C1 fallback
    }
    sb.toString
  }

  /** Spark 4.1's `lower`/`upper` under the default
    * `spark.sql.icu.caseMappings.enabled`: an all-ASCII value through
    * UTF8String's byte loop, anything else through ICU's root-locale
    * full case mapping of its valid-string decoding. These are the two
    * branches of `CollationAwareUTF8String.toLowerCase`/`toUpperCase`,
    * without that class's static initializer: it builds a title-case
    * table over all 1,114,112 code points (with a dictionary word
    * BreakIterator), about 1.7 s in a fresh JVM, and the first
    * `lower()` pays it even on pure ASCII.
    */
  def lower(u: UTF8String): UTF8String =
    if (u.isFullAscii) u.toLowerCaseAscii
    else UTF8String.fromString(
      com.ibm.icu.lang.UCharacter.toLowerCase(u.toValidString))

  def upper(u: UTF8String): UTF8String =
    if (u.isFullAscii) u.toUpperCaseAscii
    else UTF8String.fromString(
      com.ibm.icu.lang.UCharacter.toUpperCase(u.toValidString))
}

/** `lower`/`upper` as a native codegen expression ([[NativeText.lower]]
  * rules: the same result as Spark's, without the ICU title-case table
  * its first call builds). Always the ICU default mapping — the session
  * flag `spark.sql.icu.caseMappings.enabled=false` does not switch it.
  * Registered as `lower_native`/`upper_native`;
  * [[graft.functions.TextFunctions.lowerCase]] and `upperCase` build it.
  */
case class CaseMapExpression(child: Expression, upper: Boolean)
    extends StringKernelExpression {
  override def prettyName: String = if (upper) "upper_native" else "lower_native"
  override protected def kernelPath =
    s"graft.plans.NativeText.${if (upper) "upper" else "lower"}"
  override protected def kernel(s: UTF8String): Any =
    if (upper) NativeText.upper(s) else NativeText.lower(s)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The word set of a [[TokenSetCountExpression]], built once from its
  * literal word list and handed to generated code via
  * `addReferenceObj`. Null words never match (an `=== null` filter
  * keeps nothing), and a word listed twice counts once.
  */
final class TokenSetKernel(words: Seq[UTF8String]) extends Serializable {
  private val set = new java.util.HashSet[UTF8String]()
  words.foreach(w => if (w != null) set.add(w))

  /** Elements of `toks` that are in the set, repeats included; null
    * elements never count.
    */
  def count(toks: org.apache.spark.sql.catalyst.util.ArrayData): Int = {
    var n = 0
    var i = 0
    while (i < toks.numElements()) {
      if (!toks.isNullAt(i) && set.contains(toks.getUTF8String(i))) n += 1
      i += 1
    }
    n
  }
}

/** Occurrences of a fixed word set in an `array<string>`: one pass
  * over the array against a hashed set, null array in → null out. It
  * equals the sum of per-word `size(filter(toks, t => t === w))` over
  * distinct words under ANSI mode (Spark 4's default, where `size(null)`
  * is null). That sum is one interpreted lambda per word, and the
  * lambdas keep the enclosing predicate out of whole-stage codegen.
  * `words` must be FOLDABLE: it is evaluated once into a
  * [[TokenSetKernel]], not per row.
  */
case class TokenSetCountExpression(tokens: Expression, words: Expression)
    extends Expression {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  override def children: Seq[Expression] = Seq(tokens, words)
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = tokens.nullable
  override def prettyName: String = "token_set_count_native"

  override def checkInputDataTypes(): TypeCheckResult = {
    def strArray(e: Expression) = e.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    if (!strArray(tokens) || !strArray(words))
      TypeCheckResult.TypeCheckFailure(
        "token_set_count_native requires (ARRAY<STRING>, ARRAY<STRING>)")
    else if (!words.foldable)
      TypeCheckResult.TypeCheckFailure(
        "token_set_count_native word list must be a literal")
    else TypeCheckResult.TypeCheckSuccess
  }

  private lazy val kernel: TokenSetKernel = {
    val ws = words.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    new TokenSetKernel(
      if (ws == null) Nil
      else (0 until ws.numElements()).map(i =>
        if (ws.isNullAt(i)) null else ws.getUTF8String(i)))
  }

  override def eval(input: InternalRow): Any = {
    val t = tokens.eval(input)
    if (t == null) null
    else kernel.count(t.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val kRef = ctx.addReferenceObj("tokenSet", kernel,
      classOf[TokenSetKernel].getName)
    val t = tokens.genCode(ctx)
    ev.copy(code =
      code"""
        ${t.code}
        boolean ${ev.isNull} = ${t.isNull};
        int ${ev.value} = ${ev.isNull} ? 0 : $kRef.count(${t.value});
      """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(tokens = newChildren(0), words = newChildren(1))
}

/** Encoding repair as a native codegen expression — the "clean the
  * crawl before any tokenizer" scalar. Narrow, zero shuffle; stays
  * inside whole-stage codegen like its NFC sibling.
  */
case class FixEncodingExpression(child: Expression) extends StringKernelExpression {
  override def prettyName: String = "fix_encoding_native"
  override protected def kernelPath = "graft.plans.NativeText.fixEncoding"
  override protected def kernel(s: UTF8String): Any = NativeText.fixEncoding(s)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** X5 as a Catalyst Generator: one output row per k-mer, streamed —
  * the `explode(transform(sequence(...)))` formulation materializes an
  * O(len·k) array per row first; this emits substrings lazily.
  */
case class KmerGenerator(child: Expression, kExpr: Expression)
    extends Expression with Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(child, kExpr)
  override def elementSchema: StructType =
    StructType(StructField("kmer", StringType) :: Nil)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val s = child.eval(input)
    val kv = kExpr.eval(input)
    if (s == null || kv == null) Iterator.empty
    else {
      val u = s.asInstanceOf[UTF8String]
      val k = kv.asInstanceOf[Int]
      val bytes = u.getBytes
      if (k <= 0) Iterator.empty
      else if (bytes.length == u.numChars()) {
        // ASCII fast path: fromBytes wraps the shared array with an
        // offset — one allocation per k-mer, no re-encode, no String.
        if (bytes.length < k) Iterator.empty
        else (0 to bytes.length - k).iterator.map { i =>
          InternalRow(UTF8String.fromBytes(bytes, i, k))
        }
      } else {
        val str = u.toString
        if (str.length < k) Iterator.empty
        else (0 to str.length - k).iterator.map { i =>
          InternalRow(UTF8String.fromString(str.substring(i, i + k)))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), kExpr = newChildren(1))
}

/** JIT-compiled vector kernel shared by the interpreted and generated
  * paths of [[DotProductExpression]].
  */
object NativeVec {
  /** Index-ordered double dot product — bit-identical to the
    * `aggregate(zip_with(x, y, (p, q) => p*q), 0.0, _+_)` HOF
    * formulation (same cast-then-multiply-then-add sequence, same
    * order), including its null semantics: unequal lengths or a null
    * element yield null.
    */
  def dot(l: org.apache.spark.sql.catalyst.util.ArrayData,
          r: org.apache.spark.sql.catalyst.util.ArrayData,
          lFloat: Boolean, rFloat: Boolean): java.lang.Double = {
    val n = l.numElements()
    if (n != r.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (l.isNullAt(i) || r.isNullAt(i)) return null
      val x = if (lFloat) l.getFloat(i).toDouble else l.getDouble(i)
      val y = if (rFloat) r.getFloat(i).toDouble else r.getDouble(i)
      acc += x * y
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** Binary (1-bit sign) pack loop — EXACT twin of the HOF formulation
    * in [[graft.operators.Similarity.binaryQuantize]]'s original
    * `transform(sequence(...), aggregate(...))` form: ceil(n/32) 32-bit
    * blocks as longs (values in [0, 2³²)), bit j of block b set iff
    * element 32b+j >= 0 (-0.0 and +0.0 both set; NaN and NULL elements
    * leave the bit 0 — `when(x >= 0, ...).otherwise(0)` semantics).
    * A zero-length embedding packs to a zero-length codes array (the
    * HOF form's floor((0+31)/32)-1 = -1 fed sequence(0,-1) = [0,-1] —
    * two spurious zero blocks; advisor finding, fixed here).
    */
  def binaryQuantize(e: org.apache.spark.sql.catalyst.util.ArrayData,
                     isFloat: Boolean): GenericArrayData = {
    val n = e.numElements()
    val nBlocks = (n + 31) / 32
    val out = new Array[Any](nBlocks)
    var b = 0
    while (b < nBlocks) {
      var code = 0L
      val lim = math.min(32, n - b * 32)
      var j = 0
      while (j < lim) {
        val i = b * 32 + j
        if (!e.isNullAt(i)) {
          val x = if (isFloat) e.getFloat(i).toDouble else e.getDouble(i)
          if (x >= 0) code |= (1L << j)
        }
        j += 1
      }
      out(b) = java.lang.Long.valueOf(code)
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Hamming distance over packed code arrays — EXACT twin of the
    * `aggregate(zip_with(a, b, bit_count(xor)), 0, _+_)` HOF form,
    * null semantics included: unequal lengths (zip_with pads with
    * nulls) or a null element yield null.
    */
  def hamming(l: org.apache.spark.sql.catalyst.util.ArrayData,
              r: org.apache.spark.sql.catalyst.util.ArrayData): java.lang.Integer = {
    val n = l.numElements()
    if (n != r.numElements()) return null
    var acc = 0
    var i = 0
    while (i < n) {
      if (l.isNullAt(i) || r.isNullAt(i)) return null
      acc += java.lang.Long.bitCount(l.getLong(i) ^ r.getLong(i))
      i += 1
    }
    java.lang.Integer.valueOf(acc)
  }

  /** HALF_UP rounding to 4 dp through the decimal string representation
    * — the exact semantics of Spark's `round(x, 4)` on doubles
    * (`Round` evaluates `BigDecimal.valueOf(x).setScale(4, HALF_UP)`),
    * so kernels using this agree bit-for-bit with the SQL formulation.
    */
  def round4(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else java.math.BigDecimal.valueOf(d)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
}

/** Hilbert xy2d as a native codegen expression — the unrolled Column
  * form re-references x/y several times per level, growing the
  * expression TREE ~5^order nodes (minutes of analysis at order 8);
  * this compiles to one kernel call inside whole-stage codegen.
  * Out-of-grid inputs fail loudly in the kernel.
  */
case class HilbertExpression(left: Expression, right: Expression,
    order: Int) extends BinaryExpression {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hilbert_native requires BIGINT inputs, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")

  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "hilbert_native"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    graft.operators.Hilbert.xy2dLong(order,
      l.asInstanceOf[Long], r.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = graft.operators.Hilbert.xy2dLong($order, $l, $r);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native dot product over two array<float|double> columns.
  *
  * The `aggregate(zip_with(...))` HOF formulation is CodegenFallback —
  * every element dispatches through interpreted lambda closures, the
  * same trap that cost q21/q28 4-5× on k-mers. This expression compiles
  * to one JIT-ed while-loop and stays inside whole-stage codegen — the
  * hot kernel of every cosine operator (brute-force, ANN, IVF, k-means,
  * embedding near-dup).
  */
case class DotProductExpression(left: Expression, right: Expression)
    extends BinaryExpression {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  private def elemOk(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_native requires ARRAY<FLOAT|DOUBLE> inputs, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_native"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    NativeVec.dot(
      l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      isFloat(left), isFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => BoxedResult(ctx, ev, dataType,
      s"graft.plans.NativeVec.dot($l, $r, ${isFloat(left)}, ${isFloat(right)})"))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Binary (1-bit sign) quantization as a native codegen expression —
  * the pack loop of the quantization ladder's memory-extreme rung. The
  * HOF form (`transform(sequence(...), aggregate(sequence(...), ...))`)
  * is CodegenFallback: TWO nested interpreted lambda evals per packed
  * bit plus a materialized index array per block. This compiles to one
  * JIT-ed while-loop inside whole-stage codegen (BASELINE.md, Round-6
  * scalar-kernel probe, records the gap).
  */
case class BinaryQuantizeExpression(child: Expression) extends UnaryExpression {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  private def elemOk(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"binary_quantize_native requires ARRAY<FLOAT|DOUBLE>, got " +
        child.dataType.catalogString)
  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "binary_quantize_native"

  override protected def nullSafeEval(v: Any): Any =
    NativeVec.binaryQuantize(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.NativeVec.binaryQuantize($c, $isFloat)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Hamming distance over two packed code arrays (array<long>) as a
  * native codegen expression: one xor+popcount while-loop replacing the
  * interpreted `aggregate(zip_with(...))` HOF — the inner kernel of
  * binary-code search, where per-element interpreted dispatch costs 4×+
  * (BASELINE.md, Round-6 scalar-kernel probe).
  */
case class HammingDistanceExpression(left: Expression, right: Expression)
    extends BinaryExpression {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  private def elemOk(dt: DataType): Boolean = dt match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hamming_native requires ARRAY<BIGINT> inputs, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "hamming_native"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    NativeVec.hamming(
      l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) =>
      BoxedResult(ctx, ev, dataType, s"graft.plans.NativeVec.hamming($l, $r)"))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Driver-precomputed centroid table for [[CentroidArgBestExpression]]:
  * one plain JVM object handed to generated code via `addReferenceObj`,
  * so the generated method is O(1) in k — the literal-baked per-centroid
  * argmax (k inline struct/round/dot expressions) blows past javac's
  * 64 KB method limit around k ≈ 10²-10³, exactly the range an IVF
  * coarse quantizer trains at, and its analysis + codegen cost
  * dominates small PQ runs (pqEncode measured ~8 s on 2 000 rows,
  * nearly all plan compilation — BASELINE.md, Round-7 funnel probe).
  * Rides the task-binary broadcast: Spark serializes the plan (centroid
  * literals included) once per stage and broadcasts it, so executors
  * receive the k×dim matrix once, not per task.
  *
  * [[apply]] is the arg-best of the kind's [[score]] with ties toward
  * the smaller centroid id — replicating the literal path's `array_max`
  * over `struct(score, -cid, cid)` bit for bit (same cast-then-multiply
  * dot order, same HALF_UP rounding, [[NativeVec.round4]]). Comparison
  * uses SPARK's total order for doubles: NaN is GREATER than every real
  * value and EQUAL to itself (an all-NaN row still scores NaN, and the
  * literal array_max then prefers it / tie-breaks by cid — plain
  * `>`/`==` would instead keep whichever came first in centroid order).
  * A dim-mismatched centroid, or one the kind [[skips]], scores null in
  * the literal path and loses to any real score, so it is skipped here;
  * all-null falls back to the smallest centroid id, as lexicographic
  * max of (null, -cid) does.
  */
abstract class CentroidArgBestKernel(ids: Array[Long], vecs: Array[Array[Double]],
    protected val norms: Array[Double], rowIsFloat: Boolean) extends Serializable {

  /** Whether centroid `ci` has no score for a row of norm value `rowNorm`. */
  protected def skips(rowNorm: Double, ci: Int): Boolean
  /** Centroid `ci`'s score for a row of norm value `rowNorm` whose dot
    * with the centroid is `dot`; the highest score wins.
    */
  protected def score(dot: Double, rowNorm: Double, ci: Int): Double

  // Spark SQL double ordering: NaN greatest, NaN == NaN, -0.0 == 0.0.
  private def gtSpark(a: Double, b: Double): Boolean =
    if (a.isNaN) !b.isNaN else if (b.isNaN) false else a > b
  private def eqSpark(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || a == b

  final def apply(e: org.apache.spark.sql.catalyst.util.ArrayData,
                  rowNorm: Double): Long = {
    val nDim = e.numElements()
    var best = Double.NaN
    var bestId = Long.MaxValue
    var found = false
    var ci = 0
    while (ci < ids.length) {
      val c = vecs(ci)
      if (c.length == nDim && !skips(rowNorm, ci)) {
        var acc = 0.0
        var i = 0
        while (i < nDim) {
          val x = if (rowIsFloat) e.getFloat(i).toDouble else e.getDouble(i)
          acc += x * c(i)
          i += 1
        }
        val s = score(acc, rowNorm, ci)
        if (!found || gtSpark(s, best) ||
          (eqSpark(s, best) && ids(ci) < bestId)) {
          best = s; bestId = ids(ci); found = true
        }
      }
      ci += 1
    }
    if (found) bestId else fallback
  }

  /** The literal path's all-null fallback (lexicographic max of
    * (null, -cid) structs): the smallest centroid id. Used both when
    * every centroid is excluded and when the row's vector/norm is null
    * (dot_native over a null-element array) — the literal structs all
    * score null there too, so parity demands a cid, not null.
    */
  final val fallback: Long = if (ids.isEmpty) -1L else ids.min
}

/** k-means / IVF assignment: the rounded cosine, `norms` holding the
  * centroid norms. A zero denominator (zero-norm centroid or row —
  * cosine undefined, and ANSI mode would throw on the 0 divisor) is
  * skipped.
  */
final class CosineArgmaxKernel(ids: Array[Long], vecs: Array[Array[Double]],
    cnorms: Array[Double], embIsFloat: Boolean)
    extends CentroidArgBestKernel(ids, vecs, cnorms, embIsFloat) {
  override protected def skips(rowNorm: Double, ci: Int): Boolean =
    rowNorm * norms(ci) == 0.0
  override protected def score(dot: Double, rowNorm: Double, ci: Int): Double =
    NativeVec.round4(dot / (rowNorm * norms(ci)))
}

/** PQ subspace assignment: nd = −round(nv + ‖c‖² − 2·v·c, 4), `norms`
  * holding the squared centroid norms and the row's norm value being
  * its own squared norm nv. Nothing is skipped.
  */
final class L2ArgminKernel(ids: Array[Long], vecs: Array[Array[Double]],
    normsSq: Array[Double], subIsFloat: Boolean)
    extends CentroidArgBestKernel(ids, vecs, normsSq, subIsFloat) {
  override protected def skips(rowNorm: Double, ci: Int): Boolean = false
  override protected def score(dot: Double, rowNorm: Double, ci: Int): Double =
    -NativeVec.round4(rowNorm + norms(ci) - 2.0 * dot)
}

/** Narrow per-row arg-best over a driver-held centroid table — one
  * expression node instead of k inlined struct terms (see
  * [[CentroidArgBestKernel]]). Children: the row vector
  * (ARRAY<FLOAT|DOUBLE>), its norm value (DOUBLE), then the centroid
  * ids, vectors and norm values, which must be FOLDABLE: they are
  * evaluated once on the driver into the subclass's kernel. A null row
  * vector or norm yields the kernel's fallback cid, never null.
  */
abstract class CentroidArgBestExpression extends Expression {

  /** The kind's kernel over (ids, vectors, norm values, row is float). */
  protected type KernelOf =
    (Array[Long], Array[Array[Double]], Array[Double], Boolean) => CentroidArgBestKernel
  protected def newKernel: KernelOf

  private def row = children(0)
  private def rowNorm = children(1)
  private def table = children.drop(2)

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  override def checkInputDataTypes(): TypeCheckResult = {
    val rowOk = row.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (!rowOk || rowNorm.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<FLOAT|DOUBLE>, DOUBLE, ...)")
    else if (!table.forall(_.foldable))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName centroid arguments must be literals")
    else TypeCheckResult.TypeCheckSuccess
  }

  private lazy val kernel: CentroidArgBestKernel = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val Seq(ids, vecs, norms) = table.map(_.eval(null).asInstanceOf[ArrayData])
    val idArr = ids.toLongArray()
    val vecArr = vecs.toObjectArray(ArrayType(DoubleType))
      .map(_.asInstanceOf[ArrayData].toDoubleArray())
    val normArr = norms.toDoubleArray()
    require(idArr.length == vecArr.length && idArr.length == normArr.length,
      s"centroid table arity mismatch: ${idArr.length}/${vecArr.length}/${normArr.length}")
    newKernel(idArr, vecArr, normArr,
      row.dataType.asInstanceOf[ArrayType].elementType == FloatType)
  }

  override def eval(input: InternalRow): Any = {
    val e = row.eval(input)
    val n = rowNorm.eval(input)
    if (e == null || n == null) kernel.fallback
    else kernel(e.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      n.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val kRef = ctx.addReferenceObj("argBestKernel", kernel,
      classOf[CentroidArgBestKernel].getName)
    val rowCode = row.genCode(ctx)
    val normCode = rowNorm.genCode(ctx)
    ev.copy(code =
      code"""
        ${rowCode.code}
        ${normCode.code}
        boolean ${ev.isNull} = false;
        long ${ev.value} = (${rowCode.isNull} || ${normCode.isNull})
          ? $kRef.fallback()
          : $kRef.apply(${rowCode.value}, ${normCode.value});
      """)
  }
}

/** Per-row cosine argmax — the large-k twin of the literal-baked k-means
  * assignment (see [[graft.operators.Similarity.kmeansAssign]]).
  */
case class CosineArgmaxExpression(emb: Expression, norm: Expression,
    cids: Expression, cvecs: Expression, cnorms: Expression)
    extends CentroidArgBestExpression {
  override def children: Seq[Expression] = Seq(emb, norm, cids, cvecs, cnorms)
  override def prettyName: String = "cosine_argmax_native"
  override protected def newKernel: KernelOf = new CosineArgmaxKernel(_, _, _, _)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(c(0), c(1), c(2), c(3), c(4))
}

/** Per-row squared-L2 argmin over a subspace codebook — PQ assignment
  * as one expression node (the literal form is `pqAssignLit`).
  */
case class L2ArgminExpression(sub: Expression, nv: Expression,
    cids: Expression, cvecs: Expression, cnormsSq: Expression)
    extends CentroidArgBestExpression {
  override def children: Seq[Expression] = Seq(sub, nv, cids, cvecs, cnormsSq)
  override def prettyName: String = "l2_argmin_native"
  override protected def newKernel: KernelOf = new L2ArgminKernel(_, _, _, _)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(c(0), c(1), c(2), c(3), c(4))
}

/** Driver-held weight vector for [[LogisticScoreExpression]] — one
  * plain JVM object handed to generated code via `addReferenceObj`
  * (the [[CosineArgmaxKernel]] doctrine). The POINT of the reference
  * object is CODEGEN STABILITY across training iterations: the
  * gradient-descent driver loop re-plans its aggregation every
  * iteration with UPDATED weights, and weights inlined as double
  * literals change the generated Java source each time, so every
  * iteration pays a fresh Janino compilation (analysis + codegen
  * dominated q312's 40-iteration training at 4-5 s). With the weights
  * riding in `references[]`, the generated source is IDENTICAL across
  * iterations and the codegen cache hits after the first.
  *
  * Arithmetic is the EXACT twin of the literal fold
  * ([[graft.operators.Corpus.logisticScore]]): z accumulates left-
  * associated in feature order (((b + x₁w₁) + x₂w₂) + …), then
  * 1.0 / (1.0 + StrictMath.exp(-z)) — same IEEE op sequence, same exp
  * (Spark 4's `Exp` generates java.lang.StrictMath.exp; Math.exp may
  * differ by 1 ulp — the parity spec caught exactly that), so σ is
  * bit-identical and the training trajectory is unchanged.
  */
final class LogisticScoreKernel(w: Array[Double]) extends Serializable {
  def apply(xs: Array[Double]): Double = {
    var z = w(0)
    var i = 0
    while (i < xs.length) { z += xs(i) * w(i + 1); i += 1 }
    1.0 / (1.0 + java.lang.StrictMath.exp(-z))
  }
}

/** σ(b + Σ wᵢ·xᵢ) over a driver-held weight vector — the codegen-
  * stable scoring expression of the GD trainer. Child 0 must be
  * FOLDABLE (the weights as an array<double> literal): it is evaluated
  * once on the driver into a [[LogisticScoreKernel]]; the remaining
  * children are the feature columns (all double). NULL in any feature
  * yields NULL, matching the literal fold's null propagation.
  */
case class LogisticScoreExpression(weights: Expression,
    features: Seq[Expression]) extends Expression {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  override def children: Seq[Expression] = weights +: features
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = features.exists(_.nullable)
  override def prettyName: String = "logistic_score_native"

  override def checkInputDataTypes(): TypeCheckResult = {
    val wOk = weights.foldable && (weights.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (!wOk)
      TypeCheckResult.TypeCheckFailure(
        "logistic_score_native weights must be an ARRAY<DOUBLE> literal")
    else if (features.isEmpty || features.exists(_.dataType != DoubleType))
      TypeCheckResult.TypeCheckFailure(
        "logistic_score_native features must be 1+ DOUBLE columns")
    else TypeCheckResult.TypeCheckSuccess
  }

  private lazy val kernel: LogisticScoreKernel = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val w = weights.eval(null).asInstanceOf[ArrayData].toDoubleArray()
    require(w.length == features.length + 1,
      s"${w.length} weights for ${features.length} features + bias")
    new LogisticScoreKernel(w)
  }

  override def eval(input: InternalRow): Any = {
    val xs = new Array[Double](features.length)
    var i = 0
    while (i < features.length) {
      val v = features(i).eval(input)
      if (v == null) return null
      xs(i) = v.asInstanceOf[Double]
      i += 1
    }
    kernel(xs)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val kRef = ctx.addReferenceObj("logisticKernel", kernel,
      classOf[LogisticScoreKernel].getName)
    val fCodes = features.map(_.genCode(ctx))
    val anyNull =
      if (fCodes.exists(_.isNull.toString != "false"))
        fCodes.map(_.isNull).mkString(" || ")
      else "false"
    val xsArr = fCodes.map(_.value).mkString(", ")
    ev.copy(code =
      code"""
        ${fCodes.map(_.code).reduce(_ + _)}
        boolean ${ev.isNull} = $anyNull;
        double ${ev.value} = ${ev.isNull}
          ? 0.0 : $kRef.apply(new double[]{$xsArr});
      """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(weights = newChildren.head, features = newChildren.tail)
}

/** Driver-held PQ lookup tables for [[AdcSumExpression]] — the ADC
  * distance's per-subspace centroid vectors (ce) and squared norms
  * (nc), cid-indexed with zero-filled slots for emptied clusters,
  * exactly the tables the literal `element_at(typedlit(...))` form
  * holds inline. One kernel call computes the whole m-term sum:
  * Σ_s (qnv_s + nc_s[code_s]) − 2·(qsub_s · ce_s[code_s]), terms
  * accumulated left-to-right in subspace order and each dot in index
  * order — the exact IEEE op sequence of
  * `adcTerms(...).reduce(_ + _)`, so `round(…, 4)` over either form
  * is bit-identical (DedupSpec pins it). Null semantics mirror the
  * literal form: a dim-mismatched codebook slice or a null sub-vector
  * element nulls the SUM (dot_native's null propagated through Add).
  * A code outside its table (a corrupt codes row) does what the literal
  * form's `element_at` does with an index past the end: under ANSI
  * (`failOnError`) it fails, otherwise the SUM is null.
  *
  * Why a kernel: the literal form inlines m×(2 element_at over nested
  * array literals + a dot call + adds) per CANDIDATE PAIR — the inner
  * loop of the IVF-ADC funnel, Σ|cell|² evaluations per query batch.
  * One flat call with primitive loops cuts the per-pair constant and
  * shrinks the scoring projection's codegen.
  */
final class AdcSumKernel(ce: Array[Array[Array[Double]]],
    nc: Array[Array[Double]], failOnError: Boolean) extends Serializable {

  def apply(codes: Array[Long],
            qsubs: Array[org.apache.spark.sql.catalyst.util.ArrayData],
            qnvs: Array[Double]): java.lang.Double = {
    var acc = 0.0
    var s = 0
    while (s < codes.length) {
      if (codes(s) < 0 || codes(s) >= ce(s).length) {
        if (failOnError) throw new ArrayIndexOutOfBoundsException(
          s"adc_sum_native: code ${codes(s)} of subspace $s is outside [0, ${ce(s).length})")
        return null
      }
      val c = codes(s).toInt
      val cev = ce(s)(c)
      val q = qsubs(s)
      if (q.numElements() != cev.length) return null
      var d = 0.0
      var i = 0
      while (i < cev.length) {
        if (q.isNullAt(i)) return null
        d += q.getDouble(i) * cev(i)
        i += 1
      }
      val t = qnvs(s) + nc(s)(c) - 2.0 * d
      acc = if (s == 0) t else acc + t
      s += 1
    }
    java.lang.Double.valueOf(acc)
  }
}

/** The full m-subspace ADC distance as ONE expression node. Children:
  * two FOLDABLE lookup-table literals (ce: array<array<array<double>>>,
  * nc: array<array<double>>), then the m corpus codes (bigint), the m
  * query sub-vectors (array<double>) and the m query squared norms
  * (double). NULL in any data child yields NULL, matching the literal
  * form's propagation. `failOnError` is the session's ANSI flag at
  * resolution, as `element_at` captures it.
  */
case class AdcSumExpression(ceLit: Expression, ncLit: Expression,
    data: Seq[Expression],
    failOnError: Boolean = SQLConf.get.ansiEnabled) extends Expression {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  override def children: Seq[Expression] = ceLit +: ncLit +: data
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "adc_sum_native"

  private def m: Int = data.length / 3

  override def checkInputDataTypes(): TypeCheckResult = {
    def isDblArr(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (!(ceLit.foldable && ncLit.foldable))
      TypeCheckResult.TypeCheckFailure(
        "adc_sum_native lookup tables must be literals")
    else if (data.isEmpty || data.length % 3 != 0)
      TypeCheckResult.TypeCheckFailure(
        "adc_sum_native needs 3m data children (codes, qsubs, qnvs)")
    else if (!data.slice(0, m).forall(_.dataType == LongType) ||
      !data.slice(m, 2 * m).forall(e => isDblArr(e.dataType)) ||
      !data.slice(2 * m, 3 * m).forall(_.dataType == DoubleType))
      TypeCheckResult.TypeCheckFailure(
        "adc_sum_native children must be m BIGINT codes, " +
          "m ARRAY<DOUBLE> sub-vectors, m DOUBLE norms")
    else TypeCheckResult.TypeCheckSuccess
  }

  private lazy val kernel: AdcSumKernel = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val ce = ceLit.eval(null).asInstanceOf[ArrayData]
      .toObjectArray(ArrayType(ArrayType(DoubleType)))
      .map(_.asInstanceOf[ArrayData]
        .toObjectArray(ArrayType(DoubleType))
        .map(_.asInstanceOf[ArrayData].toDoubleArray()))
    val nc = ncLit.eval(null).asInstanceOf[ArrayData]
      .toObjectArray(ArrayType(DoubleType))
      .map(_.asInstanceOf[ArrayData].toDoubleArray())
    require(ce.length == m && nc.length == m,
      s"lookup tables for ${ce.length}/${nc.length} subspaces, need $m")
    new AdcSumKernel(ce, nc, failOnError)
  }

  override def eval(input: InternalRow): Any = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val codes = new Array[Long](m)
    val qsubs = new Array[ArrayData](m)
    val qnvs = new Array[Double](m)
    var s = 0
    while (s < m) {
      val c = data(s).eval(input)
      val q = data(m + s).eval(input)
      val n = data(2 * m + s).eval(input)
      if (c == null || q == null || n == null) return null
      codes(s) = c.asInstanceOf[Long]
      qsubs(s) = q.asInstanceOf[ArrayData]
      qnvs(s) = n.asInstanceOf[Double]
      s += 1
    }
    kernel(codes, qsubs, qnvs)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val kRef = ctx.addReferenceObj("adcKernel", kernel,
      classOf[AdcSumKernel].getName)
    val dCodes = data.map(_.genCode(ctx))
    val anyNull =
      if (dCodes.exists(_.isNull.toString != "false"))
        dCodes.map(_.isNull).mkString(" || ")
      else "false"
    val codesArr = dCodes.slice(0, m).map(_.value).mkString(", ")
    val qsubArr = dCodes.slice(m, 2 * m).map(_.value).mkString(", ")
    val qnvArr = dCodes.slice(2 * m, 3 * m).map(_.value).mkString(", ")
    val res = ctx.freshName("adcRes")
    val adCls = "org.apache.spark.sql.catalyst.util.ArrayData"
    ev.copy(code =
      code"""
        ${dCodes.map(_.code).reduce(_ + _)}
        boolean ${ev.isNull} = $anyNull;
        double ${ev.value} = 0.0;
        if (!${ev.isNull}) {
          java.lang.Double $res = $kRef.apply(
            new long[]{$codesArr},
            new $adCls[]{$qsubArr},
            new double[]{$qnvArr});
          if ($res == null) { ${ev.isNull} = true; }
          else { ${ev.value} = $res.doubleValue(); }
        }
      """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(ceLit = newChildren(0), ncLit = newChildren(1),
      data = newChildren.drop(2))
}

/** HTML→text extraction as a native unary expression
  * ([[graft.functions.Web.htmlToText]] rules). A per-document string
  * pass this size written as SQL string functions would be a tower of
  * regexp_replace calls (each a separate compiled-regex traversal);
  * here it is one scan per document and the projection stays fused.
  */
case class HtmlToTextExpression(child: Expression) extends StringKernelExpression {
  override def prettyName: String = "html_to_text_native"
  override protected def kernelPath = "graft.plans.NativeDna.htmlToText"
  override protected def kernel(s: UTF8String): Any = NativeDna.htmlToText(s)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** URL canonicalization ([[graft.functions.Web.canonicalizeUrl]] rules)
  * — the key-building scalar of URL-level dedup, run once per crawl
  * record.
  */
case class CanonicalizeUrlExpression(child: Expression) extends StringKernelExpression {
  override def prettyName: String = "canonicalize_url_native"
  override protected def kernelPath = "graft.plans.NativeDna.canonicalUrl"
  override protected def kernel(s: UTF8String): Any = NativeDna.canonicalUrl(s)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** RFC 3986 reference resolution (base, href) → absolute http(s) URL,
  * null = drop ([[graft.functions.Web.resolveUrl]] rules). Codegen
  * keeps link extraction inside the fused stage; the expression is
  * nullable beyond its children because resolution itself can reject
  * (fragment-only, mailto:/javascript:, non-http base).
  */
case class ResolveUrlExpression(left: Expression, right: Expression)
    extends BinaryExpression {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"resolve_url_native requires (STRING, STRING), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "resolve_url_native"

  override protected def nullSafeEval(b: Any, h: Any): Any =
    NativeDna.resolveUrl(b.asInstanceOf[UTF8String],
      h.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, h) =>
      BoxedResult(ctx, ev, dataType, s"graft.plans.NativeDna.resolveUrl($b, $h)"))

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The native function table and its three consumers: the extensions
  * class (`SparkSession.builder.withExtensions(new GraftExtensions)`),
  * the runtime registry hook for already-built sessions ([[register]],
  * the SQL surface) and the Column builder ([[call]]).
  */
object NativeFunctions {
  /** name → (expression class, for the injected `ExpressionInfo`;
    * builder) — the one table [[register]], [[GraftExtensions]] and
    * [[call]] all build from.
    */
  private[graft] val fns
      : Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] =
    Seq(
      ("revcomp_native", classOf[RevCompExpression],
        exprs => RevCompExpression(exprs.head)),
      ("translate_dna_native", classOf[TranslateDnaExpression],
        exprs => TranslateDnaExpression(exprs.head)),
      ("kmers_native", classOf[KmerGenerator],
        exprs => KmerGenerator(exprs(0), exprs(1))),
      ("dot_native", classOf[DotProductExpression],
        exprs => DotProductExpression(exprs(0), exprs(1))),
      ("nfc_native", classOf[NfcNormalizeExpression],
        exprs => NfcNormalizeExpression(exprs.head)),
      ("fix_encoding_native", classOf[FixEncodingExpression],
        exprs => FixEncodingExpression(exprs.head)),
      ("strip_accents_native", classOf[StripAccentsExpression],
        exprs => StripAccentsExpression(exprs.head)),
      ("tokens_native", classOf[TokensExpression],
        exprs => TokensExpression(exprs.head)),
      ("lower_native", classOf[CaseMapExpression],
        exprs => CaseMapExpression(exprs.head, upper = false)),
      ("upper_native", classOf[CaseMapExpression],
        exprs => CaseMapExpression(exprs.head, upper = true)),
      ("token_set_count_native", classOf[TokenSetCountExpression],
        exprs => TokenSetCountExpression(exprs(0), exprs(1))),
      ("avg_quality_native", classOf[AvgQualityExpression],
        exprs => AvgQualityExpression(exprs.head)),
      ("low_quality_count_native", classOf[LowQualityCountExpression],
        exprs => LowQualityCountExpression(exprs(0), exprs(1))),
      ("cosine_argmax_native", classOf[CosineArgmaxExpression],
        exprs => CosineArgmaxExpression(exprs(0), exprs(1), exprs(2),
          exprs(3), exprs(4))),
      ("l2_argmin_native", classOf[L2ArgminExpression],
        exprs => L2ArgminExpression(exprs(0), exprs(1), exprs(2), exprs(3),
          exprs(4))),
      ("logistic_score_native", classOf[LogisticScoreExpression],
        exprs => LogisticScoreExpression(exprs.head, exprs.tail)),
      ("adc_sum_native", classOf[AdcSumExpression],
        exprs => AdcSumExpression(exprs(0), exprs(1), exprs.drop(2))),
      ("binary_quantize_native", classOf[BinaryQuantizeExpression],
        exprs => BinaryQuantizeExpression(exprs.head)),
      ("hamming_native", classOf[HammingDistanceExpression],
        exprs => HammingDistanceExpression(exprs(0), exprs(1))),
      ("html_to_text_native", classOf[HtmlToTextExpression],
        exprs => HtmlToTextExpression(exprs.head)),
      ("canonicalize_url_native", classOf[CanonicalizeUrlExpression],
        exprs => CanonicalizeUrlExpression(exprs.head)),
      ("resolve_url_native", classOf[ResolveUrlExpression],
        exprs => ResolveUrlExpression(exprs(0), exprs(1))))

  def register(spark: SparkSession): Unit =
    fns.foreach { case (name, _, builder) =>
      val reg = spark.sessionState.functionRegistry
      // Idempotent: queries call register per invocation, and the
      // replace-path WARN (14 lines per call) floods the stdout tail
      // the driver parses for the Bench JSON line.
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    }

  /** The native function `name` over `args` as a Column, built by the
    * same [[fns]] builder the SQL surface uses — no session registry
    * involved, so it works in any session without [[register]]. An
    * unknown name fails here, not at analysis.
    */
  def call(name: String, args: Column*): Column = {
    val build = fns.collectFirst { case (n, _, b) if n == name => b }.getOrElse(
      throw new IllegalArgumentException(
        s"no native function $name; known: ${fns.map(_._1).mkString(", ")}"))
    Bridge.column(build(args.map(Bridge.expression)))
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    NativeFunctions.fns.foreach { case (name, cls, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    }
    // SQL INSERT / DELETE / UPDATE / MERGE on a registered snapshot view
    // → manifest commits (without it, Spark's generic file-source insert
    // would write raw files no manifest references — see SnapshotDmlRule)
    e.injectResolutionRule(session => graft.io.SnapshotDmlRule(session))
    // count(*)/min/max over a snapshot view → manifest constants
    e.injectOptimizerRule(_ => new SnapshotMetadataAggRule)
  }
}
