package graft.functions

import graft.plans.NativeFunctions
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis + fingerprinting primitives for LLM-data-pipeline work
  * (north-star extensions beyond the reference surface — BASELINE.json).
  *
  * Everything here is built from codegen'd built-in expressions (no UDFs)
  * and has an exact DuckDB-SQL twin used by the oracle queries, so the
  * same algorithm is computable on both engines bit-for-bit:
  *  - hashing uses md5 hex strings (stable everywhere) rather than
  *    engine-specific hash functions;
  *  - per-list reductions (aggregate/list_sum) run in index order, so
  *    double summation is deterministic.
  *
  * Scale: all of these are narrow per-row expressions — they pipeline
  * inside whole-stage codegen with zero shuffle; the only shuffles in the
  * dedup/similarity operators built on top are the ones their semantics
  * require (candidate-pair joins, group-bys), never per-function.
  */
object TextFunctions {

  /** Whitespace tokens with empties dropped (matches DuckDB
    * `list_filter(regexp_split_to_array(trim(x),'\s+'), ...)`).
    * NATIVE codegen expression: the HOF form
    * (`filter(split(trim(c)), lambda)`) was CodegenFallback — the
    * per-element predicate interpreted AND the fallback broke
    * whole-stage codegen for the whole enclosing projection, a tax on
    * every text query. Semantics are bit-identical (TokensSpec pins
    * equality against the HOF form on hostile inputs).
    */
  def tokens(c: Column): Column = NativeFunctions.call("tokens_native", c)

  /** The pre-native HOF form — kept as the reference semantics for
    * TokensSpec's equivalence check.
    */
  private[graft] def tokensHof(c: Column): Column =
    filter(split(trim(c), "\\s+"), t => t =!= "")

  /** GPT-2-style pre-tokenization pattern (the published byte-BPE
    * recipe: English contraction suffixes, then letter / number /
    * punctuation runs each absorbing ONE preceding space — the
    * leading-space convention that makes " the" and "the" distinct
    * tokens), restricted to the RE2/Java common subset so the DuckDB
    * oracle replays it verbatim (the q192 doctrine). The one published
    * alternative RE2 cannot express is the `\s+(?!\S)` lookahead
    * (split a whitespace run's LAST space onto the next token); here a
    * multi-space run is a single whitespace token instead — identical
    * on both engines, and single spaces (the overwhelming case) still
    * attach to the following token.
    */
  val Gpt2PretokenPattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** GPT-2-style pretokens of a text column (see
    * [[Gpt2PretokenPattern]]): ordered leftmost-first matches; both
    * Java regex and RE2 use first-alternative-wins at each position,
    * so the token stream is cross-engine identical.
    */
  def gpt2Pretokens(c: Column): Column =
    regexp_extract_all(c, lit(Gpt2PretokenPattern), lit(0))

  def tokenCount(c: Column): Column = size(tokens(c))

  /** Word n-gram shingles (distinct) from a MATERIALIZED tokens column.
    * `toks` must be a projected attribute, not an inline expression — the
    * slice lambda references it per shingle, and an inline tokenizer
    * would re-run per element (O(shingles × len) per row).
    */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    array_distinct(
      when(size(toks) < n, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n))))))

  /** Convenience form over raw text — fine for one-shot projections;
    * hot paths should materialize tokens first (see Dedup operators).
    */
  def shingles(c: Column, n: Int): Column = shinglesFromTokens(tokens(c), n)

  /** Every n-gram OCCURRENCE in order (no dedup) — the counting twin of
    * [[shinglesFromTokens]]: set semantics fit similarity signatures,
    * occurrence semantics fit frequency analysis (heavy hitters,
    * duplicate spans). Same materialized-tokens contract.
    */
  def allShinglesFromTokens(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))

  /** Encoding repair (mojibake): undo UTF-8 text mis-decoded as
    * CP-1252/Latin-1 and re-encoded (Ã¤-class damage, double-encoding
    * included), leaving genuine text untouched — the cleanup real
    * crawls need before any tokenizer. Native codegen expression;
    * decision rule documented at [[graft.plans.NativeText]].
    */
  def fixEncoding(c: Column): Column = NativeFunctions.call("fix_encoding_native", c)

  /** Spark's `lower`/`upper`, bit for bit, as a native codegen
    * expression that skips the ICU title-case table Spark 4's first
    * `lower()` builds (~1.7 s per JVM; see
    * [[graft.plans.NativeText.lower]]). Every case mapping under
    * `functions/` and `operators/` goes through these.
    */
  def lowerCase(c: Column): Column = NativeFunctions.call("lower_native", c)
  def upperCase(c: Column): Column = NativeFunctions.call("upper_native", c)

  /** Occurrences of `words` in a tokens column, repeats included; null
    * tokens give null. One native pass against a hashed word set
    * ([[graft.plans.TokenSetCountExpression]]).
    */
  def tokenSetCount(toks: Column, words: Seq[String]): Column =
    NativeFunctions.call("token_set_count_native", toks, typedLit(words))

  /** The per-word HOF sum [[tokenSetCount]] replaced — one interpreted
    * `size(filter(...))` lambda per word; kept as the reference
    * semantics for TokensSpec's equivalence checks.
    */
  private[graft] def tokenSetCountHof(toks: Column, words: Seq[String]): Column =
    words.map(w => size(filter(toks, t => t === w))).reduce(_ + _)

  /** Whole-document fingerprint: md5 of the whitespace-normalized,
    * lower-cased text (SURVEY.md north-star "document fingerprinting").
    */
  def fingerprint(c: Column): Column =
    md5(lowerCase(regexp_replace(c, "\\s+", " ")))

  /** Rolling/min-sampled fingerprint: the minimum md5 over character
    * 8-grams of the normalized text — a 1-hash winnowing sketch that is
    * stable under local edits far from the minimizer.
    */
  def minShingleFingerprint(c: Column): Column = {
    val norm = lowerCase(regexp_replace(c, "\\s+", " "))
    when(length(norm) < 8, md5(norm))
      .otherwise(array_min(transform(
        sequence(lit(1), length(norm) - 7),
        i => md5(norm.substr(i, lit(8))))))
  }

  /** MinHash signature from a MATERIALIZED md5-per-shingle column: hash
    * function j is the 8-hex-char window of the digest starting at
    * 1+2j — one md5 per shingle total ("one-permutation"-style family,
    * 12× fewer digests than seed-prefixed hashing), identical across
    * engines (md5 hex is stable everywhere, unlike murmur/xxhash).
    */
  def minhashFromHashes(hashesCol: Column, numHashes: Int): Seq[Column] = {
    require(numHashes <= 12, "md5 hex has 32 chars: window start 1+2j+8 <= 33")
    (0 until numHashes).map { j =>
      array_min(transform(hashesCol, h => h.substr(lit(1 + 2 * j), lit(8))))
        .as(s"mh$j")
    }
  }

  /** LSH band keys over a minhash signature: md5 of each band's
    * concatenated rows. Docs sharing ANY band key become candidates.
    */
  def bandKeys(mh: Seq[Column], bands: Int): Column = {
    val rows = mh.size / bands
    array((0 until bands).map { b =>
      md5(concat_ws("|", mh.slice(b * rows, (b + 1) * rows): _*))
    }: _*)
  }

  /** 16-bit SimHash from a MATERIALIZED md5-per-token column, as a
    * '0'/'1' string (bit 0 first). Bit b of token hash h = bit (b%4) of
    * hex nibble b/4; the signature bit is 1 iff the sum of (2*bit-1)
    * over tokens is > 0. Taking hashes pre-computed means one md5 per
    * token instead of one per token per bit.
    */
  def simhash16FromHashes(hashesCol: Column): Column = {
    val bits = (0 until 16).map { b =>
      val nib = b / 4 + 1 // 1-based hex char position in the digest
      val shift = 1 << (b % 4)
      val weight = aggregate(hashesCol, lit(0), (acc, h) => {
        // hex char → nibble value via ascii ('0'-'9' = 48-57, 'a'-'f' = 97-102)
        val ch = ascii(h.substr(lit(nib), lit(1)))
        val nibVal = when(ch <= 57, ch - 48).otherwise(ch - 87)
        val bit = (floor(nibVal.cast("double") / shift).cast("int") % 2)
        acc + when(bit === 1, 1).otherwise(-1)
      })
      when(weight > 0, "1").otherwise("0")
    }
    concat(bits: _*)
  }

  /** 64-bit SimHash from a MATERIALIZED md5-per-token column, as a
    * '0'/'1' string of 64 chars (bit 0 first) — the production width
    * ([[simhash16FromHashes]] is the compact teaching form; at 16 bits
    * only 65,536 signatures exist, so unrelated documents collide
    * constantly at corpus scale). Same bit layout extended to 16
    * nibbles: bit b of token hash h = bit (b%4) of hex nibble (b/4+1).
    *
    * ONE aggregation pass: each token hash is parsed into a 64-entry
    * ±1 contribution array (each hex char read once, its 4 bits peeled
    * arithmetically), then summed elementwise with zip_with — NOT one
    * array scan per bit, which would re-parse every hash 64 times and
    * blow the codegen budget the way 64 independent `aggregate` calls
    * would.
    */
  def simhash64FromHashes(hashesCol: Column): Column = {
    val contribs = transform(hashesCol, h =>
      flatten(transform(sequence(lit(1), lit(16)), nib => {
        val ch = ascii(h.substr(nib, lit(1)))
        val v = when(ch <= 57, ch - 48).otherwise(ch - 87)
        def bit(shift: Int) =
          floor(v.cast("double") / shift).cast("int") % 2
        array((0 to 3).map(j =>
          when(bit(1 << j) === 1, 1).otherwise(-1)): _*)
      })))
    val counts = aggregate(contribs, array_repeat(lit(0), 64),
      (acc, arr) => zip_with(acc, arr, (a, c) => a + c))
    array_join(transform(counts, c =>
      when(c > 0, "1").otherwise("0")), "")
  }

  /** Non-distinct word bigram list from a MATERIALIZED tokens column
    * (repetition signals need occurrence counts, so no de-dup here).
    */
  def bigramsFromTokens(toks: Column): Column =
    when(size(toks) < 2, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), size(toks) - 1),
        i => concat_ws(" ", slice(toks, i, lit(2)))))

  /** Occurrence count of the most frequent element of a MATERIALIZED
    * array column. O(distinct × len) per row — bounded by document
    * length, zero shuffle: repetition scoring stays a narrow projection
    * however large the corpus is (the Gopher-style alternative of
    * explode + groupBy would shuffle every token of a 100 TB corpus to
    * answer a per-document question).
    */
  def topOccurrenceCount(arr: Column): Column =
    coalesce(
      array_max(transform(array_distinct(arr),
        x => size(filter(arr, y => y === x)))),
      lit(0))

  private val StopWords = Seq("the", "a", "and", "of", "to", "in", "is")

  /** Count of stop-word tokens (occurrences, not distinct). */
  def stopwordCount(tokensCol: Column): Column =
    tokenSetCount(tokensCol, StopWords)

  /** Heuristic quality score in [0,1]:
    * 0.5·min(n_tokens/100,1) + 0.3·stopword_ratio + 0.2·alpha_ratio.
    */
  def qualityScore(c: Column): Column = qualityScoreWith(c, tokenSetCount)

  /** [[qualityScore]] over the per-word HOF counts — the reference twin. */
  private[graft] def qualityScoreHof(c: Column): Column =
    qualityScoreWith(c, tokenSetCountHof)

  private def qualityScoreWith(c: Column,
                               count: (Column, Seq[String]) => Column): Column = {
    val toks = tokens(c)
    val n = size(toks).cast("double")
    val alpha = (length(regexp_replace(c, "[^a-zA-Z]", "")).cast("double") /
      greatest(length(c), lit(1)).cast("double"))
    round(
      least(n / 100.0, lit(1.0)) * 0.5 +
        (count(toks, StopWords).cast("double") / greatest(n, lit(1.0))) * 0.3 +
        alpha * 0.2,
      4)
  }

  /** Scrubbing patterns — RE2-compatible (no backrefs/lookaround) so the
    * same pattern strings run identically on Spark (java.util.regex) and
    * the DuckDB oracle (RE2).
    */
  val UrlRe = "https?://\\S+"
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** PII/URL redaction: URLs then emails replaced by placeholder tags
    * (URL first — a scrubbed `<URL>` can no longer feed the email
    * pattern). Narrow codegen'd regexp_replace — zero shuffle.
    */
  def redact(c: Column): Column =
    regexp_replace(
      regexp_replace(c, UrlRe, "<URL>"),
      EmailRe, "<EMAIL>")

  /** Language markers for the n-gram/stopword language-ID heuristic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to"),
    "de" -> Seq("der", "die", "und", "das"),
    "es" -> Seq("el", "la", "los", "que"),
    "fr" -> Seq("le", "les", "et", "des"))

  /** Deterministic language ID: occurrence-count score per language,
    * first language (in LangMarkers order) with the maximal score wins.
    */
  def langId(c: Column): Column = langIdWith(c, tokenSetCount)

  /** [[langId]] over the per-word HOF counts — the reference twin. */
  private[graft] def langIdHof(c: Column): Column = langIdWith(c, tokenSetCountHof)

  private def langIdWith(c: Column,
                         count: (Column, Seq[String]) => Column): Column = {
    val toks = tokens(c)
    val scores = LangMarkers.map { case (lang, ws) => lang -> count(toks, ws) }
    // en wins ties over de over es over fr (stable priority chain).
    scores.init.zipWithIndex.foldRight(lit(scores.last._1)) {
      case (((lang, s), i), elseCol) =>
        val laterScores = scores.drop(i + 1).map(_._2)
        when(laterScores.map(s >= _).reduce(_ && _), lang).otherwise(elseCol)
    }
  }
}
