package graft.queries

import graft.Tables
import graft.functions.TextFunctions
import graft.operators.{Corpus, Dedup, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators over documents/embeddings:
  * dedup (exact, MinHash+LSH, SimHash, n-gram Jaccard), similarity
  * search (brute-force + LSH-bucketed ANN), and text analysis (lang-ID,
  * quality scoring, token stats, fingerprints).
  *
  * Every oracle below is GENERATED from the same constants (shingle n,
  * hash counts, marker words, score weights) the Scala operators use —
  * one source of truth, two engines.
  */
object LlmText {

  // ---- shared DuckDB fragments (twin of TextFunctions) ----
  private val toksSql =
    "list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t != '')"

  private def shinglesSql(n: Int): String =
    s"list_distinct(list_transform(generate_series(1, len(toks)-${n - 1}), " +
      s"i -> array_to_string(toks[i:i+${n - 1}], ' ')))"

  private val fpSql = "md5(lower(regexp_replace(text, '\\s+', ' ', 'g')))"

  /** q176's oracle: the full BPE training loop as chained CTEs — per
    * round, pair counts over the paren-delimited symbol string, the
    * (count desc, pair asc) argmax, and the left-to-right merge
    * application via literal replace (both engines' replace shares
    * BPE's non-overlap scan rule). Generated by the same loop shape
    * [[graft.operators.Corpus.bpeTrain]] runs. MATERIALIZED is
    * load-bearing: DuckDB inlines CTEs by default, and each round
    * references the previous twice — inlined, the plan tree (and its
    * runtime) doubles per round.
    */
  /** The b1..bN learned-merge CTE chain shared by q176 (training
    * output) and q179 (encoding replay).
    */
  private def bpeTrainCtes(merges: Int): String = {
    val ctes = scala.collection.mutable.ArrayBuffer(
      s"t AS MATERIALIZED (SELECT $toksSql AS toks FROM documents)",
      """w AS MATERIALIZED (SELECT lower(tok) AS word, CAST(count(*) AS BIGINT) AS cnt
              FROM (SELECT unnest(toks) AS tok FROM t)
              WHERE regexp_matches(lower(tok), '^[a-z]+$') GROUP BY 1)""",
      """v0 AS MATERIALIZED (SELECT word, cnt,
          list_aggregate(list_transform(range(1, length(word)+1),
            i -> '(' || substr(word, CAST(i AS INTEGER), 1) || ')'),
            'string_agg', '') AS repr
        FROM w)""")
    (1 to merges).foreach { r =>
      ctes += s"""p$r AS MATERIALIZED (SELECT s1, s2, SUM(cnt) AS c FROM (
          SELECT cnt, syms[CAST(i AS INTEGER)] AS s1,
                 syms[CAST(i+1 AS INTEGER)] AS s2
          FROM (SELECT cnt, regexp_extract_all(repr, '\\([a-z]+\\)') AS syms
                FROM v${r - 1}),
               UNNEST(range(1, len(syms))) AS u(i)
        ) GROUP BY 1, 2)"""
      ctes += s"""b$r AS MATERIALIZED (SELECT s1, s2, c,
          substr(s1, 2, length(s1)-2) AS i1, substr(s2, 2, length(s2)-2) AS i2
          FROM p$r ORDER BY c DESC, s1 ASC, s2 ASC LIMIT 1)"""
      ctes += s"""v$r AS MATERIALIZED (SELECT word, cnt,
          replace(repr, (SELECT s1 || s2 FROM b$r),
            '(' || (SELECT i1 || i2 FROM b$r) || ')') AS repr FROM v${r - 1})"""
    }
    ctes.mkString(",\n")
  }

  private def bpeOracle(merges: Int): String = {
    val sel = (1 to merges).map { r =>
      s"SELECT $r AS round, i1 AS lhs, i2 AS rhs, i1 || i2 AS merged, " +
        s"CAST(c AS BIGINT) AS cnt FROM b$r"
    }
    s"WITH ${bpeTrainCtes(merges)}\n${sel.mkString(" UNION ALL ")}"
  }

  /** q179's oracle: re-learn the merges (shared CTE chain), then
    * re-apply them to every document's paren-rendered word sequence —
    * the identical doc-level replace chain the engine runs.
    */
  private def bpeEncodeOracle(merges: Int): String = {
    val alphaWords =
      s"list_filter(list_transform($toksSql, t -> lower(t)), " +
        "w -> regexp_matches(w, '^[a-z]+$'))"
    val ctes = scala.collection.mutable.ArrayBuffer(bpeTrainCtes(merges))
    ctes += s"""enc0 AS MATERIALIZED (SELECT doc_id,
        COALESCE(list_aggregate(list_transform($alphaWords,
          w -> '(' || list_aggregate(list_transform(range(1, length(w)+1),
                 i -> substr(w, CAST(i AS INTEGER), 1)), 'string_agg', ')(') || ')'),
          'string_agg', ' '), '') AS repr,
        len($alphaWords) AS n_words
      FROM documents)"""
    (1 to merges).foreach { r =>
      ctes += s"""enc$r AS MATERIALIZED (SELECT doc_id, n_words,
          replace(repr, (SELECT s1 || s2 FROM b$r),
            '(' || (SELECT i1 || i2 FROM b$r) || ')') AS repr FROM enc${r - 1})"""
    }
    s"WITH ${ctes.mkString(",\n")}\n" +
      s"SELECT doc_id, CAST(n_words AS INTEGER) AS n_words, " +
      s"CAST(length(repr) - length(replace(repr, '(', '')) AS INTEGER) AS n_bpe " +
      s"FROM enc$merges"
  }

  /** Multi-byte UTF-8 fixture rows for the byte-level BPE family
    * (q342/q343): the synthetic documents table is ASCII-only, so both
    * engines union these rows in — accented Latin (2-byte chars), CJK
    * (3-byte), and an emoji (4-byte) exercise merges and fallback
    * across UTF-8 continuation bytes. ONE constant feeds the Spark
    * union and the oracle's UNION ALL (no apostrophes: the strings are
    * embedded in SQL literals verbatim).
    */
  private val Utf8FixtureDocs: Seq[(Long, String)] = Seq(
    (900001L, "naïve café über straße naïve café 東京 データ naïve über"),
    (900002L, "café über 東京 データ データ naïve rocket 🚀 🚀 café straße"),
    (900003L, "straße über café naïve 東京 🚀 データ rocket über café"))

  /** The `bd` relation both byte-BPE oracles read: documents plus the
    * UTF-8 fixture rows, generated from [[Utf8FixtureDocs]].
    */
  private def byteDocsSql: String =
    "SELECT doc_id, text FROM documents UNION ALL " +
      Utf8FixtureDocs.map { case (id, t) =>
        s"SELECT CAST($id AS BIGINT), '$t'"
      }.mkString(" UNION ALL ")

  /** The Spark twin of [[byteDocsSql]]. */
  private def byteDocs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select("doc_id", "text")
      .unionAll(Utf8FixtureDocs.toDF("doc_id", "text"))
  }

  /** The shared passage every document carries for the CDC family
    * (q369): 182 ASCII bytes with interior content-defined boundaries
    * at offsets 92 and 141 (verified against the window-hash rule), so
    * its tail chunks are byte-identical across all documents. No
    * apostrophes — the string embeds in SQL literals verbatim.
    */
  private val CdcSlogan: String =
    " Shared corpus slogan: the content-defined chunking boundary test" +
      " passage repeats verbatim across every document so identical" +
      " chunks collapse in the dedup table regardless of offset."

  /** The CDC dedup oracle shared by q369 (batch) and q375 (streaming
    * parity): window hash via 16 power literals, boundary rule, lead()
    * chunk spans, digest rollup.
    */
  private def cdcDedupOracle: String =
    s"""WITH $cdcCkCtes
        SELECT chunk_md5, CAST(chunk_len AS INTEGER) AS chunk_len,
             CAST(count(*) AS BIGINT) AS n_copies,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM ck GROUP BY 1, 2"""

  /** The CDC chunk CTE chain (ends at `ck`: doc_id, chunk_md5,
    * chunk_len), shared by q369/q375 (digest rollup) and q382 (the
    * measured dedup-ratio row).
    */
  private def cdcCkCtes: String = {
    val pw = (0 until 16).map(k =>
      s"($k,${graft.operators.Dedup.CdcPow(k)})").mkString(", ")
    s"""p AS (SELECT doc_id, text || '$CdcSlogan' AS t
           FROM documents),
        pw(k, pk) AS (VALUES $pw),
        pos AS (SELECT doc_id, t, length(t) AS n,
                  unnest(generate_series(16, length(t) - 1)) AS i
                FROM p),
        hb AS (SELECT doc_id, i,
                 SUM(CAST(ascii(substr(t, CAST(i - k AS INTEGER), 1))
                   AS BIGINT) * pk) % 1000000007 AS h
               FROM pos JOIN pw ON true
               GROUP BY doc_id, i),
        bnd AS (SELECT doc_id, i FROM hb WHERE h % 64 = 63),
        st AS (SELECT doc_id, 1 AS s FROM p
               UNION ALL
               SELECT doc_id, i + 1 FROM bnd),
        sp AS (SELECT st.doc_id, st.s,
                 lead(st.s, 1, CAST(length(p.t) + 1 AS INTEGER)) OVER (
                   PARTITION BY st.doc_id ORDER BY st.s) AS e,
                 p.t
               FROM st JOIN p ON p.doc_id = st.doc_id),
        ck AS (SELECT doc_id,
                 md5(substr(t, CAST(s AS INTEGER), CAST(e - s AS INTEGER)))
                   AS chunk_md5,
                 e - s AS chunk_len
               FROM sp)"""
  }

  /** q382's oracle: the corpus-level dedup accounting a curation team
    * reads before committing CDC — exact byte totals and the truncated
    * ppm ratio (both engines divide nonnegative integers).
    */
  private def cdcRatioOracle: String =
    s"""WITH $cdcCkCtes,
        g AS (SELECT chunk_md5, max(chunk_len) AS chunk_len,
                count(*) AS n_copies
              FROM ck GROUP BY chunk_md5)
        SELECT CAST(SUM(chunk_len * n_copies) AS BIGINT) AS total_bytes,
             CAST(SUM(chunk_len) AS BIGINT) AS unique_bytes,
             CAST(count(*) AS BIGINT) AS n_unique_chunks,
             CAST(SUM(n_copies) AS BIGINT) AS n_chunks,
             CAST(SUM(chunk_len) * 1000000 // SUM(chunk_len * n_copies)
               AS BIGINT) AS unique_ppm
        FROM g"""

  /** Denormalized-codepoint suffixes for the NFC family (q366), as
    * CODEPOINT sequences so neither source file carries invisible
    * combining marks: pairwise composition (e+◌́), canonical
    * REORDERING before composition (o + circumflex(ccc 230) +
    * dot-below(ccc 220) → ộ), algorithmic Hangul LVT composition,
    * an already-composed char (no change), and a mark with no
    * precomposed form (stays decomposed — the negative case). One
    * constant feeds the Spark strings and the oracle's chr() chains.
    */
  private val NfcSuffixCps: Seq[Seq[Int]] = Seq(
    Seq(0x65, 0x301),                     // e + combining acute → é
    Seq(0x41, 0x30A, 0x6F, 0x302, 0x323), // Å; o+circumflex+dot-below → ộ
    Seq(0x1100, 0x1161, 0x11A8),          // Hangul jamo 각 → 각
    Seq(0xE9),                            // composed é: unchanged
    Seq(0x71, 0x307))                     // q + dot-above: no composition

  private def nfcSuffixStrings: Seq[String] =
    NfcSuffixCps.map(cps => new String(cps.toArray, 0, cps.length))

  private val ByteMaxWordBytes = 16

  /** Fixture rows for the GPT-2-pretokenized byte-BPE family
    * (q352/q353): contractions (the regex's literal alternatives),
    * mixed scripts (2/3/4-byte UTF-8 across the leading-space
    * convention), numbers splitting off letter runs, punctuation runs,
    * and a double space (the documented RE2 lookahead divergence —
    * pinned under the hash). Apostrophes are escaped ('' doubling)
    * when embedded in the oracle SQL.
    */
  private val Gpt2FixtureDocs: Seq[(Long, String)] = Seq(
    (910001L, "it's we're they'll don't I'm you've he'd rocket's"),
    (910002L, "naïve café 東京 2024 42nd version2 #tag!! l'été  double  spaced"),
    (910003L, "c'est naïve... 東京データ 3.14 it's it's café! 🚀 rocket"))

  /** The `bd` relation the GPT-2 byte-BPE oracles read. */
  private def gpt2DocsSql: String =
    "SELECT doc_id, text FROM documents UNION ALL " +
      Gpt2FixtureDocs.map { case (id, t) =>
        s"SELECT CAST($id AS BIGINT), '${t.replace("'", "''")}'"
      }.mkString(" UNION ALL ")

  /** The Spark twin of [[gpt2DocsSql]]. */
  private def gpt2Docs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select("doc_id", "text")
      .unionAll(Gpt2FixtureDocs.toDF("doc_id", "text"))
  }

  /** DuckDB twin of [[TextFunctions.gpt2Pretokens]] — the same
    * RE2/Java-common pattern with SQL-quote escaping; both engines
    * match leftmost-first with the same alternative order.
    */
  private val gpt2ToksSql: String = {
    val pat = graft.functions.TextFunctions.Gpt2PretokenPattern
      .replace("'", "''")
    s"regexp_extract_all(text, '$pat')"
  }

  /** q342's oracle CTE chain: bpeTrainCtes at the BYTE level — words
    * render as 2-digit-lowercase-hex-per-UTF-8-byte paren strings
    * (DuckDB's encode→hex equals Spark's encode→hex), symbols match
    * `\([0-9a-f]+\)`, and the only word gate is the byte-length cap
    * (byte-level has no out-of-alphabet word).
    */
  private def byteBpeTrainCtes(merges: Int, toks: String = toksSql,
                               docs: String = ""): String = {
    val docsSql = if (docs.isEmpty) byteDocsSql else docs
    val ctes = scala.collection.mutable.ArrayBuffer(
      s"bd AS MATERIALIZED ($docsSql)",
      s"t AS MATERIALIZED (SELECT $toks AS toks FROM bd)",
      """w AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS cnt
              FROM (SELECT unnest(toks) AS word FROM t) GROUP BY 1)""",
      s"""v0 AS MATERIALIZED (SELECT cnt,
          regexp_replace(lower(hex(encode(word))),
            '([0-9a-f]{2})', '(\\1)', 'g') AS repr
        FROM w
        WHERE length(hex(encode(word))) BETWEEN 2 AND ${ByteMaxWordBytes * 2})""")
    (1 to merges).foreach { r =>
      ctes += s"""p$r AS MATERIALIZED (SELECT s1, s2, SUM(cnt) AS c FROM (
          SELECT cnt, syms[CAST(i AS INTEGER)] AS s1,
                 syms[CAST(i+1 AS INTEGER)] AS s2
          FROM (SELECT cnt, regexp_extract_all(repr, '\\([0-9a-f]+\\)') AS syms
                FROM v${r - 1}),
               UNNEST(range(1, len(syms))) AS u(i)
        ) GROUP BY 1, 2)"""
      ctes += s"""b$r AS MATERIALIZED (SELECT s1, s2, c,
          substr(s1, 2, length(s1)-2) AS i1, substr(s2, 2, length(s2)-2) AS i2
          FROM p$r ORDER BY c DESC, s1 ASC, s2 ASC LIMIT 1)"""
      ctes += s"""v$r AS MATERIALIZED (SELECT cnt,
          replace(repr, (SELECT s1 || s2 FROM b$r),
            '(' || (SELECT i1 || i2 FROM b$r) || ')') AS repr FROM v${r - 1})"""
    }
    ctes.mkString(",\n")
  }

  private def byteBpeOracle(merges: Int, toks: String = toksSql,
                            docs: String = ""): String = {
    val sel = (1 to merges).map { r =>
      s"SELECT $r AS round, i1 AS lhs, i2 AS rhs, i1 || i2 AS merged, " +
        s"CAST(c AS BIGINT) AS cnt FROM b$r"
    }
    s"WITH ${byteBpeTrainCtes(merges, toks, docs)}\n" +
      sel.mkString(" UNION ALL ")
  }

  /** q343's oracle: re-learn the byte merges (shared CTE chain), then
    * re-apply them per document — paren-hex render of every word under
    * the byte cap, the identical replace chain. n_tokens counts
    * surviving "(": words with no applicable merge contribute one
    * token per UTF-8 byte (the fallback path under the hash).
    */
  private def byteBpeEncodeOracle(merges: Int,
                                  extraCols: String = "",
                                  toks: String = toksSql,
                                  docs: String = ""): String = {
    val keptHexes =
      s"list_filter(list_transform($toks, w -> lower(hex(encode(w)))), " +
        s"h -> length(h) <= ${ByteMaxWordBytes * 2})"
    val ctes = scala.collection.mutable.ArrayBuffer(
      byteBpeTrainCtes(merges, toks, docs))
    ctes += s"""enc0 AS MATERIALIZED (SELECT doc_id,
        COALESCE(list_aggregate(list_transform($keptHexes,
          h -> regexp_replace(h, '([0-9a-f]{2})', '(\\1)', 'g')),
          'string_agg', ' '), '') AS repr,
        len($keptHexes) AS n_words
      FROM bd)"""
    (1 to merges).foreach { r =>
      ctes += s"""enc$r AS MATERIALIZED (SELECT doc_id, n_words,
          replace(repr, (SELECT s1 || s2 FROM b$r),
            '(' || (SELECT i1 || i2 FROM b$r) || ')') AS repr FROM enc${r - 1})"""
    }
    s"WITH ${ctes.mkString(",\n")}\n" +
      s"SELECT doc_id, CAST(n_words AS INTEGER) AS n_words, " +
      s"CAST(length(repr) - length(replace(repr, '(', '')) AS INTEGER) AS n_tokens" +
      s"$extraCols FROM enc$merges"
  }

  /** q327's oracle: the WordPiece training loop as chained CTEs — the
    * bpeOracle shape with the LIKELIHOOD argmax: per round, pair
    * counts AND per-symbol occurrence counts over the paren-delimited
    * repr, then the (count(ab)/(count(a)·count(b)) desc, pair asc)
    * argmax. Both engines divide the same exact integers in IEEE
    * doubles, so the per-round winner is deterministic cross-engine.
    */
  private def wpTrainCtes(merges: Int): String = {
    val ctes = scala.collection.mutable.ArrayBuffer(
      s"t AS MATERIALIZED (SELECT $toksSql AS toks FROM documents)",
      """w AS MATERIALIZED (SELECT lower(tok) AS word, CAST(count(*) AS BIGINT) AS cnt
              FROM (SELECT unnest(toks) AS tok FROM t)
              WHERE regexp_matches(lower(tok), '^[a-z]{1,12}$') GROUP BY 1)""",
      """v0 AS MATERIALIZED (SELECT word, cnt,
          list_aggregate(list_transform(range(1, length(word)+1),
            i -> '(' || substr(word, CAST(i AS INTEGER), 1) || ')'),
            'string_agg', '') AS repr
        FROM w)""")
    (1 to merges).foreach { r =>
      ctes += s"""p$r AS MATERIALIZED (SELECT s1, s2, SUM(cnt) AS c FROM (
          SELECT cnt, syms[CAST(i AS INTEGER)] AS s1,
                 syms[CAST(i+1 AS INTEGER)] AS s2
          FROM (SELECT cnt, regexp_extract_all(repr, '\\([a-z]+\\)') AS syms
                FROM v${r - 1}),
               UNNEST(range(1, len(syms))) AS u(i)
        ) GROUP BY 1, 2)"""
      ctes += s"""y$r AS MATERIALIZED (SELECT sym, SUM(cnt) AS sc FROM (
          SELECT cnt, unnest(regexp_extract_all(repr, '\\([a-z]+\\)')) AS sym
          FROM v${r - 1}
        ) GROUP BY 1)"""
      ctes += s"""b$r AS MATERIALIZED (SELECT p.s1, p.s2, p.c,
          y1.sc AS sc1, y2.sc AS sc2,
          substr(p.s1, 2, length(p.s1)-2) AS i1,
          substr(p.s2, 2, length(p.s2)-2) AS i2
          FROM p$r p JOIN y$r y1 ON y1.sym = p.s1
                     JOIN y$r y2 ON y2.sym = p.s2
          ORDER BY p.c / (y1.sc * y2.sc) DESC, p.s1 ASC, p.s2 ASC LIMIT 1)"""
      ctes += s"""v$r AS MATERIALIZED (SELECT word, cnt,
          replace(repr, (SELECT s1 || s2 FROM b$r),
            '(' || (SELECT i1 || i2 FROM b$r) || ')') AS repr FROM v${r - 1})"""
    }
    ctes.mkString(",\n")
  }

  private def wordpieceOracle(merges: Int): String = {
    val sel = (1 to merges).map { r =>
      s"SELECT $r AS round, i1 AS lhs, i2 AS rhs, i1 || i2 AS merged, " +
        s"CAST(c AS BIGINT) AS pair_cnt, CAST(sc1 AS BIGINT) AS lhs_cnt, " +
        s"CAST(sc2 AS BIGINT) AS rhs_cnt, " +
        s"round(ln(c) - ln(sc1) - ln(sc2), 6) + 0.0 AS score_ln FROM b$r"
    }
    s"WITH ${wpTrainCtes(merges)}\n${sel.mkString(" UNION ALL ")}"
  }

  /** q328's oracle: re-learn the WordPiece merges (shared CTE chain),
    * then replay greedy LONGEST-MATCH-FIRST segmentation per distinct
    * word as a fixed chain of steps (each consumes ≥ 1 char), and fan
    * counts back to docs through the word explode. The chain depth is
    * the WORD-LENGTH CAP both engine and oracle enforce in their word
    * filters (`^[a-z]{1,12}$` — the unigram family's {1,16} contract):
    * a 12-char word segments in ≤ 12 steps by construction, so
    * engine/oracle agreement no longer rests on a fixture comment.
    */
  private val WpMaxWord = 12
  private val WpSteps = WpMaxWord

  private def wordpieceEncodeOracle(merges: Int): String = {
    val ctes = scala.collection.mutable.ArrayBuffer(wpTrainCtes(merges))
    ctes += ("vb AS MATERIALIZED (SELECT chr(CAST(i AS INTEGER)) AS p " +
      "FROM range(97, 123) u(i)" +
      (1 to merges).map(r => s" UNION SELECT i1 || i2 FROM b$r").mkString + ")")
    ctes += "g0 AS MATERIALIZED (SELECT word, 0 AS pos, 0 AS np, 0 AS nc FROM w)"
    (1 to WpSteps).foreach { i =>
      ctes += s"""g$i AS MATERIALIZED (SELECT word,
          CASE WHEN pos >= length(word) THEN pos ELSE pos + bl END AS pos,
          CASE WHEN pos >= length(word) THEN np ELSE np + 1 END AS np,
          CASE WHEN pos >= length(word) THEN nc
               ELSE nc + CASE WHEN pos > 0 THEN 1 ELSE 0 END END AS nc
        FROM (SELECT word, pos, np, nc,
                (SELECT max(length(p)) FROM vb
                 WHERE p = substr(word, CAST(pos + 1 AS INTEGER), length(p)))
                  AS bl
              FROM g${i - 1}))"""
    }
    val alphaWords =
      s"list_filter(list_transform($toksSql, t -> lower(t)), " +
        s"w -> regexp_matches(w, '^[a-z]{1,$WpMaxWord}$$'))"
    ctes += s"""dw AS MATERIALIZED (SELECT doc_id, unnest($alphaWords) AS word
        FROM documents)"""
    s"""WITH ${ctes.mkString(",\n")}
       SELECT d.doc_id,
            CAST(count(g.word) AS INTEGER) AS n_words,
            CAST(coalesce(sum(g.np), 0) AS INTEGER) AS n_pieces,
            CAST(coalesce(sum(g.nc), 0) AS INTEGER) AS n_continuations
       FROM documents d
       LEFT JOIN dw ON dw.doc_id = d.doc_id
       LEFT JOIN g$WpSteps g ON g.word = dw.word
       GROUP BY d.doc_id"""
  }

  /** Unigram-LM oracle CTEs (q324/q325): the ENTIRE training loop in
    * SQL — seed substring vocab, per-round Viterbi DP (16 chained
    * position levels; the engine's 16-char word cap makes the chain
    * length data-independent), backtrack walk (16 chained steps, each
    * re-deriving the smallest piece length that achieves the dp
    * score), count re-estimation with the char Laplace floor, and the
    * final prune + renormalize. MATERIALIZED throughout — the chain
    * references each level up to four times (piece lengths 1..4) and
    * un-materialized CTEs would inline exponentially.
    */
  private val UniP = 16 // max word length — the DP/walk chain depth

  private def uniCand(tbl: String, prow: String, word: String,
                      posExpr: String, L: Int, guard: String): String =
    s"""CASE WHEN $guard THEN coalesce(round(
          (SELECT s FROM $tbl d WHERE d.word = $word AND d.i = $posExpr - $L)
          + (SELECT lp FROM $prow p
             WHERE p.piece = substr($word, $posExpr - $L + 1, $L)), 6),
          -1000000000.0) ELSE -1000000000.0 END"""

  /** One round's DP levels + consolidated table + backtrack walk, over
    * `src` (word, cnt) with probabilities `probs` (piece, lp). Emits
    * CTEs dp{tag}_0..P, dpa{tag}, bt{tag}_0..P.
    */
  private def uniRoundCtes(tag: String, src: String,
                           probs: String): Seq[String] = {
    val ctes = scala.collection.mutable.ArrayBuffer.empty[String]
    ctes += s"""dp${tag}_0 AS MATERIALIZED (
      SELECT word, cnt, CAST(0.0 AS DOUBLE) AS s FROM $src)"""
    (1 to UniP).foreach { i =>
      val cands = (1 to 4).map { l =>
        if (l > i) "-1000000000.0"
        else
          s"""coalesce(round(
            (SELECT s FROM dp${tag}_${i - l} d WHERE d.word = w.word)
            + (SELECT lp FROM $probs p
               WHERE p.piece = substr(w.word, ${i - l + 1}, $l)), 6),
            -1000000000.0)"""
      }
      ctes += s"""dp${tag}_$i AS MATERIALIZED (
        SELECT w.word, w.cnt, greatest(${cands.mkString(", ")}) AS s
        FROM $src w WHERE length(w.word) >= $i)"""
    }
    ctes += (0 to UniP).map(i =>
        s"SELECT word, $i AS i, s FROM dp${tag}_$i")
      .mkString(s"dpa$tag AS MATERIALIZED (", " UNION ALL ", ")")
    ctes += s"""bt${tag}_0 AS MATERIALIZED (
      SELECT word, cnt, CAST(length(word) AS INTEGER) AS pos,
        CAST([] AS VARCHAR[]) AS ps FROM $src)"""
    (1 to UniP).foreach { k =>
      val cands = (1 to 3).map(l =>
        uniCand(s"dpa$tag", probs, "b.word", "b.pos", l,
          s"b.pos >= $l") + s" AS cand$l").mkString(",\n          ")
      ctes += s"""bt${tag}_$k AS MATERIALIZED (
        SELECT word, cnt,
          CASE WHEN pos <= 0 THEN pos ELSE pos - chosen END AS pos,
          CASE WHEN pos <= 0 THEN ps
               ELSE list_append(ps, substr(word, pos - chosen + 1, chosen))
          END AS ps
        FROM (
          SELECT word, cnt, pos, ps,
            CASE WHEN cand1 = cur THEN 1 WHEN cand2 = cur THEN 2
                 WHEN cand3 = cur THEN 3 ELSE 4 END AS chosen
          FROM (
            SELECT b.word, b.cnt, b.pos, b.ps,
              (SELECT s FROM dpa$tag d
               WHERE d.word = b.word AND d.i = b.pos) AS cur,
              $cands
            FROM bt${tag}_${k - 1} b) t) u)"""
    }
    ctes.toSeq
  }

  /** The shared training chain: w0 → seed → `emRounds` Viterbi-EM
    * rounds → sel{R} (post-M-step counts) + kept (pruned vocab).
    */
  private def unigramTrainCtes(emRounds: Int): Seq[String] = {
    val ctes = scala.collection.mutable.ArrayBuffer.empty[String]
    ctes += s"""w0 AS MATERIALIZED (
      SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
        SELECT lower(unnest($toksSql)) AS word FROM documents) t
      WHERE regexp_matches(word, '^[a-z]{1,16}$$') GROUP BY 1)"""
    ctes += """sub0 AS MATERIALIZED (
      SELECT substr(word, CAST(i AS INTEGER), CAST(L AS INTEGER)) AS piece,
        CAST(sum(cnt) AS BIGINT) AS total
      FROM w0,
        UNNEST(range(1, length(word) + 1)) AS u(i),
        UNNEST(range(1, least(4, length(word) - i + 1) + 1)) AS v(L)
      GROUP BY 1)"""
    ctes += "ch0 AS MATERIALIZED (SELECT piece FROM sub0 WHERE length(piece) = 1)"
    ctes += """sel0 AS MATERIALIZED (
      SELECT piece, total AS cnt FROM sub0 WHERE length(piece) = 1
      UNION ALL
      SELECT piece, total AS cnt FROM (
        SELECT piece, total,
          row_number() OVER (ORDER BY total DESC, piece) AS rn
        FROM sub0 WHERE length(piece) > 1) WHERE rn <= 48)"""
    ctes += """p0 AS MATERIALIZED (SELECT piece,
      round(ln(CAST(cnt AS DOUBLE)
        / (SELECT CAST(sum(cnt) AS DOUBLE) FROM sel0)), 6) AS lp
      FROM sel0)"""
    (1 to emRounds).foreach { r =>
      ctes ++= uniRoundCtes(s"r$r", "w0", s"p${r - 1}")
      ctes += s"""c$r AS MATERIALIZED (
        SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt FROM (
          SELECT unnest(ps) AS piece, cnt FROM btr${r}_$UniP) t
        GROUP BY 1)"""
      ctes += s"""sel$r AS MATERIALIZED (
        SELECT ch0.piece, CAST(coalesce(c$r.cnt, 0) + 1 AS BIGINT) AS cnt
        FROM ch0 LEFT JOIN c$r ON ch0.piece = c$r.piece
        UNION ALL
        SELECT piece, cnt FROM c$r
        WHERE length(piece) > 1 AND cnt > 0)"""
      ctes += s"""p$r AS MATERIALIZED (SELECT piece,
        round(ln(CAST(cnt AS DOUBLE)
          / (SELECT CAST(sum(cnt) AS DOUBLE) FROM sel$r)), 6) AS lp
        FROM sel$r)"""
    }
    ctes += s"""kept AS MATERIALIZED (
      SELECT piece, cnt FROM sel$emRounds WHERE length(piece) = 1
      UNION ALL
      SELECT piece, cnt FROM (
        SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS rn
        FROM sel$emRounds WHERE length(piece) > 1) WHERE rn <= 24)"""
    ctes.toSeq
  }

  private def unigramTrainOracle(emRounds: Int): String =
    s"""WITH ${unigramTrainCtes(emRounds).mkString(",\n")}
      SELECT piece, CAST(cnt AS BIGINT) AS cnt,
        round(ln(CAST(cnt AS DOUBLE)
          / (SELECT CAST(sum(cnt) AS DOUBLE) FROM kept)), 6) + 0.0 AS logp
      FROM kept"""

  private def unigramEncodeOracle(emRounds: Int): String = {
    val ctes = scala.collection.mutable.ArrayBuffer(
      unigramTrainCtes(emRounds): _*)
    ctes += """pf AS MATERIALIZED (SELECT piece,
      round(ln(CAST(cnt AS DOUBLE)
        / (SELECT CAST(sum(cnt) AS DOUBLE) FROM kept)), 6) AS lp
      FROM kept)"""
    ctes += s"""dw AS MATERIALIZED (
      SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c FROM (
        SELECT doc_id, lower(unnest($toksSql)) AS word FROM documents) t
      WHERE regexp_matches(word, '^[a-z]{1,16}$$') GROUP BY 1, 2)"""
    ctes += """uw AS MATERIALIZED (
      SELECT DISTINCT word, CAST(1 AS BIGINT) AS cnt FROM dw)"""
    ctes ++= uniRoundCtes("e", "uw", "pf")
    ctes += s"""sz AS MATERIALIZED (
      SELECT word, len(ps) AS npw FROM bte_$UniP)"""
    s"""WITH ${ctes.mkString(",\n")}
      SELECT d.doc_id,
        CAST(coalesce(sum(dw.c), 0) AS INTEGER) AS n_words,
        CAST(coalesce(sum(dw.c * sz.npw), 0) AS INTEGER) AS n_pieces
      FROM documents d
      LEFT JOIN dw ON dw.doc_id = d.doc_id
      LEFT JOIN sz ON sz.word = dw.word
      GROUP BY 1"""
  }

  /** q177's oracle: covariance → fixed power iterations → projection,
    * all in SQL (MATERIALIZED for the same inlining reason as
    * [[bpeOracle]]). Generated by the loop shape
    * [[graft.operators.Similarity.pcaProject]] runs on the driver.
    */
  private def pcaOracle(iterations: Int, dim: Int): String = {
    val ctes = scala.collection.mutable.ArrayBuffer(
      s"""ex AS MATERIALIZED (
            SELECT vec_id, CAST(i AS INTEGER) AS i,
                   CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS x
            FROM embeddings, UNNEST(range(1, ${dim + 1})) AS u(i))""",
      "nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings)",
      "mu AS MATERIALIZED (SELECT i, SUM(x) / (SELECT n FROM nn) AS m FROM ex GROUP BY i)",
      """cv AS MATERIALIZED (
           SELECT g.i, g.j, g.s / (SELECT n FROM nn) - ma.m * mb.m AS c
           FROM (SELECT a.i AS i, b.i AS j, SUM(a.x * b.x) AS s
                 FROM ex a JOIN ex b ON a.vec_id = b.vec_id GROUP BY 1, 2) g
           JOIN mu ma ON ma.i = g.i JOIN mu mb ON mb.i = g.j)""",
      s"""v0 AS MATERIALIZED (SELECT i, 1.0 / sqrt(${dim}.0) AS v
            FROM (SELECT DISTINCT i FROM ex))""")
    (1 to iterations).foreach { k =>
      ctes += s"""w$k AS MATERIALIZED (SELECT cv.i AS i, SUM(cv.c * p.v) AS w
                    FROM cv JOIN v${k - 1} p ON cv.j = p.i GROUP BY cv.i)"""
      ctes += s"""v$k AS MATERIALIZED (SELECT i,
                    w / (SELECT sqrt(SUM(w * w)) FROM w$k) AS v FROM w$k)"""
    }
    ctes += s"""sh AS MATERIALIZED (SELECT SUM(mu.m * vv.v) AS shift
                  FROM mu JOIN v$iterations vv ON mu.i = vv.i)"""
    s"WITH ${ctes.mkString(",\n")}\n" +
      // + 0.0 collapses IEEE −0.0 onto +0.0 (same normalization as the
      // engine side — the driver's compare is textual)
      s"SELECT e.vec_id, round(SUM(e.x * vv.v) - (SELECT shift FROM sh), 4) + 0.0 AS pc1\n" +
      s"FROM ex e JOIN v$iterations vv ON e.i = vv.i GROUP BY e.vec_id"
  }

  /** q332's oracle: PCA WHITENING replayed — the pcaOracle chain run k
    * times with Hotelling deflation between components (λ = vᵀCv via a
    * two-step w = Cv then vᵀw, matching the engine's loop structure;
    * C ← C − λvvᵀ), each component's projection scaled by 1/√λ.
    */
  private def pcaWhitenOracle(iterations: Int, dim: Int, k: Int): String = {
    val ctes = scala.collection.mutable.ArrayBuffer(
      s"""ex AS MATERIALIZED (
            SELECT vec_id, CAST(i AS INTEGER) AS i,
                   CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS x
            FROM embeddings, UNNEST(range(1, ${dim + 1})) AS u(i))""",
      "nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings)",
      "mu AS MATERIALIZED (SELECT i, SUM(x) / (SELECT n FROM nn) AS m FROM ex GROUP BY i)",
      """cv1 AS MATERIALIZED (
           SELECT g.i, g.j, g.s / (SELECT n FROM nn) - ma.m * mb.m AS c
           FROM (SELECT a.i AS i, b.i AS j, SUM(a.x * b.x) AS s
                 FROM ex a JOIN ex b ON a.vec_id = b.vec_id GROUP BY 1, 2) g
           JOIN mu ma ON ma.i = g.i JOIN mu mb ON mb.i = g.j)""")
    (1 to k).foreach { t =>
      ctes += s"""v${t}_0 AS MATERIALIZED (SELECT i, 1.0 / sqrt(${dim}.0) AS v
            FROM (SELECT DISTINCT i FROM ex))"""
      (1 to iterations).foreach { r =>
        ctes += s"""w${t}_$r AS MATERIALIZED (SELECT cv.i AS i, SUM(cv.c * p.v) AS w
                      FROM cv$t cv JOIN v${t}_${r - 1} p ON cv.j = p.i GROUP BY cv.i)"""
        ctes += s"""v${t}_$r AS MATERIALIZED (SELECT i,
                      w / (SELECT sqrt(SUM(w * w)) FROM w${t}_$r) AS v
                    FROM w${t}_$r)"""
      }
      ctes += s"""lw$t AS MATERIALIZED (SELECT cv.i AS i, SUM(cv.c * p.v) AS w
                    FROM cv$t cv JOIN v${t}_$iterations p ON cv.j = p.i
                    GROUP BY cv.i)"""
      ctes += s"""lam$t AS MATERIALIZED (SELECT SUM(a.v * l.w) AS lam
                    FROM v${t}_$iterations a JOIN lw$t l ON l.i = a.i)"""
      ctes += s"""sh$t AS MATERIALIZED (SELECT SUM(mu.m * vv.v) AS shift
                    FROM mu JOIN v${t}_$iterations vv ON mu.i = vv.i)"""
      if (t < k)
        ctes += s"""cv${t + 1} AS MATERIALIZED (SELECT cv.i, cv.j,
                      cv.c - (SELECT lam FROM lam$t) * a.v * b.v AS c
                    FROM cv$t cv JOIN v${t}_$iterations a ON a.i = cv.i
                         JOIN v${t}_$iterations b ON b.i = cv.j)"""
      ctes += s"""p$t AS MATERIALIZED (SELECT e.vec_id,
                    round((SUM(e.x * vv.v) - (SELECT shift FROM sh$t))
                      / (SELECT sqrt(lam) FROM lam$t), 4) + 0.0 AS w$t
                  FROM ex e JOIN v${t}_$iterations vv ON e.i = vv.i
                  GROUP BY e.vec_id)"""
    }
    val wCols = (1 to k).map(t => s"p$t.w$t").mkString(", ")
    val joins = (2 to k).map(t => s"JOIN p$t USING (vec_id)").mkString(" ")
    s"WITH ${ctes.mkString(",\n")}\n" +
      s"SELECT p1.vec_id, $wCols FROM p1 $joins"
  }

  /** q312's DuckDB twin: logistic-regression training replayed as a
    * chain of materialized per-iteration CTEs (probability pass,
    * mean-gradient pass, weight update — the [[pcaOracle]] doctrine:
    * both engines run the IDENTICAL left-associated arithmetic from
    * the same zero start, so FP drift stays far below the 4dp output
    * rounding). Generated by the loop shape
    * [[graft.operators.Corpus.logisticRegression]] runs on the driver.
    */
  /** q313/q319's shared metric tail over a (y, score) source CTE. */
  private def metricsSql(src: String): String =
    s"""grp AS (SELECT score AS s, sum(y) AS np,
                    count(*) - sum(y) AS nn FROM $src GROUP BY 1),
          cum AS (SELECT s, np, nn,
                    coalesce(sum(nn) OVER (ORDER BY s
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0.0) AS cumneg FROM grp),
          num AS (SELECT sum(np * (cumneg + nn / 2.0)) AS num FROM cum),
          conf AS (SELECT sum(y) AS p, count(*) - sum(y) AS n,
            sum(CASE WHEN score >= 0.5 THEN y ELSE 0.0 END) AS tp,
            sum(CASE WHEN score >= 0.5 THEN 1.0 - y ELSE 0.0 END) AS fp,
            sum(CASE WHEN score < 0.5 THEN y ELSE 0.0 END) AS fn,
            sum(CASE WHEN score < 0.5 THEN 1.0 - y ELSE 0.0 END) AS tn
          FROM $src)
          SELECT CAST(p AS BIGINT) AS n_pos, CAST(n AS BIGINT) AS n_neg,
            CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
            CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
            round(tp / greatest(tp + fp, 1.0), 4) + 0.0 AS prec,
            round(tp / greatest(p, 1.0), 4) + 0.0 AS rec,
            round(2.0 * tp / greatest(2.0 * tp + fp + fn, 1.0), 4) + 0.0
              AS f1,
            round(num / greatest(p * n, 1.0), 4) + 0.0 AS auc
          FROM conf, num"""

  private def logregChain(iterations: Int, lr: Double,
                          holdout: Boolean = false): String = {
    val zSql = (w: String) =>
      s"($w.b + f.x1 * $w.w1 + f.x2 * $w.w2 + f.x3 * $w.w3)"
    val ctes = scala.collection.mutable.ArrayBuffer(
      s"""f AS MATERIALIZED (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                     AS BIGINT) % 1000000 AS bkt,
                   CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
                   CAST(($stopSql) AS DOUBLE) /
                     CAST(greatest(len(toks), 1) AS DOUBLE) AS x1,
                   least(CAST(len(toks) AS DOUBLE) / 200.0, 1.0) AS x2,
                   CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                        AS DOUBLE) /
                     CAST(greatest(len(text), 1) AS DOUBLE) AS x3
            FROM (SELECT doc_id, lang, text, $toksSql AS toks
                  FROM (SELECT doc_id, lang,
                          text || CASE WHEN lang = 'en' THEN '$LangPlant'
                                       ELSE '' END AS text
                        FROM documents)))""",
      "wi0 AS MATERIALIZED (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)")
    if (holdout)
      ctes += "ft AS MATERIALIZED (SELECT * FROM f WHERE bkt < 800000)"
    val trainSrc = if (holdout) "ft" else "f"
    (1 to iterations).foreach { k =>
      ctes += s"""pp$k AS MATERIALIZED (SELECT f.y, f.x1, f.x2, f.x3,
                    1.0 / (1.0 + exp(-${zSql("w")})) AS p
                  FROM $trainSrc f, wi${k - 1} w)"""
      ctes += s"""gg$k AS MATERIALIZED (SELECT avg(p - y) AS gb,
                    avg((p - y) * x1) AS g1, avg((p - y) * x2) AS g2,
                    avg((p - y) * x3) AS g3 FROM pp$k)"""
      ctes += s"""wi$k AS MATERIALIZED (SELECT w.b - $lr * g.gb AS b,
                    w.w1 - $lr * g.g1 AS w1, w.w2 - $lr * g.g2 AS w2,
                    w.w3 - $lr * g.g3 AS w3 FROM wi${k - 1} w, gg$k g)"""
    }
    ctes += s"""scored AS MATERIALIZED (SELECT f.doc_id, f.bkt, f.y,
                  round(1.0 / (1.0 + exp(-${zSql("w")})), 4) + 0.0 AS score
                FROM f, wi$iterations w)"""
    ctes.mkString(",\n")
  }

  /** q312's planted positive-class suffix (leading space; stopword-rich
    * so the x1 feature separates en from the rest).
    */
  private val LangPlant =
    " the of to is the and of in to the is a and the of"

  /** q312/q313/q319's shared scored corpus: planted features,
    * 40-iteration deterministic GD training, 4dp-rounded sigmoid
    * scores, plus the q233-convention hash bucket. `holdout = true`
    * trains on the bkt < 800000 slice only (the 80% train split) —
    * scores still cover every document so the held-out 20% evaluates
    * a model that never saw it.
    */
  private def classifierScored(s: SparkSession, d: String,
                               holdout: Boolean = false): DataFrame = {
    val feat = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        concat(col("text"), when(col("lang") === "en", lit(LangPlant))
          .otherwise(lit(""))).as("text"))
      .withColumn("toks", TextFunctions.tokens(col("text")))
      .select(col("doc_id"),
        (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 1000000L).as("bkt"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
        (TextFunctions.stopwordCount(col("toks")).cast("double") /
          greatest(size(col("toks")), lit(1)).cast("double")).as("x1"),
        least(size(col("toks")).cast("double") / lit(200.0), lit(1.0))
          .as("x2"),
        (length(regexp_replace(col("text"), "[^a-zA-Z]", ""))
          .cast("double") /
          greatest(length(col("text")), lit(1)).cast("double")).as("x3"))
      // pin the feature pass: training reads it 40 times and scoring
      // once more — without this the tokenizer re-runs per consumer
      .localCheckpoint()
    val train = if (holdout) feat.filter(col("bkt") < 800000L) else feat
    val w = Corpus.logisticRegression(train, "y", Seq("x1", "x2", "x3"),
      iterations = 40, lr = 4.0)
    feat.select(col("doc_id"), col("bkt"), col("y"),
      (round(Corpus.logisticScore(w, Seq("x1", "x2", "x3")), 4) + lit(0.0))
        .as("score"))
  }

  private val NumHashes = 12
  private val Bands = 4
  private val ShingleN = 3
  private val MaxShingleDf = 10

  // hash function j = 8-hex-char window of the per-shingle md5 at 1+2j
  // (must mirror TextFunctions.minhashFromHashes exactly).
  private def mhSql(j: Int): String =
    s"list_min(list_transform(hs, h -> substr(h, ${1 + 2 * j}, 8)))"

  private def simhashBitSql(b: Int): String = {
    val nib = b / 4 + 1
    val shift = 1 << (b % 4)
    val ch = s"ascii(substr(h, $nib, 1))"
    val nibVal = s"CASE WHEN $ch <= 57 THEN $ch - 48 ELSE $ch - 87 END"
    val bit = s"CAST(floor(($nibVal) / $shift) AS INTEGER) % 2"
    s"CASE WHEN CAST(list_sum(list_transform(hs, " +
      s"h -> CASE WHEN ($bit) = 1 THEN 1 ELSE -1 END)) AS INTEGER) > 0 " +
      "THEN '1' ELSE '0' END"
  }

  private val simhashSql: String =
    "concat(" + (0 until 16).map(simhashBitSql).mkString(", ") + ")"

  // 64-bit twin (the q170 production width): simhashBitSql's nibble
  // arithmetic already generalizes — bit b lives in md5 nibble b/4+1,
  // so bits 0..63 read hex chars 1..16.
  private val simhash64Sql: String =
    "concat(" + (0 until 64).map(simhashBitSql).mkString(", ") + ")"

  private def langScoreSql(ws: Seq[String]): String =
    ws.map(w => s"len(list_filter(toks, t -> t = '$w'))").mkString(" + ")

  private val langCaseSql: String = {
    val scores = TextFunctions.LangMarkers.map { case (l, ws) => (l, s"(${langScoreSql(ws)})") }
    val branches = scores.init.zipWithIndex.map { case ((lang, s), i) =>
      val later = scores.drop(i + 1).map(_._2)
      s"WHEN ${later.map(o => s"$s >= $o").mkString(" AND ")} THEN '$lang'"
    }
    s"CASE ${branches.mkString(" ")} ELSE '${scores.last._1}' END"
  }

  private val stopSql = Seq("the", "a", "and", "of", "to", "in", "is")
    .map(w => s"len(list_filter(toks, t -> t = '$w'))").mkString(" + ")

  private val cosSql =
    "round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 4)"

  // Twin of TextFunctions.qualityScore (expects relations binding
  // `text` and `toks`).
  private val qualitySql =
    s"""round(least(len(toks) / 100.0, 1.0) * 0.5 +
             (($stopSql) * 1.0 / greatest(len(toks) * 1.0, 1.0)) * 0.3 +
             (length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 /
              greatest(length(text), 1)) * 0.2, 4)"""

  /** PQ training replayed in SQL (twin of Similarity.pqTrainCodebooks
    * at m=8, ksub=16, iters=1): per subspace s the chain is seeds
    * `cs0_s` (lowest-id sub-slices) → assignment `as0_s` (squared-L2
    * via the dot identity, rounded 4 dp, ties to smaller cid) → mean
    * update `u1_s`/`cs1_s` (6 dp) → final assignment `af_s`. Shared by
    * q92 (codes), q93 (ADC scoring), and q82's pq_adc recall row; the
    * chain assumes a CTE `v(vec_id, e DOUBLE[])` is already in scope.
    */
  private val pqM = 8
  private val pqKsub = 16
  private val pqDsub = 8

  /** q235's planted boilerplate: 23 whitespace tokens, ≥ the 20-gram
    * window, so every planted copy is fully covered by duplicated
    * grams.
    */
  private val Boilerplate =
    "terms of service apply to all content on this site please review " +
      "the policy before continuing to use the resources provided here today"

  /** q97 target mixture — one constant drives both engines. */
  private val MixWeights = Seq(
    ("en", 0.5), ("de", 0.15), ("es", 0.15), ("fr", 0.1), ("zh", 0.1))

  /** Replays Similarity.kmeansAssign in DuckDB SQL — shared by q69,
    * q108 (SemDeDup) and q114 (sampled seeding). Emits the CTE chain
    * `v, c0, a0/u1/c1, ..., af` (af = final assignment: vec_id,
    * cluster, e). Default seeds are the k LOWEST-id vectors (ORDER
    * BY/LIMIT — the engine's rule, robust to non-contiguous ids);
    * `sampled = true` replays the deterministic k-means‖-style seeding
    * instead (md5-hash sample of max(4k,32) → farthest-point refine,
    * Similarity.sampledSeeds). Centroid means round to 6 dp, assignment
    * is argmax of the 4 dp-rounded cosine with ties to the smaller cid.
    */
  private def kmeansSqlCtes(k: Int, iters: Int, embDim: Int = 64,
                            sampled: Boolean = false): String = {
    def assignCte(name: String, centRel: String): String =
      s"""$name AS (SELECT vec_id, cid AS cluster, e FROM (
            SELECT v.vec_id, c.cid, v.e,
              row_number() OVER (PARTITION BY v.vec_id ORDER BY
                round(list_dot_product(v.e, c.ce) / (v.nrm * c.cnrm), 4) DESC,
                c.cid) AS rn
            FROM v CROSS JOIN $centRel c) WHERE rn = 1)"""
    // seed relation: lowest-id (default) or hash-sample + farthest-point
    val seedCtes =
      if (!sampled)
        s"""c0 AS (SELECT vec_id AS cid, e AS ce, nrm AS cnrm
               FROM (SELECT * FROM v ORDER BY vec_id LIMIT $k))"""
      else {
        val pool = math.max(4 * k, 32)
        // MATERIALIZED: each seeds CTE is referenced three times by the
        // next refine stage — inlined, the k-stage chain re-evaluates
        // the base 3^k times (DuckDB inlines single-reference CTEs and
        // may inline multi-reference ones); materializing keeps the
        // oracle linear in k
        val refine = (1 until k).map { i =>
          s"""p$i AS MATERIALIZED (SELECT c.vec_id,
                  max(round(list_dot_product(c.e, s.e) / (c.nrm * s.nrm), 4)) AS dmax
                FROM cand c, seeds${i - 1} s
                WHERE c.vec_id NOT IN (SELECT vec_id FROM seeds${i - 1})
                GROUP BY c.vec_id),
              pick$i AS MATERIALIZED (SELECT vec_id FROM p$i ORDER BY dmax, vec_id LIMIT 1),
              seeds$i AS MATERIALIZED (SELECT * FROM seeds${i - 1} UNION ALL
                SELECT c.vec_id, c.e, c.nrm FROM cand c JOIN pick$i USING (vec_id))"""
        }.mkString(",\n")
        s"""cand AS MATERIALIZED (SELECT vec_id, e, nrm, md5(CAST(vec_id AS VARCHAR)) AS h
               FROM v WHERE nrm <> 0
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $pool),
            seeds0 AS MATERIALIZED (SELECT vec_id, e, nrm FROM cand ORDER BY h, vec_id LIMIT 1),
            $refine,
            c0 AS (SELECT vec_id AS cid, e AS ce, nrm AS cnrm FROM seeds${k - 1})"""
      }
    val iterCtes = (0 until iters).map { i =>
      assignCte(s"a$i", s"c$i") + ",\n" +
        s"""u${i + 1} AS (SELECT cluster, CAST(t.i AS INTEGER) AS dim,
              round(avg(e[CAST(t.i AS INTEGER)]), 6) AS m
            FROM a$i CROSS JOIN range(1, ${embDim + 1}) t(i) GROUP BY 1, 2),
            c${i + 1} AS (SELECT cid, ce,
                sqrt(list_dot_product(ce, ce)) AS cnrm
              FROM (SELECT cluster AS cid, list(m ORDER BY dim) AS ce
                    FROM u${i + 1} GROUP BY 1))"""
    }.mkString(",\n")
    s"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
           FROM embeddings),
        $seedCtes,
        $iterCtes,
        ${assignCte("af", s"c$iters")}"""
  }

  /** Shared by q68 (window-sort implementation) and q104 (bounded-
    * buffer aggregator implementation) — one oracle, two engines, two
    * execution strategies.
    */
  private val tfidfTop3Sql =
    s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        nd AS (SELECT count(*) AS n_docs FROM documents),
        sc AS (SELECT tf.doc_id, tf.term, tf.tf,
                 round(tf.tf * ln(CAST(n_docs AS DOUBLE) / df.df), 4) AS tfidf
               FROM tf JOIN df ON tf.term = df.term CROSS JOIN nd)
        SELECT doc_id, term, tf, tfidf, CAST(rn AS INTEGER) AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                ORDER BY tfidf DESC, term) AS rn FROM sc)
        WHERE rn <= 3"""
  private val pqChain: String = {
    val subCols = (0 until pqM).map { s =>
      val lo = s * pqDsub + 1
      val hi = (s + 1) * pqDsub
      s"e[$lo:$hi] AS sub$s, list_dot_product(e[$lo:$hi], e[$lo:$hi]) AS nv$s"
    }.mkString(", ")
    val perS = (0 until pqM).map { s =>
      def assignSql(name: String, centRel: String, keep: String) =
        s"""$name AS (SELECT vec_id, cid$keep FROM (
              SELECT b.vec_id, c.cid, b.sub$s, b.nv$s,
                row_number() OVER (PARTITION BY b.vec_id ORDER BY
                  round(b.nv$s + c.nc - 2 * list_dot_product(b.sub$s, c.ce), 4),
                  c.cid) AS rn
              FROM b CROSS JOIN $centRel c) WHERE rn = 1)"""
      s"""cs0_$s AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                sub$s AS ce, nv$s AS nc
              FROM (SELECT * FROM b ORDER BY vec_id LIMIT $pqKsub)),
          ${assignSql(s"as0_$s", s"cs0_$s", s", sub$s, nv$s")},
          u1_$s AS (SELECT cid AS cluster, CAST(t.i AS INTEGER) AS dim,
                round(avg(sub$s[CAST(t.i AS INTEGER)]), 6) AS mv
              FROM as0_$s CROSS JOIN range(1, ${pqDsub + 1}) t(i) GROUP BY 1, 2),
          cs1_$s AS (SELECT cid, ce, list_dot_product(ce, ce) AS nc FROM (
              SELECT cluster AS cid, list(mv ORDER BY dim) AS ce
              FROM u1_$s GROUP BY 1)),
          ${assignSql(s"af_$s", s"cs1_$s", "")}"""
    }.mkString(",\n")
    // cosine-metric PQ: L2-normalize before slicing (twin of pqBase);
    // needs v(vec_id, e DOUBLE[]) in scope
    s"""vn0 AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS vnrm FROM v),
        vn AS (SELECT vec_id,
            CASE WHEN vnrm = 0 THEN e
                 ELSE list_transform(e, x -> x / vnrm) END AS e
          FROM vn0),
        b AS (SELECT vec_id, $subCols FROM vn),
        $perS"""
  }

  /** ADC pair scoring + top-3 over the trained chain (needs `b` and the
    * per-subspace `af_s`/`cs1_s` CTEs of [[pqChain]] in scope). Term
    * order mirrors the engine's left-to-right subspace sum.
    */
  private val pqAdcTop3: String = {
    val joins = (0 until pqM).map(s =>
      s"JOIN af_$s k$s ON k$s.vec_id = c.vec_id " +
        s"JOIN cs1_$s t$s ON t$s.cid = k$s.cid").mkString(" ")
    val termSql = (0 until pqM).map(s =>
      s"(q.nv$s + t$s.nc - 2 * list_dot_product(q.sub$s, t$s.ce))")
      .mkString(" + ")
    s"""adc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
            round($termSql, 4) AS adist
          FROM b q JOIN b c ON q.vec_id != c.vec_id $joins),
        adc3 AS (SELECT query_id, neighbor_id, adist, CAST(rn AS INTEGER) AS rank
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY adist, neighbor_id) AS rn FROM adc)
          WHERE rn <= 3)"""
  }

  /** The shared minhash-LSH CTE chain (ends at relation `j` holding
    * candidate pairs with intersection/total sizes) — used by q31 (pair
    * list) and q66 (connected components over the pairs).
    */
  /** Signature CTE chain (tokens → shingles → minhash → band keys) over
    * an arbitrary (doc_id, text) relation, name-prefixed so two corpora
    * can be signed in one statement (q136 signs history AND the new
    * batch). Ends at `<p>s2` (shingle sets) and `<p>bands` (band keys).
    */
  private[queries] def sigCtesFor(src: String, p: String): String = {
    val mhCols = (0 until NumHashes).map(j => s"${mhSql(j)} AS mh$j").mkString(", ")
    val rows = NumHashes / Bands
    val bandSelects = (0 until Bands).map { b =>
      val cols = (b * rows until (b + 1) * rows).map(j => s"mh$j").mkString(", ")
      s"SELECT doc_id, $b AS band, md5(concat_ws('|', $cols)) AS bkey FROM ${p}m"
    }.mkString(" UNION ALL ")
    s"""${p}t AS (SELECT doc_id, $toksSql AS toks FROM $src),
        ${p}s AS (SELECT doc_id, ${shinglesSql(ShingleN)} AS shs FROM ${p}t),
        ${p}s2 AS (SELECT doc_id, shs FROM ${p}s WHERE len(shs) > 0),
        ${p}hh AS (SELECT doc_id, shs, list_transform(shs, x -> md5(x)) AS hs FROM ${p}s2),
        ${p}m AS (SELECT doc_id, $mhCols FROM ${p}hh),
        ${p}bands AS ($bandSelects)"""
  }

  private val lshCtes: String =
    s"""${sigCtesFor("documents", "")},
        cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
                 FROM bands a JOIN bands b
                 ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        j AS (SELECT da, db,
                len(list_filter(sa.shs, x -> list_contains(sb.shs, x))) * 1.0 AS inter,
                len(sa.shs) + len(sb.shs) AS tot
              FROM cand JOIN s2 sa ON da = sa.doc_id JOIN s2 sb ON db = sb.doc_id)"""

  /** q217/q226 shared body: the planted corpus through the full
    * 7-stage production pipeline; `staging` picks the pinning tier.
    */
  private def runFullPipeline(s: SparkSession, d: String,
                              staging: Option[String]): DataFrame = {
    val planted = Tables.documents(s, d).select(
      col("doc_id"), col("source"), col("lang"),
      concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail.example.com now"))).otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          concat(lit(" call 555-"),
            lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
            lit("-4321 today"))).otherwise(lit(""))).as("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    graft.operators.Curation.fullPipeline(planted, "doc_id", "text",
      "source", "lang", minQuality = 0.3,
      langs = MixWeights.map(_._1), nearDupThreshold = 0.5,
      bench = planted.filter(col("doc_id") % 50 === 0),
      domainCap = 30, mixture = MixWeights, staging = staging)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Gopher rule filter (q282): the published per-document quality
    // gate with per-rule verdicts. Lines/symbols/stopwords are planted
    // arithmetically on top of the word-soup corpus so every rule
    // fires on a known doc_id stratum; the oracle rebuilds the same
    // text and replays the integer cross-multiplied thresholds.
    "q282_gopher_rules" -> { (s, d) =>
      Corpus.gopherRules(plantedGopherDocs(s, d)).toDF()
    },

    // Streaming twin of q282 (q290): the Gopher tagger is ONE
    // stateless mapPartitions pass, so it runs inside Structured
    // Streaming unchanged — same planted fixture through
    // readStream → gopherRules → parquet sink, same oracle text as
    // the batch row (equality under the hash proves batch/stream
    // parity, the q217/q226 pattern).
    "q290_gopher_stream" -> { (s, d) =>
      import org.apache.spark.sql.streaming.Trigger
      val base = Fixtures.fresh(
        s"/tmp/graft_stream/${new java.io.File(d).getName}_gopher")
      val in = s"$base/in"
      val out = s"$base/out"
      val planted = plantedGopherDocs(s, d)
      planted.write.mode("overwrite").parquet(in)
      val q = Corpus.gopherRules(
          s.readStream.schema(planted.schema).parquet(in))
        .toDF()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", s"$base/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(out)
    },

    // C4 line cleaning (q283): terminal-punctuation line gate, 3-word
    // minimum, javascript-line drop, then the page verdict (>= 5
    // sentence marks, no curly brace, no lorem ipsum). Planted lines
    // exercise every rule; the corpus-level 3-sentence-span dedup that
    // completes C4 is q102/q103 (duplicateSpans/removeDuplicateSpans).
    "q283_c4_clean" -> { (s, d) =>
      val id = col("doc_id")
      val planted = Tables.documents(s, d).select(id, concat(
        col("text"),
        lit("\nThis is a planted sentence for the cleaner."),
        lit("\nshort one."),
        when(id % 3 === 0, lit(
          "\nOne more line stays. And another stays! Really stays? Yes it does."))
          .otherwise(lit("")),
        when(id % 7 === 0, lit("\nThis mentions javascript code here."))
          .otherwise(lit("")),
        when(id % 11 === 0, lit("\nLorem ipsum dolor sit amet."))
          .otherwise(lit("")),
        when(id % 13 === 0, lit("\nconfig = { a: 1 }"))
          .otherwise(lit(""))).as("text"))
      Corpus.c4Clean(planted).toDF()
    },

    // Filter-calibration sweep (q295): the survivor curve over a
    // 5-point threshold grid on n_chars — one global agg with k
    // codegen'd predicates, exploded to (threshold, n_kept, kept_ppm).
    // Integer score + integer ppm: no float crosses the boundary.
    "q295_threshold_sweep" -> { (s, d) =>
      graft.operators.Profile.thresholdSweep(Tables.documents(s, d),
        "n_chars", Seq(100.0, 200.0, 300.0, 400.0, 500.0))
    },

    // Temperature-scaled mixture weights (q296): per-source share^0.5
    // renormalized — the Gopher/PaLM sampling-temperature table that
    // plugs into mixtureSample. Oracle replays the share/pow/normalize
    // arithmetic; round-6 + the −0.0 guard make the compare stable.
    "q296_temperature_mix" -> { (s, d) =>
      Corpus.temperatureWeights(Tables.documents(s, d), "source",
        alpha = 0.5)
    },

    // Character signals (q298): Unicode-script counts + code-point
    // entropy over a corpus with planted Cyrillic/Han/Arabic strata
    // and a low-entropy spam stratum. Counts are code points, so the
    // RE2 \p{Script} oracle replays them exactly; entropy rounds to 6
    // on both sides.
    "q298_char_signals" -> { (s, d) =>
      val id = col("doc_id")
      val planted = Tables.documents(s, d).select(id, concat(
        col("text"),
        when(id % 3 === 0, lit(" привет мир")).otherwise(lit("")),
        when(id % 5 === 0, lit(" 你好世界")).otherwise(lit("")),
        when(id % 7 === 0, lit(" مرحبا")).otherwise(lit("")),
        when(id % 11 === 0, lit(" aaaaaaaaaaaaaaaaaaaaaaaa"))
          .otherwise(lit(""))).as("text"))
      Corpus.charSignals(planted).toDF()
        .withColumn("entropy_bits",
          (round(col("entropy_bits"), 6) + lit(0.0)))
    },

    // LSH parameter advisor (q305): the (bands, rows) S-curve table
    // for 16 hashes at threshold 0.5 — closed-form FP/FN areas via the
    // midpoint rule, the table read before committing dedup params.
    "q305_lsh_advisor" -> { (s, _) =>
      Dedup.lshParameterTable(s, numHashes = 16, threshold = 0.5)
    },

    // Mean pooling (q309): chunk embeddings → one document vector via
    // the typed O(dim) array aggregator (vec_id % 100 groups play the
    // chunk→doc mapping) — partial aggregation sums arrays map-side,
    // the shuffle never carries chunk rows. Per-element round-6 on
    // both sides absorbs summation-order ulps. The pooled vector is
    // exploded to (doc_id, i, v) rows so the result is sortable by
    // scalar columns (array columns defeat the comparator's sort).
    "q309_mean_pool" -> { (s, d) =>
      val e = Tables.embeddings(s, d).select(
        (col("vec_id") % 100).as("doc_id"), col("embedding"))
      Similarity.meanPoolEmbeddings(e, "doc_id", "embedding", dim = 64)
        .select(col("doc_id"), posexplode(col("embedding")))
        .select(col("doc_id"),
          (col("pos") + 1).cast("long").as("i"),
          (round(col("col"), 6) + lit(0.0)).as("v"))
    },

    // ColBERT MaxSim late-interaction retrieval (q310): vec_id // 5
    // plays the chunk→doc mapping — the SIZED shape (r14 re-pin per
    // the r13 verdict): doc count tracks the corpus and chunks/doc
    // stays fixed at 5, which is the production contract (the old %100
    // fixture — chunks/doc ∝ N — measured harness-quadratic while this
    // shape is linear: BASELINE.md, Round-13 measured scale trend).
    // Since r12 maxSimTopK IS the two-stage PER-CHUNK funnel (each
    // query chunk nominates the docs of its m=8 LSH-nearest foreign chunks; only nominated pairs
    // pay exact chunk×chunk rerank) — the r11 flat chunk-bucket gate
    // was retired as a hot-bucket quadratic. Measured recall vs
    // exhaustive MaxSim: 0.94 (q322).
    "q310_maxsim" -> { (s, d) =>
      val e = Tables.embeddings(s, d).select(
        floor(col("vec_id") / 5).cast("long").as("doc_id"),
        col("vec_id"), col("embedding"))
      Similarity.maxSimTopK(e, "doc_id", "vec_id", "embedding", k = 3)
    },

    // MEASURED MaxSim funnel recall (q322): top-3 agreement against
    // the EXHAUSTIVE MaxSim truth (maxSimBruteTopK — all doc pairs,
    // no gate) for BOTH gate families, the q82 "measure, don't
    // guess" harness: the per-chunk LSH gate (the maxSimTopK API
    // default) at m = 4/8/16, and the pooled-vector funnel (q321's
    // composition) at shortlist = 5/10/20. The m=8 default is the
    // cheapest point clearing 0.85; the pooled rows are the measured
    // proof of WHY pooling can't gate MaxSim on the gaussian worst
    // case (it averages away the per-chunk maxima the score is made
    // of).
    "q322_maxsim_recall" -> { (s, d) =>
      val e = Tables.embeddings(s, d).select(
        (col("vec_id") % 100).as("doc_id"), col("vec_id"), col("embedding"))
      val exact = Similarity
        .maxSimBruteTopK(e, "doc_id", "vec_id", "embedding", k = 3)
        .select("query_id", "doc_id").localCheckpoint()
      val nExact = exact.agg(count(lit(1)).as("n_exact"))
      def row(method: String, knob: Int, ann: DataFrame): DataFrame =
        ann.select("query_id", "doc_id")
          .join(exact, Seq("query_id", "doc_id"), "left_semi")
          .agg(count(lit(1)).as("n_hit"))
          .crossJoin(nExact)
          .select(lit(method).as("method"),
            lit(knob).cast("long").as("knob"),
            col("n_exact"), col("n_hit"),
            round(col("n_hit").cast("double") / col("n_exact"), 4)
              .as("recall"))
      def chunkGate(m: Int): DataFrame =
        Similarity.maxSimTopK(e, "doc_id", "vec_id", "embedding",
          k = 3, m = m)
      def pooled(sl: Int): DataFrame = {
        val docs = Similarity
          .meanPoolEmbeddings(e, "doc_id", "embedding", dim = 64)
          .select(col("doc_id").as("id"),
            expr("transform(embedding, v -> round(v, 6) + 0.0)")
              .as("embedding"))
        val shortlist = Similarity.bucketedAnnTopK(docs, sl, bits = 4)
          .select(col("query_id"), col("neighbor_id").as("doc_id"))
        Similarity.maxSimRerank(e, "doc_id", "vec_id", "embedding",
          shortlist, k = 3)
      }
      row("chunk_gate", 4, chunkGate(4))
        .unionByName(row("chunk_gate", 8, chunkGate(8)))
        .unionByName(row("chunk_gate", 16, chunkGate(16)))
        .unionByName(row("pooled", 5, pooled(5)))
        .unionByName(row("pooled", 10, pooled(10)))
        .unionByName(row("pooled", 20, pooled(20)))
    },

    // Trained quality/language classifier (q312): logistic regression
    // by deterministic full-batch GD over three parity-pinned text
    // features (stopword ratio, capped token count, alpha ratio),
    // label = lang=='en'; 40 fixed iterations (lr = 4.0), then one narrow
    // scoring map. The oracle replays TRAINING itself as chained
    // materialized CTEs (the pcaOracle doctrine). The fixture's text
    // is the same word soup for every lang label, so the en docs get
    // a PLANTED stopword-rich suffix (the q170/q298 convention) —
    // the green row then proves the trained weights actually separate
    // the classes, not just that two engines agree on a no-op.
    "q312_quality_classifier" -> { (s, d) =>
      classifierScored(s, d).select("doc_id", "score")
    },

    // Classifier evaluation (q313): exact confusion counts, precision/
    // recall/F1 at 0.5, and tie-corrected exact AUC over q312's scored
    // corpus — the Mann-Whitney group-and-prefix-sum formulation, so
    // the ordered window runs over ≤ 10⁴+1 distinct rounded scores,
    // never corpus rows. Oracle replays training AND the metric
    // arithmetic.
    "q313_classifier_metrics" -> { (s, d) =>
      Corpus.binaryMetrics(classifierScored(s, d), "y", "score", 0.5)
    },

    // Held-out evaluation (q319): the actually-honest ML protocol —
    // train on the 80% hash-split slice (q233's split arithmetic),
    // evaluate on the 20% the model never saw. Oracle replays the
    // split, the restricted training chain, and the metrics.
    "q319_holdout_metrics" -> { (s, d) =>
      Corpus.binaryMetrics(
        classifierScored(s, d, holdout = true)
          .filter(col("bkt") >= 800000L),
        "y", "score", 0.5)
    },

    // ColBERT serving funnel (q321): the two-stage retrieval stack —
    // documents reduce to mean-pooled vectors (q309's aggregator,
    // elements rounded to 6dp per its contract), a cheap sign-bucket
    // doc-vector gate + exact doc-cosine top-10 nominates candidates,
    // and ONLY the shortlist pays exact chunk×chunk MaxSim. Oracle
    // replays pooling, gate, shortlist, and rerank stage by stage.
    "q321_maxsim_funnel" -> { (s, d) =>
      val chunks = Tables.embeddings(s, d).select(
        (col("vec_id") % 100).as("doc_id"), col("vec_id"), col("embedding"))
      val docs = Similarity
        .meanPoolEmbeddings(chunks, "doc_id", "embedding", dim = 64)
        .select(col("doc_id").as("id"),
          expr("transform(embedding, v -> round(v, 6) + 0.0)")
            .as("embedding"))
      val shortlist = Similarity.bucketedAnnTopK(docs, 10, bits = 4)
        .select(col("query_id"), col("neighbor_id").as("doc_id"))
      Similarity.maxSimRerank(chunks, "doc_id", "vec_id", "embedding",
        shortlist, k = 3)
    },

    // Exact dedup over a corpus with planted duplicates (the corpus
    // unioned with itself): every fingerprint group has 2 copies.
    "q30_exact_dedup" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.exactDedup(docs.unionAll(docs), "doc_id", "text")
    },

    // MinHash + LSH near-dup pairs (banded candidate join + exact verify).
    "q31_minhash_lsh" -> { (s, d) =>
      Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id", "text",
        shingleN = ShingleN, numHashes = NumHashes, bands = Bands, threshold = 0.5)
    },

    // SimHash near-dup pairs within Hamming radius 3 (q170): the
    // Manku block-index recipe at the PRODUCTION width — 64-bit
    // signature, 16-bit blocks, pigeonhole candidate join, exact
    // 64-bit Hamming verify. q34 only finds exact signature
    // collisions; this is the radius search real simhash dedup runs.
    // At 64 bits organic random pairs within radius 3 are ~never, so
    // the fixture PLANTS them: an exact twin per doc_id % 7 == 0
    // (Hamming 0 — all four blocks collide) and a one-token-appended
    // twin per doc_id % 5 == 0 (a ±1 nudge to every bit weight —
    // flips only near-tie bits, so SOME land within the radius and
    // exercise the only-one-block-matches path). The oracle takes the
    // all-pairs shortcut, making the green row a completeness proof
    // for the block join.
    "q170_simhash_pairs" -> { (s, d) =>
      val b = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val near = b.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" the")).as("text"))
      val exact = b.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 200000).as("doc_id"), col("text"))
      Dedup.simhashNearDupPairs(b.unionByName(near).unionByName(exact),
        "doc_id", "text", radius = 3)
    },

    // Edit-distance similarity join (q172): PassJoin segment pigeonhole
    // — candidates from an equi-join on (length, segment, text), exact
    // Levenshtein verify. The fixture plants a one-char DELETION copy of
    // every even doc's 48-char prefix, so shifted-segment matching (not
    // just equal-prefix collisions) is under the hash; the oracle takes
    // the all-pairs shortcut, making the green row a completeness proof
    // for the segment join (q170's pattern).
    "q172_editdist_pairs" -> { (s, d) =>
      val b = Tables.documents(s, d)
        .filter(col("n_chars") >= 48)
        .select(col("doc_id"), substring(col("text"), 1, 48).as("s"))
      val mut = b.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(substring(col("s"), 1, 20), substring(col("s"), 22, 27))
            .as("s"))
      Dedup.editDistancePairs(b.unionByName(mut), "doc_id", "s", maxDist = 2)
    },

    // Weighted sampling without replacement (q174): Efraimidis–Spirtes
    // A-ES keys (ln(u)/w, md5-derived u), top-100 by key — longer
    // documents proportionally more likely, reproducible across engines.
    "q174_weighted_sample" -> { (s, d) =>
      Corpus.weightedSample(Tables.documents(s, d), "doc_id", "n_chars",
          k = 100)
        .select(col("id").as("doc_id"), col("w").cast("long").as("n_chars"),
          round(col("skey"), 6).as("skey"))
    },

    // BPE tokenizer training (q176): 8 merge rounds over the word-
    // frequency vocab; the oracle replays every round (pair count,
    // argmax with the count-desc/pair-asc tiebreak, left-to-right merge
    // application) as chained CTEs, so the full training loop — not
    // just the final table — is under the hash.
    "q176_bpe_train" -> { (s, d) =>
      Corpus.bpeTrain(Tables.documents(s, d), "text", merges = 8)
    },

    // Unigram-LM (SentencePiece-style) tokenizer training (q324):
    // BPE's sibling — seed substring vocab, 2 fixed Viterbi-EM
    // rounds, deterministic pruning to chars + top-24 pieces. The
    // oracle replays the WHOLE loop (seeding, both rounds' per-word
    // DP + backtrack + count re-estimation, the char Laplace floor,
    // final prune + renormalize) as chained MATERIALIZED CTEs — the
    // q176 doctrine for the EM family.
    "q324_unigram_train" -> { (s, d) =>
      Corpus.unigramTrain(Tables.documents(s, d), "text")
    },

    // Unigram encoding (q325): q179's twin for the unigram family —
    // every document's word count and total Viterbi piece count under
    // q324's trained vocab; each DISTINCT word segments once, a
    // broadcast join fans piece counts back to docs. The oracle
    // re-trains AND re-encodes in SQL.
    "q325_unigram_encode" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val vocab = Corpus.unigramTrain(docs, "text")
        .collect().map(r => (r.getString(0), r.getDouble(2))).toSeq
      Corpus.unigramEncode(docs, "doc_id", "text", vocab)
    },

    // WordPiece tokenizer training (q327, r12): the third production
    // tokenizer next to BPE (q176) and unigram-LM (q324) — BPE's loop
    // with the LIKELIHOOD argmax (count(ab)/(count(a)·count(b))), the
    // rule that prefers strongly-bound pairs over merely common ones.
    // The oracle replays every round's pair counts, symbol counts,
    // score argmax, and merge application as chained CTEs.
    "q327_wordpiece_train" -> { (s, d) =>
      Corpus.wordpieceTrain(Tables.documents(s, d), "text", merges = 8)
    },

    // WordPiece encoding (q328): greedy longest-match-first inference
    // (BERT's rule) under q327's trained vocab — per doc word count,
    // piece count, and continuation (##) count. Each DISTINCT word
    // segments once against the broadcast vocab; the oracle re-trains
    // AND replays the greedy scan as a fixed step chain.
    "q328_wordpiece_encode" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val pieces = Corpus.wordpieceTrain(docs, "text", merges = 8)
        .collect().map(_.getString(3)).toSeq
      Corpus.wordpieceEncode(docs, "doc_id", "text", pieces)
    },

    // BYTE-LEVEL BPE training (q342, r13): the GPT-2 recipe — UTF-8
    // bytes as the base alphabet (2-digit-hex paren symbols), no word
    // gate beyond the byte cap, so accented/CJK/emoji words train like
    // any other. Both engines union the same multi-byte fixture rows
    // into the ASCII synthetic corpus; the oracle replays every round.
    "q342_byte_bpe_train" -> { (s, d) =>
      Corpus.byteBpeTrain(byteDocs(s, d), "text", merges = 8)
    },

    // CONTENT-DEFINED CHUNK DEDUP (q369, r14 — the LBFS/FastCDC blob
    // dedup primitive): split at positions where the 16-byte polynomial
    // window hash has its low 6 bits set, digest chunks, aggregate per
    // digest. Boundaries are content-LOCAL, so the slogan appended to
    // every document chunks identically across docs regardless of its
    // byte offset — the fixture plants exactly that, and the oracle
    // replays the window hash (16 power literals), the boundary rule,
    // the lead()-derived chunk spans, and the digest rollup.
    "q369_cdc_dedup" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), lit(CdcSlogan)).as("text"))
      graft.operators.Dedup.cdcChunkDedup(docs)
    },

    // STREAMING CDC extraction (q375, r14): the online half of q369 —
    // documents land as parquet files, Structured Streaming tails
    // them, and the SAME cdcChunks mapPartitions pass (stateless:
    // boundaries are 16-byte-local) emits (doc, chunk, digest, len)
    // exactly-once into a parquet sink; the batch rollup over the sink
    // must equal q369's table bit for bit (the q116/q360 ingest-parity
    // doctrine on the dedup family).
    "q375_cdc_stream" -> { (s, d) =>
      import org.apache.spark.sql.streaming.Trigger
      val base = graft.queries.Fixtures.fresh(
        s"/tmp/graft_io/${new java.io.File(d).getName}/cdc_stream")
      Tables.documents(s, d).select(col("doc_id"),
          concat(col("text"), lit(CdcSlogan)).as("text"))
        .write.mode("overwrite").parquet(s"$base/in")
      val in = s.readStream.schema("doc_id LONG, text STRING")
        .parquet(s"$base/in")
      val chunks = graft.operators.Dedup.cdcChunks(in)
      val q = chunks.writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.schema(chunks.schema).parquet(s"$base/out")
        .groupBy("chunk_md5", "chunk_len")
        .agg(count(lit(1)).cast("long").as("n_copies"),
          countDistinct(col("doc_id")).as("n_docs"))
    },

    // MEASURED CDC DEDUP RATIO (q382, r14): the corpus-level byte
    // accounting a curation team reads before committing CDC — total
    // vs unique chunk bytes and the truncated-ppm ratio, exact
    // integers end to end (the measured-not-argued doctrine on the
    // dedup family).
    "q382_cdc_ratio" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), lit(CdcSlogan)).as("text"))
      graft.operators.Dedup.cdcChunkDedup(docs)
        .agg(
          sum(col("chunk_len").cast("long") * col("n_copies"))
            .as("total_bytes"),
          sum(col("chunk_len").cast("long")).as("unique_bytes"),
          count(lit(1)).cast("long").as("n_unique_chunks"),
          sum(col("n_copies")).as("n_chunks"))
        .select(col("total_bytes"), col("unique_bytes"),
          col("n_unique_chunks"), col("n_chunks"),
          expr("CAST(unique_bytes * 1000000 DIV total_bytes AS LONG)")
            .as("unique_ppm"))
    },

    // UNICODE NFC NORMALIZATION (q366, r14): the canonical-composition
    // cleaning pass multilingual corpora need before byte-level dedup —
    // the fixture appends a denormalized suffix per doc_id%5 (pairwise
    // composition, canonical reordering, Hangul LVT, a no-op, and a
    // no-precomposed-form negative), and java.text.Normalizer's digest
    // must equal DuckDB's nfc_normalize: two independent
    // implementations of UAX #15 pinned to one hash.
    "q366_nfc_normalize" -> { (s, d) =>
      val sufs = nfcSuffixStrings.map(lit)
      val docs = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), lit(" "),
          element_at(array(sufs: _*),
            (pmod(col("doc_id"), lit(5)) + 1).cast("int"))).as("text"))
      Corpus.nfcNormalize(docs)
    },

    // ENCODING REPAIR (q387, r15): mojibake cleanup before any
    // tokenizer — UTF-8 text mis-decoded as sloppy CP-1252 and
    // re-encoded, planted by rule (doc_id%4: 0 untouched ASCII,
    // 1 single-encoded, 2 DOUBLE-encoded, 3 genuine non-ASCII text
    // that must survive unchanged) over a non-ASCII word injected via
    // codepoint constants (the q366 doctrine: no high chars in source
    // literals). fix_encoding_native repairs 1 and 2 back to the clean
    // string and provably leaves 0 and 3 alone; the oracle recomputes
    // the clean string and the changed flag arithmetically.
    "q387_fix_encoding" -> { (s, d) =>
      import s.implicits._
      val umlaut = new String(Array(0xe4), 0, 1) // ä as a codepoint
      val injected = s"d${umlaut}t$umlaut"
      val raw = Tables.documents(s, d)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val clean =
            if (id % 4 == 0) text else text.replace("data", injected)
          val payload = (id % 4) match {
            case 1 => graft.plans.NativeText.mojibake(clean)
            case 2 => graft.plans.NativeText.mojibake(
              graft.plans.NativeText.mojibake(clean))
            case _ => clean
          }
          (id, payload)
        }
        .toDF("doc_id", "raw")
      raw.select(col("doc_id"), col("raw"),
          graft.functions.TextFunctions.fixEncoding(col("raw")).as("fixed"))
        .select(col("doc_id"),
          when(col("fixed") =!= col("raw"), 1).otherwise(0)
            .as("was_changed"),
          md5(col("fixed")).as("fixed_md5"))
    },

    // Byte-level BPE encoding (q343): q179's twin with byte FALLBACK
    // under the hash — words whose byte pairs never merged still
    // tokenize (one token per UTF-8 byte; the closed-vocabulary
    // property). The oracle re-trains and replays the replace chain.
    "q343_byte_bpe_encode" -> { (s, d) =>
      val docs = byteDocs(s, d)
      val merges = Corpus.byteBpeTrain(docs, "text", merges = 8)
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      Corpus.byteBpeEncode(docs, "doc_id", "text", merges)
    },

    // GPT-2-PRETOKENIZED byte-BPE training (q352, r14 — closes the r13
    // verdict's item 4): byteBpeTrain with the published contraction/
    // letter/number/punct regex and the leading-space byte convention
    // (" the" ≠ "the") instead of whitespace words. The pattern lives
    // in the RE2/Java common subset so the oracle replays the
    // pretokenization AND every training round verbatim; the fixture
    // plants contractions + mixed scripts + the double-space edge.
    "q352_gpt2_bpe_train" -> { (s, d) =>
      Corpus.byteBpeTrain(gpt2Docs(s, d), "text", merges = 8,
        tokensOf = graft.functions.TextFunctions.gpt2Pretokens)
    },

    // GPT-2-pretokenized byte-BPE ENCODING (q353): q343's twin under
    // the GPT-2 pretokens — leading-space bytes (20...) ride inside
    // the word symbols, contraction suffixes encode as their own
    // pretokens, byte fallback unchanged. Oracle re-trains + replays.
    "q353_gpt2_bpe_encode" -> { (s, d) =>
      val docs = gpt2Docs(s, d)
      val tok = graft.functions.TextFunctions.gpt2Pretokens _
      val merges = Corpus.byteBpeTrain(docs, "text", merges = 8,
        tokensOf = tok)
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      Corpus.byteBpeEncode(docs, "doc_id", "text", merges, tokensOf = tok)
    },

    // EPOCH-deterministic shuffle (q349, r13): the training-loader
    // contract — every epoch's read order is a seeded md5 permutation
    // any worker can reproduce; per (epoch, shard) the comma-joined
    // doc-id SEQUENCE digests under one hash, so the exact batch order
    // (not just membership) is oracle-checked. One exchange + a
    // partition-local sort + a constant-memory streaming digest.
    "q349_epoch_shuffle" -> { (s, d) =>
      Corpus.epochShuffle(Tables.documents(s, d), "doc_id",
        epochs = 3, nShards = 4)
    },

    // TOKENIZER ARTIFACT lifecycle (q347, r13): train byte-level BPE,
    // publish the merge table as a catalog-versioned snapshot table,
    // then ENCODE THROUGH THE CATALOG — the stored-artifact serving
    // path (the ivfAdcBuildIndex doctrine for tokenizers: training
    // determinism must survive the parquet round-trip). The oracle is
    // q343's re-train + replay with the version literal appended, so
    // hash equality proves stored-merge encode == direct encode.
    "q347_tokenizer_artifact" -> { (s, d) =>
      val root = Fixtures.fresh(
        s"/tmp/graft_io/${new java.io.File(d).getName}/tokartifact")
      val docs = byteDocs(s, d)
      graft.operators.Layout.snapshotWrite(
        Corpus.byteBpeTrain(docs, "text", merges = 8), s"$root/merges")
      val v = graft.operators.Layout.catalogCommitCurrent(s, s"$root/cat",
        Map("bpe_merges" -> s"$root/merges"))
      val stored = graft.operators.Layout
        .catalogRead(s, s"$root/cat", "bpe_merges", v)
        .orderBy("round")
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      Corpus.byteBpeEncode(docs, "doc_id", "text", stored)
        .withColumn("tokenizer_version", lit(v))
    },

    // End-to-end TRAINING EXPORT (q338, r12 — the round's composition
    // query): quality + language gates → balanced token sharding →
    // the shard-assignment table published through an atomic catalog
    // commit → read back THROUGH the catalog and summarized per shard.
    // The oracle replays gates, global rank, snake, and aggregates —
    // one hash over the whole export pipeline.
    "q338_training_export" -> { (s, d) =>
      val root = Fixtures.fresh(
        s"/tmp/graft_io/${new java.io.File(d).getName}/trainexp")
      val gated = Tables.documents(s, d).filter(
        graft.functions.TextFunctions.qualityScore(col("text")) >= 0.3 &&
          graft.functions.TextFunctions.langId(col("text")) === "en")
      val assignDir = s"$root/assign"
      graft.operators.Layout.snapshotWrite(
        Corpus.tokenShards(gated, "doc_id", "text", nShards = 4), assignDir)
      val v = graft.operators.Layout.catalogCommitCurrent(s, s"$root/cat",
        Map("assign" -> assignDir))
      graft.operators.Layout.catalogRead(s, s"$root/cat", "assign", v)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("token_sum"),
          min("n_tokens").as("min_tokens"), max("n_tokens").as("max_tokens"))
    },

    // INCREMENTAL training export (q344, r13): the production loop —
    // batch 1 shards in full, publishes via the catalog; batch 2 is
    // assigned by tokenShardsIncremental WITHOUT re-ranking batch 1
    // (delta snake over the lightest-first shard permutation from the
    // current totals), appended, and published as catalog v2. Output:
    // per-shard totals read back THROUGH the catalog, the measured
    // incremental spread NEXT TO the full-re-shard spread (the drift
    // evidence), and the catalog version — all under one hash.
    "q344_incremental_export" -> { (s, d) =>
      val root = Fixtures.fresh(
        s"/tmp/graft_io/${new java.io.File(d).getName}/increxp")
      val docs = Tables.documents(s, d)
      val b1 = docs.filter(col("doc_id") % 2 === 0)
      val b2 = docs.filter(col("doc_id") % 2 === 1)
      val assignDir = s"$root/assign"
      graft.operators.Layout.snapshotWrite(
        Corpus.tokenShards(b1, "doc_id", "text", nShards = 8), assignDir)
      val v1 = graft.operators.Layout.catalogCommitCurrent(s, s"$root/cat",
        Map("assign" -> assignDir))
      val inc = Corpus.tokenShardsIncremental(
        graft.operators.Layout.catalogRead(s, s"$root/cat", "assign", v1),
        b2, "doc_id", "text", nShards = 8)
      graft.operators.Layout.snapshotAppend(inc, assignDir)
      val v2 = graft.operators.Layout.catalogCommitCurrent(s, s"$root/cat",
        Map("assign" -> assignDir))
      val merged = graft.operators.Layout.catalogRead(
        s, s"$root/cat", "assign", v2).localCheckpoint()
      def spread(df: org.apache.spark.sql.DataFrame, name: String) =
        broadcast(df.groupBy("shard").agg(sum("n_tokens").as("t"))
          .agg((max("t") - min("t")).as(name)))
      merged.groupBy(col("shard").cast("int").as("shard"))
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("token_sum"))
        .crossJoin(spread(merged, "inc_spread"))
        .crossJoin(spread(
          Corpus.tokenShards(docs, "doc_id", "text", nShards = 8),
          "full_spread"))
        .withColumn("catalog_version", lit(v2))
    },

    // Balanced token sharding (q329, r12): the training-export step —
    // every doc deterministically placed into one of 8 shards with
    // near-equal TOKEN totals via LPT-flavored snake placement over
    // the global (tokens desc, doc_id) rank; the rank is packChunks'
    // two-phase distributed prefix sum, never a single-partition
    // window. The oracle replays rank + snake arithmetic.
    "q329_token_shards" -> { (s, d) =>
      Corpus.tokenShards(Tables.documents(s, d), "doc_id", "text",
        nShards = 8)
    },

    // Cluster topic terms (q178): c-TF-IDF over the q69 clustering —
    // embeddings decide WHO groups (kmeansAssign, replayed by the
    // oracle's af CTE), text explains WHY (top-5 class-TF-IDF terms
    // per cluster, the q104 bounded-aggregator shape).
    "q178_cluster_topics" -> { (s, d) =>
      val clusters = Similarity.kmeansAssign(
        Tables.embeddings(s, d)
          .select(col("vec_id").as("id"), col("embedding")),
        k = 8, iters = 2)
        .select(col("vec_id").as("id"), col("cluster"))
      Corpus.clusterTopTerms(Tables.documents(s, d), clusters,
        "doc_id", "text", k = 5)
    },

    // BPE encoding (q179): apply q176's learned merge table corpus-wide
    // — training's inference twin, one narrow zero-shuffle pass; the
    // oracle re-learns the merges AND re-applies them in SQL.
    "q179_bpe_encode" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val merges = Corpus.bpeTrain(docs, "text", merges = 8)
        .collect().sortBy(_.getInt(0))
        .map(r => (r.getString(1), r.getString(2))).toSeq
      Corpus.bpeEncode(docs, "doc_id", "text", merges)
    },

    // Retrieval-quality nDCG@3 (q187): the ORDER-aware companion to
    // q82's recall — 16-table ANN ranking scored against brute-force
    // graded relevance for a bounded query set. Oracle replays truth,
    // ANN ranking, and the discounted gain arithmetic.
    "q187_ndcg" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), col("embedding"))
      val truth = Similarity.bruteForceTopK(e.filter(col("id") < 50), e, 3)
      val retrieved = Similarity.multiTableAnnTopK(e, 3)
        .filter(col("query_id") < 50)
      Similarity.ndcgAtK(retrieved, truth, 3)
    },

    // DSIR importance scoring (q188): hashed-bigram log-likelihood
    // ratio between the lang='en' target slice and the raw corpus —
    // the published data-selection recipe; top-200 by score.
    "q188_dsir_select" -> { (s, d) =>
      Corpus.dsirScores(Tables.documents(s, d), "doc_id", "text",
        targetFilter = col("lang") === "en", buckets = 1024, k = 200)
    },

    // Training-mix monitor (q183): per-source KL divergence against
    // the corpus token distribution — the drift alarm for a mixture's
    // slices. Counts exact; only the |sources|-row final sum floats.
    "q183_source_divergence" -> { (s, d) =>
      Corpus.sourceDivergence(Tables.documents(s, d), "source", "text")
    },

    // PMI collocations (q184): top-20 adjacent-pair phrases by
    // pointwise mutual information with a support floor — integer-count
    // operands in one fixed operation order, so the doubles (and the
    // top-k boundary) are bit-identical across engines.
    "q184_pmi_bigrams" -> { (s, d) =>
      Corpus.pmiCollocations(Tables.documents(s, d), "text",
        minCount = 5, k = 20)
    },

    // Principal-component projection (q177): gram-pass + driver power
    // iteration + broadcast projection. The oracle replays the full
    // pipeline — covariance from the pair join, all 30 fixed power
    // iterations, the x·v − μ·v projection — as MATERIALIZED CTEs.
    "q177_pca_project" -> { (s, d) =>
      Similarity.pcaProject(Tables.embeddings(s, d), "vec_id", "embedding",
          iterations = 30)
        .select(col("id").as("vec_id"), col("pc1"))
    },

    // PCA whitening (q332, r12): q177's pipeline extended to the top-2
    // eigenpairs via Hotelling deflation, each projection scaled by
    // 1/sqrt(eigenvalue) — the retrieval preprocessing that stops cosine
    // being dominated by the first component. The oracle replays BOTH
    // power chains, the Rayleigh eigenvalues, and the deflation.
    "q332_pca_whiten" -> { (s, d) =>
      Similarity.pcaWhiten(Tables.embeddings(s, d), "vec_id", "embedding",
          k = 2, iterations = 30)
        .select(col("id").as("vec_id"), col("w1"), col("w2"))
    },

    // LSH pair recall (q157): the tuning number for bands/hashes — of
    // all TRUE near-dup pairs (exact all-pairs Jaccard ≥ 0.5, a labeled
    // O(n²) exactness baseline), what fraction did the band join
    // surface? found ⊆ exact by construction, so the ratio IS recall.
    "q157_lsh_pair_recall" -> { (s, d) =>
      Dedup.lshPairRecall(Tables.documents(s, d), "doc_id", "text",
        shingleN = ShingleN, numHashes = NumHashes, bands = Bands,
        threshold = 0.5)
    },

    // Token statistics (whitespace + BPE-ish estimate).
    "q32_token_stats" -> { (s, d) =>
      val toks = TextFunctions.tokens(col("text"))
      Tables.documents(s, d)
        .filter(TextFunctions.tokenCount(col("text")) > 0)
        .select(col("doc_id"),
          size(toks).as("n_tokens"),
          size(array_distinct(toks)).as("n_uniq"),
          round(aggregate(toks, lit(0), (a, t) => a + length(t)).cast("double") /
            size(toks), 4).as("avg_tok_len"),
          ceil(length(col("text")) / 4.0).cast("int").as("bpe_est"))
    },

    // Document fingerprints: whole-doc md5 + min-sampled 8-gram sketch.
    "q33_fingerprint" -> { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fp"),
        TextFunctions.minShingleFingerprint(col("text")).as("min_fp"))
    },

    // SimHash buckets with >1 member = near-dup clusters.
    "q34_simhash" -> { (s, d) =>
      Dedup.simhashBuckets(Tables.documents(s, d), "doc_id", "text")
    },

    // Exact n-gram Jaccard pairs (shingle-share equi-join, no LSH).
    // maxDf=10 drops corpus-common (non-discriminative) shingles before
    // the self-join: 2.8× fewer overlap rows at sf0.1 with an IDENTICAL
    // pair set (measured: 256 pairs with and without the cap), and the
    // bound is what keeps a reducer alive at 100× (output ≤ df² per
    // shingle). The oracle applies the same cap — Jaccard is defined
    // over the capped shingle sets in both engines.
    "q35_ngram_jaccard" -> { (s, d) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
        shingleN = ShingleN, threshold = 0.3, maxDf = MaxShingleDf)
    },

    // Brute-force cosine top-3 for a bounded query set (exact baseline).
    "q36_cosine_topk" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), col("embedding"))
      Similarity.bruteForceTopK(e.filter(col("id") < 50), e, 3)
    },

    // LSH-bucketed approximate top-3 (the scale path).
    "q37_ann_bucket" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), col("embedding"))
      Similarity.bucketedAnnTopK(e, 3, bits = 4)
    },

    // Embedding-cosine near-dup pairs: the dedup-family member of the
    // similarity stack (sign-bucket candidates + cosine threshold).
    "q63_embed_neardup" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), col("embedding"))
      Similarity.embeddingNearDupPairs(e, threshold = 0.4, bits = 4)
    },

    // IVF-style ANN: deterministic coarse quantizer (lowest-id vectors as
    // centroids), broadcast assignment, cell-equi-join probe.
    "q64_ivf_ann" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), col("embedding"))
      Similarity.ivfTopK(e, 3, nCells = 8)
    },

    // Near-dup CLUSTERS: connected components (iterative min-label
    // propagation) over the LSH pair graph — pair list → per-doc
    // canonical-keeper assignment, the step before rows can be dropped.
    "q66_dedup_clusters" -> { (s, d) =>
      Dedup.connectedComponents(
        Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id", "text",
          shingleN = ShingleN, numHashes = NumHashes, bands = Bands,
          threshold = 0.5))
    },

    // Gopher-style repetition signals: fraction of occurrences covered
    // by the most frequent token / bigram, distinct-token fraction.
    // Narrow per-row expressions — zero shuffle.
    "q67_repetition" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), col("toks"),
          TextFunctions.bigramsFromTokens(col("toks")).as("bgs"))
        .select(col("doc_id"),
          round(TextFunctions.topOccurrenceCount(col("toks")).cast("double") /
            size(col("toks")), 4).as("top_tok_frac"),
          round(TextFunctions.topOccurrenceCount(col("bgs")).cast("double") /
            size(col("bgs")), 4).as("top_bigram_frac"),
          round(size(array_distinct(col("toks"))).cast("double") /
            size(col("toks")), 4).as("uniq_frac"))
    },

    // TF-IDF top-3 terms per document (corpus-weighted keywording).
    "q68_tfidf" -> { (s, d) =>
      Corpus.tfidfTopK(Tables.documents(s, d), "doc_id", "text", 3)
    },

    // Lloyd k-means over embeddings (SemDeDup-style semantic clustering):
    // deterministic seeds (lowest ids), 2 iterations, final assignment.
    "q69_kmeans" -> { (s, d) =>
      Similarity.kmeansAssign(
        Tables.embeddings(s, d)
          .select(col("vec_id").as("id"), col("embedding")),
        k = 8, iters = 2)
    },

    // Binary (1-bit) quantization — codes posexploded to scalar rows
    // (q90's shape); 32-bit blocks keep the values engine-portable.
    "q111_binary_quantize" -> { (s, d) =>
      Similarity.binaryQuantize(Tables.embeddings(s, d)
          .select(col("vec_id").as("id"), col("embedding")))
        .select(col("id").as("vec_id"),
          posexplode(col("codes")).as(Seq("block", "code")))
    },

    // Exact Hamming top-3 in the binary code space: integer distances,
    // full hash oracle with NO rounding contract anywhere.
    "q112_hamming_topk" -> { (s, d) =>
      Similarity.hammingTopK(Tables.embeddings(s, d)
          .select(col("vec_id").as("id"), col("embedding")), 3)
        .select(col("query_id"), col("neighbor_id"), col("hamming"),
          col("rank").cast("int").as("rank"))
    },

    // Candidate-gated binary search — the COMPOSED production shape for
    // the 1-bit rung (multi-table ANN candidates → native-Hamming
    // shortlist → exact cosine re-rank, pqRerankTopK's funnel); the
    // oracle replays all three stages, so the candidate join, the
    // integer Hamming pruning, and the re-rank are each under hash test.
    "q113_binary_prefilter" -> { (s, d) =>
      Similarity.binaryPrefilterTopK(Tables.embeddings(s, d)
          .select(col("vec_id").as("id"), col("embedding")),
        3, shortlist = 64)
        .select(col("query_id"), col("neighbor_id"), col("cos"),
          col("rank").cast("int").as("rank"))
    },

    // SemDeDup: deterministic k-means clusters + within-cluster cosine
    // pruning — the larger id of every >= 0.4 pair is flagged removed.
    // One row per vector, full hash oracle (the SQL replays the
    // clustering via the shared kmeans CTE chain).
    "q108_semdedup" -> { (s, d) =>
      Similarity.semDedup(
        Tables.embeddings(s, d)
          .select(col("vec_id").as("id"), col("embedding")),
        k = 8, iters = 2, threshold = 0.4)
    },

    // SemDeDup with PRODUCTION seeding: deterministic k-means‖-style
    // seeds (md5-hash sample → farthest-point refine) instead of the
    // lowest-id rule — SemDeDup quality at scale is seed-sensitive, and
    // the oracle replays the ENTIRE seeding (sample, k-1 refine steps)
    // plus Lloyd plus the dedup pass in generated SQL.
    "q114_semdedup_sampled" -> { (s, d) =>
      Similarity.semDedup(
        Tables.embeddings(s, d)
          .select(col("vec_id").as("id"), col("embedding")),
        k = 8, iters = 2, threshold = 0.4, sampledSeeding = true)
    },

    // Hashing-trick linear quality scorer (fastText-shaped): md5-derived
    // per-token weights, mean + bias, token-order IEEE fold — one
    // narrow pass, full hash oracle.
    "q109_hashed_linear" -> { (s, d) =>
      Corpus.hashedLinearScore(Tables.documents(s, d), "doc_id", "text",
        bias = 0.1)
    },

    // PII/URL scrubbing: the fixture corpus carries no URLs/emails, so
    // the query PLANTS one of each (derived from doc_id) before
    // scrubbing — both engines construct identical text, making the
    // redaction + count a real cross-engine regex-parity check.
    "q71_scrub" -> { (s, d) =>
      val injected = Tables.documents(s, d).select(col("doc_id"),
        concat_ws(" ", col("text"),
          concat(lit("see http://example.com/doc/"),
            col("doc_id").cast("string"), lit("?ref=a")),
          concat(lit("mail user"), col("doc_id").cast("string"),
            lit("@example.org"))).as("text"))
      injected.select(col("doc_id"),
        regexp_count(col("text"), lit(TextFunctions.UrlRe))
          .cast("int").as("n_urls"),
        regexp_count(col("text"), lit(TextFunctions.EmailRe))
          .cast("int").as("n_emails"),
        md5(TextFunctions.redact(col("text"))).as("redacted_md5"))
    },

    // Multi-probe ANN: each query probes its bucket + all Hamming-1
    // buckets — the recall fix over q37's single probe.
    "q72_ann_multiprobe" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), col("embedding"))
      Similarity.multiProbeAnnTopK(e, 3, bits = 4)
    },

    // Deterministic hash sampling, stratified by language: md5(id)-mod
    // gate, no RNG — reproducible across runs/engines/partitionings.
    "q73_hash_sample" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          TextFunctions.langId(col("text")).as("lang"))
      docs.filter(graft.operators.Corpus.hashSampleFilter(col("doc_id"),
          when(col("lang") === "en", lit(30)).otherwise(lit(80))))
        .select("doc_id", "lang", "n_chars")
    },

    // Unicode NFC normalization (native codegen expression): the ASCII
    // fixture gets a PLANTED decomposed sequence ("cafe" + combining
    // acute U+0301) appended, so composition is observable — char count
    // drops by one and the md5 changes — and both engines must compose
    // identically per the Unicode standard.
    "q76_nfc_normalize" -> { (s, d) =>
      graft.plans.NativeFunctions.register(s)
      Tables.documents(s, d)
        .select(col("doc_id"),
          concat(col("text"), lit(" café")).as("raw"))
        .select(col("doc_id"),
          length(col("raw")).cast("int").as("n_raw"),
          length(call_function("nfc_native", col("raw"))).cast("int").as("n_nfc"),
          md5(call_function("nfc_native", col("raw"))).as("nfc_md5"))
    },

    // Accent stripping (q315): nfc_native's sibling — NFD, drop
    // combining marks, NFC recompose, matching DuckDB strip_accents
    // exactly; the plant mixes COMPOSED accents and a DECOMPOSED
    // e+U+0301 so both normalization directions are exercised.
    "q315_strip_accents" -> { (s, d) =>
      graft.plans.NativeFunctions.register(s)
      Tables.documents(s, d)
        .select(col("doc_id"),
          concat(col("text"),
            lit(" Ëxàmplé ñoño " +
              "çédille café")).as("raw"))
        .select(col("doc_id"),
          length(col("raw")).cast("int").as("n_raw"),
          length(call_function("strip_accents_native", col("raw")))
            .cast("int").as("n_plain"),
          md5(call_function("strip_accents_native", col("raw")))
            .as("plain_md5"))
    },

    // Sentence segmentation (q316): the fixture text carries no
    // punctuation, so the query PLANTS sentence boundaries (every
    // ' data ' becomes '. ') and then splits on terminal-punctuation
    // runs — one row per non-empty sentence, position-based ids, no
    // shuffle anywhere.
    "q316_split_sentences" -> { (s, d) =>
      val planted = Tables.documents(s, d).select(col("doc_id"),
        regexp_replace(col("text"), " data ", ". ").as("text"))
      Corpus.splitSentences(planted, "doc_id", "text")
    },

    // Language-ID heuristic (marker-word scores, stable priority).
    "q38_langid" -> { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextFunctions.langId(col("text")).as("lang_guess"))
    },

    // Quality score in [0,1].
    "q39_quality_score" -> { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality"))
    },

    // The capstone: full curation pass (quality gate → lang filter →
    // exact dedup → LSH near-dup removal), oracle-checked end to end.
    "q70_curation" -> { (s, d) =>
      graft.operators.Curation
        .curate(Tables.documents(s, d), "doc_id", "text",
          minQuality = 0.3, langs = Seq("en"), nearDupThreshold = 0.5)
        .select("doc_id", "n_chars")
    },

    // Benchmark decontamination: every 50th document stands in for the
    // eval set; docs sharing any word 5-gram with it are flagged (the
    // eval docs flag themselves; planted near-dups of them flag too).
    // Broadcast shingle set + one narrow corpus pass — no corpus join.
    "q81_decontaminate" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.operators.Corpus.decontaminate(
        docs, "doc_id", "text",
        bench = docs.filter(col("doc_id") % 50 === 0), benchTextCol = "text",
        shingleN = 5)
    },

    // Bloom-gated decontamination: same exact semantics as q81, but the
    // bench set stays distributed and only its bloom sketch ships into
    // the scan; fpp=0.2 deliberately forces false positives at this SF
    // so the exact-confirm join is provably load-bearing (the oracle is
    // the exact-join SQL — FPs must not survive).
    "q124_bloom_decontaminate" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.operators.Corpus.bloomDecontaminate(
        docs, "doc_id", "text",
        bench = docs.filter(col("doc_id") % 37 === 0), benchTextCol = "text",
        shingleN = 5, fpp = 0.2)
    },

    // MEASURED ANN recall ("measure, don't guess"): top-3 recall of the
    // single-probe and multi-probe LSH variants against the exact
    // brute-force baseline, as one oracle-checked number per method —
    // the documented single-probe recall caveat and the multi-probe fix
    // become quantified, cross-engine-verified facts.
    "q82_ann_recall" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), col("embedding"))
      val exact = Similarity.bruteForceTopK(e, e, 3)
        .select("query_id", "neighbor_id").localCheckpoint()
      val nExact = exact.agg(count(lit(1)).as("n_exact"))
      def row(ann: DataFrame, method: String): DataFrame =
        ann.select("query_id", "neighbor_id")
          .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("n_hit"))
          .crossJoin(nExact)
          .select(lit(method).as("method"), col("n_exact"), col("n_hit"),
            round(col("n_hit").cast("double") / col("n_exact"), 4).as("recall"))
      row(Similarity.bucketedAnnTopK(e, 3, bits = 4), "bucket")
        .unionByName(row(Similarity.multiProbeAnnTopK(e, 3, bits = 4), "multiprobe"))
        .unionByName(row(Similarity.multiTableAnnTopK(e, 3, bits = 4,
          tables = 16), "multitable"))
        .unionByName(row(Similarity.pqAdcTopK(e, 3), "pq_adc"))
        .unionByName(row(Similarity.pqRerankTopK(e, 3, shortlist = 160),
          "pq_rerank"))
        // the binary funnel's shortlist priced at three points (the
        // recall-vs-cost knob users buy with)
        .unionByName(row(Similarity.binaryPrefilterTopK(e, 3, shortlist = 64),
          "binary_prefilter_64"))
        .unionByName(row(Similarity.binaryPrefilterTopK(e, 3, shortlist = 160),
          "binary_prefilter"))
        .unionByName(row(Similarity.binaryPrefilterTopK(e, 3, shortlist = 320),
          "binary_prefilter_320"))
        // r8: the measured defaults (BASELINE.md, Round-8 ANN recall
        // curves) — the old nProbe=4/8 shortlist=64 point read 0.64 recall
        .unionByName(row(Similarity.ivfAdcRerankTopK(e, 3, nCells = 16,
          nProbe = 12, shortlist = 256), "ivf_adc_rerank"))
        // r11: the full recall-vs-cost CURVE for the IVF funnel — the
        // retired r7 default (4/64), two mid points, and the shipped
        // default above, each an oracle-checked row so the nProbe/
        // shortlist price list is a cross-engine-verified fact
        .unionByName(row(Similarity.ivfAdcRerankTopK(e, 3, nCells = 16,
          nProbe = 4, shortlist = 64), "ivf_adc_p4_s64"))
        .unionByName(row(Similarity.ivfAdcRerankTopK(e, 3, nCells = 16,
          nProbe = 6, shortlist = 128), "ivf_adc_p6_s128"))
        .unionByName(row(Similarity.ivfAdcRerankTopK(e, 3, nCells = 16,
          nProbe = 8, shortlist = 256), "ivf_adc_p8_s256"))
    },

    // Matryoshka truncation recall (q317): "measure, don't guess" for
    // the DIMENSION knob — top-3 recall of prefix-truncated embeddings
    // (8/16/32 of 64 dims) against the full-dim exact truth, the MRL
    // deployment question (how many dims can retrieval drop). Same
    // brute-force/semi-join harness as q82.
    "q317_matryoshka_recall" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), col("embedding"))
      val exact = Similarity.bruteForceTopK(e, e, 3)
        .select("query_id", "neighbor_id").localCheckpoint()
      val nExact = exact.agg(count(lit(1)).as("n_exact"))
      def row(dim: Int): DataFrame = {
        val t = e.select(col("id"),
          slice(col("embedding"), 1, dim).as("embedding"))
        Similarity.bruteForceTopK(t, t, 3)
          .select("query_id", "neighbor_id")
          .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("n_hit"))
          .crossJoin(nExact)
          .select(lit(dim).as("dim"), col("n_exact"), col("n_hit"),
            round(col("n_hit").cast("double") / col("n_exact"), 4)
              .as("recall"))
      }
      row(8).unionByName(row(16)).unionByName(row(32))
    },

    // Exact substring dedup (q235): remove-repeated-passages — every
    // token position covered by a 20-gram occurring >= 2 times anywhere
    // in the corpus is cut (the suffix-array pass, Spark-shaped as
    // rolling gram keys + ONE count aggregation). A 23-token boilerplate
    // planted on doc_id % 5 guarantees cross-doc repeats; the oracle
    // replays grams, the duplicate set, coverage, and the reassembled
    // survivor strings.
    "q235_substring_dedup" -> { (s, d) =>
      val planted = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0, lit(" " + Boilerplate))
            .otherwise(lit(""))).as("text"))
      graft.operators.Dedup.substringDedup(planted, "doc_id", "text", w = 20)
    },

    // Deterministic hash split (q233): md5-bucket train/val/test
    // membership as a pure function of the id — stable across runs,
    // engines, partitionings, and corpus growth (randomSplit is none
    // of those). Narrow, zero shuffle.
    "q233_hash_split" -> { (s, d) =>
      graft.operators.Corpus.hashSplit(
        Tables.documents(s, d).select("doc_id"), "doc_id",
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
    },

    // Winnowing fingerprints (q255): the MOSS partial-overlap sketch —
    // k-gram hashes, sliding window of w, each window's MIN selected;
    // shared substrings of length >= k+w-1 guarantee a shared
    // fingerprint. The oracle replays gram hashing, the sliding min,
    // the full-window gate, and the distinct-set digest per document.
    "q255_winnowing" -> { (s, d) =>
      graft.operators.Dedup.winnowingFingerprints(
        Tables.documents(s, d), "doc_id", "text")
    },

    // Winnowing overlap pairs (q256): the detection join over q255's
    // sketch — docs i and i+n/2 get a PLANTED shared passage (unique
    // per pair), the df cap drops corpus-wide boilerplate hashes, and
    // pairs sharing >= 2 fingerprints surface. The oracle replays the
    // whole chain (gram hash, sliding min, df cap, capped self-join).
    "q256_winnow_overlap" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val n = docs.agg(count(lit(1)).cast("long").as("n"))
      val planted = docs.crossJoin(broadcast(n))
        .select(col("doc_id"),
          concat(col("text"), lit(" shared passage marker "),
            pmod(col("doc_id"), floor(col("n") / 2)).cast("string"),
            lit(" lorem ipsum dolor sit amet consectetur adipiscing elit"))
            .as("text"))
      graft.operators.Dedup.winnowingOverlap(planted, "doc_id", "text")
    },

    // Naive Bayes classifier (q257): the fastText-style domain/quality
    // classifier trained IN-ENGINE — hashed token features (md5 mod
    // 4096), Laplace smoothing, one training pass of aggregations, one
    // scoring join. The oracle replays tokenization, bucketing, the
    // model counts, and the full smoothed score arithmetic per
    // (doc, class) — the ln(cnt+1)−ln(total+B) decomposition that
    // makes unseen buckets exact through the join is what's under the
    // hash.
    "q257_naive_bayes" -> { (s, d) =>
      graft.operators.Corpus.naiveBayesScores(
        Tables.documents(s, d), "doc_id", "text", "source")
    },

    // DSIR importance weights (q276): data selection with importance
    // resampling (Xie et al. 2023) — every document scored by how much
    // likelier its hashed bag-of-tokens is under the TARGET-domain
    // unigram model (the 'de' slice) than under the raw-corpus model,
    // add-one smoothing over 8192 hashed features. The oracle replays
    // tokenization, md5 bucketing, both count tables, and the full
    // ln-ratio sum per document — the whole selection signal is under
    // the hash (the Gumbel-top-k cut on top is pinned in
    // CurationOpsSpec, where float-boundary ties can't flake the
    // round-trip).
    "q276_dsir_weights" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.operators.Corpus.dsirWeights(
        docs, docs.filter(col("lang") === "de"), "doc_id", "text",
        buckets = 8192)
        .select(col("doc_id"), (round(col("logw"), 6) + 0.0).as("logw"))
    },

    // Streaming classifier scoring (q258): the online-moderation
    // deployment split — the model trains ONCE in batch (q257's
    // machinery), then a document stream scores against the pinned
    // (model, classStats) pair one micro-batch at a time. The oracle
    // is q257's score matrix verbatim, so stream/batch parity (and
    // the label-blind score path) is under the hash.
    "q258_stream_classify" -> { (s, d) =>
      import org.apache.spark.sql.streaming.Trigger
      val base = Fixtures.fresh(s"/tmp/graft_stream/${new java.io.File(d).getName}_nbclassify")
      val docs = Tables.documents(s, d).select("doc_id", "text", "source")
      val (model, cs) = graft.operators.Corpus.naiveBayesModel(
        docs, "doc_id", "text", "source")
      val m = model.localCheckpoint()
      val c = cs.localCheckpoint()
      docs.write.mode("overwrite").parquet(s"$base/in")
      val q = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          graft.operators.Corpus.naiveBayesScoreWith(
            batch, "doc_id", "text", m, c)
            .write.mode("append").parquet(s"$base/out")
          ()
        }
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(s"$base/out")
    },

    // Winnowing fuzzy dedup (q259): the MOSS sketch driving a DEDUP
    // decision — q256's planted-overlap pairs at minShared >= 4 feed
    // transitive closure, every doc gets a cluster id (singletons keep
    // their own), min-id keeper per cluster. The oracle replays the
    // whole chain including the recursive closure.
    "q259_winnow_dedup" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val n = docs.agg(count(lit(1)).cast("long").as("n"))
      val planted = docs.crossJoin(broadcast(n))
        .select(col("doc_id"),
          concat(col("text"), lit(" shared passage marker "),
            pmod(col("doc_id"), floor(col("n") / 2)).cast("string"),
            lit(" lorem ipsum dolor sit amet consectetur adipiscing elit"))
            .as("text"))
      val pairs = graft.operators.Dedup.winnowingOverlap(
        planted, "doc_id", "text", minShared = 4)
      val cc = graft.operators.Dedup.connectedComponents(
        pairs, "id_a", "id_b")
      docs.select(col("doc_id"))
        .join(cc.withColumnRenamed("doc_id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
        .withColumn("is_keeper",
          (col("doc_id") === col("cluster_id")).cast("int"))
    },

    // Fill-in-the-middle (q248): deterministic two-cut split +
    // sentinel re-serialization, PSM/SPM mixed 50/50 by hash. The
    // oracle replays the md5 cut arithmetic and both orderings
    // character for character — substring boundaries, part
    // non-emptiness, and the mode gate are all under the hash.
    "q248_fim_transform" -> { (s, d) =>
      graft.operators.Corpus.fimTransform(
        Tables.documents(s, d), "doc_id", "text")
    },

    // Near-dup-leakage-aware split (q234): whole LSH+CC clusters land
    // on ONE side (a per-doc split lets a train doc's near-duplicate
    // leak into test). The oracle replays the full q66 cluster chain,
    // the singleton coalesce, and the md5 gate on the CLUSTER id.
    "q234_cluster_split" -> { (s, d) =>
      graft.operators.Corpus.clusterSplit(Tables.documents(s, d),
        "doc_id", "text",
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)),
        shingleN = ShingleN, numHashes = NumHashes, bands = Bands,
        threshold = 0.5)
    },

    // T5-style span corruption (q232): deterministic per-position noise
    // mask (the mixture-gate md5 arithmetic) → maximal noise runs
    // collapse to <extra_id_k> sentinels in the input, target carries
    // the sentinel-prefixed run contents — the denoising-objective
    // training-pair prep, digest-hashed. One narrow pass; the oracle
    // replays mask, run segmentation, sentinel numbering, and both
    // reassembled strings per document.
    "q232_span_corruption" -> { (s, d) =>
      graft.operators.Corpus.spanCorrupt(Tables.documents(s, d),
        "doc_id", "text", noisePct = 15)
    },

    // Context-window chunking: 64-token windows with 8-token overlap,
    // per-chunk token count + digest — deterministic boundaries both
    // engines must reproduce (the pretraining-packing / RAG prep step).
    "q83_chunking" -> { (s, d) =>
      graft.operators.Corpus.chunk(Tables.documents(s, d), "doc_id", "text",
        chunkTokens = 64, overlapTokens = 8)
    },

    // Exact heavy hitters (Misra-Gries candidates → gated exact
    // recount): tokens holding > 1/30 of the corpus token stream.
    "q89_heavy_hitters" -> { (s, d) =>
      graft.operators.Corpus.heavyHitters(Tables.documents(s, d), "text", k = 30)
    },

    // CMS-gated heavy hitters (q141): q89's absolute-threshold sibling
    // over the OPEN key space — 3-gram occurrences (~16k distinct here;
    // unbounded on a real crawl), where Misra-Gries would need N/minCount
    // counters. A fixed-size count-min sketch (overestimates only — no
    // false negatives) gates the exchange to near-threshold terms; the
    // exact recount kills the FP fringe, so the output needs no error
    // bound and the oracle is plain GROUP BY / HAVING.
    "q141_cms_heavy_hitters" -> { (s, d) =>
      graft.operators.Corpus.cmsHeavyHitters(Tables.documents(s, d), "text",
        minCount = 5, shingleN = 3)
    },

    // int8 scalar quantization of the embedding column — codes must be
    // bit-identical across engines (pure IEEE double ops + one shared
    // rounding rule). Codes are posexploded to (vec_id, dim, code)
    // scalar rows (q92's shape) so the harness can sort/hash them —
    // array-typed result columns are unhashable driver-side.
    "q90_int8_quantize" -> { (s, d) =>
      Similarity.quantizeInt8(Tables.embeddings(s, d)
          .select(col("vec_id").as("id"), col("embedding")))
        .select(col("id").as("vec_id"), col("scale"),
          posexplode(col("codes")).as(Seq("dim", "code")))
    },

    // Top-3 cosine neighbors scored entirely in the quantized int8 space
    // (scales cancel; integer dots are exact in doubles).
    "q91_int8_topk" -> { (s, d) =>
      Similarity.int8TopK(Tables.embeddings(s, d)
          .select(col("vec_id").as("id"), col("embedding")), 3)
        .select(col("query_id"), col("neighbor_id"), col("cos").as("qcos"))
    },

    // Candidate-gated int8 search — the int8 rung's composed production
    // shape (q113's funnel with int8-cosine scoring): multi-table ANN
    // candidates, scored entirely in the quantized space. The oracle
    // replays candidates + quantization + scoring.
    "q117_int8_prefilter" -> { (s, d) =>
      Similarity.int8PrefilterTopK(Tables.embeddings(s, d)
          .select(col("vec_id").as("id"), col("embedding")), 3)
        .select(col("query_id"), col("neighbor_id"), col("cos").as("qcos"),
          col("rank").cast("int").as("rank"))
    },

    // PQ encoding: deterministic per-subspace Lloyd codebooks (m=8
    // subspaces over 64 dims, ksub=16, 1 iteration), every vector → 8
    // codes. The oracle replays the ENTIRE training (seeds → assign →
    // mean update → re-assign) in generated SQL, q69-style.
    "q92_pq_encode" -> { (s, d) =>
      Similarity.pqEncode(Tables.embeddings(s, d)
          .select(col("vec_id").as("id"), col("embedding")))
        .select(col("id").as("vec_id"), col("subspace"), col("code"))
    },

    // Asymmetric-distance (ADC) top-3 over the PQ codes: exact query
    // sub-vectors against code-represented corpus vectors.
    "q93_pq_adc_topk" -> { (s, d) =>
      Similarity.pqAdcTopK(Tables.embeddings(s, d)
          .select(col("vec_id").as("id"), col("embedding")), 3)
        .select(col("query_id"), col("neighbor_id"), col("adist"), col("rank"))
    },

    // IVF-ADC with exact re-rank — the FAISS IVFADC composition: coarse
    // cells bound WHO is compared, PQ codes bound what each comparison
    // costs, floats touched only for the shortlist re-rank. The oracle
    // replays the full funnel: cells + codebook training + gated ADC +
    // re-rank, stage by stage.
    "q128_ivf_adc_rerank" -> { (s, d) =>
      Similarity.ivfAdcRerankTopK(Tables.embeddings(s, d)
          .select(col("vec_id").as("id"), col("embedding")), 3,
          nCells = 8, nProbe = 2, shortlist = 16)
        .select(col("query_id"), col("neighbor_id"), col("cos"),
          col("rank").cast("int").as("rank"))
    },

    // Persisted IVF-ADC serving index (q323): BUILD the index as
    // snapshot tables (centroids / codebooks / codes / meta), then
    // SEARCH through the stored artifacts with zero training work —
    // same knobs as q128, and the oracle IS q128's funnel replay:
    // hash equality proves the stored-index path reproduces the
    // direct composition exactly (training determinism contracts
    // survive the parquet round-trip).
    "q323_ivf_index_search" -> { (s, d) =>
      val idx = Fixtures.fresh(
        s"/tmp/graft_io/${new java.io.File(d).getName}/ivfindex")
      val e = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), col("embedding"))
      Similarity.ivfAdcBuildIndex(e, idx, nCells = 8)
      Similarity.ivfAdcSearchWith(e, idx, 3, nProbe = 2, shortlist = 16)
        .select(col("query_id"), col("neighbor_id"), col("cos"),
          col("rank").cast("int").as("rank"))
    },

    // FILTERED ANN search (q340, r13): production retrieval filters by
    // metadata (lang/date/license) DURING search. The index stores the
    // filterable attr in the codes table (with min/max stats — the
    // predicate prunes code files and pushes into the parquet scan),
    // and the search applies it as a PRE-filter before the ADC join,
    // so the whole shortlist budget lands on eligible neighbors. The
    // oracle replays the funnel with the same candidate restriction.
    "q340_filtered_ann" -> { (s, d) =>
      val idx = Fixtures.fresh(
        s"/tmp/graft_io/${new java.io.File(d).getName}/ivfindex_f")
      val e = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), col("embedding"), col("label"))
      Similarity.ivfAdcBuildIndex(e, idx, nCells = 8,
        attrCols = Seq("label"))
      Similarity.ivfAdcSearchWith(e, idx, 3, nProbe = 2, shortlist = 16,
        neighborFilter = Some(col("label") === 5))
        .select(col("query_id"), col("neighbor_id"), col("cos"),
          col("rank").cast("int").as("rank"))
    },

    // MEASURED pre- vs post-filter recall (q341): against the exact
    // filtered brute-force truth at the ~10%-selective label
    // predicate. Post-filter runs the UNFILTERED funnel top-3 and
    // drops ineligible neighbors after — most of its budget is wasted
    // on a selective predicate; the recall gap is the argument for the
    // pre-filter path (measure, don't guess — the q82 doctrine).
    "q341_filtered_ann_recall" -> { (s, d) =>
      val idx = Fixtures.fresh(
        s"/tmp/graft_io/${new java.io.File(d).getName}/ivfindex_r")
      val e = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), col("embedding"), col("label"))
      Similarity.ivfAdcBuildIndex(e, idx, nCells = 8,
        attrCols = Seq("label"))
      val truth = Similarity.bruteForceTopK(
        e.select("id", "embedding"),
        e.filter(col("label") === 5).select("id", "embedding"), 3)
        .select("query_id", "neighbor_id").localCheckpoint()
      val nExact = truth.agg(count(lit(1)).as("n_exact"))
      val pre = Similarity.ivfAdcSearchWith(e, idx, 3,
        nProbe = 2, shortlist = 16,
        neighborFilter = Some(col("label") === 5))
        .select("query_id", "neighbor_id")
      val post = Similarity.ivfAdcSearchWith(e, idx, 3,
        nProbe = 2, shortlist = 16)
        .join(e.select(col("id").as("neighbor_id"), col("label")),
          "neighbor_id")
        .filter(col("label") === 5)
        .select("query_id", "neighbor_id")
      def row(ann: DataFrame, method: String): DataFrame =
        ann.join(truth, Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("n_hit"))
          .crossJoin(nExact)
          .select(lit(method).as("method"), col("n_exact"), col("n_hit"),
            round(col("n_hit") * lit(1.0) / col("n_exact"), 4).as("recall"))
      row(pre, "prefilter").unionByName(row(post, "postfilter"))
    },

    // IVF INDEX OPTIMIZE (q354, r14 — the r13 verdict's maintenance
    // gap): build on HALF the corpus, append the rest in two delta
    // batches against the frozen quantizers (fragment-heavy codes,
    // stale training), then OPTIMIZE — retrain on the current corpus,
    // republish as new snapshots, compact the codes clustered by
    // cell. The oracle is q128's direct full-corpus funnel replay:
    // hash equality proves optimize == build-from-scratch (and the
    // pre-optimize snapshots still serve time travel).
    "q354_ivf_index_optimize" -> { (s, d) =>
      val idx = Fixtures.fresh(
        s"/tmp/graft_io/${new java.io.File(d).getName}/ivfindex_o")
      val e = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), col("embedding"))
      Similarity.ivfAdcBuildIndex(e.filter(col("id") < 250), idx, nCells = 8)
      Similarity.ivfAdcIndexAppend(
        e.filter(col("id") >= 250 && col("id") < 375), idx)
      Similarity.ivfAdcIndexAppend(e.filter(col("id") >= 375), idx)
      Similarity.ivfAdcIndexOptimize(e, idx)
      Similarity.ivfAdcSearchWith(e, idx, 3, nProbe = 2, shortlist = 16)
        .select(col("query_id"), col("neighbor_id"), col("cos"),
          col("rank").cast("int").as("rank"))
    },

    // MEASURED recall drift + recovery (q355 — the q82 doctrine
    // applied to index maintenance): the drifted fixture doubles the
    // corpus with NEGATED twins (even ids = originals, odd ids =
    // negations — a second mode the base-trained quantizers never
    // saw). FROZEN = build on the originals + append the drifted
    // batch; OPTIMIZED = after ivfAdcIndexOptimize retrains on the
    // full corpus (seed rule now picks 4 original + 4 drifted
    // centroids — coverage of both modes). Both searches scored
    // against the exact brute-force truth; the oracle replays BOTH
    // funnels (split training/encode chains) and both recall rows.
    "q355_ivf_drift_recall" -> { (s, d) =>
      val idx = Fixtures.fresh(
        s"/tmp/graft_io/${new java.io.File(d).getName}/ivfindex_d")
      val e = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), col("embedding"))
      val base = e.select((col("id") * 2).as("id"), col("embedding"))
      val drift = e.select((col("id") * 2 + 1).as("id"),
        transform(col("embedding"), x => -x).as("embedding"))
      val full = base.unionByName(drift)
      Similarity.ivfAdcBuildIndex(base, idx, nCells = 8)
      Similarity.ivfAdcIndexAppend(drift, idx)
      val truth = Similarity.bruteForceTopK(full, full, 3)
        .select("query_id", "neighbor_id").localCheckpoint()
      val nExact = truth.agg(count(lit(1)).as("n_exact"))
      val frozen = Similarity.ivfAdcSearchWith(full, idx, 3,
        nProbe = 2, shortlist = 16)
        .select("query_id", "neighbor_id").localCheckpoint()
      Similarity.ivfAdcIndexOptimize(full, idx)
      val optimized = Similarity.ivfAdcSearchWith(full, idx, 3,
        nProbe = 2, shortlist = 16)
        .select("query_id", "neighbor_id")
      def row(ann: DataFrame, method: String): DataFrame =
        ann.join(truth, Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("n_hit"))
          .crossJoin(nExact)
          .select(lit(method).as("method"), col("n_exact"), col("n_hit"),
            round(col("n_hit") * lit(1.0) / col("n_exact"), 4).as("recall"))
      row(frozen, "frozen").unionByName(row(optimized, "optimized"))
    },

    // q68 recomputed through the bounded-buffer typed Aggregator (the
    // skew-safe top-k-per-group shape: <= k rows per group survive the
    // map side, no full window sort) — same oracle as q68 proves the
    // two implementations identical.
    "q104_topk_agg" -> { (s, d) =>
      graft.operators.Corpus.tfidfTopKAgg(Tables.documents(s, d),
        "doc_id", "text", k = 3)
    },

    // Exact duplicate-span detection: non-first occurrences of repeated
    // 5-token shingles merged into maximal removable spans.
    "q102_dup_spans" -> { (s, d) =>
      graft.operators.Corpus.duplicateSpans(Tables.documents(s, d),
        "doc_id", "text", shingleN = 5)
    },

    // ... and the removal consumer: cleaned-document digests after
    // dropping every duplicated span.
    "q103_span_removal" -> { (s, d) =>
      graft.operators.Corpus.removeDuplicateSpans(Tables.documents(s, d),
        "doc_id", "text", shingleN = 5)
    },

    // Training-mix rebalance: downsample per-language strata to a
    // 50/15/15/10/10 target mixture with the deterministic md5 gate.
    "q97_mixture_sample" -> { (s, d) =>
      graft.operators.Corpus.mixtureSample(Tables.documents(s, d),
        "doc_id", "lang", MixWeights)
        .select(col("doc_id"), col("lang"))
    },

    // Sequence packing: q83's chunks laid into 256-token context
    // windows by global (doc_id, chunk_idx) order — distributed prefix
    // sum, no single-partition window.
    "q96_pack_chunks" -> { (s, d) =>
      graft.operators.Corpus.packChunks(
        graft.operators.Corpus.chunk(Tables.documents(s, d), "doc_id", "text",
          chunkTokens = 64, overlapTokens = 8),
        window = 256)
    },

    // BM25 ranked retrieval (lexical-search twin of the similarity
    // family): top-10 docs for a 3-term query, Okapi k1=1.2 b=0.75.
    "q94_bm25" -> { (s, d) =>
      graft.operators.Corpus.bm25TopK(Tables.documents(s, d), "doc_id", "text",
        query = Seq("spark", "fast", "query"), k = 10)
    },

    // Pseudo-relevance-feedback retrieval (q331, r12): RM3-style query
    // expansion — BM25, top-5 feedback docs, relevance-model expansion
    // mass e(t) = Σ (tf/dl)·score, top-5 expansion terms re-queried at
    // 0.4·e/max(e) next to the originals at 0.6. The oracle replays
    // BOTH passes and the expansion selection with pinned fold orders.
    "q331_bm25_prf" -> { (s, d) =>
      graft.operators.Corpus.bm25PrfTopK(Tables.documents(s, d), "doc_id",
        "text", query = Seq("spark", "fast", "query"), k = 10)
    },

    // Inverted-index postings: per-term df + digest of the ordered
    // posting list.
    "q95_inverted_index" -> { (s, d) =>
      graft.operators.Corpus.invertedIndex(Tables.documents(s, d), "doc_id", "text")
    },

    // Online-curation parity (DocStreams under the oracle, not just
    // StreamingSpec): the corpus staged TWICE into a file stream (every
    // doc arrives two times) → streaming quality/lang gates →
    // watermarked fingerprint dedup → parquet sink → read back. Dedup is
    // not an aggregation, so append mode emits first-seen rows
    // immediately (no flush sentinel needed) while the duplicate
    // arrivals must collapse against dedup state. Corpus texts are
    // unique (q30's fingerprint groups), so each group's survivor is
    // deterministic and the oracle is simply the batch-gated corpus,
    // once per doc.
    "q88_curate_stream" -> { (s, d) =>
      import org.apache.spark.sql.streaming.Trigger
      val base = Fixtures.fresh(s"/tmp/graft_stream/${new java.io.File(d).getName}_curate")
      val in = s"$base/in"
      val out = s"$base/out"
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .withColumn("ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      docs.unionAll(docs).write.mode("overwrite").parquet(in)
      val q = graft.streaming.DocStreams
        .curateStream(s.readStream.schema(docs.schema).parquet(in), "ts")
        .select("doc_id")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", s"$base/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(out)
    },

    // Gopher-style repetition tagger (q130): duplicate-line stats, top
    // word-bigram occurrences, and the longest same-token run — one
    // narrow zero-shuffle mapPartitions pass (PlanSpec pins the
    // no-Exchange property). The corpus has no newlines, so the fixture
    // PLANTS line structure: every ' value ' becomes a line break
    // (left-to-right non-overlapping replace in both engines), giving
    // real duplicate lines over the small vocabulary. All eight outputs
    // are exact integers — the Gopher fractions ship as
    // numerator/denominator pairs, so the compare has no float hazard.
    "q130_repetition_signals" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          expr("replace(text, ' value ', chr(10))").as("text"))
      graft.operators.Corpus.repetitionSignals(docs).toDF()
    },

    // Corpus-trained bigram LM score (q131) — the perplexity-filter
    // execution shape: train bigram/unigram counts over the corpus
    // (hash aggs), score each doc by joining its bigrams back against
    // the model (equi-joins on the agg keys; V ships as a broadcast
    // 1-row aggregate). The smoothed per-bigram term is an exact
    // integer ((c12 * 1e6) div (c1 + V)), so the cross-engine compare
    // has no float-summation hazard.
    "q131_ngram_lm_score" -> { (s, d) =>
      graft.operators.Corpus.ngramLmScore(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), col("lm_score"), col("n_bigrams"))
    },

    // Middle-perplexity pruning (q237) — the published per-language
    // band-keep recipe: LM-score every document (q131's corpus-trained
    // bigram model, exact integer per-bigram terms), normalize per
    // bigram, rank WITHIN language by percent_rank, and keep the
    // middle band (0.1 ≤ pr ≤ 0.9) — both tails go (gibberish scores
    // low; boilerplate/templated text scores suspiciously high). One
    // window over the skinny scored rows; the model training is the
    // only corpus-wide aggregation.
    "q237_perplexity_prune" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val scored = docs.select(col("doc_id"), col("lang"))
        .join(graft.operators.Corpus.ngramLmScore(docs, "doc_id", "text"),
          "doc_id")
        .withColumn("nscore", expr("lm_score div n_bigrams"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
        .orderBy(col("nscore").asc, col("doc_id").asc)
      scored.withColumn("prank", percent_rank().over(w))
        .filter(col("prank") >= 0.1 && col("prank") <= 0.9)
        .select(col("doc_id"), col("lang"), col("nscore"),
          (round(col("prank"), 6) + lit(0.0)).as("prank"))
    },

    // End-to-end fuzzy dedup (q132): the composed pass a user calls —
    // LSH candidates → Jaccard verify → connected components → drop
    // non-canonical cluster members. Emits the SURVIVING corpus; the
    // oracle replays the full funnel (recursive-CTE components) and
    // prunes relationally.
    "q132_fuzzy_dedup" -> { (s, d) =>
      Dedup.fuzzyDedup(Tables.documents(s, d), "doc_id", "text",
        shingleN = ShingleN, numHashes = NumHashes, bands = Bands,
        threshold = 0.5)
        .select(col("doc_id"), md5(col("text")).as("text_md5"))
    },

    // Quantile binning (q134): length deciles via broadcast exact cut
    // points + a codegen'd comparison chain — the scale-correct form of
    // ntile() (no global sort, no single-partition window). Ties land
    // in the lower bin (bin = #cuts strictly below) on both engines.
    "q134_quantile_bins" -> { (s, d) =>
      graft.operators.Corpus.quantileBins(
        Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
        "n_chars", 10)
        .select(col("doc_id"), col("n_chars"), col("bin"))
    },

    // Snapshot merge (q135): a synthetic recrawl — every doc_id % 3
    // gets a revised text, every doc_id % 7 spawns a brand-new doc —
    // upserted into the corpus: updates win, new ids append, the rest
    // pass through one skinny anti-join.
    "q135_snapshot_merge" -> { (s, d) =>
      val cur = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val upd = cur.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" [v2]")).as("text"))
        .unionByName(cur.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"),
            concat(col("text"), lit(" [new]")).as("text")))
      graft.operators.Corpus.snapshotMerge(cur, upd, "doc_id")
        .select(col("doc_id"), md5(col("text")).as("text_md5"))
    },

    // Incremental dedup (q136): a synthetic crawl batch — every
    // doc_id % 10 is an exact re-crawl of a history doc (must drop),
    // every doc_id % 13 arrives token-REVERSED (3-shingle sets are
    // disjoint from the original's ⇒ genuinely new, must survive) —
    // deduped against the full corpus as history. The band join is
    // bipartite (batch × history only); the oracle signs both corpora
    // with the prefixed CTE chain and replays the funnel.
    "q136_incremental_dedup" -> { (s, d) =>
      val hist = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val newDocs = hist.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 200000L).as("doc_id"), col("text"))
        .unionByName(hist.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 300000L).as("doc_id"),
            concat_ws(" ", reverse(TextFunctions.tokens(col("text"))))
              .as("text")))
      Dedup.incrementalDedup(newDocs, hist, "doc_id", "text",
        shingleN = ShingleN, numHashes = NumHashes, bands = Bands,
        threshold = 0.5)
        .select(col("doc_id"), md5(col("text")).as("text_md5"))
    },

    // STREAMING incremental fuzzy dedup (q152): two micro-batches flow
    // through foreachBatch — batch0 (reversed-token variants, mostly
    // novel vs the corpus) then batch1 (verbatim copies of batch0 under
    // new ids). Batch1 can only die against batch0's ACCEPTED
    // signatures, so the oracle — which replays both dedup rounds with
    // the history grown by batch0's survivors — proves the signature
    // accumulation across micro-batches, not just per-batch dedup.
    // Files are staged with 60s-apart mtimes + maxFilesPerTrigger=1 to
    // pin micro-batch order.
    "q152_stream_incdedup" -> { (s, d) =>
      val base = Fixtures.fresh(s"/tmp/graft_stream/${new java.io.File(d).getName}_incdedup")
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val b0 = docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 300000L).as("doc_id"),
          concat_ws(" ", reverse(TextFunctions.tokens(col("text"))))
            .as("text"))
      val b1 = b0.select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      def stage(df: DataFrame, name: String, mtime: Long): Unit = {
        val tmp = s"$base/tmp_$name"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val inDir = new java.io.File(s"$base/in")
        inDir.mkdirs()
        val dest = new java.io.File(inDir, s"$name.parquet")
        java.nio.file.Files.copy(part.toPath, dest.toPath)
        dest.setLastModified(mtime)
      }
      val t0 = 1700000000000L // fixed mtimes: deterministic batch order
      stage(b0, "batch0", t0)
      stage(b1, "batch1", t0 + 60000L)
      val histSig = Dedup.minhashSignatures(docs, "doc_id", "text",
        ShingleN, NumHashes, Bands)
      graft.streaming.DocStreams.incrementalDedupStream(s, s"$base/in",
        s"$base/out", s"$base/ckpt", histSig,
        ShingleN, NumHashes, Bands, threshold = 0.5)
      val hasParts = Option(new java.io.File(s"$base/out").listFiles())
        .exists(_.exists(_.getName.endsWith(".parquet")))
      val res =
        if (hasParts) s.read.schema("doc_id LONG, text STRING")
          .parquet(s"$base/out")
        else s.createDataFrame(
          s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id LONG, text STRING"))
      res.select(col("doc_id"), md5(col("text")).as("text_md5"))
    },

    // Contamination SCORING (q153): the graded sibling of q81's binary
    // gate — per-doc overlap FRACTION against the eval-set shingles
    // (curation policy drops ≥X%, tags below). Same broadcast sorted-
    // hash-set narrow pass; the ratio derives from distinct-shingle
    // counts both engines compute independently.
    "q153_contamination_score" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      Corpus.contaminationScore(docs, "doc_id", "text",
        bench = docs.filter(col("doc_id") % 50 === 0), benchTextCol = "text",
        shingleN = 5)
        .select(col("doc_id"),
          col("n_shingles").cast("int").as("n_shingles"),
          col("n_hits").cast("int").as("n_hits"),
          when(col("n_shingles") === 0, lit(0.0))
            .otherwise(round(col("n_hits").cast("double") /
              col("n_shingles"), 4)).as("contamination"))
    },

    // MAD outlier flags (q154): robust per-language outlier detection
    // on doc length — median and median-absolute-deviation are the
    // curation-grade robust stats (means/stddevs break on the heavy
    // tails this filter exists to catch). Two tiny per-lang aggregates
    // broadcast back; the flag pass is narrow.
    "q154_mad_outliers" -> { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
      val med = docs.groupBy("lang")
        .agg(expr("percentile(n_chars, 0.5)").as("med"))
      val dev = docs.join(broadcast(med), "lang")
        .withColumn("adev", abs(col("n_chars") - col("med")))
      val mad = dev.groupBy("lang")
        .agg(expr("percentile(adev, 0.5)").as("mad"))
      dev.join(broadcast(mad), "lang")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          round(col("adev") / nullif(col("mad"), lit(0.0)), 4).as("mad_score"),
          (col("adev") > lit(3.0) * col("mad")).as("outlier"))
    },

    // Stratified take (q139): exactly 40 docs per language, selected by
    // md5-of-id rank — the fixed-COUNT sibling of q97's fixed-rate
    // mixture sampling. No RNG; the same rows on every run and engine.
    "q139_stratified_take" -> { (s, d) =>
      graft.operators.Corpus.stratifiedTake(
        Tables.documents(s, d).select(col("doc_id"), col("lang")),
        "doc_id", "lang", k = 40)
    },

    // Stratified take, skew-safe form (q160): q139's documented
    // weakness made real — the window form sorts every stratum's full
    // row set (one giant stratum serializes a huge sort on one
    // reducer); the bounded typed Aggregator keeps ≤ k (md5, id) pairs
    // per stratum per partition, so the exchange carries tiny pairs
    // and no full sort exists. Same md5-rank rule, same oracle as
    // q139 — the two implementations are proven identical.
    "q160_stratified_take_agg" -> { (s, d) =>
      graft.operators.Corpus.stratifiedTakeAgg(
        Tables.documents(s, d).select(col("doc_id"), col("lang")),
        "doc_id", "lang", k = 40)
    },

    // Deterministic corpus shuffle (q147): every document's exact
    // 0-based position in the md5-of-id pseudo-random total order —
    // shard/pack assignment for training epochs. The order is
    // established DISTRIBUTEDLY (range exchange + partition-local sort
    // + zipWithIndex offsets), never through one partition; the oracle
    // replays it as a window row_number, proving the distributed
    // position assignment equals the single-engine total order.
    "q147_global_shuffle" -> { (s, d) =>
      graft.operators.Corpus.globalOrderIndex(
        Tables.documents(s, d).select(col("doc_id")),
        Seq(md5(col("doc_id").cast("string")), col("doc_id")))
        .select(col("doc_id"), col("pos"))
    },

    // Per-domain quality quota (C4/RefinedWeb): at most 20 documents per
    // source, best n_chars first — the cap that stops one mega-domain
    // from owning the training mix. WindowGroupLimit shape (PlanSpec).
    "q190_domain_cap" -> { (s, d) =>
      graft.operators.Corpus.domainCap(Tables.documents(s, d),
        "source", "n_chars", "doc_id", cap = 20)
        .select(col("doc_id"), col("source"), col("n_chars"), col("rank"))
    },

    // Hard-negative mining for contrastive training: top-3 most-similar
    // OTHER-label vectors per query, through the multi-table LSH
    // candidate generator + label gate + exact re-rank (never all-pairs;
    // the oracle replays the full funnel including the 16 table keys).
    "q191_hard_negatives" -> { (s, d) =>
      graft.operators.Similarity.hardNegativesTopK(
        Tables.embeddings(s, d).select(col("vec_id").as("id"),
          col("embedding"), col("label")), k = 3)
        .select(col("query_id"), col("neighbor_id"), col("neg_label"),
          col("cos"), col("rank").cast("int").as("rank"))
    },

    // Embedding outlier audit (q239): SemDeDup's complement — flag the
    // lowest-5% cosine-to-own-centroid per cluster (OCR garbage,
    // wrong-language strays). The oracle replays the k-means chain, the
    // final-member centroid means, the broadcast scoring, and the
    // within-cluster percent_rank.
    "q239_embedding_outliers" -> { (s, d) =>
      Similarity.embeddingOutliers(Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), col("embedding")),
        k = 8, iters = 2, outlierFrac = 0.05)
    },

    // Margin-based pair mining (q236): the bitext-mining ratio margin —
    // cos(x,y) normalized by both sides' k-NN averages kills hub
    // vectors that raw cosine over-selects; mutual best-margin matches
    // over the threshold survive. LSH-gated candidates (q191's
    // composition); the oracle replays candidates, both k-NN averages,
    // margins, and both argmax directions.
    "q236_margin_mining" -> { (s, d) =>
      Similarity.marginMinePairs(Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), col("embedding"), col("label")),
        k = 4, threshold = 1.0)
    },

    // PII redaction audit: planted emails (doc_id % 3) and NNN-NNN-NNNN
    // phones (doc_id % 4) redacted to typed placeholders; the oracle
    // replants and re-redacts, so patterns, replace order, and counts
    // are all under the hash.
    "q192_pii_redact" -> { (s, d) =>
      val planted = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@mail.example.com now"))).otherwise(lit("")),
          when(col("doc_id") % 4 === 0,
            concat(lit(" call 555-"),
              lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
              lit("-4321 today"))).otherwise(lit(""))).as("text"))
      graft.operators.Curation.redactPii(planted, "doc_id", "text")
    },

    // PSI drift monitor between the even- and odd-id halves of the
    // corpus over n_chars: fixed-width bins (no data-dependent edges),
    // +0.5-smoothed shares, per-bin (p, q) plus the PSI total.
    "q196_psi_drift" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.operators.Corpus.psiDrift(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "n_chars", binWidth = 100.0, nBins = 10)
    },

    // MMR diverse selection: 5 picks from the 20 best candidates for
    // query vector 0 at lambda = 0.5 (exact binary double, so the
    // lambda and 1-lambda literals agree bit-for-bit cross-engine). The
    // oracle replays all five greedy rounds.
    "q197_mmr_select" -> { (s, d) =>
      graft.operators.Similarity.mmrSelect(
        Tables.embeddings(s, d).select(col("vec_id").as("id"),
          col("embedding")),
        queryId = 0L, poolK = 20, k = 5, lambda = 0.5)
    },

    // Tokenizer fertility by language: tokens per character (exact
    // integer sums through the native tokenizer, one ratio at the end).
    "q199_tok_fertility" -> { (s, d) =>
      graft.operators.Corpus.tokenFertility(Tables.documents(s, d),
        "lang", "text")
    },

    // THE production corpus pass (q217): every curation stage composed
    // in pipeline order over a PII-planted corpus — quality gate,
    // exact dedup, MinHash-LSH fuzzy dedup with cluster keepers,
    // benchmark decontamination, per-domain quality cap, target
    // mixture sampling, and PII redaction last (audit counts describe
    // the rows that ship). The oracle replays all seven stages in one
    // recursive CTE chain: the whole pipeline is under the hash, not
    // just its stages separately.
    "q217_full_pipeline" -> { (s, d) =>
      runFullPipeline(s, d, staging = None)
    },

    // q226: the durable-staging twin of q217 — identical parameters,
    // but every composition point routes through manifest-snapshot
    // staging tables instead of localCheckpoint blocks. The oracle is
    // the SAME seven-stage replay, so hash equality proves the staged
    // tier changes nothing but durability. (CurationOpsSpec proves the
    // durability side: result readable after the blocks AND the source
    // are gone.)
    "q226_staged_pipeline" -> { (s, d) =>
      val base = Fixtures.fresh(s"/tmp/graft_io/${new java.io.File(d).getName}/staged_pipe")
      runFullPipeline(s, d, staging = Some(base))
    },

    // Reciprocal-rank fusion (q215): the hybrid-search combiner —
    // single-table and Hamming-1 multi-probe ANN rankings fused by
    // Σ 1/(60+rank), top-5 per query. Rank fusion needs no score
    // calibration between retrievers, which is why it is the default
    // in lexical+vector hybrid search.
    "q215_rrf_fusion" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), col("embedding"))
      val single = Similarity.bucketedAnnTopK(e, 3)
        .filter(col("query_id") < 50)
      val multi = Similarity.multiProbeAnnTopK(e, 3)
        .filter(col("query_id") < 50)
      Similarity.rrfFuse(Seq(single, multi), k = 5)
    },

    // Length-bucketed batching (q216): padding-minimizing batch layout
    // — token-length bands cut into md5-ordered batches of 16.
    "q216_length_buckets" -> { (s, d) =>
      graft.operators.Corpus.lengthBucketBatches(Tables.documents(s, d),
        "doc_id", "text", binTokens = 32, batchSize = 16)
    },

    // Contrastive batch construction (q213): CLIP-style (text, image)
    // pairs — documents joined to their embedding row — cut into
    // stable 32-member batches along the md5 pseudo-random total
    // order; every member is every other member's in-batch negative.
    "q213_contrastive_batches" -> { (s, d) =>
      val pairs = Tables.documents(s, d)
        .select(col("doc_id"), md5(col("text")).as("text_md5"))
        .join(Tables.embeddings(s, d)
          .select(col("vec_id").as("doc_id"), col("label")), "doc_id")
      graft.operators.Corpus.contrastiveBatches(pairs, "doc_id",
        batchSize = 32)
    },

    // MRR@k (q200): the one-good-hit retrieval metric next to recall
    // (q82) and nDCG (q187) — same truth/retrieved frames, reciprocal
    // rank of the first truth hit, 0 when the ANN missed entirely.
    "q200_mrr" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), col("embedding"))
      val truth = Similarity.bruteForceTopK(e.filter(col("id") < 50), e, 3)
      val retrieved = Similarity.multiTableAnnTopK(e, 3)
        .filter(col("query_id") < 50)
      Similarity.mrrAtK(retrieved, truth)
    },

    // Skip-gram pairs (q202): word2vec training-data extraction —
    // (token, token-within-2) counts with a support floor.
    "q202_skipgrams" -> { (s, d) =>
      graft.operators.Corpus.skipgramPairs(Tables.documents(s, d),
        "doc_id", "text", window = 2, minCount = 5)
    },

    // Per-stratum percentile normalization (q204): percent_rank of
    // length within language — the cross-language-comparable quality
    // coordinate (a 300-char doc is long for one language's
    // distribution and short for another's).
    "q204_quality_pctile" -> { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("n_chars").asc)
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("pctile",
          round(percent_rank().over(w), 6) + lit(0.0))
    },

    // Containment dedup (q198): quote/excerpt duplication that
    // threshold-Jaccard misses — every 4th document's first half is
    // planted as a new doc; its shingles are (near-)subsets of the
    // original's, so containment ≈ 1 while Jaccard stays ~0.5. Oracle
    // replays plant, shingling, df cap, and both directions.
    "q198_containment" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val halves = docs.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          expr("substring(text, 1, cast(floor(length(text) / 2) as int))")
            .as("text"))
      graft.operators.Dedup.containmentPairs(
        docs.select("doc_id", "text").unionByName(halves),
        "doc_id", "text", shingleN = 3, threshold = 0.6)
    }
  )

  val oracles: Map[String, String] = oraclesBase +
    // q226 is q217 under the durable staging tier — same oracle text:
    // equality under the hash proves staging is semantics-free.
    ("q226_staged_pipeline" -> oraclesBase("q217_full_pipeline")) +
    // q290 is q282 through Structured Streaming — same oracle text:
    // equality under the hash proves batch/stream parity.
    ("q290_gopher_stream" -> oraclesBase("q282_gopher_rules")) +
    // q323 is q128 through the PERSISTED index — same oracle text:
    // equality under the hash proves the stored centroids/codebooks/
    // codes reproduce the direct funnel bit-for-bit.
    ("q323_ivf_index_search" -> oraclesBase("q128_ivf_adc_rerank")) +
    // q354 is q128 through build→append×2→OPTIMIZE — same oracle
    // text: equality proves optimize == direct full-corpus build.
    ("q354_ivf_index_optimize" -> oraclesBase("q128_ivf_adc_rerank"))

  /** q282/q290 shared fixture: rule-triggering lines/symbols/stopwords
    * planted on doc_id strata over the word-soup corpus.
    */
  private def plantedGopherDocs(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    Tables.documents(s, d).select(id, concat(
      col("text"),
      when(id % 2 === 0,
        lit("\n• bullet item one\n• bullet item two"))
        .otherwise(lit("")),
      when(id % 3 === 0, lit("\nthis line trails off..."))
        .otherwise(lit("")),
      when(id % 5 === 0, lit(" ### ## #")).otherwise(lit("")),
      when(id % 7 === 0, lit(" the be to of and that have with"))
        .otherwise(lit("")),
      when(id % 4 === 0, lit("\n12345 67890 999 777"))
        .otherwise(lit(""))).as("text"))
  }

  /** q257/q258 shared oracle: the smoothed NB score matrix — the
    * stream twin must land on the identical arithmetic. */
  private lazy val nbOracle: String =
    s"""WITH t AS MATERIALIZED (
           SELECT doc_id, source, unnest($toksSql) AS tok FROM documents),
         bk AS MATERIALIZED (
           SELECT doc_id, source,
                CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 4096 AS b
           FROM t),
         model AS MATERIALIZED (
           SELECT b, source AS label, ln(count(*) + 1.0) AS lc
           FROM bk GROUP BY 1, 2),
         cs AS (
           -- LEFT join from the doc-count side (engine parity): a
           -- zero-token class keeps its prior, total coalesced to 0
           SELECT y.label, ln(y.nd / z.ndocs) AS prior_ln,
                ln(coalesce(x.total, 0) + 4096.0) AS denom_ln
           FROM (SELECT source AS label, count(*) AS nd
                 FROM documents GROUP BY 1) y
           LEFT JOIN (SELECT source AS label, count(*) AS total
                 FROM bk GROUP BY 1) x ON x.label = y.label,
                (SELECT CAST(count(*) AS DOUBLE) AS ndocs
                 FROM documents) z),
         db AS (SELECT doc_id, b, count(*) AS m FROM bk GROUP BY 1, 2),
         matched AS (
           SELECT db.doc_id, model.label, sum(db.m * model.lc) AS s
           FROM db JOIN model USING (b) GROUP BY 1, 2),
         ntok AS (SELECT doc_id, count(*) AS n_tok FROM bk GROUP BY 1)
         SELECT d.doc_id, cs.label,
              round(cs.prior_ln - coalesce(ntok.n_tok, 0) * cs.denom_ln
                + coalesce(matched.s, 0.0), 6) AS score
         FROM documents d CROSS JOIN cs
         LEFT JOIN ntok ON d.doc_id = ntok.doc_id
         LEFT JOIN matched ON d.doc_id = matched.doc_id
                          AND cs.label = matched.label"""

  // The POOLED two-stage MaxSim funnel replay (q321, the
  // cheapest-gate rung composed by hand from public stages):
  // pooling (per-element avg, round-6), the pooled-vector sign gate
  // + exact doc-cosine top-`shortlist`, and the shortlist-restricted
  // chunk×chunk rerank. q310's API default gates per-chunk instead
  // (see its oracle) — q322 measures both families' recall.
  private def maxSimFunnelSql(shortlist: Int): String = {
    val bucket = "concat(" + (1 to 4).map(i =>
      s"CASE WHEN v[$i] >= 0 THEN '1' ELSE '0' END").mkString(", ") + ")"
    s"""WITH e AS (SELECT vec_id % 100 AS doc, vec_id AS cid,
             CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
           FROM embeddings),
        x AS (SELECT doc, i,
                CAST(v[CAST(i AS INTEGER)] AS DOUBLE) AS xv
              FROM e, UNNEST(range(1, 65)) AS u(i)),
        dv AS (SELECT doc,
                 list(round(mv, 6) + 0.0 ORDER BY i) AS v
               FROM (SELECT doc, i, avg(xv) AS mv FROM x GROUP BY 1, 2)
               GROUP BY 1),
        dvn AS (SELECT doc, v,
                  sqrt(list_dot_product(v, v)) AS nrm,
                  $bucket AS bucket FROM dv),
        cand AS (SELECT q.doc AS query_id, c.doc AS doc_id,
                   round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 4)
                     AS cos
                 FROM dvn q JOIN dvn c
                   ON q.bucket = c.bucket AND q.doc != c.doc),
        sl AS (SELECT query_id, doc_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, doc_id) AS rn FROM cand)
            WHERE rn <= $shortlist),
        p AS (SELECT sl.query_id, sl.doc_id, q.cid AS qcid,
                round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 4)
                  AS cos
              FROM sl JOIN e q ON q.doc = sl.query_id
                      JOIN e c ON c.doc = sl.doc_id),
        m AS (SELECT query_id, doc_id, qcid, max(cos) AS mx
              FROM p GROUP BY 1, 2, 3),
        s AS (SELECT query_id, doc_id, round(sum(mx), 4) + 0.0 AS score
              FROM m GROUP BY 1, 2)
        SELECT query_id, doc_id, CAST(rank AS INTEGER) AS rank, score
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, doc_id) AS rank FROM s)
        WHERE rank <= 3"""
  }

  // The 16 disjoint-slice table keys of multiTableAnnTopK / the
  // maxSimTopK per-chunk gate, replayed on a DOUBLE[] column v.
  private def tableKeysSqlList: String =
    "[" + (0 until 16).map { t =>
      s"concat('$t:', " + (1 to 4).map(i =>
        s"CASE WHEN v[${t * 4 + i}] >= 0 THEN '1' ELSE '0' END")
        .mkString(", ") + ")"
    }.mkString(", ") + "]"

  /** The q128 IVF-ADC-rerank funnel replay (8 cells by vec_id, 2
    * probes, ADC over home cells with the PQ code joins, 16-shortlist,
    * exact re-rank, top 3). `filtered` inserts the alw (label = 5)
    * restriction at the CANDIDATE stage — the q340 pre-filter
    * contract: the engine filters the codes scan before the ADC join,
    * which the oracle replays as the alw join on adcg's neighbor side.
    */
  private def ivfFunnelSql(filtered: Boolean): String = {
    val joins = (0 until pqM).map(s =>
      s"JOIN af_$s k$s ON k$s.vec_id = c.vec_id " +
        s"JOIN cs1_$s t$s ON t$s.cid = k$s.cid").mkString(" ")
    val termSql = (0 until pqM).map(s =>
      s"(q.nv$s + t$s.nc - 2 * list_dot_product(q.sub$s, t$s.ce))")
      .mkString(" + ")
    val alwCte =
      if (filtered)
        "alw AS (SELECT vec_id FROM embeddings WHERE label = 5),\n"
      else ""
    val alwJoin =
      if (filtered) "JOIN alw aw ON aw.vec_id = c.vec_id" else ""
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        $pqChain,
        vv AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
        cent AS (SELECT vec_id AS cid, e AS ce, nrm AS cnrm
                 FROM (SELECT * FROM vv ORDER BY vec_id LIMIT 8)),
        asg AS (SELECT vv.vec_id, c.cid,
                  round(list_dot_product(vv.e, c.ce) / (vv.nrm * c.cnrm), 4) AS rc
                FROM vv CROSS JOIN cent c),
        cell AS (SELECT vec_id, cid AS cell FROM
                   (SELECT *, row_number() OVER (PARTITION BY vec_id
                      ORDER BY rc DESC, cid) AS rn FROM asg)
                 WHERE rn = 1),
        probe AS (SELECT vec_id, cid AS cell FROM
                   (SELECT *, row_number() OVER (PARTITION BY vec_id
                      ORDER BY rc DESC, cid) AS rn FROM asg)
                 WHERE rn <= 2),
        $alwCte
        adcg AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  round($termSql, 4) AS adist
                FROM b q JOIN probe qc ON q.vec_id = qc.vec_id
                     JOIN cell cc ON qc.cell = cc.cell
                     JOIN b c ON c.vec_id = cc.vec_id AND q.vec_id != c.vec_id
                     $alwJoin
                     $joins),
        sl AS (SELECT query_id, neighbor_id FROM
                 (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY adist, neighbor_id) AS rn FROM adcg)
               WHERE rn <= 16),
        rr AS (SELECT sl.query_id, sl.neighbor_id,
                 round(list_dot_product(qv.e, cv.e) / (qv.nrm * cv.nrm), 4) AS cos
               FROM sl JOIN vv qv ON sl.query_id = qv.vec_id
                    JOIN vv cv ON sl.neighbor_id = cv.vec_id)
        SELECT query_id, neighbor_id, cos, CAST(rn AS INTEGER) AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS rn FROM rr)
        WHERE rn <= 3"""
  }

  /** q341: pre- vs post-filter recall at the 10%-selective predicate,
    * against the exact filtered brute-force truth. One shared
    * UNFILTERED adcg; pre restricts it before the 16-shortlist, post
    * takes the unfiltered top-3 and drops ineligible neighbors after —
    * the measured gap is the reason filtered ANN pre-filters.
    */
  private def filteredAnnRecallSql: String = {
    val joins = (0 until pqM).map(s =>
      s"JOIN af_$s k$s ON k$s.vec_id = c.vec_id " +
        s"JOIN cs1_$s t$s ON t$s.cid = k$s.cid").mkString(" ")
    val termSql = (0 until pqM).map(s =>
      s"(q.nv$s + t$s.nc - 2 * list_dot_product(q.sub$s, t$s.ce))")
      .mkString(" + ")
    def funnelTail(src: String, tag: String) =
      s"""sl$tag AS (SELECT query_id, neighbor_id FROM
               (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY adist, neighbor_id) AS rn FROM $src)
             WHERE rn <= 16),
          rr$tag AS (SELECT s.query_id, s.neighbor_id,
               round(list_dot_product(qv.e, cv.e) / (qv.nrm * cv.nrm), 4) AS cos
             FROM sl$tag s JOIN vv qv ON s.query_id = qv.vec_id
                  JOIN vv cv ON s.neighbor_id = cv.vec_id),
          t3$tag AS (SELECT query_id, neighbor_id FROM
               (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, neighbor_id) AS rn FROM rr$tag)
             WHERE rn <= 3)"""
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        $pqChain,
        vv AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
        cent AS (SELECT vec_id AS cid, e AS ce, nrm AS cnrm
                 FROM (SELECT * FROM vv ORDER BY vec_id LIMIT 8)),
        asg AS (SELECT vv.vec_id, c.cid,
                  round(list_dot_product(vv.e, c.ce) / (vv.nrm * c.cnrm), 4) AS rc
                FROM vv CROSS JOIN cent c),
        cell AS (SELECT vec_id, cid AS cell FROM
                   (SELECT *, row_number() OVER (PARTITION BY vec_id
                      ORDER BY rc DESC, cid) AS rn FROM asg)
                 WHERE rn = 1),
        probe AS (SELECT vec_id, cid AS cell FROM
                   (SELECT *, row_number() OVER (PARTITION BY vec_id
                      ORDER BY rc DESC, cid) AS rn FROM asg)
                 WHERE rn <= 2),
        alw AS (SELECT vec_id FROM embeddings WHERE label = 5),
        adcg AS MATERIALIZED (SELECT q.vec_id AS query_id,
                  c.vec_id AS neighbor_id, round($termSql, 4) AS adist
                FROM b q JOIN probe qc ON q.vec_id = qc.vec_id
                     JOIN cell cc ON qc.cell = cc.cell
                     JOIN b c ON c.vec_id = cc.vec_id AND q.vec_id != c.vec_id
                     $joins),
        adcp AS (SELECT a.* FROM adcg a JOIN alw w ON w.vec_id = a.neighbor_id),
        ${funnelTail("adcp", "p")},
        ${funnelTail("adcg", "a")},
        post AS (SELECT t.query_id, t.neighbor_id FROM t3a t
                 JOIN alw w ON w.vec_id = t.neighbor_id),
        truth AS MATERIALIZED (SELECT query_id, neighbor_id FROM
            (SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY cos DESC, neighbor_id) AS rn FROM
              (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 4) AS cos
               FROM vv q JOIN vv c ON q.vec_id != c.vec_id
                    JOIN alw w ON w.vec_id = c.vec_id))
            WHERE rn <= 3),
        ne AS (SELECT count(*) AS n_exact FROM truth)
        SELECT 'prefilter' AS method, CAST(ne.n_exact AS BIGINT) AS n_exact,
             CAST((SELECT count(*) FROM t3p s
                   SEMI JOIN truth t ON t.query_id = s.query_id
                     AND t.neighbor_id = s.neighbor_id) AS BIGINT) AS n_hit,
             round((SELECT count(*) FROM t3p s
                   SEMI JOIN truth t ON t.query_id = s.query_id
                     AND t.neighbor_id = s.neighbor_id) * 1.0
                 / ne.n_exact, 4) AS recall
        FROM ne
        UNION ALL
        SELECT 'postfilter' AS method, CAST(ne.n_exact AS BIGINT) AS n_exact,
             CAST((SELECT count(*) FROM post s
                   SEMI JOIN truth t ON t.query_id = s.query_id
                     AND t.neighbor_id = s.neighbor_id) AS BIGINT) AS n_hit,
             round((SELECT count(*) FROM post s
                   SEMI JOIN truth t ON t.query_id = s.query_id
                     AND t.neighbor_id = s.neighbor_id) * 1.0
                 / ne.n_exact, 4) AS recall
        FROM ne"""
  }

  /** [[pqChain]] generalized for the drift-recall replay (q355): PQ
    * seeding + training read `<p>vt` (the TRAINING vectors) while the
    * encode pass (`<p>af_s`) covers `<p>va` (ALL vectors) — the
    * frozen-quantizer append contract. With vt == va this is pqChain's
    * arithmetic verbatim.
    */
  private def pqChainSplitFor(p: String): String = {
    val subCols = (0 until pqM).map { s =>
      val lo = s * pqDsub + 1
      val hi = (s + 1) * pqDsub
      s"e[$lo:$hi] AS sub$s, list_dot_product(e[$lo:$hi], e[$lo:$hi]) AS nv$s"
    }.mkString(", ")
    def norm(src: String, out: String) =
      s"""${out}0 AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS vnrm
            FROM $src),
          $out AS (SELECT vec_id,
              CASE WHEN vnrm = 0 THEN e
                   ELSE list_transform(e, x -> x / vnrm) END AS e
            FROM ${out}0)"""
    val perS = (0 until pqM).map { s =>
      def assignSql(name: String, bRel: String, centRel: String,
                    keep: String) =
        s"""$name AS (SELECT vec_id, cid$keep FROM (
              SELECT b.vec_id, c.cid, b.sub$s, b.nv$s,
                row_number() OVER (PARTITION BY b.vec_id ORDER BY
                  round(b.nv$s + c.nc - 2 * list_dot_product(b.sub$s, c.ce), 4),
                  c.cid) AS rn
              FROM $bRel b CROSS JOIN $centRel c) WHERE rn = 1)"""
      s"""${p}cs0_$s AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                sub$s AS ce, nv$s AS nc
              FROM (SELECT * FROM ${p}bt ORDER BY vec_id LIMIT $pqKsub)),
          ${assignSql(s"${p}as0_$s", s"${p}bt", s"${p}cs0_$s",
            s", sub$s, nv$s")},
          ${p}u1_$s AS (SELECT cid AS cluster, CAST(t.i AS INTEGER) AS dim,
                round(avg(sub$s[CAST(t.i AS INTEGER)]), 6) AS mv
              FROM ${p}as0_$s CROSS JOIN range(1, ${pqDsub + 1}) t(i)
              GROUP BY 1, 2),
          ${p}cs1_$s AS (SELECT cid, ce, list_dot_product(ce, ce) AS nc FROM (
              SELECT cluster AS cid, list(mv ORDER BY dim) AS ce
              FROM ${p}u1_$s GROUP BY 1)),
          ${assignSql(s"${p}af_$s", s"${p}b", s"${p}cs1_$s", "")}"""
    }.mkString(",\n")
    s"""${norm(s"${p}vt", s"${p}vnt")},
        ${p}bt AS (SELECT vec_id, $subCols FROM ${p}vnt),
        ${norm(s"${p}va", s"${p}vna")},
        ${p}b AS (SELECT vec_id, $subCols FROM ${p}vna),
        $perS"""
  }

  /** The q128 funnel over a split chain: centroids seeded from
    * `<p>vt`, cells/probes assigned for ALL of `<p>va` against them
    * (exactly what build + frozen append produce), ADC + 16-shortlist
    * + exact re-rank, ending at `<p>t3` (query_id, neighbor_id).
    */
  private def driftFunnelFor(p: String): String = {
    val joins = (0 until pqM).map(s =>
      s"JOIN ${p}af_$s k$s ON k$s.vec_id = c.vec_id " +
        s"JOIN ${p}cs1_$s t$s ON t$s.cid = k$s.cid").mkString(" ")
    val termSql = (0 until pqM).map(s =>
      s"(q.nv$s + t$s.nc - 2 * list_dot_product(q.sub$s, t$s.ce))")
      .mkString(" + ")
    s"""${p}vv AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm
             FROM ${p}va),
        ${p}vvt AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm
             FROM ${p}vt),
        ${p}cent AS (SELECT vec_id AS cid, e AS ce, nrm AS cnrm
                 FROM (SELECT * FROM ${p}vvt ORDER BY vec_id LIMIT 8)),
        ${p}asg AS (SELECT vv.vec_id, c.cid,
                  round(list_dot_product(vv.e, c.ce) / (vv.nrm * c.cnrm), 4)
                    AS rc
                FROM ${p}vv vv CROSS JOIN ${p}cent c),
        ${p}cell AS (SELECT vec_id, cid AS cell FROM
                   (SELECT *, row_number() OVER (PARTITION BY vec_id
                      ORDER BY rc DESC, cid) AS rn FROM ${p}asg)
                 WHERE rn = 1),
        ${p}probe AS (SELECT vec_id, cid AS cell FROM
                   (SELECT *, row_number() OVER (PARTITION BY vec_id
                      ORDER BY rc DESC, cid) AS rn FROM ${p}asg)
                 WHERE rn <= 2),
        ${p}adcg AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  round($termSql, 4) AS adist
                FROM ${p}b q JOIN ${p}probe qc ON q.vec_id = qc.vec_id
                     JOIN ${p}cell cc ON qc.cell = cc.cell
                     JOIN ${p}b c ON c.vec_id = cc.vec_id
                       AND q.vec_id != c.vec_id
                     $joins),
        ${p}sl AS (SELECT query_id, neighbor_id FROM
                 (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY adist, neighbor_id) AS rn FROM ${p}adcg)
               WHERE rn <= 16),
        ${p}rr AS (SELECT s.query_id, s.neighbor_id,
                 round(list_dot_product(qv.e, cv.e) / (qv.nrm * cv.nrm), 4)
                   AS cos
               FROM ${p}sl s JOIN ${p}vv qv ON s.query_id = qv.vec_id
                    JOIN ${p}vv cv ON s.neighbor_id = cv.vec_id),
        ${p}t3 AS (SELECT query_id, neighbor_id FROM
                 (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS rn FROM ${p}rr)
               WHERE rn <= 3)"""
  }

  /** q355: FROZEN (train on originals, encode all) vs OPTIMIZED
    * (train on all, encode all) funnels over the negated-twin drift
    * fixture, each scored against the exact brute-force truth.
    */
  private def ivfDriftRecallSql: String = {
    def recallRow(t3: String, method: String) =
      s"""SELECT '$method' AS method, CAST(ne.n_exact AS BIGINT) AS n_exact,
           CAST((SELECT count(*) FROM $t3 s
                 SEMI JOIN truth t ON t.query_id = s.query_id
                   AND t.neighbor_id = s.neighbor_id) AS BIGINT) AS n_hit,
           round((SELECT count(*) FROM $t3 s
                 SEMI JOIN truth t ON t.query_id = s.query_id
                   AND t.neighbor_id = s.neighbor_id) * 1.0
               / ne.n_exact, 4) AS recall
         FROM ne"""
    s"""WITH eb AS (SELECT vec_id * 2 AS vec_id,
             CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        ed AS (SELECT vec_id + 1 AS vec_id,
             list_transform(e, x -> -x) AS e FROM eb),
        ef AS (SELECT * FROM eb UNION ALL SELECT * FROM ed),
        f_vt AS (SELECT * FROM eb),
        f_va AS (SELECT * FROM ef),
        ${pqChainSplitFor("f_")},
        ${driftFunnelFor("f_")},
        o_vt AS (SELECT * FROM ef),
        o_va AS (SELECT * FROM ef),
        ${pqChainSplitFor("o_")},
        ${driftFunnelFor("o_")},
        fvv AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm
                FROM ef),
        truth AS MATERIALIZED (SELECT query_id, neighbor_id FROM
            (SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY cos DESC, neighbor_id) AS rn FROM
              (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 4) AS cos
               FROM fvv q JOIN fvv c ON q.vec_id != c.vec_id))
            WHERE rn <= 3),
        ne AS (SELECT count(*) AS n_exact FROM truth)
        ${recallRow("f_t3", "frozen")}
        UNION ALL
        ${recallRow("o_t3", "optimized")}"""
  }

  private lazy val oraclesBase: Map[String, String] = Map(
    "q321_maxsim_funnel" -> maxSimFunnelSql(10),
    // q354: optimize must equal the direct full-corpus build — q128's
    // funnel replay verbatim IS the oracle (the q323 doctrine).
    "q355_ivf_drift_recall" -> ivfDriftRecallSql,

    // q310: since r12 maxSimTopK IS the per-chunk funnel — replay the
    // 16-table keys, the per-chunk top-m=8 gate window, the distinct
    // nominated doc pairs, and the exact chunk×chunk rerank. The doc
    // mapping is the SIZED shape (vec_id // 5: docs ∝ N, 5 chunks/doc).
    "q310_maxsim" ->
      s"""WITH e AS (SELECT vec_id // 5 AS doc, vec_id AS cid,
               CAST(embedding AS DOUBLE[]) AS v,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
             FROM embeddings),
          tk AS (SELECT cid, unnest($tableKeysSqlList) AS tkey FROM e),
          cc AS (SELECT DISTINCT a.cid AS qcid, b.cid AS ccid
                 FROM tk a JOIN tk b
                   ON a.tkey = b.tkey AND a.cid != b.cid),
          sc AS (SELECT eq.doc AS query_id, ec.doc AS doc_id,
                   cc.qcid, cc.ccid,
                   round(list_dot_product(eq.v, ec.v)
                     / (eq.nrm * ec.nrm), 4) AS cos
                 FROM cc JOIN e eq ON eq.cid = cc.qcid
                         JOIN e ec ON ec.cid = cc.ccid
                 WHERE eq.doc != ec.doc),
          rk AS (SELECT *, row_number() OVER (PARTITION BY qcid
                   ORDER BY cos DESC, ccid) AS rn FROM sc),
          cand AS (SELECT DISTINCT query_id, doc_id FROM rk
                   WHERE rn <= 8),
          p AS (SELECT cand.query_id, cand.doc_id, q.cid AS qcid,
                  round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 4)
                    AS cos
                FROM cand JOIN e q ON q.doc = cand.query_id
                          JOIN e c ON c.doc = cand.doc_id),
          m AS (SELECT query_id, doc_id, qcid, max(cos) AS mx
                FROM p GROUP BY 1, 2, 3),
          s AS (SELECT query_id, doc_id, round(sum(mx), 4) + 0.0 AS score
                FROM m GROUP BY 1, 2)
          SELECT query_id, doc_id, CAST(rank AS INTEGER) AS rank, score
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, doc_id) AS rank FROM s)
          WHERE rank <= 3""",

    // q322: exhaustive MaxSim truth (all doc pairs, no gate), then
    // BOTH gate families scored ONCE over their widest knob — pair
    // scores are pair-local, so the knob-x result is the
    // nominated-at-x slice of the widest-knob scores — and the
    // per-(method, knob) top-3 recall. Chunk gate: a pair is
    // nominated at m iff its best chunk-level gate rank ≤ m. Pooled
    // gate: nominated at s iff its pooled-cosine gate rank ≤ s.
    "q322_maxsim_recall" -> {
      val bucket = "concat(" + (1 to 4).map(i =>
        s"CASE WHEN v[$i] >= 0 THEN '1' ELSE '0' END").mkString(", ") + ")"
      s"""WITH e AS (SELECT vec_id % 100 AS doc, vec_id AS cid,
               CAST(embedding AS DOUBLE[]) AS v,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
             FROM embeddings),
          tp AS (SELECT q.doc AS query_id, c.doc AS doc_id, q.cid AS qcid,
                   round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 4)
                     AS cos
                 FROM e q JOIN e c ON q.doc != c.doc),
          tm AS (SELECT query_id, doc_id, qcid, max(cos) AS mx
                 FROM tp GROUP BY 1, 2, 3),
          tsc AS (SELECT query_id, doc_id, round(sum(mx), 4) + 0.0 AS score
                  FROM tm GROUP BY 1, 2),
          truth AS (SELECT query_id, doc_id FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, doc_id) AS rank FROM tsc)
              WHERE rank <= 3),
          nex AS (SELECT count(*) AS n_exact FROM truth),
          tk AS (SELECT cid, unnest($tableKeysSqlList) AS tkey FROM e),
          cc AS (SELECT DISTINCT a.cid AS qcid, b.cid AS ccid
                 FROM tk a JOIN tk b
                   ON a.tkey = b.tkey AND a.cid != b.cid),
          gsc AS (SELECT eq.doc AS query_id, ec.doc AS doc_id,
                    cc.qcid, cc.ccid,
                    round(list_dot_product(eq.v, ec.v)
                      / (eq.nrm * ec.nrm), 4) AS cos
                  FROM cc JOIN e eq ON eq.cid = cc.qcid
                          JOIN e ec ON ec.cid = cc.ccid
                  WHERE eq.doc != ec.doc),
          rk AS (SELECT *, row_number() OVER (PARTITION BY qcid
                   ORDER BY cos DESC, ccid) AS rn FROM gsc),
          pm AS (SELECT query_id, doc_id, min(rn) AS pmin FROM rk
                 WHERE rn <= 16 GROUP BY 1, 2),
          cp AS (SELECT pm.query_id, pm.doc_id, pm.pmin, q.cid AS qcid,
                   round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 4)
                     AS cos
                 FROM pm JOIN e q ON q.doc = pm.query_id
                         JOIN e c ON c.doc = pm.doc_id),
          cmx AS (SELECT query_id, doc_id, pmin, qcid, max(cos) AS mx
                  FROM cp GROUP BY 1, 2, 3, 4),
          csc AS (SELECT query_id, doc_id, pmin,
                    round(sum(mx), 4) + 0.0 AS score
                  FROM cmx GROUP BY 1, 2, 3),
          cres AS (SELECT knob, query_id, doc_id FROM (
              SELECT u.m AS knob, csc.query_id, csc.doc_id,
                row_number() OVER (PARTITION BY u.m, csc.query_id
                  ORDER BY csc.score DESC, csc.doc_id) AS rank
              FROM (VALUES (4), (8), (16)) AS u(m)
              JOIN csc ON csc.pmin <= u.m)
              WHERE rank <= 3),
          chit AS (SELECT 'chunk_gate' AS method, knob,
                     count(*) AS n_hit
                   FROM cres JOIN truth USING (query_id, doc_id)
                   GROUP BY 1, 2),
          x AS (SELECT doc, i,
                  CAST(v[CAST(i AS INTEGER)] AS DOUBLE) AS xv
                FROM e, UNNEST(range(1, 65)) AS u(i)),
          dv AS (SELECT doc,
                   list(round(mv, 6) + 0.0 ORDER BY i) AS v
                 FROM (SELECT doc, i, avg(xv) AS mv FROM x GROUP BY 1, 2)
                 GROUP BY 1),
          dvn AS (SELECT doc, v,
                    sqrt(list_dot_product(v, v)) AS nrm,
                    $bucket AS bucket FROM dv),
          pgate AS (SELECT q.doc AS query_id, c.doc AS doc_id,
                      round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 4)
                        AS cos
                    FROM dvn q JOIN dvn c
                      ON q.bucket = c.bucket AND q.doc != c.doc),
          psl AS (SELECT query_id, doc_id, rn FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, doc_id) AS rn FROM pgate)
              WHERE rn <= 20),
          pp AS (SELECT psl.query_id, psl.doc_id, psl.rn, q.cid AS qcid,
                   round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 4)
                     AS cos
                 FROM psl JOIN e q ON q.doc = psl.query_id
                          JOIN e c ON c.doc = psl.doc_id),
          pmx AS (SELECT query_id, doc_id, rn, qcid, max(cos) AS mx
                  FROM pp GROUP BY 1, 2, 3, 4),
          psc AS (SELECT query_id, doc_id, rn,
                    round(sum(mx), 4) + 0.0 AS score
                  FROM pmx GROUP BY 1, 2, 3),
          pres AS (SELECT knob, query_id, doc_id FROM (
              SELECT u.s AS knob, psc.query_id, psc.doc_id,
                row_number() OVER (PARTITION BY u.s, psc.query_id
                  ORDER BY psc.score DESC, psc.doc_id) AS rank
              FROM (VALUES (5), (10), (20)) AS u(s)
              JOIN psc ON psc.rn <= u.s)
              WHERE rank <= 3),
          phit AS (SELECT 'pooled' AS method, knob, count(*) AS n_hit
                   FROM pres JOIN truth USING (query_id, doc_id)
                   GROUP BY 1, 2),
          hits AS (SELECT * FROM chit UNION ALL SELECT * FROM phit),
          allrows AS (SELECT * FROM (VALUES
              ('chunk_gate', 4), ('chunk_gate', 8), ('chunk_gate', 16),
              ('pooled', 5), ('pooled', 10), ('pooled', 20))
            AS t(method, knob))
          SELECT a.method, CAST(a.knob AS BIGINT) AS knob,
            nex.n_exact,
            CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
            round(coalesce(h.n_hit, 0) * 1.0 / nex.n_exact, 4) + 0.0
              AS recall
          FROM allrows a CROSS JOIN nex
          LEFT JOIN hits h ON h.method = a.method AND h.knob = a.knob"""
    },
    "q309_mean_pool" ->
      """WITH e AS (SELECT vec_id % 100 AS doc, embedding
                    FROM embeddings),
         x AS (SELECT doc, i,
                 CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS v
               FROM e, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
         m AS (SELECT doc, i, avg(v) AS mv FROM x GROUP BY 1, 2)
         SELECT CAST(doc AS BIGINT) AS doc_id, CAST(i AS BIGINT) AS i,
           round(mv, 6) + 0.0 AS v
         FROM m""",
    "q305_lsh_advisor" ->
      """WITH pairs AS (SELECT CAST(b AS INTEGER) AS bands,
                 CAST(16 // b AS INTEGER) AS rows_per_band
               FROM UNNEST(range(1, 17)) AS t(b) WHERE 16 % b = 0),
         g AS (SELECT bands, rows_per_band,
                 (CAST(i AS DOUBLE) - 0.5) / 100 AS s
               FROM pairs, UNNEST(range(1, 101)) AS u(i)),
         p AS (SELECT bands, rows_per_band, s,
                 1.0 - pow(1.0 - pow(s, rows_per_band), bands) AS pr
               FROM g)
         SELECT bands, rows_per_band,
           round(sum(CASE WHEN s < 0.5 THEN pr ELSE 0.0 END) / 100, 6)
             + 0.0 AS fp_area,
           round(sum(CASE WHEN s >= 0.5 THEN 1.0 - pr ELSE 0.0 END)
             / 100, 6) + 0.0 AS fn_area
         FROM p GROUP BY 1, 2""",
    "q298_char_signals" ->
      s"""WITH base AS (SELECT doc_id, text
             || CASE WHEN doc_id % 3 = 0 THEN ' привет мир' ELSE '' END
             || CASE WHEN doc_id % 5 = 0 THEN ' 你好世界' ELSE '' END
             || CASE WHEN doc_id % 7 = 0 THEN ' مرحبا' ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                  THEN ' aaaaaaaaaaaaaaaaaaaaaaaa' ELSE '' END AS text
           FROM documents),
         ch AS (SELECT doc_id, text,
             list_transform(range(1, length(text) + 1),
               i -> substr(text, CAST(i AS INTEGER), 1)) AS cs
           FROM base)
         SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length(text) - length(regexp_replace(text,
             '\\p{Latin}', '', 'g')) AS BIGINT) AS n_latin,
           CAST(length(text) - length(regexp_replace(text,
             '\\p{Cyrillic}', '', 'g')) AS BIGINT) AS n_cyrillic,
           CAST(length(text) - length(regexp_replace(text,
             '\\p{Han}', '', 'g')) AS BIGINT) AS n_han,
           CAST(length(text) - length(regexp_replace(text,
             '\\p{Arabic}', '', 'g')) AS BIGINT) AS n_arabic,
           CAST(len(list_distinct(cs)) AS BIGINT) AS n_distinct,
           CASE WHEN length(text) = 0 THEN NULL
             ELSE round(-list_sum(list_transform(list_distinct(cs),
               c0 -> (CAST(len(list_filter(cs, x -> x = c0)) AS DOUBLE)
                       / len(cs))
                 * log2(CAST(len(list_filter(cs, x -> x = c0)) AS DOUBLE)
                       / len(cs)))), 6) + 0.0
           END AS entropy_bits
         FROM ch""",
    "q295_threshold_sweep" ->
      """WITH t AS (SELECT unnest([100.0, 200.0, 300.0, 400.0, 500.0])
                      AS threshold),
         g AS (SELECT t.threshold,
                 CAST(sum(CASE WHEN d.n_chars >= t.threshold
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                 CAST(count(*) AS BIGINT) AS total
               FROM t CROSS JOIN documents d GROUP BY 1)
         SELECT threshold, n_kept,
           CASE WHEN total = 0 THEN NULL
                ELSE n_kept * 1000000 // total END AS kept_ppm
         FROM g""",
    "q296_temperature_mix" ->
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n
                    FROM documents GROUP BY 1),
         p AS (SELECT source, n,
                 pow(n / (SELECT CAST(sum(n) AS DOUBLE) FROM c), 0.5)
                   AS u
               FROM c)
         SELECT source, n,
           round(u / (SELECT sum(u) FROM p), 6) + 0.0 AS weight
         FROM p""",
    "q282_gopher_rules" ->
      s"""WITH base AS (SELECT doc_id, text
             || CASE WHEN doc_id % 2 = 0 THEN chr(10) || '• bullet item one'
                  || chr(10) || '• bullet item two' ELSE '' END
             || CASE WHEN doc_id % 3 = 0
                  THEN chr(10) || 'this line trails off...' ELSE '' END
             || CASE WHEN doc_id % 5 = 0 THEN ' ### ## #' ELSE '' END
             || CASE WHEN doc_id % 7 = 0
                  THEN ' the be to of and that have with' ELSE '' END
             || CASE WHEN doc_id % 4 = 0
                  THEN chr(10) || '12345 67890 999 777' ELSE '' END AS text
           FROM documents),
         t AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\\s+'),
               w -> w != '') AS toks,
             str_split(text, chr(10)) AS lines,
             CAST(length(text) - length(replace(text, '#', ''))
               + (length(text) - length(replace(text, '...', ''))) // 3
               AS BIGINT) AS n_symbol_hits
           FROM base),
         s AS (SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(coalesce(list_sum(list_transform(toks,
               w -> length(w))), 0) AS BIGINT) AS sum_word_chars,
             n_symbol_hits,
             CAST(len(lines) AS BIGINT) AS n_lines,
             CAST(len(list_filter(lines, l -> l LIKE '•%'
               OR l LIKE '-%' OR l LIKE '*%')) AS BIGINT) AS n_bullet_lines,
             CAST(len(list_filter(lines, l -> l LIKE '%...'
               OR l LIKE '%…')) AS BIGINT) AS n_ellipsis_lines,
             CAST(len(list_filter(toks,
               w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words,
             CAST(len(list_distinct(list_filter(
               list_transform(toks, w -> lower(w)),
               w -> w IN ('the','be','to','of','and','that','have','with'))))
               AS BIGINT) AS stop_hits
           FROM t)
         SELECT doc_id, n_words, sum_word_chars, n_symbol_hits, n_lines,
             n_bullet_lines, n_ellipsis_lines, n_alpha_words, stop_hits,
             (n_words BETWEEN 50 AND 100000) AS r_word_count,
             (3 * n_words <= sum_word_chars
               AND sum_word_chars <= 10 * n_words) AS r_mean_word_len,
             (10 * n_symbol_hits <= n_words) AS r_symbol_ratio,
             (10 * n_bullet_lines <= 9 * n_lines) AS r_bullet_lines,
             (10 * n_ellipsis_lines <= 3 * n_lines) AS r_ellipsis_lines,
             (5 * n_alpha_words >= 4 * n_words) AS r_alpha_words,
             (stop_hits >= 2) AS r_stopwords,
             ((n_words BETWEEN 50 AND 100000)
               AND 3 * n_words <= sum_word_chars
               AND sum_word_chars <= 10 * n_words
               AND 10 * n_symbol_hits <= n_words
               AND 10 * n_bullet_lines <= 9 * n_lines
               AND 10 * n_ellipsis_lines <= 3 * n_lines
               AND 5 * n_alpha_words >= 4 * n_words
               AND stop_hits >= 2) AS pass
         FROM s""",

    "q283_c4_clean" ->
      s"""WITH base AS (SELECT doc_id, text
             || chr(10) || 'This is a planted sentence for the cleaner.'
             || chr(10) || 'short one.'
             || CASE WHEN doc_id % 3 = 0 THEN chr(10) ||
                  'One more line stays. And another stays! Really stays? Yes it does.'
                  ELSE '' END
             || CASE WHEN doc_id % 7 = 0 THEN chr(10) ||
                  'This mentions javascript code here.' ELSE '' END
             || CASE WHEN doc_id % 11 = 0 THEN chr(10) ||
                  'Lorem ipsum dolor sit amet.' ELSE '' END
             || CASE WHEN doc_id % 13 = 0 THEN chr(10) ||
                  'config = { a: 1 }' ELSE '' END AS text
           FROM documents),
         k AS (SELECT doc_id, text,
             list_filter(str_split(text, chr(10)), l ->
               (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?' OR l LIKE '%"')
               AND len(list_filter(regexp_split_to_array(trim(l), '\\s+'),
                 w -> w != '')) >= 3
               AND NOT contains(lower(l), 'javascript')) AS kl
           FROM base),
         c AS (SELECT doc_id, text,
             array_to_string(kl, chr(10)) AS cleaned,
             CAST(len(kl) AS BIGINT) AS n_lines_kept
           FROM k),
         m AS (SELECT doc_id, text, cleaned, n_lines_kept,
             CAST((length(cleaned) - length(replace(cleaned, '.', '')))
               + (length(cleaned) - length(replace(cleaned, '!', '')))
               + (length(cleaned) - length(replace(cleaned, '?', '')))
               AS BIGINT) AS n_sentences
           FROM c)
         SELECT doc_id, cleaned AS text, n_lines_kept, n_sentences,
             (n_sentences >= 5 AND NOT contains(text, '{')
               AND NOT contains(lower(text), 'lorem ipsum')) AS kept
         FROM m""",

    "q30_exact_dedup" ->
      s"""WITH u AS (SELECT * FROM documents UNION ALL SELECT * FROM documents)
          SELECT $fpSql AS fp, min(doc_id) AS keeper, count(*) AS n_copies
          FROM u GROUP BY 1""",
    "q31_minhash_lsh" ->
      s"""WITH $lshCtes
          SELECT da AS doc_a, db AS doc_b, round(inter/(tot-inter), 4) AS jaccard
          FROM j WHERE round(inter/(tot-inter), 4) >= 0.5""",
    // q170: the 64-bit signature replayed bit-by-bit (same nibble
    // arithmetic as the engine), planted twins re-created, all-pairs
    // Hamming shortcut (correct by the pigeonhole argument the
    // engine's block join implements — agreement proves the candidate
    // join missed nothing).
    "q170_simhash_pairs" ->
      s"""WITH u AS (SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 100000 AS doc_id, text || ' the' AS text
                FROM documents WHERE doc_id % 5 = 0
                UNION ALL
                SELECT doc_id + 200000 AS doc_id, text
                FROM documents WHERE doc_id % 7 = 0),
          t AS (SELECT doc_id, $toksSql AS toks FROM u),
          hh AS (SELECT doc_id, list_transform(toks, t -> md5(t)) AS hs FROM t),
          sig AS MATERIALIZED (SELECT doc_id, $simhash64Sql AS sim FROM hh),
          p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(len(list_filter(range(1, 65), i ->
                    substr(a.sim, CAST(i AS INTEGER), 1) !=
                    substr(b.sim, CAST(i AS INTEGER), 1))) AS INTEGER) AS hamming
                FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
          SELECT doc_a, doc_b, hamming FROM p WHERE hamming <= 3""",

    // q172: all-pairs Levenshtein shortcut — agreeing with the engine's
    // segment-join path proves the candidate join missed nothing.
    "q172_editdist_pairs" ->
      """WITH b AS (SELECT doc_id, substr(text, 1, 48) AS s FROM documents
                    WHERE n_chars >= 48),
          t AS (SELECT doc_id, s FROM b
                UNION ALL
                SELECT doc_id + 100000 AS doc_id,
                       substr(s, 1, 20) || substr(s, 22, 27) AS s
                FROM b WHERE doc_id % 2 = 0),
          p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  CAST(levenshtein(a.s, b.s) AS INTEGER) AS dist
                FROM t a JOIN t b ON a.doc_id < b.doc_id)
          SELECT id_a, id_b, dist FROM p WHERE dist <= 2""",

    // q174: the A-ES key replayed arithmetically — same md5-derived
    // uniform, same ln(u)/w transform, same top-100 with the id tiebreak.
    "q174_weighted_sample" ->
      """WITH t AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS w,
               ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) + 1) / 4294967296.0) / n_chars AS skey
             FROM documents WHERE n_chars > 0)
         SELECT doc_id, CAST(w AS BIGINT) AS n_chars, round(skey, 6) AS skey
         FROM t ORDER BY t.skey DESC, doc_id ASC LIMIT 100""",

    "q176_bpe_train" -> bpeOracle(8),
    // q369: shared CDC chain (see cdcDedupOracle).
    "q369_cdc_dedup" -> cdcDedupOracle,
    "q382_cdc_ratio" -> cdcRatioOracle,

    // q375: the streaming extraction must roll up to exactly the
    // batch dedup table — the oracle IS q369's.
    "q375_cdc_stream" -> cdcDedupOracle,

    // q387: the repaired text must equal the clean pre-corruption
    // string (rebuilt with chr(228)); the changed flag is 1 exactly on
    // the corrupted modes where the injection actually landed.
    "q387_fix_encoding" ->
      """WITH c AS (SELECT doc_id, text,
              CASE WHEN doc_id % 4 = 0 THEN text
                   ELSE replace(text, 'data',
                        'd' || chr(228) || 't' || chr(228)) END AS clean
            FROM documents)
         SELECT doc_id,
              CASE WHEN doc_id % 4 IN (1, 2) AND contains(text, 'data')
                   THEN 1 ELSE 0 END AS was_changed,
              md5(clean) AS fixed_md5
         FROM c""",

    // q366: DuckDB's own nfc_normalize IS the second implementation —
    // suffixes rebuilt from the shared codepoint constant via chr().
    "q366_nfc_normalize" -> {
      val cases = NfcSuffixCps.zipWithIndex.map { case (cps, i) =>
        s"WHEN $i THEN ${cps.map(cp => s"chr($cp)").mkString(" || ")}"
      }.mkString(" ")
      s"""WITH t AS (SELECT doc_id,
               text || ' ' || CASE CAST(doc_id % 5 AS INTEGER)
                 $cases END AS txt
             FROM documents),
          n AS (SELECT doc_id, txt, nfc_normalize(txt) AS nt FROM t)
          SELECT doc_id,
               CASE WHEN nt = txt THEN 0 ELSE 1 END AS changed,
               CAST(length(txt) AS INTEGER) AS n_before,
               CAST(length(nt) AS INTEGER) AS n_after,
               md5(nt) AS nfc_md5
          FROM n"""
    },
    "q342_byte_bpe_train" -> byteBpeOracle(8),
    "q343_byte_bpe_encode" -> byteBpeEncodeOracle(8),
    // q352/q353: the byte-BPE oracles with the GPT-2 pretokenizer and
    // its contraction fixture swapped in — training under the hash.
    "q352_gpt2_bpe_train" -> byteBpeOracle(8, gpt2ToksSql, gpt2DocsSql),
    "q353_gpt2_bpe_encode" ->
      byteBpeEncodeOracle(8, "", gpt2ToksSql, gpt2DocsSql),
    // q347: the stored-artifact encode must equal the direct encode —
    // q343's oracle with the catalog version (1 on a fresh dir).
    "q347_tokenizer_artifact" ->
      byteBpeEncodeOracle(8, ", CAST(1 AS BIGINT) AS tokenizer_version"),
    // q349: the md5 order key and the ordered sequence digest replayed
    // — string_agg ORDER BY (okey, doc_id) equals the engine's
    // partition-local sort + streaming digest.
    "q349_epoch_shuffle" ->
      """WITH e AS (SELECT doc_id, ep.epoch
            FROM documents, (VALUES (0), (1), (2)) AS ep(epoch)),
          k AS (SELECT epoch, CAST(doc_id % 4 AS INTEGER) AS shard, doc_id,
                  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                    CAST(epoch AS VARCHAR)), 1, 15)) AS BIGINT) AS okey
                FROM e)
          SELECT CAST(epoch AS INTEGER) AS epoch, shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               md5(string_agg(CAST(doc_id AS VARCHAR), ','
                 ORDER BY okey, doc_id)) AS order_md5
          FROM k GROUP BY 1, 2""",
    "q327_wordpiece_train" -> wordpieceOracle(8),
    "q328_wordpiece_encode" -> wordpieceEncodeOracle(8),
    // q338: gates + rank + snake + per-shard aggregates — the whole
    // export pipeline under one hash.
    "q338_training_export" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
          g AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
                  $qualitySql AS qual, $langCaseSql AS lang
                FROM t),
          f AS (SELECT doc_id, n_tokens FROM g
                WHERE qual >= 0.3 AND lang = 'en'),
          r AS (SELECT doc_id, n_tokens,
                  row_number() OVER (ORDER BY n_tokens DESC, doc_id ASC) - 1
                    AS rk
                FROM f),
          sh AS (SELECT n_tokens,
                   CASE WHEN rk % 8 < 4 THEN rk % 8 ELSE 7 - rk % 8 END
                     AS shard
                 FROM r)
          SELECT CAST(shard AS INTEGER) AS shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS token_sum,
               CAST(min(n_tokens) AS BIGINT) AS min_tokens,
               CAST(max(n_tokens) AS BIGINT) AS max_tokens
          FROM sh GROUP BY 1""",

    // q344: batch-1 snake, lightest-first permutation from its shard
    // totals, batch-2 snake THROUGH the permutation, merged per-shard
    // totals + both spreads + the catalog version — the incremental
    // export replayed end-to-end.
    "q344_incremental_export" ->
      s"""WITH t AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens
            FROM documents),
          r1 AS (SELECT doc_id, n_tokens,
                   row_number() OVER (ORDER BY n_tokens DESC, doc_id ASC) - 1
                     AS rk
                 FROM t WHERE doc_id % 2 = 0),
          cur AS (SELECT doc_id, n_tokens,
                    CASE WHEN rk % 16 < 8 THEN rk % 16
                         ELSE 15 - rk % 16 END AS shard
                  FROM r1),
          tot AS (SELECT shard, SUM(n_tokens) AS tot FROM cur GROUP BY 1),
          perm AS (SELECT s.shard,
                     row_number() OVER (ORDER BY COALESCE(tot, 0) ASC,
                                        s.shard ASC) - 1 AS idx
                   FROM (SELECT unnest(range(0, 8)) AS shard) s
                   LEFT JOIN tot ON tot.shard = s.shard),
          r2 AS (SELECT doc_id, n_tokens,
                   row_number() OVER (ORDER BY n_tokens DESC, doc_id ASC) - 1
                     AS rk
                 FROM t WHERE doc_id % 2 = 1),
          di AS (SELECT doc_id, n_tokens,
                   CASE WHEN rk % 16 < 8 THEN rk % 16
                        ELSE 15 - rk % 16 END AS idx
                 FROM r2),
          inc AS (SELECT di.doc_id, di.n_tokens, p.shard
                  FROM di JOIN perm p ON p.idx = di.idx),
          merged AS (SELECT n_tokens, shard FROM cur
                     UNION ALL SELECT n_tokens, shard FROM inc),
          summ AS (SELECT shard, count(*) AS n_docs,
                     SUM(n_tokens) AS token_sum
                   FROM merged GROUP BY 1),
          isp AS (SELECT MAX(token_sum) - MIN(token_sum) AS inc_spread
                  FROM summ),
          ra AS (SELECT n_tokens,
                   row_number() OVER (ORDER BY n_tokens DESC, doc_id ASC) - 1
                     AS rk
                 FROM t),
          fsp AS (SELECT MAX(ts) - MIN(ts) AS full_spread FROM (
                    SELECT SUM(n_tokens) AS ts FROM (
                      SELECT n_tokens,
                        CASE WHEN rk % 16 < 8 THEN rk % 16
                             ELSE 15 - rk % 16 END AS shard
                      FROM ra) GROUP BY shard))
          SELECT CAST(summ.shard AS INTEGER) AS shard,
               CAST(n_docs AS BIGINT) AS n_docs,
               CAST(token_sum AS BIGINT) AS token_sum,
               CAST(inc_spread AS BIGINT) AS inc_spread,
               CAST(full_spread AS BIGINT) AS full_spread,
               CAST(2 AS BIGINT) AS catalog_version
          FROM summ, isp, fsp""",

    // q329: global (tokens desc, doc_id) rank, then the 0..7,7..0
    // zigzag — rank % 16 folded about the midpoint.
    "q329_token_shards" ->
      s"""WITH t AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens
            FROM documents),
          r AS (SELECT doc_id, n_tokens,
                  row_number() OVER (ORDER BY n_tokens DESC, doc_id ASC) - 1
                    AS rk
                FROM t)
          SELECT doc_id, n_tokens,
               CAST(CASE WHEN rk % 16 < 8 THEN rk % 16
                         ELSE 15 - rk % 16 END AS INTEGER) AS shard
          FROM r""",
    "q324_unigram_train" -> unigramTrainOracle(2),
    "q325_unigram_encode" -> unigramEncodeOracle(2),
    "q312_quality_classifier" ->
      s"WITH ${logregChain(40, 4.0)}\nSELECT doc_id, score FROM scored",
    "q313_classifier_metrics" ->
      s"""WITH ${logregChain(40, 4.0)},
          ${metricsSql("scored")}""",
    "q319_holdout_metrics" ->
      s"""WITH ${logregChain(40, 4.0, holdout = true)},
          test AS (SELECT * FROM scored WHERE bkt >= 800000),
          ${metricsSql("test")}""",

    "q177_pca_project" -> pcaOracle(30, 64),
    "q332_pca_whiten" -> pcaWhitenOracle(30, 64, 2),

    // q178: the q69 clustering replayed (af CTE) + class-TF-IDF top-5
    // per cluster (q68/q104's window replay over cluster pseudo-docs).
    "q178_cluster_topics" ->
      s"""WITH ${kmeansSqlCtes(8, 2)},
          tt AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
          jj AS (SELECT af.cluster, tt.term
                 FROM tt JOIN af ON tt.doc_id = af.vec_id),
          ctf AS (SELECT cluster, term, count(*) AS tf FROM jj GROUP BY 1, 2),
          cdf AS (SELECT term, count(*) AS df FROM ctf GROUP BY 1),
          ncl AS (SELECT count(DISTINCT cluster) AS n FROM ctf),
          sc AS (SELECT ctf.cluster, ctf.term, ctf.tf,
                   round(ctf.tf * ln(CAST(n AS DOUBLE) / cdf.df), 4) AS score
                 FROM ctf JOIN cdf ON ctf.term = cdf.term CROSS JOIN ncl)
          SELECT cluster, term, CAST(tf AS BIGINT) AS tf, score,
                 CAST(rn AS INTEGER) AS rank
          FROM (SELECT *, row_number() OVER (PARTITION BY cluster
                  ORDER BY score DESC, term) AS rn FROM sc)
          WHERE rn <= 5""",

    "q179_bpe_encode" -> bpeEncodeOracle(8),

    // q187: truth ranking, 16-table ANN ranking, and the discounted
    // gain replayed; log2 written as ln(x)/ln(2) on both sides.
    "q187_ndcg" -> {
      val bits = 4
      val tables = 16
      val tkeys = "[" + (0 until tables).map { t =>
        s"('$t:' || " + (1 to bits).map(i =>
          s"(CASE WHEN e[${t * bits + i}] >= 0 THEN '1' ELSE '0' END)")
          .mkString(" || ") + ")"
      }.mkString(", ") + "]"
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
             FROM embeddings),
          pe AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   $cosSql AS cos
                 FROM v q JOIN v c ON q.vec_id != c.vec_id
                 WHERE q.vec_id < 50),
          exact AS (SELECT query_id, neighbor_id, rn FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS rn FROM pe) WHERE rn <= 3),
          tk AS (SELECT vec_id, unnest($tkeys) AS tkey FROM v),
          tc AS (SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
                 FROM tk a JOIN tk b ON a.tkey = b.tkey AND a.vec_id != b.vec_id),
          pt AS (SELECT query_id, neighbor_id, $cosSql AS cos
                 FROM tc JOIN v q ON tc.query_id = q.vec_id
                         JOIN v c ON tc.neighbor_id = c.vec_id),
          mt AS (SELECT query_id, neighbor_id, rn FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS rn FROM pt) WHERE rn <= 3),
          terms AS (SELECT mt.query_id,
                     COALESCE(CAST(4 - exact.rn AS DOUBLE), 0.0) /
                       (ln(mt.rn + 1.0) / ln(2.0)) AS term
                   FROM mt LEFT JOIN exact
                     ON mt.query_id = exact.query_id
                    AND mt.neighbor_id = exact.neighbor_id
                   WHERE mt.query_id < 50)
          SELECT query_id,
            round(SUM(term) / (3.0 / (ln(2.0) / ln(2.0)) +
              2.0 / (ln(3.0) / ln(2.0)) + 1.0 / (ln(4.0) / ln(2.0))), 4)
              + 0.0 AS ndcg
          FROM terms GROUP BY 1"""
    },

    // q188: both hashed-bigram count tables, the smoothed ratio (one
    // double division of two integer products), and the top-200
    // replayed; the md5-bucket rule is the q73-proven hashGate idiom.
    "q188_dsir_select" ->
      s"""WITH t AS (SELECT doc_id, lang, $toksSql AS ts FROM documents),
          bg AS (SELECT doc_id, lang = 'en' AS is_target,
                   ts[CAST(i AS INTEGER)] || ' ' ||
                     ts[CAST(i+1 AS INTEGER)] AS bigram
                 FROM t, UNNEST(range(1, len(ts))) AS u(i)),
          bb AS (SELECT doc_id, is_target,
                   CAST(('0x' || substr(md5(bigram), 1, 8)) AS BIGINT) % 1024
                     AS b
                 FROM bg),
          cr AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM bb GROUP BY 1),
          ct AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM bb
                 WHERE is_target GROUP BY 1),
          tot AS (SELECT (SELECT SUM(cr) FROM cr) AS nr,
                         (SELECT SUM(ct) FROM ct) AS nt),
          sc AS (SELECT bb.doc_id,
                   ln(CAST((COALESCE(ct.ct, 0) + 1) * (tot.nr + 1024) AS DOUBLE) /
                      CAST((cr.cr + 1) * (tot.nt + 1024) AS DOUBLE)) AS term
                 FROM bb JOIN cr ON bb.b = cr.b
                         LEFT JOIN ct ON bb.b = ct.b CROSS JOIN tot)
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                 round(SUM(term), 4) + 0.0 AS score
          FROM sc GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 200""",

    // q183: identical operand order to Corpus.sourceDivergence; + 0.0
    // collapses a rounded −0.0.
    "q183_source_divergence" ->
      s"""WITH t AS (SELECT source, unnest($toksSql) AS term FROM documents),
          cg AS (SELECT source, term, CAST(count(*) AS BIGINT) AS cg
                 FROM t GROUP BY 1, 2),
          ct AS (SELECT term, SUM(cg) AS ct FROM cg GROUP BY 1),
          ng AS (SELECT source, SUM(cg) AS ng FROM cg GROUP BY 1),
          nt AS (SELECT SUM(ct) AS nt FROM ct)
          SELECT cg.source,
            round(SUM((CAST(cg AS DOUBLE) / ng.ng) *
              ln((CAST(cg AS DOUBLE) * nt.nt) /
                 (CAST(ng.ng AS DOUBLE) * ct.ct))), 6) + 0.0 AS kl,
            CAST(max(ng.ng) AS BIGINT) AS n_tokens
          FROM cg JOIN ct ON cg.term = ct.term
                  JOIN ng ON cg.source = ng.source CROSS JOIN nt
          GROUP BY 1""",

    "q184_pmi_bigrams" ->
      s"""WITH tt AS (SELECT $toksSql AS ts FROM documents),
          uni AS (SELECT t, CAST(count(*) AS BIGINT) AS cu
                  FROM (SELECT unnest(ts) AS t FROM tt) GROUP BY 1),
          bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM (
                   SELECT ts[CAST(i AS INTEGER)] AS w1,
                          ts[CAST(i+1 AS INTEGER)] AS w2
                   FROM tt, UNNEST(range(1, len(ts))) AS u(i))
                 GROUP BY 1, 2),
          nu AS (SELECT SUM(cu) AS nu FROM uni),
          nb AS (SELECT SUM(cb) AS nb FROM bi)
          SELECT w1, w2, cb,
            round(ln((CAST(cb AS DOUBLE) / nb.nb) /
                 ((CAST(c1 AS DOUBLE) / nu.nu) *
                  (CAST(c2 AS DOUBLE) / nu.nu))), 4) + 0.0 AS pmi
          FROM (SELECT bi.w1, bi.w2, bi.cb, u1.cu AS c1, u2.cu AS c2
                FROM bi JOIN uni u1 ON bi.w1 = u1.t
                        JOIN uni u2 ON bi.w2 = u2.t
                WHERE bi.cb >= 5) CROSS JOIN nu CROSS JOIN nb
          ORDER BY pmi DESC, w1, w2 LIMIT 20""",

    // q157: exact all-pairs baseline vs the band join's found pairs.
    "q157_lsh_pair_recall" ->
      s"""WITH $lshCtes,
          found AS (SELECT da, db FROM j
                    WHERE round(inter/(tot-inter), 4) >= 0.5),
          exj AS (SELECT a.doc_id AS da, b.doc_id AS db,
                    len(list_filter(a.shs, x -> list_contains(b.shs, x))) * 1.0 AS inter,
                    len(a.shs) + len(b.shs) AS tot
                  FROM s2 a JOIN s2 b ON a.doc_id < b.doc_id),
          exact AS (SELECT da, db FROM exj
                    WHERE round(inter/(tot-inter), 4) >= 0.5)
          SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
                 CAST((SELECT count(*) FROM found) AS BIGINT) AS n_found,
                 round((SELECT count(*) FROM found) * 1.0 /
                       (SELECT count(*) FROM exact), 4) AS recall""",
    "q32_token_stats" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents)
          SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens,
            CAST(len(list_distinct(toks)) AS INTEGER) AS n_uniq,
            round(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                  / len(toks), 4) AS avg_tok_len,
            CAST(ceil(length(text) / 4.0) AS INTEGER) AS bpe_est
          FROM t WHERE len(toks) > 0""",
    "q33_fingerprint" ->
      s"""WITH n AS (SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS nrm
                     FROM documents)
          SELECT doc_id, md5(nrm) AS fp,
            CASE WHEN length(nrm) < 8 THEN md5(nrm)
                 ELSE list_min(list_transform(generate_series(1, length(nrm)-7),
                        i -> md5(substr(nrm, CAST(i AS INTEGER), 8)))) END AS min_fp
          FROM n""",
    "q34_simhash" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          hh AS (SELECT doc_id, list_transform(toks, t -> md5(t)) AS hs FROM t),
          sig AS (SELECT doc_id, $simhashSql AS simhash FROM hh)
          SELECT simhash, count(*) AS n, min(doc_id) AS min_id
          FROM sig GROUP BY simhash HAVING count(*) > 1""",
    "q35_ngram_jaccard" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          s AS (SELECT doc_id, ${shinglesSql(ShingleN)} AS shs FROM t),
          s2 AS (SELECT doc_id, shs FROM s WHERE len(shs) > 0),
          ex0 AS (SELECT doc_id, unnest(shs) AS sh FROM s2),
          kept AS (SELECT sh FROM ex0 GROUP BY sh HAVING count(*) <= $MaxShingleDf),
          ex AS (SELECT e.doc_id, e.sh FROM ex0 e JOIN kept USING (sh)),
          sz AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
          ov AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS m
                 FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
          j AS (SELECT doc_a, doc_b,
                  round(m * 1.0 / (sa.n + sb.n - m), 4) AS jaccard
                FROM ov JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id)
          SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.3""",
    "q36_cosine_topk" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))) AS nrm
                     FROM embeddings),
          p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $cosSql AS cos
                FROM v q JOIN v c ON q.vec_id != c.vec_id WHERE q.vec_id < 50)
          SELECT query_id, neighbor_id, cos, CAST(rn AS INTEGER) AS rank
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, neighbor_id) AS rn FROM p)
          WHERE rn <= 3""",
    "q37_ann_bucket" -> {
      val bucket = "concat(" + (1 to 4).map(i =>
        s"CASE WHEN embedding[$i] >= 0 THEN '1' ELSE '0' END").mkString(", ") + ")"
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))) AS nrm,
                       $bucket AS bucket
                     FROM embeddings),
          p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $cosSql AS cos
                FROM v q JOIN v c ON q.bucket = c.bucket AND q.vec_id != c.vec_id)
          SELECT query_id, neighbor_id, cos, CAST(rn AS INTEGER) AS rank
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, neighbor_id) AS rn FROM p)
          WHERE rn <= 3"""
    },
    "q63_embed_neardup" -> {
      val bucket = "concat(" + (1 to 4).map(i =>
        s"CASE WHEN embedding[$i] >= 0 THEN '1' ELSE '0' END").mkString(", ") + ")"
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))) AS nrm,
                       $bucket AS bucket
                     FROM embeddings)
          SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
                 round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4) AS cos
          FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
          WHERE round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4) >= 0.4"""
    },
    "q64_ivf_ann" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))) AS nrm
                     FROM embeddings),
          cent AS (SELECT vec_id AS cid, e AS ce, nrm AS cnrm
                   FROM (SELECT * FROM v ORDER BY vec_id LIMIT 8)),
          asg AS (SELECT v.vec_id, c.cid,
                    round(list_dot_product(v.e, c.ce) / (v.nrm * c.cnrm), 4) AS rc
                  FROM v CROSS JOIN cent c),
          cell AS (SELECT vec_id, cid AS cell FROM
                     (SELECT *, row_number() OVER (PARTITION BY vec_id
                        ORDER BY rc DESC, cid) AS rn FROM asg)
                   WHERE rn = 1),
          p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $cosSql AS cos
                FROM v q JOIN cell qc ON q.vec_id = qc.vec_id
                     JOIN cell cc ON qc.cell = cc.cell
                     JOIN v c ON c.vec_id = cc.vec_id AND q.vec_id != c.vec_id)
          SELECT query_id, neighbor_id, cos, CAST(rn AS INTEGER) AS rank
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, neighbor_id) AS rn FROM p)
          WHERE rn <= 3""",
    "q66_dedup_clusters" ->
      s"""WITH RECURSIVE $lshCtes,
          pairs AS (SELECT da, db FROM j
                    WHERE round(inter/(tot-inter), 4) >= 0.5),
          edges AS (SELECT da AS u, db AS v FROM pairs
                    UNION SELECT db, da FROM pairs),
          nodes AS (SELECT DISTINCT u FROM edges),
          reach(u, v) AS (SELECT u, u FROM nodes
                          UNION
                          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
          SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u""",
    "q67_repetition" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          t2 AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
          b AS (SELECT doc_id, toks,
                  list_transform(generate_series(1, len(toks)-1),
                    i -> array_to_string(toks[i:i+1], ' ')) AS bgs
                FROM t2)
          SELECT doc_id,
            round(CAST(list_max(list_transform(list_distinct(toks),
                    x -> len(list_filter(toks, y -> y = x)))) AS DOUBLE)
                  / len(toks), 4) AS top_tok_frac,
            round(CAST(list_max(list_transform(list_distinct(bgs),
                    x -> len(list_filter(bgs, y -> y = x)))) AS DOUBLE)
                  / len(bgs), 4) AS top_bigram_frac,
            round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4)
              AS uniq_frac
          FROM b""",
    "q68_tfidf" -> tfidfTop3Sql,
    // identical oracle: the aggregator must reproduce the window-sort
    // derivation exactly
    "q104_topk_agg" -> tfidfTop3Sql,
    "q69_kmeans" ->
      s"""WITH ${kmeansSqlCtes(8, 2)}
          SELECT vec_id, cluster FROM af""",
    // SemDeDup: replayed k-means (the af CTE) + within-cluster cosine
    // pairs; the larger id of each >= 0.4 pair is removed
    "q108_semdedup" ->
      s"""WITH ${kmeansSqlCtes(8, 2)},
          wc AS (SELECT a.vec_id, a.cluster, a.e, v.nrm
                 FROM af a JOIN v USING (vec_id)),
          rm AS (SELECT DISTINCT b.vec_id
                 FROM wc a JOIN wc b
                   ON a.cluster = b.cluster AND a.vec_id < b.vec_id
                 WHERE a.nrm * b.nrm <> 0
                   AND round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4) >= 0.4)
          SELECT af.vec_id, af.cluster,
                 (rm.vec_id IS NOT NULL) AS removed
          FROM af LEFT JOIN rm ON af.vec_id = rm.vec_id""",
    // identical dedup pass over the SAMPLED-seed clustering: the only
    // delta vs q108 is the seed CTE chain (hash sample + farthest-point)
    "q114_semdedup_sampled" ->
      s"""WITH ${kmeansSqlCtes(8, 2, sampled = true)},
          wc AS (SELECT a.vec_id, a.cluster, a.e, v.nrm
                 FROM af a JOIN v USING (vec_id)),
          rm AS (SELECT DISTINCT b.vec_id
                 FROM wc a JOIN wc b
                   ON a.cluster = b.cluster AND a.vec_id < b.vec_id
                 WHERE a.nrm * b.nrm <> 0
                   AND round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4) >= 0.4)
          SELECT af.vec_id, af.cluster,
                 (rm.vec_id IS NOT NULL) AS removed
          FROM af LEFT JOIN rm ON af.vec_id = rm.vec_id""",
    // 64-dim embeddings → two 32-bit blocks; bit j of block b set iff
    // e[32b + j] >= 0 (1-based list indexing in DuckDB)
    "q111_binary_quantize" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
          c AS (SELECT vec_id, b.b AS block,
                  list_reduce(list_transform(range(1, 33),
                    j -> CASE WHEN e[32 * b.b + j] >= 0
                              THEN (1::BIGINT << (j - 1)) ELSE 0::BIGINT END),
                    (a, x) -> a | x) AS code
                FROM v CROSS JOIN (SELECT unnest([0, 1]) AS b) b)
          SELECT vec_id, CAST(block AS INTEGER) AS block, code FROM c""",
    "q112_hamming_topk" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
          c AS (SELECT vec_id,
                  list_transform([0, 1], b ->
                    list_reduce(list_transform(range(1, 33),
                      j -> CASE WHEN e[32 * b + j] >= 0
                                THEN (1::BIGINT << (j - 1)) ELSE 0::BIGINT END),
                      (a, x) -> a | x)) AS codes
                FROM v),
          p AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                  CAST(bit_count(CAST(xor(q.codes[1], n.codes[1]) AS BIGINT)) +
                       bit_count(CAST(xor(q.codes[2], n.codes[2]) AS BIGINT))
                       AS INTEGER) AS hamming
                FROM c q JOIN c n ON q.vec_id != n.vec_id)
          SELECT query_id, neighbor_id, hamming, CAST(rn AS INTEGER) AS rank
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY hamming ASC, neighbor_id ASC) AS rn FROM p)
          WHERE rn <= 3""",
    // the composed funnel replayed stage by stage: 16-table candidate
    // join → integer Hamming shortlist (64/query) → exact cosine top-3
    "q113_binary_prefilter" -> {
      val bits = 4
      val tables = 16
      val tkeys = "[" + (0 until tables).map { t =>
        s"('$t:' || " + (1 to bits).map(i =>
          s"(CASE WHEN e[${t * bits + i}] >= 0 THEN '1' ELSE '0' END)")
          .mkString(" || ") + ")"
      }.mkString(", ") + "]"
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
             FROM embeddings),
          tk AS (SELECT vec_id, unnest($tkeys) AS tkey FROM v),
          tc AS (SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
                 FROM tk a JOIN tk b ON a.tkey = b.tkey AND a.vec_id != b.vec_id),
          bc AS (SELECT vec_id,
                  list_transform([0, 1], blk ->
                    list_reduce(list_transform(range(1, 33),
                      j -> CASE WHEN e[32 * blk + j] >= 0
                                THEN (1::BIGINT << (j - 1)) ELSE 0::BIGINT END),
                      (a, x) -> a | x)) AS codes
                FROM v),
          hm AS (SELECT t.query_id, t.neighbor_id,
                  bit_count(CAST(xor(cq.codes[1], cn.codes[1]) AS BIGINT)) +
                  bit_count(CAST(xor(cq.codes[2], cn.codes[2]) AS BIGINT)) AS hamming
                FROM tc t JOIN bc cq ON t.query_id = cq.vec_id
                          JOIN bc cn ON t.neighbor_id = cn.vec_id),
          sl AS (SELECT query_id, neighbor_id FROM (
                  SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY hamming, neighbor_id) AS rn FROM hm)
                WHERE rn <= 64),
          sc AS (SELECT s.query_id, s.neighbor_id,
                  round(list_dot_product(q.e, n.e) / (q.nrm * n.nrm), 4) AS cos
                FROM sl s JOIN v q ON s.query_id = q.vec_id
                          JOIN v n ON s.neighbor_id = n.vec_id)
          SELECT query_id, neighbor_id, cos, CAST(rn AS INTEGER) AS rank
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, neighbor_id) AS rn FROM sc)
          WHERE rn <= 3"""
    },
    // weights fold left-to-right in TOKEN ORDER on both engines (same
    // tokenization → same order → identical IEEE sum); list_reduce on
    // an empty list errors, so the CASE guards short docs
    "q109_hashed_linear" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          w AS (SELECT doc_id, len(toks) AS n,
                  list_transform(toks, tk ->
                    CAST((CAST(('0x' || substr(md5(tk), 1, 8)) AS BIGINT) % 2001 - 1000)
                         AS DOUBLE) / 1000.0) AS ws
                FROM t)
          SELECT doc_id, CAST(n AS INTEGER) AS n_tokens,
                 round(CASE WHEN n = 0 THEN 0.1
                       ELSE 0.1 + list_reduce(ws, (a, b) -> a + b) / n END, 4)
                   AS lin_score
          FROM w""",
    "q71_scrub" -> {
      val url = TextFunctions.UrlRe
      val email = TextFunctions.EmailRe
      s"""WITH inj AS (SELECT doc_id,
              concat_ws(' ', text,
                concat('see http://example.com/doc/', CAST(doc_id AS VARCHAR), '?ref=a'),
                concat('mail user', CAST(doc_id AS VARCHAR), '@example.org')) AS text
            FROM documents)
          SELECT doc_id,
            CAST(len(regexp_extract_all(text, '$url')) AS INTEGER) AS n_urls,
            CAST(len(regexp_extract_all(text, '$email')) AS INTEGER) AS n_emails,
            md5(regexp_replace(regexp_replace(text, '$url', '<URL>', 'g'),
                               '$email', '<EMAIL>', 'g')) AS redacted_md5
          FROM inj"""
    },
    "q72_ann_multiprobe" -> {
      val bits = 4
      val bucket = "concat(" + (1 to bits).map(i =>
        s"CASE WHEN embedding[$i] >= 0 THEN '1' ELSE '0' END").mkString(", ") + ")"
      val flips = (1 to bits).map { i =>
        s"""SELECT vec_id, concat(substr(bucket, 1, ${i - 1}),
              CASE WHEN substr(bucket, $i, 1) = '1' THEN '0' ELSE '1' END,
              substr(bucket, ${i + 1}, ${bits - i})) AS probe FROM v"""
      }.mkString(" UNION ALL ")
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm,
               $bucket AS bucket
             FROM embeddings),
          probes AS (SELECT vec_id, bucket AS probe FROM v UNION ALL $flips),
          p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $cosSql AS cos
                FROM v q JOIN probes pr ON pr.vec_id = q.vec_id
                     JOIN v c ON pr.probe = c.bucket AND q.vec_id != c.vec_id)
          SELECT query_id, neighbor_id, cos, CAST(rn AS INTEGER) AS rank
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, neighbor_id) AS rn FROM p)
          WHERE rn <= 3"""
    },
    "q73_hash_sample" ->
      s"""WITH t AS (SELECT doc_id, n_chars, $toksSql AS toks FROM documents),
          l AS (SELECT doc_id, n_chars, $langCaseSql AS lang FROM t)
          SELECT doc_id, lang, n_chars FROM l
          WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
                < CASE WHEN lang = 'en' THEN 30 ELSE 80 END""",
    "q76_nfc_normalize" ->
      s"""WITH r AS (SELECT doc_id, text || ' cafe' || chr(769) AS raw
                     FROM documents)
          SELECT doc_id,
            CAST(length(raw) AS INTEGER) AS n_raw,
            CAST(length(nfc_normalize(raw)) AS INTEGER) AS n_nfc,
            md5(nfc_normalize(raw)) AS nfc_md5
          FROM r""",
    "q38_langid" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents)
          SELECT doc_id, $langCaseSql AS lang_guess FROM t""",
    "q317_matryoshka_recall" -> {
      val dims = Seq(8, 16, 32)
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
           FROM embeddings),
          pe AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 4)
                     AS cos
                 FROM v q JOIN v c ON q.vec_id != c.vec_id),
          exact AS (SELECT query_id, neighbor_id FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS rn FROM pe)
              WHERE rn <= 3),
          ne AS (SELECT count(*) AS n_exact FROM exact),
          ${dims.map { dm =>
            s"""t$dm AS (SELECT vec_id, e[1:$dm] AS e,
                   sqrt(list_dot_product(e[1:$dm], e[1:$dm])) AS nrm
                 FROM v),
          p$dm AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 4)
                     AS cos
                 FROM t$dm q JOIN t$dm c ON q.vec_id != c.vec_id),
          k$dm AS (SELECT query_id, neighbor_id FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS rn FROM p$dm)
              WHERE rn <= 3),
          h$dm AS (SELECT count(*) AS n_hit
                 FROM k$dm JOIN exact USING (query_id, neighbor_id))"""
          }.mkString(",\n          ")}
          ${dims.map { dm =>
            s"""SELECT CAST($dm AS INTEGER) AS dim, ne.n_exact,
               h$dm.n_hit,
               round(h$dm.n_hit * 1.0 / ne.n_exact, 4) AS recall
             FROM h$dm, ne"""
          }.mkString("\n          UNION ALL\n          ")}"""
    },
    "q316_split_sentences" ->
      """WITH p AS (SELECT doc_id,
               regexp_split_to_array(
                 regexp_replace(text, ' data ', '. ', 'g'),
                 '[.!?]+\s+') AS parts
             FROM documents),
          s AS (SELECT doc_id, CAST(i AS INTEGER) AS sent_id,
                  trim(parts[CAST(i AS INTEGER)]) AS sentence
                FROM p, UNNEST(range(1, len(parts) + 1)) AS u(i))
          SELECT doc_id, sent_id, sentence,
            CAST(length(sentence) AS INTEGER) AS n_chars
          FROM s WHERE sentence != ''""",
    "q315_strip_accents" ->
      s"""WITH r AS (SELECT doc_id, text || ' ' || chr(203) || 'x'
               || chr(224) || 'mpl' || chr(233) || ' ' || chr(241) || 'o'
               || chr(241) || 'o ' || chr(231) || chr(233)
               || 'dille cafe' || chr(769) AS raw
             FROM documents)
          SELECT doc_id,
            CAST(length(raw) AS INTEGER) AS n_raw,
            CAST(length(strip_accents(raw)) AS INTEGER) AS n_plain,
            md5(strip_accents(raw)) AS plain_md5
          FROM r""",
    // The sketch pass only PROPOSES candidates; the result is the exact
    // GROUP BY — integer threshold freq*k > N, no float edge.
    "q89_heavy_hitters" ->
      s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
          s AS (SELECT unnest(toks) AS term FROM t),
          n AS (SELECT count(*) AS nn FROM s)
          SELECT term, count(*) AS freq FROM s, n
          GROUP BY term, nn HAVING count(*) * 30 > nn""",

    // q141: every 3-gram OCCURRENCE (no per-doc dedup — the counting
    // semantics), threshold as plain HAVING; the engine's sketch is an
    // internal prefilter that cannot change the exact output.
    "q141_cms_heavy_hitters" ->
      s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
          g AS (SELECT unnest(list_transform(generate_series(1, len(toks)-2),
                        i -> array_to_string(toks[i:i+2], ' '))) AS term FROM t)
          SELECT term, count(*) AS freq FROM g
          GROUP BY term HAVING count(*) >= 5""",

    // Mirrors quantizeInt8 exactly: scale = amax/127 (unrounded) feeds
    // the code rounding; the OUTPUT scale is rounded to 6 dp. The same
    // x/(amax/127.0) expression shape matters — x*127/amax would round
    // differently in the last ulp. One (vec_id, dim, code) row per
    // element, matching the engine's posexplode (dim is 0-based).
    "q90_int8_quantize" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
          s AS (SELECT vec_id, e,
                  list_max(list_transform(e, x -> abs(x))) AS amax FROM v),
          c AS (SELECT vec_id, round(amax / 127.0, 6) AS scale,
                  CASE WHEN amax = 0 THEN list_transform(e, x -> 0)
                       ELSE list_transform(e, x -> CAST(round(x / (amax / 127.0)) AS INTEGER))
                  END AS codes
                FROM s),
          x AS (SELECT vec_id, scale, codes,
                  unnest(generate_series(1, len(codes))) AS i FROM c)
          SELECT vec_id, scale, CAST(i - 1 AS INTEGER) AS dim,
            codes[i] AS code
          FROM x""",
    "q91_int8_topk" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
          s AS (SELECT vec_id, e,
                  list_max(list_transform(e, x -> abs(x))) AS amax FROM v),
          q AS (SELECT vec_id,
                  CASE WHEN amax = 0 THEN list_transform(e, x -> 0.0)
                       ELSE list_transform(e, x -> CAST(round(x / (amax / 127.0)) AS DOUBLE))
                  END AS c
                FROM s),
          n AS (SELECT vec_id, c, sqrt(list_dot_product(c, c)) AS nrm FROM q),
          p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  CASE WHEN q.nrm * c.nrm = 0 THEN NULL
                       ELSE round(list_dot_product(q.c, c.c) / (q.nrm * c.nrm), 4)
                  END AS qcos
                FROM n q JOIN n c ON q.vec_id != c.vec_id)
          SELECT query_id, neighbor_id, qcos FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY qcos DESC, neighbor_id) AS rn FROM p) WHERE rn <= 3""",
    // q91's int8 scoring restricted to the 16-table candidate pairs
    // (q113's tc chain) — the composed funnel replayed stage by stage
    "q117_int8_prefilter" -> {
      val bits = 4
      val tables = 16
      val tkeys = "[" + (0 until tables).map { t =>
        s"('$t:' || " + (1 to bits).map(i =>
          s"(CASE WHEN e[${t * bits + i}] >= 0 THEN '1' ELSE '0' END)")
          .mkString(" || ") + ")"
      }.mkString(", ") + "]"
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
          tk AS (SELECT vec_id, unnest($tkeys) AS tkey FROM v),
          tc AS (SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
                 FROM tk a JOIN tk b ON a.tkey = b.tkey AND a.vec_id != b.vec_id),
          s AS (SELECT vec_id, e,
                  list_max(list_transform(e, x -> abs(x))) AS amax FROM v),
          q AS (SELECT vec_id,
                  CASE WHEN amax = 0 THEN list_transform(e, x -> 0.0)
                       ELSE list_transform(e, x -> CAST(round(x / (amax / 127.0)) AS DOUBLE))
                  END AS c
                FROM s),
          n AS (SELECT vec_id, c, sqrt(list_dot_product(c, c)) AS nrm FROM q),
          p AS (SELECT t.query_id, t.neighbor_id,
                  CASE WHEN q.nrm * c.nrm = 0 THEN NULL
                       ELSE round(list_dot_product(q.c, c.c) / (q.nrm * c.nrm), 4)
                  END AS qcos
                FROM tc t JOIN n q ON t.query_id = q.vec_id
                          JOIN n c ON t.neighbor_id = c.vec_id)
          SELECT query_id, neighbor_id, qcos, CAST(rn AS INTEGER) AS rank
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY qcos DESC, neighbor_id) AS rn FROM p)
          WHERE rn <= 3"""
    },

    "q92_pq_encode" -> {
      val sel = (0 until pqM).map(s =>
        s"SELECT vec_id, $s AS subspace, cid AS code FROM af_$s")
        .mkString(" UNION ALL ")
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
          $pqChain
          SELECT vec_id, CAST(subspace AS INTEGER) AS subspace, code
          FROM ($sel)"""
    },
    // Term order matters: the engine sums the m subspace terms left to
    // right before the single 4 dp rounding — the SQL chain is written
    // in the same order, so the IEEE sums agree bit for bit.
    "q93_pq_adc_topk" -> {
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
          $pqChain,
          $pqAdcTop3
          SELECT query_id, neighbor_id, adist, rank FROM adc3"""
    },
    // The composed IVFADC funnel, stage by stage: q64's cell CTEs gate
    // the ADC pair join (same code joins/terms as q93), a shortlist
    // rank bounds the re-rank, and the final cosine ordering mirrors
    // the engine's topK (cos DESC, neighbor ASC).
    "q128_ivf_adc_rerank" -> ivfFunnelSql(filtered = false),

    // q340: the SAME funnel with the candidate stage restricted to the
    // 10%-selective label predicate (pre-filter — the alw join sits on
    // adcg's neighbor side, exactly where the engine filters the codes
    // scan).
    "q340_filtered_ann" -> ivfFunnelSql(filtered = true),

    // q341: pre- vs post-filter recall against the exact filtered
    // truth — one shared unfiltered adcg, the pre path restricting it
    // BEFORE the shortlist, the post path taking its unfiltered top-3
    // and dropping ineligible neighbors after.
    "q341_filtered_ann_recall" -> filteredAnnRecallSql,

    // Same keeper rule (global (doc_id, pos) rank 1 survives) and the
    // same gaps-and-islands merge, in window SQL.
    "q102_dup_spans" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          f AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 5),
          sh0 AS (SELECT doc_id, toks,
                    unnest(generate_series(1, len(toks) - 4)) AS i
                  FROM f),
          sh AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
                   array_to_string(toks[CAST(i AS INTEGER):CAST(i AS INTEGER) + 4], ' ') AS shingle
                 FROM sh0),
          flg AS (SELECT doc_id, pos,
                    row_number() OVER (PARTITION BY shingle ORDER BY doc_id, pos) AS rn
                  FROM sh),
          d AS (SELECT doc_id, pos FROM flg WHERE rn > 1),
          isl AS (SELECT doc_id, pos,
                    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                           OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 5
                         THEN 1 ELSE 0 END AS newisl
                  FROM d),
          isl2 AS (SELECT doc_id, pos,
                     sum(newisl) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
                   FROM isl)
          SELECT doc_id, min(pos) AS span_start, max(pos) + 4 AS span_end,
                 count(*) AS n_shingles
          FROM isl2 GROUP BY doc_id, g""",

    // Span ranges expand to token-level removal rows (DISTINCT — the
    // overlapping shingles share tokens), ANTI-joined off the token
    // stream; string_agg ORDER BY pos == the engine's sorted collect.
    "q103_span_removal" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          f AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 5),
          sh0 AS (SELECT doc_id, toks,
                    unnest(generate_series(1, len(toks) - 4)) AS i
                  FROM f),
          sh AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
                   array_to_string(toks[CAST(i AS INTEGER):CAST(i AS INTEGER) + 4], ' ') AS shingle
                 FROM sh0),
          flg AS (SELECT doc_id, pos,
                    row_number() OVER (PARTITION BY shingle ORDER BY doc_id, pos) AS rn
                  FROM sh),
          d AS (SELECT doc_id, pos FROM flg WHERE rn > 1),
          rm AS (SELECT DISTINCT doc_id, CAST(pos + j AS INTEGER) AS pos
                 FROM d, generate_series(0, 4) AS s(j)),
          tk0 AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
                  FROM t),
          tk AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
                   toks[CAST(i AS INTEGER)] AS tok
                 FROM tk0),
          kept AS (SELECT tk.doc_id, tk.pos, tk.tok
                   FROM tk ANTI JOIN rm USING (doc_id, pos)),
          agg AS (SELECT doc_id, count(*) AS n_kept,
                    md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_md5
                  FROM kept GROUP BY 1)
          SELECT t.doc_id, coalesce(agg.n_kept, 0) AS n_kept, agg.clean_md5
          FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id""",

    // Threshold arithmetic written in the engine's exact expression
    // order (((1e6 * w) * t) / n) so the floor()ed gates agree.
    "q97_mixture_sample" -> {
      val vals = MixWeights.map { case (s, w) => s"('$s', $w)" }.mkString(", ")
      s"""WITH w(lang, w) AS (VALUES $vals),
          c AS (SELECT lang, count(*) AS n FROM documents
                WHERE lang IN (SELECT lang FROM w) GROUP BY 1),
          t AS (SELECT min(c.n / w.w) AS t FROM c JOIN w USING (lang)),
          thr AS (SELECT c.lang,
                    CAST(floor(1000000.0 * w.w * t.t / c.n) AS BIGINT) AS thr
                  FROM c JOIN w USING (lang) CROSS JOIN t)
          SELECT d.doc_id, d.lang FROM documents d JOIN thr ON d.lang = thr.lang
          WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                % 1000000 < thr.thr"""
    },

    // q83's chunk derivation + a windowed running sum; DuckDB's
    // sum(BIGINT) OVER is HUGEINT, so casts pin the output types.
    "q96_pack_chunks" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
          c AS (SELECT doc_id, toks,
                  unnest(generate_series(0,
                    CAST(ceil(greatest(n - 8, 1) / 56.0) AS BIGINT) - 1)) AS ci
                FROM n),
          s AS (SELECT doc_id, CAST(ci AS INTEGER) AS chunk_idx,
                  len(toks[ci*56 + 1 : ci*56 + 64]) AS n_tokens
                FROM c),
          o AS (SELECT doc_id, chunk_idx, n_tokens,
                  coalesce(sum(n_tokens) OVER (ORDER BY doc_id, chunk_idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
                FROM s)
          SELECT doc_id, chunk_idx,
                 CAST(start // 256 AS BIGINT) AS pack_id,
                 CAST(start % 256 AS BIGINT) AS pack_offset,
                 (start % 256) + n_tokens > 256 AS straddles
          FROM o""",

    // Scalar literals written as the same EXPRESSIONS the engine folds
    // ((1.2 + 1), 0.25) so both sides compute identical doubles.
    "q94_bm25" ->
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
          dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY 1),
          st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM t
                 WHERE term IN ('spark', 'fast', 'query') GROUP BY 1, 2),
          df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          sc AS (SELECT tf.doc_id, tf.term,
                   ln(1.0 + (st.n_docs - df.df + 0.5) / (df.df + 0.5)) *
                     (tf.tf * (1.2 + 1)) /
                     (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)) AS contrib
                 FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
                      CROSS JOIN st),
          -- left fold in term order = the engine's pinned IEEE sum order
          sc2 AS (SELECT doc_id, list(contrib ORDER BY term) AS cs
                  FROM sc GROUP BY 1)
          SELECT doc_id, round(list_reduce(cs, (a, b) -> a + b), 4) AS score
          FROM sc2 ORDER BY score DESC, doc_id LIMIT 10""",
    // q331: both BM25 passes + the expansion cut replayed. Every float
    // reduction folds in the engine's pinned order (terms per doc,
    // docs per term); constants stay in their unfolded (1.2 + 1) /
    // (1.0 - 0.6) forms so both engines run the identical IEEE ops.
    "q331_bm25_prf" ->
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
          dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY 1),
          st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
          tf1 AS (SELECT doc_id, term, count(*) AS tf FROM t
                  WHERE term IN ('spark', 'fast', 'query') GROUP BY 1, 2),
          df1 AS (SELECT term, count(*) AS df FROM tf1 GROUP BY 1),
          sc1 AS (SELECT tf1.doc_id, tf1.term,
                    ln(1.0 + (st.n_docs - df1.df + 0.5) / (df1.df + 0.5)) *
                      (tf1.tf * (1.2 + 1)) /
                      (tf1.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))
                      AS contrib
                  FROM tf1 JOIN df1 USING (term) JOIN dl USING (doc_id)
                       CROSS JOIN st),
          s1 AS (SELECT doc_id,
                   round(list_reduce(list(contrib ORDER BY term),
                     (a, b) -> a + b), 4) AS score
                 FROM sc1 GROUP BY 1),
          fb AS (SELECT doc_id, score FROM s1
                 ORDER BY score DESC, doc_id LIMIT 5),
          ftf AS (SELECT t.doc_id, t.term, count(*) AS tf
                  FROM t JOIN fb ON fb.doc_id = t.doc_id GROUP BY 1, 2),
          ex AS (SELECT term,
                   round(list_reduce(list(p ORDER BY doc_id),
                     (a, b) -> a + b), 6) AS e
                 FROM (SELECT ftf.doc_id, ftf.term,
                         ftf.tf / dl.dl * fb.score AS p
                       FROM ftf JOIN dl USING (doc_id) JOIN fb USING (doc_id)
                       WHERE ftf.term NOT IN ('spark', 'fast', 'query'))
                 GROUP BY 1),
          sel AS (SELECT term, e FROM ex ORDER BY e DESC, term LIMIT 5),
          em AS (SELECT max(e) AS emax FROM sel),
          qw AS (SELECT term, 0.6 AS w
                 FROM (VALUES ('spark'), ('fast'), ('query')) q(term)
                 UNION ALL
                 SELECT term, (1.0 - 0.6) * e / (SELECT emax FROM em) FROM sel),
          tf2 AS (SELECT doc_id, term, count(*) AS tf FROM t
                  WHERE term IN (SELECT term FROM qw) GROUP BY 1, 2),
          df2 AS (SELECT term, count(*) AS df FROM tf2 GROUP BY 1),
          sc2 AS (SELECT tf2.doc_id, tf2.term,
                    qw.w * (ln(1.0 + (st.n_docs - df2.df + 0.5) / (df2.df + 0.5)) *
                      (tf2.tf * (1.2 + 1)) /
                      (tf2.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)))
                      AS contrib
                  FROM tf2 JOIN df2 USING (term) JOIN dl USING (doc_id)
                       JOIN qw USING (term) CROSS JOIN st),
          s2 AS (SELECT doc_id,
                   round(list_reduce(list(contrib ORDER BY term),
                     (a, b) -> a + b), 4) AS score
                 FROM sc2 GROUP BY 1)
          SELECT doc_id, score,
               (SELECT string_agg(term, ',' ORDER BY term) FROM sel)
                 AS expansion
          FROM s2 ORDER BY score DESC, doc_id LIMIT 10""",
    "q95_inverted_index" ->
      s"""WITH t AS (SELECT doc_id, unnest(list_distinct($toksSql)) AS term
                     FROM documents)
          SELECT term, count(*) AS df, min(doc_id) AS first_doc,
                 md5(array_to_string(list_sort(list(doc_id)), ',')) AS postings_md5
          FROM t GROUP BY 1""",

    // The streaming gates are the batch gates; dedup collapses the two
    // staged copies of every doc back to one row (texts are unique, so
    // no cross-doc collapse) — the oracle is the gated corpus itself.
    "q88_curate_stream" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
          g AS (SELECT doc_id, $qualitySql AS qual, $langCaseSql AS lang FROM t)
          SELECT doc_id FROM g WHERE qual >= 0.3 AND lang = 'en'""",
    "q70_curation" -> {
      val mhCols = (0 until NumHashes).map(j => s"${mhSql(j)} AS mh$j").mkString(", ")
      val rows = NumHashes / Bands
      val bandSelects = (0 until Bands).map { b =>
        val cols = (b * rows until (b + 1) * rows).map(j => s"mh$j").mkString(", ")
        s"SELECT doc_id, $b AS band, md5(concat_ws('|', $cols)) AS bkey FROM m"
      }.mkString(" UNION ALL ")
      s"""WITH RECURSIVE t0 AS (SELECT doc_id, text, n_chars, $toksSql AS toks FROM documents),
          q AS (SELECT doc_id, text, n_chars, toks,
                       $qualitySql AS qual, $langCaseSql AS lang FROM t0),
          gated AS (SELECT doc_id, text, n_chars, toks FROM q
                    WHERE qual >= 0.3 AND lang = 'en'),
          fp AS (SELECT $fpSql AS f, min(doc_id) AS keep
                 FROM gated GROUP BY 1),
          ex0 AS (SELECT g.doc_id, g.text, g.n_chars, g.toks
                  FROM gated g JOIN fp ON g.doc_id = fp.keep),
          s AS (SELECT doc_id, ${shinglesSql(ShingleN)} AS shs FROM ex0),
          s2 AS (SELECT doc_id, shs FROM s WHERE len(shs) > 0),
          hh AS (SELECT doc_id, shs, list_transform(shs, x -> md5(x)) AS hs FROM s2),
          m AS (SELECT doc_id, $mhCols FROM hh),
          bands AS ($bandSelects),
          cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
                   FROM bands a JOIN bands b
                   ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
          j AS (SELECT da, db,
                  len(list_filter(sa.shs, x -> list_contains(sb.shs, x))) * 1.0 AS inter,
                  len(sa.shs) + len(sb.shs) AS tot
                FROM cand JOIN s2 sa ON da = sa.doc_id JOIN s2 sb ON db = sb.doc_id),
          pairs AS (SELECT da, db FROM j
                    WHERE round(inter/(tot-inter), 4) >= 0.5),
          edges AS (SELECT da AS u, db AS v FROM pairs
                    UNION SELECT db, da FROM pairs),
          nds AS (SELECT DISTINCT u FROM edges),
          reach(u, v) AS (SELECT u, u FROM nds
                          UNION
                          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
          dropids AS (SELECT u FROM reach GROUP BY u HAVING u != min(v))
          SELECT doc_id, n_chars FROM ex0
          WHERE doc_id NOT IN (SELECT u FROM dropids)"""
    },
    "q39_quality_score" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents)
          SELECT doc_id,
            round(least(len(toks) / 100.0, 1.0) * 0.5 +
                  (($stopSql) * 1.0 / greatest(len(toks) * 1.0, 1.0)) * 0.3 +
                  (length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 /
                   greatest(length(text), 1)) * 0.2,
                  4) AS quality
          FROM t""",
    // shinglesSql is list_distinct, so count(*) over the join counts
    // DISTINCT contaminated shingles — the engine's seen-set twin.
    "q81_decontaminate" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          s AS (SELECT doc_id, ${shinglesSql(5)} AS shs FROM t),
          bsh AS (SELECT DISTINCT unnest(shs) AS sh FROM s WHERE doc_id % 50 = 0),
          ex AS (SELECT doc_id, unnest(shs) AS sh FROM s),
          h AS (SELECT ex.doc_id, count(*) AS n
                FROM ex JOIN bsh USING (sh) GROUP BY ex.doc_id)
          SELECT s.doc_id,
                 CAST(coalesce(h.n, 0) AS INTEGER) AS n_hits,
                 coalesce(h.n, 0) > 0 AS contaminated
          FROM s LEFT JOIN h ON s.doc_id = h.doc_id""",
    // Bloom FPs are eliminated by the confirm join, so the oracle is the
    // same exact-join shape as q81's — fpp never appears in it.
    "q124_bloom_decontaminate" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          s AS (SELECT doc_id, ${shinglesSql(5)} AS shs FROM t),
          bsh AS (SELECT DISTINCT unnest(shs) AS sh FROM s WHERE doc_id % 37 = 0),
          ex AS (SELECT doc_id, unnest(shs) AS sh FROM s),
          h AS (SELECT ex.doc_id, count(*) AS n
                FROM ex JOIN bsh USING (sh) GROUP BY ex.doc_id)
          SELECT s.doc_id,
                 CAST(coalesce(h.n, 0) AS INTEGER) AS n_hits,
                 coalesce(h.n, 0) > 0 AS contaminated
          FROM s LEFT JOIN h ON s.doc_id = h.doc_id""",
    "q82_ann_recall" -> {
      val bits = 4
      val tables = 16
      // (nProbe, shortlist) curve points; (12, 256) is the shipped
      // default and keeps its historical method name
      val ivfPoints = Seq((4, 64), (6, 128), (8, 256), (12, 256))
      val bucket = "concat(" + (1 to bits).map(i =>
        s"CASE WHEN embedding[$i] >= 0 THEN '1' ELSE '0' END").mkString(", ") + ")"
      // multi-table keys: table t reads dims [t*bits+1, (t+1)*bits]
      val tkeys = "[" + (0 until tables).map { t =>
        s"('$t:' || " + (1 to bits).map(i =>
          s"(CASE WHEN e[${t * bits + i}] >= 0 THEN '1' ELSE '0' END)")
          .mkString(" || ") + ")"
      }.mkString(", ") + "]"
      val flips = (1 to bits).map { i =>
        s"""SELECT vec_id, concat(substr(bucket, 1, ${i - 1}),
              CASE WHEN substr(bucket, $i, 1) = '1' THEN '0' ELSE '1' END,
              substr(bucket, ${i + 1}, ${bits - i})) AS probe FROM v"""
      }.mkString(" UNION ALL ")
      // IVF-gated ADC (the q128 funnel): code joins + term sum, aliased
      // iv* to stay clear of pqAdcTop3's CTE-local k/t aliases
      val ivfJoins = (0 until pqM).map(s =>
        s"JOIN af_$s ivk$s ON ivk$s.vec_id = c.vec_id " +
          s"JOIN cs1_$s ivt$s ON ivt$s.cid = ivk$s.cid").mkString(" ")
      val ivfTermSql = (0 until pqM).map(s =>
        s"(q.nv$s + ivt$s.nc - 2 * list_dot_product(q.sub$s, ivt$s.ce))")
        .mkString(" + ")
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm,
               $bucket AS bucket
             FROM embeddings),
          pe AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $cosSql AS cos
                 FROM v q JOIN v c ON q.vec_id != c.vec_id),
          exact AS (SELECT query_id, neighbor_id FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS rn FROM pe) WHERE rn <= 3),
          pb AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $cosSql AS cos
                 FROM v q JOIN v c ON q.bucket = c.bucket AND q.vec_id != c.vec_id),
          bk AS (SELECT query_id, neighbor_id FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS rn FROM pb) WHERE rn <= 3),
          probes AS (SELECT vec_id, bucket AS probe FROM v UNION ALL $flips),
          pm AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $cosSql AS cos
                 FROM v q JOIN probes pr ON pr.vec_id = q.vec_id
                      JOIN v c ON pr.probe = c.bucket AND q.vec_id != c.vec_id),
          mp AS (SELECT query_id, neighbor_id FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS rn FROM pm) WHERE rn <= 3),
          tk AS (SELECT vec_id, unnest($tkeys) AS tkey FROM v),
          tc AS (SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
                 FROM tk a JOIN tk b ON a.tkey = b.tkey AND a.vec_id != b.vec_id),
          pt AS (SELECT query_id, neighbor_id, $cosSql AS cos
                 FROM tc JOIN v q ON tc.query_id = q.vec_id
                         JOIN v c ON tc.neighbor_id = c.vec_id),
          mt AS (SELECT query_id, neighbor_id FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS rn FROM pt) WHERE rn <= 3),
          $pqChain,
          $pqAdcTop3,
          adcS AS (SELECT query_id, neighbor_id FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY adist, neighbor_id) AS rn FROM adc) WHERE rn <= 160),
          prr AS (SELECT a.query_id, a.neighbor_id, $cosSql AS cos
                  FROM adcS a JOIN v q ON a.query_id = q.vec_id
                       JOIN v c ON a.neighbor_id = c.vec_id),
          pr3 AS (SELECT query_id, neighbor_id FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS rn FROM prr) WHERE rn <= 3),
          bcq AS (SELECT vec_id,
                  list_transform([0, 1], blk ->
                    list_reduce(list_transform(range(1, 33),
                      j -> CASE WHEN e[32 * blk + j] >= 0
                                THEN (1::BIGINT << (j - 1)) ELSE 0::BIGINT END),
                      (a, x) -> a | x)) AS codes
                FROM v),
          bhm AS (SELECT t.query_id, t.neighbor_id,
                  bit_count(CAST(xor(cq.codes[1], cn.codes[1]) AS BIGINT)) +
                  bit_count(CAST(xor(cq.codes[2], cn.codes[2]) AS BIGINT)) AS hamming
                FROM tc t JOIN bcq cq ON t.query_id = cq.vec_id
                          JOIN bcq cn ON t.neighbor_id = cn.vec_id),
          ${Seq(64, 160, 320).map { n =>
            s"""bsl_$n AS (SELECT query_id, neighbor_id FROM (
                  SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY hamming, neighbor_id) AS rn FROM bhm)
                WHERE rn <= $n),
          bsc_$n AS (SELECT s.query_id, s.neighbor_id, $cosSql AS cos
                  FROM bsl_$n s JOIN v q ON s.query_id = q.vec_id
                             JOIN v c ON s.neighbor_id = c.vec_id),
          bp3_$n AS (SELECT query_id, neighbor_id FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS rn FROM bsc_$n)
              WHERE rn <= 3)"""
          }.mkString(",\n          ")},
          ic AS (SELECT vec_id AS cid, e AS ce, nrm AS cnrm
                 FROM (SELECT * FROM v ORDER BY vec_id LIMIT 16)),
          ias AS (SELECT v.vec_id, c.cid,
                    round(list_dot_product(v.e, c.ce) / (v.nrm * c.cnrm), 4) AS rc
                  FROM v CROSS JOIN ic c),
          icell AS (SELECT vec_id, cid AS cell FROM
                     (SELECT *, row_number() OVER (PARTITION BY vec_id
                        ORDER BY rc DESC, cid) AS rn FROM ias)
                   WHERE rn = 1),
          iprobe AS (SELECT vec_id, cid AS cell, rn AS prn FROM
                     (SELECT *, row_number() OVER (PARTITION BY vec_id
                        ORDER BY rc DESC, cid) AS rn FROM ias)
                   WHERE rn <= 12),
          gadc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                    qc.prn AS prn, round($ivfTermSql, 4) AS adist
                  FROM b q JOIN iprobe qc ON q.vec_id = qc.vec_id
                       JOIN icell cc ON qc.cell = cc.cell
                       JOIN b c ON c.vec_id = cc.vec_id AND q.vec_id != c.vec_id
                       $ivfJoins),
          ${ivfPoints.map { case (p, sl) =>
            s"""isl_${p}_$sl AS (SELECT query_id, neighbor_id FROM
                   (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY adist, neighbor_id) AS rn
                    FROM gadc WHERE prn <= $p)
                 WHERE rn <= $sl),
          irr_${p}_$sl AS (SELECT s.query_id, s.neighbor_id, $cosSql AS cos
                  FROM isl_${p}_$sl s JOIN v q ON s.query_id = q.vec_id
                       JOIN v c ON s.neighbor_id = c.vec_id),
          ir3_${p}_$sl AS (SELECT query_id, neighbor_id FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS rn FROM irr_${p}_$sl)
              WHERE rn <= 3)"""
          }.mkString(",\n          ")},
          ne AS (SELECT count(*) AS n_exact FROM exact),
          hb AS (SELECT count(*) AS n_hit FROM bk JOIN exact USING (query_id, neighbor_id)),
          hm AS (SELECT count(*) AS n_hit FROM mp JOIN exact USING (query_id, neighbor_id)),
          ht AS (SELECT count(*) AS n_hit FROM mt JOIN exact USING (query_id, neighbor_id)),
          hq AS (SELECT count(*) AS n_hit
                 FROM (SELECT query_id, neighbor_id FROM adc3) a
                 JOIN exact USING (query_id, neighbor_id)),
          hr AS (SELECT count(*) AS n_hit
                 FROM pr3 JOIN exact USING (query_id, neighbor_id)),
          ${Seq(64, 160, 320).map { n =>
            s"""hbp_$n AS (SELECT count(*) AS n_hit
                 FROM bp3_$n JOIN exact USING (query_id, neighbor_id))"""
          }.mkString(",\n          ")},
          ${ivfPoints.map { case (p, sl) =>
            s"""hiv_${p}_$sl AS (SELECT count(*) AS n_hit
                 FROM ir3_${p}_$sl JOIN exact USING (query_id, neighbor_id))"""
          }.mkString(",\n          ")}
          SELECT 'bucket' AS method, ne.n_exact, hb.n_hit,
                 round(hb.n_hit * 1.0 / ne.n_exact, 4) AS recall FROM hb, ne
          UNION ALL
          SELECT 'multiprobe' AS method, ne.n_exact, hm.n_hit,
                 round(hm.n_hit * 1.0 / ne.n_exact, 4) AS recall FROM hm, ne
          UNION ALL
          SELECT 'multitable' AS method, ne.n_exact, ht.n_hit,
                 round(ht.n_hit * 1.0 / ne.n_exact, 4) AS recall FROM ht, ne
          UNION ALL
          SELECT 'pq_adc' AS method, ne.n_exact, hq.n_hit,
                 round(hq.n_hit * 1.0 / ne.n_exact, 4) AS recall FROM hq, ne
          UNION ALL
          SELECT 'pq_rerank' AS method, ne.n_exact, hr.n_hit,
                 round(hr.n_hit * 1.0 / ne.n_exact, 4) AS recall FROM hr, ne
          UNION ALL
          SELECT 'binary_prefilter_64' AS method, ne.n_exact, hbp_64.n_hit,
                 round(hbp_64.n_hit * 1.0 / ne.n_exact, 4) AS recall FROM hbp_64, ne
          UNION ALL
          SELECT 'binary_prefilter' AS method, ne.n_exact, hbp_160.n_hit,
                 round(hbp_160.n_hit * 1.0 / ne.n_exact, 4) AS recall FROM hbp_160, ne
          UNION ALL
          SELECT 'binary_prefilter_320' AS method, ne.n_exact, hbp_320.n_hit,
                 round(hbp_320.n_hit * 1.0 / ne.n_exact, 4) AS recall FROM hbp_320, ne
          ${ivfPoints.map { case (p, sl) =>
            val name =
              if (p == 12 && sl == 256) "ivf_adc_rerank"
              else s"ivf_adc_p${p}_s$sl"
            s"""UNION ALL
          SELECT '$name' AS method, ne.n_exact, hiv_${p}_$sl.n_hit,
                 round(hiv_${p}_$sl.n_hit * 1.0 / ne.n_exact, 4) AS recall
          FROM hiv_${p}_$sl, ne"""
          }.mkString("\n          ")}"""
    },
    // q235: replay plant, rolling 20-grams, the >=2 duplicate-value
    // set, positional coverage, and the ordered survivor reassembly.
    "q235_substring_dedup" -> {
      val w = 20
      s"""WITH corpus AS (SELECT doc_id,
               text || CASE WHEN doc_id % 5 = 0
                            THEN ' $Boilerplate' ELSE '' END AS text
             FROM documents),
          t AS (SELECT doc_id, $toksSql AS toks FROM corpus),
          g AS (SELECT doc_id, i,
                  md5(array_to_string(toks[i:i+${w - 1}], ' ')) AS g
                FROM t, unnest(generate_series(1,
                  greatest(len(toks) - ${w - 1}, 0))) AS u(i)),
          dup AS (SELECT g FROM g GROUP BY g HAVING count(*) >= 2),
          mark AS (SELECT doc_id, i FROM g JOIN dup USING (g)),
          cov AS (SELECT DISTINCT doc_id, j
                  FROM mark, unnest(generate_series(i, i + ${w - 1})) AS v(j)),
          p AS (SELECT doc_id, j, toks[j] AS tok
                FROM t, unnest(generate_series(1, len(toks))) AS w2(j)),
          keep AS (SELECT p.doc_id, p.j, p.tok
                   FROM p LEFT JOIN cov
                     ON p.doc_id = cov.doc_id AND p.j = cov.j
                   WHERE cov.j IS NULL),
          agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY j) AS clean,
                    count(*) AS n_kept
                  FROM keep GROUP BY doc_id)
          SELECT t.doc_id,
               md5(coalesce(agg.clean, '')) AS clean_md5,
               CAST(len(t.toks) AS INTEGER) AS n_tokens,
               CAST(len(t.toks) - coalesce(agg.n_kept, 0) AS INTEGER)
                 AS n_cut
          FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id"""
    },
    "q257_naive_bayes" -> nbOracle,
    "q276_dsir_weights" ->
      s"""WITH tokr AS (SELECT doc_id, unnest($toksSql) AS tok
             FROM documents),
          tokt AS (SELECT unnest($toksSql) AS tok
             FROM documents WHERE lang = 'de'),
          br AS (SELECT doc_id,
                   CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 8192 AS b
                 FROM tokr),
          bt AS (SELECT
                   CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 8192 AS b
                 FROM tokt),
          cr AS (SELECT b, count(*) AS cr FROM br GROUP BY 1),
          ct AS (SELECT b, count(*) AS ct FROM bt GROUP BY 1),
          nr AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM br),
          nt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM bt),
          w AS (SELECT br.doc_id,
                  sum(ln(coalesce(ct.ct, 0) + 1.0) - ln(cr.cr + 1.0)
                      + ln(nr.n + 8192) - ln(nt.n + 8192)) AS logw
                FROM br JOIN cr USING (b) LEFT JOIN ct USING (b)
                CROSS JOIN nr CROSS JOIN nt
                GROUP BY 1)
          SELECT d.doc_id, round(coalesce(w.logw, 0.0), 6) + 0.0 AS logw
          FROM documents d LEFT JOIN w USING (doc_id)""",
    // q258: the stream scores against the SAME trained model — parity
    // with the batch matrix is the whole claim.
    "q258_stream_classify" -> nbOracle,
    "q259_winnow_dedup" ->
      """WITH RECURSIVE
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         corpus AS (
           SELECT doc_id,
                text || ' shared passage marker ' ||
                  CAST(doc_id % (nn.n // 2) AS VARCHAR) ||
                  ' lorem ipsum dolor sit amet consectetur adipiscing elit'
                  AS text
           FROM documents, nn),
         g AS (
           SELECT doc_id, i AS pos, length(text) - 8 + 1 AS ng,
                CAST(('0x' || substr(md5(substr(text, i, 8)), 1, 15))
                  AS BIGINT) AS h
           FROM corpus,
                unnest(generate_series(1, length(text) - 8 + 1)) AS u(i)
           WHERE length(text) >= 11),
         m AS (
           SELECT doc_id, pos, ng,
                min(h) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS minh
           FROM g),
         sel AS (SELECT DISTINCT doc_id, minh
                 FROM m WHERE pos <= ng - 4 + 1),
         rare AS (SELECT minh FROM sel GROUP BY minh
                  HAVING count(*) <= 20),
         gated AS (SELECT s.doc_id, s.minh FROM sel s JOIN rare USING (minh)),
         pr AS (SELECT a.doc_id AS da, b.doc_id AS db
                FROM gated a JOIN gated b
                  ON a.minh = b.minh AND a.doc_id < b.doc_id
                GROUP BY 1, 2 HAVING count(*) >= 4),
         edges AS (SELECT da AS u, db AS v FROM pr
                   UNION SELECT db, da FROM pr),
         nodes AS (SELECT DISTINCT u FROM edges),
         reach(u, v) AS (SELECT u, u FROM nodes
                         UNION
                         SELECT r.u, e.v FROM reach r
                         JOIN edges e ON r.v = e.u),
         lbl AS (SELECT u AS doc_id, min(v) AS cluster_id
                 FROM reach GROUP BY u)
         SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id,
              CASE WHEN coalesce(l.cluster_id, d.doc_id) = d.doc_id
                   THEN 1 ELSE 0 END AS is_keeper
         FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id""",
    "q256_winnow_overlap" ->
      """WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         corpus AS (
           SELECT doc_id,
                text || ' shared passage marker ' ||
                  CAST(doc_id % (nn.n // 2) AS VARCHAR) ||
                  ' lorem ipsum dolor sit amet consectetur adipiscing elit'
                  AS text
           FROM documents, nn),
         g AS (
           SELECT doc_id, i AS pos, length(text) - 8 + 1 AS ng,
                CAST(('0x' || substr(md5(substr(text, i, 8)), 1, 15))
                  AS BIGINT) AS h
           FROM corpus,
                unnest(generate_series(1, length(text) - 8 + 1)) AS u(i)
           WHERE length(text) >= 11),
         m AS (
           SELECT doc_id, pos, ng,
                min(h) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS minh
           FROM g),
         sel AS (SELECT DISTINCT doc_id, minh
                 FROM m WHERE pos <= ng - 4 + 1),
         rare AS (SELECT minh FROM sel GROUP BY minh
                  HAVING count(*) <= 20),
         gated AS (SELECT s.doc_id, s.minh FROM sel s JOIN rare USING (minh))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              CAST(count(*) AS BIGINT) AS n_shared
         FROM gated a JOIN gated b
           ON a.minh = b.minh AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 2""",
    "q255_winnowing" ->
      """WITH g AS (
           SELECT doc_id, i AS pos, length(text) - 8 + 1 AS ng,
                CAST(('0x' || substr(md5(substr(text, i, 8)), 1, 15))
                  AS BIGINT) AS h
           FROM documents,
                unnest(generate_series(1, length(text) - 8 + 1)) AS u(i)
           WHERE length(text) >= 11),
         m AS (
           SELECT doc_id, pos, ng,
                min(h) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS minh
           FROM g),
         sel AS (SELECT DISTINCT doc_id, minh
                 FROM m WHERE pos <= ng - 4 + 1)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp,
              CAST(sum(minh % 1000000007) AS BIGINT) AS fp_sum
         FROM sel GROUP BY doc_id""",
    "q248_fim_transform" ->
      """WITH g AS (SELECT doc_id, text, length(text) AS l,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':f1'), 1, 8))
                 AS BIGINT) AS h1,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':f2'), 1, 8))
                 AS BIGINT) AS h2,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':f3'), 1, 8))
                 AS BIGINT) AS h3
             FROM documents),
         c AS (SELECT doc_id, text, l, h2, h3,
               CASE WHEN l < 8 THEN NULL
                    ELSE 1 + h1 % (l - 2) END AS c1
             FROM g),
         c2 AS (SELECT doc_id, text, l, h3, c1,
               CASE WHEN c1 IS NULL THEN NULL
                    ELSE c1 + 1 + h2 % (l - c1 - 1) END AS cc2
             FROM c)
         SELECT doc_id,
              CASE WHEN c1 IS NULL THEN 'none'
                   WHEN h3 % 2 = 0 THEN 'psm' ELSE 'spm' END AS mode,
              CASE WHEN c1 IS NULL THEN text
                   WHEN h3 % 2 = 0 THEN
                     '<PRE>' || substr(text, 1, c1) ||
                     '<SUF>' || substr(text, cc2 + 1) ||
                     '<MID>' || substr(text, c1 + 1, cc2 - c1)
                   ELSE
                     '<SUF>' || substr(text, cc2 + 1) ||
                     '<PRE>' || substr(text, 1, c1) ||
                     '<MID>' || substr(text, c1 + 1, cc2 - c1) END AS fim_text
         FROM c2""",
    "q233_hash_split" ->
      """WITH g AS (SELECT doc_id,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                 AS BIGINT) % 1000000 AS u
             FROM documents)
         SELECT doc_id,
              CASE WHEN u < 800000 THEN 'train'
                   WHEN u < 900000 THEN 'val'
                   ELSE 'test' END AS split
         FROM g""",
    // q234: the q66 LSH+CC cluster chain, singleton docs coalescing to
    // their own id, then the md5 gate on the CLUSTER id.
    "q234_cluster_split" ->
      s"""WITH RECURSIVE $lshCtes,
          pairs AS (SELECT da, db FROM j
                    WHERE round(inter/(tot-inter), 4) >= 0.5),
          edges AS (SELECT da AS u, db AS v FROM pairs
                    UNION SELECT db, da FROM pairs),
          nodes AS (SELECT DISTINCT u FROM edges),
          reach(u, v) AS (SELECT u, u FROM nodes
                          UNION
                          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
          cl AS (SELECT u AS doc_id, min(v) AS cluster_id
                 FROM reach GROUP BY u),
          allc AS (SELECT d.doc_id,
                     coalesce(cl.cluster_id, d.doc_id) AS cluster_id
                   FROM documents d LEFT JOIN cl USING (doc_id)),
          g AS (SELECT doc_id, cluster_id,
                  CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 1000000 AS u
                FROM allc)
          SELECT doc_id, cluster_id,
               CASE WHEN u < 800000 THEN 'train'
                    WHEN u < 900000 THEN 'val'
                    ELSE 'test' END AS split
          FROM g""",

    // q232: replay the noise mask per (doc, position), segment maximal
    // runs with the lag-based run_start flag, number sentinels by a
    // running sum, and reassemble input/target with ordered string_agg.
    // Empty docs survive via the LEFT JOIN (md5('') rows, zero counts).
    "q232_span_corruption" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          p AS (SELECT doc_id, i, toks[i] AS tok,
                  (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                     || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT) % 100) < 15
                    AS noise
                FROM t, unnest(generate_series(1, len(toks))) AS u(i)),
          r AS (SELECT *, CASE WHEN noise AND
                  (lag(noise) OVER (PARTITION BY doc_id ORDER BY i)
                     IS DISTINCT FROM true)
                  THEN 1 ELSE 0 END AS run_start FROM p),
          k AS (SELECT *, SUM(run_start)
                  OVER (PARTITION BY doc_id ORDER BY i) - 1 AS kk FROM r),
          agg AS (SELECT doc_id,
                  string_agg(CASE WHEN NOT noise THEN tok
                       WHEN run_start = 1
                       THEN '<extra_id_' || CAST(kk AS VARCHAR) || '>'
                       END, ' ' ORDER BY i) AS input,
                  string_agg(CASE WHEN noise THEN
                       (CASE WHEN run_start = 1
                        THEN '<extra_id_' || CAST(kk AS VARCHAR) || '> '
                        ELSE '' END) || tok END, ' ' ORDER BY i)
                    AS target,
                  CAST(SUM(run_start) AS INTEGER) AS n_spans,
                  CAST(SUM(CASE WHEN noise THEN 1 ELSE 0 END) AS INTEGER)
                    AS n_noise
                FROM k GROUP BY doc_id)
          SELECT d.doc_id,
               md5(coalesce(agg.input, '')) AS input_md5,
               md5(coalesce(agg.target, '')) AS target_md5,
               coalesce(agg.n_spans, 0) AS n_spans,
               coalesce(agg.n_noise, 0) AS n_noise
          FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id""",

    // chunk i covers tokens [i*56, i*56+64); DuckDB list slicing is
    // 1-based inclusive and clamps at the list end, matching Spark's
    // slice(toks, start+1, 64).
    "q83_chunking" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
          c AS (SELECT doc_id, toks,
                  unnest(generate_series(0,
                    CAST(ceil(greatest(n - 8, 1) / 56.0) AS BIGINT) - 1)) AS ci
                FROM n),
          s AS (SELECT doc_id, CAST(ci AS INTEGER) AS chunk_idx,
                  toks[ci*56 + 1 : ci*56 + 64] AS carr
                FROM c)
          SELECT doc_id, chunk_idx,
                 CAST(len(carr) AS INTEGER) AS n_tokens,
                 md5(array_to_string(carr, ' ')) AS chunk_md5
          FROM s""",

    // q130: replay the planted-newline fixture, then compute the Gopher
    // signals relationally — line stats from a (doc, line) group-by,
    // top-bigram from a (doc, bigram) group-by, max token run via the
    // gaps-and-islands window (i - row_number within (doc, token)).
    // The engine computes all of this in one narrow per-doc pass; the
    // oracle's explodes/windows are the semantics spec, not the plan.
    "q130_repetition_signals" ->
      s"""WITH d AS (SELECT doc_id, replace(text, ' value ', chr(10)) AS text
           FROM documents),
         l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM d),
         lc AS (SELECT doc_id, line, count(*) AS c, length(line) AS len
           FROM l GROUP BY doc_id, line),
         la AS (SELECT doc_id,
                  CAST(sum(c) AS BIGINT) AS total_lines,
                  CAST(sum(c - 1) AS BIGINT) AS dup_lines,
                  CAST(sum(c * len) AS BIGINT) AS total_line_chars,
                  CAST(sum((c - 1) * len) AS BIGINT) AS dup_line_chars
           FROM lc GROUP BY doc_id),
         tok AS (SELECT doc_id, $toksSql AS toks FROM d),
         tv AS (SELECT doc_id,
                  unnest(generate_series(1, len(toks))) AS i, toks FROM tok),
         tw AS (SELECT doc_id, i, toks[CAST(i AS INTEGER)] AS w FROM tv),
         bg AS (SELECT a.doc_id, a.w || ' ' || b.w AS bigram
           FROM tw a JOIN tw b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
         bgc AS (SELECT doc_id, bigram, count(*) AS c
           FROM bg GROUP BY doc_id, bigram),
         bga AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bigram_count,
                  CAST(sum(c) AS BIGINT) AS n_bigrams
           FROM bgc GROUP BY doc_id),
         isl AS (SELECT doc_id, w,
                  i - row_number() OVER (PARTITION BY doc_id, w ORDER BY i) AS g
           FROM tw),
         rc AS (SELECT doc_id, count(*) AS runlen
           FROM isl GROUP BY doc_id, w, g),
         ra AS (SELECT doc_id, CAST(max(runlen) AS BIGINT) AS max_token_run
           FROM rc GROUP BY doc_id)
         SELECT la.doc_id, la.total_lines, la.dup_lines, la.total_line_chars,
              la.dup_line_chars,
              CAST(coalesce(bga.top_bigram_count, 0) AS BIGINT) AS top_bigram_count,
              CAST(coalesce(bga.n_bigrams, 0) AS BIGINT) AS n_bigrams,
              CAST(coalesce(ra.max_token_run, 0) AS BIGINT) AS max_token_run
         FROM la LEFT JOIN bga ON la.doc_id = bga.doc_id
                 LEFT JOIN ra ON la.doc_id = ra.doc_id""",

    // q131: replay the train-then-score bigram LM relationally. The
    // `//` is floor division on BIGINTs (operands positive), matching
    // Spark's `div`; every aggregate casts back to BIGINT (DuckDB sums
    // to HUGEINT).
    "q131_ngram_lm_score" ->
      s"""WITH tok AS (SELECT doc_id, $toksSql AS toks FROM documents),
         tv AS (SELECT doc_id,
                  unnest(generate_series(1, len(toks))) AS i, toks FROM tok),
         tw AS (SELECT doc_id, i, toks[CAST(i AS INTEGER)] AS w FROM tv),
         bg AS (SELECT a.doc_id, a.w AS w1, b.w AS w2
           FROM tw a JOIN tw b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
         docbg AS (SELECT doc_id, w1, w2, count(*) AS m
           FROM bg GROUP BY doc_id, w1, w2),
         c12 AS (SELECT w1, w2, CAST(sum(m) AS BIGINT) AS c12
           FROM docbg GROUP BY w1, w2),
         uni AS (SELECT w AS w1, count(*) AS c1 FROM tw GROUP BY w),
         voc AS (SELECT count(*) AS v FROM uni)
         SELECT d.doc_id,
              CAST(sum(d.m * ((c12.c12 * 1000000) // (uni.c1 + voc.v))) AS BIGINT) AS lm_score,
              CAST(sum(d.m) AS BIGINT) AS n_bigrams
         FROM docbg d
         JOIN c12 ON d.w1 = c12.w1 AND d.w2 = c12.w2
         JOIN uni ON d.w1 = uni.w1
         CROSS JOIN voc
         GROUP BY d.doc_id""",

    // q237: the q131 model chain + per-bigram normalization + the
    // per-language percent_rank band. doc_id in the ORDER makes ranks
    // distinct, so percent_rank is (row-1)/(n-1) on both engines.
    "q237_perplexity_prune" ->
      s"""WITH tok AS (SELECT doc_id, $toksSql AS toks FROM documents),
         tv AS (SELECT doc_id,
                  unnest(generate_series(1, len(toks))) AS i, toks FROM tok),
         tw AS (SELECT doc_id, i, toks[CAST(i AS INTEGER)] AS w FROM tv),
         bg AS (SELECT a.doc_id, a.w AS w1, b.w AS w2
           FROM tw a JOIN tw b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
         docbg AS (SELECT doc_id, w1, w2, count(*) AS m
           FROM bg GROUP BY doc_id, w1, w2),
         c12 AS (SELECT w1, w2, CAST(sum(m) AS BIGINT) AS c12
           FROM docbg GROUP BY w1, w2),
         uni AS (SELECT w AS w1, count(*) AS c1 FROM tw GROUP BY w),
         voc AS (SELECT count(*) AS v FROM uni),
         lm AS (SELECT d.doc_id,
              CAST(sum(d.m * ((c12.c12 * 1000000) // (uni.c1 + voc.v))) AS BIGINT) AS lm_score,
              CAST(sum(d.m) AS BIGINT) AS n_bigrams
           FROM docbg d
           JOIN c12 ON d.w1 = c12.w1 AND d.w2 = c12.w2
           JOIN uni ON d.w1 = uni.w1
           CROSS JOIN voc
           GROUP BY d.doc_id),
         sc AS (SELECT doc.doc_id, doc.lang,
                  lm.lm_score // lm.n_bigrams AS nscore
                FROM documents doc JOIN lm ON doc.doc_id = lm.doc_id),
         pr AS (SELECT doc_id, lang, nscore,
                  percent_rank() OVER (PARTITION BY lang
                    ORDER BY nscore, doc_id) AS prank
                FROM sc)
         SELECT doc_id, lang, nscore, round(prank, 6) + 0.0 AS prank
         FROM pr WHERE prank >= 0.1 AND prank <= 0.9""",

    // q132: q66's replayed funnel (LSH + recursive-CTE reachability)
    // extended by the prune — survivors are documents that are not a
    // non-canonical member of any cluster.
    "q132_fuzzy_dedup" ->
      s"""WITH RECURSIVE $lshCtes,
          pairs AS (SELECT da, db FROM j
                    WHERE round(inter/(tot-inter), 4) >= 0.5),
          edges AS (SELECT da AS u, db AS v FROM pairs
                    UNION SELECT db, da FROM pairs),
          nodes AS (SELECT DISTINCT u FROM edges),
          reach(u, v) AS (SELECT u, u FROM nodes
                          UNION
                          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
          cl AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
          losers AS (SELECT doc_id FROM cl WHERE cluster_id <> doc_id)
          SELECT d.doc_id, md5(d.text) AS text_md5
          FROM documents d LEFT JOIN losers l ON d.doc_id = l.doc_id
          WHERE l.doc_id IS NULL""",

    // q134: quantile_cont over a fraction list is DuckDB's exact
    // interpolated percentile array — the same p·(n−1) definition as
    // Spark's percentile(col, array(...)). Cut values are non-integer
    // except when the rank lands exactly on a data point, so integer
    // n_chars can never sit inside a 1-ulp cross-engine gap.
    "q134_quantile_bins" -> {
      val ps = (1 until 10).map(i => s"0.$i").mkString(", ")
      val terms = (1 to 9)
        .map(i => s"(CASE WHEN d.n_chars > c.cuts[$i] THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH c AS (SELECT quantile_cont(CAST(n_chars AS DOUBLE), [$ps]) AS cuts
           FROM documents)
         SELECT d.doc_id, d.n_chars, CAST($terms AS INTEGER) AS bin
         FROM documents d, c"""
    },

    // q135: updates ∪ (current ⟂ update-keys) — the anti-join spelled
    // relationally.
    "q135_snapshot_merge" ->
      """WITH cur AS (SELECT doc_id, text FROM documents),
         upd AS (SELECT doc_id, text || ' [v2]' AS text FROM documents
                 WHERE doc_id % 3 = 0
                 UNION ALL
                 SELECT doc_id + 100000, text || ' [new]' FROM documents
                 WHERE doc_id % 7 = 0)
         SELECT doc_id, md5(text) AS text_md5 FROM upd
         UNION ALL
         SELECT c.doc_id, md5(c.text) FROM cur c
         LEFT JOIN upd u ON c.doc_id = u.doc_id WHERE u.doc_id IS NULL""",

    // q136: sign the history corpus (h-prefix) and the synthetic batch
    // (n-prefix) with the same signature chain, candidates are the
    // BIPARTITE band collisions, verify is exact Jaccard, survivors are
    // batch docs with no verified history match.
    "q136_incremental_dedup" ->
      s"""WITH nd AS (SELECT doc_id + 200000 AS doc_id, text FROM documents
                 WHERE doc_id % 10 = 0
                 UNION ALL
                 SELECT doc_id + 300000 AS doc_id,
                        array_to_string(list_reverse($toksSql), ' ') AS text
                 FROM documents WHERE doc_id % 13 = 0),
         ${sigCtesFor("documents", "h")},
         ${sigCtesFor("nd", "n")},
         cand AS (SELECT DISTINCT a.doc_id AS nid, b.doc_id AS hid
                  FROM nbands a JOIN hbands b
                  ON a.band = b.band AND a.bkey = b.bkey),
         jj AS (SELECT nid,
                  len(list_filter(sa.shs, x -> list_contains(sb.shs, x))) * 1.0 AS inter,
                  len(sa.shs) + len(sb.shs) AS tot
                FROM cand JOIN ns2 sa ON nid = sa.doc_id
                          JOIN hs2 sb ON hid = sb.doc_id),
         dups AS (SELECT DISTINCT nid FROM jj
                  WHERE round(inter/(tot-inter), 4) >= 0.5)
         SELECT d.doc_id, md5(d.text) AS text_md5
         FROM nd d LEFT JOIN dups ON d.doc_id = dups.nid
         WHERE dups.nid IS NULL""",

    // q152: both dedup rounds replayed — round 1 (batch0 vs corpus
    // signatures), then round 2 (batch1 vs corpus ∪ batch0-SURVIVOR
    // signatures). The h2-prefixed history union is the signature
    // accumulation under test.
    "q152_stream_incdedup" ->
      s"""WITH nd0 AS (SELECT doc_id + 300000 AS doc_id,
                   array_to_string(list_reverse($toksSql), ' ') AS text
                 FROM documents WHERE doc_id % 13 = 0),
         nd1 AS (SELECT doc_id + 100000 AS doc_id, text FROM nd0),
         ${sigCtesFor("documents", "h")},
         ${sigCtesFor("nd0", "n")},
         ${sigCtesFor("nd1", "m")},
         cand0 AS (SELECT DISTINCT a.doc_id AS nid, b.doc_id AS hid
                   FROM nbands a JOIN hbands b
                   ON a.band = b.band AND a.bkey = b.bkey),
         jj0 AS (SELECT nid,
                   len(list_filter(sa.shs, x -> list_contains(sb.shs, x))) * 1.0 AS inter,
                   len(sa.shs) + len(sb.shs) AS tot
                 FROM cand0 JOIN ns2 sa ON nid = sa.doc_id
                            JOIN hs2 sb ON hid = sb.doc_id),
         dups0 AS (SELECT DISTINCT nid FROM jj0
                   WHERE round(inter/(tot-inter), 4) >= 0.5),
         s0 AS (SELECT d.doc_id, d.text FROM nd0 d
                LEFT JOIN dups0 ON d.doc_id = dups0.nid
                WHERE dups0.nid IS NULL),
         h2bands AS (SELECT * FROM hbands
                     UNION ALL
                     SELECT * FROM nbands
                     WHERE doc_id IN (SELECT doc_id FROM s0)),
         h2shs AS (SELECT doc_id, shs FROM hs2
                   UNION ALL
                   SELECT doc_id, shs FROM ns2
                   WHERE doc_id IN (SELECT doc_id FROM s0)),
         cand1 AS (SELECT DISTINCT a.doc_id AS nid, b.doc_id AS hid
                   FROM mbands a JOIN h2bands b
                   ON a.band = b.band AND a.bkey = b.bkey),
         jj1 AS (SELECT nid,
                   len(list_filter(sa.shs, x -> list_contains(sb.shs, x))) * 1.0 AS inter,
                   len(sa.shs) + len(sb.shs) AS tot
                 FROM cand1 JOIN ms2 sa ON nid = sa.doc_id
                            JOIN h2shs sb ON hid = sb.doc_id),
         dups1 AS (SELECT DISTINCT nid FROM jj1
                   WHERE round(inter/(tot-inter), 4) >= 0.5),
         s1 AS (SELECT d.doc_id, d.text FROM nd1 d
                LEFT JOIN dups1 ON d.doc_id = dups1.nid
                WHERE dups1.nid IS NULL)
         SELECT doc_id, md5(text) AS text_md5 FROM s0
         UNION ALL
         SELECT doc_id, md5(text) AS text_md5 FROM s1""",

    // q153: shingle-set overlap fraction, on strings (engine hashes —
    // q81 proves the representations agree).
    "q153_contamination_score" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          s AS (SELECT doc_id, ${shinglesSql(5)} AS shs FROM t),
          bsh AS (SELECT DISTINCT unnest(shs) AS sh FROM s WHERE doc_id % 50 = 0),
          ex AS (SELECT doc_id, unnest(shs) AS sh FROM s),
          h AS (SELECT ex.doc_id, count(*) AS n
                FROM ex JOIN bsh USING (sh) GROUP BY ex.doc_id)
          SELECT s.doc_id,
                 CAST(len(shs) AS INTEGER) AS n_shingles,
                 CAST(coalesce(h.n, 0) AS INTEGER) AS n_hits,
                 CASE WHEN len(shs) = 0 THEN 0.0
                      ELSE round(CAST(coalesce(h.n, 0) AS DOUBLE) / len(shs), 4)
                 END AS contamination
          FROM s LEFT JOIN h ON s.doc_id = h.doc_id""",

    // q154: the same two robust aggregates relationally (quantile_cont
    // interpolates exactly as Spark's percentile — parity pinned since
    // q133).
    "q154_mad_outliers" ->
      """WITH m AS (SELECT lang, quantile_cont(n_chars, 0.5) AS med
                    FROM documents GROUP BY lang),
          d AS (SELECT doc_id, documents.lang, n_chars,
                   abs(n_chars - med) AS adev
                FROM documents JOIN m ON documents.lang = m.lang),
          md AS (SELECT lang, quantile_cont(adev, 0.5) AS mad
                 FROM d GROUP BY lang)
          SELECT doc_id, d.lang, n_chars,
                 round(adev / nullif(mad, 0), 4) AS mad_score,
                 adev > 3 * mad AS outlier
          FROM d JOIN md ON d.lang = md.lang""",

    // q139: the same md5-rank window, relationally.
    "q139_stratified_take" ->
      """SELECT doc_id, lang FROM (
           SELECT doc_id, lang,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM documents)
         WHERE rn <= 40""",

    // q160: identical rule to q139 — the aggregator must reproduce the
    // window sort exactly.
    "q160_stratified_take_agg" ->
      """SELECT doc_id, lang FROM (
           SELECT doc_id, lang,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM documents)
         WHERE rn <= 40""",

    // q147: the distributed position assignment replayed as one global
    // window — identical total order (md5 hex is ASCII, so string
    // collation agrees byte-for-byte across engines).
    "q147_global_shuffle" ->
      """SELECT doc_id,
              CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                   - 1 AS BIGINT) AS pos
         FROM documents""",

    "q190_domain_cap" ->
      """SELECT doc_id, source, n_chars, CAST(rn AS INTEGER) AS rank
         FROM (SELECT doc_id, source, n_chars,
                 row_number() OVER (PARTITION BY source
                   ORDER BY n_chars DESC, doc_id) AS rn
               FROM documents)
         WHERE rn <= 20""",

    // q191: the multi-table candidate generator replayed key-for-key
    // (16 disjoint 4-bit slices), then the label gate and exact cosine
    // re-rank — funnel completeness AND scoring both under the hash.
    "q191_hard_negatives" -> {
      val bits = 4
      val tables = 16
      val tkeys = "[" + (0 until tables).map { t =>
        s"('$t:' || " + (1 to bits).map(i =>
          s"(CASE WHEN e[${t * bits + i}] >= 0 THEN '1' ELSE '0' END)")
          .mkString(" || ") + ")"
      }.mkString(", ") + "]"
      s"""WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
             FROM embeddings),
          kv AS (SELECT *, $tkeys AS keys FROM v),
          pr AS (SELECT vec_id, unnest(keys) AS tkey FROM kv),
          cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
                   FROM pr q JOIN pr c
                   ON q.tkey = c.tkey AND q.vec_id != c.vec_id),
          sc AS (SELECT cand.query_id, cand.neighbor_id,
                   c.label AS neg_label, $cosSql AS cos
                 FROM cand
                 JOIN v q ON q.vec_id = cand.query_id
                 JOIN v c ON c.vec_id = cand.neighbor_id
                 WHERE q.label != c.label)
          SELECT query_id, neighbor_id, neg_label, cos,
                 CAST(rn AS INTEGER) AS rank
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, neighbor_id) AS rn FROM sc)
          WHERE rn <= 3"""
    },

    // q239: the q69 kmeans chain (af = final assignment with e), one
    // more per-dim mean over the final members, cosine to own
    // centroid, per-cluster percent_rank, bottom-5% flag.
    "q239_embedding_outliers" ->
      s"""WITH ${kmeansSqlCtes(8, 2)},
          cm AS (SELECT af.cluster, u.i, round(avg(af.e[u.i]), 6) AS m
                 FROM af, unnest(generate_series(1, 64)) AS u(i)
                 GROUP BY af.cluster, u.i),
          cv AS (SELECT cluster, list(m ORDER BY i) AS ce
                 FROM cm GROUP BY cluster),
          cn AS (SELECT cluster, ce,
                   sqrt(list_dot_product(ce, ce)) AS cnorm FROM cv),
          sc AS (SELECT af.vec_id, af.cluster,
                   round(list_dot_product(af.e, cn.ce)
                     / (v.nrm * cn.cnorm), 4) + 0.0 AS cos
                 FROM af JOIN v ON af.vec_id = v.vec_id
                      JOIN cn ON af.cluster = cn.cluster),
          pr AS (SELECT vec_id, cluster, cos,
                   percent_rank() OVER (PARTITION BY cluster
                     ORDER BY cos, vec_id) AS pr0
                 FROM sc)
          SELECT vec_id, cluster, cos, round(pr0, 6) + 0.0 AS prank,
               pr0 < 0.05 AND cos < 1.0 AS is_outlier
          FROM pr""",

    // q236: q191's candidate replay + per-side top-4 averages + the
    // ratio margin + mutual argmax + threshold.
    "q236_margin_mining" -> {
      val bits = 4
      val tables = 16
      val k = 4
      val tkeys = "[" + (0 until tables).map { t =>
        s"('$t:' || " + (1 to bits).map(i =>
          s"(CASE WHEN e[${t * bits + i}] >= 0 THEN '1' ELSE '0' END)")
          .mkString(" || ") + ")"
      }.mkString(", ") + "]"
      s"""WITH v AS (SELECT vec_id, label % 2 AS side,
               CAST(embedding AS DOUBLE[]) AS e,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
             FROM embeddings),
          kv AS (SELECT *, $tkeys AS keys FROM v),
          pr AS (SELECT vec_id, unnest(keys) AS tkey FROM kv),
          cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
                   FROM pr q JOIN pr c
                   ON q.tkey = c.tkey AND q.vec_id != c.vec_id),
          sc AS (SELECT cand.query_id AS src_id, cand.neighbor_id AS tgt_id,
                   $cosSql AS cos
                 FROM cand
                 JOIN v q ON q.vec_id = cand.query_id
                 JOIN v c ON c.vec_id = cand.neighbor_id
                 WHERE q.side = 0 AND c.side = 1),
          sa AS (SELECT src_id, round(avg(cos), 6) + 0.0 AS den_s
                 FROM (SELECT *, row_number() OVER (PARTITION BY src_id
                         ORDER BY cos DESC, tgt_id) AS rn FROM sc)
                 WHERE rn <= $k GROUP BY src_id),
          ta AS (SELECT tgt_id, round(avg(cos), 6) + 0.0 AS den_t
                 FROM (SELECT *, row_number() OVER (PARTITION BY tgt_id
                         ORDER BY cos DESC, src_id) AS rn FROM sc)
                 WHERE rn <= $k GROUP BY tgt_id),
          m AS (SELECT sc.src_id, sc.tgt_id, sc.cos,
                  round(sc.cos / ((sa.den_s + ta.den_t) / 2), 4) + 0.0
                    AS margin
                FROM sc JOIN sa USING (src_id) JOIN ta USING (tgt_id)),
          f AS (SELECT src_id, tgt_id, cos, margin
                FROM (SELECT *, row_number() OVER (PARTITION BY src_id
                        ORDER BY margin DESC, tgt_id) AS rf FROM m)
                WHERE rf = 1),
          bk AS (SELECT src_id, tgt_id
                 FROM (SELECT *, row_number() OVER (PARTITION BY tgt_id
                         ORDER BY margin DESC, src_id) AS rb FROM m)
                 WHERE rb = 1)
          SELECT f.src_id, f.tgt_id, f.cos, f.margin
          FROM f JOIN bk USING (src_id, tgt_id)
          WHERE f.margin >= 1.0"""
    },

    // q192: replant + re-redact — email first, then the word-bounded
    // phone over the de-emailed text, counts from the same stages.
    "q192_pii_redact" -> {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
      s"""WITH p AS (SELECT doc_id,
               text ||
               (CASE WHEN doc_id % 3 = 0
                     THEN ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@mail.example.com now' ELSE '' END) ||
               (CASE WHEN doc_id % 4 = 0
                     THEN ' call 555-'
                          || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                          || '-4321 today' ELSE '' END) AS text
             FROM documents),
          e AS (SELECT doc_id, text,
                  regexp_replace(text, '$email', '<EMAIL>', 'g') AS de
                FROM p)
          SELECT doc_id,
               CAST(len(regexp_extract_all(text, '$email')) AS INTEGER)
                 AS n_emails,
               CAST(len(regexp_extract_all(de, '$phone')) AS INTEGER)
                 AS n_phones,
               md5(regexp_replace(de, '$phone', '<PHONE>', 'g')) AS clean_md5
          FROM e"""
    },

    // q196: fixed-width bins + smoothed shares + Σ(p−q)·ln(p/q),
    // replayed over a dense 0..10 bin spine.
    "q196_psi_drift" ->
      """WITH spine AS (SELECT unnest(generate_series(0, 10)) AS bin),
          rb AS (SELECT least(CAST(floor(n_chars / 100.0) AS BIGINT), 10) AS bin,
                   count(*) AS n
                 FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
          cb AS (SELECT least(CAST(floor(n_chars / 100.0) AS BIGINT), 10) AS bin,
                   count(*) AS n
                 FROM documents WHERE doc_id % 2 = 1 GROUP BY 1),
          ps AS (SELECT spine.bin,
                   (coalesce(rb.n, 0) + 0.5) /
                     ((SELECT sum(n) FROM rb) + 0.5 * 11) AS p
                 FROM spine LEFT JOIN rb ON spine.bin = rb.bin),
          qs AS (SELECT spine.bin,
                   (coalesce(cb.n, 0) + 0.5) /
                     ((SELECT sum(n) FROM cb) + 0.5 * 11) AS q
                 FROM spine LEFT JOIN cb ON spine.bin = cb.bin),
          t AS (SELECT ps.bin, p, q, (p - q) * ln(p / q) AS term
                FROM ps JOIN qs ON ps.bin = qs.bin)
          SELECT CAST(bin AS INTEGER) AS bin,
               round(p, 6) + 0.0 AS p, round(q, 6) + 0.0 AS q,
               (SELECT round(sum(term), 6) + 0.0 FROM t) AS psi
          FROM t""",

    // q197: the five greedy MMR rounds unrolled (AS MATERIALIZED — the
    // bpeOracle doctrine), penalty = max of 4dp-rounded pool sims to
    // the already-selected set, lambda = 0.5 exactly.
    "q197_mmr_select" -> {
      val rounds = (2 to 5).map { r =>
        s"""sel$r AS MATERIALIZED (
             SELECT p.vec_id, p.rel,
               round(0.5 * p.rel - 0.5 * (
                 SELECT max(s.s) FROM sim s
                 WHERE s.ca = p.vec_id
                   AND s.cb IN (SELECT vec_id FROM selu${r - 1})), 4) AS mmr,
               $r AS rank
             FROM pool p
             WHERE p.vec_id NOT IN (SELECT vec_id FROM selu${r - 1})
             ORDER BY mmr DESC, p.vec_id LIMIT 1),
           selu$r AS MATERIALIZED (
             SELECT * FROM selu${r - 1} UNION ALL SELECT * FROM sel$r)"""
      }.mkString(",\n")
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
             FROM embeddings),
          qv AS (SELECT e, nrm FROM v WHERE vec_id = 0),
          pool AS MATERIALIZED (
            SELECT v.vec_id, v.e, v.nrm,
              round(list_dot_product(v.e, qv.e) / (v.nrm * qv.nrm), 4) AS rel
            FROM v, qv WHERE v.vec_id != 0
            ORDER BY rel DESC, v.vec_id LIMIT 20),
          sim AS MATERIALIZED (
            SELECT a.vec_id AS ca, b.vec_id AS cb,
              round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4) AS s
            FROM pool a JOIN pool b ON a.vec_id != b.vec_id),
          sel1 AS MATERIALIZED (
            SELECT vec_id, rel, round(0.5 * rel, 4) AS mmr, 1 AS rank
            FROM pool ORDER BY mmr DESC, vec_id LIMIT 1),
          selu1 AS MATERIALIZED (SELECT * FROM sel1),
          $rounds
          SELECT CAST(rank AS INTEGER) AS rank, vec_id,
               rel + 0.0 AS rel, mmr + 0.0 AS mmr
          FROM selu5"""
    },

    "q199_tok_fertility" ->
      s"""WITH t AS (SELECT lang, CAST(len($toksSql) AS BIGINT) AS toks,
               CAST(length(text) AS BIGINT) AS chars
             FROM documents)
          SELECT lang, CAST(sum(toks) AS BIGINT) AS n_tokens,
               CAST(sum(chars) AS BIGINT) AS n_chars,
               round(CAST(sum(toks) AS DOUBLE) / sum(chars), 6) + 0.0
                 AS fertility
          FROM t GROUP BY lang""",

    // q217: all seven pipeline stages replayed in one chain — plant,
    // quality + language gate (the langId replay is vacuous for this
    // parameterization — langId's co-domain ⊆ MixWeights langs — but
    // it keeps the stage under the hash rather than assumed), exact-
    // dedup keepers, the full LSH + transitive closure (q70's CTEs),
    // benchmark shingle decontamination, the per-domain cap window,
    // the mixture md5 gate over capped counts, and the sequential PII
    // redaction.
    "q217_full_pipeline" -> {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
      val mhCols = (0 until NumHashes).map(j => s"${mhSql(j)} AS mh$j").mkString(", ")
      val rows = NumHashes / Bands
      val bandSelects = (0 until Bands).map { b =>
        val cols = (b * rows until (b + 1) * rows).map(j => s"mh$j").mkString(", ")
        s"SELECT doc_id, $b AS band, md5(concat_ws('|', $cols)) AS bkey FROM m"
      }.mkString(" UNION ALL ")
      val vals = MixWeights.map { case (l, w) => s"('$l', $w)" }.mkString(", ")
      s"""WITH RECURSIVE corpus AS (SELECT doc_id, source, lang,
             text ||
             (CASE WHEN doc_id % 3 = 0
                   THEN ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@mail.example.com now' ELSE '' END) ||
             (CASE WHEN doc_id % 4 = 0
                   THEN ' call 555-'
                        || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                        || '-4321 today' ELSE '' END) AS text
           FROM documents),
          t0 AS (SELECT doc_id, source, lang, text,
                   CAST(length(text) AS BIGINT) AS n_chars, $toksSql AS toks
                 FROM corpus),
          qq AS (SELECT *, $qualitySql AS qual FROM t0),
          gated AS (SELECT doc_id, source, lang, text, n_chars, toks
                    FROM qq WHERE qual >= 0.3
                      AND $langCaseSql IN (${MixWeights.map(w => s"'${w._1}'").mkString(", ")})),
          fp AS (SELECT $fpSql AS f, min(doc_id) AS keep
                 FROM gated GROUP BY 1),
          ex0 AS (SELECT g.* FROM gated g JOIN fp ON g.doc_id = fp.keep),
          s AS (SELECT doc_id, ${shinglesSql(ShingleN)} AS shs FROM ex0),
          s2 AS (SELECT doc_id, shs FROM s WHERE len(shs) > 0),
          hh AS (SELECT doc_id, shs, list_transform(shs, x -> md5(x)) AS hs FROM s2),
          m AS (SELECT doc_id, $mhCols FROM hh),
          bands AS ($bandSelects),
          cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
                   FROM bands a JOIN bands b
                   ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
          j AS (SELECT da, db,
                  len(list_filter(sa.shs, x -> list_contains(sb.shs, x))) * 1.0 AS inter,
                  len(sa.shs) + len(sb.shs) AS tot
                FROM cand JOIN s2 sa ON da = sa.doc_id JOIN s2 sb ON db = sb.doc_id),
          pairs AS (SELECT da, db FROM j
                    WHERE round(inter/(tot-inter), 4) >= 0.5),
          edges AS (SELECT da AS u, db AS v FROM pairs
                    UNION SELECT db, da FROM pairs),
          nds AS (SELECT DISTINCT u FROM edges),
          reach(u, v) AS (SELECT u, u FROM nds
                          UNION
                          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
          dropids AS (SELECT u FROM reach GROUP BY u HAVING u != min(v)),
          kept AS (SELECT * FROM ex0
                   WHERE doc_id NOT IN (SELECT u FROM dropids)),
          bt AS (SELECT doc_id, $toksSql AS toks FROM corpus
                 WHERE doc_id % 50 = 0),
          bs AS (SELECT DISTINCT unnest(${shinglesSql(5)}) AS sh FROM bt),
          ks AS (SELECT doc_id, ${shinglesSql(5)} AS shs5
                 FROM (SELECT doc_id, toks FROM kept) _k),
          kex AS (SELECT doc_id, unnest(shs5) AS sh FROM ks),
          contam AS (SELECT DISTINCT kex.doc_id FROM kex JOIN bs USING (sh)),
          clean AS (SELECT * FROM kept
                    WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
          capped AS (SELECT * FROM (
              SELECT *, row_number() OVER (PARTITION BY source
                ORDER BY n_chars DESC, doc_id) AS rn FROM clean)
            WHERE rn <= 30),
          w(lang, wt) AS (VALUES $vals),
          cnt AS (SELECT lang, count(*) AS n FROM capped
                  WHERE lang IN (SELECT lang FROM w) GROUP BY 1),
          tt AS (SELECT min(cnt.n / w.wt) AS t FROM cnt JOIN w USING (lang)),
          thr AS (SELECT cnt.lang,
                    CAST(floor(1000000.0 * w.wt * tt.t / cnt.n) AS BIGINT) AS thr
                  FROM cnt JOIN w USING (lang) CROSS JOIN tt),
          mixed AS (SELECT c.* FROM capped c JOIN thr ON c.lang = thr.lang
                    WHERE CAST(('0x' || substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                          % 1000000 < thr.thr),
          red AS (SELECT doc_id, text,
                    regexp_replace(text, '$email', '<EMAIL>', 'g') AS de
                  FROM mixed)
          SELECT m2.doc_id, m2.source, m2.lang, m2.n_chars,
               CAST(len(regexp_extract_all(m2.text, '$email')) AS INTEGER)
                 AS n_emails,
               CAST(len(regexp_extract_all(red.de, '$phone')) AS INTEGER)
                 AS n_phones,
               md5(regexp_replace(red.de, '$phone', '<PHONE>', 'g'))
                 AS clean_md5
          FROM mixed m2 JOIN red ON m2.doc_id = red.doc_id"""
    },

    // q215: both retrievers replayed (q37's single bucket, q72's
    // Hamming-1 probes), then the RRF arithmetic and fused top-5.
    "q215_rrf_fusion" -> {
      val bits = 4
      val bucket = "concat(" + (1 to bits).map(i =>
        s"CASE WHEN embedding[$i] >= 0 THEN '1' ELSE '0' END").mkString(", ") + ")"
      val flips = (1 to bits).map { i =>
        s"""SELECT vec_id, concat(substr(bucket, 1, ${i - 1}),
              CASE WHEN substr(bucket, $i, 1) = '1' THEN '0' ELSE '1' END,
              substr(bucket, ${i + 1}, ${bits - i})) AS probe FROM v"""
      }.mkString(" UNION ALL ")
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm,
               $bucket AS bucket
             FROM embeddings),
          pb AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   $cosSql AS cos
                 FROM v q JOIN v c
                 ON q.bucket = c.bucket AND q.vec_id != c.vec_id),
          bk AS (SELECT query_id, neighbor_id, rn FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS rn FROM pb) WHERE rn <= 3),
          probes AS (SELECT vec_id, bucket AS probe FROM v UNION ALL $flips),
          pm AS (SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
                   round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 4)
                     AS cos
                 FROM probes p
                 JOIN v q ON q.vec_id = p.vec_id
                 JOIN v c ON p.probe = c.bucket AND p.vec_id != c.vec_id),
          mp AS (SELECT query_id, neighbor_id, rn FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS rn FROM pm) WHERE rn <= 3),
          u AS (SELECT * FROM bk WHERE query_id < 50
                UNION ALL SELECT * FROM mp WHERE query_id < 50),
          f AS (SELECT query_id, neighbor_id,
                  round(sum(1.0 / (60 + rn)), 6) + 0.0 AS rrf
                FROM u GROUP BY 1, 2)
          SELECT query_id, neighbor_id, rrf, CAST(rn2 AS INTEGER) AS fused_rank
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY rrf DESC, neighbor_id) AS rn2 FROM f)
          WHERE rn2 <= 5"""
    },

    // q216: bins, md5 order, and div/mod batching replayed.
    "q216_length_buckets" ->
      s"""WITH t AS (SELECT doc_id, CAST(len($toksSql) AS INTEGER) AS n_tokens
             FROM documents),
          b AS (SELECT doc_id, n_tokens,
                  CAST(n_tokens // 32 AS INTEGER) AS len_bin FROM t),
          o AS (SELECT *, row_number() OVER (PARTITION BY len_bin
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS rn
                FROM b)
          SELECT doc_id, n_tokens, len_bin,
               CAST(rn // 16 AS INTEGER) AS batch_in_bin,
               CAST(rn % 16 AS INTEGER) AS pos_in_batch
          FROM o""",

    // q213: the md5 total order replayed as one window; batch and
    // position by integer division/modulo of the 0-based position.
    "q213_contrastive_batches" ->
      """WITH pairs AS (SELECT d.doc_id, md5(d.text) AS text_md5, e.label
                        FROM documents d
                        JOIN embeddings e ON e.vec_id = d.doc_id),
         o AS (SELECT *, row_number() OVER (
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
               FROM pairs)
         SELECT doc_id, text_md5, label,
              CAST(pos // 32 AS BIGINT) AS batch_id,
              CAST(pos % 32 AS INTEGER) AS pos_in_batch
         FROM o""",

    // q200: q187's truth/retrieved scaffold with the reciprocal-rank
    // aggregation — 1/min(rank of a truth hit), 0 on a total miss.
    "q200_mrr" -> {
      val bits = 4
      val tables = 16
      val tkeys = "[" + (0 until tables).map { t =>
        s"('$t:' || " + (1 to bits).map(i =>
          s"(CASE WHEN e[${t * bits + i}] >= 0 THEN '1' ELSE '0' END)")
          .mkString(" || ") + ")"
      }.mkString(", ") + "]"
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
             FROM embeddings),
          pe AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   $cosSql AS cos
                 FROM v q JOIN v c ON q.vec_id != c.vec_id
                 WHERE q.vec_id < 50),
          exact AS (SELECT query_id, neighbor_id FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS rn FROM pe) WHERE rn <= 3),
          tk AS (SELECT vec_id, unnest($tkeys) AS tkey FROM v),
          tc AS (SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
                 FROM tk a JOIN tk b ON a.tkey = b.tkey AND a.vec_id != b.vec_id),
          pt AS (SELECT query_id, neighbor_id, $cosSql AS cos
                 FROM tc JOIN v q ON tc.query_id = q.vec_id
                         JOIN v c ON tc.neighbor_id = c.vec_id),
          mt AS (SELECT query_id, neighbor_id, rn FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS rn FROM pt) WHERE rn <= 3)
          SELECT mt.query_id,
               round(coalesce(1.0 / min(CASE WHEN exact.neighbor_id
                     IS NOT NULL THEN mt.rn END), 0.0), 4) + 0.0 AS rr
          FROM mt LEFT JOIN exact
            ON mt.query_id = exact.query_id
           AND mt.neighbor_id = exact.neighbor_id
          WHERE mt.query_id < 50
          GROUP BY mt.query_id"""
    },

    // q202: both lead distances replayed by list indexing.
    "q202_skipgrams" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          p AS (SELECT doc_id, toks,
                  unnest(generate_series(1, len(toks))) AS i FROM t),
          pr AS (
            SELECT toks[CAST(i AS INTEGER)] AS a,
                 toks[CAST(i + 1 AS INTEGER)] AS b
            FROM p WHERE i + 1 <= len(toks)
            UNION ALL
            SELECT toks[CAST(i AS INTEGER)], toks[CAST(i + 2 AS INTEGER)]
            FROM p WHERE i + 2 <= len(toks))
          SELECT a, b, CAST(count(*) AS BIGINT) AS n
          FROM pr GROUP BY a, b HAVING count(*) >= 5""",

    "q204_quality_pctile" ->
      """SELECT doc_id, lang, n_chars,
              round(percent_rank() OVER (PARTITION BY lang
                ORDER BY n_chars), 6) + 0.0 AS pctile
         FROM documents""",

    // q198: plant + shingle + df cap + both containment directions
    // replayed (q35's oracle with the asymmetric denominators).
    "q198_containment" ->
      s"""WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 200000 AS doc_id,
                 substr(text, 1, CAST(floor(length(text) / 2) AS INTEGER))
                   AS text
            FROM documents WHERE doc_id % 4 = 0),
          t AS (SELECT doc_id, $toksSql AS toks FROM corpus),
          s AS (SELECT doc_id, ${shinglesSql(3)} AS shs FROM t),
          s2 AS (SELECT doc_id, shs FROM s WHERE len(shs) > 0),
          ex0 AS (SELECT doc_id, unnest(shs) AS sh FROM s2),
          kept AS (SELECT sh FROM ex0 GROUP BY sh HAVING count(*) <= 1000),
          ex AS (SELECT e.doc_id, e.sh FROM ex0 e JOIN kept USING (sh)),
          sz AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
          ov AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS m
                 FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
          c AS (SELECT doc_a, doc_b,
                  round(m * 1.0 / sa.n, 4) AS cont_ab,
                  round(m * 1.0 / sb.n, 4) AS cont_ba
                FROM ov JOIN sz sa ON doc_a = sa.doc_id
                        JOIN sz sb ON doc_b = sb.doc_id)
          SELECT doc_a, doc_b, cont_ab, cont_ba FROM c
          WHERE greatest(cont_ab, cont_ba) >= 0.6"""
  )
}
