package graft.operators

import graft.functions.{Digest, TextFunctions}
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Deduplication operators for large text corpora (north-star surface:
  * exact, MinHash+LSH, SimHash, n-gram Jaccard).
  *
  * Scale design notes (100 TB target):
  *  - exact dedup is one hash-partitioned groupBy on a 32-char md5 —
  *    partial aggregation collapses each partition to distinct
  *    fingerprints before the exchange;
  *  - MinHash LSH never materializes the O(n²) pair space: candidates
  *    come from an equi-join on (band_index, band_hash), i.e. only docs
  *    that collide in a band meet, and the expensive exact-Jaccard
  *    verify runs on that tiny candidate set;
  *  - all signatures are per-row narrow expressions (no shuffle until
  *    the band join);
  *  - skewed bands (a popular shingle set) would hot-spot one reducer —
  *    AQE skew-join handles it; at extreme scale add the band hash's
  *    first hex char to the join key as a salt.
  */
object Dedup {

  /** LSH PARAMETER ADVISOR — the table an operator reads before
    * committing (bands, rows) for a MinHash dedup run: for every
    * (b, r) factorization of `numHashes`, the S-curve
    * P(candidate | similarity s) = 1 − (1 − s^r)^b integrates (midpoint
    * rule over a `grid`-step similarity axis) into a FALSE-POSITIVE
    * area (candidates below `threshold`) and a FALSE-NEGATIVE area
    * (misses at or above it). Pick the row minimizing the cost you
    * care about — fp costs verify compute, fn costs recall. Pure
    * closed-form arithmetic (Leskovec/Rajaraman/Ullman, MMDS ch. 3):
    * no corpus scan at any scale.
    */
  def lshParameterTable(spark: org.apache.spark.sql.SparkSession,
                        numHashes: Int, threshold: Double,
                        grid: Int = 100): DataFrame = {
    require(numHashes >= 1 && grid >= 2, s"bad n=$numHashes grid=$grid")
    require(threshold > 0 && threshold < 1, s"bad threshold $threshold")
    import spark.implicits._
    val pairs = (1 to numHashes).filter(numHashes % _ == 0)
      .map(b => (b, numHashes / b))
    val s = (col("id").cast("double") - 0.5) / grid
    val pr = lit(1.0) -
      pow(lit(1.0) - pow(col("s"), col("rows_per_band")), col("bands"))
    pairs.toDF("bands", "rows_per_band")
      .crossJoin(spark.range(1, grid + 1L).select(s.as("s")))
      .select(col("bands"), col("rows_per_band"), col("s"), pr.as("pr"))
      .groupBy("bands", "rows_per_band")
      .agg(
        (round(sum(when(col("s") < threshold, col("pr"))
          .otherwise(lit(0.0))) / grid, 6) + lit(0.0)).as("fp_area"),
        (round(sum(when(col("s") >= threshold, lit(1.0) - col("pr"))
          .otherwise(lit(0.0))) / grid, 6) + lit(0.0)).as("fn_area"))
  }

  /** One row per doc: (id, shingles, band keys) computed in a single
    * typed pass. Must stay bit-compatible with the expression/oracle
    * formulation: whitespace tokens, first-occurrence-distinct word
    * n-grams, md5 hex per shingle, hash j = digest window [2j, 2j+8),
    * band key = md5 of the '|'-joined rows of the band.
    */
  final case class SignedDoc(id: Long, shs: Seq[String], bands: Seq[String])

  private def signedDocs(docs: DataFrame, idCol: String, textCol: String,
                         shingleN: Int, numHashes: Int, nBands: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = numHashes / nBands
    Parallelism.ensure(docs)
      .select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { it =>
        val md = Digest.md5()
        it.flatMap { case (id, text) =>
          val toks = text.trim.split("\\s+").filter(_.nonEmpty)
          if (toks.length < shingleN) None
          else {
            val shs = (0 to toks.length - shingleN)
              .map(i => toks.slice(i, i + shingleN).mkString(" "))
              .distinct
            // Hash window j = hex chars [2j, 2j+8) of the shingle md5 =
            // digest bytes [j, j+4). Lowercase-hex lexicographic order ==
            // unsigned big-endian byte order, so the per-window MIN is an
            // unsigned-int comparison on the raw digest — no per-shingle
            // hex string, no per-(shingle, j) substring. Bit-identical to
            // the oracle's substr(md5(x), 1+2j, 8) formulation.
            val mins = Array.fill(numHashes)(Long.MaxValue)
            shs.foreach { s =>
              val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              var j = 0
              while (j < numHashes) {
                val w = ((d(j) & 0xffL) << 24) | ((d(j + 1) & 0xffL) << 16) |
                  ((d(j + 2) & 0xffL) << 8) | (d(j + 3) & 0xffL)
                if (w < mins(j)) mins(j) = w
                j += 1
              }
            }
            val mh = mins.map(w => f"$w%08x")
            val bandKeys = (0 until nBands).map { b =>
              Digest.md5Hex(mh.slice(b * rows, (b + 1) * rows).mkString("|"))
            }
            Some(SignedDoc(id, shs, bandKeys))
          }
        }
      }.toDF("id", "shs", "bands")
  }

  /** Shingle-only typed pass: (id, distinct word n-grams) with NO digest
    * work — the exact-Jaccard path needs the shingle strings themselves,
    * so the md5-per-shingle the minhash signature pass pays would be
    * wasted here (one digest per shingle ≈ 500k digests at sf0.1).
    */
  private def shingledDocs(docs: DataFrame, idCol: String, textCol: String,
                           shingleN: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    Parallelism.ensure(docs)
      .select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val toks = text.trim.split("\\s+").filter(_.nonEmpty)
          if (toks.length < shingleN) None
          else Some((id, (0 to toks.length - shingleN)
            .map(i => toks.slice(i, i + shingleN).mkString(" "))
            .distinct))
        }
      }.toDF("id", "shs")
  }

  /** A2/A3 exact dedup, deterministic: group rows by normalized-text
    * fingerprint, keep the minimum id per group (the reference keeps an
    * arbitrary first — `reduceByKey((a,b)=>a)`, FastqFilter.java:88-94).
    * Returns (keeper id, n_copies).
    */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(TextFunctions.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))

  /** MinHash+LSH near-duplicate pairs.
    *
    * shingle (word n-grams, distinct) → 12-hash MinHash signature →
    * 4 bands × 3 rows → band-collision candidate join → exact Jaccard
    * verify ≥ `threshold`. Output: (doc_a < doc_b, jaccard).
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 3, numHashes: Int = 12, bands: Int = 4,
                      threshold: Double = 0.5): DataFrame = {
    // Signature computation runs in ONE typed mapPartitions pass:
    // Catalyst's higher-order functions (transform/aggregate) are
    // CodegenFallback — interpreted per element — so the md5 + window-
    // min + band pipeline is 3-4× faster as JIT-compiled Scala. The
    // hash values are bit-identical (md5 hex), so the DuckDB oracle is
    // unchanged. localCheckpoint (not persist): both band-join sides and
    // both verify joins read the materialized blocks, and the blocks are
    // reclaimed by the ContextCleaner once the result is dropped — no
    // CacheManager entry survives the query (a long-lived session would
    // otherwise accumulate one cached plan per invocation). The pin
    // carries its stored bytes, shingle arrays included, so the joins
    // against it plan with its real size.
    val sh = Staging.localPin(
      signedDocs(docs, idCol, textCol, shingleN, numHashes, bands))
    val banded = sh
      .select(col("id"), posexplode(col("bands")).as(Seq("band", "bkey")))

    // Candidate pairs: same (band, band-hash), id_a < id_b, deduped.
    // Only (id, band, bkey) rows cross this shuffle — the shingle arrays
    // rejoin AFTER dedup, on the tiny candidate set.
    val cands = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")

    // Exact Jaccard verify on the candidate set.
    val withShs = cands
      .join(sh.select(col("id"), col("shs").as("shs_a")), col("doc_a") === col("id")).drop("id")
      .join(sh.select(col("id"), col("shs").as("shs_b")), col("doc_b") === col("id")).drop("id")
    val inter = size(array_intersect(col("shs_a"), col("shs_b"))).cast("double")
    val uni = (size(col("shs_a")) + size(col("shs_b"))).cast("double") - inter
    withShs
      .withColumn("jaccard", round(inter / uni, 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Pair-recall diagnostic for [[minhashLshPairs]] — the quality
    * number a fuzzy-dedup deployment tunes bands/hashes against: of all
    * TRUE near-dup pairs (exact all-pairs Jaccard ≥ threshold), what
    * fraction did the banded candidate join surface? LSH's verify stage
    * recomputes exact Jaccard on candidates, so found ⊆ exact and the
    * ratio IS recall (precision is 1.0 by construction).
    *
    * The exact baseline is an O(n²) self-join — a LABELED exactness
    * baseline (the bruteForceTopK doctrine), for calibration runs on
    * samples, never the production path.
    */
  def lshPairRecall(docs: DataFrame, idCol: String, textCol: String,
                    shingleN: Int = 3, numHashes: Int = 12, bands: Int = 4,
                    threshold: Double = 0.5): DataFrame = {
    val sh = signedDocs(docs, idCol, textCol, shingleN, numHashes, bands)
      .localCheckpoint()
    def jaccardPairs(pairs: DataFrame): DataFrame = {
      val inter = size(array_intersect(col("shs_a"), col("shs_b"))).cast("double")
      val uni = (size(col("shs_a")) + size(col("shs_b"))).cast("double") - inter
      pairs.withColumn("jaccard", round(inter / uni, 4))
        .filter(col("jaccard") >= threshold)
        .select("doc_a", "doc_b")
    }
    val exact = jaccardPairs(
      sh.as("a").join(sh.as("b"), col("a.id") < col("b.id"))
        .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
          col("a.shs").as("shs_a"), col("b.shs").as("shs_b")))
      .localCheckpoint()
    val banded = sh.select(col("id"), posexplode(col("bands")).as(Seq("band", "bkey")))
    val found = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .join(exact, Seq("doc_a", "doc_b"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(found.agg(count(lit(1)).as("n_found")))
      .select(col("n_exact"), col("n_found"),
        round(col("n_found").cast("double") / col("n_exact"), 4).as("recall"))
  }

  /** Connected components over a near-dup pair graph: every node gets
    * the MINIMUM doc id reachable from it — the cluster's canonical
    * keeper — turning a pair list (from [[minhashLshPairs]] /
    * [[ngramJaccardPairs]] / embedding near-dup) into per-document
    * cluster assignments, the step a real dedup pass needs before it can
    * drop rows.
    *
    * Iterative min-label propagation WITH pointer jumping: each round
    * every node adopts the smallest label among itself and its neighbors
    * (one hash aggregation keyed on node id), then compresses one hop of
    * indirection by adopting its label's own label (one equi self-join —
    * labels satisfy lbl(x) ≤ x, so the jump only ever lowers). The jump
    * doubles propagation reach per round, so convergence is
    * O(log diameter) instead of O(diameter) — a 10⁶-doc boilerplate
    * chain converges in ~20 rounds, not 10⁶. The edge table is static
    * and re-read; labels are the only moving table (narrow relative to
    * the corpus since only paired docs appear). Convergence is detected
    * by the label sum: labels only ever decrease, so an unchanged sum is
    * a fixpoint. The sum is an [[org.apache.spark.sql.Observation]] on
    * the frame each round pins, so it costs no query of its own.
    * localCheckpoint per round truncates lineage so
    * round N's plan doesn't replay rounds 1..N-1 (and the blocks are
    * reclaimed by the ContextCleaner with the result — no CacheManager
    * residue). Exhausting maxIter without the fixpoint throws — silently
    * returning partial labels would give docs a WRONG cluster id.
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a",
                          bCol: String = "doc_b", maxIter: Int = 25): DataFrame = {
    val edges = Staging.localPin(pairs
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .unionAll(pairs
        .select(col(bCol).cast("long").as("u"), col(aCol).cast("long").as("v"))))
    // pin `df` and read its label sum off the same job. coalesce: an
    // EMPTY pair list (a corpus with zero near-dups — legal and common on
    // clean data) sums to NULL; 0 == 0 converges on the first round.
    def pinWithSum(df: DataFrame): (DataFrame, Long) = {
      val obs = Observation()
      val pinned = Staging.localPin(
        df.observe(obs, coalesce(sum("lbl"), lit(0L)).as("s")))
      (pinned, obs.get("s").asInstanceOf[Long])
    }
    var (labels, prevSum) = pinWithSum(edges
      .select(col("u").as("id"), col("u").as("lbl"))
      .groupBy("id").agg(min("lbl").as("lbl")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val nbrMin = edges.join(labels, edges("v") === labels("id"))
        .groupBy(col("u").as("nid")).agg(min("lbl").as("nlbl"))
      val stepped = labels
        .join(nbrMin, labels("id") === nbrMin("nid"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
      // pointer jump: lbl ← lbl(lbl), an equi join that roughly doubles
      // propagation reach per round. The jump table is the ROUND-START
      // labels (already checkpointed — re-read from cached blocks), not
      // `stepped`: jumping through `stepped` would recompute the
      // neighbor-min join for the second branch, and lbl_old(y) ≤ y
      // preserves the min-reachable invariant just the same.
      val (next, s) = pinWithSum(stepped.as("x")
        .join(labels.select(col("id").as("jid"), col("lbl").as("jlbl")),
          col("x.lbl") === col("jid"), "left")
        .select(col("x.id").as("id"),
          least(col("x.lbl"), coalesce(col("jlbl"), col("x.lbl"))).as("lbl")))
      labels = next
      converged = s == prevSum
      prevSum = s
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds — " +
        "component diameter exceeds 2^maxIter; raise maxIter")
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
  }

  /** Incremental (cross-corpus) fuzzy dedup — the production mode at
    * 100 TB: you never re-dedup the full corpus; each new crawl batch
    * dedups AGAINST the existing corpus. Returns the rows of `newDocs`
    * that are NOT a near-duplicate (band collision + exact Jaccard ≥
    * `threshold`) of any `history` document.
    *
    * Scale shape: the band join is BIPARTITE — new-batch band keys
    * against history band keys only (no new×new, no history×history
    * pairs), so the candidate volume scales with the batch, not the
    * corpus. The history side's signatures are recomputed here from
    * text; in a deployed pipeline they are computed once and stored
    * (they are exactly the `signedDocs` output), making the per-batch
    * cost: sign the batch + one equi-join into the stored band table +
    * verify joins on the candidate set. The final prune is a left-anti
    * equi-join on the batch side. Nothing rescans history per batch
    * beyond the band-key join.
    */
  /** The persistable signature table of a corpus: `(id, shs, bands)` —
    * exactly what [[incrementalDedupAgainstSignatures]] consumes as its
    * history side. A deployed pipeline writes this ONCE per corpus
    * snapshot (parquet, partitioned however the corpus is) and appends
    * each accepted batch's signatures, so per-batch dedup never
    * re-reads, re-tokenizes, or re-hashes the corpus text.
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, numHashes: Int = 12,
                        bands: Int = 4): DataFrame =
    signedDocs(docs, idCol, textCol, shingleN, numHashes, bands)

  def incrementalDedup(newDocs: DataFrame, history: DataFrame,
                       idCol: String, textCol: String,
                       shingleN: Int = 3, numHashes: Int = 12, bands: Int = 4,
                       threshold: Double = 0.5): DataFrame =
    incrementalDedupAgainstSignatures(newDocs,
      // both the band explode and the shingle-verify join read the
      // signature table — materialize so the signing pass runs once
      // (a STORED signature table pays only a parquet re-scan instead)
      minhashSignatures(history, idCol, textCol, shingleN, numHashes, bands)
        .localCheckpoint(),
      idCol, textCol, shingleN, numHashes, bands, threshold)

  /** [[incrementalDedup]] with the history side already signed — the
    * deployed form: `histSignatures` is a stored [[minhashSignatures]]
    * table (typically read straight from parquet), so the per-batch
    * cost is signing the batch + one band equi-join into the stored
    * table + Jaccard verify on the candidates.
    */
  def incrementalDedupAgainstSignatures(newDocs: DataFrame,
                                        histSignatures: DataFrame,
                                        idCol: String, textCol: String,
                                        shingleN: Int = 3, numHashes: Int = 12,
                                        bands: Int = 4,
                                        threshold: Double = 0.5): DataFrame = {
    val newSigned = signedDocs(newDocs, idCol, textCol, shingleN, numHashes, bands)
      .localCheckpoint()
    val histSigned = histSignatures
    def banded(df: DataFrame) =
      df.select(col("id"), posexplode(col("bands")).as(Seq("band", "bkey")))
    val cands = banded(newSigned).as("n")
      .join(banded(histSigned).as("h"),
        col("n.band") === col("h.band") && col("n.bkey") === col("h.bkey"))
      .select(col("n.id").as("new_id"), col("h.id").as("hist_id"))
      .dropDuplicates("new_id", "hist_id")
    val withShs = cands
      .join(newSigned.select(col("id"), col("shs").as("shs_n")),
        col("new_id") === col("id")).drop("id")
      .join(histSigned.select(col("id"), col("shs").as("shs_h")),
        col("hist_id") === col("id")).drop("id")
    val inter = size(array_intersect(col("shs_n"), col("shs_h"))).cast("double")
    val uni = (size(col("shs_n")) + size(col("shs_h"))).cast("double") - inter
    val dupNew = withShs
      .withColumn("jaccard", round(inter / uni, 4))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id")).distinct()
    newDocs.join(dupNew, newDocs(idCol) === dupNew("new_id"), "left_anti")
  }

  /** The composed end-to-end fuzzy-dedup pass — what a pipeline user
    * actually calls: [[minhashLshPairs]] (band-collision candidates +
    * exact Jaccard verify) → [[connectedComponents]] (cluster labels) →
    * drop every document that is not its cluster's canonical keeper
    * (the minimum doc id). Returns the SURVIVING rows of `docs`,
    * schema unchanged.
    *
    * Scale shape: the pair graph and label table only contain documents
    * that collided in some band — a small fraction of the corpus — so
    * the final prune is a left-anti equi-join against a skinny loser
    * list (broadcast when it fits, shuffle otherwise; AQE decides).
    * The corpus itself is scanned once for signatures and once for the
    * prune; nothing all-pairs, nothing driver-side.
    */
  def fuzzyDedup(docs: DataFrame, idCol: String, textCol: String,
                 shingleN: Int = 3, numHashes: Int = 12, bands: Int = 4,
                 threshold: Double = 0.5): DataFrame = {
    val pairs = minhashLshPairs(docs, idCol, textCol, shingleN, numHashes,
      bands, threshold)
    val losers = connectedComponents(pairs)
      .filter(col("cluster_id") =!= col("doc_id"))
      .select(col("doc_id").as("__loser_id"))
    docs.join(losers, col(idCol) === col("__loser_id"), "left_anti")
  }

  /** SimHash near-dup buckets: 16-bit signature over tokens; groups with
    * >1 member are near-dup clusters (plus rare 16-bit collisions).
    */
  def simhashBuckets(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Parallelism.ensure(docs)
      // materialize tokens, then ONE md5 per token — the 16 bit-
      // aggregates reference the hash column, so an inline tokenizer or
      // inline md5 would re-run 16× per row.
      .select(col(idCol).as("id"), TextFunctions.tokens(col(textCol)).as("toks"))
      .select(col("id"), transform(col("toks"), t => md5(t)).as("hs"))
      .select(col("id"), TextFunctions.simhash16FromHashes(col("hs")).as("simhash"))
      .groupBy("simhash")
      .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"))
      .filter(col("n") > 1)

  /** SimHash near-dup PAIRS within a Hamming radius — the Manku/Google
    * block-index recipe at the PRODUCTION width: a 64-bit signature
    * ([[graft.functions.TextFunctions.simhash64FromHashes]]) split
    * into 4 blocks of 16 bits; by pigeonhole, any pair within Hamming
    * distance ≤ 3 matches EXACTLY on at least one block, so an
    * equi-join per (block index, block bits) surfaces every candidate
    * and the 64-bit Hamming verify keeps the true pairs.
    *
    * Scale shape: |blocks| equi-joins' worth of candidates (never all
    * pairs), shuffle keys are (block, 16 bits) — 4 × 2¹⁶ distinct keys
    * versus the 4 × 2⁴ = 64 a 16-bit/4-bit-block toy layout would
    * give, whose candidate join degenerates toward n²/64 (an all-pairs
    * join in disguise). At 16-bit blocks a billion-doc corpus averages
    * ~4k docs per bucket key — a real join, not a disguised cross.
    */
  def simhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          radius: Int = 2): DataFrame = {
    require(radius >= 1 && radius <= 3,
      s"radius $radius outside the 4-block pigeonhole guarantee (1..3)")
    val sig = Parallelism.ensure(docs)
      .select(col(idCol).as("id"), TextFunctions.tokens(col(textCol)).as("toks"))
      .select(col("id"), transform(col("toks"), t => md5(t)).as("hs"))
      .select(col("id"), TextFunctions.simhash64FromHashes(col("hs")).as("sim"))
      .localCheckpoint()
    val blocks = sig.select(col("id"),
      posexplode(array((0 until 4).map(b =>
        substring(col("sim"), b * 16 + 1, 16)): _*)).as(Seq("blk", "key")))
    val cands = blocks.as("a")
      .join(blocks.as("b"),
        col("a.blk") === col("b.blk") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val ham = (0 until 64).map(i =>
      when(substring(col("sim_a"), i + 1, 1) =!=
        substring(col("sim_b"), i + 1, 1), 1).otherwise(0))
      .reduce(_ + _)
    cands
      .join(sig.select(col("id"), col("sim").as("sim_a")), col("doc_a") === col("id")).drop("id")
      .join(sig.select(col("id"), col("sim").as("sim_b")), col("doc_b") === col("id")).drop("id")
      .withColumn("hamming", ham.cast("int"))
      .filter(col("hamming") <= radius)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Edit-distance similarity join: every pair within Levenshtein
    * distance ≤ `maxDist`, WITHOUT the all-pairs comparison — the
    * PassJoin partition scheme (Li/Deng/Feng, ICDE 2011; public
    * algorithm): split each string into `maxDist + 1` contiguous
    * segments. If ed(s, t) ≤ d, each edit touches at most one of s's
    * d + 1 segments, so at least one segment survives UNEDITED and
    * appears verbatim in t — start position shifted by at most d (each
    * insertion/deletion before it moves it one place). Candidates
    * therefore come from an equi-join between every string's own
    * segments (anchor side, keyed (anchor length, segment index,
    * segment text)) and every length/index/shift-compatible substring
    * of the other strings (probe side, same key); the exact Levenshtein
    * verify then runs only on candidate pairs.
    *
    * Scale shape: probe fan-out is (d+1)·(2d+1)² keys per row (18 at
    * d = 1, 75 at d = 2) — constant, independent of corpus size; both
    * sides shuffle skinny (key, id) rows and every join is an
    * equi-join, never a cartesian (PlanSpec-asserted). Template-heavy
    * corpora where one segment value is shared by many strings
    * ("Customer#0000…" prefixes) hot-spot that key's reducer exactly
    * like any skewed join key — AQE skew-split applies, and Ed-Join's
    * content-based segment selection is the published refinement.
    *
    * Strings shorter than d + 1 characters cannot fill d + 1 non-empty
    * segments and are dropped (bucket ultra-short strings separately;
    * the oracle applies the same floor).
    */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
                        maxDist: Int = 1): DataFrame = {
    require(maxDist >= 1 && maxDist <= 3,
      s"maxDist $maxDist outside the supported segment range (1..3)")
    val d = maxDist
    val k = d + 1
    // (id, s) reused by the anchor explode, the probe explode, and the
    // two verify joins — one materialization, per-invocation blocks.
    val base = Parallelism.ensure(df)
      .select(col(idCol).cast("long").as("id"), col(strCol).as("s"))
      .filter(length(col("s")) >= k)
      .localCheckpoint()
    val len = length(col("s"))
    // Even split of a length-L string into k segments (first L mod k
    // segments one char longer); all Column arithmetic, so the explode
    // stays inside codegen. 1-based positions for substr.
    def segLen(l: Column, i: Int): Column =
      floor(l.cast("double") / k).cast("int") +
        when(lit(i) < l % k, 1).otherwise(0)
    def segStart(l: Column, i: Int): Column =
      (lit(i) * floor(l.cast("double") / k).cast("int") +
        least(lit(i), l % k) + 1).cast("int")

    val anchors = base.select(col("id"),
      explode(array((0 until k).map { i =>
        struct(len.as("al"), lit(i).as("seg"),
          col("s").substr(segStart(len, i), segLen(len, i)).as("piece"))
      }: _*)).as("key"))

    // Probe side: for each possible anchor length La = len + delta
    // (|delta| ≤ d), segment index i, and shift in [-d, d], the window
    // of THIS string where that anchor segment could sit verbatim.
    val probeKeys = for {
      delta <- -d to d
      i <- 0 until k
      shift <- -d to d
    } yield {
      val la = len + delta
      val pl = segLen(la, i)
      val ps = segStart(la, i) + shift
      when(la >= k && ps >= 1 && ps + pl - 1 <= len,
        struct(la.as("al"), lit(i).as("seg"),
          col("s").substr(ps, pl).as("piece")))
    }
    val probes = base.select(col("id"),
      explode(filter(array(probeKeys: _*), x => x.isNotNull)).as("key"))
      .dropDuplicates("id", "key")

    val cands = anchors.as("a")
      .join(probes.as("b"),
        col("a.key") === col("b.key") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")

    cands
      .join(base.select(col("id"), col("s").as("s_a")),
        col("id_a") === col("id")).drop("id")
      .join(base.select(col("id"), col("s").as("s_b")),
        col("id_b") === col("id")).drop("id")
      // threshold variant: banded DP, O(d·n) per pair instead of the
      // full O(n²) matrix (measured 14× on 200-char pairs) — candidates
      // above d short-circuit to -1, so ONE reference filters exactly
      .withColumn("dist", levenshtein(col("s_a"), col("s_b"), d))
      .filter(col("dist") =!= -1)
      .select("id_a", "id_b", "dist")
  }

  /** Exact n-gram Jaccard pairs above a threshold, via shingle-explode
    * co-grouping (no LSH, but still no cartesian product: only pairs that
    * SHARE at least one shingle are generated by the equi-join).
    *
    * `maxDf` caps shingle document frequency before the self-join: the
    * join's output is O(Σ df²) over shingle frequencies, so one corpus-
    * common shingle ("of the and", boilerplate headers) explodes a single
    * reducer at scale. Shingles with df > maxDf are dropped from the
    * shingle SET (numerator AND denominator — Jaccard is computed over
    * the capped sets, and the oracle applies the identical cap). High-df
    * shingles are non-discriminative by definition, so at sane caps the
    * surviving pair set is unchanged; at 100× corpus scale this bound is
    * what keeps the reducer input per shingle ≤ maxDf² rows.
    *
    * The cap is applied through the DROPPED side: at most
    * (total shingle occurrences)/maxDf distinct shingles can exceed the
    * cap, so `dropped` is a small table that AQE broadcast-anti-joins —
    * the cap costs one partial-agg exchange, not a second big semi-join.
    * Per-doc capped sizes are likewise derived PRE-explode
    * (|shs| − dropped-hits, shingles are distinct per doc), so only rows
    * touching a dropped shingle flow through the size aggregation.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, threshold: Double = 0.3,
                        maxDf: Int = 1000): DataFrame = {
    // typed shingle pass (no digests — see shingledDocs); localCheckpoint:
    // several branches (df agg, anti join, sizes) re-read it, and the
    // blocks are GC'd with the result, no CacheManager residue. ex0 is a
    // narrow explode over the checkpointed blocks — cheap to recompute
    // per branch, so it is deliberately NOT checkpointed (the r2 `ex`
    // checkpoint was a full extra materialization of the big table).
    val sh = shingledDocs(docs, idCol, textCol, shingleN).localCheckpoint()
    // Shingle strings become 64-bit XXH64 keys BEFORE any exchange: the
    // df aggregation and the O(Σ df²) self-join then shuffle fixed-width
    // (long, long) rows instead of ~30-byte strings — a constant-factor
    // win on every exchange and hash probe in the plan's hot path. A
    // collision merges two shingles into one key, perturbing one pair's
    // overlap count by ±1 (P ≈ n²/2⁶⁵ over distinct shingles); the
    // denominators stay exact (per-doc counts from the string sets).
    val ex0 = sh.select(col("id"), explode(col("shs")).as("shStr"))
      .select(col("id"), xxhash64(col("shStr")).as("sh"))
    val dropped = ex0.groupBy("sh")
      .agg(count(lit(1)).as("df")).filter(col("df") > maxDf)
      .select("sh")
    val ex = ex0.join(dropped, Seq("sh"), "left_anti")
    // Jaccard denominators over the CAPPED sets, derived pre-explode.
    val droppedPerDoc = ex0.join(dropped, Seq("sh"))
      .groupBy("id").agg(count(lit(1)).as("nd"))
    val sizes = sh.select(col("id"), size(col("shs")).as("n0"))
      .join(droppedPerDoc, Seq("id"), "left")
      .select(col("id"),
        (col("n0") - coalesce(col("nd"), lit(0))).cast("long").as("n"))

    // Self-join sides are the identical subtree, so the sh exchange is
    // planned once and reused (ReusedExchange); SHUFFLE_HASH skips the
    // two sort passes SMJ would add. The build side is one partition of
    // ex held in memory: the df cap bounds per-KEY skew, and overall
    // partition volume is governed by shuffle.partitions — the standard
    // SHJ sizing rule (raise partitions at larger corpora; SMJ would
    // spill instead but pays the sorts).
    val overlap = ex.as("a").hint("SHUFFLE_HASH")
      .join(ex.as("b"), col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .agg(count(lit(1)).as("m"))

    overlap
      .join(sizes.as("sa"), col("doc_a") === col("sa.id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.id"))
      .withColumn("jaccard",
        round(col("m").cast("double") /
          (col("sa.n") + col("sb.n") - col("m")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Shingle CONTAINMENT pairs — the asymmetric sibling of
    * [[ngramJaccardPairs]] (Broder's C(A,B) = |S(A)∩S(B)| / |S(A)|):
    * a short document quoted whole inside a long one scores near 1.0
    * on containment while its Jaccard stays tiny (the union is
    * dominated by the long side), so threshold-Jaccard dedup
    * systematically misses quote/excerpt duplication. Emits both
    * directions per candidate pair (`cont_ab` = fraction of A inside B,
    * `cont_ba` the reverse); rows survive when either direction clears
    * the threshold.
    *
    * Identical scale shape to the Jaccard operator: XXH64 shingle keys,
    * df cap, one reused SHUFFLE_HASH self-join — never all-pairs.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 3, threshold: Double = 0.8,
                       maxDf: Int = 1000): DataFrame = {
    val sh = shingledDocs(docs, idCol, textCol, shingleN).localCheckpoint()
    val ex0 = sh.select(col("id"), explode(col("shs")).as("shStr"))
      .select(col("id"), xxhash64(col("shStr")).as("sh"))
    val dropped = ex0.groupBy("sh")
      .agg(count(lit(1)).as("df")).filter(col("df") > maxDf)
      .select("sh")
    val ex = ex0.join(dropped, Seq("sh"), "left_anti")
    val droppedPerDoc = ex0.join(dropped, Seq("sh"))
      .groupBy("id").agg(count(lit(1)).as("nd"))
    val sizes = sh.select(col("id"), size(col("shs")).as("n0"))
      .join(droppedPerDoc, Seq("id"), "left")
      .select(col("id"),
        (col("n0") - coalesce(col("nd"), lit(0))).cast("long").as("n"))
    val overlap = ex.as("a").hint("SHUFFLE_HASH")
      .join(ex.as("b"), col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .agg(count(lit(1)).as("m"))
    overlap
      .join(sizes.as("sa"), col("doc_a") === col("sa.id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.id"))
      .withColumn("cont_ab",
        round(col("m").cast("double") / col("sa.n").cast("double"), 4))
      .withColumn("cont_ba",
        round(col("m").cast("double") / col("sb.n").cast("double"), 4))
      .filter(greatest(col("cont_ab"), col("cont_ba")) >= threshold)
      .select("doc_a", "doc_b", "cont_ab", "cont_ba")
  }

  /** EXACT substring dedup — the published remove-repeated-passages
    * pass (boilerplate, licenses, templated pages repeated verbatim
    * across a crawl): every token position covered by a `w`-token
    * window whose content occurs ≥ 2 times ANYWHERE in the corpus
    * (other documents or elsewhere in the same one) is CUT from the
    * document; the survivors re-join in order. Suffix-array systems
    * find the same regions single-node; the Spark-natural equivalent
    * is rolling `w`-gram keys + one count aggregation:
    *
    *   1. narrow gram pass — (doc, start, md5(w-gram)) skinny rows;
    *   2. ONE hash aggregation finds duplicated gram VALUES (map-side
    *      partial count collapses the unique tail);
    *   3. marked starts expand to covered positions (explode bounded
    *      by |duplicated regions|·w, not corpus size);
    *   4. anti-join + ordered reassembly per document.
    *
    * Emits (id, clean_md5, n_tokens, n_cut) — digests, not the
    * rebuilt text.
    */
  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken — the
    * MOSS algorithm): hash every character k-gram, slide a window of w
    * consecutive gram hashes, and select each window's MINIMUM hash;
    * the distinct selected hashes are the document's fingerprint set.
    * The winnowing guarantee: any shared substring of length ≥ k+w−1
    * between two documents yields at least one SHARED fingerprint — the
    * partial-overlap/plagiarism detection primitive that whole-document
    * md5 and shingle-Jaccard both miss (they need near-total overlap).
    * Density is ~2/(w+1) of the grams, so the set is a bounded sketch.
    *
    * Emits one row per document: (id, n_fp, fp_sum) — the fingerprint
    * count and hash sum, a deterministic digest of the set (overlap
    * detection joins the exploded set; the digest keeps the oracle row
    * per-document). Documents with fewer than k+w−1 chars have no full
    * window and are absent, the standard boundary.
    *
    * Scale shape: the default `kernel` path is ONE narrow mapPartitions
    * pass — per document: rolling gram digests, a monotonic-deque
    * window minimum, and local distinct — so the operator shuffles
    * NOTHING in digest form (the relational twin explodes one row per
    * gram and pays two corpus-sized exchanges: the window's
    * partitionBy-id and the distinct). Both paths emit bit-identical
    * fingerprints (md5-prefix 60-bit — DedupSpec pins the equality on
    * hostile unicode), so the DuckDB oracle replays either. The
    * relational form stays for cross-checking and SQL-only contexts.
    */
  def winnowingFingerprints(docs: DataFrame, idCol: String,
                            textCol: String, k: Int = 8,
                            w: Int = 4, exploded: Boolean = false,
                            kernel: Boolean = true)
      : DataFrame = {
    require(k >= 2 && w >= 1, s"bad winnowing params k=$k w=$w")
    if (kernel)
      return winnowingKernel(docs, idCol, textCol, k, w, exploded)
    import org.apache.spark.sql.expressions.Window
    val len = length(col(textCol))
    val nGrams = len - k + 1
    val grams = docs
      .select(col(idCol), col(textCol), nGrams.as("ng"),
        explode(when(len >= k + w - 1,
          sequence(lit(1), nGrams)).otherwise(array())).as("pos"))
      // 15 hex chars = a 60-bit hash space. 8 chars (32 bits) is a
      // scale-killer: at ~10¹³ corpus k-grams every one of the 2³²
      // values collects df ≈ 2,300 ≫ any sane maxDf, so the overlap
      // join's df gate silently drops EVERY fingerprint and the
      // operator degrades to a no-op exactly when it matters. At 60
      // bits the expected df is ~10⁻⁵ — boilerplate stays the only
      // thing the gate removes. 15 (not 16) chars so the value fits a
      // signed 64-bit long in both engines (16 would overflow the cast
      // to NULL for hashes above 2⁶³).
      .select(col(idCol), col("ng"), col("pos"),
        conv(substring(md5(col(textCol).substr(col("pos"), lit(k))),
          1, 15), 16, 10).cast("long").as("h"))
    val win = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    val sel = grams
      .withColumn("minh", min(col("h")).over(win))
      .filter(col("pos") <= col("ng") - w + 1) // full windows only
      .select(col(idCol), col("minh").as("fp")).distinct()
    if (exploded) sel // the overlap-join form
    else sel.groupBy(col(idCol))
      // checksum mod 1e9+7: raw 60-bit fingerprints summed over a
      // large doc overflow a signed long (ANSI abort); reduced values
      // stay < 2³⁰ so even a billion fingerprints sum within range
      .agg(count(lit(1)).as("n_fp"),
        sum(col("fp") % 1000000007L).as("fp_sum"))
  }

  /** The zero-shuffle winnowing pass: per document, gram digests +
    * deque window-min + local distinct, one narrow mapPartitions.
    * Gram slicing goes through UTF8String.substringSQL — the exact
    * code-point arithmetic Spark's `substr` uses — and the 60-bit
    * value is the md5 digest's first 8 bytes big-endian >>> 4, which
    * IS `conv(substring(md5hex, 1, 15), 16, 10)` without building the
    * hex string (nibbles 0–14). Keeps the relational form's boundary:
    * docs shorter than k+w−1 code points emit nothing.
    */
  private def winnowingKernel(docs: DataFrame, idCol: String,
                              textCol: String, k: Int, w: Int,
                              exploded: Boolean): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import org.apache.spark.unsafe.types.UTF8String
    val idField = docs.schema(idCol)
    val outSchema =
      if (exploded) StructType(Seq(idField,
        StructField("fp", LongType, nullable = false)))
      else StructType(Seq(idField,
        StructField("n_fp", LongType, nullable = false),
        StructField("fp_sum", LongType, nullable = false)))
    // the kernel inherits input partitioning (that IS the zero-shuffle
    // win at scale) — but a one-file local table would serialize the
    // md5 work onto one task; the shared gate spreads scan-shaped
    // under-parallel inputs and no-ops on anything already wide
    Parallelism.ensure(docs.select(col(idCol), col(textCol).cast("string")))
      .mapPartitions { rows =>
        val md = Digest.md5()
        rows.flatMap { r =>
          val text = if (r.isNullAt(1)) null else r.getString(1)
          val u = if (text == null) null else UTF8String.fromString(text)
          val n = if (u == null) 0 else u.numChars()
          if (n < k + w - 1) Iterator.empty
          else {
            val id = r.get(0)
            val ng = n - k + 1
            val hs = new Array[Long](ng)
            var i = 0
            while (i < ng) {
              val d = md.digest(u.substringSQL(i + 1, k).getBytes)
              var v = 0L
              var b = 0
              while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
              hs(i) = v >>> 4
              i += 1
            }
            val sel = new java.util.HashSet[java.lang.Long]()
            val dq = new java.util.ArrayDeque[Int]()
            var p = 0
            while (p < ng) {
              while (!dq.isEmpty && hs(dq.peekLast()) >= hs(p)) dq.pollLast()
              dq.addLast(p)
              if (dq.peekFirst() <= p - w) dq.pollFirst()
              if (p >= w - 1) sel.add(hs(dq.peekFirst()))
              p += 1
            }
            if (exploded) {
              val it = sel.iterator()
              new Iterator[Row] {
                def hasNext: Boolean = it.hasNext
                def next(): Row = Row(id, it.next().longValue())
              }
            } else {
              var cnt = 0L
              var s = 0L
              val it = sel.iterator()
              while (it.hasNext) { cnt += 1; s += it.next() % 1000000007L }
              Iterator.single(Row(id, cnt, s))
            }
          }
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Document-overlap pairs from winnowing fingerprints — the
    * detection JOIN on the [[winnowingFingerprints]] sketch: documents
    * sharing ≥ `minShared` selected hashes are reported with their
    * shared count (partial-overlap/plagiarism candidates that
    * whole-doc and Jaccard dedup both miss). Fingerprints appearing in
    * more than `maxDf` documents are dropped FIRST — boilerplate
    * hashes would otherwise join every document against every other
    * (the Σdf² blowup); the cap bounds the self-join fan-out exactly
    * like the n-gram df cap in [[ngramJaccardPairs]].
    *
    * Scale shape: fingerprint explode (corpus-bounded), one frequency
    * aggregation, the capped equi self-join on the hash, one pair
    * count aggregation — no cartesian anywhere.
    */
  def winnowingOverlap(docs: DataFrame, idCol: String, textCol: String,
                       k: Int = 8, w: Int = 4, minShared: Int = 2,
                       maxDf: Int = 20): DataFrame = {
    require(minShared >= 1 && maxDf >= 2,
      s"bad overlap params minShared=$minShared maxDf=$maxDf")
    val fps = winnowingFingerprints(docs, idCol, textCol, k, w,
      exploded = true).localCheckpoint() // frequency agg + both join arms
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("fp")
    val gated = fps.join(rare, "fp")
    gated.as("a").join(gated.as("b"),
        col("a.fp") === col("b.fp") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  def substringDedup(docs: DataFrame, idCol: String, textCol: String,
                     w: Int = 20): DataFrame = {
    require(w >= 2, s"window $w too small")
    val toks = Parallelism.ensure(docs)
      .select(col(idCol).cast("long").as("id"),
        graft.functions.TextFunctions.tokens(col(textCol)).as("toks"))
      .localCheckpoint() // grams AND the reassembly read it
    // guard: Spark's sequence(1, n) steps BACKWARD when n < 1, so docs
    // shorter than the window must yield an empty gram array, not
    // descending indices
    val grams = toks.select(col("id"),
        posexplode(when(size(col("toks")) >= w, transform(
          sequence(lit(1), size(col("toks")) - (w - 1)),
          i => md5(concat_ws(" ", slice(col("toks"), i, lit(w))))))
          .otherwise(array().cast("array<string>"))))
      .select(col("id"), (col("pos") + 1).as("i"), col("col").as("g"))
    val dup = grams.groupBy("g").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("g")
    val covered = grams.join(dup, "g")
      .select(col("id"), explode(sequence(col("i"), col("i") + (w - 1)))
        .as("j"))
      .distinct()
    val positions = toks.select(col("id"),
        posexplode(col("toks")).as(Seq("p", "tok")))
      .select(col("id"), (col("p") + 1).as("j"), col("tok"))
    val kept = positions.join(covered, Seq("id", "j"), "left_anti")
    val rebuilt = kept.groupBy("id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(array_sort(collect_list(
          struct(col("j"), col("tok")))), s => s.getField("tok")))
          .as("clean"))
    toks.select(col("id"), size(col("toks")).as("n_tokens"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol),
        md5(coalesce(col("clean"), lit(""))).as("clean_md5"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).cast("int")
          .as("n_cut"))
  }

  // ------------------------------------------------------------------
  // Content-defined chunking (CDC)
  // ------------------------------------------------------------------

  private[graft] val CdcWindow = 16
  private[graft] val CdcP = 257L
  private[graft] val CdcM = 1000000007L
  private[graft] lazy val CdcPow: Array[Long] = {
    val a = new Array[Long](CdcWindow)
    a(0) = 1L
    (1 until CdcWindow).foreach(k => a(k) = a(k - 1) * CdcP % CdcM)
    a
  }

  /** Content-defined chunk boundaries over the text's bytes: position
    * i (0-based, i ≥ window−1) is a boundary iff the polynomial hash of
    * the 16-byte window ENDING at i — Σₖ b(i−k)·Pᵏ mod M — satisfies
    * h % 64 == 63, splitting AFTER i. Pure per-position arithmetic
    * (no min/max chunk clamps), so chunking is STATELESS: boundaries
    * depend only on a 16-byte neighborhood, the property that lets CDC
    * parallelize per document (and even per split with window overlap)
    * at 100 TB, and that keeps an insertion from reshifting every
    * later chunk the way fixed-size blocking does.
    */
  private[graft] def cdcBoundaries(bytes: Array[Byte]): Array[Int] = {
    val out = Array.newBuilder[Int]
    if (bytes.length < CdcWindow) return out.result()
    val pTop = CdcPow(CdcWindow - 1)
    // rolling form of the window hash (bit-identical to the direct
    // sum): h(i+1) = b(i+1) + P·(h(i) − b(i−15)·P¹⁵) mod M — one
    // mul/sub/mod per byte instead of 16.
    var h = 0L
    var k = 0
    while (k < CdcWindow) {
      h = (h + (bytes(CdcWindow - 1 - k) & 0xff) * CdcPow(k)) % CdcM
      k += 1
    }
    var i = CdcWindow - 1
    while (i < bytes.length - 1) { // a split after the last byte is moot
      if (h % 64 == 63) out += i
      // slide to end at i+1 (the final slide is unused when i+1 is the
      // last byte, but it keeps the loop branch-free)
      val dropped = (bytes(i - CdcWindow + 1) & 0xff) * pTop % CdcM
      h = (((h - dropped + CdcM) % CdcM) * CdcP + (bytes(i + 1) & 0xff)) % CdcM
      i += 1
    }
    out.result()
  }

  /** Content-defined chunk dedup — the blob/dataset dedup primitive
    * (LBFS/FastCDC lineage): split every document at content-defined
    * boundaries, digest each chunk, and aggregate per digest. A
    * passage shared across documents chunks IDENTICALLY once the
    * 16-byte window is inside it (boundaries are content-local), so
    * shared chunks collapse regardless of their byte offset — the
    * property fixed-size blocking lacks. Emits per distinct chunk:
    * its length, total copies, and distinct carrying documents.
    *
    * Scale shape: one narrow mapPartitions pass per document (digest
    * + length only — chunk BYTES never shuffle), then a groupBy on the
    * digest; at 100 TB the shuffle carries ~48 bytes per chunk.
    */
  /** The chunk-extraction stage alone (doc_id, chunk_idx, chunk_md5,
    * chunk_len) — STATELESS per document, so it runs unchanged on a
    * Structured Streaming dataset (the online half of CDC dedup).
    */
  def cdcChunks(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.flatMap { case (id, text) =>
          val bytes = text.getBytes("UTF-8")
          if (bytes.isEmpty) Iterator.empty
          else {
            val bs = cdcBoundaries(bytes)
            val starts = 0 +: bs.map(_ + 1)
            val ends = bs.map(_ + 1) :+ bytes.length
            starts.iterator.zip(ends.iterator).zipWithIndex.map {
              case ((s, e), ci) =>
                val chunk = java.util.Arrays.copyOfRange(bytes, s, e)
                (id, ci, Digest.md5Hex(chunk), e - s)
            }
          }
        }
      }
      .toDF("doc_id", "chunk_idx", "chunk_md5", "chunk_len")
  }

  def cdcChunkDedup(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame =
    cdcChunks(Parallelism.ensure(docs), idCol, textCol)
      .groupBy("chunk_md5", "chunk_len")
      .agg(count(lit(1)).cast("long").as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"))
}
