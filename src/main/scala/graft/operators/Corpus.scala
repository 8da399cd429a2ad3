package graft.operators

import graft.functions.{Digest, TextFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Corpus-level term statistics for training-data curation.
  *
  * Scale design (100 TB corpus):
  *  - TF is one hash-partitioned aggregation on (doc, term) — partial
  *    aggregation collapses repeats inside each partition before the
  *    exchange;
  *  - DF re-aggregates the (already small) TF table on term only;
  *  - the TF×DF join is an equi-join on `term`, the key both sides
  *    already hash by — at bounded vocab Spark broadcasts the DF side,
  *    at open vocab it stays a co-partitioned shuffle join;
  *  - the corpus size N joins in as a broadcast 1-row aggregate (a
  *    Catalyst plan, NOT a driver-side `.count()` action — one job).
  */
object Corpus {

  /** Deterministic hash sampling: keep a row iff
    * `md5(id) mod 100 < pct`. No RNG — the sample is reproducible
    * across runs, engines, and partitionings (the property training-mix
    * pipelines need for resumable jobs and audits), and it is a narrow
    * per-row filter that pushes through any plan. `pct` may vary per
    * row (a Column), enabling stratified rates — e.g. by language or
    * quality band.
    */
  def hashSampleFilter(id: Column, pct: Column): Column =
    hashGate(id, 100L, pct)

  /** The determinism-critical md5 gate shared by [[hashSampleFilter]]
    * (percent granularity) and [[mixtureSample]] (10⁻⁶ granularity):
    * keep iff `md5(id) mod modulus < threshold`.
    */
  def hashGate(id: Column, modulus: Long, threshold: Column): Column =
    (conv(substring(md5(id.cast("string")), 1, 8), 16, 10)
      .cast("long") % modulus) < threshold

  /** Hashing-trick linear text scorer — the execution shape of a
    * fastText-style quality classifier (hash each token to a weight,
    * score = mean token weight + bias), with md5-derived weights
    * standing in for trained ones so BOTH engines compute the identical
    * model: w(t) = (md5₃₂(t) mod 2001 − 1000) / 1000 ∈ [−1, 1] (the
    * [[hashGate]] md5 pattern, q73-proven cross-engine). Swapping in
    * trained weights = replacing `w` with a broadcast-map lookup; the
    * plan shape is unchanged.
    *
    * Scale: ONE narrow pass — tokenize, per-token weight via a HOF
    * transform, left-fold in token order (pinned IEEE sum order, the
    * bm25/pqAdc rule), divide, round. No shuffle; nothing leaves the
    * row. The HOF lambdas are CodegenFallback (interpreted) — at
    * production scale the same fold moves into a typed mapPartitions
    * pass (the minhash-signature precedent) or one native Expression;
    * the oracle contract (md5₃₂ weights, token-order sum) is the
    * portable part. The sigmoid is deliberately omitted: libm exp()
    * may differ across engines in the last ulp and flip a 4 dp
    * rounding; the LINEAR score is exact IEEE arithmetic.
    */
  def hashedLinearScore(docs: DataFrame, idCol: String, textCol: String,
                        bias: Double = 0.0): DataFrame = {
    val toks = graft.functions.TextFunctions.tokens(col(textCol))
    def w(t: Column): Column =
      ((conv(substring(md5(t), 1, 8), 16, 10).cast("long") % 2001 - 1000)
        .cast("double")) / 1000.0
    val ws = transform(toks, t => w(t))
    val total = aggregate(ws, lit(0.0), (a, x) => a + x)
    docs.select(col(idCol),
      size(toks).cast("int").as("n_tokens"),
      round(when(size(toks) === 0, lit(bias))
        .otherwise(lit(bias) + total / size(toks)), 4).as("lin_score"))
  }

  /** Benchmark decontamination: flag corpus documents that share any
    * word n-gram with an evaluation/benchmark set — the standard
    * pre-training hygiene pass (eval text leaking into training data
    * inflates benchmark scores).
    *
    * Scale shape: benchmark sets are SMALL relative to the corpus (MBs
    * of eval text vs TBs of training text), so the benchmark's distinct
    * shingles are collected once as 64-bit XXH64 HASHES — not strings —
    * and BROADCAST as one sorted `Array[Long]`: 8 bytes per shingle
    * (~10× less driver/executor memory than the string form; a 100 MB
    * eval suite with ~20M distinct 5-gram shingles broadcasts as
    * ~160 MB of strings but only 16 MB of hashes, well under broadcast
    * limits), probed by binary search with zero boxing. The corpus side
    * is then ONE typed narrow pass — tokenize, shingle, hash, probe —
    * with no join and no aggregation shuffle over the corpus (the only
    * exchange is the parallelism repartition every typed pass here
    * pays). An XXH64 collision would flag a clean shingle spuriously
    * (P ≈ n²/2⁶⁵ — at 20M bench shingles ~1e-5, and the cost is one
    * extra flagged doc, the safe direction for decontamination). Short
    * documents (< n tokens) are kept with n_hits = 0. Output: (doc_id,
    * n_hits = DISTINCT contaminated shingles, contaminated). The DuckDB
    * oracle joins on shingle STRINGS — output equality across the two
    * representations is itself verified per round (q81).
    */
  private def tokenShingleHashes(text: String, shingleN: Int): Iterator[Long] = {
    val toks = text.trim.split("\\s+").filter(_.nonEmpty)
    if (toks.length < shingleN) Iterator.empty
    else (0 to toks.length - shingleN).iterator.map { i =>
      val s = UTF8String.fromString(toks.slice(i, i + shingleN).mkString(" "))
      XxHash64Function.hash(s, StringType, 42L)
    }
  }

  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
                    bench: DataFrame, benchTextCol: String,
                    shingleN: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val benchHashes: Array[Long] = bench
      .select(col(benchTextCol).as("text")).as[String]
      .flatMap(tokenShingleHashes(_, shingleN))
      .distinct().collect().sorted
    val bc = spark.sparkContext.broadcast(benchHashes)
    Parallelism.ensure(docs)
      .select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { it =>
        val sorted = bc.value
        it.map { case (id, text) =>
          val seen = new java.util.HashSet[java.lang.Long]()
          var hits = 0
          tokenShingleHashes(text, shingleN).foreach { h =>
            if (java.util.Arrays.binarySearch(sorted, h) >= 0 && seen.add(h))
              hits += 1
          }
          (id, hits, hits > 0)
        }
      }.toDF("doc_id", "n_hits", "contaminated")
  }

  /** Contamination SCORING — [[decontaminate]]'s graded sibling: the
    * binary gate answers "touched the eval set at all?", but curation
    * policy usually wants the OVERLAP FRACTION (drop ≥ X% contaminated,
    * keep-but-tag below). Emits per-doc distinct-shingle totals and
    * bench hits; callers derive the ratio. Same scale shape as the
    * gate: sorted-array broadcast, one narrow pass, no shuffle.
    */
  def contaminationScore(docs: DataFrame, idCol: String, textCol: String,
                         bench: DataFrame, benchTextCol: String,
                         shingleN: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val benchHashes: Array[Long] = bench
      .select(col(benchTextCol).as("text")).as[String]
      .flatMap(tokenShingleHashes(_, shingleN))
      .distinct().collect().sorted
    val bc = spark.sparkContext.broadcast(benchHashes)
    Parallelism.ensure(docs)
      .select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { it =>
        val sorted = bc.value
        it.map { case (id, text) =>
          val all = new java.util.HashSet[java.lang.Long]()
          val hit = new java.util.HashSet[java.lang.Long]()
          tokenShingleHashes(text, shingleN).foreach { h =>
            all.add(h)
            if (java.util.Arrays.binarySearch(sorted, h) >= 0) hit.add(h)
          }
          (id, all.size, hit.size)
        }
      }.toDF("doc_id", "n_shingles", "n_hits")
  }

  /** Bloom-gated decontamination — the [[decontaminate]] semantics at
    * the scale where the benchmark shingle set itself no longer fits a
    * raw broadcast (multi-benchmark suites × paraphrase expansions reach
    * 10⁸-10⁹ shingles: 8 B/hash ≈ GBs exact, vs ~10 bits/item in a
    * bloom at 1% FPP — a 6× cut that also skips the driver-side sorted
    * array). Three stages, none driver-bound:
    *
    *  1. the bench shingle-hash set stays a DISTRIBUTED table; only its
    *     bloom sketch (mergeable, built by per-partition aggregation) is
    *     collected and shipped into the scan;
    *  2. a NARROW prefilter keeps only doc shingles the bloom admits —
    *     Spark's own codegen'd `BloomFilterMightContain` (the expression
    *     behind its runtime row-group filters), so the 99%+ clean
    *     shingle stream dies before any exchange;
    *  3. surviving candidates are CONFIRMED by an equi-join against the
    *     exact bench table — bloom false positives drop here, making the
    *     output EXACTLY [[decontaminate]]'s (the oracle is the same
    *     exact-join SQL; fpp only tunes how much traffic reaches the
    *     join, never the result).
    *
    * Hash parity: both sides key on `xxhash64(shingle)` (seed 42, the
    * built-in's default) and the bloom stores those longs via `putLong`,
    * so `mightContainLong` probes the identical key space.
    */
  def bloomDecontaminate(docs: DataFrame, idCol: String, textCol: String,
                         bench: DataFrame, benchTextCol: String,
                         shingleN: Int = 5, fpp: Double = 0.01): DataFrame = {
    def shingleHashes(df: DataFrame, id: Column, text: Column): DataFrame =
      df.select(id.as("doc_id"), TextFunctions.tokens(text).as("toks"))
        .select(col("doc_id"),
          explode(TextFunctions.shinglesFromTokens(col("toks"), shingleN))
            .as("shingle"))
        .select(col("doc_id"), xxhash64(col("shingle")).as("sh"))
    // Reused thrice (size, sketch build, confirm join): pin it so the
    // bench corpus is tokenized once, on executors.
    val benchSh = shingleHashes(bench, lit(0L), col(benchTextCol))
      .select("sh").distinct().localCheckpoint()
    val nBench = benchSh.count()
    val bloomBytes = {
      val bf = benchSh.stat.bloomFilter("sh", math.max(nBench, 1L), fpp)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val mightContain = org.apache.spark.sql.graft.Bridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(bloomBytes),
        org.apache.spark.sql.graft.Bridge.expression(col("sh"))))
    val confirmed = shingleHashes(docs, col(idCol).cast("long"), col(textCol))
      .filter(mightContain)
      .join(benchSh, "sh") // exact confirm: FPs die here
      .groupBy("doc_id")
      .agg(countDistinct(col("sh")).as("hits"))
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(confirmed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("hits"), lit(0L)).cast("int").as("n_hits"),
        (coalesce(col("hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** Context-window chunking: split each document into fixed-size token
    * windows with overlap — the preparation step before pretraining
    * packing or RAG indexing. Boundaries are deterministic (chunk i
    * covers tokens [i·step, i·step+chunkTokens), step = chunk − overlap;
    * the final chunk may be shorter, empty docs yield no chunks), so a
    * second engine reproduces them exactly. Entirely NARROW — tokenize,
    * explode the per-doc chunk index range, slice — no shuffle at any
    * scale; all expressions are codegen'd built-ins.
    */
  def chunk(docs: DataFrame, idCol: String, textCol: String,
            chunkTokens: Int = 128, overlapTokens: Int = 16): DataFrame = {
    require(overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"need 0 <= overlap < chunk, got $overlapTokens/$chunkTokens")
    val step = chunkTokens - overlapTokens
    docs
      .select(col(idCol).as("doc_id"), TextFunctions.tokens(col(textCol)).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") > 0)
      .withColumn("n_chunks",
        ceil(greatest(col("n") - overlapTokens, lit(1)).cast("double") / step).cast("int"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx").cast("int").as("chunk_idx"),
        slice(col("toks"), col("chunk_idx") * step + 1, lit(chunkTokens)).as("carr"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("carr")).as("n_tokens"),
        md5(concat_ws(" ", col("carr"))).as("chunk_md5"))
  }

  /** EXACT heavy hitters over the corpus token stream: every term whose
    * frequency strictly exceeds N/k (N = total token occurrences) —
    * the boilerplate/frequent-n-gram detection pass of corpus curation.
    *
    * Scale design (why not a plain groupBy-count): a full count shuffles
    * one partial-aggregate row per DISTINCT term per partition — at open
    * vocabulary (n-gram shingles, URLs) that exchange is the job. Here
    * pass 1 runs a Misra-Gries(k) summary per partition in ONE narrow
    * mapPartitions (k counters each, no shuffle). By the averaging
    * argument, a term with global freq > N/k must exceed N_p/k in at
    * least one partition, so the union of per-partition summary keys is
    * a GUARANTEED superset of the heavy hitters; it is collected
    * (≤ k·partitions short strings — the same bounded-driver-state trade
    * as [[decontaminate]]'s broadcast bench set) and pass 2 exact-counts
    * ONLY those candidates: a broadcast hash-set `isInCollection` probe
    * gates the aggregation, so the exchange carries ≤ k·partitions terms
    * no matter how large the vocabulary. The threshold compares
    * `freq·k > N` in integers — no float edge. Output (term, freq) is
    * exact and deterministic, so unlike a count-min sketch it needs no
    * error bound: the oracle is plain GROUP BY / HAVING SQL.
    */
  /** Absolute-threshold heavy hitters: every term with freq ≥ minCount,
    * exact — [[heavyHitters]]'s sibling for the OTHER threshold form.
    * Misra-Gries needs ~N/minCount counters to guarantee an absolute
    * threshold (unbounded as the corpus grows past the threshold); a
    * count-min sketch's memory is fixed by (eps, confidence) alone, and
    * it only ever OVERestimates, so `estimate ≥ minCount` admits every
    * true heavy hitter plus a small false-positive fringe — which the
    * exact recount then kills. The [[bloomDecontaminate]] doctrine
    * applied to counting: pass 1 is one aggregation collapsing to a
    * ~100 KB mergeable sketch on the driver (commutative element-wise
    * merge — deterministic under any partition order), pass 2 broadcasts
    * it as a map-side gate so the exchange carries only near-threshold
    * terms, never the open vocabulary. The sketch probe is a Scala udf
    * by necessity (Spark ships BloomFilterMightContain but no CMS probe
    * expression); output is exact, so the oracle is plain
    * GROUP BY / HAVING — no error bound in the contract.
    */
  def cmsHeavyHitters(docs: DataFrame, textCol: String, minCount: Long,
                      shingleN: Int = 1, eps: Double = 1e-3,
                      confidence: Double = 0.99): DataFrame = {
    require(minCount > 0, s"need minCount > 0, got $minCount")
    require(shingleN >= 1, s"need shingleN >= 1, got $shingleN")
    // tokens materialized BEFORE the shingle lambda references them
    // (TextFunctions doctrine: an inline tokenizer re-runs per element)
    val toks = docs
      .select(TextFunctions.tokens(col(textCol)).as("toks"))
      .select(explode(
        if (shingleN == 1) col("toks")
        else TextFunctions.allShinglesFromTokens(col("toks"), shingleN))
        .as("term"))
    val cms = toks.stat.countMinSketch("term", eps, confidence, seed = 42)
    val bc = docs.sparkSession.sparkContext.broadcast(cms)
    val mightBeHeavy = udf((t: String) => bc.value.estimateCount(t) >= minCount)
    toks.filter(mightBeHeavy(col("term")))
      .groupBy("term").agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minCount)
  }

  /** Deterministic train/val/test split by hash bucket — the
    * reproducible alternative to `randomSplit` (which reshuffles per
    * run and per partitioning): `md5(key) mod 10⁶` lands each row in
    * the first named bucket whose cumulative fraction covers it, so
    * membership is a pure function of the key — stable across runs,
    * engines, partitionings, and incremental corpus growth (a new
    * document never moves an old one between splits). One narrow
    * projection, zero shuffle.
    */
  def hashSplit(docs: DataFrame, keyCol: String,
                fractions: Seq[(String, Double)]): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(_._2 > 0),
      "need positive fractions")
    require(math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      s"fractions must sum to 1, got ${fractions.map(_._2).sum}")
    val u = conv(substring(md5(col(keyCol).cast("string")), 1, 8), 16, 10)
      .cast("long") % 1000000L
    val cums = fractions.scanLeft(0.0)(_ + _._2).tail
      .map(c => math.round(c * 1000000.0))
    // ascending threshold chain; the last bucket absorbs rounding
    var e: Column = lit(fractions.last._1)
    fractions.zip(cums).init.reverse.foreach { case ((name, _), cum) =>
      e = when(u < lit(cum), lit(name)).otherwise(e)
    }
    docs.withColumn("split", e)
  }

  /** NEAR-DUP-LEAKAGE-AWARE split: assign whole near-duplicate
    * CLUSTERS to splits, not documents — with a per-document split, a
    * train doc's near-duplicate can land in test and the eval leaks
    * (the classic contamination failure hash-splitting alone cannot
    * prevent). Clusters come from the engine's own LSH + transitive
    * closure ([[Dedup.minhashLshPairs]] → connectedComponents, the
    * q66 machinery); documents in no pair are their own cluster; then
    * [[hashSplit]] on the CLUSTER id puts every member of a cluster on
    * the same side. Emits (id, cluster_id, split).
    *
    * Scale shape: the LSH band equi-join + pointer-jumping CC are the
    * proven q66 path; the split itself is a narrow projection, and the
    * cluster join ships only (id, cluster_id) longs.
    */
  def clusterSplit(docs: DataFrame, idCol: String, textCol: String,
                   fractions: Seq[(String, Double)],
                   shingleN: Int = 3, numHashes: Int = 12, bands: Int = 4,
                   threshold: Double = 0.5): DataFrame = {
    val cc = Dedup.connectedComponents(
      Dedup.minhashLshPairs(docs, idCol, textCol,
        shingleN = shingleN, numHashes = numHashes, bands = bands,
        threshold = threshold))
    val clusters = docs.select(col(idCol))
      .join(cc.withColumnRenamed("doc_id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
    hashSplit(clusters, "cluster_id", fractions)
  }

  /** In-engine multinomial Naive Bayes over HASHED token features —
    * the fastText-style domain/quality classifier every production
    * corpus pipeline trains (label good-vs-junk or source domains,
    * then gate ingestion on the prediction), expressed entirely as
    * aggregations so training is one pass and scoring is one join:
    *
    *   score(d, c) = ln P(c) + Σ_{t ∈ d} ln P(bucket(t) | c)
    *
    * with Laplace smoothing and the hashing trick (md5-bucketed
    * features, so the model is at most `buckets`×|classes| rows no
    * matter the vocabulary). The smoothed term expands to
    * ln(cnt+1) − ln(total_c + B): the second part depends only on the
    * class and the document LENGTH, so unseen buckets contribute
    * ln(1) = 0 through the join — missing model rows are exact, not
    * an approximation.
    *
    * Returns the per-(doc, class) score matrix (`score` rounded to 6
    * decimals — pure arithmetic, fully cross-engine replayable);
    * [[naiveBayesClassify]] takes the argmax with a deterministic
    * (score desc, label asc) tie order.
    *
    * Scale shape: train = two hash aggregations over the token
    * explode; score = one equi-join of per-doc bucket counts against
    * the (≤ buckets×classes)-row model + one sum aggregation; the
    * class-stats table (|classes| rows) broadcasts. No all-pairs, no
    * driver loop, no gradient rounds.
    */
  /** The hashed-token bucket stream shared by train and score. */
  private def nbBuckets(docs: DataFrame, idCol: String, textCol: String,
                        extra: Seq[Column], buckets: Int): DataFrame =
    docs
      .select(col(idCol) +: extra :+
        explode(TextFunctions.tokens(col(textCol))).as("tok"): _*)
      .withColumn("b",
        conv(substring(md5(col("tok")), 1, 8), 16, 10)
          .cast("long") % buckets)
      .drop("tok")

  /** Train phase alone — returns (model, classStats): the
    * (bucket, label, ln(cnt+1)) rows and the per-class
    * (prior_ln, denom_ln) scalars. Persist these two tiny frames (≤
    * buckets×classes + classes rows) and score any future batch or
    * stream against them with [[naiveBayesScoreWith]] — the
    * train-once / score-forever deployment split.
    */
  def naiveBayesModel(docs: DataFrame, idCol: String, textCol: String,
                      labelCol: String, buckets: Int = 4096)
      : (DataFrame, DataFrame) = {
    require(buckets >= 2, s"need >= 2 hash buckets, got $buckets")
    val toks = nbBuckets(docs, idCol, textCol, Seq(col(labelCol)), buckets)
      .localCheckpoint() // model counts AND class totals
    val nDocs = docs.count().toDouble
    val model = toks.groupBy(col("b"), col(labelCol).as("label"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("b"), col("label"),
        log(col("cnt") + 1.0).as("lc"))
    // LEFT join from the doc-count side: a class whose documents all
    // tokenize to zero tokens has no rows in `toks` — an inner join
    // would drop it from classStats, so that label could never be
    // scored or predicted, silently. Coalescing its token total to 0
    // keeps its prior and (pure-smoothing) denominator.
    val classStats = docs.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("nd"))
      .join(toks.groupBy(col(labelCol).as("label"))
        .agg(count(lit(1)).as("total")), Seq("label"), "left")
      .select(col("label"), log(col("nd") / nDocs).as("prior_ln"),
        log(coalesce(col("total"), lit(0L)) + buckets.toDouble)
          .as("denom_ln"))
    (model, classStats)
  }

  /** Score phase alone: the per-(doc, class) smoothed score matrix of
    * `docs` against a trained (model, classStats) pair — label-blind,
    * so it runs on unlabeled production batches (and inside
    * foreachBatch for streams).
    */
  def naiveBayesScoreWith(docs: DataFrame, idCol: String, textCol: String,
                          model: DataFrame, classStats: DataFrame,
                          buckets: Int = 4096): DataFrame = {
    val toks = nbBuckets(docs, idCol, textCol, Nil, buckets)
      .localCheckpoint() // doc buckets AND per-doc token counts
    val docBuckets = toks.groupBy(col(idCol), col("b"))
      .agg(count(lit(1)).as("m"))
    val matched = docBuckets.join(model, "b")
      .groupBy(col(idCol), col("label"))
      .agg(sum(col("m") * col("lc")).as("s"))
    val nTok = toks.groupBy(col(idCol)).agg(count(lit(1)).as("n_tok"))
    docs.select(col(idCol)).join(nTok, Seq(idCol), "left")
      .na.fill(0L, Seq("n_tok"))
      .crossJoin(broadcast(classStats))
      .join(matched, Seq(idCol, "label"), "left")
      .select(col(idCol), col("label"),
        round(col("prior_ln") - col("n_tok") * col("denom_ln") +
          coalesce(col("s"), lit(0.0)), 6).as("score"))
  }

  def naiveBayesScores(docs: DataFrame, idCol: String, textCol: String,
                       labelCol: String, buckets: Int = 4096): DataFrame = {
    val (model, classStats) =
      naiveBayesModel(docs, idCol, textCol, labelCol, buckets)
    naiveBayesScoreWith(docs, idCol, textCol, model, classStats, buckets)
  }

  /** Argmax over [[naiveBayesScores]] with a deterministic tie order
    * (higher score first, then smaller label) — (id, predicted).
    */
  def naiveBayesClassify(docs: DataFrame, idCol: String, textCol: String,
                         labelCol: String, buckets: Int = 4096)
      : DataFrame = {
    val scores = naiveBayesScores(docs, idCol, textCol, labelCol, buckets)
    scores.groupBy(col(idCol))
      .agg(min(struct((-col("score")).as("ns"), col("label").as("l")))
        .as("m"))
      .select(col(idCol), col("m.l").as("predicted"))
  }

  /** DSIR importance weights — data selection with importance
    * resampling (Xie et al. 2023, arXiv:2302.03169): score every raw
    * document by how much more likely its hashed bag-of-tokens is
    * under a TARGET-domain unigram model than under the raw-corpus
    * model,
    *   log w(x) = Σ_tokens [ ln p̂_target(b) − ln p̂_raw(b) ]
    * with add-one smoothing over `buckets` hashed features (the
    * [[naiveBayesModel]] featurizer — same md5 bucket arithmetic, so
    * the oracle replays it). High-weight documents "look like" the
    * target domain; resampling by these weights steers a web-scale
    * crawl toward a small quality corpus without training a
    * classifier.
    *
    * Plan shape at 100 TB: both corpora reduce to `buckets`-row count
    * tables (hash agg each); the per-bucket log-ratio table (≤ buckets
    * rows, a few MB) BROADCASTS into one narrow pass over the raw
    * token stream + one hash agg by doc id — no shuffle ever carries
    * more than the skinny (id, bucket) token pairs, and the target
    * corpus (small by construction) is read once. Zero-token raw
    * documents carry logw = 0 (no evidence either way).
    */
  def dsirWeights(raw: DataFrame, target: DataFrame, idCol: String,
                  textCol: String, buckets: Int = 8192): DataFrame = {
    require(buckets >= 2, s"need >= 2 hash buckets, got $buckets")
    val rawToks = nbBuckets(raw, idCol, textCol, Nil, buckets)
      .localCheckpoint() // counts AND the per-doc scoring pass
    val tgtToks = nbBuckets(target, idCol, textCol, Nil, buckets)
    val cr = rawToks.groupBy("b").agg(count(lit(1)).as("cr"))
    val ct = tgtToks.groupBy("b").agg(count(lit(1)).as("ct"))
    // two bounded scalars to the driver (the centroid-fetch shape)
    val nR = rawToks.count().toDouble
    val nT = tgtToks.count().toDouble
    val shift = math.log(nR + buckets) - math.log(nT + buckets)
    // per-bucket ln ratio; raw-side join is inner (a raw token's
    // bucket always has cr >= 1), target side left with ct -> 0
    val ratio = cr.join(ct, Seq("b"), "left").select(col("b"),
      (log(coalesce(col("ct"), lit(0L)) + 1.0) -
        log(col("cr") + 1.0) + lit(shift)).as("lr"))
    raw.select(col(idCol)).distinct()
      .join(rawToks.join(broadcast(ratio), Seq("b"))
        .groupBy(idCol).agg(sum("lr").as("logw")), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("logw"), lit(0.0)).as("logw"))
  }

  /** Top-k DSIR selection over [[dsirWeights]] — Gumbel-top-k
    * resampling (equivalent to sampling WITHOUT replacement
    * proportionally to w(x)): key = logw + Gumbel(0,1), noise derived
    * from md5(id:seed) so the draw is deterministic and replayable;
    * `noisy = false` degrades to plain argmax-k selection. The top-k
    * is TakeOrderedAndProject — per-partition heads, never a global
    * sort.
    */
  def dsirSelect(raw: DataFrame, target: DataFrame, idCol: String,
                 textCol: String, k: Int, buckets: Int = 8192,
                 seed: Long = 42L, noisy: Boolean = true): DataFrame = {
    val w = dsirWeights(raw, target, idCol, textCol, buckets)
    val keyed =
      if (!noisy) w.withColumn("key", col("logw"))
      else {
        val u = (conv(substring(md5(concat_ws(":",
          col(idCol).cast("string"), lit(seed.toString))), 1, 8), 16, 10)
          .cast("double") + 0.5) / 4294967296.0
        w.withColumn("key", col("logw") - log(-log(u)))
      }
    keyed.orderBy(desc("key"), col(idCol)).limit(k)
      .select(col(idCol), col("logw"))
  }

  /** Fill-in-the-middle (FIM) transformation — the infilling-objective
    * prep pass for code/text models: each document splits into
    * (prefix, middle, suffix) at two DETERMINISTIC cut points (md5 of
    * "docId:f1/f2" — the [[hashSplit]] arithmetic, so both engines
    * replay the cuts bit for bit) and re-serializes with sentinels in
    * PSM order (`<PRE>p<SUF>s<MID>m`) or SPM order
    * (`<SUF>s<PRE>p<MID>m`), chosen 50/50 by a third hash — the
    * published practice of mixing both orderings in one corpus.
    * Documents shorter than `minLen` pass through unchanged with mode
    * 'none' (FIM on tiny fragments wastes sentinel budget). Cut points
    * guarantee all three parts non-empty: prefix [1..c1], middle
    * [c1+1..c2], suffix [c2+1..len] with 1 ≤ c1 < c2 < len.
    *
    * One narrow codegen'd projection — zero shuffle, zero UDF; at 100
    * TB this runs at scan speed alongside the other per-doc taggers.
    */
  def fimTransform(docs: DataFrame, idCol: String, textCol: String,
                   minLen: Int = 8): DataFrame = {
    require(minLen >= 4, s"minLen $minLen too small for three parts")
    def h(tag: String): Column =
      conv(substring(md5(concat(col(idCol).cast("string"), lit(tag))),
        1, 8), 16, 10).cast("long")
    val l = length(col(textCol))
    val c1 = (lit(1) + h(":f1") % (l - 2)).cast("int")
    val c2 = (c1 + 1 + h(":f2") % (l - c1 - 1)).cast("int")
    val prefix = col(textCol).substr(lit(1), c1)
    val middle = col(textCol).substr(c1 + 1, c2 - c1)
    val suffix = col(textCol).substr(c2 + 1, l - c2)
    val psm = concat(lit("<PRE>"), prefix, lit("<SUF>"), suffix,
      lit("<MID>"), middle)
    val spm = concat(lit("<SUF>"), suffix, lit("<PRE>"), prefix,
      lit("<MID>"), middle)
    docs.select(col(idCol),
      when(l < minLen, lit("none"))
        .when(h(":f3") % 2 === 0, lit("psm"))
        .otherwise(lit("spm")).as("mode"),
      when(l < minLen, col(textCol))
        .when(h(":f3") % 2 === 0, psm)
        .otherwise(spm).as("fim_text"))
  }

  /** T5/UL2-style span corruption — the denoising-objective prep pass:
    * a deterministic per-position noise mask (md5 of "docId:position",
    * the mixture-gate arithmetic, so both engines replay it bit for
    * bit) marks ~`noisePct`% of tokens; each MAXIMAL noise run
    * collapses to one `<extra_id_k>` sentinel in the model input, and
    * the target is the sentinel-prefixed run contents in order —
    * exactly the published seq-to-seq denoising layout given a noise
    * mask. Emits digests + audit counts rather than the (long) pair
    * strings.
    *
    * Scale shape: ONE narrow mapPartitions pass (the repetition-tagger
    * shape) — no shuffle, no per-token explode; the run-collapse is a
    * linear walk per document.
    */
  def spanCorrupt(docs: DataFrame, idCol: String, textCol: String,
                  noisePct: Int = 15): DataFrame = {
    require(noisePct >= 1 && noisePct <= 99, s"bad noisePct $noisePct")
    val spark = docs.sparkSession
    import spark.implicits._
    Parallelism.ensure(docs)
      .select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text0) =>
          val text = if (text0 == null) "" else text0
          val toks = text.trim.split("\\s+").filter(_.nonEmpty)
          val in = new StringBuilder
          val tgt = new StringBuilder
          var spans = 0
          var nNoise = 0
          var inRun = false
          var i = 0
          while (i < toks.length) {
            val h = java.lang.Long.parseLong(
              Digest.md5Hex(s"$id:${i + 1}").substring(0, 8), 16)
            if (h % 100 < noisePct) {
              if (!inRun) {
                if (in.nonEmpty) in.append(' ')
                in.append("<extra_id_").append(spans).append('>')
                if (tgt.nonEmpty) tgt.append(' ')
                tgt.append("<extra_id_").append(spans).append('>')
                spans += 1
                inRun = true
              }
              tgt.append(' ').append(toks(i))
              nNoise += 1
            } else {
              if (in.nonEmpty) in.append(' ')
              in.append(toks(i))
              inRun = false
            }
            i += 1
          }
          (id, Digest.md5Hex(in.toString), Digest.md5Hex(tgt.toString),
            spans, nNoise)
        }
      }
      .toDF(idCol, "input_md5", "target_md5", "n_spans", "n_noise")
  }

  def heavyHitters(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(k > 1, s"need k > 1, got $k")
    val toks = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("term"))
      .as[String]
    // Pass 1: per-partition Misra-Gries. Each row carries the partition
    // id and the partition's token count (a null-term sentinel row per
    // partition guarantees the count survives even if every counter was
    // decremented away).
    val summary: Array[(Int, String, Long)] = toks.mapPartitions { it =>
      val counts = new java.util.HashMap[String, Long]()
      var n = 0L
      it.foreach { t =>
        n += 1
        val c = counts.get(t)
        if (c != 0L) counts.put(t, c + 1)
        else if (counts.size < k) counts.put(t, 1L)
        else {
          val e = counts.entrySet().iterator()
          while (e.hasNext) {
            val en = e.next()
            if (en.getValue == 1L) e.remove() else en.setValue(en.getValue - 1)
          }
        }
      }
      val pid = org.apache.spark.TaskContext.getPartitionId()
      import scala.jdk.CollectionConverters._
      Iterator.single((pid, null: String, n)) ++
        counts.keySet().asScala.iterator.map(t => (pid, t, n))
    }.collect()
    val total = summary.collect { case (pid, null, n) => (pid, n) }
      .toMap.values.sum
    val candidates = summary.collect { case (_, t, _) if t != null => t }.distinct
    // Pass 2: exact recount gated to the candidate superset.
    toks.toDF("term")
      .filter(col("term").isInCollection(candidates))
      .groupBy("term").agg(count(lit(1)).as("freq"))
      .filter(col("freq") * k > total)
  }

  /** Exact duplicate-SPAN detection — the substring-level dedup pass
    * (document-level dedup misses boilerplate repeated INSIDE otherwise
    * unique documents; arXiv:2107.06499 removes such spans corpus-wide).
    * Every k-token shingle occurring more than once in the corpus marks
    * its non-FIRST occurrences (first = global (doc_id, pos) order, the
    * deterministic keeper) as duplicated positions; positions whose
    * token ranges touch or overlap merge into maximal DISJOINT spans
    * (gaps-and-islands on coverage), each reported as
    * (doc_id, span_start, span_end, n_shingles) in token coordinates —
    * the removal list a cleaning pass consumes.
    *
    * Scale shape: one shuffle on the shingle key for the global
    * occurrence ranking (a single windowed rank — map-side nothing to
    * combine, but the key space is the corpus shingle stream, exactly
    * the decontaminate/heavy-hitter volume), then one per-doc window
    * for the span merge. No joins, no driver state.
    */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                     shingleN: Int = 5): DataFrame = {
    val sh = docs
      .select(col(idCol).as("doc_id"), TextFunctions.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= shingleN)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(toks) - $shingleN), " +
          s"i -> concat_ws(' ', slice(toks, i + 1, $shingleN)))"))
        .as(Seq("pos", "shingle")))
    val byShingle = Window.partitionBy("shingle").orderBy("doc_id", "pos")
    // rn > 1 alone selects non-first occurrences (a singleton shingle's
    // only row has rn = 1) — no second count window needed
    val dup = sh
      .withColumn("rn", row_number().over(byShingle))
      .filter(col("rn") > 1)
      .select("doc_id", "pos")
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    // islands break on TOKEN-coverage gaps: flagged positions p1 < p2
    // cover contiguous-or-overlapping token ranges iff p2 <= p1 + N, so
    // a gap > N starts a new span — anything tighter emits overlapping
    // span rows, breaking the disjoint "maximal spans" contract
    dup
      .withColumn("newisl",
        when(lag(col("pos"), 1).over(byDoc).isNull ||
          col("pos") - lag(col("pos"), 1).over(byDoc) > shingleN, 1).otherwise(0))
      .withColumn("isl",
        sum(col("newisl")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "isl")
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + shingleN - 1).as("span_end"),
        count(lit(1)).as("n_shingles"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_shingles"))
  }

  /** Apply [[duplicateSpans]]: drop every token inside a duplicated
    * span and re-materialize the cleaned document (digest + kept-token
    * count — the digest pins the exact surviving token sequence
    * cross-engine without shipping full texts). Span token-ranges
    * explode to (doc_id, pos) removal rows; the kept tokens are a
    * LEFT ANTI equi-join away, then one per-doc aggregation rebuilds
    * the ordered sequence.
    */
  def removeDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                           shingleN: Int = 5): DataFrame = {
    val rm = duplicateSpans(docs, idCol, textCol, shingleN)
      .select(col("doc_id"),
        explode(sequence(col("span_start"), col("span_end"))).as("pos"))
    val toks = docs.select(col(idCol).as("doc_id"),
      posexplode(TextFunctions.tokens(col(textCol))).as(Seq("pos", "tok")))
    val cleaned = toks.join(rm, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            e => e.getField("tok")))).as("clean_md5"))
    // keep fully-deduplicated (and token-less) docs visible as
    // n_kept = 0 / null digest instead of silently dropping them
    // (no distinct: one output row per input doc row, like the oracle's
    // LEFT JOIN — and no extra exchange)
    docs.select(col(idCol).as("doc_id"))
      .join(cleaned, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        col("clean_md5"))
  }

  /** Training-mix rebalancing: downsample each stratum so the OUTPUT
    * corpus matches target mixture weights (the domain/language mixing
    * step of pretraining data assembly). The largest feasible output is
    * T = min_s(n_s / w_s) (downsampling only — no replication), giving
    * per-stratum keep-rates w_s·T/n_s; rows are gated by the same
    * deterministic md5 filter as [[hashSampleFilter]] at 10⁻⁶ rate
    * granularity, so the sample is reproducible across runs, engines,
    * and partitionings. Strata absent from `weights` are dropped.
    * One tiny counting aggregate (|strata| rows to the driver), then a
    * narrow per-row gate — no shuffle of the corpus itself.
    */
  def mixtureSample(docs: DataFrame, idCol: String, stratumCol: String,
                    weights: Seq[(String, Double)]): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0), "need positive weights")
    val strata = weights.map(_._1)
    val counts = docs.filter(col(stratumCol).isInCollection(strata))
      .groupBy(stratumCol).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    if (counts.isEmpty) {
      // no weighted stratum has any rows — the mixture is vacuously
      // satisfied by the empty corpus (min over no strata is undefined)
      docs.filter(lit(false))
    } else {
      val t = weights.collect {
        case (s, w) if counts.getOrElse(s, 0L) > 0L => counts(s) / w
      }.min
      val thresholds = weights.map { case (s, w) =>
        val n = counts.getOrElse(s, 0L)
        (s, if (n == 0) 0L else math.floor(1000000.0 * w * t / n).toLong)
      }.toMap
      val thrCol = strata.foldRight(lit(0L): Column) { (s, acc) =>
        when(col(stratumCol) === s, lit(thresholds(s))).otherwise(acc)
      }
      docs.filter(col(stratumCol).isInCollection(strata))
        .filter(hashGate(col(idCol), 1000000L, thrCol))
    }
  }

  /** Sequence packing: lay the chunk stream out into fixed-size context
    * windows by GLOBAL concatenation order (doc_id, chunk_idx) — the
    * pretraining packing step. Each chunk gets its pack id, offset
    * inside the pack, and whether it straddles a pack boundary.
    *
    * Packing needs a total order, but NOT a single-partition window
    * (`Window.orderBy` with no partition key collapses to one task):
    * this is the classic two-phase distributed prefix sum — range
    * partition + sort by the order key, ONE tiny job collects the
    * per-partition token totals (#partitions rows), their running sum
    * broadcasts back as each partition's base offset, and a second
    * narrow pass assigns offsets. The checkpoint pins the range
    * boundaries so both passes see identical partitions.
    */
  def packChunks(chunks: DataFrame, window: Int): DataFrame = {
    val spark = chunks.sparkSession
    import spark.implicits._
    require(window > 0, s"need window > 0, got $window")
    // RDD-level mapPartitionsWithIndex, NOT TaskContext.getPartitionId:
    // the partition index must be bound at THIS rdd — a downstream
    // coalesce() would pipeline several parent partitions into one task
    // whose task-level partition id is the coalesced one, silently
    // resetting every parent's base offset.
    val sorted = chunks
      .select(col("doc_id").cast("long"), col("chunk_idx").cast("int"),
        col("n_tokens").cast("long"))
      .repartitionByRange(spark.sparkContext.defaultParallelism,
        col("doc_id"), col("chunk_idx"))
      .sortWithinPartitions("doc_id", "chunk_idx")
      .as[(Long, Int, Long)]
      .localCheckpoint() // pin the sampled range boundaries across jobs
      .rdd
    val partTotals = sorted.mapPartitionsWithIndex { (pid, it) =>
      var s = 0L
      it.foreach(s += _._3)
      Iterator.single((pid, s))
    }.collect().sortBy(_._1).map(_._2)
    val bases = partTotals.scanLeft(0L)(_ + _).dropRight(1)
    val bc = spark.sparkContext.broadcast(bases)
    sorted.mapPartitionsWithIndex { (pid, it) =>
      var off = bc.value(pid)
      it.map { case (d, c, n) =>
        val start = off
        off += n
        (d, c, start / window, start % window, start % window + n > window)
      }
    }.toDF("doc_id", "chunk_idx", "pack_id", "pack_offset", "straddles")
  }

  /** Balanced training-shard assignment: deterministically place every
    * document into one of `nShards` shards with near-equal TOKEN
    * totals (not row counts) — the export step before distributed
    * training, where a fat shard becomes the stragglers' shard. The
    * rule is LPT-flavored snake placement: rank all docs by (token
    * count desc, doc_id asc), then walk shards 0..N−1, N−1..0,
    * repeating — each zigzag pass hands every shard one doc from the
    * current size band, so totals stay within one band-width of each
    * other without any sequential bin-state (true LPT is inherently
    * serial; the snake is its order-preserving distributed stand-in).
    *
    * The global rank uses [[packChunks]]'s two-phase distributed
    * prefix sum — range partition + sort by the order key, one tiny
    * per-partition-count job, broadcast base offsets — never a
    * single-partition window.
    */
  def tokenShards(docs: DataFrame, idCol: String, textCol: String,
                  nShards: Int): DataFrame = {
    require(nShards >= 1 && nShards <= 65536, s"bad shard count $nShards")
    val spark = docs.sparkSession
    import spark.implicits._
    val sorted = docs
      .select(col(idCol).cast("long").as("doc_id"),
        size(TextFunctions.tokens(col(textCol))).cast("long").as("n_tokens"))
      .repartitionByRange(spark.sparkContext.defaultParallelism,
        col("n_tokens").desc, col("doc_id").asc)
      .sortWithinPartitions(col("n_tokens").desc, col("doc_id").asc)
      .as[(Long, Long)]
      .localCheckpoint() // pin the sampled range boundaries across jobs
      .rdd
    val partCounts = sorted.mapPartitionsWithIndex { (pid, it) =>
      Iterator.single((pid, it.size.toLong))
    }.collect().sortBy(_._1).map(_._2)
    val bases = partCounts.scanLeft(0L)(_ + _).dropRight(1)
    val bc = spark.sparkContext.broadcast(bases)
    val n = nShards.toLong
    sorted.mapPartitionsWithIndex { (pid, it) =>
      var rank = bc.value(pid)
      it.map { case (d, t) =>
        val s = rank % (2 * n)
        rank += 1
        (d, t, (if (s < n) s else 2 * n - 1 - s).toInt)
      }
    }.toDF("doc_id", "n_tokens", "shard")
  }

  /** INCREMENTAL shard maintenance — [[tokenShards]]'s delta twin for
    * the production export loop: new documents arrive, and their shard
    * assignments must be derived WITHOUT re-ranking (and re-shuffling)
    * the already-assigned corpus. The rule: snake the delta (ranked
    * n_tokens desc, doc_id asc — the same two-phase distributed prefix
    * sum) over a LIGHTEST-FIRST shard permutation computed from the
    * current totals, so the heaviest new documents land in the
    * lightest shards first and imbalance self-corrects.
    *
    * Drift bound vs a full re-shard: within each zigzag cycle of 2N
    * delta docs every shard receives exactly two, and the per-shard
    * received totals differ by at most that cycle's (max − min) doc
    * size; cycle maxima/minima are monotone under the descending rank
    * order, so the differences TELESCOPE — merged spread ≤ initial
    * spread + the largest delta document's token count, independent of
    * delta size. Cost scales with the DELTA only (the incrementalDedup
    * / ivfAdcIndexAppend doctrine): one delta-sized range exchange,
    * one nShards-row totals aggregate at the driver (bounded — the
    * k-means centroid-fetch contract).
    */
  def tokenShardsIncremental(current: DataFrame, delta: DataFrame,
                             idCol: String, textCol: String,
                             nShards: Int): DataFrame = {
    require(nShards >= 1 && nShards <= 65536, s"bad shard count $nShards")
    val spark = delta.sparkSession
    import spark.implicits._
    val totals = current
      .groupBy(col("shard").cast("int").as("shard"))
      .agg(sum("n_tokens").as("tot"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val perm = (0 until nShards)
      .map(s => (s, totals.getOrElse(s, 0L)))
      .sortBy { case (s, t) => (t, s) }
      .map(_._1).toArray
    val sorted = delta
      .select(col(idCol).cast("long").as("doc_id"),
        size(TextFunctions.tokens(col(textCol))).cast("long").as("n_tokens"))
      .repartitionByRange(spark.sparkContext.defaultParallelism,
        col("n_tokens").desc, col("doc_id").asc)
      .sortWithinPartitions(col("n_tokens").desc, col("doc_id").asc)
      .as[(Long, Long)]
      .localCheckpoint() // pin the sampled range boundaries across jobs
      .rdd
    val partCounts = sorted.mapPartitionsWithIndex { (pid, it) =>
      Iterator.single((pid, it.size.toLong))
    }.collect().sortBy(_._1).map(_._2)
    val bases = partCounts.scanLeft(0L)(_ + _).dropRight(1)
    val bc = spark.sparkContext.broadcast(bases)
    val bp = spark.sparkContext.broadcast(perm)
    val n = nShards.toLong
    sorted.mapPartitionsWithIndex { (pid, it) =>
      var rank = bc.value(pid)
      it.map { case (d, t) =>
        val s = rank % (2 * n)
        rank += 1
        (d, t, bp.value((if (s < n) s else 2 * n - 1 - s).toInt))
      }
    }.toDF("doc_id", "n_tokens", "shard")
  }

  /** EPOCH-deterministic shuffle — the training-loader contract: every
    * epoch reads its shard in a seeded pseudo-random order that any
    * worker (or a re-run after a crash) can reproduce exactly. The
    * order key is md5(doc_id ":" epoch) truncated to 60 bits (15 hex
    * chars — 16 would overflow a signed BIGINT on the oracle side) — a
    * new independent permutation per epoch, no RNG state to checkpoint,
    * and key collisions (which would bias order toward doc_id-ascending
    * among colliding pairs) are vanishingly rare at 2^60.
    * Output: one row per (epoch, shard) with the row count and the MD5
    * of the comma-joined doc-id SEQUENCE in read order — the batch
    * order itself under a digest both engines can replay.
    *
    * Scale shape: one narrow key projection, ONE exchange on
    * (epoch, shard), a partition-local sort, then a streaming
    * per-run digest in mapPartitions (constant memory — no
    * collect_list of the shard). At 100 TB the same plan writes
    * ordered shard files instead of digesting them; the digest is the
    * verifiable stand-in.
    */
  def epochShuffle(docs: DataFrame, idCol: String, epochs: Int,
                   nShards: Int): DataFrame = {
    require(epochs >= 1 && epochs <= 64, s"bad epoch count $epochs")
    require(nShards >= 1 && nShards <= 65536, s"bad shard count $nShards")
    val spark = docs.sparkSession
    import spark.implicits._
    Parallelism.ensure(docs)
      .select(col(idCol).cast("long").as("doc_id"))
      .withColumn("epoch", explode(sequence(lit(0), lit(epochs - 1))))
      .withColumn("epoch", col("epoch").cast("int"))
      .withColumn("shard", pmod(col("doc_id"), lit(nShards)).cast("int"))
      .withColumn("okey",
        conv(substring(md5(concat_ws(":",
          col("doc_id").cast("string"), col("epoch").cast("string"))),
          1, 15), 16, 10).cast("long"))
      .repartition(spark.sparkContext.defaultParallelism,
        col("epoch"), col("shard"))
      .sortWithinPartitions("epoch", "shard", "okey", "doc_id")
      .select(col("epoch"), col("shard"), col("doc_id"))
      .as[(Int, Int, Long)]
      .mapPartitions { it =>
        // iterator-chained group digest: exactly ONE group's digest
        // state is live at a time (constant memory regardless of how
        // many (epoch, shard) runs land in a partition) — the output
        // row materializes only when the consumer pulls it
        val in = it.buffered
        new Iterator[(Int, Int, Long, String)] {
          override def hasNext: Boolean = in.hasNext
          override def next(): (Int, Int, Long, String) = {
            val (e, s, id0) = in.next()
            val md = Digest.md5()
            md.update(id0.toString.getBytes("US-ASCII"))
            var n = 1L
            while (in.hasNext && in.head._1 == e && in.head._2 == s) {
              md.update(','.toByte)
              md.update(in.next()._3.toString.getBytes("US-ASCII"))
              n += 1
            }
            (e, s, n, Digest.hex(md.digest()))
          }
        }
      }
      .toDF("epoch", "shard", "n_docs", "order_md5")
  }

  /** Inverted-index postings: one row per distinct term with document
    * frequency and a digest of the doc-id-ORDERED posting list (the
    * artifact a distributed index build materializes; the digest keeps
    * the row narrow while still pinning the exact list cross-engine).
    * One hash-partitioned aggregation; posting lists are per-term, so
    * the build parallelizes over the vocabulary.
    */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(TextFunctions.tokens(col(textCol)))).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("df"),
        min(col("doc_id")).as("first_doc"),
        md5(concat_ws(",",
          transform(array_sort(collect_list(col("doc_id"))), _.cast("string"))))
          .as("postings_md5"))

  /** BM25 ranked retrieval for one query over the corpus — the lexical
    * search twin of the embedding similarity family. Standard Okapi
    * scoring: idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)),
    * tf-saturation k1, length normalization b against the mean doc
    * length.
    *
    * Scale shape: the per-(doc, term) aggregation is FILTERED TO THE
    * QUERY TERMS before any shuffle (an `isin` gate on the exploded
    * stream — the exchange carries only matching postings, not the
    * vocabulary), df/N/avgdl join in as broadcast aggregates, and the
    * final top-k is a TakeOrderedAndProject. Ties break by doc id on
    * the 4 dp-rounded score.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               query: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25Scores(bm25Contribs(docs, idCol, textCol, query, k1, b))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)

  /** Shared Okapi scoring stage of [[bm25TopK]] / [[bm25PrfTopK]]:
    * per-(doc, term) BM25 contribution over the given term set —
    * idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)) with tf-saturation k1
    * and length normalization b against the mean doc length.
    */
  private def bm25Contribs(docs: DataFrame, idCol: String, textCol: String,
                           terms: Seq[String], k1: Double,
                           b: Double): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(TextFunctions.tokens(col(textCol))).as("term"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val tf = toks.filter(col("term").isInCollection(terms))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("contrib",
        col("idf") * (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .select("doc_id", "term", "contrib")
  }

  /** Pin the IEEE reduction order: contribs fold left-to-right in term
    * order (array_sort on the (term, contrib) struct, terms unique per
    * doc) before the single 4 dp rounding. A plain sum() aggregates in
    * partition-arrival order, and a last-ulp difference vs the oracle's
    * own order could flip the rounded score — same rule as pqAdc's
    * subspace-ordered term sum. The per-doc lists are |query|-bounded
    * (≤ a handful of terms), so the HOF fold is trivially cheap.
    */
  private def bm25Scores(contribs: DataFrame): DataFrame =
    contribs.groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("term"), col("contrib")))).as("cs"))
      .select(col("doc_id"),
        round(aggregate(col("cs"), lit(0.0),
          (acc, e) => acc + e.getField("contrib")), 4).as("score"))

  /** Pseudo-relevance-feedback retrieval (RM3-style query expansion —
    * the classic rung above plain BM25): run BM25, treat the top
    * `fbDocs` as relevant, mine expansion terms from them weighted by
    * relevance-model mass e(t) = Σ_d (tf(t,d)/|d|) · score(d), then
    * re-query with the originals at weight `alpha` and the top
    * `fbTerms` expansion terms at (1−alpha)·e(t)/max e — two BM25
    * passes, no model, pure term statistics.
    *
    * Determinism contract: pass-1 scores round to 4 dp before feedback
    * selection (ties → doc_id), expansion mass folds in doc_id order
    * and rounds to 6 dp before the (e desc, term asc) cut, the final
    * weighted score folds in term order — every float reduction has a
    * pinned order, so the DuckDB oracle replays both passes exactly.
    *
    * Scale shape: two bounded-term BM25 passes (each an equi-join +
    * map-side-combined agg over ONLY matching postings); the feedback
    * doc set (≤ fbDocs rows) broadcasts, and the expansion table is a
    * ≤ fbTerms driver literal — the BPE/PQ bounded-fetch contract.
    */
  def bm25PrfTopK(docs: DataFrame, idCol: String, textCol: String,
                  query: Seq[String], k: Int, fbDocs: Int = 5,
                  fbTerms: Int = 5, alpha: Double = 0.6,
                  k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "need at least one query term")
    require(fbDocs >= 1 && fbTerms >= 1, s"bad feedback sizes $fbDocs/$fbTerms")
    require(alpha > 0.0 && alpha < 1.0, s"bad mixing weight $alpha")
    val fb = bm25Scores(bm25Contribs(docs, idCol, textCol, query, k1, b))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(fbDocs)
      .localCheckpoint() // ≤ fbDocs rows, reused by two consumers
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(TextFunctions.tokens(col(textCol))).as("term"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val selected = toks
      .join(broadcast(fb.select("doc_id")), "doc_id")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .join(dl, "doc_id")
      .join(broadcast(fb), "doc_id")
      .withColumn("p", col("tf") / col("dl") * col("score"))
      .filter(!col("term").isInCollection(query))
      .groupBy("term")
      .agg(array_sort(collect_list(struct(col("doc_id"), col("p")))).as("ps"))
      .select(col("term"),
        round(aggregate(col("ps"), lit(0.0),
          (acc, e) => acc + e.getField("p")), 6).as("e"))
      .orderBy(col("e").desc, col("term").asc)
      .limit(fbTerms)
      .collect() // ≤ fbTerms rows — bounded driver fetch
      .map(r => (r.getString(0), r.getDouble(1)))
    val weights: Seq[(String, Double)] =
      if (selected.isEmpty) query.map(_ -> alpha)
      else {
        val emax = selected.map(_._2).max
        query.map(_ -> alpha) ++
          selected.map { case (t, e) => t -> (1.0 - alpha) * e / emax }
      }
    val wCol = weights.sortBy(_._1).foldLeft(lit(0.0)) { case (acc, (t, w)) =>
      when(col("term") === t, lit(w)).otherwise(acc)
    }
    val expCol =
      if (selected.isEmpty) lit(null).cast("string")
      else lit(selected.map(_._1).sorted.mkString(","))
    bm25Scores(
      bm25Contribs(docs, idCol, textCol, weights.map(_._1), k1, b)
        .withColumn("contrib", wCol * col("contrib")))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
      .withColumn("expansion", expCol)
  }

  /** Top-k terms per document by tf·idf (idf = ln(N/df)), deterministic:
    * ties on the rounded score break by term. Output:
    * (doc_id, term, tf, tfidf, rank).
    */
  def tfidfTopK(docs: DataFrame, idCol: String, textCol: String,
                k: Int): DataFrame = {
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("term").asc)
    tfidfScored(docs, idCol, textCol)
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select("doc_id", "term", "tf", "tfidf", "rank")
  }

  /** Shared TF-IDF scoring stage of [[tfidfTopK]] / [[tfidfTopKAgg]]:
    * (doc_id, term, tf, tfidf).
    */
  private[operators] def tfidfScored(docs: DataFrame, idCol: String,
                                     textCol: String): DataFrame = {
    val terms = docs.select(col(idCol).as("doc_id"),
      explode(TextFunctions.tokens(col(textCol))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(df, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
  }

  /** Top-k terms per doc computed with a BOUNDED-BUFFER typed
    * Aggregator instead of a window sort — the skew-safe top-k shape:
    * `row_number().over(Window.partitionBy(g).orderBy(...))` SORTS each
    * group in full (O(n log n) per group, spilling on a hot key), while
    * an aggregator carries at most k rows per group through partial
    * aggregation — map-side combine trims to k BEFORE the exchange, so
    * a group with 10⁹ rows ships ~k·partitions rows, not 10⁹. Identical
    * output to [[tfidfTopK]] (same total order (tfidf desc, term asc);
    * q104 is verified against q68's oracle verbatim).
    */
  def tfidfTopKAgg(docs: DataFrame, idCol: String, textCol: String,
                   k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val topk = udaf(BoundedKAggregator.topTerms(k))
    tfidfScored(docs, idCol, textCol)
      .groupBy("doc_id")
      .agg(topk(col("term"), col("tf"), col("tfidf")).as("top"))
      .select(col("doc_id"), posexplode(col("top")).as(Seq("i", "e")))
      // tuple encoder field names: _1 = term, _2 = tf, _3 = tfidf
      .select(col("doc_id"), col("e._1").as("term"), col("e._2").as("tf"),
        col("e._3").as("tfidf"), (col("i") + 1).cast("int").as("rank"))
  }

  /** Corpus-trained bigram language-model score — the "perplexity
    * filter" of published curation pipelines (CCNet/Gopher filter on a
    * KenLM score; the execution shape is identical): TRAIN n-gram
    * counts over the corpus with hash aggregations, then SCORE each
    * document by joining its bigrams against the count tables.
    *
    * The per-bigram term is an integer surrogate for the smoothed
    * log-probability: `(c12 * 1_000_000) div (c1 + V)` — corpus bigram
    * count over add-one-smoothed first-token count, scaled and floored.
    * Keeping every quantity in exact BIGINT arithmetic makes the score
    * bit-identical across engines (a float log would hash-mismatch on
    * summation order); rank order of documents — all a filter consumes
    * — is preserved for fixed document length.
    *
    * Scale shape (100 TB): train = two hash-partitioned aggregations
    * (partial agg collapses repeats before each exchange); vocabulary
    * size V joins in as a broadcast 1-row aggregate (a plan, not a
    * driver action); scoring = equi-joins on the (w1,w2) / w1 keys the
    * aggregations already hash by — co-partitioned shuffle joins at
    * open vocab, broadcast if the vocab is bounded (AQE decides).
    * Nothing is all-pairs; nothing collects.
    */
  def ngramLmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      TextFunctions.tokens(col(textCol)).as("toks"))
    val bigrams = toks.select(col("doc_id"), explode(
        when(size(col("toks")) < 2,
          array().cast("array<struct<w1:string,w2:string>>"))
          .otherwise(transform(sequence(lit(0), size(col("toks")) - 2),
            i => struct(element_at(col("toks"), i + 1).as("w1"),
              element_at(col("toks"), i + 2).as("w2"))))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // per-doc bigram multiplicities: the one explode-width exchange
    val docBg = bigrams.groupBy("doc_id", "w1", "w2")
      .agg(count(lit(1)).as("m"))
    // corpus model: bigram and unigram counts + vocabulary size
    val c12 = docBg.groupBy("w1", "w2").agg(sum("m").as("c12"))
    val uni = toks.select(explode(col("toks")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    docBg
      .join(c12, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("term", expr("(c12 * 1000000L) div (c1 + v)"))
      .groupBy("doc_id")
      .agg(sum(col("m") * col("term")).as("lm_score"),
        sum("m").as("n_bigrams"))
  }

  /** Deterministic per-stratum take: exactly `min(k, |stratum|)` rows
    * per stratum, chosen by md5-of-id rank — the fixed-COUNT sibling of
    * [[mixtureSample]]'s fixed-RATE sampling (eval-set carving, per-
    * language caps, debugging slices). No RNG: the same rows come back
    * on every run, engine, and partitioning.
    *
    * Scale shape: one shuffle on the stratum key + a partition-local
    * sort for the row_number window. For a stratum skewed enough that
    * sorting it hurts, the bounded top-k Aggregator (q104's shape,
    * [[tfidfTopKAgg]]) is the drop-in alternative — it was measured
    * winning under a 70%-hot key; at typical stratum counts the window
    * form is simpler and equivalent.
    */
  def stratifiedTake(docs: DataFrame, idCol: String, stratumCol: String,
                     k: Int): DataFrame = {
    require(k > 0, s"bad take size $k")
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    docs.withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= k)
      .drop("__rank")
  }

  /** [[stratifiedTake]] through a bounded typed Aggregator — the
    * SKEW-SAFE twin (the q104-over-q68 doctrine applied to sampling):
    * the window form sorts every stratum's full row set, so one
    * giant stratum (80% English) serializes a huge sort on one
    * reducer; here the map side keeps ≤ k (md5, id) pairs per stratum
    * per partition, the exchange carries ≤ k·partitions·|strata| tiny
    * pairs, and no full sort exists anywhere. Identical output rows —
    * the same md5-rank rule, the same oracle.
    */
  def stratifiedTakeAgg(docs: DataFrame, idCol: String, stratumCol: String,
                        k: Int): DataFrame = {
    require(k > 0, s"bad take size $k")
    val minK = udaf(BoundedKAggregator.minK(k))
    docs.groupBy(col(stratumCol))
      .agg(minK(md5(col(idCol).cast("string")), col(idCol)).as("__ids"))
      .select(col(stratumCol), explode(col("__ids")).as(idCol))
      .select(col(idCol), col(stratumCol))
  }

  /** Exact global position under a total order — the deterministic
    * corpus-shuffle primitive: training-data assembly needs every
    * document's position in a reproducible pseudo-random order (shard
    * assignment, pack boundaries, resumable epochs), and the naive
    * `row_number() OVER (ORDER BY …)` funnels the corpus through ONE
    * partition. Here the order is established distributedly: a range
    * exchange on the sort key (sampled boundaries, contiguous key
    * ranges per partition), a partition-local sort, then
    * `zipWithIndex` — which runs one lightweight count-per-partition
    * job and assigns consecutive indices with per-partition offsets,
    * never collecting data. Positions are 0-based, dense, and globally
    * ordered by `sortCols` across partitions.
    *
    * Callers pass a UNIQUE sort key (e.g. `md5(id)` with `id` as
    * tiebreaker) — a total order is what makes the result reproducible
    * across runs, engines, and partition counts.
    */
  def globalOrderIndex(df: DataFrame, sortCols: Seq[Column],
                       posCol: String = "pos"): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    val spark = df.sparkSession
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = df.repartitionByRange(n, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val out = sorted.schema.add(posCol, LongType, nullable = false)
    val rdd = sorted.rdd.zipWithIndex().map { case (row, i) =>
      Row.fromSeq(row.toSeq :+ i)
    }
    spark.createDataFrame(rdd, out)
  }

  /** Snapshot merge (upsert) — the corpus-refresh primitive: a recrawl
    * or re-annotation produces an `updates` table (same schema);
    * updated ids replace their current rows, new ids append, untouched
    * rows pass through. MERGE INTO without a table format: the output
    * is the new corpus snapshot to write.
    *
    * Scale shape: ONE left-anti equi-join of the corpus against the
    * update KEYS (skinny — only the id column ships) plus a union. The
    * updates side of a refresh is typically a small fraction of the
    * corpus, so the anti-join broadcasts (AQE decides; at 100 TB the
    * 100-TB side is never re-shuffled when the key list fits). No
    * full-outer wide rows, no driver state.
    */
  def snapshotMerge(current: DataFrame, updates: DataFrame,
                    idCol: String): DataFrame =
    updates.unionByName(
      current.join(updates.select(col(idCol)), Seq(idCol), "left_anti"))

  /** Quantile binning — curriculum/stratification bucketing: assign
    * each row the decile (or k-ile) of `valueCol`, the step that turns
    * a continuous quality score into the discrete training-mix strata
    * that [[mixtureSample]] consumes.
    *
    * Scale shape: the WRONG way is `ntile() OVER (ORDER BY v)` — a
    * global sort through one partition. Instead the k−1 exact cut
    * points compute in one aggregation (a percentile over the value
    * column), ship as a broadcast 1-row table, and the assignment is a
    * narrow codegen'd comparison chain — no global sort, no window,
    * nothing driver-side. Bin b = #{cuts strictly below the value},
    * so ties land deterministically in the lower bin on any engine.
    */
  def quantileBins(df: DataFrame, valueCol: String, k: Int): DataFrame = {
    require(k >= 2, s"need at least 2 bins, got $k")
    val ps = (1 until k).map(i => i.toDouble / k)
    val cuts = df.agg(
      expr(s"percentile($valueCol, array(${ps.mkString(",")}))").as("__cuts"))
    val cutCols = (0 until k - 1).map(i =>
      element_at(col("__cuts"), i + 1).as(s"__cut$i"))
    val binExpr = (0 until k - 1)
      .map(i => (col(valueCol) > col(s"__cut$i")).cast("int"))
      .reduce(_ + _)
    df.crossJoin(broadcast(cuts.select(cutCols: _*)))
      .withColumn("bin", binExpr)
      .drop((0 until k - 1).map(i => s"__cut$i"): _*)
  }

  final case class RepetitionSignals(doc_id: Long, total_lines: Long,
                                     dup_lines: Long, total_line_chars: Long,
                                     dup_line_chars: Long,
                                     top_bigram_count: Long, n_bigrams: Long,
                                     max_token_run: Long)

  /** Gopher-style intra-document repetition signals (Rae et al. 2021
    * §A1.1: "repetitious documents are typically low quality") — the
    * per-document tagger every published curation pipeline runs before
    * corpus-level dedup:
    *
    *   - duplicate-LINE stats: of the `\n`-separated lines, how many
    *     are repeats of an earlier line, and how many characters sit in
    *     those repeats (`dup_lines`/`total_lines`,
    *     `dup_line_chars`/`total_line_chars` are the Gopher fractions —
    *     emitted as exact integer numerator/denominator so the
    *     cross-engine compare has no float hazard);
    *   - `top_bigram_count`/`n_bigrams`: occurrences of the most
    *     frequent word bigram (Gopher's "top n-gram fraction");
    *   - `max_token_run`: the longest run of the SAME token repeated
    *     back-to-back (catches `spam spam spam ...` degeneration that
    *     bigram fractions dilute on long documents).
    *
    * Scale shape: everything is per-document, so this is ONE narrow
    * mapPartitions pass — no explode, no shuffle, no state beyond a
    * per-doc hash map (documents are bounded; the map is line/bigram
    * cardinality within one doc). At 100 TB this is the ideal operator:
    * embarrassingly parallel over whatever partitioning the scan
    * produced. Tokenization matches [[TextFunctions.tokens]]
    * (whitespace split, empties dropped).
    */
  def repetitionSignals(docs: DataFrame): org.apache.spark.sql.Dataset[RepetitionSignals] = {
    Multimodal.perDocument(docs) { rows =>
      rows.map { case (id, text) =>
        val lines = text.split("\n", -1)
        val lineCounts = new java.util.HashMap[String, Int]()
        lines.foreach(l => lineCounts.merge(l, 1, (a, b) => a + b))
        var dupLines = 0L; var totalLineChars = 0L; var dupLineChars = 0L
        lineCounts.forEach { (l, c) =>
          dupLines += c - 1
          totalLineChars += c.toLong * l.length
          dupLineChars += (c - 1).toLong * l.length
        }
        val toks = text.trim.split("\\s+").filter(_.nonEmpty)
        val bigramCounts = new java.util.HashMap[String, Int]()
        var i = 0
        while (i + 1 < toks.length) {
          bigramCounts.merge(toks(i) + " " + toks(i + 1), 1, (a, b) => a + b)
          i += 1
        }
        var topBigram = 0L
        bigramCounts.forEach { (_, c) => if (c > topBigram) topBigram = c.toLong }
        var maxRun = 0L; var run = 0L
        i = 0
        while (i < toks.length) {
          run = if (i > 0 && toks(i) == toks(i - 1)) run + 1 else 1
          if (run > maxRun) maxRun = run
          i += 1
        }
        RepetitionSignals(id, lines.length.toLong, dupLines, totalLineChars,
          dupLineChars, topBigram, math.max(0, toks.length - 1).toLong,
          maxRun)
      }
    }
  }

  final case class GopherSignals(
      doc_id: Long, n_words: Long, sum_word_chars: Long,
      n_symbol_hits: Long, n_lines: Long, n_bullet_lines: Long,
      n_ellipsis_lines: Long, n_alpha_words: Long, stop_hits: Long,
      r_word_count: Boolean, r_mean_word_len: Boolean,
      r_symbol_ratio: Boolean, r_bullet_lines: Boolean,
      r_ellipsis_lines: Boolean, r_alpha_words: Boolean,
      r_stopwords: Boolean, pass: Boolean)

  /** The eight required stopwords of the Gopher rule filter (Rae et
    * al. 2021 §A1.1) — a document must contain at least two.
    */
  val GopherStopwords: Set[String] =
    Set("the", "be", "to", "of", "and", "that", "have", "with")

  /** The Gopher RULE filter (Rae et al. 2021, appendix A1.1) — the
    * published per-document quality gate run before any model-based
    * scoring, emitted with per-rule verdicts so a curation pipeline can
    * audit WHICH rule rejected each document (the flags published
    * pipelines log):
    *
    *   1. word count in [50, 100000];
    *   2. mean word length in [3, 10];
    *   3. hash-or-ellipsis symbol-to-word ratio <= 0.1;
    *   4. <= 90% of lines start with a bullet (`•`, `-`, `*`);
    *   5. <= 30% of lines end with an ellipsis (`...` or `…`);
    *   6. >= 80% of words contain an alphabetic character;
    *   7. at least 2 of [[GopherStopwords]] appear as (lowercased)
    *      tokens.
    *
    * Every ratio threshold is evaluated by exact INTEGER
    * cross-multiplication (`10·hits <= words`, `5·alpha >= 4·words`,
    * ...), and the raw numerators/denominators ship alongside the
    * verdicts — no float leaves the operator, so the cross-engine
    * compare has no rounding hazard and a pipeline can re-derive any
    * rule at a different threshold without re-scanning the corpus.
    *
    * Scale shape: like [[repetitionSignals]], ONE narrow mapPartitions
    * pass — per-document arithmetic only, no explode, no shuffle,
    * embarrassingly parallel over the scan's own partitioning (the
    * measured 13.9× tagger win over the explode/groupBy relational
    * form, BASELINE.md Round-6 tagger probe). Tokenization matches
    * [[TextFunctions.tokens]]; symbol hits count `#` characters plus
    * NON-overlapping left-to-right `...` occurrences (the `replace`
    * counting rule both engines share).
    */
  def gopherRules(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text",
                  minWords: Long = 50L, maxWords: Long = 100000L)
      : org.apache.spark.sql.Dataset[GopherSignals] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"),
        coalesce(col(textCol), lit("")).as("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val toks = text.trim.split("\\s+").filter(_.nonEmpty)
          val nWords = toks.length.toLong
          var sumChars = 0L; var nAlpha = 0L
          val stopsSeen = new java.util.HashSet[String]()
          toks.foreach { w =>
            sumChars += w.length
            var hasAlpha = false; var i = 0
            while (i < w.length && !hasAlpha) {
              val c = w.charAt(i)
              hasAlpha = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
              i += 1
            }
            if (hasAlpha) nAlpha += 1
            val lw = w.toLowerCase(java.util.Locale.ROOT)
            if (GopherStopwords.contains(lw)) stopsSeen.add(lw)
          }
          var symbolHits = 0L; var i = 0
          while (i < text.length) {
            if (text.charAt(i) == '#') { symbolHits += 1; i += 1 }
            else if (text.startsWith("...", i)) { symbolHits += 1; i += 3 }
            else i += 1
          }
          val lines = text.split("\n", -1)
          var bullet = 0L; var ellipsis = 0L
          lines.foreach { l =>
            if (l.nonEmpty && (l.charAt(0) == '•' || l.charAt(0) == '-' ||
                l.charAt(0) == '*')) bullet += 1
            if (l.endsWith("...") || l.endsWith("…")) ellipsis += 1
          }
          val stopHits = stopsSeen.size.toLong
          val rWc = nWords >= minWords && nWords <= maxWords
          val rMwl = 3L * nWords <= sumChars && sumChars <= 10L * nWords
          val rSym = 10L * symbolHits <= nWords
          val rBul = 10L * bullet <= 9L * lines.length
          val rEll = 10L * ellipsis <= 3L * lines.length
          val rAlp = 5L * nAlpha >= 4L * nWords
          val rStp = stopHits >= 2L
          GopherSignals(id, nWords, sumChars, symbolHits,
            lines.length.toLong, bullet, ellipsis, nAlpha, stopHits,
            rWc, rMwl, rSym, rBul, rEll, rAlp, rStp,
            rWc && rMwl && rSym && rBul && rEll && rAlp && rStp)
        }
      }
  }

  final case class CharSignals(
      doc_id: Long, n_chars: Long, n_latin: Long, n_cyrillic: Long,
      n_han: Long, n_arabic: Long, n_distinct: Long,
      entropy_bits: Option[Double]) // RAW bits — round at the query layer

  /** Character-level curation signals — the script/diversity tagger a
    * multilingual pipeline runs next to language-ID: per document,
    * CODE-POINT counts by Unicode script (Latin, Cyrillic, Han,
    * Arabic — `Character.UnicodeScript`, the same classes RE2's
    * `\p{Latin}` family matches), distinct-code-point count, and the
    * Shannon entropy of the code-point distribution in RAW bits
    * (round at the query layer — the low-entropy tail is
    * boilerplate/spam, the published compression-ratio proxy without
    * a codec dependency). Empty documents carry null entropy
    * (undefined, not zero).
    *
    * Counts are CODE POINTS, not UTF-16 units, so they agree with
    * engines that count characters (astral-plane text included). One
    * narrow mapPartitions pass, the tagger shape: no explode, no
    * shuffle.
    */
  def charSignals(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text")
      : org.apache.spark.sql.Dataset[CharSignals] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"),
        coalesce(col(textCol), lit("")).as("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        import java.lang.Character.UnicodeScript
        rows.map { case (id, text) =>
          val hist = new java.util.HashMap[Integer, Long]()
          var latin = 0L; var cyr = 0L; var han = 0L; var arab = 0L
          var n = 0L; var i = 0
          while (i < text.length) {
            val cp = text.codePointAt(i)
            i += Character.charCount(cp)
            n += 1
            UnicodeScript.of(cp) match {
              case UnicodeScript.LATIN => latin += 1
              case UnicodeScript.CYRILLIC => cyr += 1
              case UnicodeScript.HAN => han += 1
              case UnicodeScript.ARABIC => arab += 1
              case _ => ()
            }
            hist.merge(cp, 1L, (a, b) => a + b)
          }
          val entropy =
            if (n == 0) None
            else {
              var e = 0.0
              val it = hist.values().iterator()
              while (it.hasNext) {
                val p = it.next().toDouble / n
                e -= p * (math.log(p) / math.log(2.0))
              }
              Some(e)
            }
          CharSignals(id, n, latin, cyr, han, arab, hist.size.toLong,
            entropy)
        }
      }
  }

  final case class C4Result(doc_id: Long, text: String,
                            n_lines_kept: Long, n_sentences: Long,
                            kept: Boolean)

  /** C4-style line cleaning (Raffel et al. 2020 §2.2) — the published
    * line- and page-level gate of the C4 corpus build:
    *
    *   - a LINE survives iff it ends in terminal punctuation
    *     (`.`, `!`, `?`, `"`), carries at least 3 whitespace words, and
    *     does not contain the word `javascript` (case-insensitive);
    *   - the PAGE survives iff the retained text still carries at
    *     least 5 sentence-ending marks (`.`, `!`, `?`), the ORIGINAL
    *     text contains no curly brace (the code-page signal), and no
    *     phrase from `badPhrases` (lowercase match; C4's canonical
    *     entry is `lorem ipsum`).
    *
    * Every document comes back (cleaned text + counters + the `kept`
    * verdict) so the caller chooses filter vs audit; the corpus-level
    * three-sentence-span dedup that completes C4 composes downstream
    * as [[removeDuplicateSpans]] — line cleaning is per-document,
    * span dedup is the corpus-wide shuffle, and keeping them separate
    * keeps this pass narrow.
    *
    * Scale shape: ONE mapPartitions pass, per-document arithmetic
    * only — no shuffle at any size.
    */
  /** Unicode NFC normalization (UAX #15 canonical composition) — the
    * text-cleaning pass multilingual corpora need before any
    * byte-level dedup or tokenization: the same word stored composed
    * ("é") and decomposed ("e" + U+0301) hashes differently until
    * normalized. java.text.Normalizer implements the same published
    * algorithm DuckDB's nfc_normalize does (canonical reordering by
    * combining class, pairwise + Hangul algorithmic composition), so
    * the oracle replays the digest exactly. Emits per doc: whether
    * normalization changed anything, codepoint counts before/after,
    * and the md5 of the normalized UTF-8 — one narrow mapPartitions
    * pass, no shuffle at any size.
    */
  def nfcNormalize(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col(idCol).cast("long"),
        coalesce(col(textCol), lit("")).as("t"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, t) =>
          val norm = java.text.Normalizer
            .normalize(t, java.text.Normalizer.Form.NFC)
          (id, if (norm == t) 0 else 1,
            t.codePointCount(0, t.length), norm.codePointCount(0, norm.length),
            Digest.md5Hex(norm))
        }
      }
      .toDF("doc_id", "changed", "n_before", "n_after", "nfc_md5")
  }

  def c4Clean(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text",
              badPhrases: Seq[String] = Seq("lorem ipsum"))
      : org.apache.spark.sql.Dataset[C4Result] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bad = badPhrases.map(_.toLowerCase(java.util.Locale.ROOT))
    docs.select(col(idCol).cast("long"),
        coalesce(col(textCol), lit("")).as("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val keptLines = text.split("\n", -1).filter { l =>
            val lastOk = l.nonEmpty && {
              val c = l.charAt(l.length - 1)
              c == '.' || c == '!' || c == '?' || c == '"'
            }
            lastOk &&
              l.trim.split("\\s+").count(_.nonEmpty) >= 3 &&
              !l.toLowerCase(java.util.Locale.ROOT).contains("javascript")
          }
          val cleaned = keptLines.mkString("\n")
          var sentences = 0L; var i = 0
          while (i < cleaned.length) {
            val c = cleaned.charAt(i)
            if (c == '.' || c == '!' || c == '?') sentences += 1
            i += 1
          }
          val lower = text.toLowerCase(java.util.Locale.ROOT)
          val kept = sentences >= 5L && !text.contains('{') &&
            !bad.exists(lower.contains)
          C4Result(id, cleaned, keptLines.length.toLong, sentences, kept)
        }
      }
  }

  /** Temperature-scaled mixture weights (the Gopher/PaLM sampling-
    * temperature rule): per-stratum share p_i = n_i / N raised to
    * `1/T = alpha` and renormalized — alpha = 1 keeps natural
    * proportions, alpha → 0 flattens toward uniform, the knob every
    * published mixing recipe tunes to keep small high-quality sources
    * from drowning. Emits (stratum, n, weight) — the weight table that
    * plugs straight into [[mixtureSample]].
    *
    * Scale shape: one hash agg to per-stratum counts (stratum
    * cardinality is metadata-sized), then two broadcast 1-row
    * normalizers — no data-proportional shuffle beyond the count.
    */
  def temperatureWeights(docs: DataFrame, stratumCol: String,
                         alpha: Double): DataFrame = {
    require(alpha > 0, s"temperature exponent must be positive, got $alpha")
    val c = docs.groupBy(col(stratumCol)).agg(count(lit(1)).as("n"))
    val tot = c.agg(sum("n").cast("double").as("__t"))
    val u = c.crossJoin(broadcast(tot))
      .withColumn("__u", pow(col("n") / col("__t"), alpha))
    val z = u.agg(sum("__u").as("__z"))
    u.crossJoin(broadcast(z))
      .select(col(stratumCol), col("n"),
        (round(col("__u") / col("__z"), 6) + lit(0.0)).as("weight"))
  }

  /** Deterministic weighted sampling WITHOUT replacement — the
    * Efraimidis–Spirtes A-ES key (IPL 2006, public algorithm): give
    * each row the key ln(u) / w for a per-row uniform u ∈ (0, 1] and
    * weight w > 0; the k rows with the LARGEST keys are distributed
    * exactly as sequential weighted draws without replacement. u is
    * md5-derived (the [[hashGate]] idiom — first 8 hex chars, so u =
    * (h + 1) / 2³², never zero), which makes the sample reproducible
    * across runs, engines, and partitionings — no RNG state.
    *
    * Scale shape: one narrow pass computes the key, then orderBy+limit
    * plans TakeOrderedAndProject — per-partition top-k heaps and a
    * single k-row merge, never a global sort. Ties are broken by id;
    * with 32-bit hash entropy per row, key collisions at the boundary
    * are the only cross-engine risk and require ln(u)/w to collide to
    * the last double ulp.
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int): DataFrame = {
    require(k >= 1, s"sample size $k must be positive")
    val h = conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("long")
    val u = (h + 1).cast("double") / lit(4294967296.0) // 2^32
    Parallelism.ensure(df)
      .filter(col(weightCol) > 0)
      .select(col(idCol).as("id"), col(weightCol).cast("double").as("w"),
        (log(u) / col(weightCol)).as("skey"))
      .orderBy(col("skey").desc, col("id").asc)
      .limit(k)
  }

  /** Topic terms per embedding cluster — the c-TF-IDF shape (BERTopic's
    * topic-representation step, public recipe): treat each cluster as
    * one pseudo-document, score term t in cluster c by
    * tf(t, c) · ln(k / df(t)) where df counts CLUSTERS containing t,
    * and keep the top-k terms per cluster. Composes [[graft.operators
    * .Similarity.kmeansAssign]] (the clustering) with the corpus term
    * statistics — embeddings decide WHO groups, text explains WHY.
    *
    * Scale shape: one term explode + two hash aggregations (both
    * vocab-bounded after the first), a broadcast 1-row k, and the
    * BOUNDED top-k Aggregator per cluster (≤ k rows per cluster per
    * partition survive the map side — no window sort over the vocab;
    * q104's skew-safe shape). `clusters` must expose (id, cluster).
    */
  def clusterTopTerms(docs: DataFrame, clusters: DataFrame, idCol: String,
                      textCol: String, k: Int): DataFrame = {
    val terms = docs.select(col(idCol).as("doc_id"),
      explode(TextFunctions.tokens(col(textCol))).as("term"))
    val j = terms.join(
      clusters.select(col("id").as("doc_id"), col("cluster")), "doc_id")
    val ctf = j.groupBy("cluster", "term").agg(count(lit(1)).as("tf"))
    val cdf = ctf.groupBy("term").agg(count(lit(1)).as("df"))
    val nc = ctf.select("cluster").distinct()
      .agg(count(lit(1)).as("n_clusters"))
    val scored = ctf.join(cdf, "term")
      .crossJoin(broadcast(nc))
      .withColumn("score",
        round(col("tf") * log(col("n_clusters").cast("double") / col("df")), 4))
    val topk = udaf(BoundedKAggregator.topTerms(k))
    scored.groupBy("cluster")
      .agg(topk(col("term"), col("tf"), col("score")).as("top"))
      .select(col("cluster"), posexplode(col("top")).as(Seq("i", "e")))
      .select(col("cluster"), col("e._1").as("term"), col("e._2").as("tf"),
        col("e._3").as("score"), (col("i") + 1).cast("int").as("rank"))
  }

  /** Byte-pair-encoding tokenizer TRAINING (Sennrich et al., ACL 2016 —
    * the public BPE recipe): starting from characters, repeatedly count
    * adjacent symbol pairs over the word vocabulary (weighted by word
    * frequency), merge the most frequent pair everywhere (left-to-right,
    * non-overlapping), `merges` times. Returns the learned merge table
    * — one row per round: (round, lhs, rhs, merged, cnt), exact
    * integers, deterministic tiebreak (count desc, then pair asc).
    *
    * The scale insight BPE training rests on: after ONE corpus pass
    * (the word-count aggregation), every iteration runs on the VOCAB
    * table (|distinct words|, ~10⁵-10⁶ rows at any corpus size), not
    * the corpus — so 100 TB of text costs one aggregation plus
    * `merges` vocab-sized rounds. Symbol sequences are kept as a
    * delimited string ("(t)(h)(e)"): pair extraction is one
    * regexp_extract_all and applying a merge is one literal `replace`
    * per round — and string replace's left-to-right non-overlap
    * semantics are exactly BPE's merge-application rule (both engines
    * share it, so the oracle replays training verbatim). Only words
    * matching `^[a-z]+$` after lowercasing train (parens stay
    * meta-characters). Per round, ONE 1-row argmax comes to the driver
    * (the k-means centroid-fetch contract); the vocab is
    * localCheckpoint'd per round so each round's plan stays flat.
    */
  def bpeTrain(docs: DataFrame, textCol: String, merges: Int): DataFrame =
    trainMerges(charVocab(docs, textCol, "^[a-z]+$"), "\\([a-z]+\\)", merges)(byCount)

  /** The BPE pick: the most frequent pair (count desc, then pair asc). */
  private val byCount: (DataFrame, DataFrame) => DataFrame = (pairs, _) =>
    pairs.orderBy(col("c").desc, col("s1").asc, col("s2").asc)
      .select(col("s1"), col("s2"), col("c").as("cnt"))

  /** The (cnt, repr) vocab of the character-alphabet trainers: the
    * lowercased tokens matching `wordRegex`, counted, each rendered as
    * its paren-delimited character symbols ("the" → "(t)(h)(e)").
    */
  private def charVocab(docs: DataFrame, textCol: String,
                        wordRegex: String): DataFrame =
    Parallelism.ensure(docs)
      .select(explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .select(TextFunctions.lowerCase(col("tok")).as("word"))
      .filter(col("word").rlike(wordRegex))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(col("cnt"), parenChars(col("word")).as("repr"))

  /** A non-empty word as its paren-delimited character symbols. */
  private def parenChars(w: Column): Column =
    concat(lit("("), concat_ws(")(", filter(split(w, ""), c => c =!= "")), lit(")"))

  /** A word's UTF-8 bytes as lowercase hex, two digits per byte. */
  private def hexBytes(w: Column): Column =
    TextFunctions.lowerCase(hex(encode(w, "UTF-8")))

  /** Hex digits as paren-delimited byte symbols ("7468" → "(74)(68)"). */
  private def parenHex(h: Column): Column =
    regexp_replace(h, lit("([0-9a-f]{2})"), lit("($1)"))

  /** The one merge-training loop of the BPE family ([[bpeTrain]],
    * [[byteBpeTrain]], [[wordpieceTrain]]). `vocab` holds (cnt, repr)
    * rows, repr a word's symbols as a paren-delimited string matched
    * symbol by symbol by `symbol`. One round: explode each word's
    * adjacent symbol pairs into (s1, s2, c = Σ cnt); `pick` orders that
    * frame (it also receives the vocab's (cnt, syms) rows for per-symbol
    * statistics) and selects (s1, s2, stats…); the first row comes to
    * the driver; a literal `replace` applies the merge; the vocab is
    * localCheckpoint'd so each round's plan stays flat. Stops after
    * `merges` rounds or when no word has two symbols left. Returns one
    * row per learned merge: (round, lhs, rhs, merged, stats…).
    */
  private def trainMerges(vocab: DataFrame, symbol: String, merges: Int)(
      pick: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    require(merges >= 1 && merges <= 64,
      s"merges $merges outside sane bounds (1..64)")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val spark = vocab.sparkSession
    val syms = regexp_extract_all(col("repr"), lit(symbol), lit(0))
    var v = vocab.localCheckpoint()
    val learned = scala.collection.mutable.ArrayBuffer.empty[Row]
    var stats = Seq.empty[StructField]
    var exhausted = false
    while (learned.size < merges && !exhausted) {
      val withSyms = v.select(col("cnt"), syms.as("syms"))
      val pairs = withSyms
        .select(col("cnt"), explode(when(size(col("syms")) > 1,
          transform(sequence(lit(1), size(col("syms")) - 1),
            i => struct(element_at(col("syms"), i).as("s1"),
              element_at(col("syms"), i + 1).as("s2"))))
          .otherwise(array())).as("p"))
        .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
        .agg(sum("cnt").as("c"))
      val ranked = pick(pairs, withSyms)
      // the pick's sums are nullable in its schema; a learned row's are not
      stats = ranked.schema.fields.toSeq.drop(2).map(_.copy(nullable = false))
      val best = ranked.limit(1).collect() // one row (or none) — bounded driver fetch
      if (best.isEmpty) exhausted = true
      else {
        val row = best.head
        val (s1, s2) = (row.getString(0), row.getString(1))
        val i1 = s1.substring(1, s1.length - 1)
        val i2 = s2.substring(1, s2.length - 1)
        learned += Row.fromSeq(Seq(learned.size + 1, i1, i2, i1 + i2) ++ row.toSeq.drop(2))
        v = v.withColumn("repr",
            replace(col("repr"), lit(s1 + s2), lit("(" + i1 + i2 + ")")))
          .localCheckpoint()
      }
    }
    val schema = StructType(StructField("round", IntegerType, nullable = false) +:
      Seq("lhs", "rhs", "merged").map(StructField(_, StringType)) ++: stats)
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(learned.asJava, schema)
  }

  /** Per-slice KL divergence against the whole-corpus token
    * distribution — the training-mix MONITOR: when one source's
    * KL(P_source ‖ P_corpus) drifts, that slice's language stopped
    * looking like the mixture (dataset shift, scraper breakage, a
    * contaminated dump). Definition per slice s:
    * Σ_t p_s(t) · ln(p_s(t) / p(t)) over s's terms (p(t) from the full
    * corpus, so every term of s has p(t) > 0 — no smoothing needed).
    *
    * Scale shape: one token explode into a (slice, term) partial agg,
    * one vocab-sized re-agg for corpus counts, an equi-join on term,
    * broadcast 1-row totals; the divergence itself is a |slices|-row
    * final agg. All counts exact integers; only the final sum is
    * floating (rounded).
    */
  def sourceDivergence(docs: DataFrame, groupCol: String,
                       textCol: String): DataFrame = {
    val terms = Parallelism.ensure(docs)
      .select(col(groupCol).as("source"),
        explode(TextFunctions.tokens(col(textCol))).as("term"))
    val cg = terms.groupBy("source", "term").agg(count(lit(1)).as("cg"))
    val ct = cg.groupBy("term").agg(sum("cg").as("ct"))
    val ng = cg.groupBy("source").agg(sum("cg").as("ng"))
    val nt = ct.agg(sum("ct").as("nt"))
    cg.join(ct, "term")
      .join(broadcast(ng), "source")
      .crossJoin(broadcast(nt))
      .withColumn("contrib",
        (col("cg").cast("double") / col("ng")) *
          log((col("cg").cast("double") * col("nt")) /
            (col("ng").cast("double") * col("ct"))))
      .groupBy("source")
      // + 0.0 collapses a −0.0 from rounding a tiny negative FP sum
      .agg((round(sum("contrib"), 6) + lit(0.0)).as("kl"),
        max("ng").as("n_tokens"))
  }

  /** PMI collocations (phrase mining): the top-k adjacent word pairs
    * by pointwise mutual information ln(p(ab) / (p(a)·p(b))) with a
    * minimum pair count (PMI is noise below a support floor — the
    * standard Church–Hanks recipe). The phrases a tokenizer or
    * stop-phrase list should know about.
    *
    * Scale shape: bigram explode → partial-agg counts; unigram counts
    * likewise; two equi-joins on the word keys; broadcast 1-row
    * totals; TakeOrderedAndProject for the top-k. The PMI operand is a
    * ratio of exact integer counts evaluated with one fixed operation
    * order, so both engines compute bit-identical doubles.
    */
  def pmiCollocations(docs: DataFrame, textCol: String, minCount: Long,
                      k: Int): DataFrame = {
    val toks = Parallelism.ensure(docs)
      .select(TextFunctions.tokens(col(textCol)).as("ts"))
    val uni = toks.select(explode(col("ts")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("cu"))
    val bi = toks.select(explode(when(size(col("ts")) > 1,
        transform(sequence(lit(1), size(col("ts")) - 1),
          i => struct(element_at(col("ts"), i).as("w1"),
            element_at(col("ts"), i + 1).as("w2"))))
      .otherwise(array())).as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("cb"))
    val nu = uni.agg(sum("cu").as("nu"))
    val nb = bi.agg(sum("cb").as("nb"))
    bi.filter(col("cb") >= minCount)
      .join(uni.select(col("t").as("w1"), col("cu").as("c1")), "w1")
      .join(uni.select(col("t").as("w2"), col("cu").as("c2")), "w2")
      .crossJoin(broadcast(nb)).crossJoin(broadcast(nu))
      .withColumn("pmi", round(log(
        (col("cb").cast("double") / col("nb")) /
          ((col("c1").cast("double") / col("nu")) *
            (col("c2").cast("double") / col("nu")))), 4) + lit(0.0))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(k)
      .select("w1", "w2", "cb", "pmi")
  }

  /** DSIR-style importance scores for data selection (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling" —
    * public recipe): score every document by its hashed-bigram
    * log-likelihood ratio between a TARGET slice's feature
    * distribution and the raw corpus's,
    * Σ_f ln( p̂_target(f) / p̂_raw(f) ) with add-one smoothing over
    * `buckets` hashed features — then keep the top-k (the importance-
    * resampling step degenerates to top-k under deterministic
    * contracts; swap in [[weightedSample]] with exp(score) weights for
    * the sampled variant). The hashed feature space is what makes this
    * tractable: both "LMs" are `buckets`-row count tables, not open
    * vocabularies.
    *
    * Scale shape: one bigram explode feeding BOTH count aggregations
    * (bounded output: ≤ `buckets` rows each — broadcast back), one
    * narrow re-pass scoring each bigram against the broadcast tables,
    * a per-doc agg, TakeOrderedAndProject. The per-feature operand is
    * one double division of two exact integer products (fits a long at
    * any count ≤ ~3×10⁹ × buckets; widen to DECIMAL past that), so
    * only the per-doc sum is order-sensitive — rounded.
    */
  def dsirScores(docs: DataFrame, idCol: String, textCol: String,
                 targetFilter: Column, buckets: Int, k: Int): DataFrame = {
    require(buckets >= 2 && k >= 1, s"bad buckets=$buckets k=$k")
    val bg = Parallelism.ensure(docs)
      .select(col(idCol).as("doc_id"), targetFilter.as("is_target"),
        TextFunctions.tokens(col(textCol)).as("ts"))
      .select(col("doc_id"), col("is_target"),
        explode(when(size(col("ts")) > 1,
          transform(sequence(lit(1), size(col("ts")) - 1),
            i => concat(element_at(col("ts"), i), lit(" "),
              element_at(col("ts"), i + 1))))
          .otherwise(array())).as("bigram"))
      .withColumn("b",
        conv(substring(md5(col("bigram")), 1, 8), 16, 10).cast("long")
          % buckets)
      .localCheckpoint() // feeds both count aggs AND the scoring pass
    val cr = bg.groupBy("b").agg(count(lit(1)).as("cr"))
    val ct = bg.filter(col("is_target")).groupBy("b").agg(count(lit(1)).as("ct"))
    val totals = cr.agg(sum("cr").as("nr")).crossJoin(ct.agg(sum("ct").as("nt")))
    bg.join(broadcast(cr), "b")
      .join(broadcast(ct), Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("term", log(
        ((coalesce(col("ct"), lit(0L)) + 1) * (col("nr") + buckets))
          .cast("double") /
          ((col("cr") + 1) * (col("nt") + buckets)).cast("double")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        (round(sum("term"), 4) + lit(0.0)).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** BPE tokenizer APPLICATION — encode the corpus with a learned merge
    * table ([[bpeTrain]]'s output, ordered). The inference-side twin of
    * training, and the shape matters: the merge list is a driver-held
    * constant (≤ merges rows), so encoding is ONE narrow zero-shuffle
    * pass — each document renders its lowercased `^[a-z]+$` words as
    * the paren-delimited symbol string (words joined by a space, which
    * no "(x)(y)" pattern can span, so one doc-level replace equals
    * per-word application), then applies the merges as chained literal
    * `replace`s in training order. Token count = surviving "(" count.
    * Non-alpha tokens are out of the trained alphabet and excluded
    * from both counts (same contract as training).
    */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String)]): DataFrame =
    encodeMerges(docs, idCol, filter(
      transform(TextFunctions.tokens(col(textCol)), t => TextFunctions.lowerCase(t)),
      w => w.rlike("^[a-z]+$")), parenChars, merges, "n_bpe")

  /** The one merge-chain encoder of [[bpeEncode]] and [[byteBpeEncode]]:
    * each doc's `words` render through `render` as paren-symbol strings
    * joined by a space (no "(x)(y)" pattern can span it, so one
    * doc-level replace equals per-word application), the merges apply
    * as chained literal `replace`s in training order, and the token
    * count (`countCol`) is the number of surviving "(".
    */
  private def encodeMerges(docs: DataFrame, idCol: String, words: Column,
                           render: Column => Column,
                           merges: Seq[(String, String)],
                           countCol: String): DataFrame = {
    require(merges.nonEmpty && merges.size <= 64,
      s"merge table size ${merges.size} outside sane bounds (1..64)")
    val repr0 = concat_ws(" ", transform(words, render))
    val encoded = merges.foldLeft(repr0) { case (c, (l, r)) =>
      replace(c, lit(s"($l)($r)"), lit(s"($l$r)"))
    }
    docs.select(col(idCol).as("doc_id"), size(words).as("n_words"),
      (length(encoded) - length(replace(encoded, lit("("), lit(""))))
        .cast("int").as(countCol))
  }

  /** BYTE-LEVEL BPE training (the GPT-2 recipe, Radford et al. 2019 —
    * public): the base alphabet is the word's UTF-8 BYTES, not its
    * characters, so EVERY string is representable (byte fallback is
    * structural — a byte that never participates in a merge simply
    * stays its own token; there is no <unk>). Pre-tokenized words
    * train as-is — no lowercasing, no `^[a-z]+$` gate — because at the
    * byte level there is no out-of-alphabet word, only a byte-length
    * cap (`maxWordBytes`, both engines enforce it) bounding the repr.
    * Pre-tokenization is pluggable via `tokensOf` (default: whitespace
    * tokens); pass [[graft.functions.TextFunctions.gpt2Pretokens]] for
    * the published GPT-2 contraction/category regex with the
    * leading-space convention (q352/q353).
    *
    * Representation: each byte renders as its 2-digit lowercase hex
    * inside the paren-delimited symbol string ("the" → "(74)(68)(65)",
    * "🚀" → "(f0)(9f)(9a)(80)"), so a symbol is an even-length hex run
    * and multi-byte UTF-8 merges are ordinary pair merges. Everything
    * else is [[bpeTrain]]'s loop ([[trainMerges]]): per round one
    * vocab-sized pair aggregation, a 1-row argmax fetch (count desc,
    * pair asc), one literal replace — 100 TB costs ONE corpus
    * aggregation plus `merges` vocab-sized rounds.
    */
  def byteBpeTrain(docs: DataFrame, textCol: String, merges: Int,
                   maxWordBytes: Int = 16,
                   tokensOf: Column => Column =
                     TextFunctions.tokens): DataFrame = {
    require(maxWordBytes >= 1 && maxWordBytes <= 64,
      s"maxWordBytes $maxWordBytes outside sane bounds (1..64)")
    val vocab = Parallelism.ensure(docs)
      .select(explode(tokensOf(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(col("cnt"), hexBytes(col("word")).as("h"))
      .filter(length(col("h")).between(2, maxWordBytes * 2))
      .select(col("cnt"), parenHex(col("h")).as("repr"))
    trainMerges(vocab, "\\([0-9a-f]+\\)", merges)(byCount)
  }

  /** Byte-level BPE ENCODING under [[byteBpeTrain]]'s merge table —
    * [[bpeEncode]]'s twin with the byte alphabet. Every word within
    * the byte cap encodes (byte FALLBACK: a word none of whose byte
    * pairs ever merged still tokenizes, one token per UTF-8 byte — the
    * property that makes byte-level vocabularies closed). The merge
    * list is a driver-held constant, so encoding is ONE narrow
    * zero-shuffle pass: render words as space-joined paren-hex (no
    * "(xx)(yy)" pattern can span the space), chain the literal
    * replaces in training order, count surviving "(".
    */
  def byteBpeEncode(docs: DataFrame, idCol: String, textCol: String,
                    merges: Seq[(String, String)],
                    maxWordBytes: Int = 16,
                    tokensOf: Column => Column =
                      TextFunctions.tokens): DataFrame =
    encodeMerges(docs, idCol, filter(transform(tokensOf(col(textCol)), hexBytes(_)),
      h => length(h) <= lit(maxWordBytes * 2)), parenHex, merges, "n_tokens")

  /** WordPiece tokenizer training (Schuster & Nakajima 2012 — BERT's
    * tokenizer), completing the production triad next to [[bpeTrain]]
    * and [[unigramTrain]]. The loop shape is BPE's (grow a merge table
    * bottom-up over the word-frequency vocab), but the selection rule
    * is the LIKELIHOOD score, not raw frequency: each round merges the
    * adjacent pair maximizing count(ab) / (count(a) · count(b)) — the
    * pair whose fusion most increases corpus likelihood under a
    * unigram model, which prefers strongly-bound pairs over merely
    * common ones. Ties break (s1 asc, s2 asc); both engines compute
    * the score as one IEEE division of exact integer counts, so the
    * argmax is cross-engine deterministic.
    *
    * Scale shape: identical to bpeTrain — per round, one narrow
    * pair-explode aggregation + one symbol-count aggregation over the
    * WORD vocab (never documents), a 1-row argmax fetch, a literal
    * replace; the driver holds the ≤`merges`-row table.
    */
  def wordpieceTrain(docs: DataFrame, textCol: String, merges: Int): DataFrame =
    // {1,12} word-length cap — the unigram-family contract ([a-z]{1,16}
    // there): an EXPLICIT bound both engine and oracle enforce, so the
    // oracle's fixed greedy-segmentation chain depth (12 steps — each
    // consumes ≥1 char) is guaranteed by the data contract, not by a
    // comment about the fixture.
    trainMerges(charVocab(docs, textCol, "^[a-z]{1,12}$"), "\\([a-z]+\\)", merges) {
      (pairs, withSyms) =>
        val symCounts = withSyms
          .select(col("cnt"), explode(col("syms")).as("sym"))
          .groupBy("sym").agg(sum("cnt").as("sc"))
        pairs
          .join(symCounts.select(col("sym").as("s1"), col("sc").as("sc1")), "s1")
          .join(symCounts.select(col("sym").as("s2"), col("sc").as("sc2")), "s2")
          .orderBy((col("c") / (col("sc1") * col("sc2"))).desc,
            col("s1").asc, col("s2").asc)
          .select(col("s1"), col("s2"), col("c").as("pair_cnt"),
            col("sc1").as("lhs_cnt"), col("sc2").as("rhs_cnt"))
    }
      // raw score ≈ 1e-7 vanishes under 6dp compare; the log form keeps
      // the likelihood ordering visible at hash-safe precision
      .withColumn("score_ln",
        round(log(col("pair_cnt")) - log(col("lhs_cnt")) - log(col("rhs_cnt")),
          6) + lit(0.0))

  /** WordPiece corpus encoding — greedy LONGEST-MATCH-FIRST inference
    * (the rule BERT ships): at each position take the longest vocab
    * piece prefixing the remaining suffix; pieces consumed past the
    * word start are continuations (the ## forms). The vocab is the 26
    * single chars plus the trained merge symbols, so every [a-z]+ word
    * segments without an UNK path. Emits per doc the word count, total
    * piece count, and continuation-piece count.
    *
    * Scale shape: each DISTINCT word segments once (a tight Scala scan
    * against a broadcast ≤90-piece set — the bounded-literal contract
    * of the BPE merge table), then a broadcast join fans counts back
    * to the exploded corpus and one aggregation re-groups per doc.
    * Zero-word docs are kept via the left join.
    */
  def wordpieceEncode(docs: DataFrame, idCol: String, textCol: String,
                      pieces: Seq[String]): DataFrame = {
    require(pieces.nonEmpty && pieces.size <= 512,
      s"piece table size ${pieces.size} outside sane bounds (1..512)")
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab = (('a' to 'z').map(_.toString) ++ pieces).toSet
    val maxLen = vocab.map(_.length).max
    val words = docs
      .select(explode(filter(
        transform(TextFunctions.tokens(col(textCol)), t => TextFunctions.lowerCase(t)),
        w => w.rlike("^[a-z]{1,12}$"))).as("word")) // train's word cap
      .distinct()
    val segmented = words.as[String].mapPartitions { it =>
      it.map { w =>
        var pos = 0
        var nPieces = 0
        var nCont = 0
        while (pos < w.length) {
          var l = math.min(maxLen, w.length - pos)
          while (l > 1 && !vocab.contains(w.substring(pos, pos + l))) l -= 1
          // l == 1 always matches (single chars are in the vocab)
          nPieces += 1
          if (pos > 0) nCont += 1
          pos += l
        }
        (w, nPieces, nCont)
      }
    }.toDF("word", "np", "nc")
    val perDoc = docs
      .select(col(idCol).as("doc_id"),
        explode_outer(filter(
          transform(TextFunctions.tokens(col(textCol)), t => TextFunctions.lowerCase(t)),
          w => w.rlike("^[a-z]{1,12}$"))).as("word"))
      .join(broadcast(segmented), Seq("word"), "left")
    perDoc.groupBy("doc_id")
      .agg(count(col("word")).cast("int").as("n_words"),
        coalesce(sum("np"), lit(0)).cast("int").as("n_pieces"),
        coalesce(sum("nc"), lit(0)).cast("int").as("n_continuations"))
  }

  /** SentencePiece-style UNIGRAM-LM tokenizer training (Kudo 2018) —
    * BPE's sibling and the tokenizer most modern LLM stacks ship.
    * Where BPE greedily grows a merge table bottom-up, the unigram
    * model starts from an over-complete SEED vocabulary and prunes:
    * fixed Viterbi-EM rounds re-estimate piece probabilities from the
    * corpus's maximum-likelihood segmentations, then the final vocab
    * keeps the `keepMulti` best multi-char pieces (single chars are
    * never pruned — every word must stay segmentable).
    *
    * Deterministic contract (the bpeTrain/q176 doctrine — the WHOLE
    * training loop is under the oracle hash, replayed as chained
    * MATERIALIZED CTEs):
    *  - words = lowercase [a-z]{1,16} whitespace tokens with counts
    *    (longer words are excluded from training — the max-length cap
    *    every SentencePiece deployment sets);
    *  - seed = every substring of length 1..4 weighted by word count;
    *    all single chars + the top `seedMulti` multi-char pieces by
    *    (total desc, piece asc); p = total / Σ selected totals;
    *  - E-step = per-word Viterbi under logp rounded to 6dp: dp[i] =
    *    max over piece length L=1..4 of round(dp[i−L] + logp, 6),
    *    backtrack choosing the SMALLEST L achieving dp[i];
    *  - M-step = piece count = Σ word-count over segmentation uses;
    *    single chars get a +1 Laplace floor (an unused char must keep
    *    non-zero mass or the next E-step loses reachability), unused
    *    multi-char pieces are pruned;
    *  - final = chars + top `keepMulti` multi by (cnt desc, piece
    *    asc), logp renormalized over the kept set.
    *
    * Scale shape: the corpus is touched ONCE (word counting); every
    * EM pass is a narrow per-WORD-VOCAB segmentation (the HOF DP is
    * interpreted, but runs over distinct words, not documents) plus
    * one piece-sized aggregation; the driver holds ≤ seedMulti + |Σ|
    * (piece, count) pairs — the bounded-literal contract the PQ
    * codebooks and BPE merge table already use.
    */
  def unigramTrain(docs: DataFrame, textCol: String, seedMulti: Int = 48,
                   keepMulti: Int = 24, emRounds: Int = 2): DataFrame = {
    require(seedMulti >= 1 && seedMulti <= 256, s"bad seedMulti $seedMulti")
    require(keepMulti >= 1 && keepMulti <= seedMulti, s"bad keepMulti $keepMulti")
    require(emRounds >= 1 && emRounds <= 4, s"bad emRounds $emRounds")
    val spark = docs.sparkSession
    import spark.implicits._
    val words = unigramWords(docs, textCol).localCheckpoint()
    val subTotals = words
      .select(explode(expr(
        """flatten(transform(sequence(1, length(word)), i ->
             transform(sequence(1, least(4, length(word) - i + 1)), L ->
               substring(word, i, L))))""")).as("piece"), col("cnt"))
      .groupBy("piece").agg(sum("cnt").as("total"))
      .localCheckpoint() // char + multi selections read it
    val chars = subTotals.filter(length(col("piece")) === 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val multi = subTotals.filter(length(col("piece")) > 1)
      .orderBy(col("total").desc, col("piece").asc).limit(seedMulti)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    require(chars.nonEmpty, "unigramTrain needs a non-empty corpus")
    val charSet = chars.map(_._1).sorted.toSeq
    var pieces: Seq[(String, Long)] = (chars ++ multi).toSeq
    for (_ <- 1 to emRounds) {
      val lp = typedlit(unigramLogp(pieces))
      val seg = words
        .withColumn("dp", unigramDp(col("word"), lp))
        .withColumn("ps", unigramWalk(col("word"), col("dp"), lp))
      val counts = seg
        .select(explode(col("ps")).as("piece"), col("cnt"))
        .groupBy("piece").agg(sum("cnt").as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      pieces = charSet.map(ch => (ch, counts.getOrElse(ch, 0L) + 1L)) ++
        pieces.filter(_._1.length > 1).flatMap { case (p, _) =>
          counts.get(p).filter(_ > 0).map(c => (p, c)) }
    }
    val kept: Seq[(String, Long)] = pieces.filter(_._1.length == 1) ++
      pieces.filter(_._1.length > 1)
        .sortBy { case (p, c) => (-c, p) }.take(keepMulti)
    val lpF = unigramLogp(kept)
    kept.map { case (p, c) => (p, c, lpF(p)) }
      .toDF("piece", "cnt", "logp")
      .orderBy("piece")
  }

  /** Encode through a TRAINED unigram vocab — training's inference
    * twin (q179's shape for the unigram family): per document, the
    * word count and the total Viterbi-segmentation piece count under
    * the given (piece, logp) table. Each DISTINCT word segments ONCE
    * (the DP runs over the vocab, never per occurrence), then a
    * broadcast join fans the per-word piece counts back to documents.
    */
  def unigramEncode(docs: DataFrame, idCol: String, textCol: String,
                    vocab: Seq[(String, Double)]): DataFrame = {
    require(vocab.nonEmpty && vocab.size <= 512,
      s"vocab size ${vocab.size} outside sane bounds")
    val lp = typedlit(vocab.toMap)
    val dw = Parallelism.ensure(docs)
      .select(col(idCol).as("doc_id"),
        explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .select(col("doc_id"), TextFunctions.lowerCase(col("tok")).as("word"))
      .filter(col("word").rlike("^[a-z]{1,16}$"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
      .localCheckpoint() // distinct-word DP + fan-back read it
    val sz = dw.select("word").distinct()
      .withColumn("dp", unigramDp(col("word"), lp))
      .select(col("word"),
        size(unigramWalk(col("word"), col("dp"), lp)).as("npw"))
    val perDoc = dw.join(broadcast(sz), "word")
      .groupBy("doc_id")
      .agg(sum("c").cast("int").as("n_words"),
        sum(col("c") * col("npw")).cast("int").as("n_pieces"))
    docs.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0)).as("n_words"),
        coalesce(col("n_pieces"), lit(0)).as("n_pieces"))
  }

  private def unigramWords(docs: DataFrame, textCol: String): DataFrame =
    Parallelism.ensure(docs)
      .select(explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .select(TextFunctions.lowerCase(col("tok")).as("word"))
      .filter(col("word").rlike("^[a-z]{1,16}$"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  private def unigramLogp(pieces: Seq[(String, Long)]): Map[String, Double] = {
    val tot = pieces.map(_._2).sum.toDouble
    pieces.map { case (p, c) =>
      p -> BigDecimal(math.log(c / tot))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
  }

  /** One Viterbi candidate: round(dp[i−L] + logp(word[i−L..i)), 6), or
    * −1e9 when the piece is unknown / L overruns the prefix. Shared by
    * the forward DP and the backtrack's argmax re-derivation so both
    * compare literally identical doubles.
    */
  private def unigramCand(w: Column, dp: Column, pos: Column, L: Int,
                          lp: Column): Column = {
    val piece = substr(w, pos - lit(L) + lit(1), lit(L))
    val plp = element_at(lp, piece)
    when(pos >= L && plp.isNotNull,
      round(element_at(dp, pos - lit(L) + lit(1)) + plp, 6))
      .otherwise(lit(-1e9))
  }

  /** Forward Viterbi scores as an array column: dp[0] = 0, dp[i] = max
    * over L of the rounded candidate — one interpreted HOF pass per
    * word, no joins, no shuffles (the piece table rides along as a
    * map literal).
    */
  private def unigramDp(w: Column, lp: Column): Column =
    aggregate(sequence(lit(1), length(w)),
      array(lit(0.0)),
      (acc, i) => concat(acc, array(greatest(
        unigramCand(w, acc, i, 1, lp), unigramCand(w, acc, i, 2, lp),
        unigramCand(w, acc, i, 3, lp), unigramCand(w, acc, i, 4, lp)))))

  /** Backtrack: walk from the end, choosing at each position the
    * SMALLEST piece length whose candidate equals the dp score (the
    * deterministic tie rule the oracle replays), emitting pieces
    * end-to-start (order is irrelevant — consumers count/explode).
    */
  private def unigramWalk(w: Column, dp: Column, lp: Column): Column =
    aggregate(sequence(lit(1), length(w)),
      struct(length(w).as("pos"),
        array().cast("array<string>").as("ps")),
      (st, _) => {
        val pos = st.getField("pos")
        val cur = element_at(dp, pos + lit(1))
        val chosen =
          when(unigramCand(w, dp, pos, 1, lp) === cur, lit(1))
            .when(unigramCand(w, dp, pos, 2, lp) === cur, lit(2))
            .when(unigramCand(w, dp, pos, 3, lp) === cur, lit(3))
            .otherwise(lit(4))
        when(pos <= 0, st).otherwise(struct(
          (pos - chosen).as("pos"),
          concat(st.getField("ps"),
            array(substr(w, pos - chosen + lit(1), chosen))).as("ps")))
      },
      st => st.getField("ps"))

  /** Per-domain quality quota (the C4/RefinedWeb curation move): keep at
    * most `cap` documents per `domainCol` value, ranked by `qualityCol`
    * descending with `idCol` as the deterministic tiebreak. Web corpora
    * are dominated by a few mega-domains; capping per-domain is how
    * production pipelines stop one site from owning the training mix.
    *
    * Scale shape: one hash partition per domain + a per-group rank that
    * Spark's WindowGroupLimit pushes below the final sort — each task
    * keeps only `cap` rows per domain before anything wide happens. A
    * pathologically hot domain is exactly the skew case
    * [[stratifiedTakeAgg]]'s bounded aggregator covers; this window form
    * is the readable default.
    */
  def domainCap(docs: DataFrame, domainCol: String, qualityCol: String,
                idCol: String, cap: Int): DataFrame = {
    require(cap >= 1, s"bad cap $cap")
    val w = Window.partitionBy(domainCol)
      .orderBy(col(qualityCol).desc, col(idCol).asc)
    Parallelism.ensure(docs)
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= cap)
  }

  /** Population stability index between a reference and a current
    * sample of `valueCol` — the industry-standard drift monitor for
    * quality-score and length distributions ([[sourceDivergence]] is
    * its per-term KL sibling). Fixed-width bins (deterministic edges —
    * no data-dependent quantiles), counts smoothed by +0.5 so empty
    * bins stay finite, PSI = Σ (p−q)·ln(p/q) over nBins+1 bins (the
    * last catches overflow ≥ nBins·binWidth).
    *
    * Scale shape: each side is one narrow bin projection + a tiny
    * (nBins-row) aggregation; the bin join is broadcast-sized by
    * construction. Emits one row per bin plus the PSI total on each —
    * the per-bin (p, q) breakdown is what a drift dashboard plots.
    */
  def psiDrift(ref: DataFrame, cur: DataFrame, valueCol: String,
               binWidth: Double, nBins: Int): DataFrame = {
    require(binWidth > 0 && nBins >= 1, s"bad bins $binWidth/$nBins")
    // Clamped on BOTH ends: bin nBins catches overflow (≥ nBins·width)
    // and bin 0 additionally absorbs underflow (negative values), so
    // every row lands on the 0..nBins spine — an unclamped negative bin
    // would silently vanish from the spine join while still inflating
    // the totals the smoothing divides by, understating PSI.
    def binned(df: DataFrame): DataFrame =
      Parallelism.ensure(df).select(
        greatest(least(floor(col(valueCol) / binWidth), lit(nBins)), lit(0))
          .cast("int").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n"))
    // Dense bin spine (0..nBins) so both sides report every bin even
    // when one side's count is zero — smoothing needs the empty rows.
    val spine = ref.sparkSession.range(0, nBins + 1)
      .select(col("id").cast("int").as("bin"))
    def share(df: DataFrame, name: String): DataFrame = {
      val tot = df.agg(sum("n").as("tot"))
      spine.join(df, Seq("bin"), "left")
        .select(col("bin"), coalesce(col("n"), lit(0L)).as("n"))
        .crossJoin(broadcast(tot))
        .select(col("bin"),
          ((col("n") + lit(0.5)) / (col("tot") + lit(0.5) * (nBins + 1)))
            .as(name))
    }
    val p = share(binned(ref), "p")
    val q = share(binned(cur), "q")
    val terms = p.join(q, "bin")
      .withColumn("term", (col("p") - col("q")) * log(col("p") / col("q")))
    val psi = terms.agg((round(sum("term"), 6) + lit(0.0)).as("psi"))
    terms.crossJoin(broadcast(psi))
      .select(col("bin"), (round(col("p"), 6) + lit(0.0)).as("p"),
        (round(col("q"), 6) + lit(0.0)).as("q"), col("psi"))
  }

  /** Skip-gram pair extraction — the word2vec training-data pass:
    * every (token, following-token-within-`window`) pair, counted over
    * the corpus, support floor applied. The k lead() branches share one
    * per-doc positional shuffle (identical subtrees ⇒ ReusedExchange);
    * the pair aggregation is the only other wide stage, with map-side
    * partial counts collapsing the heavy head of the Zipf curve before
    * the exchange.
    */
  def skipgramPairs(docs: DataFrame, idCol: String, textCol: String,
                    window: Int, minCount: Long): DataFrame = {
    require(window >= 1, s"bad window $window")
    val toks = Parallelism.ensure(docs)
      .select(col(idCol).as("doc_id"),
        posexplode(TextFunctions.tokens(col(textCol))).as(Seq("pos", "tok")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val pairs = (1 to window).map { k =>
      toks.select(col("tok").as("a"), lead(col("tok"), k).over(w).as("b"))
    }.reduce(_ unionAll _).filter(col("b").isNotNull)
    pairs.groupBy("a", "b").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
  }

  /** Contrastive batch construction — the data-prep step for
    * CLIP-style training where every batch member is every other
    * member's in-batch negative: a reproducible pseudo-random total
    * order ([[globalOrderIndex]]'s md5 rule, so batches are stable
    * across runs/engines/partitionings), cut into fixed `batchSize`
    * groups with within-batch positions. Composability is the point:
    * the order is established distributedly (range exchange +
    * zipWithIndex), never through one partition.
    */
  def contrastiveBatches(pairs: DataFrame, idCol: String,
                         batchSize: Int): DataFrame = {
    require(batchSize >= 2, s"bad batch size $batchSize")
    globalOrderIndex(pairs,
      Seq(md5(col(idCol).cast("string")), col(idCol)))
      .withColumn("batch_id", (col("pos") / batchSize).cast("long"))
      .withColumn("pos_in_batch", pmod(col("pos"), lit(batchSize)).cast("int"))
      .drop("pos")
  }

  /** Length-bucketed batching — the padding-minimizing batch layout:
    * documents bucketed by token-length band (`binTokens` wide), each
    * bucket cut into `batchSize` batches along the md5 pseudo-random
    * order. Batching similar lengths together is what keeps padding
    * waste down in training and dynamic batching; the md5 order keeps
    * batch membership reproducible. One shuffle on the bucket key +
    * per-bucket window.
    */
  def lengthBucketBatches(docs: DataFrame, idCol: String, textCol: String,
                          binTokens: Int, batchSize: Int): DataFrame = {
    require(binTokens >= 1 && batchSize >= 1, "bad bin/batch size")
    val w = Window.partitionBy("len_bin")
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    Parallelism.ensure(docs)
      .select(col(idCol).as("doc_id"),
        size(TextFunctions.tokens(col(textCol))).as("n_tokens"))
      .withColumn("len_bin", (col("n_tokens") / binTokens).cast("int"))
      .withColumn("_rn", row_number().over(w) - 1)
      .select(col("doc_id"), col("n_tokens"), col("len_bin"),
        (col("_rn") / batchSize).cast("int").as("batch_in_bin"),
        pmod(col("_rn"), lit(batchSize)).cast("int").as("pos_in_batch"))
  }

  /** Tokenizer fertility by language: tokens emitted per character —
    * the statistic multilingual-tokenizer audits track (a language with
    * high fertility pays more sequence length for the same text).
    * Exact integer token/char sums; one narrow pass + a |langs|-row
    * aggregation using the native codegen tokenizer.
    */
  def tokenFertility(docs: DataFrame, langCol: String,
                     textCol: String): DataFrame =
    Parallelism.ensure(docs)
      .select(col(langCol).as("lang"),
        size(TextFunctions.tokens(col(textCol))).cast("long").as("toks"),
        length(col(textCol)).cast("long").as("chars"))
      .groupBy("lang")
      .agg(sum("toks").as("n_tokens"), sum("chars").as("n_chars"),
        (round(sum("toks").cast("double") / sum("chars"), 6) + lit(0.0))
          .as("fertility"))

  /** Logistic-regression TRAINING by deterministic full-batch gradient
    * descent — the fastText-style quality/language classifier's
    * trainable core, expressed as the engine's own aggregation
    * primitive. Each of the FIXED `iterations` runs ONE aggregation
    * over the (checkpointed) feature frame: the mean logistic-loss
    * gradient avg(σ(w·x+b) − y) per coefficient, with the current
    * weights inlined as literals so the pass is a narrow codegen'd
    * projection + map-side-combined avg; the driver holds d+1 doubles
    * and applies w ← w − lr·g. No shuffle beyond the aggregation, no
    * per-row state, no randomness: zero-initialized weights and a
    * fixed iteration count make the trajectory a pure function of the
    * data, so a SQL oracle replays training as a chain of materialized
    * per-iteration CTEs (the [[Similarity.pcaProject]] doctrine —
    * identical arithmetic on both engines keeps FP drift far below
    * the output rounding).
    *
    * Scale: `iterations` passes over a d+1-column projection of the
    * corpus; at 100 TB the feature frame should be a materialized
    * narrow table, which is exactly what the checkpoint here pins.
    * Returns weights as [bias, w(featureCols…)].
    */
  def logisticRegression(features: DataFrame, labelCol: String,
                         featureCols: Seq[String], iterations: Int = 15,
                         lr: Double = 1.0): Array[Double] = {
    require(featureCols.nonEmpty, "need at least one feature column")
    require(iterations >= 1 && iterations <= 500,
      s"iterations $iterations outside sane bounds")
    val df = Parallelism.ensure(features)
      .select((labelCol +: featureCols).map(c => col(c).cast("double")): _*)
      .localCheckpoint()
    var w = Array.fill(featureCols.size + 1)(0.0)
    var it = 0
    while (it < iterations) {
      // σ via the logistic_score_native kernel (bit-identical to the
      // literal fold [[logisticScore]] — NativeExprSpec pins it): the
      // weights ride a reference object, not the generated source, so
      // every iteration's aggregation reuses ONE compiled codegen unit
      // instead of paying a fresh Janino compile per weight update
      // (q312's 40 iterations were analysis/codegen-bound).
      val err = graft.plans.NativeFunctions.call("logistic_score_native",
        (typedlit(w.toSeq) +: featureCols.map(col)): _*) - col(labelCol)
      val aggs = avg(err) +: featureCols.map(c => avg(err * col(c)))
      val row = df.agg(aggs.head, aggs.tail: _*).head()
      w = w.zipWithIndex.map { case (wi, i) => wi - lr * row.getDouble(i) }
      it += 1
    }
    w
  }

  /** σ(b + Σ wᵢ·xᵢ) as one codegen'd Column over trained `weights`
    * ([bias, then one per feature, matching [[logisticRegression]]'s
    * return) — scoring a 100 TB corpus is a narrow map, no join, the
    * weights ride inside the expression tree as literals.
    */
  def logisticScore(weights: Array[Double],
                    featureCols: Seq[String]): Column = {
    require(weights.length == featureCols.length + 1,
      s"${weights.length} weights for ${featureCols.length} features + bias")
    val z = featureCols.zipWithIndex.foldLeft(lit(weights(0))) {
      case (acc, (c, i)) => acc + col(c) * lit(weights(i + 1))
    }
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** Sentence segmentation — the granularity shift under sentence-level
    * dedup/scoring: split on terminal punctuation runs (`[.!?]+\s+`,
    * delimiter consumed — RE2-safe, so the DuckDB oracle runs the
    * IDENTICAL pattern), one output row per non-empty trimmed
    * sentence. `sent_id` is the 1-based split position (gap-tolerant
    * where empties are dropped): no window, no shuffle — scan →
    * split → posexplode → filter, entirely inside one narrow stage.
    */
  def splitSentences(docs: DataFrame, idCol: String,
                     textCol: String): DataFrame =
    Parallelism.ensure(docs)
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), "[.!?]+\\s+")))
      .select(col("doc_id"), (col("pos") + 1).cast("int").as("sent_id"),
        trim(col("col")).as("sentence"))
      .filter(col("sentence") =!= "")
      .withColumn("n_chars", length(col("sentence")).cast("int"))

  /** EXACT binary-classifier evaluation in one row — confusion counts
    * at `threshold`, precision/recall/F1, and tie-corrected exact AUC
    * (the Mann-Whitney identity): AUC = Σ over score groups of
    * n_pos(s)·(negatives below s + n_neg(s)/2) / (P·N) — a positive
    * beats every lower-scored negative and half of its ties.
    *
    * Scale shape: ONE aggregation collapses the corpus to its distinct
    * scores (bounded by the scoring rounding — 4dp ⇒ ≤ 10⁴ + 1 groups),
    * so the ordered prefix-sum window runs over the GROUP table, never
    * rows; the confusion counts ride the same pass. The single-
    * partition window is over a metadata-sized frame by construction.
    */
  def binaryMetrics(scored: DataFrame, labelCol: String, scoreCol: String,
                    threshold: Double): DataFrame = {
    val base = Parallelism.ensure(scored)
      .select(col(labelCol).cast("double").as("y"),
        col(scoreCol).cast("double").as("s"))
    val grp = base.groupBy("s").agg(
      sum("y").as("np"),
      (count(lit(1)).cast("double") - sum("y")).as("nn"))
    val w = Window.orderBy("s")
      .rowsBetween(Window.unboundedPreceding, -1)
    val aucNum = grp
      .withColumn("cumneg", coalesce(sum("nn").over(w), lit(0.0)))
      .agg(sum(col("np") * (col("cumneg") + col("nn") / 2.0)).as("num"))
    val hit = col("s") >= threshold
    val conf = base.agg(
      sum("y").as("p"),
      (count(lit(1)).cast("double") - sum("y")).as("n"),
      sum(when(hit, col("y")).otherwise(0.0)).as("tp"),
      sum(when(hit, lit(1.0) - col("y")).otherwise(0.0)).as("fp"),
      sum(when(!hit, col("y")).otherwise(0.0)).as("fn"),
      sum(when(!hit, lit(1.0) - col("y")).otherwise(0.0)).as("tn"))
    def r4(c: Column): Column = round(c, 4) + lit(0.0)
    conf.crossJoin(aucNum).select(
      col("p").cast("long").as("n_pos"), col("n").cast("long").as("n_neg"),
      col("tp").cast("long").as("tp"), col("fp").cast("long").as("fp"),
      col("fn").cast("long").as("fn"), col("tn").cast("long").as("tn"),
      r4(col("tp") / greatest(col("tp") + col("fp"), lit(1.0)))
        .as("prec"),
      r4(col("tp") / greatest(col("p"), lit(1.0))).as("rec"),
      r4(lit(2.0) * col("tp") /
        greatest(lit(2.0) * col("tp") + col("fp") + col("fn"), lit(1.0)))
        .as("f1"),
      r4(col("num") / greatest(col("p") * col("n"), lit(1.0))).as("auc"))
  }
}

/** Bounded k-best Aggregator: the buffer keeps the k smallest inputs
  * under `ord`, and both the partial (reduce) and merge paths trim to
  * k, so no buffer anywhere — executor, shuffle, or final — ever holds
  * more than k entries per group; `out` maps the final buffer. k is
  * tiny, so sort-and-take beats a heap on constant factors and stays
  * allocation-simple for the encoder. The buffer is kept sorted, so
  * the hot path (a row at or past the k-th entry of a full buffer, the
  * overwhelming majority of rows in a skewed group) is one comparison
  * and no allocation.
  */
final class BoundedKAggregator[IN, OUT](k: Int, ord: Ordering[IN],
                                        out: Seq[IN] => OUT)(
    implicit bufEnc: org.apache.spark.sql.Encoder[Seq[IN]],
    outEnc: org.apache.spark.sql.Encoder[OUT])
    extends org.apache.spark.sql.expressions.Aggregator[IN, Seq[IN], OUT] {

  private def trim(xs: Seq[IN]): Seq[IN] = xs.sorted(ord).take(k)

  override def zero: Seq[IN] = Seq.empty
  override def reduce(b: Seq[IN], a: IN): Seq[IN] =
    if (b.length >= k && ord.compare(a, b.last) >= 0) b
    else trim(b :+ a)
  override def merge(x: Seq[IN], y: Seq[IN]): Seq[IN] = trim(x ++ y)
  override def finish(r: Seq[IN]): OUT = out(r)
  override def bufferEncoder: org.apache.spark.sql.Encoder[Seq[IN]] = bufEnc
  override def outputEncoder: org.apache.spark.sql.Encoder[OUT] = outEnc
}

object BoundedKAggregator {
  import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

  // Terms compare as UNSIGNED UTF-8 BYTES — the order Spark's
  // UTF8String sort and DuckDB's binary string comparison share.
  // Scala's String ordering compares UTF-16 code units, which flips
  // supplementary-plane vs compatibility-range terms and would break
  // the "identical to the window sort / oracle" contract on ties.
  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** The k best (term, tf, tfidf) rows under (tfidf desc, term asc) —
    * [[Corpus.tfidfTopKAgg]] and [[Corpus.clusterTopTerms]].
    */
  def topTerms(k: Int): BoundedKAggregator[(String, Long, Double), Seq[(String, Long, Double)]] =
    new BoundedKAggregator[(String, Long, Double), Seq[(String, Long, Double)]](k,
      (p, q) => {
        val c = java.lang.Double.compare(q._3, p._3) // tfidf desc
        if (c != 0) c else utf8Compare(p._1, q._1) // term asc (utf-8)
      },
      identity)(ExpressionEncoder(), ExpressionEncoder())

  /** The ids of the k smallest (md5, id) pairs — the map-side buffer of
    * [[Corpus.stratifiedTakeAgg]]. The hex md5 is lowercase ASCII, so
    * Scala string comparison, UTF8String order, and DuckDB binary
    * collation all agree; ties (impossible for distinct ids, but
    * contractually) break on the id.
    */
  def minK(k: Int): BoundedKAggregator[(String, Long), Seq[Long]] =
    new BoundedKAggregator[(String, Long), Seq[Long]](k,
      (p, q) => {
        val c = p._1.compareTo(q._1) // ASCII hex: byte order == char order
        if (c != 0) c else java.lang.Long.compare(p._2, q._2)
      },
      _.map(_._2))(ExpressionEncoder(), ExpressionEncoder())
}
