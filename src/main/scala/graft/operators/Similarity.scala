package graft.operators

import graft.plans.NativeFunctions
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Scale design (100 TB / billions of vectors):
  *  - the dot product is a native codegen'd expression
  *    (plans.DotProductExpression — Catalyst HOFs are CodegenFallback,
  *    i.e. interpreted per element; the native kernel is one JIT-ed
  *    while-loop with the identical index-ordered double summation);
  *    norms are computed ONCE per vector before the pair join, not per
  *    pair;
  *  - brute force is quadratic and exists as the exactness baseline /
  *    re-rank stage; callers bound one side (the query set), and Spark
  *    broadcasts the smaller side;
  *  - the scale path is sign-bit LSH bucketing: vectors only meet within
  *    their bucket, turning O(n²) into O(Σ bucket²) with an equi-join
  *    shuffle on the bucket key. More bits → smaller buckets;
  *    [[Similarity.multiProbeAnnTopK]] adds Hamming-1 probes for recall.
  */
object Similarity {

  /** Index-ordered double-precision dot product of two array columns
    * (portable HOF form — composes anywhere, no registration needed).
    */
  def dot(x: Column, y: Column): Column =
    aggregate(
      zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Native codegen'd dot product (plans.DotProductExpression) —
    * bit-identical to [[dot]] but JIT-compiled instead of interpreted
    * per element (HOFs are CodegenFallback). The operators below use
    * this form: it is the O(n·dim) inner-loop kernel of every pairwise
    * stage.
    */
  private def dotN(x: Column, y: Column): Column =
    NativeFunctions.call("dot_native", x, y)

  /** Cosine similarity (use the norm-precomputing operators below for
    * anything pairwise — this recomputes norms per call).
    */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** `id`, `embedding`, the `keep` columns and the vector's `norm`,
    * computed once per vector before any pair join. The input is
    * spread to session parallelism first when it arrives with fewer
    * partitions ([[Parallelism.ensure]]): the non-equi pair joins
    * stream the probe side without a shuffle, so partition count IS
    * the parallelism of every per-row kernel downstream.
    */
  private def withNorm(df: DataFrame, keep: String*): DataFrame =
    Parallelism.ensure(df)
      .select((col("id") +: col("embedding") +: keep.map(col)) :+
        sqrt(dotN(col("embedding"), col("embedding"))).as("norm"): _*)

  /** The rounded (4 dp) cosine of two vectors with precomputed norms —
    * the score every pairwise stage ranks by. A zero norm has no
    * defined cosine: it scores null, which ranks last under the desc
    * ordering in both engines (and never reaches the division, which
    * Spark 4's ANSI mode fails with DIVIDE_BY_ZERO even for doubles).
    */
  private def cosCol(a: Column, b: Column, na: Column, nb: Column): Column =
    when(na * nb === 0d, lit(null))
      .otherwise(round(dotN(a, b) / (na * nb), 4))

  private val byCos = Seq(col("cos").desc, col("neighbor_id").asc)

  /** The one windowed cut: number the rows of each `by` group in
    * `order` into `rank` and keep the first `k`.
    */
  private def topK(rows: DataFrame, k: Int, by: String = "query_id",
                   order: Seq[Column] = byCos,
                   rank: String = "rank"): DataFrame =
    rows.withColumn(rank, row_number().over(
        Window.partitionBy(by).orderBy(order: _*)))
      .filter(col(rank) <= k)

  /** The pair scorer: (query_id, neighbor_id, cos) for the rows of two
    * bases (id, embedding, norm), aliased `q` and `c`, meeting on `on`.
    */
  private def scoredPairs(q: DataFrame, c: DataFrame, on: Column): DataFrame =
    q.as("q").join(c.as("c"), on)
      .select(col("q.id").as("query_id"), col("c.id").as("neighbor_id"),
        cosCol(col("q.embedding"), col("c.embedding"), col("q.norm"),
          col("c.norm")).as("cos"))

  /** Exact re-rank of a (query_id, neighbor_id) pair list: two
    * equi-joins back to the base `b` (id, embedding, norm and the
    * `carry` columns) and the rounded cosine. Each carried column `c`
    * comes back from both sides, as `qc` and `nc`.
    */
  private def rerank(pairs: DataFrame, b: DataFrame,
                     carry: String*): DataFrame = {
    def side(id: String, p: String) = b.select(col("id").as(id) +:
      col("embedding").as(s"${p}e") +: col("norm").as(s"${p}n") +:
      carry.map(c => col(c).as(p + c)): _*)
    pairs.join(side("query_id", "q"), "query_id")
      .join(side("neighbor_id", "n"), "neighbor_id")
      .select(col("query_id") +: col("neighbor_id") +:
        carry.flatMap(c => Seq(col("q" + c), col("n" + c))) :+
        cosCol(col("qe"), col("ne"), col("qn"), col("nn")).as("cos"): _*)
  }

  /** Exact top-k neighbors for every vector in `queries` against `corpus`
    * (both with columns id, embedding). Deterministic: ties broken by
    * neighbor id on the ROUNDED similarity.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    topK(scoredPairs(withNorm(queries), withNorm(corpus),
      col("q.id") =!= col("c.id")), k)

  /** nDCG@k — the retrieval-quality metric that, unlike recall, also
    * scores the ORDER of the returned neighbors: graded relevance
    * rel = k+1−true_rank for the ground truth's top-k, DCG over the
    * retrieved ranking's positions with the standard 1/log₂(pos+1)
    * discount, normalized by the ideal DCG. Both inputs are topK-shaped
    * frames (query_id, neighbor_id, rank); a retrieved neighbor
    * outside the truth's top-k scores 0.
    *
    * Scale shape: one equi-join on (query, neighbor) + a per-query
    * agg; log₂ is written as ln(x)/ln(2) so both engines evaluate the
    * identical expression tree (rounded at 4dp).
    */
  def ndcgAtK(retrieved: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"bad k $k")
    val rel = truth.select(col("query_id"), col("neighbor_id"),
      (lit(k + 1) - col("rank")).cast("double").as("rel"))
    val idcg = (1 to k).map(p =>
      (k + 1 - p).toDouble / (math.log(p + 1.0) / math.log(2.0))).sum
    retrieved.select(col("query_id"), col("neighbor_id"), col("rank"))
      .join(rel, Seq("query_id", "neighbor_id"), "left")
      .withColumn("term", coalesce(col("rel"), lit(0.0)) /
        (log(col("rank") + lit(1.0)) / log(lit(2.0))))
      .groupBy("query_id")
      .agg((round(sum("term") / idcg, 4) + lit(0.0)).as("ndcg"))
  }

  /** Sign-bit LSH bucket key: one '0'/'1' per leading dimension. */
  def signBucket(embedding: Column, bits: Int): Column =
    concat((1 to bits).map { i =>
      when(element_at(embedding, i) >= 0, "1").otherwise("0")
    }: _*)

  /** Approximate top-k: vectors compete only within their sign-bit
    * bucket (single probe table — recall < 1 by design).
    */
  def bucketedAnnTopK(vectors: DataFrame, k: Int, bits: Int = 4): DataFrame = {
    val b = withNorm(vectors)
      .withColumn("bucket", signBucket(col("embedding"), bits))
    topK(scoredPairs(b, b,
      col("q.bucket") === col("c.bucket") && col("q.id") =!= col("c.id")), k)
  }

  /** Multi-probe variant of [[bucketedAnnTopK]]: each query probes its
    * own sign bucket PLUS every bucket at Hamming distance 1 (one flipped
    * bit) — the standard recall fix for sign-bit LSH: a true neighbor
    * split from its query by a single low-confidence sign bit is found
    * again. Candidate volume grows by ≤ (bits+1)× while staying
    * O(Σ bucket²) — still an equi-join on the probe key, never all-pairs.
    */
  def multiProbeAnnTopK(vectors: DataFrame, k: Int, bits: Int = 4): DataFrame = {
    val b = withNorm(vectors)
      .withColumn("bucket", signBucket(col("embedding"), bits))
      .localCheckpoint() // both join sides read it; blocks GC with result
    def flip(i: Int): Column = concat(
      substring(col("bucket"), 1, i - 1),
      when(substring(col("bucket"), i, 1) === "1", "0").otherwise("1"),
      substring(col("bucket"), i + 1, bits - i))
    val probes = b.withColumn("probe",
      explode(array(col("bucket") +: (1 to bits).map(flip): _*)))
    topK(scoredPairs(probes, b,
      col("q.probe") === col("c.bucket") && col("q.id") =!= col("c.id")), k)
  }

  /** One sign-bucket key per hash table: table `t` reads the DISJOINT
    * dimension slice `[t*bits+1, (t+1)*bits]`, so the L tables are
    * independent hashes of the same vector (requires
    * `tables * bits <= dim`; dims beyond the vector length would degrade
    * to a constant '0' bit). Keys are prefixed with the table index so a
    * single equi-join column carries all L tables at once.
    */
  def tableKeys(embedding: Column, bits: Int, tables: Int): Column =
    array((0 until tables).map { t =>
      concat(lit(s"$t:") +: (1 to bits).map { i =>
        when(element_at(embedding, t * bits + i) >= 0, "1").otherwise("0")
      }: _*)
    }: _*)

  /** Table keys with the documented precondition enforced: a table
    * slice past the vector length would read null → a CONSTANT key
    * shared by every vector, silently degenerating that table's
    * equi-join to all-pairs. Checked IN-PASS (a lazy raise_error branch
    * on the keys column, so the first short vector fails the job with a
    * clear message) — a driver-side min(size) aggregate would be a
    * second full scan of the input just to validate a dimension.
    */
  private def tableKeysChecked(bits: Int, tables: Int): Column =
    when(size(col("embedding")) < tables * bits,
      raise_error(concat(
        lit(s"tables*bits = ${tables * bits} exceeds embedding dim "),
        size(col("embedding")).cast("string"),
        lit(" — excess tables would hash every vector to one constant bucket"))))
      .otherwise(tableKeys(col("embedding"), bits, tables))

  /** Distinct (query_id, neighbor_id) candidate pairs from a base
    * carrying a `keys` column: explode into a skinny
    * (id, tkey) probe table, self equi-join on tkey (never all-pairs),
    * distinct so a pair colliding in several tables downstream-scores
    * ONCE. The candidate stage of every multi-table funnel.
    */
  private def multiTableCandidates(b: DataFrame): DataFrame = {
    val probes = b.select(col("id"), explode(col("keys")).as("tkey"))
    probes.as("q")
      .join(probes.as("c"),
        col("q.tkey") === col("c.tkey") && col("q.id") =!= col("c.id"))
      .select(col("q.id").as("query_id"), col("c.id").as("neighbor_id"))
      .distinct()
  }

  /** Multi-TABLE ANN — the recall fix that multi-PROBE cannot deliver:
    * probing more buckets of ONE table only helps neighbors split by a
    * single low-confidence bit, while L independent tables give every
    * neighbor L independent chances to collide (miss probability decays
    * exponentially in L). Measured on the 64-dim fixture (q82):
    * single-table bits=4 recall 0.12, Hamming-1 multi-probe 0.47,
    * 16 disjoint-slice tables 0.92 — with candidate volume still 35%
    * BELOW brute force at n=500, and O(L · Σ bucket²) at scale.
    *
    * Plan shape: explode the L keys into a skinny (id, tkey) probe table,
    * self equi-join on tkey (never all-pairs), `distinct` the candidate
    * pairs so a pair colliding in several tables is scored ONCE, then two
    * equi-joins back to the checkpointed vectors for the native-dot
    * scoring pass.
    */
  def multiTableAnnTopK(vectors: DataFrame, k: Int, bits: Int = 4,
                        tables: Int = 16): DataFrame = {
    val b = withNorm(vectors)
      .withColumn("keys", tableKeysChecked(bits, tables))
      .localCheckpoint() // probe table + both scoring sides read it
    topK(rerank(multiTableCandidates(b), b), k)
  }

  /** Embedding-cosine NEAR-DUP pairs (the dedup-family member of the
    * similarity operators): sign-bucket candidate join — only vectors in
    * the same bucket meet, O(Σ bucket²) not O(n²) — then the cosine
    * threshold. Output (doc_a < doc_b, cos). Same recall caveat as
    * [[bucketedAnnTopK]]: a near-dup pair split by a sign bit is missed;
    * more bits ⇒ fewer candidates, multi-probe would raise recall.
    */
  def embeddingNearDupPairs(vectors: DataFrame, threshold: Double,
                            bits: Int = 4): DataFrame = {
    val b = withNorm(vectors)
      .withColumn("bucket", signBucket(col("embedding"), bits))
    scoredPairs(b, b,
        col("q.bucket") === col("c.bucket") && col("q.id") < col("c.id"))
      .select(col("query_id").as("doc_a"), col("neighbor_id").as("doc_b"),
        col("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Lloyd k-means over embeddings — the clustering stage behind
    * SemDeDup-style semantic dedup and IVF centroid training.
    *
    * Deterministic by construction so a second engine can replay it
    * bit-for-bit: seeds are the `k` lowest-id vectors, assignment is
    * argmax of the ROUNDED (4 dp) cosine with ties to the smaller
    * centroid id, and updated centroid dimensions are rounded to 6 dp —
    * quantizing away the ~1e-14 summation-order noise that would
    * otherwise make a mean of doubles engine-dependent.
    *
    * Scale shape (billions of vectors): the k×dim centroid table lives on
    * the DRIVER between iterations (k ≪ n — the same driver traffic Spark
    * MLlib's KMeans pays) and is baked into the assignment expression as
    * k literal arrays, so assignment is a NARROW per-row argmax — k
    * native dot products + one `array_max` over scored structs, ZERO
    * joins and ZERO shuffles over the vectors. The only exchange per
    * iteration is the centroid update: one posexplode + (cluster, dim)
    * hash aggregation with map-side partial means, whose final output is
    * just k×dim rows.
    */
  def kmeansAssign(vectors: DataFrame, k: Int, iters: Int = 2,
                   litMaxK: Int = 64,
                   sampledSeeding: Boolean = false): DataFrame = {
    val v = withNorm(vectors).localCheckpoint()

    // Narrow per-row argmax over driver-held centroids: each centroid
    // contributes struct(rc, -cid, cid); struct ordering is
    // lexicographic, so array_max picks the greatest ROUNDED cosine and
    // breaks ties toward the smaller centroid id — matching the oracle's
    // row_number(ORDER BY rc DESC, cid) exactly. No Exchange anywhere.
    //
    // Above `litMaxK` centroids the k inline literal expressions would
    // blow past the codegen 64 KB method limit, so the identical argmax
    // runs as ONE native expression (cosine_argmax_native) holding the
    // whole centroid table as three foldable literals — still a narrow
    // zero-Exchange map (the plan, centroids included, rides Spark's
    // task-binary broadcast), bit-for-bit the literal path's rounding
    // and tie-break (DedupSpec pins equality of the two paths).
    def assign(cent: Array[(Long, Array[Double], Double)]): DataFrame =
      if (cent.length <= litMaxK) {
        val scored = cent.map { case (cid, ce, cnorm) =>
          // A zero-norm centroid (or row) scores a null rc, which
          // sorts below every real score in the struct ordering;
          // all-null falls back to the smallest cid via the -cid
          // struct field — the kernel path mirrors both rules.
          struct(
            cosCol(col("embedding"), typedlit(ce.toSeq), col("norm"),
              lit(cnorm)).as("rc"),
            lit(-cid).as("negcid"), lit(cid).as("cid"))
        }
        v.withColumn("cluster", array_max(array(scored.toSeq: _*)).getField("cid"))
      } else {
        v.withColumn("cluster", NativeFunctions.call("cosine_argmax_native",
          col("embedding"), col("norm"),
          typedlit(cent.map(_._1).toSeq),
          typedlit(cent.map(_._2.toSeq).toSeq),
          typedlit(cent.map(_._3).toSeq)))
      }

    // default seeds = the ACTUAL k lowest-id vectors (not `id < k`,
    // which under-seeds on non-contiguous/non-zero-based ids — same
    // rule as pqPrepare); cids stay the real ids, so tie-breaks keep
    // their order. `sampledSeeding` swaps in the hash-sampled
    // farthest-point seeds (see [[sampledSeeds]]) behind the same
    // oracle-replayable contract.
    var cent: Array[(Long, Array[Double], Double)] =
      if (sampledSeeding) sampledSeeds(v, k)
      else v.orderBy(col("id")).limit(k)
        .select(col("id"), col("embedding").cast("array<double>"), col("norm"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
        .sortBy(_._1)
    require(cent.nonEmpty, "k-means needs a non-empty vector set")
    for (_ <- 1 to iters) {
      cent = meanVectors(assign(cent)
          .select(col("cluster"), posexplode(col("embedding")).as(Seq("dim", "x"))),
          "cluster")
        .collect()
        .map { r =>
          val ce = r.getSeq[Double](1).toArray
          // index-ordered sum — bit-identical to the dotN the old plan used
          (r.getLong(0), ce, math.sqrt(ce.foldLeft(0.0)((a, x) => a + x * x)))
        }
    }
    assign(cent).select(col("id").as("vec_id"), col("cluster"))
  }

  /** Per-group mean vectors from long-form (keys.., dim, x) rows as
    * (keys.., ce): each dimension's mean rounded to 6 dp, quantizing
    * away the summation-order noise that would make a mean of doubles
    * engine-dependent — the centroid update of k-means and PQ training.
    */
  private def meanVectors(long: DataFrame, keys: String*): DataFrame =
    long.groupBy((keys :+ "dim").map(col): _*)
      .agg(round(avg(col("x").cast("double")), 6).as("m"))
      .groupBy(keys.map(col): _*)
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
      .select(keys.map(col) :+ transform(col("dm"), e => e.getField("m")).as("ce"): _*)

  /** Production-quality DETERMINISTIC seeding (the k-means‖ recipe made
    * replayable): lowest-id seeding is deterministic but quality-poor
    * on real data — adjacent ids correlate (same crawl batch, same
    * shard), so the k lowest ids can all land in one region and Lloyd
    * needs many iterations to recover. This seeds like k-means‖
    * instead, with every source of randomness replaced by a hash:
    *
    *  1. SAMPLE: the `max(4k, 32)` vectors with the smallest
    *     `md5(id)` hex — a deterministic pseudo-random sample any
    *     engine reproduces with ORDER BY md5(cast(id as varchar)), id
    *     (zero-norm vectors excluded: no defined cosine).
    *  2. REFINE (farthest-point): seed 1 is the smallest-hash
    *     candidate; each next seed is the candidate MINIMIZING its
    *     maximum rounded-cosine similarity to the seeds chosen so far
    *     (= farthest under the cosine metric), ties to the smaller id.
    *
    * The candidate pool is O(k) rows — the collect is the same bounded
    * driver traffic as the centroid table itself; the refine loop is
    * O(k²·dim) driver arithmetic on that pool, microseconds at any
    * real k. SemDeDup quality at scale is seed-sensitive (q108's
    * motivation); q114 pins this path with a full hash oracle that
    * replays sample + refine + Lloyd in SQL.
    */
  private def sampledSeeds(v: DataFrame, k: Int): Array[(Long, Array[Double], Double)] = {
    val poolSize = math.max(4 * k, 32)
    val pool = v.filter(col("norm") =!= 0d)
      .withColumn("h", md5(col("id").cast("string")))
      .orderBy(col("h"), col("id"))
      .limit(poolSize)
      .select(col("id"), col("embedding").cast("array<double>"), col("norm"), col("h"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2), r.getString(3)))
    require(pool.nonEmpty, "k-means sampled seeding needs a non-zero-norm vector")
    def cos(a: (Long, Array[Double], Double, String),
            b: (Long, Array[Double], Double, String)): Double = {
      var acc = 0.0
      var i = 0
      while (i < a._2.length) { acc += a._2(i) * b._2(i); i += 1 }
      graft.plans.NativeVec.round4(acc / (a._3 * b._3))
    }
    val chosen = scala.collection.mutable.ArrayBuffer(pool.minBy(p => (p._4, p._1)))
    while (chosen.size < k && chosen.size < pool.length) {
      val next = pool.iterator
        .filterNot(p => chosen.exists(_._1 == p._1))
        .minBy(c => (chosen.iterator.map(s => cos(c, s)).max, c._1))
      chosen += next
    }
    chosen.map(c => (c._1, c._2, c._3)).sortBy(_._1).toArray
  }

  /** Binary (1-bit sign) quantization — the memory-extreme end of the
    * quantization ladder (float32 → int8 → PQ → binary): dim bits per
    * vector, packed into 32-bit blocks stored as longs (block values
    * stay in [0, 2³²) so no sign-bit arithmetic differs across
    * engines). A 64-dim float32 vector (256 B) becomes 8 B — the shape
    * billion-vector first-pass filters keep fully in memory. Narrow
    * per-row map, no shuffle; bit j of block b = sign(e[32b+j]) ≥ 0.
    * The pack loop is a native codegen'd expression
    * (plans.BinaryQuantizeExpression — the HOF form was nested
    * CodegenFallback lambdas, and packed a zero-length embedding into
    * two spurious blocks via sequence(0,-1)); a zero-length embedding
    * yields a zero-length codes array.
    */
  def binaryQuantize(vectors: DataFrame): DataFrame =
    vectors.select(col("id"),
      NativeFunctions.call("binary_quantize_native", col("embedding")).as("codes"))

  /** Native xor+popcount Hamming kernel over packed code arrays
    * (plans.HammingDistanceExpression — JIT-ed while-loop, not
    * interpreted per-block HOF dispatch).
    */
  private def hammingN(x: Column, y: Column): Column =
    NativeFunctions.call("hamming_native", x, y)

  /** Exact Hamming top-k in the binary code space: xor + bit_count per
    * 32-bit block, summed — pure integer arithmetic, so unlike every
    * cosine variant the distances (and the oracle hash) are exact with
    * no rounding contract. All-pairs over the 8-byte codes by design,
    * like [[int8TopK]]: the code-space scan IS the EXACTNESS BASELINE
    * (at 10⁹ vectors the codes table is ~8 GB — scanned, not shuffled,
    * but still n² pair evaluations); [[binaryPrefilterTopK]] is the
    * composed production path that gates these distances with ANN
    * candidates instead. Ties break (distance asc, neighbor_id asc).
    */
  def hammingTopK(vectors: DataFrame, k: Int): DataFrame = {
    val v = Parallelism.ensure(binaryQuantize(vectors))
    val pairs = v.as("q")
      .join(v.as("c"), col("q.id") =!= col("c.id"))
      .select(col("q.id").as("query_id"), col("c.id").as("neighbor_id"),
        hammingN(col("q.codes"), col("c.codes")).as("hamming"))
    topK(pairs, k, order = byHamming)
  }

  private val byHamming = Seq(col("hamming").asc, col("neighbor_id").asc)

  /** Candidate-gated binary search — the composed production shape for
    * the 1-bit rung, mirroring [[pqRerankTopK]]'s funnel: multi-table
    * ANN candidates (equi-join on table keys, never all-pairs) →
    * cheap native-Hamming pruning over the 8-byte codes down to a
    * `shortlist` per query → exact float cosine re-rank of the
    * shortlist only. At 10⁹ vectors every stage is an equi-join or a
    * narrow map: candidate volume is O(L · Σ bucket²), Hamming scores
    * 8-byte codes (not 256-byte floats), and the expensive exact
    * cosines touch shortlist·n pairs instead of n² — the published
    * billion-scale recipe (binary prefilter + re-rank) the quantization
    * ladder exists for. q82's binary_prefilter row measures the
    * composed recall against the exact baseline: on the random-gaussian
    * 64-dim fixture (the 1-bit code's information-bound WORST case, same
    * story as pq_adc's 0.14) the 16-table candidate stage alone ceilings
    * at 0.912 recall (~322 candidates/query), and the Hamming prefilter
    * retains 0.768/0.836/0.886 of the exact top-3 at shortlist
    * 64/96/160 — 97% of the candidate-stage ceiling while exact-scoring
    * half the candidate volume; structured embeddings separate far
    * better in Hamming space and need smaller shortlists.
    */
  def binaryPrefilterTopK(vectors: DataFrame, k: Int, shortlist: Int = 64,
                          bits: Int = 4, tables: Int = 16): DataFrame = {
    // one checkpointed base read three ways: exploded table keys feed
    // the candidate join, packed codes feed the Hamming prefilter, and
    // the float embedding+norm feed the exact re-rank
    val b = withNorm(vectors)
      .withColumn("keys", tableKeysChecked(bits, tables))
      .withColumn("codes",
        NativeFunctions.call("binary_quantize_native", col("embedding")))
      .localCheckpoint()
    val ham = multiTableCandidates(b)
      .join(b.select(col("id").as("query_id"), col("codes").as("qc")),
        "query_id")
      .join(b.select(col("id").as("neighbor_id"), col("codes").as("cc")),
        "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        hammingN(col("qc"), col("cc")).as("hamming"))
    val short = topK(ham, shortlist, order = byHamming, rank = "hrank")
      .select("query_id", "neighbor_id")
    topK(rerank(short, b), k)
  }

  /** SemDeDup-style semantic deduplication (the published recipe:
    * k-means the embeddings, then prune near-identical pairs WITHIN each
    * cluster): vectors cluster via [[kmeansAssign]] (deterministic — a
    * second engine replays it bit-for-bit), within-cluster pairs score
    * rounded cosine, and for every pair ≥ `threshold` the LARGER id is
    * marked removed (deterministic keeper rule). Output: one row per
    * vector — (vec_id, cluster, removed).
    *
    * Scale shape: the pairwise stage is a cluster-key equi-join, never
    * an n² cross — O(Σ c²) within clusters, which is the technique's own
    * working set (k grows with the corpus to bound c). Zero-norm vectors
    * have no defined cosine → null → never removed (same guard as
    * kmeansAssign / int8TopK).
    */
  def semDedup(vectors: DataFrame, k: Int, iters: Int = 2,
               threshold: Double = 0.4,
               sampledSeeding: Boolean = false): DataFrame = {
    val assigned = kmeansAssign(vectors, k, iters,
      sampledSeeding = sampledSeeding)
    val b = withNorm(vectors)
      .join(assigned, col("id") === col("vec_id"))
      .select(col("id"), col("embedding"), col("norm"), col("cluster"))
    val removed = scoredPairs(b, b,
        col("q.cluster") === col("c.cluster") && col("q.id") < col("c.id"))
      .filter(col("cos") >= threshold)
      .select(col("neighbor_id").as("vec_id")).distinct()
      .withColumn("removed", lit(true))
    assigned.join(removed, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("removed"), lit(false)).as("removed"))
  }

  /** Symmetric per-vector int8 scalar quantization — the memory lever of
    * billion-vector search: 64-dim float32 (256 B) becomes 64 int8 codes
    * + one scale (65 B), a 4× cut in what the pairwise stages shuffle,
    * cache, and broadcast. codes[i] = round(x_i / scale), scale =
    * max|x| / 127 (an all-zero vector quantizes to all-zero codes).
    * Every step is a deterministic IEEE double op, so a second engine
    * reproduces the codes BIT-FOR-BIT — quantization is oracle-checkable,
    * unlike trained codebooks. Narrow per-row projection, no shuffle.
    * (At production scale the amax/transform pair would fuse into one
    * native expression pass; the HOF form here keeps the algebra
    * visible and identical to the oracle's.)
    */
  def quantizeInt8(vectors: DataFrame): DataFrame =
    vectors
      .select(col("id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("amax", array_max(transform(col("e"), x => abs(x))))
      // internal name `scl` ≠ output name `scale`: a same-select lateral
      // column alias would otherwise resolve the lambda's divisor to the
      // ROUNDED output scale and shift codes on .5 boundaries
      .select(col("id"), col("e"), col("amax"),
        (col("amax") / 127.0).as("scl"))
      .select(col("id"), round(col("scl"), 6).as("scale"),
        when(col("amax") === 0d,
          transform(col("e"), _ => lit(0)))
          .otherwise(transform(col("e"), x => round(x / col("scl")).cast("int")))
          .as("codes"))

  /** Exact top-k in the QUANTIZED space: cosine over int8 codes. The
    * per-vector scales cancel out of the cosine (cos(s_a·a, s_b·b) =
    * cos(a, b)), and an int8 dot product at dim ≤ 2¹⁴ stays inside the
    * exact-integer range of a double — so the scores are pure integer
    * arithmetic + one sqrt/divide, bit-reproducible across engines, and
    * the representation error vs float cosine is measurable (compare
    * against [[bruteForceTopK]]). All-pairs like the float baseline —
    * the EXACTNESS BASELINE of the int8 space; the composed production
    * path is [[int8PrefilterTopK]] (multi-table ANN candidates scored
    * with exactly this expression, never n²).
    */
  def int8TopK(vectors: DataFrame, k: Int): DataFrame = {
    // a zero vector quantizes to all-zero codes: cosCol's null
    val v = withNorm(int8Embedding(vectors))
    topK(scoredPairs(v, v, col("q.id") =!= col("c.id")), k)
  }

  /** The int8 codes as the `embedding` the cosine stages score. */
  private def int8Embedding(vectors: DataFrame): DataFrame =
    quantizeInt8(vectors)
      .select(col("id"), col("codes").cast("array<double>").as("embedding"))

  /** Candidate-gated int8 search — the composed production shape for
    * the int8 rung, closing the same gap [[binaryPrefilterTopK]] closes
    * for binary codes: multi-table ANN candidates (equi-join, never
    * all-pairs), scored entirely in the QUANTIZED int8 space (the
    * 4×-smaller representation is what the scoring stage reads — at
    * 10⁹ vectors that is the difference between a 256 GB and a 1 TB
    * working set), ranked by the rounded int8 cosine with the same
    * zero-norm guard and tie rules as [[int8TopK]]. Exactly int8TopK's
    * scores on exactly the candidate pairs — so recall is bounded by
    * the candidate stage and the scoring error by the measured
    * int8-vs-float gap, both already quantified (q82's multitable row,
    * q91 vs q36).
    */
  def int8PrefilterTopK(vectors: DataFrame, k: Int, bits: Int = 4,
                        tables: Int = 16): DataFrame = {
    // one checkpointed base: the float embedding builds the table
    // keys, the int8 codes (+ their norm) carry the scoring
    val b = withNorm(vectors)
      .select(col("id"), tableKeysChecked(bits, tables).as("keys"))
      .join(int8Embedding(vectors), "id")
      .withColumn("norm", sqrt(dotN(col("embedding"), col("embedding"))))
      .localCheckpoint()
    topK(rerank(multiTableCandidates(b), b), k)
  }

  // ---------- Product quantization (PQ) ----------

  /** Per-subspace codebook: (cid, centroid, ||centroid||²). Missing cids
    * (emptied clusters) simply drop out, as in [[kmeansAssign]].
    */
  private[graft] type Codebook = Array[(Long, Array[Double], Double)]

  /** Internal: base projection with per-subspace slices `sub_s` and
    * squared norms `nv_s` (computed once, checkpointed — every training
    * iteration and the scoring pass re-reads it). Vectors are
    * L2-NORMALIZED first — cosine-metric PQ: on unit vectors
    * ‖a−b‖² = 2 − 2·cos(a,b), so ADC's L2 ranking is the cosine ranking
    * and recall against the cosine baseline measures pure quantization
    * loss, not a metric mismatch (the normalize-then-L2 recipe FAISS
    * uses for inner-product metrics). A zero vector stays unnormalized.
    */
  private def pqBase(vectors: DataFrame, m: Int, dsub: Int): DataFrame = {
    val subs = (0 until m).map(s =>
      slice(col("e"), s * dsub + 1, dsub).as(s"sub$s"))
    val nvs = (0 until m).map(s => dotN(col(s"sub$s"), col(s"sub$s")).as(s"nv$s"))
    Parallelism.ensure(vectors)
      .select(col("id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("nrm", sqrt(dotN(col("e"), col("e"))))
      .select(col("id"),
        when(col("nrm") === 0d, col("e"))
          .otherwise(transform(col("e"), x => x / col("nrm"))).as("e"))
      .select(col("id") +: subs: _*)
      .select(col("id") +: (0 until m).map(s => col(s"sub$s")) ++: nvs: _*)
      .localCheckpoint()
  }

  /** Narrow per-row argmin over the subspace codebook: squared L2 via
    * the dot identity ‖v−c‖² = ‖v‖² + ‖c‖² − 2·v·c, ROUNDED to 4 dp with
    * ties to the smaller cid (the exact mirror of the oracle's
    * row_number ORDER BY dist, cid). Zero joins, zero shuffles.
    *
    * Runs as ONE native expression (l2_argmin_native) holding the whole
    * codebook — the literal struct-max form ([[pqAssignLit]]) is
    * semantically identical but inlines m·ksub struct/round/dot nodes
    * into a single projection, and its ANALYSIS + CODEGEN cost measured
    * dominant in the composed funnel (pqEncode ≈8 s on 2 000 rows,
    * nearly all plan compilation — BASELINE.md, Round-7 funnel probe).
    * DedupSpec pins the two paths equal row-for-row on fixed books.
    */
  private def pqAssign(s: Int, cents: Codebook): Column =
    NativeFunctions.call("l2_argmin_native", col(s"sub$s"), col(s"nv$s"),
      typedlit(cents.map(_._1).toSeq),
      typedlit(cents.map(_._2.toSeq).toSeq),
      typedlit(cents.map(_._3).toSeq))

  /** The literal struct-max form of [[pqAssign]] — kept as the
    * executable specification the native kernel is tested against
    * (same doctrine as kmeansAssign's litMaxK dual path).
    */
  private[operators] def pqAssignLit(s: Int, cents: Codebook): Column = {
    val scored = cents.map { case (cid, ce, nc) =>
      struct(
        (-round(col(s"nv$s") + lit(nc) - lit(2.0) * dotN(col(s"sub$s"),
          typedlit(ce.toSeq)), 4)).as("nd"),
        lit(-cid).as("negcid"), lit(cid).as("cid"))
    }
    array_max(array(scored.toSeq: _*)).getField("cid")
  }

  /** Train per-subspace PQ codebooks with deterministic Lloyd iterations
    * (seeds = the `ksub` lowest-id vectors' sub-slices; every rounding
    * rule matches [[kmeansAssign]] so a second engine replays training
    * bit-for-bit). Codebooks live on the driver — m·ksub·dsub doubles,
    * KBs — exactly like the k-means centroid table; each iteration is
    * one narrow m-way argmin pass plus ONE long-form (subspace, cluster,
    * dim) mean aggregation with map-side partials.
    */
  def pqTrainCodebooks(vectors: DataFrame, m: Int = 8, ksub: Int = 16,
                       iters: Int = 1): Array[Codebook] =
    pqPrepare(vectors, m, ksub, iters)._2

  /** Build the checkpointed base ONCE and train on it — encode/score
    * callers reuse the same base instead of paying the normalize+slice
    * pass and a second checkpoint.
    */
  private def pqPrepare(vectors: DataFrame, m: Int, ksub: Int,
                        iters: Int): (DataFrame, Array[Codebook], Int) = {
    val dim = vectors.select(size(col("embedding"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val base = pqBase(vectors, m, dsub)
    var books: Array[Codebook] = {
      // the ACTUAL ksub lowest-id vectors — not `id < ksub`, which
      // silently under-seeds (or empties) on non-contiguous/non-zero-based
      // ids — with cids re-indexed densely 0..|seeds|-1 by id rank:
      // pqAdcTopK's cid-indexed lookup literals and the SQL oracle's
      // row_number()-1 seed cids both rely on dense cids
      val seeds = base.orderBy(col("id")).limit(ksub)
        .select(col("id") +: (0 until m).map(s => col(s"sub$s")): _*)
        .collect()
        .sortBy(_.getLong(0))
      require(seeds.nonEmpty, "PQ training needs a non-empty vector set")
      (0 until m).map { s =>
        seeds.zipWithIndex.map { case (r, cid) =>
          bookEntry(cid.toLong, r.getSeq[Double](1 + s))
        }: Codebook
      }.toArray
    }
    for (_ <- 1 to iters) {
      // ONE pass over the vectors: m argmins + a single posexplode of
      // the re-concatenated vector, with (subspace, within-dim, cluster)
      // derived from the flat position — not m unioned scans.
      val asg = base.select(
        concat((0 until m).map(s => col(s"sub$s")): _*).as("full"),
        array((0 until m).map(s => pqAssign(s, books(s))): _*).as("asgs"))
      val longForm = asg
        .select(col("asgs"), posexplode(col("full")).as(Seq("fdim", "x")))
        .select((col("fdim") / dsub).cast("int").as("s"),
          element_at(col("asgs"), (col("fdim") / dsub).cast("int") + 1).as("cluster"),
          (col("fdim") % dsub).as("dim"), col("x"))
      books = booksOf(meanVectors(longForm, "s", "cluster").collect(), m)
    }
    (base, books, dsub)
  }

  private def bookEntry(cid: Long, ce: Seq[Double]) =
    (cid, ce.toArray, ce.foldLeft(0.0)((a, x) => a + x * x))

  /** Per-subspace codebooks from long-form (s, cid, ce) rows. */
  private def booksOf(rows: Array[Row], m: Int): Array[Codebook] =
    (0 until m).map { s =>
      rows.filter(_.getInt(0) == s)
        .map(r => bookEntry(r.getLong(1), r.getSeq[Double](2)))
        .sortBy(_._1): Codebook
    }.toArray

  /** The vectors' PQ codes: (id, a0..a{m-1}). */
  private def pqCodes(base: DataFrame, books: Array[Codebook]): DataFrame =
    base.select(col("id") +:
      books.indices.map(s => pqAssign(s, books(s)).as(s"a$s")): _*)

  /** Encode against FIXED codebooks through either assignment path —
    * the parity harness for the native kernel (DedupSpec pins
    * native == literal row-for-row on the same books).
    */
  private[graft] def pqEncodeWith(vectors: DataFrame, books: Array[Codebook],
                                  m: Int, useLit: Boolean): DataFrame = {
    val dim = vectors.select(size(col("embedding"))).head().getInt(0)
    val base = pqBase(vectors, m, dim / m)
    val assign: (Int, Codebook) => Column =
      if (useLit) pqAssignLit else pqAssign
    base.select(col("id"),
      posexplode(array((0 until m).map(s => assign(s, books(s))): _*))
        .as(Seq("subspace", "code")))
  }

  /** PQ encoding: each vector becomes m small codes (one centroid id per
    * subspace) — 64 float32 dims collapse to 8 codes, the 32× memory
    * lever of billion-vector indexes (FAISS's IVF-PQ storage layout).
    * Output long form (id, subspace, code); encoding is a narrow
    * zero-shuffle argmin pass per subspace.
    */
  def pqEncode(vectors: DataFrame, m: Int = 8, ksub: Int = 16,
               iters: Int = 1): DataFrame = {
    val (base, books, _) = pqPrepare(vectors, m, ksub, iters)
    pqCodes(base, books).select(col("id"),
      posexplode(array((0 until m).map(s => col(s"a$s")): _*))
        .as(Seq("subspace", "code")))
      .select(col("id"), col("subspace").cast("int").as("subspace"),
        col("code"))
  }

  /** Per-subspace ADC distance terms against cid-indexed lookup
    * literals (`element_at` on a driver-held array — a per-row lookup,
    * no join to any codebook table). Emptied cids keep a zero-vector
    * slot that no code can reference. References `qnv$s`/`qsub$s` on
    * the query side and `a$s` codes on the corpus side.
    */
  private def adcTerms(books: Array[Codebook], m: Int, ksub: Int,
                       dsub: Int): Seq[Column] = {
    val (ceTable, ncTable) = adcTables(books, m, ksub, dsub)
    (0 until m).map { s =>
      val ce = element_at(typedlit(ceTable(s)), col(s"a$s").cast("int") + 1)
      val nc = element_at(typedlit(ncTable(s)), col(s"a$s").cast("int") + 1)
      col(s"qnv$s") + nc - lit(2.0) * dotN(col(s"qsub$s"), ce)
    }
  }

  /** Per subspace, the cid-indexed centroid and squared-norm tables. */
  private def adcTables(books: Array[Codebook], m: Int, ksub: Int, dsub: Int)
      : (Seq[Seq[Seq[Double]]], Seq[Seq[Double]]) =
    (0 until m).map { s =>
      val ce = Array.fill(ksub)(Seq.fill(dsub)(0.0))
      val nc = Array.fill(ksub)(0.0)
      books(s).foreach { case (cid, cev, ncv) =>
        ce(cid.toInt) = cev.toSeq; nc(cid.toInt) = ncv
      }
      (ce.toSeq, nc.toSeq)
    }.unzip

  /** The m-term ADC sum as ONE native kernel call (adc_sum_native) —
    * bit-identical to `adcTerms(...).reduce(_ + _)` (same left-to-right
    * term accumulation, same dot order; DedupSpec pins the two paths
    * equal through the full pqAdcTopK funnel). The literal form inlines
    * m×(2 nested-literal element_at + a dot) per candidate pair — the
    * hottest per-pair expression of the IVF funnel (Σ|cell|²
    * evaluations); the kernel is one call with primitive loops over a
    * driver-held table riding `references[]`, so the scoring
    * projection's generated code is also m× smaller.
    */
  private def adcSum(books: Array[Codebook], m: Int, ksub: Int,
                     dsub: Int): Column = {
    val (ce, nc) = adcTables(books, m, ksub, dsub)
    val args = Seq(typedlit(ce), typedlit(nc)) ++
      (0 until m).map(s => col(s"a$s").cast("long")) ++
      (0 until m).map(s => col(s"qsub$s")) ++
      (0 until m).map(s => col(s"qnv$s"))
    NativeFunctions.call("adc_sum_native", args: _*)
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: the query keeps its
    * exact sub-vectors, the corpus side is REPRESENTED BY ITS CODES —
    * distance ≈ Σ_s ‖q_s − centroid(code_s)‖², each term via the dot
    * identity against a driver-held codebook literal (`element_at` on a
    * cid-indexed lookup array — a per-row lookup, no join to any
    * codebook table). Terms sum in subspace order, rounded once at the
    * end; rank ascending with ties to the smaller neighbor id.
    *
    * All-pairs here (the flat-PQ exactness baseline, like
    * [[bruteForceTopK]] for floats); the scale path gates pairs with the
    * IVF cell equi-join of [[ivfTopK]] and scores survivors with this
    * expression.
    */
  def pqAdcTopK(vectors: DataFrame, k: Int, m: Int = 8, ksub: Int = 16,
                iters: Int = 1): DataFrame =
    pqAdcTopKWith(vectors, k, m, ksub, iters, useLitTerms = false)

  /** The ADC distance through the kernel or the literal terms — the
    * parity harness the ADC specs compare the two paths through.
    */
  private[graft] def adcDistance(books: Array[Codebook], m: Int, ksub: Int,
                                 dsub: Int, useLitTerms: Boolean): Column =
    if (useLitTerms) adcTerms(books, m, ksub, dsub).reduce(_ + _)
    else adcSum(books, m, ksub, dsub)

  /** ADC top-k through either distance path — the parity harness for
    * the adc_sum_native kernel (DedupSpec pins kernel == literal terms
    * row-for-row through the full funnel, the pqEncodeWith doctrine).
    */
  private[graft] def pqAdcTopKWith(vectors: DataFrame, k: Int, m: Int,
                                   ksub: Int, iters: Int,
                                   useLitTerms: Boolean): DataFrame = {
    val (base, books, dsub) = pqPrepare(vectors, m, ksub, iters)
    val c = pqCodes(base, books).withColumnRenamed("id", "neighbor_id")
    val pairs = adcQuery(base, m).join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(adcDistance(books, m, ksub, dsub, useLitTerms), 4).as("adist"))
    topK(pairs, k, order = byAdist)
  }

  private val byAdist = Seq(col("adist").asc, col("neighbor_id").asc)

  /** The ADC query side: (query_id, qsub_s, qnv_s) plus `extra`. */
  private def adcQuery(base: DataFrame, m: Int, extra: Column*): DataFrame =
    base.select(col("id").as("query_id") +: extra ++:
      (0 until m).flatMap(s => Seq(col(s"sub$s").as(s"qsub$s"),
        col(s"nv$s").as(s"qnv$s"))): _*)

  /** ADC shortlist → exact re-rank: the production PQ search shape.
    * Codes alone cannot separate the top-3 of unstructured data (q82
    * measures ADC-only top-3 recall 0.15 on the random-gaussian fixture
    * — 32-bit sketches of 64-dim noise are information-bound), so the
    * codes do what they are good at: CHEAP PRUNING to a `shortlist`
    * per query, and the float vectors are only touched for the
    * shortlist — two equi-joins and shortlist·n exact cosines instead
    * of n². q82's pq_rerank row measures the composed recall: 0.93 at
    * shortlist=160 on the fixture (0.74/0.89 at 64/128 — the knob
    * trades re-rank work for recall; gaussian noise is PQ's worst case,
    * structured embeddings need far smaller shortlists).
    */
  def pqRerankTopK(vectors: DataFrame, k: Int, shortlist: Int = 64,
                   m: Int = 8, ksub: Int = 16, iters: Int = 1): DataFrame = {
    val short = pqAdcTopK(vectors, shortlist, m, ksub, iters)
      .select("query_id", "neighbor_id")
    val v = withNorm(vectors).localCheckpoint() // both re-rank sides read it
    topK(rerank(short, v), k)
  }

  /** IVF-style ANN: a coarse quantizer assigns every vector to its
    * nearest centroid's cell; queries probe ONLY their own cell —
    * O(Σ cell²) work, one equi-join shuffle on the cell id, the inverted-
    * file shape FAISS-style systems use.
    *
    * Centroids here are the `nCells` lowest-id vectors — deterministic so
    * the DuckDB oracle can re-derive the exact assignment (production
    * would plug k-means|| centroids into the same plumbing; the
    * assignment broadcast + cell equi-join IS the scale architecture,
    * the centroid source is a parameter). Assignment ties break toward
    * the smaller centroid id on the ROUNDED cosine.
    */
  def ivfTopK(vectors: DataFrame, k: Int, nCells: Int = 8): DataFrame = {
    val v = withNorm(vectors)
    val b = v.join(ivfProbes(v, ivfSeedCells(v, nCells), 1), "id")
    topK(scoredPairs(b, b,
      col("q.cell") === col("c.cell") && col("q.id") =!= col("c.id")), k)
  }

  /** The coarse quantizer: the `nCells` lowest-id vectors (not
    * `id < nCells` — see kmeansAssign) as the (cid, ce, cnorm) table.
    */
  private def ivfSeedCells(v: DataFrame, nCells: Int): DataFrame =
    v.orderBy(col("id")).limit(nCells)
      .select(col("id").as("cid"), col("embedding").as("ce"),
        col("norm").as("cnorm"))

  /** Each vector's `nProbe` nearest cells by rounded cosine, ties to
    * the smaller cid, as (id, cell, crn) — crn 1 is the home cell. The
    * tiny centroid table (cid, ce, cnorm) is broadcast to every task:
    * no shuffle to assign.
    */
  private def ivfProbes(v: DataFrame, cent: DataFrame,
                        nProbe: Int): DataFrame =
    topK(v.crossJoin(broadcast(cent)).withColumn("rc",
        cosCol(col("embedding"), col("ce"), col("norm"), col("cnorm"))),
      nProbe, by = "id", order = Seq(col("rc").desc, col("cid").asc),
      rank = "crn")
      .select(col("id"), col("cid").as("cell"), col("crn"))

  /** IVF-ADC with exact re-rank — THE billion-scale composition (the
    * FAISS IVFADC recipe): the coarse quantizer bounds WHO is compared
    * (one equi-join on the cell id — Σ|cell|² candidate pairs, never
    * n²), PQ codes bound WHAT EACH COMPARISON COSTS (ADC over m small
    * codes against driver-held lookup literals — no float vectors, no
    * codebook join), and the full-precision vectors are touched only
    * for the final `shortlist` exact re-rank per query. Every stage is
    * an equi-join or a narrow projection; the quantization ladder's
    * three rungs (coarse cells, PQ codes, floats) each do exactly the
    * work they are cheapest at. `nProbe` is the recall/cost knob every
    * IVF system exposes: queries probe their nProbe nearest cells
    * (corpus vectors keep one home cell, so candidate pairs stay
    * unique and candidate volume scales linearly in nProbe).
    *
    * Same deterministic contracts as the parts it composes ([[ivfTopK]]
    * cells, [[pqAdcTopK]] ADC terms and ordering, [[pqRerankTopK]]
    * re-rank), so the DuckDB oracle replays the full funnel stage by
    * stage (q128).
    *
    * Defaults are MEASURED, not guessed (the recall sweep in BASELINE.md,
    * Round-8 ANN recall curves): on the gaussian worst case — random
    * vectors give the coarse quantizer almost no locality signal —
    * (nCells=16, nProbe=12, shortlist=256) is the cheapest sweep point
    * clearing 0.9 top-3 recall (0.91 at sf0.01; the old r7 default
    * nProbe=4/8, shortlist=64 measured 0.64). The probe fraction is high BECAUSE
    * the fixture is adversarial: clustered real embeddings concentrate
    * neighbors in few cells and want nProbe well under nCells — sweep
    * on a sample before trusting any smaller setting, and treat
    * low-probe configurations as coarse prefilters, not retrieval.
    */
  def ivfAdcRerankTopK(vectors: DataFrame, k: Int, nCells: Int = 16,
                       nProbe: Int = 12, shortlist: Int = 256, m: Int = 8,
                       ksub: Int = 16, iters: Int = 1): DataFrame = {
    // The coarse probe-assignment chain (v → probes) and PQ training
    // are INDEPENDENT lineages over `vectors` — overlap them as
    // concurrent jobs (guide §2.6).
    val par0 = Parallelism.inParallel[Any](
      () => {
        // reused by the coarse assignment AND the final re-rank
        val v = withNorm(vectors).localCheckpoint()
        // ONE broadcast assignment pass, materialized as the skinny
        // (id, cell, crn) table that BOTH funnel sides read — without
        // pinning it, the cross-join subtree would execute twice
        (v, ivfProbes(v, ivfSeedCells(v, nCells), nProbe).localCheckpoint())
      },
      () => pqPrepare(vectors, m, ksub, iters))
    val (v, probes) = par0(0).asInstanceOf[(DataFrame, DataFrame)]
    val (base, books, dsub) =
      par0(1).asInstanceOf[(DataFrame, Array[Codebook], Int)]
    // corpus side: every vector lives in exactly ONE cell (crn 1)
    val coded = pqCodes(base, books)
      .join(probes.filter(col("crn") === 1), "id")
      .select(col("id").as("neighbor_id") +: col("cell").as("ncell") +:
        (0 until m).map(s => col(s"a$s")): _*)
    ivfAdcFunnel(v, probes, base, coded, books, ksub, dsub, k, shortlist)
  }

  /** probe → ADC shortlist → exact re-rank, the funnel of
    * [[ivfAdcRerankTopK]] and [[ivfAdcSearchWith]]. Queries PROBE
    * their `probes` cells (id, cell — the recall knob) and meet the
    * coded corpus side (neighbor_id, ncell, a0..a{m-1}) in each; pairs
    * stay unique because a corpus vector sits in its single home cell.
    * Each pair is ADC-scored from the query's PQ `base` slices, each
    * query's `shortlist` nearest by ADC distance go to the exact
    * re-rank against the float vectors `v`.
    */
  private def ivfAdcFunnel(v: DataFrame, probes: DataFrame, base: DataFrame,
                           coded: DataFrame, books: Array[Codebook],
                           ksub: Int, dsub: Int, k: Int,
                           shortlist: Int): DataFrame = {
    val m = books.length
    val q = adcQuery(base.join(probes, "id"), m, col("cell"))
    // EXPLICIT co-partitioning on the cell key for the scoring join:
    // its inputs are byte-small but its output is Σ|cell|² scored pairs
    // — per-PAIR compute, so AQE's byte-based coalescing folds it into
    // ONE task (the q193 lesson). User-specified repartition(n, key) is
    // AQE-non-coalescible and the join reuses it, so scoring spreads
    // over min(nCells, parallelism) tasks — at production cell counts
    // (thousands) that is full spread; broadcasting either side would
    // ship a corpus-sized table and is NOT the 100 TB shape. The
    // shortlist window is pinned the same way, so its sort over the
    // candidate pairs cannot fold into one post-shuffle partition.
    val par = v.sparkSession.sparkContext.defaultParallelism
    val adc = q.repartition(par, col("cell"))
      .join(coded.repartition(par, col("ncell")),
        col("cell") === col("ncell") && col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(adcSum(books, m, ksub, dsub), 4).as("adist"))
    val short = topK(adc.repartition(par, col("query_id")), shortlist,
        order = byAdist, rank = "srank")
      .select("query_id", "neighbor_id")
    topK(rerank(short, v), k)
  }

  /** BUILD the PERSISTED IVF-ADC serving index — [[ivfAdcRerankTopK]]
    * recomputes centroids, codebooks, and codes on every call, which
    * is fine for a one-shot batch job and wrong for a serving index
    * over a growing corpus. This materializes the trained artifacts
    * as SNAPSHOT TABLES (the repo's manifest format — appends, time
    * travel, stats pruning, vacuum all apply) under `indexDir`:
    *
    *  - `centroids` — the nCells coarse cells (cid, ce, cnorm);
    *  - `codebooks` — the m×ksub PQ sub-codebooks (s, cid, ce);
    *  - `codes`    — per corpus vector its home cell + m PQ codes
    *                 (id, cell, codes), with min/max stats on `cell`
    *                 so cell-restricted scans prune at planning time;
    *  - `meta`     — one row (n_cells, m, ksub, dim, attrs) making the
    *                 index self-describing, plus the snapshot ids of the
    *                 `centroids` and `codebooks` it was built with
    *                 (centroids_snap, codebooks_snap): search and append
    *                 read the quantizers at those ids, so an optimize
    *                 that fails after publishing new quantizers but
    *                 before its codes commit leaves every reader on the
    *                 quantizers the live codes were encoded with.
    *
    * Training is bit-identical to the direct funnel (same seed
    * selection, same 4dp/6dp rounding contracts), so a search through
    * the stored index reproduces `ivfAdcRerankTopK` exactly — q323
    * pins that equality against the q128 oracle.
    */
  def ivfAdcBuildIndex(vectors: DataFrame, indexDir: String,
                       nCells: Int = 16, m: Int = 8, ksub: Int = 16,
                       iters: Int = 1, attrCols: Seq[String] = Nil,
                       clusterCodes: Boolean = false): Unit = {
    val spark = vectors.sparkSession
    import spark.implicits._
    // The coarse-cell checkpoint chain (v → cent) and PQ training
    // (pqPrepare) are INDEPENDENT lineages over `vectors`: overlap
    // them as concurrent jobs (guide §2.6) instead of paying their
    // fixed costs back to back. dim comes from training (dsub·m).
    val par0 = Parallelism.inParallel[Any](
      () => {
        val v = withNorm(vectors).localCheckpoint()
        // home-cell assignment + persist read it
        (v, ivfSeedCells(v, nCells).localCheckpoint())
      },
      () => pqPrepare(vectors, m, ksub, iters))
    val (v, cent) = par0(0).asInstanceOf[(DataFrame, DataFrame)]
    val (base, books, dsub) =
      par0(1).asInstanceOf[(DataFrame, Array[Codebook], Int)]
    val codes = codeRows(base, books, ivfProbes(v, cent, 1), vectors, attrCols)
    // attrs ride IN the codes table with min/max stats: a filtered
    // search pushes its predicate into the codes parquet scan and
    // prunes files — the filtered-ANN story needs no side join at all.
    // clusterCodes (the optimize path) range-partitions + sorts the
    // write by cell so per-file cell stats are TIGHT on the first
    // write — no second rewrite needed to get pruned probe scans. The
    // file count is bounded by the cell count (one file can never
    // usefully serve less than a cell's probe scans), capped at 32 so
    // a large-nCells index still writes executor-sized files.
    val codesOut =
      if (clusterCodes)
        codes.repartitionByRange(math.max(1, math.min(nCells, 32)),
          col("cell")).sortWithinPartitions("cell")
      else codes
    // The three data tables are independent (distinct dirs): publish
    // them as concurrent jobs (guide §2.6), so the phase pays the
    // slowest write + stats pass, not the sum of three. Meta goes last,
    // once all three have committed: a failed data write throws out of
    // inParallel and leaves the previous meta — the contract an
    // optimize must not overwrite with one describing unpublished data.
    val snaps = Parallelism.inParallel[Long](
      () => Layout.snapshotWrite(cent, s"$indexDir/centroids"),
      () => Layout.snapshotWrite(
        books.zipWithIndex.flatMap { case (cb, s) =>
          cb.map { case (cid, ce, _) => (s, cid, ce.toSeq) }
        }.toSeq.toDF("s", "cid", "ce"),
        s"$indexDir/codebooks"),
      () => Layout.snapshotWrite(codesOut, s"$indexDir/codes",
        statsCols = "cell" +: attrCols))
    Layout.snapshotWrite(
      Seq((nCells, m, ksub, dsub * m, attrCols.mkString(","), snaps(0), snaps(1)))
        .toDF("n_cells", "m", "ksub", "dim", "attrs", "centroids_snap",
          "codebooks_snap"),
      s"$indexDir/meta")
    ()
  }

  /** The `codes` table rows: per vector of `base` its home cell (from
    * `cells`) and its PQ codes array, plus the filterable attr columns
    * denormalized in from `vectors` — shared by build and append, so
    * the delta path is the bulk path's arithmetic.
    */
  private def codeRows(base: DataFrame, books: Array[Codebook],
                       cells: DataFrame, vectors: DataFrame,
                       attrCols: Seq[String]): DataFrame = {
    val codes = pqCodes(base, books).join(cells, "id")
      .select(col("id"), col("cell"), array(books.indices.map(s =>
        col(s"a$s").cast("long")): _*).as("codes"))
    if (attrCols.isEmpty) codes
    else codes.join(vectors.select((col("id") +: attrCols.map(col)): _*), "id")
  }

  /** INCREMENTAL index maintenance — assign + encode ONLY the new
    * vectors against the FROZEN centroids and codebooks and append
    * them to the `codes` table in one snapshot commit (the
    * incrementalDedup doctrine: maintenance cost scales with the
    * batch, never the corpus; readers of the previous snapshot keep
    * their consistent view). Returns the codes table's new snapshot
    * id. Frozen quantizers drift as the corpus distribution does —
    * rebuild on a schedule; that trade is the published IVF contract.
    */
  def ivfAdcIndexAppend(newVectors: DataFrame, indexDir: String): Long = {
    val (meta, books, cent, v) = openIndex(newVectors, indexDir)
    val base = pqBase(newVectors, books.length,
      meta.getAs[Int]("dim") / books.length)
    Layout.snapshotAppend(codeRows(base, books, ivfProbes(v, cent, 1),
      newVectors, indexAttrCols(meta)), s"$indexDir/codes")
  }

  /** OPTIMIZE the persisted serving index — the maintenance pass a
    * deployment runs after many [[ivfAdcIndexAppend]] batches (the r13
    * verdict's drift gap): appends encode against FROZEN quantizers,
    * so as the corpus distribution drifts the coarse cells cover it
    * worse and recall decays (q355 measures the decay and the
    * recovery); and every append adds a file fragment to `codes`, so
    * probe-restricted scans read ever more files.
    *
    *  1. RE-TRAIN centroids + PQ codebooks on the CURRENT corpus
    *     (`vectors` — the full-precision source of truth) with the
    *     index's own knobs (meta row), re-encode every vector, and
    *     publish centroids/codebooks/codes/meta as NEW snapshots —
    *     readers of prior snapshots keep their consistent view (time
    *     travel across an optimize works; vacuum reclaims later).
    *  2. write the re-coded table CLUSTERED by `cell` (range
    *     partition + sort in the rebuild write itself): few files,
    *     tight per-file cell stats, so nProbe-restricted scans prune
    *     at planning time instead of opening one fragment per
    *     historical append — the [[Layout.optimizeClustered]] outcome
    *     without paying a second full rewrite of the codes table.
    *
    * Training arithmetic is [[ivfAdcBuildIndex]]'s verbatim, so a
    * search through the optimized index equals the direct full-corpus
    * funnel — q354 pins stored==direct under the q128 oracle.
    */
  def ivfAdcIndexOptimize(vectors: DataFrame, indexDir: String,
                          iters: Int = 1): Unit = {
    val meta = Layout.snapshotRead(vectors.sparkSession, s"$indexDir/meta").head()
    ivfAdcBuildIndex(vectors, indexDir, meta.getAs[Int]("n_cells"),
      meta.getAs[Int]("m"), meta.getAs[Int]("ksub"), iters,
      indexAttrCols(meta), clusterCodes = true)
  }

  /** The attr columns the index was built with (meta `attrs`; empty
    * for indexes predating filtered search).
    */
  private def indexAttrCols(meta: Row): Seq[String] =
    if (!meta.schema.fieldNames.contains("attrs")) Nil
    else meta.getAs[String]("attrs") match {
      case null | "" => Nil
      case s => s.split(',').toSeq
    }

  /** Open the persisted index for a search or an append: its meta row
    * and, loaded concurrently (guide §2.6), the codebooks re-hydrated
    * to the driver-literal form the ADC kernel inlines (m×ksub×dsub
    * doubles, metadata-sized like [[pqPrepare]]'s training collect),
    * the centroid table, and `vectors`' norm checkpoint. The
    * quantizers are read at the snapshot ids meta pins; a meta written
    * before those ids were recorded reads the latest snapshots (the
    * `attrs` rule). `codes` is always read at its latest snapshot:
    * appends extend it under the same quantizers.
    */
  private def openIndex(vectors: DataFrame, indexDir: String)
      : (Row, Array[Codebook], DataFrame, DataFrame) = {
    val spark = vectors.sparkSession
    val meta = Layout.snapshotRead(spark, s"$indexDir/meta").head()
    def pinned(c: String): Long =
      if (meta.schema.fieldNames.contains(c)) meta.getAs[Long](c) else -1L
    val par = Parallelism.inParallel[Any](
      () => booksOf(Layout.snapshotRead(spark, s"$indexDir/codebooks",
        pinned("codebooks_snap")).select("s", "cid", "ce").collect(),
        meta.getAs[Int]("m")),
      () => Layout.snapshotRead(spark, s"$indexDir/centroids",
        pinned("centroids_snap")).localCheckpoint(),
      () => withNorm(vectors).localCheckpoint())
    (meta, par(0).asInstanceOf[Array[Codebook]],
      par(1).asInstanceOf[DataFrame], par(2).asInstanceOf[DataFrame])
  }

  /** SEARCH through the persisted index: the same three-rung funnel as
    * [[ivfAdcRerankTopK]] — query-side probe assignment against the
    * stored centroids (broadcast; the recall knob `nProbe`), ADC over
    * the STORED codes with the stored codebooks inlined as literals,
    * exact re-rank only for the shortlist — but with zero training
    * work per call. `vectors` supplies the query vectors and the
    * full-precision floats for the re-rank (the symmetric-corpus
    * convention of the other retrieval rungs); WHO can be found is
    * governed by the index: a vector absent from `codes` is invisible
    * until [[ivfAdcIndexAppend]] lands it.
    *
    * `neighborFilter` is the FILTERED-SEARCH path (production
    * retrieval filters by lang/date/license during search): a
    * predicate over the attr columns stored in the codes table
    * (ivfAdcBuildIndex `attrCols`), applied as a PRE-filter — before
    * the ADC join — so the whole candidate budget (`shortlist`) is
    * spent on eligible neighbors. A post-filter at the same k throws
    * away most of its shortlist on a selective predicate (q341
    * measures the recall gap). Because the attrs are snapshot-table
    * columns with min/max stats, the predicate prunes code FILES
    * before the scan and pushes into parquet — filtering costs a
    * smaller scan, not an extra join.
    */
  def ivfAdcSearchWith(vectors: DataFrame, indexDir: String, k: Int,
                       nProbe: Int = 12, shortlist: Int = 256,
                       neighborFilter: Option[Column] = None): DataFrame = {
    require(k >= 1, s"bad k $k")
    val (meta, books, cent, v) = openIndex(vectors, indexDir)
    val m = books.length
    val codes = Layout.snapshotRead(vectors.sparkSession, s"$indexDir/codes")
    val coded = neighborFilter.fold(codes)(codes.filter).select(
      col("id").as("neighbor_id") +: col("cell").as("ncell") +:
        (0 until m).map(s => element_at(col("codes"), s + 1).as(s"a$s")): _*)
    val dsub = meta.getAs[Int]("dim") / m
    ivfAdcFunnel(v, ivfProbes(v, cent, nProbe), pqBase(vectors, m, dsub),
      coded, books, meta.getAs[Int]("ksub"), dsub, k, shortlist)
  }

  /** Principal-component projection (PCA whitening's first step) —
    * project every embedding onto the top eigenvector of the sample
    * covariance. The published two-phase shape (MLlib's
    * computeGramianMatrix): ONE distributed pass accumulates per
    * partition the count, the coordinate sums, and the d×d outer-
    * product sums (numPartitions × (d² + d + 1) doubles to the driver
    * — bounded like the k-means centroid fetch); the driver derives
    * the covariance C = G/n − μμᵀ and runs a FIXED number of power
    * iterations from the deterministic uniform start (fixed count, not
    * a convergence test — both engines run the identical arithmetic,
    * so tiny FP differences in C stay tiny in v instead of changing
    * the iteration count). Projection is then a narrow broadcast map:
    * (x − μ)·v = x·v − μ·v, one native dot per row against the literal
    * eigenvector, no per-row centering pass.
    *
    * Scale: the corpus is read twice (gram pass, projection pass),
    * shuffled never. d is bounded (d² driver floats — 64² here; the
    * same contract breaks down gracefully: at d = 4096, 128 MB per
    * partition message says use a sketched/blocked gram instead).
    */
  def pcaProject(vecs: DataFrame, idCol: String, vecCol: String,
                 iterations: Int = 30): DataFrame = {
    require(iterations >= 1 && iterations <= 200,
      s"iterations $iterations outside sane bounds")
    val (base, mu, c, d) = gramStats(vecs, idCol, vecCol)
    val v = powerIterate(c, d, iterations)
    val shift = mu.zip(v).map { case (m, vi) => m * vi }.sum
    val vLit = array(v.map(lit).toIndexedSeq: _*)
    // + 0.0 collapses IEEE −0.0 (a tiny negative rounded to zero) onto
    // +0.0 — engines disagree on the zero's sign, and the driver's
    // compare is textual
    base.select(col("id"),
      (round(dotN(col("v"), vLit) - shift, 4) + lit(0.0)).as("pc1"))
  }

  /** Shared gram pass of [[pcaProject]] / [[pcaWhiten]]: one
    * distributed pass accumulates per partition the count, coordinate
    * sums, and d×d outer-product sums; the driver merges and derives
    * μ and the covariance C = G/n − μμᵀ.
    */
  private def gramStats(vecs: DataFrame, idCol: String, vecCol: String)
      : (DataFrame, Array[Double], Array[Double], Int) = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val base = Parallelism.ensure(vecs)
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .localCheckpoint() // gram pass + projection pass read it
    val stats = base.select(col("v")).as[Seq[Double]].mapPartitions { it =>
      var n = 0L; var d = -1
      var s: Array[Double] = null; var g: Array[Double] = null
      it.foreach { vec =>
        if (d < 0) { d = vec.length; s = new Array(d); g = new Array(d * d) }
        require(vec.length == d, s"dimension mismatch: ${vec.length} vs $d")
        n += 1
        var i = 0
        while (i < d) {
          val xi = vec(i); s(i) += xi
          var j = 0
          while (j < d) { g(i * d + j) += xi * vec(j); j += 1 }
          i += 1
        }
      }
      if (n == 0) Iterator.empty
      else Iterator.single((n, s.toSeq, g.toSeq))
    }.collect()
    require(stats.nonEmpty, "PCA needs at least one vector")
    val d = stats.head._2.length
    var n = 0L
    val s = new Array[Double](d); val g = new Array[Double](d * d)
    stats.foreach { case (pn, ps, pg) =>
      n += pn
      var i = 0
      while (i < d) { s(i) += ps(i); i += 1 }
      var k = 0
      while (k < d * d) { g(k) += pg(k); k += 1 }
    }
    val mu = s.map(_ / n)
    val c = Array.tabulate(d * d)(k => g(k) / n - mu(k / d) * mu(k % d))
    (base, mu, c, d)
  }

  /** Fixed power iterations from the deterministic uniform start —
    * fixed count, not a convergence test, so both engines run
    * identical arithmetic.
    */
  private def powerIterate(c: Array[Double], d: Int,
                           iterations: Int): Array[Double] = {
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    for (_ <- 1 to iterations) {
      val w = new Array[Double](d)
      var i = 0
      while (i < d) {
        var acc = 0.0; var j = 0
        while (j < d) { acc += c(i * d + j) * v(j); j += 1 }
        w(i) = acc; i += 1
      }
      val nrm = math.sqrt(w.map(x => x * x).sum)
      require(nrm > 0, "power iteration collapsed (zero covariance)")
      v = w.map(_ / nrm)
    }
    v
  }

  /** PCA whitening to the top-k components — the retrieval
    * preprocessing trick (Jégou & Chum 2012): project onto each
    * eigenvector and divide by √eigenvalue, so every kept direction
    * carries unit variance and cosine stops being dominated by the
    * first component. Components come from [[powerIterate]] with
    * HOTELLING DEFLATION between them: after (v_t, λ_t = v_tᵀCv_t) is
    * extracted, C ← C − λ_t·v_t v_tᵀ and the next iteration finds the
    * next eigenpair — all driver-side on the d×d matrix (the d² ≪
    * corpus contract of the gram pass).
    *
    * Output: (id, w1..wk) with w_t = ((x − μ)·v_t)/√λ_t, one narrow
    * broadcast-literal projection pass — corpus read twice total, no
    * shuffle anywhere.
    */
  def pcaWhiten(vecs: DataFrame, idCol: String, vecCol: String, k: Int,
                iterations: Int = 30): DataFrame = {
    require(k >= 1 && k <= 16, s"component count $k outside sane bounds")
    require(iterations >= 1 && iterations <= 200,
      s"iterations $iterations outside sane bounds")
    val (base, mu, c0, d) = gramStats(vecs, idCol, vecCol)
    require(k <= d, s"cannot keep $k components of dimension $d")
    val c = c0.clone()
    val comps = (1 to k).map { _ =>
      val v = powerIterate(c, d, iterations)
      // Rayleigh quotient λ = vᵀCv, then deflate C ← C − λvvᵀ
      val w = new Array[Double](d)
      var i = 0
      while (i < d) {
        var acc = 0.0; var j = 0
        while (j < d) { acc += c(i * d + j) * v(j); j += 1 }
        w(i) = acc; i += 1
      }
      var lam = 0.0
      i = 0
      while (i < d) { lam += v(i) * w(i); i += 1 }
      require(lam > 0, "non-positive eigenvalue: fewer informative directions than k")
      i = 0
      while (i < d) {
        var j = 0
        while (j < d) { c(i * d + j) -= lam * v(i) * v(j); j += 1 }
        i += 1
      }
      (v, lam)
    }
    val cols = comps.zipWithIndex.map { case ((v, lam), t) =>
      val shift = mu.zip(v).map { case (m, vi) => m * vi }.sum
      val vLit = array(v.map(lit).toIndexedSeq: _*)
      (round((dotN(col("v"), vLit) - shift) / math.sqrt(lam), 4) + lit(0.0))
        .as(s"w${t + 1}")
    }
    base.select(col("id") +: cols: _*)
  }

  /** Hard-negative mining for contrastive/retrieval training: for every
    * vector, the top-k most-similar vectors with a DIFFERENT `label` —
    * the near-misses that teach an encoder the decision boundary
    * (random negatives are trivially far; the informative ones are the
    * similar-but-wrong ones).
    *
    * Composed as the scale shape from day one (the pqRerank doctrine —
    * no all-pairs rung): multi-table sign-LSH candidates
    * ([[multiTableAnnTopK]]'s generator, L independent tables, never
    * all-pairs), the label gate applied to the candidate list, then the
    * exact cosine re-rank over survivors. Input columns: id, embedding,
    * label.
    */
  def hardNegativesTopK(vectors: DataFrame, k: Int, bits: Int = 4,
                        tables: Int = 16): DataFrame = {
    val b = withNorm(vectors, "label")
      .withColumn("keys", tableKeysChecked(bits, tables))
      .localCheckpoint() // probe table + both scoring sides read it
    val scored = rerank(multiTableCandidates(b), b, "label")
      .filter(col("qlabel") =!= col("nlabel"))
      .select(col("query_id"), col("neighbor_id"),
        col("nlabel").as("neg_label"), col("cos"))
    topK(scored, k)
  }

  /** Embedding OUTLIER audit — the cluster-distance curation signal
    * ([[SemDeDup]]'s complement: SemDeDup prunes points too CLOSE to a
    * cluster-mate; this flags points too FAR from every cluster — OCR
    * garbage, wrong-language strays, embedding failures): k-means
    * assignment, then each vector's cosine to its OWN cluster's mean
    * (per-dim average of the final members, 6 dp — the centroid-update
    * arithmetic), then a within-cluster percent_rank; the lowest
    * `outlierFrac` of each cluster flags as outliers. Per-cluster
    * ranking matters: a globally-uniform cutoff would flag whole
    * TIGHT clusters before any stray in a loose one. Percentile
    * flagging is RELATIVE by design — every multi-member cluster's
    * bottom band flags (frac is the knob, not a cleanliness test) —
    * but a vector sitting exactly on its centroid (4 dp cos = 1.0,
    * notably every singleton cluster, whose percent_rank is 0) is
    * never an outlier and is excluded explicitly.
    *
    * Scale shape: the assignment is the narrow zero-Exchange
    * [[kmeansAssign]] map; the centroid means are one posexplode
    * aggregation (k·d rows); scoring is a broadcast join against the
    * k-row centroid table; the rank is a per-cluster window.
    */
  def embeddingOutliers(vectors: DataFrame, k: Int = 8, iters: Int = 2,
                        outlierFrac: Double = 0.05): DataFrame = {
    require(outlierFrac > 0 && outlierFrac < 1, s"bad frac $outlierFrac")
    val v = withNorm(vectors).localCheckpoint()
    val a = v.join(kmeansAssign(vectors, k, iters)
      .withColumnRenamed("vec_id", "id"), "id").localCheckpoint()
    val cent = meanVectors(a
        .select(col("cluster"), posexplode(col("embedding")).as(Seq("dim", "x"))),
        "cluster")
      .withColumn("cnorm", sqrt(dotN(col("ce"), col("ce"))))
    val scored = a.join(broadcast(cent), "cluster")
      .select(col("id"), col("cluster"),
        (cosCol(col("embedding"), col("ce"), col("norm"), col("cnorm")) +
          lit(0.0)).as("cos"))
    val w = Window.partitionBy("cluster")
      .orderBy(col("cos").asc, col("id").asc)
    scored.withColumn("pr0", percent_rank().over(w))
      .select(col("id").as("vec_id"), col("cluster"), col("cos"),
        (round(col("pr0"), 6) + lit(0.0)).as("prank"),
        (col("pr0") < outlierFrac && col("cos") < 1.0).as("is_outlier"))
  }

  /** Margin-based pair mining — the published parallel-corpus /
    * bitext-mining criterion (the ratio-margin scoring used by
    * large-scale mined corpora): raw cosine over-selects hubs (vectors
    * close to EVERYTHING), so a candidate pair (x, y) scores
    *
    *   margin(x, y) = cos(x, y) / ((knnAvg(x) + knnAvg(y)) / 2)
    *
    * where knnAvg is each side's average similarity to its own k
    * nearest cross-side candidates — a hub's denominator is high and
    * its margins collapse. Kept pairs are MUTUAL best-margin matches
    * over the threshold (forward ∩ backward, the standard
    * intersection), ties to the smaller partner id.
    *
    * Sides come from `label % 2` (even = source, odd = target);
    * candidates are multi-table LSH-gated (the [[hardNegativesTopK]]
    * composition — never all-pairs), so candidate volume scales with
    * collision counts, and every later stage is a per-side window or
    * equi-join on ids. Denominators assume broadly positive top-k
    * similarities (the published setting); a corpus where a side's
    * knnAvg goes non-positive needs recalibration, not this score.
    */
  def marginMinePairs(vectors: DataFrame, k: Int = 4,
                      threshold: Double = 1.0, bits: Int = 4,
                      tables: Int = 16): DataFrame = {
    require(k >= 1, s"bad k $k")
    val b = withNorm(vectors, "label")
      .withColumn("keys", tableKeysChecked(bits, tables))
      .withColumn("side", pmod(col("label"), lit(2)))
      .localCheckpoint() // probe table + both scoring sides read it
    val scored = rerank(multiTableCandidates(b), b, "side")
      .filter(col("qside") === 0 && col("nside") === 1)
      .select(col("query_id").as("src_id"), col("neighbor_id").as("tgt_id"),
        col("cos"))
      .localCheckpoint() // knn averages + margins + both argmaxes read it
    def knnAvg(side: String, other: String): DataFrame =
      topK(scored, k, by = side, order = Seq(col("cos").desc, col(other).asc))
        .groupBy(side)
        .agg((round(avg(col("cos")), 6) + lit(0.0)).as(s"den_$side"))
    val m = scored
      .join(knnAvg("src_id", "tgt_id"), "src_id")
      .join(knnAvg("tgt_id", "src_id"), "tgt_id")
      .withColumn("margin", round(col("cos") /
        ((col("den_src_id") + col("den_tgt_id")) / 2), 4) + lit(0.0))
      .localCheckpoint() // forward and backward argmaxes both read it
    def best(side: String, other: String): DataFrame =
      topK(m, 1, by = side, order = Seq(col("margin").desc, col(other).asc))
    best("src_id", "tgt_id")
      .join(best("tgt_id", "src_id").select("src_id", "tgt_id"),
        Seq("src_id", "tgt_id"), "left_semi")
      .filter(col("margin") >= threshold)
      .select("src_id", "tgt_id", "cos", "margin")
  }

  /** MRR@k — mean-reciprocal-rank's per-query row: 1/rank of the FIRST
    * retrieved neighbor that appears anywhere in the ground truth's
    * top-k, 0 when none does. The metric that matters when one good
    * hit suffices (question answering, known-item search), next to
    * recall (q82, how many) and nDCG (q187, in what order). Both
    * inputs are topK-shaped frames (query_id, neighbor_id, rank); one
    * membership equi-join + a per-query aggregation.
    */
  def mrrAtK(retrieved: DataFrame, truth: DataFrame): DataFrame =
    retrieved.select(col("query_id"), col("neighbor_id"), col("rank"))
      .join(truth.select(col("query_id"), col("neighbor_id"),
        lit(1).as("hit")), Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg((round(coalesce(
        lit(1.0) / min(when(col("hit") === 1, col("rank"))), lit(0.0)), 4)
        + lit(0.0)).as("rr"))

  /** Reciprocal-rank fusion — the standard hybrid-search combiner
    * (Cormack et al.): given several per-query rankings (topK-shaped
    * frames: query_id, neighbor_id, rank), score each candidate
    * Σ 1/(c + rank) over the lists it appears in and keep the fused
    * top-k. Rank-based fusion needs no score calibration between
    * retrievers (BM25 scores and cosines are not comparable; ranks
    * are), which is why RRF is the default in hybrid lexical+vector
    * search.
    *
    * Scale shape: a union of skinny rank rows + one hash aggregation
    * on (query, candidate) + the per-query top-k window — no retriever
    * internals touched. Fused scores are rounded (6dp) before the
    * ordering so the boundary cannot flap cross-engine; ties break by
    * neighbor id.
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(rankings.nonEmpty && k >= 1, "need rankings and k >= 1")
    val scored = rankings.map(_.select(col("query_id"), col("neighbor_id"),
      col("rank").cast("long").as("rank")))
      .reduce(_ unionAll _)
      .groupBy("query_id", "neighbor_id")
      .agg((round(sum(lit(1.0) / (lit(c) + col("rank"))), 6) + lit(0.0))
        .as("rrf"))
    topK(scored, k, order = Seq(col("rrf").desc, col("neighbor_id").asc),
      rank = "fused_rank")
  }

  /** Maximal-marginal-relevance selection: from the `poolK` most-
    * query-similar candidates, greedily pick `k` that balance relevance
    * against redundancy — round r takes
    * argmax λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s), ties by id.
    * The diversity-aware cut applied to retrieval shortlists and
    * training-set selection (a top-k of near-duplicates wastes its
    * slots; MMR forces coverage).
    *
    * Scale shape: the candidate pool (k×poolK-bounded, like the k-means
    * centroid table) is built by ONE distributed top-poolK pass against
    * the full corpus; each greedy round is then a narrow pass over the
    * checkpointed pool — sim-to-selected is `greatest` over ≤ k literal
    * vectors (driver-held, the kmeansAssign doctrine), and the argmax
    * is a 1-row TakeOrderedAndProject. Never a pairwise join over the
    * corpus; all scores rounded at 4dp before comparison so the greedy
    * trajectory is reproducible cross-engine.
    */
  def mmrSelect(vectors: DataFrame, queryId: Long, poolK: Int, k: Int,
                lambda: Double): DataFrame = {
    require(k >= 1 && poolK >= k, s"bad k/poolK $k/$poolK")
    val base = withNorm(vectors)
    val qRows = base.filter(col("id") === queryId)
      .select(col("embedding"), col("norm")).take(1)
    require(qRows.nonEmpty, s"mmrSelect: query id $queryId not in `vectors`")
    val qRow = qRows(0)
    val qe = array(qRow.getSeq[Float](0).map(lit).toIndexedSeq: _*)
    val qn = qRow.getDouble(1)
    val pool = base.filter(col("id") =!= queryId)
      .select(col("id"), col("embedding"), col("norm"),
        cosCol(col("embedding"), qe, col("norm"), lit(qn)).as("rel"))
      .orderBy(col("rel").desc, col("id").asc).limit(poolK)
      .localCheckpoint() // k narrow rounds re-read it
    var selected = Vector.empty[(Long, Seq[Float], Double, Double)]
    var exhausted = false
    // A pool smaller than k (corpus < k+1 vectors) exhausts early —
    // return the picks made so far rather than crashing on an empty
    // argmax row.
    while (selected.length < k && !exhausted) {
      val chosenIds = selected.map(_._1)
      val sims = selected.map { case (_, se, sn, _) =>
        cosCol(col("embedding"), array(se.map(lit).toIndexedSeq: _*),
          col("norm"), lit(sn))
      }
      val penalty = sims match {
        case Seq() => lit(0.0)
        case Seq(one) => one // greatest() requires >= 2 args
        case many => greatest(many: _*)
      }
      val nextRows = pool
        .filter(if (chosenIds.isEmpty) lit(true)
          else !col("id").isin(chosenIds: _*))
        .withColumn("mmr",
          round(lit(lambda) * col("rel") - lit(1.0 - lambda) * penalty, 4))
        .orderBy(col("mmr").desc, col("id").asc).limit(1)
        .select(col("id"), col("embedding"), col("norm"), col("rel"),
          col("mmr")).take(1)
      if (nextRows.isEmpty) exhausted = true
      else {
        val next = nextRows(0)
        selected = selected :+ ((next.getLong(0), next.getSeq[Float](1),
          next.getDouble(2), next.getDouble(4)))
      }
    }
    val rows = selected.zipWithIndex.map { case ((id, _, _, mmr), i) =>
      (i + 1, id, mmr)
    }
    val spark = vectors.sparkSession
    import spark.implicits._
    val sel = rows.toDF("rank", "vec_id", "mmr")
    sel.join(pool.select(col("id").as("vec_id"), col("rel")), "vec_id")
      .select(col("rank").cast("int"), col("vec_id"),
        (col("rel") + lit(0.0)).as("rel"), (col("mmr") + lit(0.0)).as("mmr"))
  }

  /** Element-wise MEAN POOLING of chunk embeddings into one document
    * vector — the standard long-document representation (embed chunks,
    * average) and the retrieval-index reduction step. A typed
    * [[ArrayMeanAggregator]] keeps the buffer at O(dim) per
    * (partition, doc): partial aggregation sums arrays map-side, so
    * the shuffle carries one (sum, count) vector per doc per
    * partition — never the chunk rows. Dimensions must agree; a
    * ragged corpus errors loudly rather than silently truncating.
    */
  def meanPoolEmbeddings(chunks: DataFrame, idCol: String,
                         embCol: String, dim: Int): DataFrame = {
    val pool = udaf(new ArrayMeanAggregator(dim))
    chunks
      .select(col(idCol).cast("long").as("doc_id"),
        col(embCol).cast("array<double>").as("_e"))
      .groupBy("doc_id")
      .agg(pool(col("_e")).as("embedding"))
  }

  /** ColBERT-style LATE-INTERACTION retrieval (MaxSim): documents and
    * queries are BAGS of chunk/token vectors, and
    * score(q, d) = Σ over q's chunks of max over d's chunks of
    * cos(q_i, d_j) — the multi-vector rung above [[meanPoolEmbeddings]]
    * (pooling averages detail away; MaxSim keeps per-chunk alignment).
    * Every document doubles as a query here (the symmetric-corpus
    * convention of the other retrieval rungs).
    *
    * SERVED AS THE TWO-STAGE PER-CHUNK FUNNEL — the shape the
    * published ColBERT-v2/PLAID serving stack runs: each query CHUNK
    * nominates the docs owning its `m` nearest foreign chunks (the
    * 16-table disjoint-slice LSH of [[multiTableAnnTopK]] — an
    * equi-join on table keys, then a rank-`m` window per query
    * chunk), and ONLY the nominated (query doc, cand doc) pairs pay
    * the exact chunk×chunk MaxSim rerank. Candidates are bounded by
    * construction: ≤ chunksPerDoc × m pairs per query doc out of the
    * gate window. The r11 flat chunk-bucket gate was retired for the
    * reason the shingle join df-caps its buckets: an uncapped
    * sign-bucket self-join is quadratic in the hottest bucket — a
    * skewed-key shuffle amplifier at 100× scale.
    *
    * Why per-chunk and not mean-pool-then-gate: MaxSim is built from
    * per-chunk maxima, and pooling averages exactly that signal away
    * — measured on the gaussian worst-case fixture (q322), the
    * pooled gate's recall CEILING (exact pooled cosine, no LSH loss)
    * is 0.49 at shortlist=10 and needs half the corpus (shortlist
    * ≈ 50) to clear 0.85, while this per-chunk gate measures 0.94 at
    * the m=8 default (0.80 at m=4, 0.99 at m=16) with ~33 candidate
    * docs per query. The pooled funnel remains available composed
    * from its public stages ([[meanPoolEmbeddings]] →
    * [[bucketedAnnTopK]] → [[maxSimRerank]], q321) as the
    * cheapest-gate rung of the ladder.
    *
    * Deterministic: cosines rounded to 4dp before the gate window
    * and before max, scores rounded after the sum, ties broken by
    * chunk/doc id — the DuckDB oracle replays keys, gate, and rerank
    * stage by stage.
    */
  def maxSimTopK(chunks: DataFrame, docCol: String, idCol: String,
                 vecCol: String, k: Int, m: Int = 8,
                 bits: Int = 4, tables: Int = 16): DataFrame = {
    require(k >= 1, s"bad k $k")
    require(m >= 1, s"bad m $m")
    val b = chunkFrame(chunks, docCol, idCol, vecCol)
      .withColumn("keys", tableKeysChecked(bits, tables))
      .localCheckpoint() // gate probes + both rerank sides read it
    // scored pairs of chunks (query_id, neighbor_id) from different
    // docs (qdoc, ndoc); each query chunk nominates its m nearest
    val cand = topK(rerank(multiTableCandidates(b), b, "doc")
        .filter(col("qdoc") =!= col("ndoc")), m)
      .select(col("qdoc").as("query_id"), col("ndoc").as("doc_id"))
      .distinct()
    maxSimScore(b, cand, k)
  }

  /** EXACT MaxSim top-k — every (query doc, other doc) pair pays the
    * full chunk×chunk scoring with no candidate gate. O(n²) in
    * documents (and chunks² in the pair stage): this is the labeled
    * CALIBRATION path, the ground truth [[maxSimTopK]]'s funnel
    * recall is measured against (q322), exactly as
    * [[bruteForceTopK]] is for the single-vector rungs. Not a
    * serving path at scale.
    */
  def maxSimBruteTopK(chunks: DataFrame, docCol: String, idCol: String,
                      vecCol: String, k: Int): DataFrame = {
    require(k >= 1, s"bad k $k")
    val b = chunkFrame(chunks, docCol, idCol, vecCol).localCheckpoint()
    val ids = b.select(col("doc")).distinct()
    val cand = ids.select(col("doc").as("query_id"))
      .crossJoin(ids.select(col("doc").as("doc_id")))
      .filter(col("query_id") =!= col("doc_id"))
    maxSimScore(b, cand, k)
  }

  /** MaxSim RERANK over a GIVEN candidate list — the late-interaction
    * half of the ColBERT serving stack: any cheap first-stage
    * retriever (pooled-doc-vector ANN, BM25, a bucket gate) nominates
    * (query_id, doc_id) pairs; only those pay the exact chunk×chunk
    * Σ max cosine. Same determinism contracts as [[maxSimTopK]].
    */
  def maxSimRerank(chunks: DataFrame, docCol: String, idCol: String,
                   vecCol: String, candidates: DataFrame,
                   k: Int): DataFrame = {
    require(k >= 1, s"bad k $k")
    val b = chunkFrame(chunks, docCol, idCol, vecCol).localCheckpoint()
    maxSimScore(b,
      candidates.select(col("query_id").cast("long"),
        col("doc_id").cast("long")), k)
  }

  private def chunkFrame(chunks: DataFrame, docCol: String, idCol: String,
                         vecCol: String): DataFrame =
    Parallelism.ensure(chunks)
      .select(col(docCol).cast("long").as("doc"),
        col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("embedding"))
      .withColumn("norm", sqrt(dotN(col("embedding"), col("embedding"))))

  private def maxSimScore(b: DataFrame, cand: DataFrame,
                          k: Int): DataFrame = {
    val pairs = cand
      .join(b.select(col("doc").as("query_id"), col("id").as("qcid"),
        col("embedding").as("qe"), col("norm").as("qn")), "query_id")
      .join(b.select(col("doc").as("doc_id"),
        col("embedding").as("de"), col("norm").as("dn")), "doc_id")
      .select(col("query_id"), col("doc_id"), col("qcid"),
        cosCol(col("qe"), col("de"), col("qn"), col("dn")).as("cos"))
    val scored = pairs
      .groupBy("query_id", "doc_id", "qcid").agg(max("cos").as("m"))
      .groupBy("query_id", "doc_id")
      .agg((round(sum("m"), 4) + lit(0.0)).as("score"))
    topK(scored, k, order = Seq(col("score").desc, col("doc_id").asc))
      .select("query_id", "doc_id", "rank", "score")
  }
}

/** [[Similarity.meanPoolEmbeddings]]'s buffer: a fixed-dim running
  * (sum vector, count) pair — associative merge, O(dim) shuffle
  * payload, the same partial+final contract built-in aggregates get.
  */
final class ArrayMeanAggregator(dim: Int)
    extends org.apache.spark.sql.expressions.Aggregator[
      Seq[Double], (Array[Double], Long), Seq[Double]] {
  require(dim >= 1, s"bad dim $dim")
  override def zero: (Array[Double], Long) = (new Array[Double](dim), 0L)
  override def reduce(b: (Array[Double], Long),
                      a: Seq[Double]): (Array[Double], Long) =
    if (a == null) b
    else {
      require(a.length == dim,
        s"embedding dim ${a.length} != expected $dim")
      var i = 0
      while (i < dim) { b._1(i) += a(i); i += 1 }
      (b._1, b._2 + 1)
    }
  override def merge(x: (Array[Double], Long),
                     y: (Array[Double], Long)): (Array[Double], Long) = {
    var i = 0
    while (i < dim) { x._1(i) += y._1(i); i += 1 }
    (x._1, x._2 + y._2)
  }
  override def finish(b: (Array[Double], Long)): Seq[Double] =
    if (b._2 == 0L) Seq.empty
    else b._1.map(_ / b._2).toSeq
  override def bufferEncoder
      : org.apache.spark.sql.Encoder[(Array[Double], Long)] =
    org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Array[Double]](),
      org.apache.spark.sql.Encoders.scalaLong)
  override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
}
