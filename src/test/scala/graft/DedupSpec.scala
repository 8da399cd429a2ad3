package graft

import graft.operators.{Corpus, Dedup, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def corpus = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bend"), // near-dup of 1
      (3L, "completely different text about spark query engines and shuffles here"),
      (4L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 1
      (5L, "short text")
    ).toDF("doc_id", "text")
  }

  test("exactDedup groups exact duplicates, keeps min id") {
    val out = Dedup.exactDedup(corpus, "doc_id", "text")
      .orderBy("keeper").collect()
    assert(out.length == 4) // 1&4 merged
    val dup = out.find(_.getAs[Long]("n_copies") == 2).get
    assert(dup.getAs[Long]("keeper") == 1L)
  }

  test("minhashLshPairs finds the planted near-duplicate and the exact dup") {
    val pairs = Dedup.minhashLshPairs(corpus, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // identical → jaccard 1.0
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L))) // near-dups
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated doc clean
  }

  test("ngramJaccardPairs agrees with minhash verify on exact dups") {
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", threshold = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 4L)) == 1.0)
    assert(pairs((1L, 2L)) > 0.5 && pairs((1L, 2L)) < 1.0)
  }

  test("capped shingle overlap: Jaccard and containment equal a brute-force pair scan") {
    import spark.implicits._
    // "boiler plate header" sits in five documents, above maxDf = 3, so
    // it leaves every set (numerator and denominators); the shingles
    // after it sit in at most three and stay
    val docs = Seq(
      (1L, "boiler plate header alpha beta gamma delta epsilon"),
      (2L, "boiler plate header alpha beta gamma delta zeta"),
      (3L, "boiler plate header one two three four five"),
      (4L, "boiler plate header six seven eight nine ten"),
      (5L, "alpha beta gamma delta epsilon eta theta"),
      (6L, "boiler plate header alpha beta gamma"),
      (7L, "one two three four five six seven"),
      (8L, "tiny doc"))
    val maxDf = 3
    def shingles(t: String): Set[String] = {
      val toks = t.split(" ")
      if (toks.length < 3) Set.empty
      else (0 to toks.length - 3).map(i => toks.slice(i, i + 3).mkString(" ")).toSet
    }
    val df = docs.flatMap(d => shingles(d._2)).groupBy(identity).view.mapValues(_.size)
    assert(df.values.exists(_ > maxDf) && df.values.exists(v => v > 1 && v <= maxDf))
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // (a, b, m, |A|, |B|) over the capped sets, pairs sharing a shingle
    val overlaps = for {
      (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
      sa = shingles(ta).filter(df(_) <= maxDf); sb = shingles(tb).filter(df(_) <= maxDf)
      m = (sa intersect sb).size if m > 0
    } yield (ia, ib, m, sa.size, sb.size)
    val frame = docs.toDF("doc_id", "text")
    val cases = Seq[(String, () => Set[Seq[Any]], Set[Seq[Any]])](
      ("ngramJaccardPairs",
        () => Dedup.ngramJaccardPairs(frame, "doc_id", "text", threshold = 0.1,
          maxDf = maxDf).collect().map(_.toSeq).toSet,
        overlaps.map { case (a, b, m, na, nb) => (a, b, r4(m.toDouble / (na + nb - m))) }
          .collect { case (a, b, j) if j >= 0.1 => Seq[Any](a, b, j) }.toSet),
      ("containmentPairs",
        () => Dedup.containmentPairs(frame, "doc_id", "text", threshold = 0.3,
          maxDf = maxDf).collect().map(_.toSeq).toSet,
        overlaps.map { case (a, b, m, na, nb) =>
          (a, b, r4(m.toDouble / na), r4(m.toDouble / nb)) }
          .collect { case (a, b, ca, cb) if math.max(ca, cb) >= 0.3 =>
            Seq[Any](a, b, ca, cb) }.toSet))
    for ((name, run, expected) <- cases) {
      assert(expected.nonEmpty, name)
      assert(run() == expected, name)
    }
  }

  test("connectedComponents labels every node with the min reachable id") {
    import spark.implicits._
    // two components: {1,2,4} chained (1-2, 2-4) and {7,9}; 3/5 absent
    val pairs = Seq((1L, 2L), (2L, 4L), (7L, 9L)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 4L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("connectedComponents converges on a long chain (diameter > 1 round)") {
    import spark.implicits._
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(chain)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cc.length == 12 && cc.forall(_._2 == 1L))
  }

  test("connectedComponents on an EMPTY pair list returns no clusters") {
    import spark.implicits._
    // a corpus with zero near-dups is legal — the empty label table's
    // NULL sum must converge, not throw (pre-r13 getLong NPE shape)
    val none = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.connectedComponents(none).count() == 0L)
  }

  test("connectedComponents reads its convergence sum off the pinning jobs") {
    import spark.implicits._
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String,
                    qe: org.apache.spark.sql.execution.QueryExecution,
                    durationNs: Long): Unit = actions.add(funcName)
      def onFailure(funcName: String,
                    qe: org.apache.spark.sql.execution.QueryExecution,
                    exception: Exception): Unit = ()
    }
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    spark.listenerManager.register(listener)
    try {
      Dedup.connectedComponents(chain)
      org.apache.spark.sql.graft.Bridge.drainListeners(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    // the edge pin, the start labels and one pin per round: no query
    // of their own for the label sums
    assert(actions.size > 2 &&
      actions.toArray.forall(_ == "localCheckpoint"), actions)
  }

  test("connectedComponents throws when maxIter rounds do not reach the fixpoint") {
    import spark.implicits._
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException](Dedup.connectedComponents(chain, maxIter = 1))
    assert(e.getMessage.contains("did not converge in 1 rounds"))
  }

  test("decontaminate flags docs sharing an n-gram with the bench set, keeps short docs") {
    val bench = {
      import spark.implicits._
      Seq("a quick brown fox jumps across the field").toDF("text")
    }
    val r = Corpus.decontaminate(corpus, "doc_id", "text", bench, "text", shingleN = 5)
      .collect().map(x => (x.getLong(0), (x.getInt(1), x.getBoolean(2)))).toMap
    assert(r.size == 5) // every doc present, including the 2-token one
    // docs 1/2/4 share "quick brown fox jumps over"? NO — bench has
    // "fox jumps across", so only 5-grams fully inside the shared span
    // "quick brown fox jumps" (4 tokens) — too short. Shared 5-gram:
    // none... use the actual overlap: "a quick brown fox jumps" is not
    // in the docs ("the quick..."). So expect zero hits everywhere.
    assert(r.values.forall(_ == (0, false)))
    val bench2 = {
      import spark.implicits._
      Seq("notice the quick brown fox jumps over the lazy dog today").toDF("text")
    }
    val r2 = Corpus.decontaminate(corpus, "doc_id", "text", bench2, "text", shingleN = 5)
      .collect().map(x => (x.getLong(0), (x.getInt(1), x.getBoolean(2)))).toMap
    // "the quick brown fox jumps" ... "fox jumps over the lazy" ...
    // 5-gram windows of the shared 9-token span: 5 distinct hits
    assert(r2(1L) == (5, true) && r2(2L) == (5, true) && r2(4L) == (5, true))
    assert(r2(3L) == (0, false) && r2(5L) == (0, false))
  }

  test("bloomDecontaminate matches exact decontaminate, even at absurd fpp") {
    val bench = {
      import spark.implicits._
      Seq("notice the quick brown fox jumps over the lazy dog today").toDF("text")
    }
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => (x.getLong(0), (x.getInt(1), x.getBoolean(2)))).toMap
    val exact = asMap(Corpus.decontaminate(corpus, "doc_id", "text", bench, "text", 5))
    // fpp 0.5 floods the prefilter with false positives — the confirm
    // join must still produce the exact result
    for (fpp <- Seq(0.01, 0.5)) {
      val b = asMap(Corpus.bloomDecontaminate(
        corpus, "doc_id", "text", bench, "text", 5, fpp = fpp))
      assert(b == exact, s"fpp=$fpp")
    }
  }

  test("bloomDecontaminate plan: codegen'd might_contain prefilter + equi-join confirm") {
    val bench = {
      import spark.implicits._
      Seq("the quick brown fox jumps over the lazy dog").toDF("text")
    }
    val df = Corpus.bloomDecontaminate(corpus, "doc_id", "text", bench, "text", 5)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), "bloom prefilter missing from plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "confirm must be an equi-join")
  }

  test("kmeansAssign separates two obvious clusters") {
    import spark.implicits._
    // ids 0,1 seed the two true groups; members sit near their seed
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.1f, 0.9f, 0.0f)),
      (4L, Array(0.8f, 0.0f, 0.1f)),
      (5L, Array(0.0f, 0.8f, 0.1f))
    ).toDF("id", "embedding")
    val asg = Similarity.kmeansAssign(vecs, k = 2, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(asg(0L) == asg(2L) && asg(2L) == asg(4L))
    assert(asg(1L) == asg(3L) && asg(3L) == asg(5L))
    assert(asg(0L) != asg(1L))
  }

  test("curate keeps one doc per transitive near-dup component") {
    import spark.implicits._
    // 1 and 2 are both near-dups of 3 but NOT of each other directly;
    // cluster-keeper semantics must still collapse all three to doc 1.
    // (Text long enough to clear the 0.3 quality gate; en stopwords.)
    val base = "the quick brown fox jumps over the lazy dog and then walks " +
      "to the river bank where the water is cold and the trees are tall"
    val docs = Seq(
      (1L, base + " alpha beta gamma delta"),
      (2L, base + " alpha beta epsilon zeta"),
      (3L, base + " alpha beta gamma zeta"), // bridges 1 and 2
      (4L, "completely different text about spark query engines and the " +
        "shuffles that move data between the stages of a distributed plan " +
        "while the optimizer is rewriting joins and the scans are pruned")
    ).toDF("doc_id", "text")
    val kept = graft.operators.Curation
      .curate(docs, "doc_id", "text", minQuality = 0.3, langs = Seq("en"),
        nearDupThreshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(1L) && kept.contains(4L))
    assert(!kept.contains(3L))
    // 2 must be dropped IF the LSH chain linked it through 3
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    if (pairs.contains((2L, 3L)) || pairs.contains((1L, 2L)))
      assert(!kept.contains(2L), s"pairs=$pairs kept=$kept")
  }

  test("bruteForceTopK ranks the planted nearest vector first") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)), // closest to 1
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(-1.0f, 0.0f, 0.0f))
    ).toDF("id", "embedding")
    val top = Similarity.bruteForceTopK(vecs.filter($"id" === 1L), vecs, 2)
      .orderBy("rank").collect()
    assert(top(0).getAs[Long]("neighbor_id") == 2L)
    assert(top(0).getAs[Double]("cos") > 0.99)
    assert(top.length == 2)
  }

  test("multiProbeAnnTopK recovers a neighbor split by one sign bit") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(0.01f, 1.0f, 0.5f, 0.5f, 0.1f)),
      (2L, Array(-0.01f, 0.9f, 0.4f, 0.6f, 0.2f)) // near-identical, first sign differs
    ).toDF("id", "embedding")
    val single = Similarity.bucketedAnnTopK(vecs, 3, bits = 4).count()
    val multi = Similarity.multiProbeAnnTopK(vecs, 3, bits = 4)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    assert(single == 0) // single probe misses the pair entirely
    assert(multi.toSet == Set((1L, 2L), (2L, 1L))) // Hamming-1 probe finds it
  }

  test("multiTableAnnTopK finds a neighbor invisible to every probe of table 0") {
    import spark.implicits._
    // 8 dims, 2 tables of 4 bits. The pair agrees on dims 5-8 (table 1)
    // but differs in sign on ALL of dims 1-4 (table 0) — Hamming distance
    // 4, beyond any multi-probe of the single table; only an independent
    // second table can pair them.
    val vecs = Seq(
      (1L, Array(0.1f, 0.1f, 0.1f, 0.1f, 1.0f, 1.0f, 1.0f, 1.0f)),
      (2L, Array(-0.1f, -0.1f, -0.1f, -0.1f, 0.9f, 1.1f, 0.9f, 1.1f))
    ).toDF("id", "embedding")
    assert(Similarity.multiProbeAnnTopK(vecs, 3, bits = 4).count() == 0)
    val multi = Similarity.multiTableAnnTopK(vecs, 3, bits = 4, tables = 2)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    assert(multi.toSet == Set((1L, 2L), (2L, 1L)))
  }

  test("multiTableAnnTopK scores a multiply-colliding pair exactly once") {
    import spark.implicits._
    // identical sign patterns in both tables → the pair collides twice;
    // the distinct() must collapse it to ONE scored candidate per direction
    val vecs = Seq(
      (1L, Array(1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f)),
      (2L, Array(0.9f, 0.9f, 0.9f, 0.9f, 0.9f, 0.9f, 0.9f, 0.9f))
    ).toDF("id", "embedding")
    val out = Similarity.multiTableAnnTopK(vecs, 3, bits = 4, tables = 2).collect()
    assert(out.length == 2) // one row per direction, not per collision
    assert(out.forall(_.getAs[Double]("cos") > 0.99))
  }

  test("kmeansAssign broadcast-kernel path matches the literal path bit for bit") {
    import spark.implicits._
    // deterministic pseudo-random 3-dim vectors (never all-zero in range)
    val vecs = (0L until 40L).map { i =>
      (i, Array((i * 37 % 17 - 8).toFloat, (i * 53 % 19 - 9).toFloat,
        (i * 71 % 23 - 11).toFloat))
    }.toDF("id", "embedding")
    def run(litMaxK: Int) =
      Similarity.kmeansAssign(vecs, k = 10, iters = 2, litMaxK = litMaxK)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    // litMaxK=1 forces every assignment through cosine_argmax_native
    assert(run(64) == run(1))
  }

  test("kmeansAssign runs at k=256, past the literal codegen cap") {
    import spark.implicits._
    val vecs = (0L until 300L).map { i =>
      (i, Array.tabulate(8)(d => ((i * 31 + d * 97) % 29 - 14).toFloat))
    }.toDF("id", "embedding")
    val out = Similarity.kmeansAssign(vecs, k = 256, iters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == 300)
    assert(out.forall { case (_, c) => c >= 0 && c < 256 }) // seeds are ids 0..255
  }

  test("kmeans literal and kernel paths agree when a centroid is the zero vector") {
    import spark.implicits._
    // seed id 0 is the zero vector → its cosine is undefined against
    // every row: both paths must EXCLUDE it (null rc in the literal
    // struct / skipped in the kernel) instead of throwing on the ANSI
    // zero divisor or diverging on NaN ordering
    val vecs = (0L until 40L).map { i =>
      val arr =
        if (i == 0) Array.fill(6)(0f)
        else Array.tabulate(6)(d => (((i * 13 + d * 7) % 19) - 9).toFloat)
      (i, arr)
    }.toDF("id", "embedding")
    def run(litMaxK: Int) =
      Similarity.kmeansAssign(vecs, k = 3, iters = 1, litMaxK = litMaxK)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(run(64) == run(0))
  }

  test("PQ assignment: l2_argmin_native matches the literal struct-max path") {
    import spark.implicits._
    val vecs = (0L until 60L).map { i =>
      (i, Array.tabulate(16)(d => ((i * 31 + d * 97) % 29 - 14).toFloat))
    }.toDF("id", "embedding")
    // fixed books (whatever training produced — parity is about the
    // ASSIGNMENT step, so both paths must read the same codebooks)
    val books = Similarity.pqTrainCodebooks(vecs, m = 4, ksub = 8, iters = 1)
    def run(useLit: Boolean) =
      Similarity.pqEncodeWith(vecs, books, m = 4, useLit = useLit)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    assert(run(useLit = false) == run(useLit = true))
  }

  test("ADC distance: adc_sum_native matches the literal term sum bit-for-bit") {
    import spark.implicits._
    val vecs = (0L until 80L).map { i =>
      (i, Array.tabulate(16)(d => ((i * 37 + d * 101) % 31 - 15).toFloat))
    }.toDF("id", "embedding")
    def run(useLit: Boolean) =
      Similarity.pqAdcTopKWith(vecs, 3, m = 4, ksub = 8, iters = 1,
        useLitTerms = useLit)
        .collect().map(r => (r.getAs[Long]("query_id"),
          r.getAs[Long]("neighbor_id"),
          // bit-compare the rounded distance (the funnel's ordering key)
          java.lang.Double.doubleToLongBits(r.getAs[Double]("adist"))))
        .sortBy(t => (t._1, t._2)).toSeq
    assert(run(useLit = false) == run(useLit = true))
  }

  test("redact replaces URLs and emails with placeholder tags") {
    import spark.implicits._
    import graft.functions.TextFunctions
    val out = Seq("visit https://a.io/x?y=1 or mail bob.smith+a@ex-a.co.uk end")
      .toDF("text")
      .select(TextFunctions.redact(col("text"))).as[String].head()
    assert(out == "visit <URL> or mail <EMAIL> end")
  }

  test("bucketedAnnTopK only pairs vectors within a sign bucket") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 1.0f, 0.5f, 0.5f, 0.1f)),
      (2L, Array(0.9f, 0.8f, 0.4f, 0.6f, 0.2f)), // same bucket as 1
      (3L, Array(-1.0f, 1.0f, 0.5f, 0.5f, 0.1f)) // different first sign bit
    ).toDF("id", "embedding")
    val out = Similarity.bucketedAnnTopK(vecs, 3, bits = 4).collect()
    val partners = out.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    assert(partners.toSet == Set((1L, 2L), (2L, 1L))) // 3 is isolated
  }

  test("ivfAdcRerankTopK funnel recovers exact top-1 through cells+codes+rerank") {
    import spark.implicits._
    // three separated directions, two vectors each — the twin is the
    // exact nearest neighbor and must survive the full funnel
    val dirs = Seq(
      Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f),
      Array(0f, 1f, 0f, 0f, 0f, 1f, 0f, 0f),
      Array(0f, 0f, 1f, 0f, 0f, 0f, 1f, 0f))
    val vecs = (0 until 6).map { i =>
      (i.toLong, dirs(i % 3).map(x => x * (1f + 0.01f * (i / 3))))
    }.toDF("id", "embedding")
    val top1 = Similarity.ivfAdcRerankTopK(vecs, 1, nCells = 3, nProbe = 1,
        shortlist = 2, m = 2, ksub = 4, iters = 1)
      .collect().map(r =>
        (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toMap
    assert(top1 == Map(0L -> 3L, 3L -> 0L, 1L -> 4L, 4L -> 1L, 2L -> 5L, 5L -> 2L))
  }

  test("persisted IVF index: stored search == direct; delta append extends it") {
    import spark.implicits._
    val dirs = Seq(
      Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f),
      Array(0f, 1f, 0f, 0f, 0f, 1f, 0f, 0f),
      Array(0f, 0f, 1f, 0f, 0f, 0f, 1f, 0f))
    val vecs = (0 until 6).map { i =>
      (i.toLong, dirs(i % 3).map(x => x * (1f + 0.01f * (i / 3))))
    }.toDF("id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("graft_ivfidx").toString
    Similarity.ivfAdcBuildIndex(vecs, idx, nCells = 3, m = 2, ksub = 4,
      iters = 1)
    // the stored-index search reproduces the direct funnel EXACTLY
    // (full rows: query, neighbor, cos, rank) — training determinism
    // survives the parquet round-trip
    val direct = Similarity.ivfAdcRerankTopK(vecs, 1, nCells = 3,
        nProbe = 1, shortlist = 2, m = 2, ksub = 4, iters = 1)
      .collect().map(_.toSeq).toSet
    val stored = Similarity.ivfAdcSearchWith(vecs, idx, 1, nProbe = 1,
        shortlist = 2)
      .collect().map(_.toSeq).toSet
    assert(stored === direct)
    // DELTA maintenance: three new twins (one per direction) encode
    // against the FROZEN quantizers in one appended snapshot — no
    // retraining, cost proportional to the batch
    val delta = (6 until 9).map(i =>
      (i.toLong, dirs(i % 3).map(x => x * 1.02f))).toDF("id", "embedding")
    Similarity.ivfAdcIndexAppend(delta, idx)
    val codesDir = s"$idx/codes"
    assert(graft.operators.Layout.snapshotRead(spark, codesDir).count() === 9)
    // time travel still serves the pre-append index view
    assert(graft.operators.Layout.snapshotRead(spark, codesDir, 1L)
      .count() === 6)
    // the appended vectors are immediately findable AND find their
    // planted twins: scaling preserves cosine, so same-direction pairs
    // score 1.0 and ties break to the smaller neighbor id
    val all = vecs.unionByName(delta)
    val top1 = Similarity.ivfAdcSearchWith(all, idx, 1, nProbe = 1,
        shortlist = 3)
      .collect().map(r =>
        (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toMap
    assert(top1(6L) === 0L && top1(7L) === 1L && top1(8L) === 2L)
    assert(top1(0L) === 3L) // existing rows keep their pre-delta twin
  }

  test("ivfAdcIndexOptimize: retrain == fresh build; codes come out cell-clustered") {
    import spark.implicits._
    val dirs = Seq(
      Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f),
      Array(0f, 1f, 0f, 0f, 0f, 1f, 0f, 0f),
      Array(0f, 0f, 1f, 0f, 0f, 0f, 1f, 0f))
    def mk(ids: Range) = ids.map(i =>
      (i.toLong, dirs(i % 3).map(x => x * (1f + 0.01f * (i / 3)))))
      .toDF("id", "embedding")
    val base = mk(0 until 6)
    val delta = mk(6 until 12)
    val all = base.unionByName(delta)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivfopt").toString
    Similarity.ivfAdcBuildIndex(base, idx, nCells = 3, m = 2, ksub = 4)
    Similarity.ivfAdcIndexAppend(delta, idx)
    val preOptSnapshots = graft.operators.Layout
      .snapshotHistory(spark, s"$idx/codes").count()
    Similarity.ivfAdcIndexOptimize(all, idx)
    // optimize == a from-scratch full-corpus build, searched identically
    val fresh = java.nio.file.Files.createTempDirectory("graft_ivffr").toString
    Similarity.ivfAdcBuildIndex(all, fresh, nCells = 3, m = 2, ksub = 4)
    val a = Similarity.ivfAdcSearchWith(all, idx, 1, nProbe = 1,
      shortlist = 3).collect().map(_.toSeq).toSet
    val b = Similarity.ivfAdcSearchWith(all, fresh, 1, nProbe = 1,
      shortlist = 3).collect().map(_.toSeq).toSet
    assert(a === b)
    // a NEW snapshot was published (prior views keep serving)…
    assert(graft.operators.Layout.snapshotHistory(spark, s"$idx/codes")
      .count() === preOptSnapshots + 1)
    // …and the rewritten codes are cell-clustered: the MANIFEST's
    // per-file cell ranges must not overlap, so a probe-restricted
    // scan prunes files at planning time
    val ranges = graft.operators.Layout.snapshotFiles(spark, s"$idx/codes")
      .flatMap { e =>
        val st = e.stats("cell")
        for (mn <- st.min; mx <- st.max) yield (mn.toLong, mx.toLong)
      }.sortBy(_._1)
    assert(ranges.nonEmpty)
    assert(ranges.sliding(2).forall {
      case Seq((_, hi), (lo, _)) => hi <= lo
      case _ => true
    }, s"overlapping cell ranges across files: $ranges")
  }

  test("ivfAdcIndexOptimize: a failed data-table write leaves the previous meta and search") {
    import spark.implicits._
    val dirs = Seq(
      Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f),
      Array(0f, 1f, 0f, 0f, 0f, 1f, 0f, 0f),
      Array(0f, 0f, 1f, 0f, 0f, 0f, 1f, 0f))
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivffail").toString
    (0 until 9).map(i => (i.toLong, dirs(i % 3).map(x => x * (1f + 0.01f * (i / 3))), "en"))
      .toDF("id", "embedding", "lang").write.parquet(s"$tmp/vecs")
    val vecs = spark.read.parquet(s"$tmp/vecs")
    val idx = s"$tmp/idx"
    Similarity.ivfAdcBuildIndex(vecs, idx, nCells = 3, m = 2, ksub = 4,
      attrCols = Seq("lang"))
    def search() = Similarity.ivfAdcSearchWith(vecs, idx, 1, nProbe = 1,
      shortlist = 3).collect().map(_.toSeq).toSet
    def snapshots(t: String) = graft.operators.Layout.snapshotHistory(spark, s"$idx/$t").count()
    val (before, metaBefore, centBefore) = (search(), snapshots("meta"), snapshots("centroids"))
    // a SHIFTED corpus: the lowest ids (the seeds) now point along other
    // directions, so the retrained centroids and codebooks differ from
    // the built ones. Training succeeds and publishes them; only the
    // codes write reads the attr column, and it fails on one row
    (0 until 9).map(i => (i.toLong, dirs((i + 1) % 3).map(x => x * (1f + 0.01f * (i / 3))), "en"))
      .toDF("id", "embedding", "lang").write.parquet(s"$tmp/shifted")
    val poisoned = spark.read.parquet(s"$tmp/shifted").withColumn("lang",
        when(col("id") === 4L, raise_error(lit("codes write fails"))).otherwise(col("lang")))
    intercept[Exception](Similarity.ivfAdcIndexOptimize(poisoned, idx))
    assert(snapshots("centroids") > centBefore) // new quantizers were published
    assert(snapshots("meta") === metaBefore)
    // search reads the quantizers meta pins, consistent with the old codes
    assert(search() === before)
  }

  test("ivfAdcSearchWith sizes its ADC tables by meta ksub when a codebook cluster empties") {
    import spark.implicits._
    // ids 0 and 1 are the same vector, so in every subspace seed cid 1
    // ties cid 0, loses every assignment and drops out of the trained
    // codebook: each book holds cids {0, 2, 3} of ksub = 4
    val vecs = Seq(
      Array(1f, 0f, 1f, 0f), Array(1f, 0f, 1f, 0f), Array(0f, 1f, 0f, 1f),
      Array(1f, 1f, 0f, 0f), Array(0.9f, 0.1f, 1f, 0f), Array(0f, 1f, 0.1f, 1f),
      Array(1f, 1f, 0.1f, 0f), Array(0.5f, 0.5f, 0.5f, 0.2f))
      .zipWithIndex.map { case (e, i) => (i.toLong, e) }.toDF("id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("graft_ivfksub").toString + "/idx"
    Similarity.ivfAdcBuildIndex(vecs, idx, nCells = 2, m = 2, ksub = 4)
    val stored = Similarity.ivfAdcSearchWith(vecs, idx, 2, nProbe = 2, shortlist = 8)
    val direct = Similarity.ivfAdcRerankTopK(vecs, 2, nCells = 2, nProbe = 2,
      shortlist = 8, m = 2, ksub = 4)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq.sortBy(_.toString)
    assert(rows(stored) === rows(direct))
  }

  test("a zero vector scores a null cosine that ranks last instead of failing") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f, 0f)), (2L, Array(0.9f, 0.1f, 0f, 0f)),
      (3L, Array(0f, 0f, 0f, 0f)), (4L, Array(0.5f, 0.5f, 0.1f, 0f)))
      .toDF("id", "embedding")
    // every vector has non-negative leading dims, so each multi-table
    // key collides and the candidate stage sees all pairs
    for ((name, out) <- Seq(
        "bruteForceTopK" -> Similarity.bruteForceTopK(vecs, vecs, 3),
        "multiTableAnnTopK" -> Similarity.multiTableAnnTopK(vecs, 3, bits = 2, tables = 2))) {
      val rows = out.collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"), Option(r.getAs[java.lang.Double]("cos")),
        r.getAs[Int]("rank")))
      assert(rows.length == 12, name)
      rows.filter(r => r._1 == 3L || r._2 == 3L).foreach(r => assert(r._3.isEmpty, s"$name $r"))
      rows.filter(r => r._1 != 3L && r._2 != 3L).foreach(r => assert(r._3.isDefined, s"$name $r"))
      for (q <- Seq(1L, 2L, 4L))
        assert(rows.filter(_._1 == q).maxBy(_._4)._2 == 3L, s"$name query $q")
      // the zero vector's own neighbors tie on null: by neighbor id
      assert(rows.filter(_._1 == 3L).sortBy(_._4).map(_._2).toSeq == Seq(1L, 2L, 4L), name)
    }
  }

  test("ADC distance: kernel and literal terms agree on an out-of-range code") {
    // two subspaces of 4 two-dim centroids; row 1's subspace-1 code is 9
    def books: Array[Similarity.Codebook] = Array.tabulate(2)(s =>
      Array.tabulate(4) { c =>
        val ce = Array(c + s.toDouble, 1.0 - c)
        (c.toLong, ce, ce.map(x => x * x).sum)
      })
    def distances(useLitTerms: Boolean): Seq[Option[Double]] =
      spark.range(2).select(
        lit(3L).as("a0"),
        when(col("id") === 1L, lit(9L)).otherwise(lit(1L)).as("a1"),
        typedLit(Seq(0.5, -1.0)).as("qsub0"), typedLit(Seq(2.0, 0.25)).as("qsub1"),
        lit(1.25).as("qnv0"), lit(4.0625).as("qnv1"))
        .select(Similarity.adcDistance(books, m = 2, ksub = 4, dsub = 2, useLitTerms))
        .collect().map(r => Option.when(!r.isNullAt(0))(r.getDouble(0))).toSeq
    val saved = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "false")
      val kernel = distances(useLitTerms = false)
      assert(kernel === distances(useLitTerms = true))
      assert(kernel(0).isDefined && kernel(1).isEmpty)
      spark.conf.set("spark.sql.ansi.enabled", "true")
      intercept[Exception](distances(useLitTerms = false))
      intercept[Exception](distances(useLitTerms = true))
    } finally spark.conf.set("spark.sql.ansi.enabled", saved)
  }

  test("pqAdcTopK finds each vector's planted near-twin from codes alone") {
    import spark.implicits._
    // three well-separated directions in dim 8, two vectors per
    // direction (ids i and i+3, tiny magnitude jitter); the 4 seeds
    // (ids 0-3) cover every direction
    val dirs = Seq(
      Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f),
      Array(0f, 1f, 0f, 0f, 0f, 1f, 0f, 0f),
      Array(0f, 0f, 1f, 0f, 0f, 0f, 1f, 0f))
    val vecs = (0 until 6).map { i =>
      (i.toLong, dirs(i % 3).map(x => x * (1f + 0.01f * (i / 3))))
    }.toDF("id", "embedding")
    val top1 = Similarity.pqAdcTopK(vecs, 1, m = 2, ksub = 4, iters = 1)
      .collect().map(r =>
        (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toMap
    assert(top1 == Map(0L -> 3L, 3L -> 0L, 1L -> 4L, 4L -> 1L, 2L -> 5L, 5L -> 2L))
    val codes = Similarity.pqEncode(vecs, m = 2, ksub = 4, iters = 1).collect()
    assert(codes.length == 12) // 6 vectors x 2 subspaces
    assert(codes.forall(r => r.getLong(2) >= 0 && r.getLong(2) < 4))
  }

  test("duplicateSpans flags non-first shingle occurrences merged into maximal spans") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f x y z w v u"), // keeper of "a b c d e f"
      (2L, "p q a b c d e f r s t"), // repeats it at token 2
      (3L, "m n o m n o m n o m n o") // period-3 self-repetition (positive case)
    ).toDF("doc_id", "text")
    val spans = Corpus.duplicateSpans(docs, "doc_id", "text", shingleN = 5)
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getInt(2), r.getLong(3))))
    // doc 2: shingles at pos 2 ("a b c d e") and 3 ("b c d e f") are
    // duplicates of doc 1's pos 0/1 → one merged span covering tokens
    // 2..7, two shingles
    assert(spans.contains((2L, (2, 7, 2L))))
    // doc 1 is the keeper — no span starts there from that run
    assert(!spans.exists { case (d, (s, _, _)) => d == 1L && s == 0 })
    // doc 3's period-3 self repetition: "m n o m n o" at pos 0 repeats
    // at pos 3, etc. — the non-first occurrences merge into one span
    val d3 = spans.filter(_._1 == 3L)
    assert(d3.nonEmpty && d3.forall { case (_, (s, e, _)) => s >= 1 && e <= 11 })

    // removal consumer: doc 2 loses tokens 2..7 (keeps "p q r s t"),
    // doc 1 (the keeper) keeps all 12
    val cleaned = Corpus.removeDuplicateSpans(docs, "doc_id", "text", shingleN = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cleaned(2L) == 5L && cleaned(1L) == 12L)
  }

  test("bm25 rewards tf and penalizes length; inverted index pins postings") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark spark spark fast"),
      (2L, "spark slow slow slow slow slow slow slow slow slow"),
      (3L, "other words only here")
    ).toDF("doc_id", "text")
    val top = Corpus.bm25TopK(docs, "doc_id", "text",
      query = Seq("spark", "fast"), k = 3).collect()
    // doc 3 has no query terms → absent; doc 1 beats 2 (higher tf,
    // matches the rare term, shorter)
    assert(top.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(top.head.getDouble(1) > top(1).getDouble(1))
    val idx = Corpus.invertedIndex(docs, "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(idx("spark") == 2L && idx("slow") == 1L && idx("other") == 1L)
  }

  test("heavyHitters is exact above N/k across partitioned Misra-Gries passes") {
    import spark.implicits._
    // 100 tokens: alpha 60, beta 25, w1..w15 once each; spread over 7
    // partitions so the per-partition summaries really decrement.
    val words = Seq.fill(60)("alpha") ++ Seq.fill(25)("beta") ++
      (1 to 15).map(i => s"w$i")
    val docs = words.zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
      .repartition(7)
    def hh(k: Int): Map[String, Long] =
      Corpus.heavyHitters(docs, "text", k).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(hh(3) == Map("alpha" -> 60L)) // threshold 33.3: beta=25 excluded
    assert(hh(5) == Map("alpha" -> 60L, "beta" -> 25L)) // threshold 20
  }

  test("quantizeInt8 codes round(x/scale) and zero vectors code to zero") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("id", "embedding")
    val out = Similarity.quantizeInt8(vecs).collect()
      .map(r => (r.getLong(0), (r.getDouble(1), r.getSeq[Int](2)))).toMap
    // amax=1 → scale=1/127; 0.5/scale=63.5 rounds away from zero to 64
    assert(out(1L)._2 == Seq(64, -127, 32, 0))
    assert(math.abs(out(1L)._1 - 1.0 / 127) < 1e-6)
    assert(out(2L) == ((0.0, Seq(0, 0, 0, 0))))
  }

  test("int8TopK preserves the float-space nearest neighbor") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.1f, 0.0f, 0.05f)),
      (2L, Array(0.9f, 0.12f, 0.01f, 0.04f)), // near-parallel to 1
      (3L, Array(-0.2f, 1.0f, 0.3f, -0.5f)),
      (4L, Array(-0.1f, 0.9f, 0.35f, -0.45f)) // near-parallel to 3
    ).toDF("id", "embedding")
    def rank1(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.filter(col("rank") === 1)
        .collect().map(r =>
          (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toMap
    val q = rank1(Similarity.int8TopK(vecs, 1))
    val f = rank1(Similarity.bruteForceTopK(vecs, vecs, 1))
    assert(q == f && q == Map(1L -> 2L, 2L -> 1L, 3L -> 4L, 4L -> 3L))
  }

  test("semDedup: removed == larger ids of within-cluster pairs >= threshold (brute check)") {
    val sf = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding"))
    val threshold = 0.2
    val out = Similarity.semDedup(e, k = 8, iters = 2, threshold = threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val clusters = Similarity.kmeansAssign(e, k = 8, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // one row per input vector, cluster column equals kmeansAssign
    assert(out.length == clusters.size)
    out.foreach { case (id, c, _) => assert(clusters(id) == c) }
    // brute-force the removal rule driver-side with the engine's
    // rounding (HALF_UP to 4 dp, the round() semantics)
    val vecs = e.collect().map { r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray
    }.sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0 || nb == 0) Double.NaN
      else BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs
      if ia < ib && clusters(ia) == clusters(ib)
      c = cos(va, vb) if !c.isNaN && c >= threshold
    } yield ib).toSet
    assert(expected.nonEmpty, "fixture must contain within-cluster near-dups")
    assert(out.filter(_._3).map(_._1).toSet == expected)
  }

  test("incrementalDedup drops batch docs near-duplicating history only") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val hist = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "an entirely different sentence about spark execution plans"))
      .toDF("doc_id", "text")
    val batch = Seq(
      // exact copy of history doc 1 → must drop
      (101L, "the quick brown fox jumps over the lazy dog again and again"),
      // near-copy (one token changed) → must drop at 0.5
      (102L, "the quick brown fox jumps over the lazy cat again and again"),
      // unrelated → must survive
      (103L, "completely novel content sharing no shingles with anything"),
      // near-dup of ANOTHER BATCH doc but nothing in history → survives
      // (the pass is bipartite: batch×history only, never batch×batch)
      (104L, "completely novel content sharing no shingles with anybody"))
      .toDF("doc_id", "text")
    val kept = Dedup.incrementalDedup(batch, hist, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(103L, 104L), s"got $kept")
  }

  test("incrementalDedup against PERSISTED signatures equals the direct pass") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val hist = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "an entirely different sentence about spark execution plans"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (101L, "the quick brown fox jumps over the lazy dog again and again"),
      (103L, "completely novel content sharing no shingles with anything"))
      .toDF("doc_id", "text")
    val sigDir = java.nio.file.Files
      .createTempDirectory("graft_sigs").toString + "/sigs"
    // write the corpus signatures once, reload from disk — the deployed
    // round trip (signature schema survives parquet)
    Dedup.minhashSignatures(hist, "doc_id", "text")
      .write.mode("overwrite").parquet(sigDir)
    val fromDisk = Dedup.incrementalDedupAgainstSignatures(
      batch, spark.read.parquet(sigDir), "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    val direct = Dedup.incrementalDedup(batch, hist, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(fromDisk == direct && fromDisk == Set(103L), s"got $fromDisk")
  }

  test("fuzzyDedup keeps cluster minima and all unpaired docs") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val docs = Seq(
      (5L, "aa bb cc dd ee ff gg hh ii jj"),
      (3L, "aa bb cc dd ee ff gg hh ii jj"), // exact dup, smaller id wins
      (9L, "zz yy xx ww vv uu tt ss rr qq"))
      .toDF("doc_id", "text")
    val kept = Dedup.fuzzyDedup(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(3L, 9L), s"got $kept")
  }

  test("pcaProject recovers the dominant axis (vs local reference)") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    // points spread along direction (3, 1, 0, 0) with small off-axis
    // jitter — PC1 must capture the (3, 1) axis
    val data = (0 until 60).map { i =>
      val t = (i - 30).toDouble
      (i.toLong, Seq(3.0 * t + (i % 3) * 0.1, t - (i % 5) * 0.1,
        (i % 7) * 0.05, (i % 2) * 0.05).map(_.toFloat))
    }
    val df = data.toDF("vec_id", "embedding")
    val got = Similarity.pcaProject(df, "vec_id", "embedding", iterations = 30)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // local reference: identical mean/covariance/power-iteration math
    val n = data.size
    val d = 4
    val xs = data.map(_._2.map(_.toDouble).toArray)
    val mu = (0 until d).map(j => xs.map(_(j)).sum / n).toArray
    val c = Array.tabulate(d, d)((i, j) =>
      xs.map(x => x(i) * x(j)).sum / n - mu(i) * mu(j))
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    for (_ <- 1 to 30) {
      val w = (0 until d).map(i => (0 until d).map(j => c(i)(j) * v(j)).sum).toArray
      val nrm = math.sqrt(w.map(x => x * x).sum)
      v = w.map(_ / nrm)
    }
    val shift = mu.zip(v).map { case (m, vi) => m * vi }.sum
    data.foreach { case (id, e) =>
      val exp = e.map(_.toDouble).zip(v).map { case (x, vi) => x * vi }.sum - shift
      // the operator rounds pc1 to 4 decimals — compare at that grain
      assert(math.abs(got(id) - exp) < 1e-4, s"id $id")
    }
    // the axis itself: |v| along (3,1)/sqrt(10) dominates
    assert(math.abs(math.abs(v(0)) - 3.0 / math.sqrt(10)) < 0.01)
  }

  test("pcaWhiten yields unit-variance, decorrelated components") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    // two strong anisotropic axes + weak noise dims: after whitening,
    // each kept component must carry sample variance 1 and the pair
    // must be uncorrelated (eigenvectors are orthogonal)
    val data = (0 until 200).map { i =>
      val t = (i - 100).toDouble
      val u = ((i * 37) % 41 - 20).toDouble
      (i.toLong,
        Seq(3.0 * t + 0.2 * u, t - 0.1 * u, u, (i % 2) * 0.05).map(_.toFloat))
    }
    val got = Similarity.pcaWhiten(data.toDF("vec_id", "embedding"),
      "vec_id", "embedding", k = 2, iterations = 50)
      .collect().map(r => (r.getDouble(1), r.getDouble(2)))
    val n = got.length.toDouble
    def mean(xs: Seq[Double]) = xs.sum / n
    val m1 = mean(got.map(_._1).toSeq); val m2 = mean(got.map(_._2).toSeq)
    val v1 = mean(got.map(x => (x._1 - m1) * (x._1 - m1)).toSeq)
    val v2 = mean(got.map(x => (x._2 - m2) * (x._2 - m2)).toSeq)
    val cv = mean(got.map(x => (x._1 - m1) * (x._2 - m2)).toSeq)
    assert(math.abs(v1 - 1.0) < 0.05, s"var(w1) = $v1")
    assert(math.abs(v2 - 1.0) < 0.05, s"var(w2) = $v2")
    assert(math.abs(cv) < 0.05, s"cov(w1, w2) = $cv")
    intercept[IllegalArgumentException](
      Similarity.pcaWhiten(data.toDF("vec_id", "embedding"),
        "vec_id", "embedding", k = 0))
  }

  private def lev(a: String, b: String): Int = {
    val dp = Array.tabulate(a.length + 1)(i => i)
    for (j <- 1 to b.length) {
      var prev = dp(0); dp(0) = j
      for (i <- 1 to a.length) {
        val cur = dp(i)
        dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
          prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
    }
    dp(a.length)
  }

  test("editDistancePairs equals the brute-force Levenshtein join " +
    "(random substitutions, deletions, insertions)") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val alpha = "abcdefgh"
    def randStr(n: Int) =
      (1 to n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    val basestrs = (0 until 40).map(i => (i.toLong, randStr(12 + rnd.nextInt(8))))
    val mutated = basestrs.flatMap { case (id, s) =>
      val pos = rnd.nextInt(s.length)
      val sub = s.updated(pos, alpha(rnd.nextInt(alpha.length)))
      val del = s.take(pos) + s.drop(pos + 1)
      val ins = s.take(pos) + alpha(rnd.nextInt(alpha.length)) + s.drop(pos)
      Seq((id + 100L, sub), (id + 200L, del), (id + 300L, ins))
    }
    // double mutations land some pairs at distance 2-3, exercising the
    // d=3 four-segment path with real shifts
    val doubled = basestrs.take(10).map { case (id, s) =>
      val p1 = rnd.nextInt(s.length)
      val del = s.take(p1) + s.drop(p1 + 1)
      val p2 = rnd.nextInt(del.length)
      (id + 400L, del.take(p2) + alpha(rnd.nextInt(alpha.length)) + del.drop(p2))
    }
    val all = basestrs ++ mutated ++ doubled
    val df = all.toDF("id", "s")
    for (d <- 1 to 3) {
      val got = Dedup.editDistancePairs(df, "id", "s", maxDist = d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val exp = (for {
        (i1, s1) <- all; (i2, s2) <- all if i1 < i2
        dist = lev(s1, s2) if dist <= d
      } yield (i1, i2, dist)).toSet
      assert(got == exp,
        s"d=$d missed ${exp -- got}, extra ${got -- exp}")
    }
  }

  test("substringDedup cuts cross-doc and within-doc repeats, keeps unique text") {
    import spark.implicits._
    def md5(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val shared = (1 to 6).map(i => s"boiler$i").mkString(" ") // 6-token run
    val u1 = (1 to 8).map(i => s"aa$i").mkString(" ")
    val u2 = (1 to 8).map(i => s"bb$i").mkString(" ")
    val u3 = (1 to 9).map(i => s"cc$i").mkString(" ")
    val rep = (1 to 5).map(i => s"rr$i").mkString(" ") // repeats within doc 4
    val docs = Seq(
      (1L, s"$u1 $shared"),
      (2L, s"$shared $u2"),
      (3L, u3),
      (4L, s"$rep $rep"),
      (5L, "short doc")).toDF("doc_id", "text")
    val out = Dedup.substringDedup(docs, "doc_id", "text", w = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    // the shared 6-token run is covered in both docs (every position of
    // it sits under a duplicated 5-gram); the unique prefixes survive
    assert(out(1L) == ((md5(u1), 14, 6)))
    assert(out(2L) == ((md5(u2), 14, 6)))
    // fully unique doc: untouched
    assert(out(3L) == ((md5(u3), 9, 0)))
    // within-doc repeat: "rr1..rr5 rr1..rr5" — the 5-gram (rr1..rr5)
    // occurs at starts 1 and 6, covering ALL 10 positions
    assert(out(4L) == ((md5(""), 10, 10)))
    // shorter than the window: no grams, nothing cut
    assert(out(5L)._2 == 2 && out(5L)._3 == 0)
  }

  test("winnowing: shared-substring guarantee, density bound, short docs absent") {
    import spark.implicits._
    val shared = "the quick brown fox jumps over the lazy dog tonight"
    val docs = Seq(
      (1L, s"AAAA start padding $shared end padding one"),
      (2L, s"completely different prefix text $shared different suffix"),
      (3L, "no overlap with anything else at all in this one text"),
      (4L, "tiny") // < k+w-1: absent
    ).toDF("doc_id", "text")
    val fps = graft.operators.Dedup.winnowingFingerprints(
      docs, "doc_id", "text", k = 8, w = 4, exploded = true)
      .as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    // the MOSS guarantee: a shared substring of length >= k+w-1 (=11;
    // `shared` is 51 chars) forces at least one common fingerprint
    assert((fps(1L) intersect fps(2L)).nonEmpty,
      "shared substring must share a fingerprint")
    // disjoint docs share (almost surely) nothing
    assert((fps(1L) intersect fps(3L)).isEmpty)
    assert(!fps.contains(4L), "sub-window doc must be absent")
    // density: selected set is a SKETCH — well under the gram count
    val nGrams1 = docs.filter($"doc_id" === 1L)
      .select(length($"text")).head().getInt(0) - 8 + 1
    assert(fps(1L).size < nGrams1 / 2, s"${fps(1L).size} of $nGrams1")
    // digest form agrees with the exploded set
    val dig = graft.operators.Dedup.winnowingFingerprints(
      docs, "doc_id", "text", k = 8, w = 4)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    fps.foreach { case (id, set) =>
      assert(dig(id) == ((set.size.toLong, set.map(_ % 1000000007L).sum)),
        s"doc $id digest")
    }
  }

  test("winnowing kernel == relational form on hostile unicode") {
    import spark.implicits._
    // multi-byte chars, an astral pair, repeats (tied window minima),
    // nulls, and the exact k+w-1 boundary — the code-point arithmetic
    // and deque tie-handling must match Spark's substr/min exactly
    val docs = Seq(
      (1L, "héllo wörld héllo wörld héllo wörld again and again"),
      (2L, "aaaaaaaaaaaaaaaaaaaaaaaa"), // all grams identical
      (3L, "x é世界😀 mixed 世界 text padding here"),
      (4L, "exactly11ch"), // == k+w-1 at k=8,w=4: one full window
      (5L, null.asInstanceOf[String]),
      (6L, "short")
    ).toDF("doc_id", "text")
    for (exploded <- Seq(true, false)) {
      val kern = graft.operators.Dedup.winnowingFingerprints(
        docs, "doc_id", "text", k = 8, w = 4, exploded = exploded)
      val rel = graft.operators.Dedup.winnowingRelational(
        docs, "doc_id", "text", k = 8, w = 4, exploded = exploded)
      val a = kern.collect().map(_.toSeq).toSet
      val b = rel.collect().map(_.toSeq).toSet
      assert(a == b, s"exploded=$exploded: kernel $a vs relational $b")
      assert(kern.count() == rel.count(), "multiplicity must match too")
    }
    // the kernel never hash-shuffles gram rows (the relational form's
    // two corpus-sized exchanges); the only Exchange allowed is the
    // round-robin INPUT spread the parallelism gate adds for a
    // one-file local table
    val plan = graft.operators.Dedup.winnowingFingerprints(
      docs, "doc_id", "text").queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning"),
      s"kernel must not hash-shuffle:\n$plan")
  }

  test("simhash 64-bit block join: complete vs independent brute force") {
    import spark.implicits._
    // Deterministic token-soup docs + planted twins: exact copies
    // (Hamming 0, all blocks collide) and one-token-appended copies
    // (±1 weight nudge per bit — some land within the radius, some
    // outside it, exercising both sides of the verify).
    val vocab = Seq("key", "agg", "row", "scan", "slow", "fast", "table",
      "value", "part", "hash", "join", "sort", "the", "data", "window")
    val base = (0 until 30).map { i =>
      val n = 20 + (i * 7) % 25
      (i.toLong, (0 until n).map(j => vocab((i * 31 + j * 17) % vocab.size))
        .mkString(" "))
    }
    val near = base.filter(_._1 % 3 == 0)
      .map { case (id, t) => (id + 1000, t + " the") }
    val exact = base.filter(_._1 % 4 == 0)
      .map { case (id, t) => (id + 2000, t) }
    val all = base ++ near ++ exact
    val got = Dedup.simhashNearDupPairs(
        all.toDF("doc_id", "text"), "doc_id", "text", radius = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // Independent JVM reimplementation of the signature + all-pairs
    // Hamming (no Spark expressions shared with the engine path).
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def sig(text: String): String = {
      val hs = text.trim.split("\\s+").filter(_.nonEmpty).map(md5hex)
      (0 until 64).map { b =>
        val nib = b / 4; val shift = 1 << (b % 4)
        val w = hs.map { h =>
          val c = h.charAt(nib)
          val v = if (c <= '9') c - '0' else c - 'a' + 10
          if ((v / shift) % 2 == 1) 1 else -1
        }.sum
        if (w > 0) '1' else '0'
      }.mkString
    }
    val sigs = all.map { case (id, t) => (id, sig(t)) }
    val exp = (for {
      (i, si) <- sigs; (j, sj) <- sigs if i < j
      d = si.zip(sj).count(p => p._1 != p._2) if d <= 3
    } yield (i, j, d)).toSet
    assert(exp.nonEmpty, "fixture must plant at least one pair")
    assert(exp.exists(_._3 == 0), "exact twins must land at Hamming 0")
    assert(got == exp, s"missed ${exp -- got}, extra ${got -- exp}")
  }

  test("cdcBoundaries: window-hash rule, content locality") {
    // hand-check against the shared polynomial rule
    val P = 257L; val M = 1000000007L
    val text = ("boundary locality check passage with enough bytes to " +
      "carry several windows and at least one split point somewhere")
    val bytes = text.getBytes("UTF-8")
    val expect = (15 until bytes.length - 1).filter { i =>
      var h = 0L; var pk = 1L
      (0 until 16).foreach { k =>
        h = (h + (bytes(i - k) & 0xff) * pk) % M
        pk = pk * P % M
      }
      h % 64 == 63
    }
    assert(Dedup.cdcBoundaries(bytes).toSeq == expect)
    // content locality: a shared passage placed after DIFFERENT
    // prefixes yields identical interior boundaries relative to the
    // passage (for windows fully inside it)
    val passage = "0123456789 the shared deduplicatable passage body " * 4
    val a = ("prefix one: " + passage).getBytes("UTF-8")
    val b = ("a much longer and different prefix text here: " + passage)
      .getBytes("UTF-8")
    val offA = a.length - passage.length
    val offB = b.length - passage.length
    val inA = Dedup.cdcBoundaries(a).filter(_ >= offA + 15).map(_ - offA)
    val inB = Dedup.cdcBoundaries(b).filter(_ >= offB + 15).map(_ - offB)
    assert(inA.toSeq == inB.toSeq && inA.nonEmpty)
  }

  test("cdcChunkDedup: shared passages collapse across documents") {
    import spark.implicits._
    val passage = " SHARED tail passage for the cdc dedup check, long " +
      "enough to carry interior boundaries: abcdefghij klmnopqrst " +
      "uvwxyz0123 4567890abc defghijklm nopqrstuvw xyz"
    val docs = Seq(
      (1L, "doc one body text " + passage),
      (2L, "a different and rather longer second document " + passage),
      (3L, "third " + passage)).toDF("doc_id", "text")
    val out = Dedup.cdcChunkDedup(docs).collect()
    // chunks reassemble: total chunk bytes per corpus == total bytes
    val totalBytes = docs.collect().map(_.getString(1).getBytes("UTF-8").length).sum
    assert(out.map(r => r.getAs[Int]("chunk_len") * r.getAs[Long]("n_copies")).sum
      == totalBytes)
    // at least one chunk is carried by all three documents
    assert(out.exists(r => r.getAs[Long]("n_docs") == 3L),
      "no cross-document shared chunk found")
  }
}
