package graft

import graft.operators.Corpus
import org.scalatest.funsuite.AnyFunSuite

class CurationOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("quantileBins: quartiles of 1..8 land 2 rows per bin, ties go low") {
    import spark.implicits._
    val df = (1 to 8).map(i => (i.toLong, i)).toDF("id", "v")
    val bins = Corpus.quantileBins(df, "v", 4)
      .collect().map(r => r.getInt(1) -> r.getInt(2)).toMap
    // cuts at p=0.25/0.5/0.75 of 1..8 → 2.75, 4.5, 6.25
    assert(bins == Map(1 -> 0, 2 -> 0, 3 -> 1, 4 -> 1, 5 -> 2, 6 -> 2,
      7 -> 3, 8 -> 3))
    // a value exactly ON a cut goes to the lower bin: cuts of 1..5 at
    // k=2 → median 3; 3 > 3 is false → bin 0
    val odd = (1 to 5).map(i => (i.toLong, i)).toDF("id", "v")
    val b3 = Corpus.quantileBins(odd, "v", 2)
      .filter($"v" === 3).select("bin").head().getInt(0)
    assert(b3 == 0)
  }

  test("quantileBins: no global sort, no window — broadcast cuts only") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, i)).toDF("id", "v")
    val plan = Corpus.quantileBins(df, "v", 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window in plan:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"global sort in plan:\n$plan")
  }

  test("snapshotMerge: updates win, inserts append, rest pass through") {
    import spark.implicits._
    val cur = Seq((1L, "one"), (2L, "two"), (3L, "three")).toDF("doc_id", "text")
    val upd = Seq((2L, "TWO"), (9L, "nine")).toDF("doc_id", "text")
    val got = Corpus.snapshotMerge(cur, upd, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "one", 2L -> "TWO", 3L -> "three", 9L -> "nine"))
  }

  test("snapshotMerge ships only the key column into the anti-join") {
    import spark.implicits._
    val cur = Seq((1L, "one")).toDF("doc_id", "text")
    val upd = Seq((2L, "x")).toDF("doc_id", "text")
    val plan = Corpus.snapshotMerge(cur, upd, "doc_id")
      .queryExecution.optimizedPlan.toString
    // the anti-join's right side must be the projected key, not the
    // full update rows
    assert(plan.contains("LeftAnti"), s"no anti join:\n$plan")
  }

  test("stratifiedTakeAgg reproduces the window form exactly, without a Window") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = (0L until 500L).map(i => (i, s"g${i % 3}")).toDF("doc_id", "lang")
    val viaWindow = Corpus.stratifiedTake(docs, "doc_id", "lang", k = 7)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val viaAgg = Corpus.stratifiedTakeAgg(docs, "doc_id", "lang", k = 7)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(viaAgg == viaWindow)
    val plan = Corpus.stratifiedTakeAgg(docs, "doc_id", "lang", k = 7)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"agg form must not plan a Window:\n$plan")
  }

  test("globalOrderIndex: dense 0..n-1 positions in total order, any partition count") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ids = scala.util.Random.shuffle((0L until 997L).toList)
    val df = ids.toDF("id").repartition(13)
    val expected = ids.sorted
      .sortBy(i => (java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8")).map(b => f"$b%02x").mkString, i))
    for (parts <- Seq("3", "32")) {
      val saved = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        val got = Corpus.globalOrderIndex(df,
          Seq(md5(col("id").cast("string")), col("id")))
          .collect().map(r => (r.getLong(1), r.getLong(0)))
          .sortBy(_._1)
        assert(got.map(_._1).toSeq == (0L until 997L),
          "positions must be dense 0..n-1")
        assert(got.map(_._2).toSeq == expected,
          s"order must match the md5 total order at $parts partitions")
      } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
    }
  }

  test("globalOrderIndex establishes order with a range exchange, not one partition") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = (1L to 100L).toDF("id")
    val sorted = df.repartitionByRange(4, md5(col("id").cast("string")))
      .sortWithinPartitions(md5(col("id").cast("string")))
    val plan = sorted.queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"), s"no range exchange:\n$plan")
    assert(!plan.contains("SinglePartition"), s"single-partition funnel:\n$plan")
  }

  test("weightedSample matches the A-ES key computed by hand") {
    import spark.implicits._
    val df = (1L to 200L).map(i => (i, 10L + i % 17)).toDF("id", "w")
    val got = Corpus.weightedSample(df, "id", "w", k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    def key(id: Long, w: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.substring(0, 8)
      val h = java.lang.Long.parseLong(hex, 16)
      math.log((h + 1).toDouble / 4294967296.0) / w
    }
    val exp = (1L to 200L).map(i => (i, key(i, 10L + i % 17)))
      .sortBy { case (id, k) => (-k, id) }.take(20)
    assert(got.map(_._1).toSeq == exp.map(_._1))
    got.zip(exp).foreach { case ((_, kg), (_, ke)) =>
      assert(math.abs(kg - ke) < 1e-12)
    }
  }

  test("weightedSample with k >= n returns every positive-weight row") {
    import spark.implicits._
    val df = Seq((1L, 5L), (2L, 0L), (3L, 7L)).toDF("id", "w")
    val got = Corpus.weightedSample(df, "id", "w", k = 10)
      .select("id").as[Long].collect().toSet
    assert(got == Set(1L, 3L)) // zero-weight row dropped
  }

  test("bpeTrain learns hand-computable merges with the tiebreak rule") {
    import spark.implicits._
    // vocab: aa×3, ab×2 → round 1 merges (a,a) cnt 3, round 2 (a,b) cnt 2,
    // then no pairs remain → early stop.
    val docs = Seq((1L, "aa ab aa"), (2L, "ab aa")).toDF("doc_id", "text")
    val out = Corpus.bpeTrain(docs, "text", merges = 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(out.toSeq == Seq((1, "a", "a", "aa", 3L), (2, "a", "b", "ab", 2L)))
  }

  test("bpeEncode applies the merge table in order, word-locally") {
    import spark.implicits._
    val docs = Seq((1L, "aa ab aa"), (2L, "aab xy2 b")).toDF("doc_id", "text")
    val rows = Corpus.bpeEncode(docs, "doc_id", "text",
      Seq(("a", "a"), ("a", "b")))
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getInt(2)))).toMap
    // doc 1: aa→(aa), ab→(ab), aa→(aa) = 3 tokens / 3 words
    assert(rows(1L) == ((3, 3)))
    // doc 2: aab→(aa)(b) after merge 1 only (no "(a)(b)" remains);
    // "xy2" is non-alpha (excluded); "b" stays one symbol → 3 tokens / 2 words
    assert(rows(2L) == ((2, 3)))
  }

  test("byteBpeTrain merges across UTF-8 continuation bytes") {
    import spark.implicits._
    // vocab: éé×3 (bytes c3 a9 c3 a9), ab×2 (61 62). Round-1 pair counts:
    // (c3,a9)=6, (a9,c3)=3, (61,62)=2 → merge c3a9; round 2 (c3a9,c3a9)=3;
    // round 3 (61,62)=2; then no pairs → early stop.
    val docs = Seq((1L, "éé ab éé"), (2L, "ab éé")).toDF("doc_id", "text")
    val out = Corpus.byteBpeTrain(docs, "text", merges = 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      (1, "c3", "a9", "c3a9", 6L),
      (2, "c3a9", "c3a9", "c3a9c3a9", 3L),
      (3, "61", "62", "6162", 2L)))
  }

  test("byteBpeEncode: byte fallback tokenizes unmerged words, cap excludes") {
    import spark.implicits._
    val docs = Seq(
      (1L, "éé ab"),              // both fully merged → 1 token each
      (2L, "xy 🚀"),              // no merge applies: 2 + 4 byte tokens
      (3L, "aaaaaaaaaaaaaaaaa")   // 17 bytes > 16-byte cap → excluded
    ).toDF("doc_id", "text")
    val rows = Corpus.byteBpeEncode(docs, "doc_id", "text",
      Seq(("c3", "a9"), ("c3a9", "c3a9"), ("61", "62")))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(rows(1L) == ((2, 2)))
    assert(rows(2L) == ((2, 6))) // fallback: every UTF-8 byte a token
    assert(rows(3L) == ((0, 0)))
  }

  test("wordpieceTrain picks the LIKELIHOOD argmax, not the count argmax") {
    import spark.implicits._
    // words: aa×2, ab×3, xy×1. Round-1 symbol counts a=7, b=3, x=1, y=1;
    // pair scores: (a,b) = 3/21, (a,a) = 2/49, (x,y) = 1/1 → WordPiece
    // merges the RARE-but-exclusive (x,y) first (BPE would take (a,b)).
    // Round 2: (a,b) 3/(7·3); round 3: (a,a) 2/(4·4); then no pairs.
    // the 13-char word is over the {1,12} word-length cap (the unigram
    // family's explicit-bound contract) — excluded from training, so
    // the expected merge table is unchanged by its presence
    val docs = Seq((1L, "aa ab aa"), (2L, "ab ab xy"),
      (3L, "abababababaab")).toDF("doc_id", "text")
    val out = Corpus.wordpieceTrain(docs, "text", merges = 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(out.toSeq == Seq(
      (1, "x", "y", "xy", 1L, 1L, 1L),
      (2, "a", "b", "ab", 3L, 7L, 3L),
      (3, "a", "a", "aa", 2L, 4L, 4L)))
  }

  test("the BPE-family trainers stop early and return only the learned rows") {
    import spark.implicits._
    // vocab: ab×2 — one adjacent pair, so one merge, whatever is asked
    val docs = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val cases = Seq[(String, Int => org.apache.spark.sql.DataFrame, Seq[Any], Seq[String])](
      ("bpeTrain", Corpus.bpeTrain(docs, "text", _),
        Seq(1, "a", "b", "ab", 2L), Seq("round", "lhs", "rhs", "merged", "cnt")),
      ("byteBpeTrain", Corpus.byteBpeTrain(docs, "text", _),
        Seq(1, "61", "62", "6162", 2L), Seq("round", "lhs", "rhs", "merged", "cnt")),
      ("wordpieceTrain", Corpus.wordpieceTrain(docs, "text", _),
        Seq(1, "a", "b", "ab", 2L, 2L, 2L, -0.693147),
        Seq("round", "lhs", "rhs", "merged", "pair_cnt", "lhs_cnt", "rhs_cnt",
          "score_ln")))
    for ((name, train, row, cols) <- cases) {
      val out = train(5)
      assert(out.columns.toSeq == cols, name)
      // round and the counts are non-nullable, the strings and score_ln not
      assert(out.schema.forall(f =>
        f.nullable != (f.name == "round" || f.name.endsWith("cnt"))), s"$name ${out.schema}")
      assert(out.collect().map(_.toSeq).toSeq == Seq(row), name)
    }
  }

  test("wordpieceEncode segments greedy longest-match-first with ## continuations") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aab xy b"),   // aab → aa + ##b (1 continuation); xy; b
      (2L, "ab"),         // one whole piece
      (3L, "123 !!!")     // no alpha words at all
    ).toDF("doc_id", "text")
    val rows = Corpus.wordpieceEncode(docs, "doc_id", "text",
      Seq("xy", "ab", "aa"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    assert(rows(1L) == ((3, 4, 1)))
    assert(rows(2L) == ((1, 1, 0)))
    assert(rows(3L) == ((0, 0, 0)))
  }

  test("tokenShards snake-balances token totals and is partitioning-invariant") {
    import spark.implicits._
    // token counts 10,9,...,3 over 2 shards: snake ranks 0,3,4,7 → shard
    // 0 (10+7+6+3 = 26) and 1,2,5,6 → shard 1 (9+8+5+4 = 26) — exact tie
    val docs = (0 until 8)
      .map(i => (i.toLong, Seq.fill(10 - i)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Corpus.tokenShards(docs, "doc_id", "text", nShards = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.length == 8)
    val byShard = got.groupBy(_._3).view.mapValues(_.map(_._2).sum).toMap
    assert(byShard == Map(0 -> 26L, 1 -> 26L), s"$byShard")
    assert(got.map { case (d, _, s) => d -> s }.toMap ==
      Map(0L -> 0, 1L -> 1, 2L -> 1, 3L -> 0, 4L -> 0, 5L -> 1, 6L -> 1, 7L -> 0))
    // the assignment must not depend on the INPUT's physical layout
    val re = Corpus.tokenShards(docs.repartition(7), "doc_id", "text", 2)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    assert(re == got.map(r => (r._1, r._3)).toMap)
    // larger fixture: 500 skewed docs over 8 shards stay within 15%
    val big = (1L to 500L)
      .map(i => (i, Seq.fill((i % 97 + 1).toInt)("t").mkString(" ")))
      .toDF("doc_id", "text")
    val sums = Corpus.tokenShards(big, "doc_id", "text", nShards = 8)
      .groupBy("shard").agg(org.apache.spark.sql.functions.sum("n_tokens"))
      .collect().map(_.getLong(1))
    assert(sums.length == 8)
    assert(sums.max.toDouble / sums.min <= 1.15, sums.mkString(","))
  }

  test("tokenShardsIncremental snakes the delta lightest-shard-first") {
    import spark.implicits._
    // current totals: shard 0 = 10, shard 1 = 4 → permutation [1, 0].
    val current = Seq((100L, 10L, 0), (101L, 4L, 1))
      .toDF("doc_id", "n_tokens", "shard")
    // delta token counts 8, 6, 5, 3 → ranks 0..3 fold to idx 0,1,1,0 →
    // shards 1, 0, 0, 1. Merged: shard 0 = 10+6+5 = 21, shard 1 = 4+8+3 = 15
    // (spread 6 ≤ initial spread 6 + largest delta doc 8 — the bound).
    val delta = Seq(
      (1L, Seq.fill(8)("w").mkString(" ")),
      (2L, Seq.fill(6)("w").mkString(" ")),
      (3L, Seq.fill(5)("w").mkString(" ")),
      (4L, Seq.fill(3)("w").mkString(" "))).toDF("doc_id", "text")
    val got = Corpus.tokenShardsIncremental(current, delta,
      "doc_id", "text", nShards = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(got == Map(1L -> 1, 2L -> 0, 3L -> 0, 4L -> 1))
  }

  test("tokenShardsIncremental treats never-assigned shards as empty") {
    import spark.implicits._
    // current covers only shard 2 of 3 → permutation [0, 1, 2]: the
    // heaviest delta doc lands in shard 0.
    val current = Seq((100L, 9L, 2)).toDF("doc_id", "n_tokens", "shard")
    val delta = Seq(
      (1L, "w w w"), (2L, "w w"), (3L, "w")).toDF("doc_id", "text")
    val got = Corpus.tokenShardsIncremental(current, delta,
      "doc_id", "text", nShards = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 2))
  }

  test("epochShuffle: order digests are partitioning-invariant, epochs differ") {
    import spark.implicits._
    val docs = (0L until 64L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    def run(parts: Int) =
      Corpus.epochShuffle(docs.repartition(parts), "doc_id",
        epochs = 2, nShards = 2)
        .collect().map(r => (r.getInt(0), r.getInt(1)) ->
          ((r.getLong(2), r.getString(3)))).toMap
    val a = run(1)
    val b = run(7)
    assert(a == b, "digest must not depend on input partitioning")
    assert(a.size == 4 && a.values.forall(_._1 == 32L))
    // a new epoch is a new permutation: same membership, different order
    assert(a((0, 0))._2 != a((1, 0))._2)
    assert(a((0, 1))._2 != a((1, 1))._2)
  }

  test("bm25PrfTopK mines expansion terms from feedback docs and re-ranks") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark fast query engine turbo"), // the only query-term doc
      (2L, "turbo engine zoom"),             // reachable ONLY via expansion
      (3L, "unrelated words entirely")
    ).toDF("doc_id", "text")
    val got = Corpus.bm25PrfTopK(docs, "doc_id", "text",
      query = Seq("spark"), k = 10, fbDocs = 1, fbTerms = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    // feedback doc = 1; its non-query terms tie on e → (e desc, term asc)
    // cuts to {engine, fast}
    assert(got.forall(_._3 == "engine,fast"), got.mkString(";"))
    assert(got.head._1 == 1L) // originals at 0.6 keep doc 1 on top
    val ids = got.map(_._1).toSet
    assert(ids.contains(2L), "expansion must surface the no-query-term doc")
    assert(!ids.contains(3L), "doc sharing no terms must not score")
    assert(got.forall(_._2 > 0.0))
  }

  test("kAnonymity flags equivalence classes below k with their l-diversity") {
    import spark.implicits._
    val df = Seq(
      ("us", "a", 1.0), ("us", "a", 2.0), ("us", "a", 2.0),
      ("de", "b", 3.0), ("de", "b", 4.0),
      ("fr", "c", 5.0)
    ).toDF("nation", "seg", "bal")
    val got = graft.operators.Curation
      .kAnonymity(df, Seq("nation", "seg"), "bal", k = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
      r.getLong(3), r.getBoolean(4))).toSet
    assert(got == Set(
      ("us", "a", 3L, 2L, false),
      ("de", "b", 2L, 2L, true),
      ("fr", "c", 1L, 1L, true)))
  }

  test("bpeTrain applies merges left-to-right non-overlapping") {
    import spark.implicits._
    // "aaa"×2: round 1 pair (a,a) counts BOTH adjacencies (cnt 4), the
    // merge rewrites (a)(a)(a) → (aa)(a), so round 2 is (aa,a) cnt 2.
    val docs = Seq((1L, "aaa aaa")).toDF("doc_id", "text")
    val out = Corpus.bpeTrain(docs, "text", merges = 2)
      .collect().map(r => (r.getInt(0), r.getString(3), r.getLong(4)))
    assert(out.toSeq == Seq((1, "aa", 4L), (2, "aaa", 2L)))
  }

  test("hashSplit is stable under partitioning; clusterSplit keeps near-dups on one side") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = (1L to 500L).map(i => (i, s"unique document body number $i with words " +
      s"alpha$i beta$i gamma$i delta$i")).toDF("doc_id", "text")
    val splits = Corpus.hashSplit(docs.select("doc_id"), "doc_id",
      Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val frac = splits.values.groupBy(identity).view.mapValues(_.size / 500.0)
    assert(frac("train") > 0.7 && frac("train") < 0.9, s"$frac")
    assert(frac.keySet == Set("train", "val", "test"))
    // membership is a pure function of the key — partitioning invariant
    val again = Corpus.hashSplit(docs.repartition(17).select("doc_id"),
      "doc_id", Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == splits)

    // plant near-duplicate pairs: each 9000-block doc duplicates doc i
    // with one token changed — LSH must cluster them, and the split
    // must put both on the SAME side even though their own ids hash to
    // different buckets
    val dups = (1L to 40L).map { i =>
      (9000L + i, s"unique document body number $i with words " +
        s"alpha$i beta$i gamma$i CHANGED")
    }.toDF("doc_id", "text")
    val cs = Corpus.clusterSplit(docs.unionByName(dups), "doc_id", "text",
      Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byId = cs.map(r => r._1 -> r._3).toMap
    val clusterOf = cs.map(r => r._1 -> r._2).toMap
    var clustered = 0
    (1L to 40L).foreach { i =>
      if (clusterOf(i) == clusterOf(9000L + i)) {
        clustered += 1
        assert(byId(i) == byId(9000L + i),
          s"near-dup pair ($i, ${9000 + i}) split across sides")
      }
    }
    assert(clustered > 20, s"LSH clustered only $clustered/40 planted pairs")
    // sanity: the planted-pair docs' own ids would NOT all have agreed
    val naive = Corpus.hashSplit(docs.unionByName(dups).select("doc_id"),
      "doc_id", Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert((1L to 40L).exists(i => naive(i) != naive(9000L + i)),
      "fixture too easy: naive split never disagrees")
  }

  test("spanCorrupt: audit counts consistent, clean docs pass through, empty docs survive") {
    import spark.implicits._
    def md5(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = ((1L to 50L).map(i => (i, s"alpha beta gamma delta epsilon zeta tok$i more words here")) :+
      (99L, "") :+ (100L, "   ")).toDF("doc_id", "text")
    val out = Corpus.spanCorrupt(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getInt(3), r.getInt(4)))).toMap
    assert(out.size == 52)
    out.foreach { case (id, (inMd5, tgtMd5, spans, noise)) =>
      assert(spans <= noise, s"doc $id: more spans than noise tokens")
      if (noise == 0) {
        // clean doc: target empty, input is the tokens rejoined
        assert(tgtMd5 == md5(""), s"doc $id")
        if (id <= 50L) assert(inMd5 != md5(""), s"doc $id")
      } else assert(spans >= 1)
    }
    // empty / whitespace-only docs: both sides hash the empty string
    assert(out(99L) == ((md5(""), md5(""), 0, 0)))
    assert(out(100L) == ((md5(""), md5(""), 0, 0)))
    // the mask is deterministic: same input, same digests on a re-run
    val again = Corpus.spanCorrupt(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == out.map { case (k, v) => k -> v._1 })
  }

  test("staged curate survives losing every checkpoint block AND the source table") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a corpus with exact dups (every 3rd id repeats text) and quality
    // spread, written to disk so "the source dies" is a real event
    val srcDir = java.nio.file.Files.createTempDirectory("graft_stage_src").toString
    val staging = java.nio.file.Files.createTempDirectory("graft_stage_dir").toString
    val docs = (1L to 200L).map { i =>
      val words = "the quick brown fox jumps over the lazy dog and runs to town in the morning"
      (i, s"doc ${i % 67} $words $words")
    }.toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(srcDir)
    val expect = graft.operators.Curation
      .curate(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val staged = graft.operators.Curation
      .curate(spark.read.parquet(srcDir), "doc_id", "text",
        staging = Some(staging))
    // staged mode materialized durable snapshot tables per stage
    assert(new java.io.File(s"$staging/gated/manifest-1.json").exists())
    assert(new java.io.File(s"$staging/exact_deduped/manifest-1.json").exists())
    // executor preemption: every localCheckpoint block dies …
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    // … and so does the source table
    graft.queries.Fixtures.fresh(srcDir)
    // the staged pipeline's lineage references only committed staged
    // tables — it still evaluates, and to the same answer
    val got = staged.select("doc_id").as[Long].collect().sorted.toSeq
    assert(got == expect && got.nonEmpty)
  }

  test("naiveBayes: planted vocabularies classify back; smoothing exact via join") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // two classes with disjoint vocabularies + a little shared noise
    val good = (1L to 30L).map(i =>
      (i, s"clean prose article paragraph sentence common$i word", "good"))
    val junk = (31L to 60L).map(i =>
      (i, s"spam casino pills click banner common$i word", "junk"))
    val docs = (good ++ junk).toDF("doc_id", "text", "label")
    val pred = Corpus.naiveBayesClassify(docs, "doc_id", "text", "label")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // self-classification on separable vocab: every doc lands right
    (1L to 30L).foreach(i => assert(pred(i) == "good", s"doc $i"))
    (31L to 60L).foreach(i => assert(pred(i) == "junk", s"doc $i"))
    // score matrix: one row per (doc, class), scores strictly negative
    val scores = Corpus.naiveBayesScores(docs, "doc_id", "text", "label")
      .collect()
    assert(scores.length == 120)
    assert(scores.forall(_.getDouble(2) < 0.0))
    // determinism
    val again = Corpus.naiveBayesClassify(docs, "doc_id", "text", "label")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == pred)
    // a doc whose tokens were NEVER seen still scores (smoothing-only
    // path: matched sum = 0 for the unseen buckets, no crash, no null)
    val withEmpty = docs.unionByName(
      Seq((99L, "zzzz qqqq xxxx", "good")).toDF("doc_id", "text", "label"))
    val s99 = Corpus.naiveBayesScores(withEmpty, "doc_id", "text", "label")
      .filter(col("doc_id") === 99L).collect()
    assert(s99.length == 2 && s99.forall(!_.isNullAt(2)))
    // a class whose documents ALL tokenize to zero tokens must still
    // get a prior and a (pure-smoothing) denominator — an inner join
    // from the token side would silently make it unpredictable
    val withZeroTokClass = docs.unionByName(
      Seq((200L, "   ", "empty"), (201L, "", "empty"))
        .toDF("doc_id", "text", "label"))
    val (_, cs) = Corpus.naiveBayesModel(
      withZeroTokClass, "doc_id", "text", "label")
    val csRows = cs.collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(csRows.contains("empty"), "zero-token class must keep a prior")
    assert(csRows("empty")._1 == math.log(2.0 / 62.0))
    assert(csRows("empty")._2 == math.log(4096.0))
    // and the score matrix covers it: 3 classes × every doc
    val s3 = Corpus.naiveBayesScores(
      withZeroTokClass, "doc_id", "text", "label")
    assert(s3.count() == 62 * 3)
  }

  test("fimTransform: lossless three-part split, sentinels ordered, short docs pass") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "abcdefghijklmnopqrstuvwxyz"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "tiny"), // < minLen: untouched
      (4L, "exactly8")
    ).toDF("doc_id", "text")
    val out = Corpus.fimTransform(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(out(3L) == ("none", "tiny"))
    val texts = Map(1L -> "abcdefghijklmnopqrstuvwxyz",
      2L -> "the quick brown fox jumps over the lazy dog",
      4L -> "exactly8")
    Seq(1L, 2L, 4L).foreach { id =>
      val (mode, fim) = out(id)
      assert(mode == "psm" || mode == "spm", s"doc $id mode $mode")
      // parse back by sentinels and check losslessness + non-emptiness
      val (p, s, m) =
        if (mode == "psm") {
          val a = fim.stripPrefix("<PRE>").split("<SUF>", 2)
          val b = a(1).split("<MID>", 2)
          (a(0), b(0), b(1))
        } else {
          val a = fim.stripPrefix("<SUF>").split("<PRE>", 2)
          val b = a(1).split("<MID>", 2)
          (b(0), a(0), b(1))
        }
      assert(p.nonEmpty && m.nonEmpty && s.nonEmpty, s"doc $id empty part")
      assert(p + m + s == texts(id), s"doc $id not lossless: '$p'+'$m'+'$s'")
    }
    // determinism
    val again = Corpus.fimTransform(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(again == out)
    // both orderings appear over a larger sample (the 50/50 hash gate)
    val many = (1L to 200L).map(i => (i, "x" * 20)).toDF("doc_id", "text")
    val modes = Corpus.fimTransform(many, "doc_id", "text")
      .select("mode").as[String].collect()
    assert(modes.count(_ == "psm") > 50 && modes.count(_ == "spm") > 50)
  }

  test("dsirWeights/dsirSelect: target-domain docs outrank, draws deterministic") {
    import spark.implicits._
    import graft.operators.Corpus
    // two disjoint vocabularies: ids 1-10 speak the target's language,
    // ids 11-20 don't; id 21 has no tokens at all
    val raw = ((1L to 10L).map(i => (i, s"alpha beta gamma delta tok$i")) ++
      (11L to 20L).map(i => (i, s"omega psi chi phi tok$i")) ++
      Seq((21L, "   "))).toDF("doc_id", "text")
    val target = (1L to 40L)
      .map(i => (1000L + i, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val w = Corpus.dsirWeights(raw, target, "doc_id", "text", buckets = 256)
      .as[(Long, Double)].collect().toMap
    assert(w.size === 21, "one weight per raw doc, zero-token included")
    assert(w(21L) === 0.0, "no tokens, no evidence")
    val aMin = (1L to 10L).map(w).min
    val bMax = (11L to 20L).map(w).max
    assert(aMin > bMax,
      s"every target-like doc must outrank every off-domain doc " +
        s"($aMin vs $bMax)")
    // noiseless selection is exactly the target-like set
    val picked = Corpus.dsirSelect(raw, target, "doc_id", "text",
      k = 10, buckets = 256, noisy = false)
      .select("doc_id").as[Long].collect().toSet
    assert(picked === (1L to 10L).toSet)
    // the Gumbel draw is a pure function of (id, seed): same seed ==
    // same selection, and it still returns exactly k rows
    val s1 = Corpus.dsirSelect(raw, target, "doc_id", "text",
      k = 8, buckets = 256, seed = 7L)
      .select("doc_id").as[Long].collect().toSeq
    val s2 = Corpus.dsirSelect(raw, target, "doc_id", "text",
      k = 8, buckets = 256, seed = 7L)
      .select("doc_id").as[Long].collect().toSeq
    assert(s1 === s2 && s1.size === 8)
  }

  test("temperatureWeights: alpha=1 keeps shares, alpha<1 flattens, sums to 1") {
    import spark.implicits._
    // 80/20 split across two sources
    val docs = ((1 to 80).map(i => (i.toLong, "big")) ++
      (81 to 100).map(i => (i.toLong, "small"))).toDF("doc_id", "source")
    def weights(a: Double): Map[String, Double] =
      graft.operators.Corpus.temperatureWeights(docs, "source", a)
        .as[(String, Long, Double)].collect()
        .map(r => r._1 -> r._3).toMap
    val natural = weights(1.0)
    assert(math.abs(natural("big") - 0.8) < 1e-6 &&
      math.abs(natural("small") - 0.2) < 1e-6)
    val cooled = weights(0.5)
    // sqrt(0.8)/(sqrt(0.8)+sqrt(0.2)) = 2/3: small source gains share
    assert(math.abs(cooled("big") - 2.0 / 3) < 1e-6, s"got $cooled")
    assert(cooled("small") > natural("small"))
    assert(math.abs(cooled.values.sum - 1.0) < 1e-5)
  }
}
