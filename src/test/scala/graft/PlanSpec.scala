package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the optimizations the 100 TB design relies
  * on must actually appear in the plan, not just be hoped for.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q02: filter is pushed to the parquet scan and columns are pruned") {
    val plan = planOf("q02_filter_project")
    assert(plan.contains("PushedFilters: ["), plan.take(800))
    assert(plan.contains("GreaterThan(l_quantity"), plan.take(800))
    // Pruned read schema: only the 4 referenced columns, not all 11.
    assert(!plan.contains("l_returnflag"), "scan should not read unused columns")
  }

  test("q137: filter is pushed to the ORC scan and columns are pruned") {
    val plan = planOf("q137_orc_roundtrip")
    assert(plan.contains("PushedFilters: ["), plan.take(800))
    assert(plan.contains("GreaterThan(n_chars"), plan.take(800))
    assert(!plan.contains("source"), "scan should not read unused columns")
  }

  test("q140: props is parsed into VARIANT once, not once per extraction") {
    val plan = planOf("q140_variant_extract")
    assert("parseJson".r.findAllIn(plan).size == 1, plan.take(1200))
    assert("variant_get".r.findAllIn(plan).size == 3, plan.take(1200))
  }

  test("q232/q233: span corruption and hash split are narrow — no key shuffle, no join") {
    // both are per-row passes; a hash/range exchange would mean the
    // operator materialized per-token or per-bucket state it doesn't
    // need. (Parallelism.ensure's round-robin spread of a single-file
    // source is allowed — it moves rows, not keys.)
    for (q <- Seq("q232_span_corruption", "q233_hash_split")) {
      val plan = planOf(q)
      assert(!plan.contains("hashpartitioning"), s"$q: ${plan.take(1200)}")
      assert(!plan.contains("rangepartitioning"), s"$q: ${plan.take(1200)}")
      assert(!plan.contains("Join"), s"$q: ${plan.take(1200)}")
    }
  }

  test("q235/q236: substring dedup and margin mining plan without a cartesian") {
    for (q <- Seq("q235_substring_dedup", "q236_margin_mining")) {
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"), s"$q: ${plan.take(1200)}")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q: ${plan.take(1200)}")
    }
  }

  test("q351: the pHash pair search is a banded equi-join, never all-pairs") {
    // candidate generation must be the pigeonhole (blk, key) equi-join;
    // a cartesian or nested-loop here is the scale-killer the Manku
    // block layout exists to avoid
    val plan = planOf("q351_phash_neardup")
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
  }

  test("q141: the CMS gate filters BEFORE the single aggregation exchange") {
    val plan = planOf("q141_cms_heavy_hitters")
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected one exchange, got $exchanges")
    val gate = plan.indexOf("UDF")
    val exchange = plan.indexOf("Exchange")
    assert(gate >= 0, "sketch-probe filter missing from the plan")
    // executedPlan prints top-down: the gate must sit BELOW the exchange
    // (later in the string) = upstream of it at runtime
    assert(gate > exchange, "gate must run map-side, before the shuffle")
  }

  test("q03: dimension join is a broadcast hash join") {
    val plan = planOf("q03_join_broadcast")
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("q05: anti join does not fall back to cartesian") {
    val plan = planOf("q05_anti_join")
    assert(plan.contains("LeftAnti"), plan.take(800))
    assert(!plan.contains("CartesianProduct"))
  }

  test("q07: sort+limit plans as TakeOrderedAndProject (no global sort)") {
    val plan = planOf("q07_sort_limit")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
  }

  test("q10: rank<=k filter activates Spark's WindowGroupLimit pushdown") {
    // Spark 3.5+ infers a per-group limit from row_number()<=k filters
    // (InferWindowGroupLimit): each partition keeps only k rows per
    // group BEFORE the window sort/exchange. This built-in covers the
    // rank-top-k pattern — the reason the engine does NOT ship a custom
    // rewrite rule for it (Spark-first doctrine); the bounded
    // BoundedKAggregator.topTerms (q104) remains the tool for the SKEWED case
    // the pushdown doesn't fix (one hot group still sorts on one core).
    val plan = planOf("q10_window_rank")
    assert(plan.contains("WindowGroupLimit"), plan.take(1500))
  }

  test("q154: both robust-stat joins broadcast — the corpus is never re-shuffled") {
    val plan = planOf("q154_mad_outliers")
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    assert(!plan.contains("SortMergeJoin"),
      "per-lang stat tables must broadcast, not shuffle the corpus")
  }

  test("q155: CUBE plans as one Expand + hash agg, not 2^k scans") {
    val plan = planOf("q155_cube")
    assert(plan.contains("Expand"), plan.take(1200))
    assert(plan.linesIterator.count(_.contains("Scan parquet")) == 1,
      "the lattice must come from ONE scan")
  }

  test("a join against a small pinned frame plans a broadcast of it, no Exchange on its side") {
    import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.functions.col
    // 2,000 rows from a self-join: the optimizer estimates the join at
    // 2,000 × 2,000 rows' worth of bytes, far over the broadcast
    // threshold, while the pin holds 2,000 rows
    val ids = spark.range(0, 2000)
    val pinned = graft.operators.Staging.pin(
      ids.join(ids.select(col("id").as("id2")), col("id") === col("id2")),
      None, "plan-spec-small")
    val big = spark.range(0, 20000000L).select((col("id") % 4000).as("id"))
    val plan = big.join(pinned, "id").queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val joins = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(joins.size == 1, plan.toString)
    val build: SparkPlan = joins.head.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildLeft => joins.head.left
      case org.apache.spark.sql.catalyst.optimizer.BuildRight => joins.head.right
    }
    assert(build.isInstanceOf[BroadcastExchangeExec], plan.toString)
    assert(build.collect { case r: RDDScanExec => r }.nonEmpty, plan.toString)
    assert(build.collect { case e: ShuffleExchangeExec => e }.isEmpty, plan.toString)
  }

  test("a join against a pinned frame with a wide array column does not broadcast it") {
    import org.apache.spark.sql.execution.RDDScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.functions.{col, concat, lit, sequence, transform}
    // 2,000 rows of 400 shingle strings each: ~19 MB of row bytes, while
    // a per-type row width counts the array as one 20-byte string
    // (~36 B a row, ~72 KB in all) — under the 10 MB broadcast threshold
    val wide = graft.operators.Staging.pin(
      spark.range(0, 2000).select(col("id"),
        transform(sequence(lit(1), lit(400)),
          i => concat(lit("shingle-"), i.cast("string"))).as("shs")),
      None, "plan-spec-wide")
    val threshold = org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
    assert(wide.queryExecution.optimizedPlan.stats.sizeInBytes > threshold)
    val big = spark.range(0, 20000000L).select((col("id") % 4000).as("id"))
    val plan = big.join(wide, "id").queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val broadcastPins = plan.collect {
      case b: BroadcastExchangeExec if b.collect { case r: RDDScanExec => r }.nonEmpty => b
    }
    assert(broadcastPins.isEmpty, plan.toString)
  }

  test("q01: aggregation is partial (map-side combine) before the exchange") {
    val plan = planOf("q01_agg_sum")
    // Two HashAggregate nodes around one Exchange = partial + final.
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(800))
    assert(plan.contains("Exchange"))
  }

  // One table of Dedup's collision-join operators: LSH bands (q31), the
  // bipartite new × history band join (q136) and SimHash 16-bit blocks
  // (q170) must all plan their candidates as an equi join.
  for ((q, name, what) <- Seq(
      ("q31", "q31_minhash_lsh", "LSH candidate"),
      ("q136", "q136_incremental_dedup", "incremental (bipartite) LSH candidate"),
      ("q170", "q170_simhash_pairs", "SimHash block candidate")))
    test(s"$q: $what join is an equi join, never a cartesian") {
      val plan = planOf(name)
      assert(!plan.contains("CartesianProduct"), s"$name: ${plan.take(1200)}")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name: ${plan.take(1200)}")
    }

  // One table of every gated ANN funnel. Each plan must hold no
  // CartesianProduct; the only nested loop allowed is the coarse
  // assignment against the broadcast nCells-row centroid table
  // (cid, ce, cnorm).
  private object Ann extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
    import org.apache.spark.sql.functions.{col, floor}
    import graft.operators.Similarity
    lazy val emb = graft.Tables.embeddings(spark, sf)
    lazy val e = emb.select(col("vec_id").as("id"), col("embedding"))
    lazy val labeled = emb.select(col("vec_id").as("id"), col("embedding"), col("label"))
    lazy val idx = {
      val dir = java.nio.file.Files.createTempDirectory("graft_plan_ivf").toString + "/idx"
      Similarity.ivfAdcBuildIndex(e, dir, nCells = 8)
      dir
    }
    val funnels = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "bucketed" -> (() => Similarity.bucketedAnnTopK(e, 3)),
      "multi-probe" -> (() => Similarity.multiProbeAnnTopK(e, 3)),
      "multi-table" -> (() => Similarity.multiTableAnnTopK(e, 3, bits = 4, tables = 16)),
      "binary prefilter" -> (() => Similarity.binaryPrefilterTopK(e, 3, shortlist = 64)),
      "int8 prefilter" -> (() => Similarity.int8PrefilterTopK(e, 3)),
      "IVF" -> (() => Similarity.ivfTopK(e, 3, nCells = 8)),
      "IVF-ADC rerank" -> (() =>
        Similarity.ivfAdcRerankTopK(e, 3, nCells = 8, nProbe = 2, shortlist = 16)),
      "IVF-ADC index search" -> (() =>
        Similarity.ivfAdcSearchWith(e, idx, 3, nProbe = 2, shortlist = 16)),
      "hard negatives" -> (() => Similarity.hardNegativesTopK(labeled, 3)),
      "margin mining" -> (() => Similarity.marginMinePairs(labeled)),
      "maxsim" -> (() => Similarity.maxSimTopK(
        emb.select(floor(col("vec_id") / 5).cast("long").as("doc_id"),
          col("vec_id"), col("embedding")), "doc_id", "vec_id", "embedding", k = 3)))
  }

  for ((name, funnel) <- Ann.funnels) test(s"ANN funnel plan ($name): never cartesian") {
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val exec = funnel().queryExecution.executedPlan
    val plan = exec.toString
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    Ann.collect(exec) { case j: BroadcastNestedLoopJoinExec => j }.foreach { j =>
      val built = if (j.buildSide == BuildRight) j.right else j.left
      assert(built.output.map(_.name).contains("cnorm"), plan.take(1200))
    }
    // the Hamming kernel in the plan is the native expression, not a HOF
    if (name == "binary prefilter")
      assert(plan.contains("hamming_native"), plan.take(1200))
  }

  test("q68: TF-IDF corpus size joins as a broadcast, term join stays equi") {
    val plan = planOf("q68_tfidf")
    // the 1-row N aggregate must broadcast, not shuffle
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
  }

  test("q69: k-means assignment is narrow — no Exchange, no join at all") {
    val plan = planOf("q69_kmeans")
    // centroids are baked into the expression as literals; the final
    // assignment over the vectors must be a pure map: zero shuffles,
    // zero joins of any kind
    assert(!plan.contains("Exchange"), plan.take(1200))
    assert(!plan.contains("Join"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
  }

  test("large-k k-means assignment stays narrow: one native argmax, no Exchange/Join") {
    val e = graft.Tables.embeddings(spark, sf)
      .select(org.apache.spark.sql.functions.col("vec_id").as("id"),
        org.apache.spark.sql.functions.col("embedding"))
    val plan = graft.operators.Similarity.kmeansAssign(e, k = 100, iters = 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("cosine_argmax_native"), plan.take(1200))
    assert(!plan.contains("Exchange"), plan.take(1200))
    assert(!plan.contains("Join"), plan.take(1200))
  }

  test("q35: candidate self-join is a shuffled hash join, never a sort-merge or cartesian") {
    val plan = planOf("q35_ngram_jaccard")
    assert(plan.contains("ShuffledHashJoin"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
  }

  test("q36: the cosine kernel is the native dot expression, not the HOF") {
    val plan = planOf("q36_cosine_topk")
    assert(plan.contains("dot_native"), plan.take(1200))
  }

  test("q66: connected components' per-round joins are equi joins") {
    val plan = planOf("q66_dedup_clusters")
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
  }

  test("q74/q75: binned range joins are hash equi joins, never nested loops") {
    Seq("q74_range_join", "q75_interval_overlap").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"), s"$q: ${plan.take(600)}")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q: ${plan.take(600)}")
    }
  }

  test("PQ encode after training is narrow: literal-argmin map, no Exchange/Join") {
    val e = graft.Tables.embeddings(spark, sf)
      .select(org.apache.spark.sql.functions.col("vec_id").as("id"),
        org.apache.spark.sql.functions.col("embedding"))
    val plan = graft.operators.Similarity.pqEncode(e, m = 8, ksub = 16, iters = 1)
      .queryExecution.executedPlan.toString
    // codebooks ride the expression as literals; encode reads the
    // checkpointed base — zero shuffles, zero joins
    assert(!plan.contains("Exchange"), plan.take(1200))
    assert(!plan.contains("Join"), plan.take(1200))
  }

  test("heavy hitters recount: candidate gate adds no shuffle beyond the one aggregation") {
    val docs = graft.Tables.documents(spark, sf)
    val plan = graft.operators.Corpus.heavyHitters(docs, "text", k = 30)
      .queryExecution.executedPlan.toString
    // pass 2 = scan → explode → In-set filter → partial agg → ONE
    // exchange → final agg; the broadcast-set gate must not join
    assert("Exchange".r.findAllIn(plan).size == 1, plan.take(1200))
    assert(!plan.contains("Join"), plan.take(1200))
  }

  test("q94: BM25 top-k plans as TakeOrderedAndProject with the query-term gate inline") {
    val plan = planOf("q94_bm25")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1200))
    // the isin query-term filter must gate the exploded stream before
    // any aggregation exchange (it appears as an IN predicate)
    assert(plan.contains(" IN (") || plan.contains("INSET"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"))
  }

  test("q98: rolling-DAU day-spine join is a broadcast, contribution side never cartesian") {
    val plan = planOf("q98_rolling_dau")
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
  }

  test("q104: aggregator top-k has partial combine and no window sort") {
    val plan = planOf("q104_topk_agg")
    // the bounded-buffer aggregator replaces the per-group window sort;
    // partial ObjectHashAggregate trims to k before the exchange
    assert(!plan.contains("Window"), plan.take(1200))
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2, plan.take(1200))
  }

  test("partitioned writes enable partition pruning (PartitionFilters)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString + "/li"
    SparkEntry.queries("q02_filter_project")(spark, sf) // warm unrelated
    graft.Tables.lineitem(spark, sf)
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(dir)
    val df = spark.read.parquet(dir)
      .filter(org.apache.spark.sql.functions.col("l_returnflag") === "R")
      .select("l_orderkey")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(l_returnflag"), plan.take(900))
    assert(df.count() > 0)
  }

  test("pipe feed: FASTQ/FASTA serialization sorts within partitions, no range Exchange") {
    import org.apache.spark.sql.functions.col
    val reads = graft.Tables.customer(spark, sf).select(
      col("c_custkey").cast("string").as("key"),
      org.apache.spark.sql.functions.lit("ACGT").as("sequence"),
      org.apache.spark.sql.functions.lit("IIII").as("quality"))
    val plan = graft.operators.ViraPipeline.toFastqLines(reads)
      .queryExecution.executedPlan.toString
    // sortWithinPartitions = Sort with global=false; a global orderBy
    // would insert Exchange rangepartitioning before the pipe stage
    assert(!plan.contains("rangepartitioning"), plan.take(1200))
    assert(plan.contains("Sort"), plan.take(1200))
    val fplan = graft.operators.ViraPipeline.toFastaLines(
        reads.select(col("key").as("id"), col("sequence")))
      .queryExecution.executedPlan.toString
    assert(!fplan.contains("rangepartitioning"), fplan.take(1200))
  }

  test("similarity: no repartition Exchange when input is already well-partitioned") {
    import org.apache.spark.sql.functions.col
    val p = spark.sparkContext.defaultParallelism
    val e = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding"))
    // pre-partitioned at session parallelism: ensureParallelism must
    // be a no-op — no RoundRobinPartitioning exchange in the plan
    val well = e.repartition(p).cache()
    well.count()
    val plan = graft.operators.Similarity.bruteForceTopK(well, well, 3)
      .queryExecution.executedPlan.toString
    // the cached input's own repartition lineage prints inside the
    // InMemoryRelation block — only the LIVE plan above the cache scan
    // must be free of a gate-inserted round-robin exchange
    val live = plan.take(math.max(plan.indexOf("InMemoryTableScan"), 0))
    assert(live.nonEmpty, plan.take(400))
    assert(!live.contains("RoundRobinPartitioning"), live.take(1500))
    well.unpersist()
    // single-partition input: the gate must still repartition
    val narrow = e.coalesce(1)
    val plan1 = graft.operators.Similarity.bruteForceTopK(narrow, narrow, 3)
      .queryExecution.executedPlan.toString
    assert(plan1.contains("RoundRobinPartitioning"), plan1.take(1500))
  }

  test("q108: semDedup pair stage is a cluster-key equi join, never cartesian") {
    val plan = planOf("q108_semdedup")
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }

  test("q310: MaxSim funnel is equi joins with rank-bounded candidates") {
    val plan = planOf("q310_maxsim")
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
    // candidate generation is BOUNDED by construction: the pooled-gate
    // shortlist window (row_number <= shortlist) sits between the sign
    // bucket join and the chunk×chunk rerank, plus the final top-k
    // window — at least two Window nodes in the plan. The retired r11
    // flat chunk gate had exactly one (no bound on the bucket join).
    assert(plan.sliding("Window".length).count(_ == "Window") >= 2,
      plan.take(1500))
  }

  test("q321: the pooled-gate MaxSim funnel plans without a cartesian") {
    val plan = planOf("q321_maxsim_funnel")
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }

  test("q315/q316: accent strip and sentence split plan without joins") {
    // q315 is strictly narrow; q316 may carry the Parallelism.ensure
    // gated repartition on a one-file input (fan-out spread), but
    // never a join
    val p315 = planOf("q315_strip_accents")
    assert(!p315.contains("Exchange"), p315.take(1200))
    assert(!p315.contains("Join"), p315.take(1200))
    assert(p315.contains("strip_accents_native"), p315.take(1200))
    val p316 = planOf("q316_split_sentences")
    assert(!p316.contains("Join"), p316.take(1200))
    assert(p316.contains("Generate"), p316.take(1200))
  }

  test("q109: hashed linear scorer is one narrow pass — no Exchange, no join") {
    val plan = planOf("q109_hashed_linear")
    assert(!plan.contains("Exchange"), plan.take(1200))
    assert(!plan.contains("Join"), plan.take(1200))
  }

  test("q111: binary quantization is one narrow map — no Exchange, no join") {
    val plan = planOf("q111_binary_quantize")
    assert(!plan.contains("Exchange"), plan.take(1200))
    assert(!plan.contains("Join"), plan.take(1200))
  }

  test("q120: url dedup is canonicalize + ONE hash aggregation, no join") {
    val plan = planOf("q120_url_dedup")
    assert(plan.contains("canonicalize_url_native"), plan.take(1200))
    assert(!plan.contains("Join"), plan.take(1200))
    // exactly one exchange: the partial -> final aggregation boundary
    assert("Exchange".r.findAllIn(plan).size == 1, plan.take(1200))
  }

  test("q121: line dedup joins on the hash key equi-join, never cartesian") {
    val plan = planOf("q121_line_dedup")
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
    assert(plan.contains("LeftAnti"), plan.take(1500))
  }

  test("html_to_text stays inside whole-stage codegen") {
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .select(graft.operators.Web.htmlToText(
        concat(lit("<p>"), col("text"), lit("</p>"))).as("t"))
      .filter(length(col("t")) > 0)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan.take(1200))
    assert(plan.contains("html_to_text_native"), plan.take(1200))
  }

  test("q172: edit-distance candidate + verify joins are equi joins, never cartesian") {
    val plan = planOf("q172_editdist_pairs")
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
  }

  test("q174: weighted sample plans TakeOrderedAndProject, not a global sort") {
    val plan = planOf("q174_weighted_sample")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1200))
  }

  test("q175: the PageRank iteration joins on equi keys, never cartesian") {
    // assert on the operator's own plan (the q175 FIXTURE derives its
    // edges with a legitimate 1-row broadcast cross join for |V|)
    import spark.implicits._
    val nodes = (0L to 19L).toDF("id")
    val edges = (0L to 19L).map(i => (i, (i * 3 + 1) % 20)).toDF("src", "dst")
    val plan = graft.operators.Graph.pageRank(nodes, edges, iterations = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
  }

  test("q180: SCD-2 lookup is an equi join on the key, residual interval — never BNLJ") {
    val plan = planOf("q180_scd2_join")
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
  }

  test("q181: wedge and closure joins are equi joins, never cartesian") {
    import spark.implicits._
    val edges = (0L to 19L).map(i => (i, (i * 3 + 1) % 20)).toDF("src", "dst")
    val plan = graft.operators.Graph.triangleCounts(edges)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
  }

  test("q190: domain cap activates WindowGroupLimit — per-group rank pruned map-side") {
    val plan = planOf("q190_domain_cap")
    assert(plan.contains("WindowGroupLimit"), plan.take(1500))
  }

  test("q191: hard-negative funnel is candidate-gated equi joins, never cartesian") {
    val plan = planOf("q191_hard_negatives")
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
  }

  test("q192: PII redaction is one narrow pass — no Exchange, no join") {
    val plan = planOf("q192_pii_redact")
    assert(!plan.contains("Exchange"), plan.take(1200))
    assert(!plan.contains("Join"), plan.take(1200))
  }

  test("q193: entity-resolution blocking is a hash equi join, never cartesian") {
    val plan = planOf("q193_entity_res")
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
    // the residual comparators (levenshtein, abs-diff) ride the equi
    // join as a post-join condition, not a join strategy change
    assert(plan.contains("Join"), plan.take(1200))
  }

  test("q194: TWA is ONE shuffle on the key + a partition-local window sort") {
    val plan = planOf("q194_twa")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected one hash exchange, got $exchanges\n" +
      plan.take(1500))
    assert(!plan.contains("Exchange rangepartitioning"),
      "TWA must not global-sort")
  }

  test("q198: containment self-join is a shuffled hash join, never cartesian") {
    val plan = planOf("q198_containment")
    assert(plan.contains("ShuffledHashJoin"), plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    assert(!plan.contains("SortMergeJoin"), "SHUFFLE_HASH hint must hold")
  }

  test("q215: RRF fusion adds one aggregation over the retriever unions, no join") {
    val plan = planOf("q215_rrf_fusion")
    // fusion itself is union + agg + window; the only joins in the plan
    // belong to the retrievers (equi joins on the bucket keys)
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
  }

  test("q217: the seven-stage pipeline plans without a cartesian anywhere") {
    val plan = planOf("q217_full_pipeline")
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }

  test("whole-stage codegen covers the scan+filter+project pipeline") {
    // AQE finalizes the physical plan only on execution — run it first.
    val df = SparkEntry.queries("q02_filter_project")(spark, sf)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators fused into one codegen stage
    assert(plan.contains("*(1)"), plan.take(1200))
  }

  test("q289: liftOver is a (chrom, tile) hash equi join, never a cartesian") {
    val plan = planOf("q289_liftover")
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
  }

  test("q287: pileup aggregates partially (map-side combine) before the exchange") {
    val plan = planOf("q287_pileup")
    // partial_count marks the map-side combine of the per-base rows —
    // the shuffle carries per-position counts, not positions × depth
    assert(plan.contains("partial_count") || plan.contains("Partial"),
      plan.take(1500))
  }

  test("q293: markDuplicates windows per stack — no global single-partition sort") {
    val plan = planOf("q293_markdup")
    assert(!plan.contains("SinglePartition"), plan.take(1500))
  }

  test("q299: the mash pair join broadcasts the metadata-sized sketch table") {
    val plan = planOf("q299_mash_distance")
    // an inequality join over a one-row-per-sample table: broadcast NLJ
    // is the INTENDED shape; a CartesianProduct (both sides unplanned)
    // is not
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }

  test("q303: gcWindows is scan → explode → project, no shuffle, no join") {
    val plan = planOf("q303_gc_windows")
    assert(!plan.contains("Join"), plan.take(1200))
    assert(!plan.contains("Exchange"), plan.take(1200))
  }
test("q326: JPEG decode is one narrow codec pass — no shuffle, no join") {
    val plan = planOf("q326_jpeg_decode")
    assert(!plan.contains("hashpartitioning"), plan.take(1200))
    assert(!plan.contains("Join"), plan.take(1200))
  }

  test("q331: both BM25 passes broadcast their stats sides, never a cartesian") {
    val plan = planOf("q331_bm25_prf")
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    // the only nested-loop joins are the 1-row corpus-stats attaches
    // (crossJoin(broadcast(stats)) — the accepted broadcast-literal
    // pattern): one per BM25 pass, never more
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 2,
      plan.take(1500))
    // df tables ride broadcast hash joins into the postings
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
  }

  test("q329: token sharding has no single-partition window and no join") {
    // the global rank is the two-phase prefix sum — a Window with an
    // empty partition spec would be the single-task anti-pattern
    val plan = planOf("q329_token_shards")
    assert(!plan.contains("Window"), plan.take(1200))
    assert(!plan.contains("Join"), plan.take(1200))
  }

  test("q369: CDC digest rollup combines map-side (hot shared chunks collapse before the shuffle)") {
    val plan = planOf("q369_cdc_dedup")
    // The slogan chunks appear in EVERY document — at 100 TB those
    // digests are hot keys. Partial + final HashAggregate around one
    // Exchange means each task collapses its copies before shuffling,
    // so a hot digest costs one row per task, not one per document.
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(1200))
    assert(plan.contains("Exchange"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
  }

  test("q380: the multimodal pipeline plans without a cartesian; dedup combines map-side") {
    val plan = planOf("q380_multimodal_pipeline")
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(1500))
  }

  test("q386: PDF write+extract is one narrow codec pass — no shuffle, no join") {
    val plan = planOf("q386_pdf_extract")
    assert(!plan.contains("hashpartitioning"), plan.take(1200))
    assert(!plan.contains("Join"), plan.take(1200))
  }

  test("q388: main-content classification is one narrow pass — no shuffle, no join") {
    val plan = planOf("q388_main_content")
    assert(!plan.contains("hashpartitioning"), plan.take(1200))
    assert(!plan.contains("Join"), plan.take(1200))
  }

  test("q389: the joint-dedup pair generators are equi joins, never cartesian") {
    val plan = planOf("q389_joint_dedup")
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }

  test("q390/q391: the codec round trips are narrow passes — no shuffle, no join") {
    Seq("q390_flac_roundtrip", "q391_webp_roundtrip").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("hashpartitioning"), s"$q: ${plan.take(1200)}")
      assert(!plan.contains("Join"), s"$q: ${plan.take(1200)}")
    }
  }

  test("text kernels: no Lower/Upper/InitCap/ArrayFilter in the fingerprint and gate plans; the gate equals its HOF twins") {
    import graft.functions.TextFunctions
    import graft.plans.{CaseMapExpression, TokenSetCountExpression}
    import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, Expression, InitCap, Lower, Upper}
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import org.apache.spark.sql.functions._
    // parquet input: a local Seq would fold the projection away
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val t = col("text")
    def exprsOf(c: org.apache.spark.sql.Column): Seq[Expression] =
      docs.select(c.as("v")).queryExecution.optimizedPlan
        .flatMap(_.expressions.flatMap(_.collect { case e => e }))
    // (name, column, the native kernel it must hold, whole-stage-safe)
    val cases = Seq(
      ("fingerprint", TextFunctions.fingerprint(t), classOf[CaseMapExpression], true),
      ("minShingleFingerprint", TextFunctions.minShingleFingerprint(t),
        classOf[CaseMapExpression], false),
      ("qualityScore", TextFunctions.qualityScore(t), classOf[TokenSetCountExpression], true),
      ("langId", TextFunctions.langId(t), classOf[TokenSetCountExpression], true))
    cases.foreach { case (name, c, kernel, fused) =>
      val exprs = exprsOf(c)
      val banned = exprs.collect {
        case e @ (_: Lower | _: Upper | _: InitCap | _: ArrayFilter) => e.nodeName
      }
      assert(banned.isEmpty, s"$name plans ${banned.distinct}")
      assert(exprs.exists(kernel.isInstance), s"$name holds no ${kernel.getSimpleName}")
      if (fused) assert(!exprs.exists(_.isInstanceOf[CodegenFallback]),
        s"$name: ${exprs.filter(_.isInstanceOf[CodegenFallback]).map(_.nodeName)}")
    }
    // the native gate scores every fixture document as the per-word
    // HOF twins do
    val scored = docs.select(t, TextFunctions.qualityScore(t), TextFunctions.qualityScoreHof(t),
      TextFunctions.langId(t), TextFunctions.langIdHof(t)).collect()
    assert(scored.length == 500)
    scored.foreach { r =>
      assert(r.get(1) == r.get(2) && r.get(3) == r.get(4), r.toString)
    }
    assert(scored.map(_.get(1)).distinct.length >= 10)
    // the curation gate stays inside one whole-stage codegen stage
    val gate = docs.filter(TextFunctions.qualityScore(t) >= 0.3)
      .filter(TextFunctions.langId(t).isin("en", "de"))
    gate.count()
    val plan = gate.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Filter"), plan.take(1200))
  }

  test("source fence: functions/ and operators/ never call Spark's lower, upper or initcap") {
    // Spark 4's first lower()/upper()/initcap() in a JVM builds ICU's
    // title-case table over every code point (~1.7 s);
    // TextFunctions.lowerCase/upperCase give the same result without it
    import scala.jdk.CollectionConverters._
    val call = raw"(?<![\w.])(lower|upper|initcap)\s*\(|functions\s*\.\s*(lower|upper|initcap)\b".r
    val files = Seq("src/main/scala/graft/functions", "src/main/scala/graft/operators")
      .flatMap(d => java.nio.file.Files.walk(java.nio.file.Paths.get(d)).iterator.asScala)
      .filter(_.toString.endsWith(".scala"))
    assert(files.size > 20, s"fence premise: found ${files.size} source files")
    val hits = for {
      f <- files
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      code = line.replaceAll("//.*", "")
      if !code.trim.startsWith("*") && !code.trim.startsWith("/*")
      if call.findFirstIn(code).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
