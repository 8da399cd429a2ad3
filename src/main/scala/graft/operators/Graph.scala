package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph analytics over edge tables. [[Dedup.connectedComponents]]
  * (pointer-jumping min-label propagation) covers the undirected
  * clustering side; this module holds the directed link-analysis side —
  * PageRank, the classic web-crawl quality prior (harmonic/PageRank
  * centrality is a standard page-level quality signal when curating
  * crawl corpora for LLM training).
  */
object Graph {

  private def requireSane(name: String, v: Int): Unit =
    require(v >= 1 && v <= 50, s"$name $v outside sane bounds (1..50)")

  /** Power-iteration PageRank with uniform teleport.
    *
    * `nodes` is one row per vertex (column `idCol`), `edges` is one row
    * per directed link (columns `srcCol`, `dstCol`; parallel edges
    * count multiply — multiset semantics). Rank update per iteration:
    *
    *   r'(v) = (1 − damping) / N + damping · Σ_{(u,v) ∈ E} r(u) / outdeg(u)
    *
    * Nodes with no in-links keep the teleport term (left join +
    * coalesce); nodes with no out-links ("dangling") simply leak their
    * mass — the simplified variant most batch implementations use, and
    * the one the oracle replays. A fixed iteration count (not a
    * convergence test) keeps the computation deterministic and
    * cross-engine replayable.
    *
    * Scale shape: per iteration ONE equi-join of the rank vector
    * against the static (src, dst, outdeg) edge table on `src` plus a
    * hash aggregation on `dst` — both shuffle skinny (long, double)
    * rows; no collect, no cartesian. The edge table (with out-degrees
    * pre-joined) and the node list are materialized once via
    * localCheckpoint, so each round re-reads fixed blocks instead of
    * re-running lineage; each round's rank vector is checkpointed to
    * truncate the growing plan (the [[Dedup.connectedComponents]]
    * pattern). N comes from one bounded driver aggregate (a single
    * scalar, same contract as the k-means centroid fetch).
    */
  def pageRank(nodes: DataFrame, edges: DataFrame, idCol: String = "id",
               srcCol: String = "src", dstCol: String = "dst",
               iterations: Int = 5, damping: Double = 0.85,
               staging: Option[String] = None): DataFrame = {
    requireSane("iterations", iterations)
    val n = Staging.pin(Parallelism.ensure(nodes)
      .select(col(idCol).cast("long").as("id")), staging, "nodes")
    val nCount = n.count() // one scalar to the driver
    require(nCount > 0, "pageRank needs at least one node")
    val e = outEdges(edges, srcCol, dstCol, staging, "edges")
    val r0 = Staging.pin(n.select(col("id"), lit(1.0 / nCount).as("r")),
      staging, "ranks-0")
    rankLoop(n, e, r0, iterations, damping, staging, "ranks")(
      lit((1.0 - damping) / nCount))
  }

  /** The static edge table of the rank loop: (src, dst, outdeg), pinned
    * as `name`. */
  private def outEdges(edges: DataFrame, srcCol: String, dstCol: String,
                       staging: Option[String], name: String): DataFrame = {
    val deg = edges.groupBy(col(srcCol)).agg(count(lit(1)).as("outdeg"))
    Staging.pin(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .join(deg.select(col(srcCol).cast("long").as("src"), col("outdeg")), "src"),
      staging, name)
  }

  /** The power-iteration loop of both PageRanks: each round
    *
    *   r'(v) = teleport(v) + damping · Σ_{(u,v) ∈ e} r(u) / outdeg(u)
    *
    * over the node table `base` (the ranks left-join onto it, so nodes
    * without in-links keep the teleport term alone), starting from
    * `r0` (id, r). `teleport` is a column over `base`.
    */
  private def rankLoop(base: DataFrame, e: DataFrame, r0: DataFrame,
                       iterations: Int, damping: Double,
                       staging: Option[String], name: String)
                      (teleport: Column): DataFrame = {
    var ranks = r0
    for (i <- 1 to iterations) {
      val contrib = e.join(ranks, e("src") === ranks("id"))
        .groupBy(col("dst"))
        .agg(sum(col("r") / col("outdeg")).as("c"))
      ranks = base.join(contrib, base("id") === contrib("dst"), "left")
        .select(col("id"),
          (teleport + lit(damping) * coalesce(col("c"), lit(0.0))).as("r"))
      // pin INTERMEDIATE vectors only (truncates the growing lineage);
      // the last iteration stays lazy so callers compose it without an
      // extra materialization. (Probed r7: lazy eager=false
      // checkpoints do NOT help here — the cost is the iteration's own
      // shuffle jobs, not the checkpoint barrier.) In staged mode every
      // round is a durable restart point: a preempted run re-reads
      // `name`-i instead of re-iterating from the start.
      if (i < iterations) ranks = Staging.pin(ranks, staging, s"$name-$i")
    }
    ranks
  }

  /** PERSONALIZED PageRank — teleport mass restricted to a seed set:
    *
    *   r'(v) = (1 − damping) · p(v) + damping · Σ_{(u,v)} r(u)/outdeg(u)
    *
    * with p(v) = 1/|S| for seeds, 0 otherwise, and r₀ = p. This is the
    * topic-sensitive/TrustRank variant: rank concentrates around the
    * seeds, decaying with link distance — "how endorsed is this page
    * by THESE trusted pages", the seeded-quality prior for crawl
    * curation (vs [[pageRank]]'s global prior). Dangling mass leaks as
    * in the uniform variant; fixed iterations keep it replayable.
    *
    * Scale shape identical to [[pageRank]]: per iteration one skinny
    * equi-join + hash agg; the personalization vector joins once up
    * front and is pinned with the node list.
    */
  def personalizedPageRank(nodes: DataFrame, edges: DataFrame,
                           seeds: DataFrame, idCol: String = "id",
                           srcCol: String = "src", dstCol: String = "dst",
                           iterations: Int = 5, damping: Double = 0.85,
                           staging: Option[String] = None): DataFrame = {
    requireSane("iterations", iterations)
    val s0 = seeds.select(col(idCol).cast("long").as("id")).distinct()
    val seedCount = s0.count() // one scalar
    require(seedCount > 0, "personalizedPageRank needs at least one seed")
    val p = Staging.pin(Parallelism.ensure(nodes)
      .select(col(idCol).cast("long").as("id"))
      .join(s0.select(col("id"), lit(1.0 / seedCount).as("p0")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("p0"), lit(0.0)).as("p")),
      staging, "ppr-p")
    val e = outEdges(edges, srcCol, dstCol, staging, "ppr-edges")
    rankLoop(p, e, p.select(col("id"), col("p").as("r")), iterations,
      damping, staging, "ppr-ranks")(lit(1.0 - damping) * col("p"))
  }

  /** The undirected simple edge table (u, v) of a directed edge list:
    * self-loops dropped, both directions, de-duplicated. */
  private def undirected(edges: DataFrame, srcCol: String,
                         dstCol: String): DataFrame = {
    val raw = edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    raw.union(raw.select(col("v").as("u"), col("u").as("v"))).distinct()
  }

  /** Synchronous label-propagation community detection (LPA) on an
    * undirected graph — the near-linear community baseline for
    * link-farm / topic-cluster discovery on web corpora.
    *
    * Deterministic by construction, unlike the textbook asynchronous
    * variant: every node starts labeled with its own id; each round
    * ALL nodes simultaneously adopt the label most frequent among
    * their neighbors' previous-round labels, ties broken toward the
    * SMALLEST label. Synchronous update + total tie order makes the
    * result a pure function of (edges, iterations) — replayable
    * cross-engine, which is what puts a community detector under a SQL
    * oracle at all. Fixed iteration count (no convergence test); on
    * bipartite-ish regions synchronous LPA can oscillate, and a fixed
    * count simply reports round k's labeling.
    *
    * Scale shape per round: ONE equi-join of the label vector against
    * the symmetrized edge table + a (node, label) count aggregation +
    * a bounded argmax via `min(struct(-count, label))` — skinny long
    * rows throughout, no window sort, no collect. Label vectors are
    * pinned per round ([[Staging.pin]]: localCheckpoint, or durable
    * manifest snapshots under `staging`) to truncate lineage.
    */
  def labelPropagation(edges: DataFrame, srcCol: String = "src",
                       dstCol: String = "dst", iterations: Int = 3,
                       staging: Option[String] = None): DataFrame = {
    requireSane("iterations", iterations)
    val sym = Staging.pin(undirected(edges, srcCol, dstCol), staging,
      "lpa-edges")
    var labels = Staging.pin(
      sym.select(col("u").as("id")).distinct()
        .select(col("id"), col("id").as("label")),
      staging, "lpa-labels-0")
    for (i <- 1 to iterations) {
      val nb = sym.join(labels, sym("u") === labels("id"))
        .select(col("v").as("node"), col("label"))
      labels = nb.groupBy("node", "label")
        .agg(count(lit(1)).as("c"))
        .groupBy("node")
        .agg(min(struct((-col("c")).as("nc"), col("label").as("l"))).as("m"))
        .select(col("node").as("id"), col("m.l").as("label"))
      if (i < iterations)
        labels = Staging.pin(labels, staging, s"lpa-labels-$i")
    }
    labels
  }

  /** Multi-source BFS hop distances on an undirected graph — "how far
    * is every page from a trusted seed set", the TrustRank-style
    * distance prior, and the reachability primitive (nodes beyond
    * `maxDepth` hops, or unreachable, are absent from the result).
    *
    * Frontier iteration: round d's frontier is the set of nodes first
    * reached at distance d; each round expands it by ONE equi-join
    * against the symmetrized edge table, then an anti-join against the
    * settled distance table keeps only genuinely new nodes (so a node's
    * distance is final the round it appears — BFS optimality). The
    * frontier SHRINKS to empty on exhaustion and the loop exits early;
    * per-round driver checks are one count scalar each. Settled and
    * frontier tables are pinned per round (lineage truncation, or
    * durable restart points under `staging`).
    */
  def bfsDistances(edges: DataFrame, sources: DataFrame,
                   idCol: String = "id", srcCol: String = "src",
                   dstCol: String = "dst", maxDepth: Int = 5,
                   staging: Option[String] = None): DataFrame = {
    requireSane("maxDepth", maxDepth)
    val sym = Staging.pin(undirected(edges, srcCol, dstCol), staging,
      "bfs-edges")
    var settled = Staging.pin(
      sources.select(col(idCol).cast("long").as("id")).distinct()
        .select(col("id"), lit(0).as("dist")),
      staging, "bfs-settled-0")
    var frontier = settled
    var d = 0
    var exhausted = false
    while (d < maxDepth && !exhausted) {
      d += 1
      val next = Staging.pin(
        frontier.join(sym, frontier("id") === sym("u"))
          .select(col("v").as("id")).distinct()
          .join(settled, Seq("id"), "left_anti")
          .select(col("id"), lit(d).as("dist")),
        staging, s"bfs-frontier-$d")
      if (next.isEmpty) exhausted = true
      else {
        settled = Staging.pin(settled.unionByName(next), staging,
          s"bfs-settled-$d")
        frontier = next
      }
    }
    settled
  }

  /** k-core peeling on an undirected graph — iteratively remove nodes
    * of degree < k; what survives is the k-core, the dense-subgraph
    * signal behind link-farm detection (spam rings are high-core) and
    * community-core extraction. Defined here as a FIXED number of
    * synchronous peeling rounds (every round all under-degree nodes
    * leave at once, then degrees recompute) — a pure function of
    * (edges, k, rounds), which is what makes it oracle-replayable;
    * rounds ≥ graph diameter reaches the true fixpoint, and the loop
    * exits early when a round removes nothing. Returns each surviving
    * node with its within-core degree.
    *
    * Scale shape per round: one degree aggregation + two semi-joins
    * restricting the edge set — skinny long rows, no window, no
    * collect beyond the one fixpoint-check count scalar; the live
    * edge set is pinned per round.
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int = 4,
            srcCol: String = "src", dstCol: String = "dst",
            staging: Option[String] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    requireSane("rounds", rounds)
    var live = Staging.pin(undirected(edges, srcCol, dstCol), staging,
      "kcore-0")
    var r = 0
    var settled = false
    while (r < rounds && !settled) {
      r += 1
      val keep = live.groupBy("u").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select("u")
      val next = Staging.pin(
        live.join(keep, Seq("u"), "left_semi")
          .join(keep.select(col("u").as("v")), Seq("v"), "left_semi")
          .select("u", "v"),
        staging, s"kcore-$r")
      if (next.count() == live.count()) settled = true
      live = next
    }
    live.groupBy(col("u").as("id")).agg(count(lit(1)).as("degree"))
  }

  /** Per-node triangle counts on an undirected graph (edges given as
    * directed rows; symmetrized and de-duplicated here) — the classic
    * local clustering / link-farm signal for web-graph curation.
    *
    * Scale shape: DEGREE-ORDERED orientation (direct each edge from
    * its (degree, id)-smaller endpoint) before the wedge join — the
    * published trick that bounds every out-degree by O(√m), making the
    * wedge join O(m^1.5) total instead of Σdeg² (a star node's hub
    * would otherwise explode one reducer; oriented, the hub gets
    * out-degree ~√m no matter its in-degree). Orientation by (deg, id)
    * is a total order, so each triangle {p,q,r} materializes exactly
    * once as the wedge p→q→r closed by p→r. Wedge and closure are
    * equi-joins on node ids — no cartesian anywhere.
    */
  def triangleCounts(edges: DataFrame, srcCol: String = "src",
                     dstCol: String = "dst"): DataFrame = {
    val sym = undirected(edges, srcCol, dstCol)
      .localCheckpoint() // read by the degree agg AND both join sides
    val deg = sym.groupBy("u").agg(count(lit(1)).as("d"))
    val o = sym
      .join(deg.select(col("u"), col("d").as("du")), "u")
      .join(deg.select(col("u").as("v"), col("d").as("dv")), "v")
      .filter(struct(col("du"), col("u")) < struct(col("dv"), col("v")))
      .select(col("u").as("a"), col("v").as("b"))
      .localCheckpoint() // three self-join arms
    val wedges = o.as("e1").join(o.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    wedges.join(o.as("e3"),
        col("x") === col("e3.a") && col("z") === col("e3.b"))
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }
}
