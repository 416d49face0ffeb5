package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Connected components over a pair list — the last step of every real
  * dedup pipeline: near-dup PAIRS (minhash/simhash/embedding blocking)
  * become CLUSTERS, and one canonical representative survives per
  * cluster.
  *
  * Algorithm: alternating large-star/small-star contraction — the
  * shuffle-based formulation for graphs too big for one machine, with
  * O(log n) round convergence (vs O(diameter) for plain min-label
  * propagation). Each half-round is one hash aggregate + one equi join
  * keyed on node id; the per-round driver read is ONE aggregated
  * signature row (convergence check), not data.
  *
  * The other undirected-graph operators share one edge preparation:
  * `canonicalEdges` (u < v, no self-loops, distinct), `bothWays` (each
  * edge in both directions) and `undirected` (the two, materialized).
  * [[connectedComponents]] keeps its own: it symmetrizes every round.
  */
object Components {

  /** The canonical undirected edge set of a pair list: (u, v) long ids
    * with u < v, self-loops dropped, one row per edge. Every undirected
    * operator here except [[connectedComponents]] starts from it. */
  private def canonicalEdges(pairs: DataFrame, a: Column, b: Column): DataFrame =
    pairs
      .select(least(a, b).cast("long").as("u"), greatest(a, b).cast("long").as("v"))
      .filter(col("u") =!= col("v")).distinct()

  /** Both directions (src, dst) of each canonical edge. */
  private def bothWays(e0: DataFrame): DataFrame =
    e0.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(e0.select(col("v").as("src"), col("u").as("dst")))

  /** The materialized two-direction frame of `pairs`' canonical edges:
    * the per-round input of PPR, k-core, BFS and label propagation. */
  private def undirected(pairs: DataFrame, a: String, b: String): DataFrame =
    graft.Mat(bothWays(canonicalEdges(pairs, col(a), col(b))))

  /** Simplified PageRank (the original non-normalized formulation:
    * `r' = (1-d) + d * Σ_in r/outdeg`, no dangling-mass redistribution)
    * over a directed edge list, for a FIXED number of iterations —
    * influence/centrality scoring for corpus link graphs or entity
    * graphs.
    *
    * Determinism: every iteration rounds ranks at 9 decimals, so the
    * next iteration's input — and therefore the whole fixed-point
    * trajectory — replays identically in any engine that can do the
    * same join + grouped sum (the k-means playbook applied to graphs).
    *
    * Scale shape: out-degrees are one hash aggregate; each iteration is
    * one equi join of ranks to edges (shuffle on node id) plus one
    * grouped sum with map-side partials. Nothing collects to the
    * driver; the lineage grows linearly in `iters`, which is a small
    * constant by contract (pass a materializer for long runs). */
  def pageRank(
      edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, damping: Double = 0.85): DataFrame = {
    // edge frame and node set materialized once: the per-iteration
    // contribution join, out-degree aggregate and left join read them
    // without rebuilding either
    val e = graft.Mat(edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).distinct())
    val nodes = graft.Mat(e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct())
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).cast("double").as("outdeg"))
    var ranks = nodes.withColumn("rank", lit(1.0))
    for (_ <- 1 to iters) {
      val contrib = e
        .join(ranks.select(col("node").as("src"), col("rank")), Seq("src"))
        .join(outDeg, Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("rank") / col("outdeg")).as("in_sum"))
      ranks = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          round(lit(1.0 - damping) + lit(damping) * coalesce(col("in_sum"), lit(0.0)), 9)
            .as("rank"))
    }
    ranks
  }

  /** Personalized PageRank (random walk with restart) from a SEED set —
    * the seed-biased relevance primitive behind graph-based retrieval
    * and related-item expansion: restart mass (1−d) returns to the
    * seeds (1/|S| each) instead of spreading uniformly, so scores rank
    * nodes by proximity to the seed neighborhood.
    *
    * Same engine-replayable discipline as [[pageRank]]/[[hits]], but
    * TIGHTER: per-edge contributions round at 9 and sum as
    * DECIMAL(28,9) (order-independent grouped sums), each iteration's
    * scores round at 9. One equi join + one grouped sum per iteration
    * over the undirected edge list; the seed mass is a 1-row broadcast.
    * Returns (node, rank) for every edge-touched node. */
  def personalizedPageRank(
      pairs: DataFrame, a: String, b: String, seeds: DataFrame,
      iters: Int, damping: Double = 0.85,
      restart: Double = 0.15): DataFrame = {
    // restart is a SEPARATE literal, not 1-damping: the double
    // `1.0 - 0.85` is 0.15000000000000002, and that last-ulp gap flipped
    // a round-9 boundary against the oracle's literal 0.15 at sf0.1.
    // The pair must still SUM to 1 (rank mass conservation) — a caller
    // overriding one without the other would silently leak/inflate mass.
    require(math.abs(damping + restart - 1.0) < 1e-12,
      s"damping + restart must equal 1.0 exactly, got $damping + $restart")
    val dir = undirected(pairs, a, b)
    val outDeg = dir.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val nodes = dir.select(col("src").as("node")).distinct()
    val sd = seeds.select(col("node").cast("long").as("node")).distinct()
    // q9: floor(x*1e9 + 0.5)/1e9 — the a41 portability trick. Engine
    // round() implementations disagree in the last printed digit for a
    // handful of values (4/20k nodes flipped at sf0.1); an explicit
    // multiply/floor/divide is the SAME IEEE op sequence everywhere.
    def q9(c: Column): Column = floor(c * 1e9 + 0.5) / 1e9
    val sm = sd.agg(q9(lit(1.0) / count(lit(1))).as("seed_mass"))
    val base = graft.Mat(nodes
      .join(sd.withColumn("__s", lit(1)), Seq("node"), "left")
      .crossJoin(broadcast(sm))
      .select(col("node"),
        when(col("__s").isNotNull, col("seed_mass")).otherwise(lit(0.0))
          .as("e")))
    var ranks = base.select(col("node"), col("e").as("rank"))
    for (_ <- 1 to iters) {
      val contrib = dir
        .join(ranks.select(col("node").as("src"), col("rank")), Seq("src"))
        .join(outDeg, Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum((floor(col("rank") / col("outdeg") * 1e9 + 0.5) / 1e9)
          .cast("decimal(28,9)")).cast("double").as("insum"))
      ranks = graft.Mat(base.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (floor((lit(restart) * col("e")
            + lit(damping) * coalesce(col("insum"), lit(0.0))) * 1e9 + 0.5)
            / 1e9).as("rank")))
    }
    ranks
  }

  /** `pairs` must carry two long-typed id columns `a` and `b` (undirected
    * edges). Returns (node, component) where component = the smallest node
    * id in the cluster — so `node === component` marks the canonical
    * representative. Nodes not present in any pair are absent (singleton
    * clusters are the identity mapping; callers left-join and coalesce).
    *
    * Algorithm: alternating large-star / small-star contraction (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    * each round rewrites the edge set toward stars rooted at component
    * minima and converges in O(log n) rounds, vs O(diameter) for plain
    * min-label propagation (a 1M-node chain: ~20 rounds, not 1M). Each
    * half-round is one hash aggregate (per-node min) + one equi join of
    * the edge frame; the driver reads one (count, hash-sum) signature
    * row per round for the fixed-point check — never data.
    *
    * Per-round edge frames route through [[graft.Mat.withEdgeSig]], which
    * folds the signature into the materializing action and follows
    * Mat's mode: the single-JVM default is localCheckpoint, but on a real
    * cluster set `SPARK_GRAFT_MAT=persist` — a localCheckpoint block lost
    * with its executor cannot be recomputed (it IS the lineage root), so
    * one executor failure mid-convergence would kill the whole run. */
  def connectedComponents(
      pairs: DataFrame, a: String, b: String, maxIter: Int = 30): DataFrame = {
    val edges0 = pairs
      .select(col(a).cast("long").as("u"), col(b).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    def symmetrize(e: DataFrame): DataFrame =
      e.unionByName(e.select(col("v").as("u"), col("u").as("v"))).distinct()
    // equal edge-set signatures across a round = fixed point
    var (e, eFree, sig) = graft.Mat.withEdgeSig(symmetrize(edges0))
    var converged = sig._1 == 0L
    var i = 0
    while (!converged && i < maxIter) {
      // LARGE-STAR: connect every neighbor larger than u to
      // m(u) = min(Γ(u) ∪ {u}) — detaches big nodes from deep chains
      val lm = e.groupBy(col("u"))
        .agg(min(col("v")).as("__mv"))
        .select(col("u"), least(col("u"), col("__mv")).as("m"))
      val (eL, eLFree, _) = graft.Mat.withEdgeSig(symmetrize(
        e.join(lm, Seq("u")).filter(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .filter(col("u") =!= col("v"))))
      eFree() // eL is materialized; the old round's blocks are dead
      // SMALL-STAR: connect u and all its SMALLER neighbors to their
      // minimum — flattens the remaining downward chains
      val sm = eL.filter(col("v") < col("u"))
      val smin = sm.groupBy(col("u")).agg(min(col("v")).as("m"))
      val (eS, eSFree, nextSig) = graft.Mat.withEdgeSig(symmetrize(
        sm.join(smin, Seq("u")).filter(col("v") =!= col("m"))
          .select(col("v").as("u"), col("m").as("v"))
          .unionByName(smin.select(col("u"), col("m").as("v")))))
      eLFree()
      converged = nextSig == sig
      sig = nextSig
      e = eS
      eFree = eSFree
      i += 1
    }
    // at the fixed point the graph is a union of stars rooted at each
    // component's minimum: label = min(node, min neighbor)
    val out = e.groupBy(col("u").as("node"))
      .agg(min(col("v")).as("__mv"))
      .select(col("node"), least(col("node"), col("__mv")).as("component"))
    out
  }

  /** HITS hubs & authorities (Kleinberg 1999) over a directed edge
    * list, for a FIXED number of iterations: each round scores every
    * node's authority as the sum of its in-neighbors' hub scores, then
    * every node's hub as the sum of its out-neighbors' fresh authority
    * scores, L1-normalizing after each half-step.
    *
    * Determinism (the PageRank playbook, tightened): scores are always
    * round-9 doubles, so the grouped sums accumulate them as exact
    * DECIMAL(28,9) — order-independent across engines — and each
    * normalization is ONE double division rounded at 9. The whole
    * trajectory replays in any engine.
    *
    * Scale shape: per half-step, one equi join of scores to edges
    * (shuffle on node id) + one grouped sum with map-side partials; the
    * L1 total is a 1-row broadcast. The edge frame and each half-step's
    * normalized scores route through [[graft.Mat]] — the authority frame
    * is consumed TWICE (hub step + final join), so without
    * materialization the plan would double per iteration and re-derive
    * the edge distinct exponentially many times. */
  def hits(
      edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int): DataFrame = {
    val e = graft.Mat(edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).distinct())
    val nodes = graft.Mat(e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct())
    def l1norm(df: DataFrame, c: String): DataFrame = {
      val tot = df.agg(
        sum(col(c).cast("decimal(28,9)")).cast("double").as("__tot"))
      df.crossJoin(broadcast(tot))
        .withColumn(c, round(col(c) / col("__tot"), 9)).drop("__tot")
    }
    var sc = nodes.select(col("node"), lit(1.0).as("hub"), lit(1.0).as("auth"))
    for (_ <- 1 to iters) {
      val aRaw = e
        .join(sc.select(col("node").as("src"), col("hub")), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("hub").cast("decimal(28,9)")).cast("double").as("auth"))
      val aN = graft.Mat(l1norm(nodes.join(aRaw, Seq("node"), "left")
        .select(col("node"), coalesce(col("auth"), lit(0.0)).as("auth")), "auth"))
      val hRaw = e
        .join(aN.select(col("node").as("dst"), col("auth")), Seq("dst"))
        .groupBy(col("src").as("node"))
        .agg(sum(col("auth").cast("decimal(28,9)")).cast("double").as("hub"))
      val hN = l1norm(nodes.join(hRaw, Seq("node"), "left")
        .select(col("node"), coalesce(col("hub"), lit(0.0)).as("hub")), "hub")
      sc = hN.join(aN, Seq("node"))
    }
    sc.select(col("node"), col("hub"), col("auth"))
  }

  /** k-core of an undirected graph by iterative peeling (Batagelj &
    * Zaveršnik's bucket algorithm re-expressed as synchronous rounds):
    * repeatedly drop every node with fewer than `k` surviving neighbors
    * until nothing changes. The k-core is the standard density filter
    * for near-dup cluster graphs and citation/link corpora (a node in
    * the 3-core has 3+ neighbors that THEMSELVES are well-connected —
    * far stronger than a raw degree cut).
    *
    * Runs a FIXED `rounds` peels so the whole trajectory is replayable
    * by any engine (the k-means/PageRank playbook); the `converged`
    * column reports whether the last round was a fixed point (row count
    * unchanged), so callers — and the oracle — can assert the peel
    * actually bottomed out rather than trust the round budget.
    *
    * Scale shape: each round is two equi semi joins of the edge frame
    * against the shrinking survivor set plus one hash aggregate with
    * map-side partials — all keyed on node id, no windows, no driver
    * data reads. Survivor frames route through [[graft.Mat]] per round
    * (each is consumed twice the next round, once per edge endpoint;
    * without it the plan doubles per round).
    *
    * Returns one row per surviving node: (node, core_deg, converged),
    * core_deg = its degree inside the core. */
  def kCore(
      pairs: DataFrame, a: String, b: String,
      k: Int, rounds: Int): DataFrame = {
    val dir = undirected(pairs, a, b)
    def survivors(alive: DataFrame): DataFrame =
      dir
        .join(alive.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(alive.select(col("node").as("dst")), Seq("dst"), "left_semi")
        .groupBy(col("src")).agg(count(lit(1)).as("__deg"))
    var alive = graft.Mat(dir.select(col("src").as("node")).distinct())
    var prev = alive
    for (_ <- 1 to rounds) {
      prev = alive
      alive = graft.Mat(
        survivors(prev).filter(col("__deg") >= k).select(col("src").as("node")))
    }
    val coreDeg = survivors(alive)
      .select(col("src").as("node"), col("__deg").cast("int").as("core_deg"))
    val conv = prev.agg(count(lit(1)).as("__np"))
      .crossJoin(alive.agg(count(lit(1)).as("__na")))
      .select(when(col("__np") === col("__na"), 1).otherwise(0).as("converged"))
    coreDeg.crossJoin(conv)
  }

  /** Per-vertex triangle counts by degree-ordered orientation (the
    * distributed-triangle-counting standard, e.g. Suri & Vassilvitskii's
    * MR "compact-forward"): orient every undirected edge from its
    * lower-(degree, id) endpoint to the higher, enumerate wedges by
    * joining oriented edges head-to-tail, and close them with ONE
    * two-column equi join — the (degree, id) order is total and
    * transitive, so a triangle's closing edge can only be oriented
    * x -> z, and every triangle is found exactly once.
    *
    * Scale shape: orientation bounds every vertex's out-degree by
    * O(sqrt(m)), so the wedge join — the only superlinear step — is
    * sum(outdeg^2) <= m^1.5 instead of sum(deg^2), which a hub vertex
    * makes quadratic. All joins are equi; no driver loops.
    *
    * Input may contain duplicates, self-loops, or either edge direction;
    * it is canonicalized first. Output: (vertex, n_tri) for every vertex
    * in at least one triangle. */
  def triangleCounts(edges: DataFrame, src: Column, dst: Column): DataFrame =
    degreesAndTriangles(graft.Mat(canonicalEdges(edges, src, dst)))._2

  /** [[triangleCounts]] over a materialized canonical edge set `e0`,
    * returning its degrees (x, d) too, which [[clusteringCoefficient]]
    * reuses instead of canonicalizing and counting a second time. */
  private def degreesAndTriangles(e0: DataFrame): (DataFrame, DataFrame) = {
    val deg = e0.select(col("u").as("x")).unionAll(e0.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
    val fwd = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val o = graft.Mat(e0
      .join(deg.select(col("x").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("d").as("dv")), Seq("v"))
      .select(when(fwd, col("u")).otherwise(col("v")).as("s"),
        when(fwd, col("v")).otherwise(col("u")).as("t")))
    val wedges = o.as("a").join(o.as("b"), col("a.t") === col("b.s"))
      .select(col("a.s").as("x"), col("a.t").as("y"), col("b.t").as("z"))
    val tris = wedges
      .join(o.select(col("s").as("x"), col("t").as("z")), Seq("x", "z"))
    (deg, tris
      .select(explode(array(col("x"), col("y"), col("z"))).as("vertex"))
      .groupBy(col("vertex")).agg(count(lit(1)).as("n_tri")))
  }

  /** Newman–Girvan modularity of a node partition — the quality score
    * for [[labelPropagation]] / [[connectedComponents]] output:
    * `Q = Σ_c (within_c/m − (deg_c/2m)²)` over communities, where
    * within_c counts undirected edges inside c and deg_c sums member
    * degrees. Q ≈ 0 = no better than random; Q > 0.3 = real structure.
    *
    * Exact posture: within-edge and degree sums are integers from two
    * equi joins of the edge list against the (node → community) map and
    * one community-keyed aggregate; per-community terms evaluate as one
    * IEEE chain over exact-integer doubles, round at 9, and sum as
    * DECIMAL(28,9); Q rounds at 6. Returns 1 row:
    * (n_communities, n_edges, modularity). */
  def modularity(
      pairs: DataFrame, a: String, b: String, labels: DataFrame): DataFrame = {
    val e0 = canonicalEdges(pairs, col(a), col(b))
    val lab = labels.select(col("node").cast("long").as("node"),
      col("community").cast("long").as("c"))
    // materialized: tagged feeds THREE aggregates (edge total, within-
    // community counts, community degrees) — left lazy, each one re-runs
    // the full edge build plus both label joins (the r13 before-plan
    // carried 6 copies of the pair-build lineage, 12 parquet scans)
    val tagged = graft.Mat(e0
      .join(lab.select(col("node").as("u"), col("c").as("cu")), Seq("u"))
      .join(lab.select(col("node").as("v"), col("c").as("cv")), Seq("v")))
    val m = tagged.agg(count(lit(1)).as("m"))
    val within = tagged.filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("c")).agg(count(lit(1)).as("win"))
    val degC = tagged
      .select(explode(array(col("cu"), col("cv"))).as("c"))
      .groupBy(col("c")).agg(count(lit(1)).as("degc"))
    val terms = degC.join(within, Seq("c"), "left")
      .withColumn("win", coalesce(col("win"), lit(0L)))
      .crossJoin(broadcast(m))
      .withColumn("term", round(
        col("win").cast("double") / col("m")
          - (col("degc").cast("double") / (col("m") * 2))
          * (col("degc").cast("double") / (col("m") * 2)), 9))
    terms.agg(
        count(lit(1)).as("n_communities"),
        max(col("m")).as("n_edges"),
        sum(col("term").cast("decimal(28,9)")).as("__q"))
      .select(col("n_communities"), col("n_edges"),
        round(col("__q").cast("double"), 6).as("modularity"))
  }

  /** Degree assortativity (Newman 2002) — the Pearson correlation of
    * endpoint degrees over all directed edge instances: positive =
    * hubs attach to hubs (social nets), negative = hub-and-spoke
    * (dependency/infrastructure graphs). A one-number structure probe
    * next to [[triangleCounts]] / [[clusteringCoefficient]].
    *
    * Exact posture: both endpoints' degrees are integers, so all five
    * correlation sums accumulate in DECIMAL(38,0) from ONE edge-frame
    * aggregate (after two degree equi joins); the Pearson ratio is one
    * float chain, rounded at 6. A degree-regular graph has zero
    * variance → r is null. Returns 1 row: (n_nodes, n_edges, r). */
  def assortativity(pairs: DataFrame, a: String, b: String): DataFrame = {
    val e0 = canonicalEdges(pairs, col(a), col(b))
    val dir = bothWays(e0)
    val deg = dir.groupBy(col("src").as("x")).agg(count(lit(1)).as("d"))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val j = dir
      .join(deg.select(col("x").as("src"), col("d").as("dx")), Seq("src"))
      .join(deg.select(col("x").as("dst"), col("d").as("dy")), Seq("dst"))
    j.agg(
        countDistinct(col("src")).as("n_nodes"),
        (count(lit(1)) / 2).cast("long").as("n_edges"),
        count(lit(1)).as("m"),
        sum(d38(col("dx"))).as("sx"), sum(d38(col("dy"))).as("sy"),
        sum(d38(col("dx")) * col("dy")).as("sxy"),
        sum(d38(col("dx")) * col("dx")).as("sxx"),
        sum(d38(col("dy")) * col("dy")).as("syy"))
      .withColumn("__den",
        sqrt((col("m") * col("sxx") - col("sx") * col("sx")).cast("double"))
          * sqrt((col("m") * col("syy") - col("sy") * col("sy")).cast("double")))
      .select(col("n_nodes"), col("n_edges"),
        // a degree-regular graph has zero degree variance: r undefined
        when(col("__den") > 0,
          round((col("m") * col("sxy") - col("sx") * col("sy")).cast("double")
            / col("__den"), 6)).as("r"))
  }

  /** Clustering coefficients — how much of the graph's wedge capacity
    * closes into triangles: global C = 3T/W (W = Σ_v deg(deg−1)/2,
    * 3T = Σ_v tri(v)), and the average LOCAL coefficient over vertices
    * with deg ≥ 2 (Watts–Strogatz). The transitivity readout that
    * separates community-structured graphs from random ones at equal
    * density.
    *
    * Builds on [[triangleCounts]] (degree-oriented wedge join, m^1.5
    * bound); everything after it is degree-frame equi joins and one
    * aggregate. Per-vertex local ratios round at 9 into a DECIMAL sum;
    * the two global divisions round at 6. Returns 1 row:
    * (n_vertices, n_triangles, n_wedges, global_cc, avg_local_cc). */
  def clusteringCoefficient(pairs: DataFrame, a: String, b: String): DataFrame = {
    val (deg, tris) = degreesAndTriangles(graft.Mat(canonicalEdges(pairs, col(a), col(b))))
    val tri = tris.select(col("vertex").as("x"), col("n_tri"))
    val per = deg.join(tri, Seq("x"), "left")
      .withColumn("t", coalesce(col("n_tri"), lit(0L)))
      .withColumn("w", expr("d * (d - 1) div 2"))
    per.agg(
        count(lit(1)).as("n_vertices"),
        (sum(col("t")) / 3).cast("long").as("n_triangles"),
        sum(col("w")).as("n_wedges"),
        sum(col("t")).as("__t3"),
        sum(when(col("d") >= 2,
          round(col("t").cast("double") / col("w"), 9).cast("decimal(28,9)"))
          .otherwise(lit(BigDecimal(0)).cast("decimal(28,9)"))).as("__lsum"),
        sum(when(col("d") >= 2, 1L).otherwise(0L)).as("__ln"))
      .select(col("n_vertices"), col("n_triangles"), col("n_wedges"),
        round(col("__t3").cast("double") / col("n_wedges"), 6).as("global_cc"),
        round(col("__lsum").cast("double") / col("__ln"), 6).as("avg_local_cc"))
  }

  /** Multi-source BFS levels — shortest hop distance from a source set,
    * the reachability/radius primitive (influence spread, staleness
    * propagation, "how far is every part from a recalled part"). Each
    * round relaxes one hop: dist_r(n) = min(dist_{r-1}(n),
    * 1 + min over neighbors' dist_{r-1}) — synchronous Bellman-Ford on
    * unit weights, so after R rounds every node within R hops carries
    * its exact distance.
    *
    * Scale shape: one equi join (edges × current distances) + one
    * min-aggregate per round, all keyed on node id; distance frames
    * route through [[graft.Mat]] per round (consumed by the next join
    * and the convergence count). `converged` asserts the frontier
    * emptied within the budget rather than trusting it. Unreached
    * nodes are absent (no sentinel rows).
    *
    * Returns (node, dist, converged). */
  def bfsLevels(
      pairs: DataFrame, a: String, b: String,
      sources: DataFrame, rounds: Int): DataFrame = {
    val dir = undirected(pairs, a, b)
    // sources outside the graph still seed with dist 0 (they just have
    // no edges to relax over)
    var dist = graft.Mat(sources.select(col("node").cast("long").as("node"))
      .distinct().withColumn("dist", lit(0)))
    var prevN = -1L
    var lastN = dist.count()
    for (_ <- 1 to rounds) {
      prevN = lastN
      val relaxed = dir
        .join(dist.select(col("node").as("src"), col("dist")), Seq("src"))
        .select(col("dst").as("node"), (col("dist") + 1).as("dist"))
      dist = graft.Mat(dist.unionByName(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist")))
      lastN = dist.count()
    }
    // unit-weight wavefront: a node's first-touch distance IS its
    // shortest, so an empty last frontier (no new nodes) = converged
    dist.withColumn("converged", lit(if (prevN == lastN) 1 else 0))
  }

  /** Community detection by synchronous label propagation (Raghavan et
    * al. 2007) — the cheap non-overlapping community pass between plain
    * connectivity ([[connectedComponents]]) and modularity methods:
    * every node starts as its own label; each round it adopts the most
    * frequent label among its NEIGHBORS (tie → smallest label), all
    * nodes updating simultaneously for `iters` fixed rounds.
    *
    * Determinism: synchronous updates + the (count desc, label asc)
    * total-order winner make every round a pure function of the last —
    * no RNG, no visit order, engine-replayable round by round. (Classic
    * async LPA is order-dependent; the synchronous variant can
    * oscillate on bipartite structures, which a fixed even `iters`
    * budget absorbs.)
    *
    * Scale shape: one equi join (edges × labels on the neighbor id) +
    * one (node, label) hash aggregate + one top-1-per-node window per
    * round — all keyed on node id, no driver data reads. Label frames
    * route through [[graft.Mat]] per round (consumed by the next join
    * AND the final rollup; lazy plans double per round otherwise — the
    * d_hits lesson). Returns (node, community, community_size). */
  def labelPropagation(
      pairs: DataFrame, a: String, b: String, iters: Int): DataFrame = {
    val dir = undirected(pairs, a, b)
    var labels = graft.Mat(
      dir.select(col("src").as("node")).distinct()
        .withColumn("lab", col("node")))
    for (_ <- 1 to iters) {
      val nbr = dir
        .join(labels.select(col("node").as("dst"), col("lab")), Seq("dst"))
        .groupBy(col("src"), col("lab")).agg(count(lit(1)).as("__c"))
      // winner by ONE hash aggregate instead of a row_number window:
      // the (count desc, label asc) total order is exactly max over the
      // struct (count, -label) — same winner bit-for-bit, but with a
      // map-side partial max (the shuffle carries at most one candidate
      // per node per partition) and no per-round partition sort
      // (guide §2.3 "aggregate before you shuffle")
      labels = graft.Mat(
        nbr.groupBy(col("src"))
          .agg(max(struct(col("__c").as("c"), negate(col("lab")).as("nl")))
            .as("__w"))
          .select(col("src").as("node"), negate(col("__w")("nl")).as("lab")))
    }
    val sizes = labels.groupBy(col("lab")).agg(count(lit(1)).as("community_size"))
    labels.join(sizes, Seq("lab"))
      .select(col("node"), col("lab").as("community"), col("community_size"))
  }

  /** Topological link prediction — score NON-edges at distance 2 by the
    * three classical neighborhood indices (Liben-Nowell & Kleinberg '03):
    * common-neighbor count, Jaccard over the neighbor sets, and
    * Adamic–Adar (Σ_z 1/ln deg z — rare shared neighbors weigh more).
    * The "who should be connected" primitive behind recommendation and
    * knowledge-graph completion.
    *
    * Scale shape: candidates come from the WEDGE join (edges z–u, z–v
    * joined on the shared endpoint z, u < v), so volume is Σ_z deg(z)² —
    * bounded by `maxHubDeg`: wedge centers above it are dropped first
    * (the df-cap pattern; a celebrity hub otherwise makes this
    * quadratic, and its wedges carry no signal). Known edges leave via
    * one left-anti join; everything else is hash aggregates keyed on
    * the pair.
    *
    * Portability: Adamic–Adar terms round at 9 and sum as DECIMAL(28,9)
    * (order-independent), the total rounds at 6; Jaccard is one division
    * of exact-integer doubles, rounded at 6.
    *
    * Returns (node_u, node_v, cn, deg_u, deg_v, jaccard, adamic_adar)
    * for candidate pairs with at least `minCommon` shared neighbors. */
  def linkPrediction(
      pairs: DataFrame, a: String, b: String,
      minCommon: Int, maxHubDeg: Int): DataFrame = {
    // e0 has TWO consumers (the symmetrized `dir` build and the known-edge
    // anti join), and the caller's `pairs` lineage above it is typically
    // the most expensive subtree of the whole query (d_link_predict: a
    // per-order self-join + md5 sample over lineitem). Without
    // materialization the optimizer reuses only the exchange below the
    // distinct, so the join+hash+distinct pipeline executes once PER
    // consumer — the r14 100x profile measured that duplicated pipeline
    // at ~60-165 s per pass (619 MB -> 1.4 GB shuffle, twice) against a
    // 15 MB materialized result. Mat (guide §5) computes it once.
    val e0 = graft.Mat(canonicalEdges(pairs, col(a), col(b)))
    val dir = graft.Mat(bothWays(e0))
    val deg = dir.groupBy(col("src").as("x")).agg(count(lit(1)).as("d"))
    val centers = dir
      .join(deg.select(col("x").as("src"), col("d").as("dz")), Seq("src"))
      .filter(col("dz") <= maxHubDeg)
    val wedges = centers.as("l").join(centers.as("r"),
        col("l.src") === col("r.src") && col("l.dst") < col("r.dst"))
      .select(col("l.dst").as("wu"), col("r.dst").as("wv"),
        col("l.dz").as("dz"))
    val cand = wedges
      .join(e0.select(col("u").as("wu"), col("v").as("wv")),
        Seq("wu", "wv"), "left_anti")
      .groupBy(col("wu"), col("wv"))
      .agg(count(lit(1)).as("cn"),
        sum(round(lit(1.0) / log(col("dz")), 9).cast("decimal(28,9)"))
          .as("__aa"))
      .filter(col("cn") >= minCommon)
    cand
      .join(deg.select(col("x").as("wu"), col("d").as("deg_u")), Seq("wu"))
      .join(deg.select(col("x").as("wv"), col("d").as("deg_v")), Seq("wv"))
      .select(col("wu").as("node_u"), col("wv").as("node_v"), col("cn"),
        col("deg_u"), col("deg_v"),
        round(col("cn").cast("double")
          / (col("deg_u") + col("deg_v") - col("cn")).cast("double"), 6)
          .as("jaccard"),
        round(col("__aa").cast("double"), 6).as("adamic_adar"))
  }

  /** Cycle-core detection on a DIRECTED graph by synchronous Kahn
    * peeling: each round removes every node with zero in-degree in the
    * residual graph. Nodes that never peel form the residual — nodes on
    * directed cycles plus their descendants; for a FUNCTIONAL graph
    * (out-degree exactly 1: successor maps, redirect chains, symlink /
    * next-version pointers) the residual is EXACTLY the set of nodes on
    * cycles, so this is the redirect-loop detector.
    *
    * Scale shape: one semi-join + one distinct-projection per round over
    * the live edge set — the same linear per-round cost as the k-core
    * peel; frames Mat'd per round so the plan stays round-bounded.
    *
    * Returns (node, peel_round, is_cycle_core, converged): peel_round is
    * the 1-based round the node left in (0 = never, the cycle core);
    * `converged` (same value every row) certifies the LAST round peeled
    * nothing — i.e. the round budget sufficed and the core is exact,
    * not a truncation artifact. */
  def kahnCycleCore(
      edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val e0 = graft.Mat(edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    val nodes = e0.select(col("src").as("node"))
      .unionByName(e0.select(col("dst").as("node"))).distinct()
    // peeled: (node, peel_round) accumulated; live = nodes not yet peeled
    var live = graft.Mat(nodes)
    var prev = live
    var peeled = graft.Mat(live.filter(lit(false))
      .withColumn("peel_round", lit(0)))
    for (r <- 1 to rounds) {
      // in-degree inside the residual: an edge counts only if BOTH
      // endpoints are still live
      val liveEdges = e0
        .join(live.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(live.select(col("node").as("dst")), Seq("dst"), "left_semi")
      val hasIncoming = liveEdges.select(col("dst").as("node")).distinct()
      val peel = graft.Mat(
        live.join(hasIncoming, Seq("node"), "left_anti")
          .withColumn("peel_round", lit(r)))
      prev = live
      peeled = graft.Mat(peeled.unionByName(peel))
      live = graft.Mat(live.join(peel.select("node"), Seq("node"), "left_anti"))
    }
    // converged iff the LAST round peeled nothing — in-plan count
    // equality (kCore's convention), never a driver-side read
    val conv = prev.agg(count(lit(1)).as("__np"))
      .crossJoin(live.agg(count(lit(1)).as("__nl")))
      .select((col("__np") === col("__nl")).as("converged"))
    peeled
      .unionByName(live.withColumn("peel_round", lit(0)))
      .withColumn("is_cycle_core", col("peel_round") === 0)
      .crossJoin(broadcast(conv))
  }
}
