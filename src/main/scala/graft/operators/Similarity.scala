package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Approximate-nearest-neighbor search over embedding columns.
  *
  * Scale design: brute force is the correctness baseline (queries × corpus
  * is a broadcast-join when the query set is small — the common "probe"
  * shape); the LSH path buckets the corpus once (narrow, no shuffle) and
  * then only joins within buckets, which is the 100 TB-viable shape.
  *
  * Building blocks, each defined once: IVF cells are
  * [[Clustering.seedCentroids]] + [[Clustering.assign]] (also k-means'
  * and `Dedup.embeddingNearDupPairs`' cells; [[ivfPqTopK]] takes the
  * seeds and assigns by squared L2); every per-query or per-node
  * top-k cut is [[Joins.topKPerGroup]] (`rankNeighbors` for the
  * (query_id, neighbor_id, cos, rank) shape); [[pqAdcTopK]] and
  * [[ivfPqTopK]] share one PQ trainer (`subspaces` + `pqCodebook`).
  */
object Similarity {

  /** Each query's k best neighbors by rounded cosine, id tiebreak: the
    * (query_id, neighbor_id, cos, rank) shape every cosine ANN operator
    * here emits. */
  private def rankNeighbors(scored: DataFrame, k: Int): DataFrame =
    Joins.topKPerGroup(scored, Seq(col("query_id")),
      Seq(col("cos").desc, col("neighbor_id").asc), k, "rank")
      .select("query_id", "neighbor_id", "cos", "rank")

  /** Exact cosine top-k: for each query vector, the k nearest corpus
    * vectors by cosine similarity. Query set should be small enough to
    * broadcast (driver enforces nothing — caller picks the side).
    */
  def bruteForceCosineTopK(
      queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int): DataFrame = {
    val q = queries.select(col(qId).as("query_id"),
      VectorFunctions.toDoubleArray(col(qVec)).as("qv"))
    val c = corpus.select(col(cId).as("neighbor_id"),
      VectorFunctions.toDoubleArray(col(cVec)).as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(VectorFunctions.cosineNative(col("qv"), col("cv")), 6))
    rankNeighbors(scored, k)
  }

  /** IVF (inverted-file) ANN: partition the corpus into `nlist` cells
    * around deterministic seed centroids ([[Clustering.seedCentroids]]:
    * lowest-id vector per id-residue class — no RNG, reproducible across
    * runs; [[Clustering.assign]]: nearest by rounded cosine, lower cell on
    * ties), then answer queries by probing the `nprobe` nearest cells with
    * exact rerank inside.
    *
    * Scale shape: centroids are broadcast (nlist is small); corpus
    * assignment is one narrow pass; the probe join shuffles only on
    * cell id. Recall/cost dial = nprobe/nlist.
    */
  def ivfCosineTopK(
      queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int, nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val c = corpus.select(col(cId).as("neighbor_id"),
      VectorFunctions.toDoubleArray(col(cVec)).as("cv"))
    val centroids = broadcast(Clustering.seedCentroids(c, "neighbor_id", "cv", nlist))
    val assigned = Clustering.assign(c, centroids, "neighbor_id", "cv")
      .select(col("neighbor_id"), col("cv"), col("cell"))
    val q = queries.select(col(qId).as("query_id"),
      VectorFunctions.toDoubleArray(col(qVec)).as("qv"))
    // a query probes its nprobe nearest cells, ranked like the assignment
    val probes = Joins.topKPerGroup(q.crossJoin(centroids)
        .withColumn("cdist", round(VectorFunctions.cosineNative(col("qv"), col("centroid")), 6)),
      Seq(col("query_id")), Seq(col("cdist").desc, col("cell").asc), nprobe)
      .select(col("query_id"), col("qv"), col("cell"))
    val scored = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(VectorFunctions.cosineNative(col("qv"), col("cv")), 6))
    rankNeighbors(scored, k)
  }

  /** Multi-probe LSH ANN: like [[lshCosineTopK]], but each query also
    * probes the `nPlanes` Hamming-distance-1 neighbor buckets (one sign
    * bit flipped). Standard recall/cost dial (Lv et al. 2007): probes
    * cost |query side| x (nPlanes+1) exploded rows — query-side only, the
    * corpus is still bucketed once and joined equi on the bucket id. */
  def lshMultiProbeTopK(
      queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int, dim: Int, nPlanes: Int = 8): DataFrame = {
    val scored = lshCandidates(queries, corpus, qId, qVec, cId, cVec, dim, nPlanes) { q =>
      q.withColumn("probe", explode(array(
          col("bucket") +: (0 until nPlanes).map(p =>
            col("bucket").bitwiseXOR(lit(1 << p))): _*)))
        .select(col("query_id"), col("qv"), col("probe").as("bucket"))
    }.select(col("query_id"), col("neighbor_id"),
        round(VectorFunctions.cosineNative(col("qv"), col("cv")), 6).as("cos"))
      .distinct() // a pair can match via several probes; score is identical
    rankNeighbors(scored, k)
  }

  /** LSH-bucketed ANN: random-hyperplane buckets, exact rerank within the
    * bucket. Trades recall for a corpus-sized scan with no all-pairs
    * shuffle — the scale path. */
  def lshCosineTopK(
      queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int, dim: Int, nPlanes: Int = 8): DataFrame = {
    val scored = lshCandidates(queries, corpus, qId, qVec, cId, cVec, dim, nPlanes)(identity)
      .withColumn("cos", round(VectorFunctions.cosineNative(col("qv"), col("cv")), 6))
    rankNeighbors(scored, k)
  }

  /** The LSH candidate pairs: query (`query_id`, `qv`) and corpus
    * (`neighbor_id`, `cv`) rows bucketed by the same hyperplanes, the
    * corpus bucketed once and equi-joined to the broadcast query side on
    * the bucket id, self-pairs dropped. `probes` maps the query rows
    * (`query_id`, `qv`, `bucket`) to the buckets each one probes. */
  private def lshCandidates(
      queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      dim: Int, nPlanes: Int)(probes: DataFrame => DataFrame): DataFrame = {
    val q = queries.select(col(qId).as("query_id"),
        VectorFunctions.toDoubleArray(col(qVec)).as("qv"))
      .withColumn("bucket", VectorFunctions.lshBucket(col("qv"), dim, nPlanes))
    val c = corpus.select(col(cId).as("neighbor_id"),
        VectorFunctions.toDoubleArray(col(cVec)).as("cv"))
      .withColumn("bucket", VectorFunctions.lshBucket(col("cv"), dim, nPlanes))
    c.join(broadcast(probes(q)), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
  }

  /** Late-interaction retrieval (MaxSim, ColBERT-style — Khattab &
    * Zaharia 2020, public): every query and document is a BAG of token
    * vectors; score(q, d) = sum over q's tokens of the max cosine
    * against d's tokens. Catches term-level matches a single pooled
    * vector blurs away.
    *
    * `queries` rows: (queryDoc, queryTok, vec); `corpus` rows:
    * (corpusDoc, vec). The query bag broadcasts (probe-shaped workload);
    * the corpus streams through one scored pass, then two hash
    * aggregates (max per query token, DECIMAL-exact sum per doc — the
    * per-token maxima are rounded first, so the final sum is
    * aggregation-order-independent) and a per-query top-k window. */
  def maxSimTopK(
      queries: DataFrame, corpus: DataFrame,
      qDoc: String, qTok: String, qVec: String,
      cDoc: String, cVec: String, k: Int): DataFrame = {
    val q = queries.select(col(qDoc).as("query_doc"), col(qTok).as("__qtok"),
      VectorFunctions.toDoubleArray(col(qVec)).as("qv"))
    val c = corpus.select(col(cDoc).as("doc_id"),
      VectorFunctions.toDoubleArray(col(cVec)).as("cv"))
    val perTok = c.crossJoin(broadcast(q))
      .filter(col("doc_id") =!= col("query_doc"))
      .groupBy(col("query_doc"), col("__qtok"), col("doc_id"))
      .agg(max(round(VectorFunctions.cosineNative(col("qv"), col("cv")), 6))
        .cast("decimal(10,6)").as("__mx"))
    val scored = perTok.groupBy(col("query_doc"), col("doc_id"))
      .agg(sum(col("__mx")).as("__score"))
    Joins.topKPerGroup(scored, Seq(col("query_doc")),
        Seq(col("__score").desc, col("doc_id").asc), k, "rank")
      .select(col("query_doc"), col("doc_id"),
        col("__score").cast("double").as("maxsim"), col("rank"))
  }

  /** Hard-negative mining for contrastive training: per anchor, the
    * top-k most-similar corpus vectors whose label DIFFERS from the
    * anchor's — high-similarity wrong-class examples. Anchors broadcast
    * (small probe set); the label filter runs before ranking so all k
    * slots are true negatives. */
  def hardNegatives(
      anchors: DataFrame, corpus: DataFrame,
      aId: String, aVec: String, aLabel: Column,
      cId: String, cVec: String, cLabel: Column, k: Int): DataFrame = {
    val q = anchors.select(col(aId).as("query_id"), aLabel.as("__ql"),
      VectorFunctions.toDoubleArray(col(aVec)).as("qv"))
    val c = corpus.select(col(cId).as("neg_id"), cLabel.as("neg_label"),
      VectorFunctions.toDoubleArray(col(cVec)).as("cv"))
    Joins.topKPerGroup(c.crossJoin(broadcast(q))
        .filter(col("__ql") =!= col("neg_label") && col("query_id") =!= col("neg_id"))
        .withColumn("cos", round(VectorFunctions.cosineNative(col("qv"), col("cv")), 6)),
      Seq(col("query_id")), Seq(col("cos").desc, col("neg_id").asc), k, "rank")
      .select(col("query_id"), col("rank"), col("neg_id"), col("neg_label"), col("cos"))
  }

  /** Squared euclidean distance as a fold — PQ quantizes absolute
    * subvector positions, so euclidean (not cosine) is the metric. */
  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** The k rows of smallest `adc_dist` (vid tiebreak) as
    * (neighbor_id, adc_dist, rank): TakeOrdered, never a global sort, then
    * a rank window over the k survivors. The tail of the quantized
    * operators ([[pqAdcTopK]], [[ivfPqTopK]], [[sq8TopK]]). */
  private def nearestByDist(scored: DataFrame, k: Int): DataFrame =
    scored.orderBy(col("adc_dist").asc, col("vid").asc).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("adc_dist").asc, col("vid").asc)).cast("int"))
      .select(col("vid").as("neighbor_id"), col("adc_dist"), col("rank"))

  /** PQ subspace split: `v` cut into `m` equal slices, exploded to
    * (j = subspace, `sub` = subvector) rows. */
  private def subspaces(v: Column, m: Int, sub: String): Column = {
    val subLen = (size(v) / lit(m)).cast("int")
    posexplode(transform(sequence(lit(0), lit(m - 1)),
      j => slice(v, j * subLen + 1, subLen))).as(Seq("j", sub))
  }

  /** The PQ trainer shared by [[pqAdcTopK]] and [[ivfPqTopK]] over
    * (vid, j, s) subvector rows: per subspace, `ksub` seeds (lowest vid
    * per `vid % ksub` class), nearest-seed assignment (squared L2 rounded
    * at 6, ties to the lower cell) and one Lloyd step. Returns the
    * codebook (j, cell, cen) and every subvector assigned to its codeword
    * (the input columns plus cell, cen, d). */
  private def pqCodebook(subs: DataFrame, ksub: Int): (DataFrame, DataFrame) = {
    val seeds = Joins.top1PerGroup(
      subs.withColumn("cell", pmod(col("vid"), lit(ksub))),
      Seq(col("j"), col("cell")), Seq(col("vid").asc))
      .select(col("j"), col("cell"), col("s").as("cen"))
    def assign(cb: DataFrame): DataFrame =
      Joins.top1PerGroup(
        subs.join(broadcast(cb), Seq("j"))
          .withColumn("d", round(sqDist(col("s"), col("cen")), 6)),
        Seq(col("vid"), col("j")), Seq(col("d").asc, col("cell").asc))
    // one Lloyd step on the seed assignment -> the codebook
    val cb = assign(seeds)
      .select(col("j"), col("cell"), posexplode(col("s")).as(Seq("pos", "x")))
      .groupBy(col("j"), col("cell"), col("pos"))
      // decimal-exact sum then ONE double division: avg over doubles is
      // partial-sum-order-dependent, and an ulp shift at a .5e-6 rounding
      // boundary would fork the codebook trajectory between engines
      .agg(round(sum(col("x").cast("decimal(27,6)")).cast("double")
        / count(lit(1)), 6).as("mc"))
      .groupBy(col("j"), col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mc")))),
        p => p.getField("mc")).as("cen"))
    (cb, assign(cb))
  }

  /** IVF-PQ (the FAISS IVFADC architecture, Jégou et al. 2011 §IV): a
    * coarse inverted file restricts the search to `nprobe` cells, and a
    * product quantizer over RESIDUALS (vector minus its coarse centroid)
    * approximates in-cell distances via ADC.
    *
    * This is the composition the 100 TB ANN deployment actually uses:
    * the IVF prunes the corpus scan to cells totalling ~nprobe/nlist of
    * the data, the PQ shrinks the candidate payload to m bytes/vector,
    * and the ADC scoring is one broadcast distance table + a grouped
    * sum. Everything deterministic (id-residue seeds, one Lloyd step,
    * rounded trajectories, cell-asc tiebreaks) so the DuckDB oracle
    * replays coarse assignment, residuals, PQ training, encoding and
    * scoring bit-for-bit.
    *
    * Distances are euclidean (PQ quantizes absolute positions). Output:
    * (neighbor_id, adc_dist, rank) over the probed cells only.
    */
  def ivfPqTopK(
      corpus: DataFrame, cId: String, cVec: String, queryId: Long,
      nlist: Int, nprobe: Int, m: Int, ksub: Int, k: Int): DataFrame = {
    require(nlist > 0 && nprobe > 0 && m > 0 && ksub > 0 && k > 0,
      "nlist, nprobe, m, ksub, k must be positive")
    val e = corpus.select(col(cId).cast("long").as("vid"),
      VectorFunctions.toDoubleArray(col(cVec)).as("v"))
    // coarse quantizer: the engine's IVF seeds, assigned by squared L2
    val coarse = Clustering.seedCentroids(e, "vid", "v", nlist)
      .select(col("cell"), col("centroid").as("cen"))
    val casg = Joins.top1PerGroup(
      e.crossJoin(broadcast(coarse))
        .withColumn("cd", round(sqDist(col("v"), col("cen")), 6)),
      Seq(col("vid")), Seq(col("cd").asc, col("cell").asc))
    // residuals (rounded so the trajectory replays in any engine)
    val resid = casg.select(col("vid"), col("cell").as("ccell"),
      zip_with(col("v"), col("cen"), (x, c) => round(x - c, 6)).as("r"))
    // the PQ codebook is trained over residual subvectors
    val (cb, coded) = pqCodebook(
      resid.select(col("vid"), col("ccell"), subspaces(col("r"), m, "s")), ksub)
    val codes = coded.select(col("vid"), col("ccell").as("pcell"), col("j"), col("cell"))
    // query: probe the nprobe nearest coarse cells, residualize per probe
    val qv = e.filter(col("vid") === queryId)
    val probes = Joins.topKPerGroup(qv.crossJoin(broadcast(coarse))
        .withColumn("cd", round(sqDist(col("v"), col("cen")), 6)),
      Nil, Seq(col("cd").asc, col("cell").asc), nprobe)
      .select(col("cell").as("pcell"),
        zip_with(col("v"), col("cen"), (x, c) => round(x - c, 6)).as("qr"))
    val qsubs = probes.select(col("pcell"), subspaces(col("qr"), m, "qs"))
    // per-probe ADC table: nprobe x m x ksub rows — always broadcastable
    val dt = broadcast(cb.join(qsubs, Seq("j"))
      .select(col("pcell"), col("j"), col("cell"),
        round(sqDist(col("qs"), col("cen")), 6).as("qd")))
    // DECIMAL-exact ADC sum: qd values are 6-decimal, so the decimal sum
    // is exact and addition-order-independent (a double sum can flip the
    // 6th decimal at rounding boundaries between engines)
    val scored = codes.filter(col("vid") =!= queryId)
      .join(dt, Seq("pcell", "j", "cell"))
      .groupBy(col("vid"))
      .agg(sum(col("qd").cast("decimal(18,6)")).cast("double").as("adc_dist"))
    nearestByDist(scored, k)
  }

  /** Product-quantization ANN (Jégou et al. 2011): split every vector
    * into `m` subvectors, train a deterministic per-subspace codebook
    * (lowest-id seeds per id-residue class + one Lloyd step, euclidean,
    * distances and means rounded at 6 with cell-id tiebreaks — any engine
    * replays the exact trajectory), encode the corpus to m small codes,
    * and answer a query by ADC: per-subspace distance table (m x ksub
    * rows, broadcast) + one grouped sum over the code columns.
    *
    * Scale shape: ALL m subspaces train in one grouped-aggregate chain
    * keyed by (subspace, cell) — no per-subspace loop; the corpus is
    * touched in narrow passes only (explode to subvectors, assign against
    * a broadcast codebook, hash-agg the ADC sum); the final top-k is
    * TakeOrdered, never a global sort. At 100 TB the codes table is
    * ~m bytes/vector — the point of PQ: the reranking working set drops
    * two orders of magnitude below the raw embeddings. */
  def pqAdcTopK(
      corpus: DataFrame, cId: String, cVec: String,
      queryId: Long, m: Int, ksub: Int, k: Int): DataFrame = {
    require(m > 0 && ksub > 0 && k > 0, "m, ksub, k must be positive")
    val e = corpus.select(col(cId).cast("long").as("vid"),
      VectorFunctions.toDoubleArray(col(cVec)).as("v"))
    val subs = e.select(col("vid"), subspaces(col("v"), m, "s"))
    val (cb, coded) = pqCodebook(subs, ksub)
    val codes = coded.select(col("vid"), col("j"), col("cell"))
    val qsubs = subs.filter(col("vid") === queryId).select(col("j"), col("s").as("qs"))
    val dt = broadcast(cb.join(qsubs, Seq("j"))
      .select(col("j"), col("cell"), round(sqDist(col("qs"), col("cen")), 6).as("qd")))
    // DECIMAL-exact ADC sum (see ivfPqTopK: order-independent across engines)
    val scored = codes.filter(col("vid") =!= queryId)
      .join(dt, Seq("j", "cell"))
      .groupBy(col("vid"))
      .agg(sum(col("qd").cast("decimal(18,6)")).cast("double").as("adc_dist"))
    nearestByDist(scored, k)
  }

  /** SQ8 scalar-quantization ANN (the FAISS `ScalarQuantizer` QT_8bit
    * design): train per-DIMENSION [min, max] ranges over the corpus, byte-
    * encode every value to `floor((x-min)/step)` with step = range/256,
    * and answer a query asymmetrically — the query stays full-precision,
    * corpus values are reconstructed at bucket midpoints
    * (`min + (code+0.5)*step`), distance is exact euclidean on the
    * reconstruction.
    *
    * Scale shape: training is ONE explode + per-dimension hash aggregate
    * whose result is a single broadcastable row (2 d-length arrays);
    * encode and score are row-local `zip_with` folds inside the scan
    * projection; top-k is TakeOrdered. At 100 TB the codes shrink the
    * resident corpus 4x vs float32 (the point of SQ8 — same recall class
    * as PQ at far simpler train/encode), and nothing here shuffles the
    * corpus at all.
    *
    * Determinism: all arithmetic is IEEE double (exact float widening,
    * same multiply/divide/floor in any engine); per-dim squared terms are
    * rounded at 6 and folded left-to-right, so the oracle replays
    * training, encoding, reconstruction and scoring bit-for-bit. */
  def sq8TopK(
      corpus: DataFrame, cId: String, cVec: String,
      queryId: Long, k: Int): DataFrame = {
    val e = corpus.select(col(cId).cast("long").as("vid"),
      VectorFunctions.toDoubleArray(col(cVec)).as("v"))
    val stats = e.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .groupBy()
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("mn")))),
          p => p.getField("mn")).as("mins"),
        transform(array_sort(collect_list(struct(col("pos"), col("mx")))),
          p => p.getField("mx")).as("maxs"))
      .select(col("mins"),
        zip_with(col("maxs"), col("mins"), (a, b) => (a - b) / lit(256.0))
          .as("steps"))
    val enc = e.crossJoin(broadcast(stats))
      .withColumn("codes", zip_with(
        zip_with(col("v"), col("mins"), (x, mn) => x - mn), col("steps"),
        (dx, st) => when(st === 0d, lit(0d))
          .otherwise(least(greatest(floor(dx / st), lit(0d)), lit(255d)))
          .cast("int")))
    val qv = e.filter(col("vid") === queryId).select(col("v").as("qv"))
    val scored = enc.filter(col("vid") =!= queryId)
      .crossJoin(broadcast(qv))
      .withColumn("recon", zip_with(
        zip_with(col("codes"), col("steps"),
          (c, st) => (c.cast("double") + lit(0.5)) * st),
        col("mins"), (t, mn) => t + mn))
      .withColumn("adc_dist", round(aggregate(
        zip_with(col("recon"), col("qv"),
          (r, q) => round((r - q) * (r - q), 6)),
        lit(0.0), (acc, t) => acc + t), 6))
    nearestByDist(scored, k)
  }

  /** Corpus-adaptive IVF cell count: ⌊√(n/2)⌋ floored at 16, so the
    * expected cell population grows as √n instead of linearly — keeps
    * blocked pair generation near-linear in corpus size. */
  def adaptiveNlist(n: Long): Int =
    math.max(16, math.sqrt(n / 2.0).toInt)

  /** ANN recall@k evaluation — the tuning harness for the nlist/nprobe
    * (or planes/probes) trade-off, completing the eval family
    * ([[graft.operators.Dedup.lshQualityEval]] for dedup,
    * `TextFunctions.langIdEval` for language id): per query, how many of
    * the EXACT brute-force top-k neighbors the candidate ANN result
    * retrieved. `annResults` is any frame with (query_id, neighbor_id)
    * rows — the output shape every ANN operator here emits — so one
    * evaluator serves IVF, LSH, multiprobe, and IVF-PQ.
    *
    * Scale posture: the exact-truth side is brute force by necessity, so
    * `queries` must be a SAMPLE at corpus scale (the standard recall
    * protocol — measure on ~10^2..10^3 probes, never the full corpus);
    * its cost is |queries| x corpus with the query side broadcast. The
    * hit count is one equi join on (query_id, neighbor_id) and one
    * per-query aggregate. recall_ppm is an exact integer division — no
    * float boundary. */
  def annRecallEval(
      annResults: DataFrame, queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int): DataFrame = {
    val truth = bruteForceCosineTopK(queries, corpus, qId, qVec, cId, cVec, k)
    val cand = annResults.select(col("query_id"), col("neighbor_id"))
      .withColumn("__hit", lit(1L))
    truth.join(cand, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
      .withColumn("recall_ppm", expr("n_hits * 1000000L div n_truth"))
  }

  /** Post-filter step for FILTERED vector search (metadata predicate +
    * top-k): keep only candidates whose neighbor passes the predicate,
    * then re-rank to the final k. The standard production recipe is to
    * OVERFETCH the unfiltered ANN (k × 1/selectivity-ish) and cut here —
    * this operator is the cut. `annResults` is the common
    * (query_id, neighbor_id, cos) shape every ANN operator emits;
    * `passIds` is the (neighbor_id) frame of corpus rows passing the
    * predicate — at scale a semi join on the corpus's own metadata
    * columns, which Catalyst pushes to the candidate join, never a
    * second corpus scan. Rank re-derives from the rounded cosine with
    * the id tiebreak (the cross-engine ordering discipline). */
  def postFilterTopK(
      annResults: DataFrame, passIds: DataFrame, k: Int): DataFrame = {
    val filtered = annResults.join(
      passIds.select(col(passIds.columns.head).as("neighbor_id")),
      Seq("neighbor_id"), "left_semi")
    rankNeighbors(filtered, k)
  }

  /** Mutual k-NN graph construction — the edge list graph-based corpus
    * clustering and diversity analysis start from: an undirected edge
    * (a,b) exists iff b is among a's k nearest neighbors AND a is among
    * b's (mutuality prunes the hub edges a plain k-NN digraph drowns in).
    *
    * IVF-cell blocked like [[Dedup.embeddingNearDupPairs]]: neighbors
    * are only sought within a vector's cell, so candidate generation is
    * an equi self-join on the cell id — never corpus × corpus. The cells
    * are [[Clustering]]'s (min-id seed per `vid % nlist`, rounded
    * similarity with a cell tiebreak), which keep the whole graph
    * engine-replayable. Per-node top-k is [[Joins.topKPerGroup]]
    * partitioned by the node — parallel across nodes, no global sort.
    *
    * SCALE DIAL: `nlist` must grow with the corpus — a FIXED cell count
    * means cell populations grow linearly and within-cell pairs
    * QUADRATICALLY (measured: 10x vectors at nlist=16 → 26x wall; the
    * simhash band-saturation failure mode). Use [[adaptiveNlist]]
    * (√(n/2), so expected cell population stays ~√(2n)) unless the cell
    * count is pinned for oracle/test replay.
    *
    * Returns (id_a, id_b, cos) with id_a < id_b. */
  def mutualKnnGraph(
      df: DataFrame, id: Column, vec: Column, k: Int,
      nlist: Int = 16): DataFrame = {
    val cos = VectorFunctions.cosineNative _
    val e = df.select(id.cast("long").as("vid"),
      VectorFunctions.toDoubleArray(vec).as("v"))
    val assigned = Clustering
      .assign(e, Clustering.seedCentroids(e, "vid", "v", nlist), "vid", "v")
      .select(col("cell"), col("vid"), col("v"))
    val directed = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vid") =!= col("b.vid"))
      .select(col("a.vid").as("src"), col("b.vid").as("dst"),
        round(cos(col("a.v"), col("b.v")), 6).as("cos"))
    val topk = Joins.topKPerGroup(directed, Seq(col("src")),
      Seq(col("cos").desc, col("dst").asc), k).drop("__rn")
    topk.as("x").join(topk.as("y"),
        col("x.src") === col("y.dst") && col("x.dst") === col("y.src") &&
          col("x.src") < col("x.dst"))
      .select(col("x.src").as("id_a"), col("x.dst").as("id_b"), col("x.cos").as("cos"))
  }

  /** NN-descent k-NN graph construction (Dong et al., WWW 2011) — the
    * scale path for graph-based ANN indexes. [[mutualKnnGraph]]'s
    * IVF-cell blocking generates within-cell pairs: with the adaptive
    * √(n/2) cell count that is an N·√N build (measured 409.6 s at the
    * 100× replica — prohibitive another decade out). NN-descent instead
    * iterates "a neighbor of a neighbor is likely a neighbor": start
    * from k pseudo-random candidates per node, then each round score
    * only neighbor-of-neighbor candidates and keep the k best. Cost per
    * round is ≤ 4k²·N candidate pairs — LINEAR in the corpus for fixed
    * k, the sub-N^1.5 contract the graph family needs at 100 TB.
    *
    * Determinism (the LPA/BFS iterative discipline): the init candidates
    * are md5-derived partner ids (`md5(vid#nndj) mod n` — RNG-free,
    * engine-replayable; ids must be dense 0..n-1, the embeddings-table
    * contract), similarities round at 6 with (cos desc, id asc)
    * tiebreaks, each round's graph routes through [[graft.Mat]] (it is
    * consumed by BOTH the forward and reverse legs next round), and the
    * reverse adjacency is CAPPED at k per node (top-cos, the
    * deterministic stand-in for NN-descent's reverse sampling) so every
    * node's join adjacency is ≤ 2k and candidate volume stays bounded.
    * A hub node's in-degree can still skew one join key; at cluster
    * scale AQE skew-join splits it — total volume is what matters.
    *
    * Monotone by construction: the current edges join every round's
    * candidate set, so a node's k-th best similarity never regresses.
    * Returns the DIRECTED graph (src_id, nbr_id, cos, rank ≤ k). */
  def nnDescentGraph(
      df: DataFrame, id: Column, vec: Column, k: Int, rounds: Int,
      n: Long): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(rounds >= 0, s"rounds must be non-negative, got $rounds")
    require(n > 1, s"need at least 2 vectors, got $n")
    val cos = VectorFunctions.cosineNative _
    val e = graft.Mat(df.select(id.cast("long").as("vid"),
      VectorFunctions.toDoubleArray(vec).as("v")))
    val init = e.select(col("vid"), explode(array((1 to k).map(j =>
        pmod(Dedup.md5Int(concat(col("vid").cast("string"),
          lit("#nnd" + j))), lit(n))): _*)).as("cand"))
      .filter(col("cand") =!= col("vid")).distinct()
    // score a candidate frame and keep each node's k nearest
    def topk(cands: DataFrame): DataFrame =
      Joins.topKPerGroup(cands
          .join(e.select(col("vid"), col("v").as("sv")), Seq("vid"))
          .join(e.select(col("vid").as("cand"), col("v").as("cv")), Seq("cand"))
          .select(col("vid"), col("cand"),
            round(cos(col("sv"), col("cv")), 6).as("cos")),
        Seq(col("vid")), Seq(col("cos").desc, col("cand").asc), k, "rank")
    var g = graft.Mat(topk(init))
    for (_ <- 1 to rounds) {
      val fwd = g.select(col("vid").as("src"), col("cand").as("dst"))
      val rev = Joins.topKPerGroup(g, Seq(col("cand")),
          Seq(col("cos").desc, col("vid").asc), k, "__rr")
        .select(col("cand").as("src"), col("vid").as("dst"))
      val und = graft.Mat(fwd.unionByName(rev).distinct())
      val non = und.as("x").join(und.as("y"),
          col("x.dst") === col("y.src") && col("x.src") =!= col("y.dst"))
        .select(col("x.src").as("vid"), col("y.dst").as("cand"))
      val cands = non.unionByName(g.select(col("vid"), col("cand"))).distinct()
      g = graft.Mat(topk(cands))
    }
    g.select(col("vid").as("src_id"), col("cand").as("nbr_id"),
      col("cos"), col("rank"))
  }

  /** Per-dimension-z OOD scoring — the embedding-quality outlier screen
    * (encoder glitches, wrong-modality rows, adversarial inputs): score
    * every vector by Σ_d z_d² against the corpus's per-dimension
    * mean/std (the diagonal-covariance Mahalanobis distance), report
    * the top-k outliers.
    *
    * Scale shape: per-dim stats are ONE posexplode aggregate to a
    * dim-row frame (64 rows), collected into two broadcast arrays; the
    * score is a row-local HOF fold (round-9 per-term, sequential
    * in-array order — the engine-parity fold contract); top-k is
    * TakeOrdered. Zero corpus shuffles beyond the stats aggregate.
    * Variance floors at 1e-12 so constant dims score 0 instead of
    * dividing by zero. Returns (vec_id, ood_score, rank). */
  def oodOutliers(
      corpus: DataFrame, cId: String, cVec: String, k: Int): DataFrame = {
    val e = corpus.select(col(cId).cast("long").as("vec_id"),
      VectorFunctions.toDoubleArray(col(cVec)).as("v"))
    val perDim = e.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(sum(round(col("x"), 9).cast("decimal(28,9)")).as("s"),
        sum(round(col("x") * col("x"), 9).cast("decimal(28,9)")).as("ss"),
        count(lit(1)).as("n"))
      .withColumn("m", col("s").cast("double") / col("n"))
      .withColumn("sd", sqrt(greatest(
        col("ss").cast("double") / col("n") - col("m") * col("m"),
        lit(1e-12))))
    val stats = perDim.groupBy()
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          p => p.getField("m")).as("means"),
        transform(array_sort(collect_list(struct(col("pos"), col("sd")))),
          p => p.getField("sd")).as("stds"))
    val scored = e.crossJoin(broadcast(stats))
      .withColumn("ood_score", round(aggregate(
        zip_with(
          zip_with(col("v"), col("means"), (x, m) => x - m),
          col("stds"), (dx, s) => round((dx / s) * (dx / s), 9)),
        lit(0.0), (acc, t) => acc + t), 6))
    val w = Window.orderBy(col("ood_score").desc, col("vec_id").asc)
    scored.orderBy(col("ood_score").desc, col("vec_id").asc).limit(k)
      .withColumn("rank", row_number().over(w).cast("int"))
      .select("vec_id", "ood_score", "rank")
  }

  /** Greedy best-first search over the mutual k-NN graph — the routing
    * primitive graph-based ANN indexes (HNSW layer 0 / NSG) are built
    * on: start every query at a fixed entry node, repeatedly hop to the
    * neighbor most similar to the query, stop when no neighbor improves
    * (a fixed `hops` budget bounds the walk; the strictly-improving gate
    * makes cycles impossible, so a converged walk just stays put).
    *
    * Scale shape: the graph build is [[mutualKnnGraph]] (IVF-cell
    * blocked); each hop is ONE equi join of the query-state frame
    * against the edge list plus a top-1-per-query window — the state
    * frame is |queries| rows, never corpus-sized. State routes through
    * [[graft.Mat]] per hop (consumed by the candidate join and the
    * merge — the iterative-frame discipline).
    *
    * Determinism: similarities round at 6 with min-id tiebreaks (the
    * [[mutualKnnGraph]] contract), the entry node is the min corpus id,
    * and a query whose current node has no mutual edges stays put
    * (null-safe improvement gate). Returns one row per query:
    * (query_id, node_id, sim, moves). */
  def greedyGraphSearch(
      queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int, nlist: Int, hops: Int): DataFrame = {
    val mut = mutualKnnGraph(corpus, col(cId), col(cVec), k, nlist)
    greedySearchOverEdges(queries, corpus, qId, qVec, cId, cVec,
      mut.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(mut.select(col("id_b").as("src"), col("id_a").as("dst"))),
      hops)
  }

  /** The routing loop of [[greedyGraphSearch]] over a CALLER-SUPPLIED
    * directed edge list (src, dst) — the graph build and the walk are
    * independent concerns: the same greedy routine serves the mutual-kNN
    * graph (small corpora) and [[nnDescentGraph]] (the linear-build
    * scale path). Edge frame is Mat'd here (consumed once per hop). */
  def greedySearchOverEdges(
      queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      edges: DataFrame, hops: Int): DataFrame = {
    val cos = VectorFunctions.cosineNative _
    val e = corpus.select(col(cId).cast("long").as("vid"),
      VectorFunctions.toDoubleArray(col(cVec)).as("v"))
    val ed = graft.Mat(edges.select(col("src"), col("dst")))
    val entry = e.agg(min(col("vid")).as("cur"))
    val q = queries.select(col(qId).cast("long").as("query_id"),
      VectorFunctions.toDoubleArray(col(qVec)).as("qv"))
    var st = graft.Mat(q.crossJoin(broadcast(entry))
      .join(e.select(col("vid").as("cur"), col("v")), Seq("cur"))
      .select(col("query_id"), col("qv"), col("cur"),
        round(cos(col("qv"), col("v")), 6).as("sim"),
        lit(0).as("moves")))
    for (_ <- 1 to hops) {
      val cand = st.join(ed, col("cur") === col("src"))
        .join(e.select(col("vid").as("dst"), col("v").as("nv")), Seq("dst"))
        .withColumn("bsim", round(cos(col("qv"), col("nv")), 6))
      val best = Joins.top1PerGroup(cand, Seq(col("query_id")),
          Seq(col("bsim").desc, col("dst").asc))
        .select(col("query_id"), col("dst").as("bnode"), col("bsim"))
      st = graft.Mat(st.join(best, Seq("query_id"), "left")
        .select(col("query_id"), col("qv"),
          when(col("bsim") > col("sim"), col("bnode")).otherwise(col("cur"))
            .as("cur"),
          when(col("bsim") > col("sim"), col("bsim")).otherwise(col("sim"))
            .as("sim"),
          (col("moves") + when(col("bsim") > col("sim"), 1).otherwise(0))
            .as("moves")))
    }
    st.select(col("query_id"), col("cur").as("node_id"), col("sim"), col("moves"))
  }

  /** Binary (sign) quantization ANN — the most aggressive embedding
    * compression in the FAISS family (`BinaryFlat` / sign-LSH readout):
    * each dimension contributes ONE bit (sign of the component), packed
    * 32 bits per word, and distance is Hamming via popcount over XOR.
    * A 64-dim float vector (256 B) becomes 8 B — a 32× shuffle/scan
    * reduction, which at 100 TB is the difference between an in-memory
    * rerank index and a disk-bound one.
    *
    * Engine-portable by construction: packing, XOR, and popcount are
    * integer-only (no float boundary anywhere; the sign test `x > 0` is
    * exact under float→double widening). Words hold 32 bits each in a
    * BIGINT so the arithmetic never touches the sign bit. Corpus encode
    * is one narrow row-local pass (an `aggregate` HOF per word); queries
    * broadcast; per-query top-k is a window partitioned by the query.
    * At corpus scale this composes with the IVF cell blocking exactly
    * like [[pqAdcTopK]] — Hamming is the cheap first-stage filter.
    *
    * Returns (query_id, neighbor_id, ham, rank) — all integers. */
  def binaryHammingTopK(
      queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      dim: Int, k: Int): DataFrame = {
    require(dim % 32 == 0, s"dim must pack into 32-bit words, got $dim")
    val words = dim / 32
    // element_at past the array end yields null and IF would pack a
    // silent 0 bit — a short vector must FAIL, not quietly mis-distance
    val sized = when(size(col("__v")) === dim, col("__v"))
      .otherwise(raise_error(concat(
        lit(s"binaryHammingTopK: vector has "), size(col("__v")).cast("string"),
        lit(s" dims, expected $dim"))))
    def packed(prefix: String): Seq[Column] = (0 until words).map { w =>
      expr(s"aggregate(sequence(0, 31), 0L, (acc, i) -> " +
        s"acc + IF(element_at(__v, ${w * 32} + i + 1) > 0.0D, " +
        s"shiftleft(1L, i), 0L))").as(s"$prefix$w")
    }
    val c = corpus.select(Seq(col(cId).cast("long").as("neighbor_id"),
      VectorFunctions.toDoubleArray(col(cVec)).as("__v")): _*)
      .select(col("neighbor_id"), sized.as("__v"))
      .select(Seq(col("neighbor_id")) ++ packed("cw"): _*)
    val q = queries.select(Seq(col(qId).cast("long").as("query_id"),
      VectorFunctions.toDoubleArray(col(qVec)).as("__v")): _*)
      .select(col("query_id"), sized.as("__v"))
      .select(Seq(col("query_id")) ++ packed("qw"): _*)
    val ham = (0 until words).map(w =>
        bit_count(col(s"cw$w").bitwiseXOR(col(s"qw$w"))))
      .reduce(_ + _).cast("int")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("ham", ham)
    Joins.topKPerGroup(scored, Seq(col("query_id")),
        Seq(col("ham").asc, col("neighbor_id").asc), k, "rank")
      .select("query_id", "neighbor_id", "ham", "rank")
  }

  /** Top principal direction of the embedding cloud by POWER ITERATION —
    * distributed linear algebra without ever materializing the d x d
    * Gram matrix: each iteration is `w = X^T (X v)` as two corpus passes
    * (a per-row dot against the broadcast v, then a dim-keyed aggregate
    * of s_i * x_i), normalize, repeat. The d-dim vector travels through
    * the driver between iterations — metadata-sized, the same posture as
    * k-means centroids / PSI edges (never corpus data).
    *
    * Engine-replayable by the rounding discipline: dots round at 9;
    * the dim aggregate sums `round(s*x, 9)` as DECIMAL (exact,
    * order-independent); the norm/normalize arithmetic is IEEE
    * mul/div/sqrt on identical operands; components round at 6 per
    * iteration. Starting vector is uniform 1/sqrt(dim) (deterministic,
    * fixes the sign).
    *
    * Returns 1 row: (n_vectors, dim, eigenvalue, top_dim, v0..v3). */
  def powerIteration(
      df: DataFrame, id: Column, vec: Column, dim: Int, iters: Int): DataFrame = {
    require(dim > 0 && iters > 0, "dim/iters must be positive")
    val spark = df.sparkSession
    val e = graft.Mat(df.select(id.cast("long").as("vid"),
      VectorFunctions.toDoubleArray(vec).as("v")))
    val nVec = e.count()
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    var eigen = 0.0
    for (_ <- 1 to iters) {
      val s = round(call_function("dot_product", col("v"), typedLit(v.toSeq)), 9)
      // X^T s as ONE aggregate with dim columns (sum(round(s*x_d, 9)) as
      // DECIMAL per dimension): no explode, no dim-keyed shuffle — each
      // partition collapses to a single partial row before the exchange
      val aggs = (0 until dim).map(dd =>
        sum(round(col("s") * get(col("v"), lit(dd)), 9).cast("decimal(28,9)"))
          .cast("double").as(s"w$dd"))
      val row = e.withColumn("s", s).agg(aggs.head, aggs.tail: _*).head
      val w = (0 until dim).map(row.getDouble).toArray
      // dim-sized driver hops (the k-means-centroid posture): the norm,
      // then the components — ROUNDED BY THE ENGINE's round (the
      // cross-engine-parity operation every other query leans on)
      val nrm = math.sqrt(w.map(x => x * x).sum)
      eigen = nrm
      val wLit = typedLit(w.toSeq)
      v = spark.range(1)
        .select(transform(wLit, x => round(x / nrm, 6)).as("v"))
        .head.getSeq[Double](0).toArray
    }
    val topDim = v.zipWithIndex.maxBy { case (x, i) => (math.abs(x), -i) }._2
    val eig = spark.range(1).select(round(lit(eigen), 6)).head.getDouble(0)
    // report min(dim, 4) leading components — a dim<4 input narrows the
    // output rather than throwing on v(1)..v(3)
    val comps = (0 until math.min(dim, 4)).map(i => lit(v(i)).as(s"v$i"))
    spark.range(1).select(Seq(
      lit(nVec).as("n_vectors"), lit(dim).as("dim"),
      lit(eig).as("eigenvalue"), lit(topDim).as("top_dim")) ++ comps: _*)
  }
}
