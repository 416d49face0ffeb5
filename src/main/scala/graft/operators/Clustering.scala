package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Embedding clustering for corpus organization (topic bucketing, diversity
  * sampling, cluster-balanced training mixes).
  *
  * Lloyd's k-means with cosine assignment, fully deterministic:
  *
  *  - seed centroids are the lowest-id vector per id-residue class
  *    ([[seedCentroids]], RNG-free), so every run — and every engine
  *    replicating the recipe — starts identically;
  *  - assignment ranks on the ROUNDED similarity with a cell-id tiebreak
  *    ([[assign]]), so float noise at the 7th decimal cannot flip a
  *    point's cell across engines or fold orders;
  *  - centroid updates are element-wise means rounded at 6 decimals, so
  *    the next iteration's input is identical on both sides of the oracle.
  *
  * Scale shape (100 TB stance): centroids are k x dim — configuration-
  * sized — and are broadcast every iteration; the corpus is touched once
  * per iteration with a narrow cross join against the broadcast (k rows)
  * followed by one shuffle on (cell, pos) for the mean. Nothing collects
  * to the driver; iteration count is a small constant (the caller's
  * convergence budget), so the lineage stays shallow.
  *
  * [[seedCentroids]] and [[assign]] are also the engine's one IVF cell
  * assignment: `Similarity.ivfCosineTopK` and `Similarity.mutualKnnGraph`
  * and `Dedup.embeddingNearDupPairs` block their candidates on these
  * cells. `Similarity.ivfPqTopK`'s coarse quantizer starts from the same
  * seeds and keeps only its own squared-L2 assignment.
  */
object Clustering {

  /** Deterministic seeds: the lowest-`id` row of each `id % k` class, as
    * (cell, centroid = its `vec`). The engine's one IVF/k-means seeding. */
  private[operators] def seedCentroids(
      points: DataFrame, id: String, vec: String, k: Int): DataFrame =
    Joins.top1PerGroup(
      points.withColumn("cell", pmod(col(id), lit(k))),
      Seq(col("cell")), Seq(col(id)))
      .select(col("cell"), col(vec).as("centroid"))

  /** Nearest-centroid cell of every (`id`, `vec`) point: cosine rounded at
    * 6, ties to the lower cell, so float noise cannot flip a cell across
    * engines. Returns (id, vec, cell, cos). */
  private[operators] def assign(
      points: DataFrame, centroids: DataFrame, id: String, vec: String): DataFrame =
    Joins.top1PerGroup(
      points.crossJoin(broadcast(centroids))
        .withColumn("cos", round(VectorFunctions.cosineNative(col(vec), col("centroid")), 6)),
      Seq(col(id)), Seq(col("cos").desc, col("cell").asc))
      .select(col(id), col(vec), col("cell"), col("cos"))

  /** Element-wise mean of each cell's members, rounded at 6 decimals and
    * re-assembled in position order. The explode shuffles on (cell, pos)
    * with map-side partial sums; the re-assembly runs over k x dim rows —
    * configuration-sized, so the interpreted HOF there is irrelevant. */
  private def meanCentroids(assigned: DataFrame): DataFrame =
    assigned.select(col("cell"), posexplode(col("__v")).as(Seq("pos", "x")))
      .groupBy(col("cell"), col("pos"))
      .agg(round(avg(col("x")), 6).as("m"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("centroid"))

  /** K-means assignment after `iters` Lloyd iterations: one row per input
    * point with its final cluster and rounded similarity to the final
    * centroid. `id` must be a non-null integral column unique per row. */
  def kMeansAssign(
      df: DataFrame, id: Column, vec: Column,
      k: Int, iters: Int): DataFrame = {
    require(k > 0 && iters >= 0, "k and iters must be positive")
    val points = df.select(id.cast("long").as("__id"),
      VectorFunctions.toDoubleArray(vec).as("__v"))
    var centroids = seedCentroids(points, "__id", "__v", k)
    for (_ <- 1 to iters)
      centroids = meanCentroids(assign(points, centroids, "__id", "__v"))
    assign(points, centroids, "__id", "__v")
      .select(col("__id").as("point_id"), col("cell").as("cluster"), col("cos"))
  }
}
