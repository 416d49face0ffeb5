package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  // Three tight groups of vectors on distinct axes: k-means with k=3 must
  // separate them regardless of seeds.
  private def clustered = (0L until 30L).map { i =>
    val axis = (i % 3).toInt
    val v = Array.fill(4)(0.05 * ((i % 7) + 1))
    v(axis) = 10.0 + (i % 5)
    (i, v.toSeq)
  }.toDF("vec_id", "embedding")

  test("kMeansAssign separates well-separated groups and is deterministic") {
    val a = Clustering.kMeansAssign(clustered, col("vec_id"), col("embedding"), k = 3, iters = 2)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    val b = Clustering.kMeansAssign(clustered, col("vec_id"), col("embedding"), k = 3, iters = 2)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(a.toSeq == b.toSeq) // deterministic across runs
    // every member of an axis-group lands in the same cluster
    val byAxis = a.groupBy(_._1 % 3).view.mapValues(_.map(_._2).toSet).toMap
    assert(byAxis.values.forall(_.size == 1))
    // and distinct axis-groups land in distinct clusters
    assert(byAxis.values.flatten.toSet.size == 3)
  }

  test("iterations improve or hold compactness on mixed data") {
    val df = (0L until 60L).map { i =>
      val v = Array.tabulate(4)(j => math.sin(i * 0.7 + j).abs + 0.1)
      v((i % 2).toInt) += 3.0
      (i, v.toSeq)
    }.toDF("vec_id", "embedding")
    // compactness: the unweighted mean over clusters of each cluster's mean
    // similarity of members to their centroid
    def meanCos(iters: Int): Double =
      Clustering.kMeansAssign(df, col("vec_id"), col("embedding"), k = 2, iters = iters)
        .groupBy(col("cluster")).agg(round(avg(col("cos")), 6).as("mean_cos"))
        .agg(avg(col("mean_cos"))).as[Double].head()
    assert(meanCos(2) >= meanCos(0) - 1e-9) // Lloyd's never degrades assignment quality
  }

  test("kMeansAssign emits exactly one row per point") {
    val out = Clustering.kMeansAssign(clustered, col("vec_id"), col("embedding"), k = 3, iters = 1)
    assert(out.count() == 30)
    assert(out.select("point_id").distinct().count() == 30)
  }
}
