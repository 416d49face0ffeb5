package graft.sql

import graft.SparkSpec
import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._

class RewriteHofCosineSpec extends SparkSpec {
  import spark.implicits._

  // RDD-backed (not a LocalRelation) so the optimizer cannot constant-fold
  // the projection away before the plan assertion sees it
  private def vecs = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
    (1L, Array(1.0, 2.0, 3.0), Array(3.0, 2.0, 1.0)),
    (2L, Array(0.0, 0.0, 0.0), Array(1.0, 1.0, 1.0)),
    (3L, Array(0.5, -0.5, 2.0), Array(-1.0, 4.0, 0.25)))))
    .toDF("id", "a", "b")

  test("HOF cosine pattern is rewritten to the native expression") {
    val df = vecs.select(VectorFunctions.cosine(col("a"), col("b")).as("cos"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("cosine_sim"), optimized)
    assert(!optimized.contains("aggregate("), optimized)
  }

  test("rewritten results are bit-identical to both forms") {
    val hof = vecs.select(col("id"),
      VectorFunctions.cosine(col("a"), col("b")).as("cos"))
      .as[(Long, Double)].collect().toMap
    val native = vecs.select(col("id"),
      VectorFunctions.cosineNative(col("a"), col("b")).as("cos"))
      .as[(Long, Double)].collect().toMap
    assert(hof == native) // exact equality, not tolerance
    assert(hof(2L) == 0.0) // zero-norm guard preserved
  }

  test("native dot_product is bit-identical to the HOF dot; LSH buckets agree") {
    val planeVec = vecs.select(col("id"), col("a"))
    // HOF reference bucket: the same planes and sign rule over the
    // composable `dot` fold
    val hofBucket = (0 until 4).map { p =>
      val plane = array(VectorFunctions.planeValues(42, p, 3).map(lit): _*)
      when(round(VectorFunctions.dot(col("a"), plane), 9) >= 0, lit(1))
        .otherwise(lit(0)) * lit(1 << p)
    }.reduce(_ + _)
    val hofBuckets = planeVec.select(col("id"), hofBucket.as("b"))
      .as[(Long, Int)].collect().toMap
    val nativeBuckets = planeVec
      .select(col("id"), VectorFunctions.lshBucket(col("a"), 3, 4).as("b"))
      .as[(Long, Int)].collect().toMap
    assert(hofBuckets == nativeBuckets)
    val hofDot = vecs.select(VectorFunctions.dot(col("a"), col("b"))).as[Double].collect()
    val nativeDot = vecs.select(call_function("dot_product", col("a"), col("b")))
      .as[Double].collect()
    assert(hofDot.toSeq == nativeDot.toSeq) // exact, not tolerance
  }

  test("non-cosine aggregates are untouched") {
    val df = vecs.select(
      aggregate(col("a"), lit(0.0), (acc, x) => acc + x * x).as("ssq"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("cosine_sim"), optimized)
    assert(df.as[Double].collect().head == 14.0)
  }
}
