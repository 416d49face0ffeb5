package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The native vector kernels against their composable references:
  * [[graft.Reference.cosine]] and [[graft.Reference.dot]] run as written
  * (higher-order functions), the kernels as codegen'd expressions. */
class VectorFunctionsSpec extends SparkSpec {
  import spark.implicits._

  // RDD-backed (not a LocalRelation) so the optimizer cannot constant-fold
  // the projection away
  private def vecs = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
    (1L, Array(1.0, 2.0, 3.0), Array(3.0, 2.0, 1.0)),
    (2L, Array(0.0, 0.0, 0.0), Array(1.0, 1.0, 1.0)),
    (3L, Array(0.5, -0.5, 2.0), Array(-1.0, 4.0, 0.25)))))
    .toDF("id", "a", "b")

  test("native cosine_sim results are bit-identical to the HOF cosine") {
    val hof = vecs.select(col("id"),
      graft.Reference.cosine(col("a"), col("b")).as("cos"))
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
      when(round(graft.Reference.dot(col("a"), plane), 9) >= 0, lit(1))
        .otherwise(lit(0)) * lit(1 << p)
    }.reduce(_ + _)
    val hofBuckets = planeVec.select(col("id"), hofBucket.as("b"))
      .as[(Long, Int)].collect().toMap
    val nativeBuckets = planeVec
      .select(col("id"), VectorFunctions.lshBucket(col("a"), 3, 4).as("b"))
      .as[(Long, Int)].collect().toMap
    assert(hofBuckets == nativeBuckets)
    val hofDot = vecs.select(graft.Reference.dot(col("a"), col("b"))).as[Double].collect()
    val nativeDot = vecs.select(call_function("dot_product", col("a"), col("b")))
      .as[Double].collect()
    assert(hofDot.toSeq == nativeDot.toSeq) // exact, not tolerance
  }
}
