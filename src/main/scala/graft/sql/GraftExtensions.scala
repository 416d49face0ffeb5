package graft.sql

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, IntegerType, LongType, StringType}

/** Session extensions registering graft's native Catalyst expressions.
  *
  * Wire up with `.config("spark.sql.extensions", "graft.sql.GraftExtensions")`
  * (works under spark-submit too) — then `cosine_sim(a, b)` resolves in
  * SQL and via `functions.call_function`. The engine's operators call
  * these functions directly: a session without the extension fails at
  * analysis with an `AnalysisException` naming the missing function.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // aggregate-over-base -> aggregate-over-summary MV matching (no-op
    // until an MvDef is registered in graft.plans.MvRegistry)
    ext.injectOptimizerRule(_ => graft.plans.MvRewrite)
    // plans graft.plans.AsOfJoinPlan as the native sort-merge as-of exec
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)

    def fn(name: String, cls: Class[_], arity: Int)(build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
        (children: Seq[Expression]) => {
          require(children.length == arity,
            s"$name expects $arity argument${if (arity == 1) "" else "s"}")
          build(children)
        }))

    // the vector kernels demand array<double>: array<float> inputs etc.
    // are cast here
    fn("l2_norm", classOf[L2Norm], 1)(c => L2Norm(arrayOf(c(0), DoubleType)))
    fn("dot_product", classOf[DotProduct], 2)(c =>
      DotProduct(arrayOf(c(0), DoubleType), arrayOf(c(1), DoubleType)))
    fn("kgram_md5_hashes", classOf[KgramMd5Hashes], 2)(c =>
      KgramMd5Hashes(as(c(0), StringType), as(c(1), IntegerType)))
    fn("kgram_poly_hashes", classOf[KgramPolyHashes], 2)(c =>
      KgramPolyHashes(as(c(0), StringType), as(c(1), IntegerType)))
    fn("sliding_min", classOf[SlidingMin], 2)(c =>
      SlidingMin(arrayOf(c(0), LongType), as(c(1), IntegerType)))
    fn("image_meta", classOf[ImageMeta], 1)(c => ImageMeta(as(c(0), BinaryType)))
    fn("audio_meta", classOf[AudioMeta], 1)(c => AudioMeta(as(c(0), BinaryType)))
    fn("video_meta", classOf[VideoMeta], 1)(c => VideoMeta(as(c(0), BinaryType)))
    fn("minhash_sig", classOf[MinHashSig], 3)(c =>
      MinHashSig(as(c(0), StringType), as(c(1), IntegerType), as(c(2), IntegerType)))
    fn("simhash_sig", classOf[SimHashSig], 2)(c =>
      SimHashSig(as(c(0), StringType), as(c(1), IntegerType)))
    fn("shingle_explode", classOf[ShingleExplode], 2)(c =>
      ShingleExplode(as(c(0), StringType), as(c(1), IntegerType)))
    // Spark's native bloom-membership predicate is optimizer-internal
    // (not in the public registry); expose it so Joins.bloomSemiJoin can
    // stay whole-stage-codegen instead of a per-row Scala UDF. The bloom
    // binary must be foldable (a literal) — the build side serializes the
    // distributed-aggregate filter into one.
    fn("bloom_might_contain", classOf[BloomFilterMightContain], 2)(c =>
      BloomFilterMightContain(c(0), as(c(1), LongType)))
    fn("cosine_sim", classOf[CosineSimilarity], 2)(c =>
      CosineSimilarity(arrayOf(c(0), DoubleType), arrayOf(c(1), DoubleType)))
  }

  private def as(e: Expression, t: DataType): Expression =
    if (e.dataType == t) e else Cast(e, t)

  /** Array of `elem`, whatever its element nullability; any other type is
    * cast to `array<elem>`. */
  private def arrayOf(e: Expression, elem: DataType): Expression = e.dataType match {
    case ArrayType(`elem`, _) => e
    case _ => Cast(e, ArrayType(elem))
  }
}
