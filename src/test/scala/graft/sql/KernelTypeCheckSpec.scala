package graft.sql

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.analysis.AnalysisErrorAt
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.DataTypeMismatch
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}
import org.scalatest.funsuite.AnyFunSuite

/** The native kernels' analysis-time input-type check, on expressions
  * built directly: `GraftExtensions` casts registered calls to the right
  * types, so no query reaches the failing branch. */
class KernelTypeCheckSpec extends AnyFunSuite {
  private val str = Literal("abc")
  private val int = Literal(3)
  private val bin = Literal(Array[Byte](1, 2, 3))
  private val longs = Literal.create(Seq(1L, 2L), ArrayType(LongType))
  private val doubles = Seq(true, false).map(n =>
    Literal.create(Seq(1.0, 2.0), ArrayType(DoubleType, containsNull = n)))

  // (rightly typed builds, one wrongly typed build) per kernel
  private val kernels: Seq[(Seq[Expression], Expression)] = Seq(
    Seq(AudioMeta(bin)) -> AudioMeta(str),
    Seq(ImageMeta(bin)) -> ImageMeta(int),
    Seq(VideoMeta(bin)) -> VideoMeta(longs),
    Seq(KgramMd5Hashes(str, int)) -> KgramMd5Hashes(str, str),
    Seq(KgramPolyHashes(str, int)) -> KgramPolyHashes(bin, int),
    Seq(SimHashSig(str, int)) -> SimHashSig(int, int),
    Seq(ShingleExplode(str, int)) -> ShingleExplode(str, Literal(3L)),
    Seq(SlidingMin(longs, int)) -> SlidingMin(doubles.head, int),
    Seq(MinHashSig(str, int, int)) -> MinHashSig(str, int, str),
    doubles.map(L2Norm(_)) -> L2Norm(longs),
    (for (a <- doubles; b <- doubles) yield CosineSimilarity(a, b)) ->
      CosineSimilarity(doubles.head, longs),
    (for (a <- doubles; b <- doubles) yield DotProduct(a, b)) -> DotProduct(str, doubles.head))

  for ((right, wrong) <- kernels) {
    val name = wrong.prettyName
    test(s"$name: input-type check fails on a wrongly typed child, naming the kernel") {
      val mismatch = wrong.checkInputDataTypes() match {
        case m: DataTypeMismatch => m
        case other => fail(s"$name accepted a wrongly typed child: $other")
      }
      val msg = intercept[AnalysisException](wrong.dataTypeMismatch(wrong, mismatch)).getMessage
      assert(msg.contains(s"\"$name("), msg)
    }
    test(s"$name: input-type check passes on the right types") {
      right.foreach(e => assert(e.checkInputDataTypes().isSuccess, e))
    }
  }
}
