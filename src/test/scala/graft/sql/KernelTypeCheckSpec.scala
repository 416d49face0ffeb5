package graft.sql

import org.apache.spark.sql.{AnalysisException, GraftPlanBridge}
import org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala
import org.apache.spark.sql.catalyst.analysis.{AnalysisErrorAt, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.DataTypeMismatch
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, Generator, GreaterThanOrEqual, If, Literal}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}

/** The native kernels' analysis-time input-type check, on expressions
  * built directly: `GraftExtensions` casts registered calls to the right
  * types, so no query reaches the failing branch. The same table's
  * rightly typed builds also run inside executor tasks. */
class KernelTypeCheckSpec extends graft.SparkSpec {
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

  test("every kernel evaluates in executor tasks to its driver-side value") {
    // a multi-partition Range and inputs that depend on its column: a
    // literal input would be constant-folded on the driver, and a local
    // (toDF) frame is evaluated there too, so neither ships the kernel
    val ids = spark.range(0, 16, 1, 4).queryExecution.logical
    val id = UnresolvedAttribute("id")
    val nonNeg = GreaterThanOrEqual(id, Literal(0L))
    // whole-stage codegen ships only the generated code; without it each
    // task deserializes the kernel objects themselves
    val wholeStage = "spark.sql.codegen.wholeStage"
    val prev = spark.conf.getOption(wholeStage)
    try for (ws <- Seq("true", "false"); e <- kernels.map(_._1.head)) {
      spark.conf.set(wholeStage, ws)
      val fromId = e.withNewChildren(e.children.map(c =>
        If(nonNeg, c, Literal.create(null, c.dataType))))
      val want = e match {
        case g: Generator => g.eval(null).iterator.map(convertToScala(_, g.elementSchema)).toSeq
        case _ => Seq(convertToScala(e.eval(), e.dataType))
      }
      val got = GraftPlanBridge.ofRows(spark, Project(Seq(id, Alias(fromId, "v")()), ids))
        .collect().toSeq.groupBy(_.getLong(0)).map { case (i, rows) => i -> rows.map(_.get(1)) }
      (0L until 16L).foreach { i =>
        assert(got.getOrElse(i, Nil) == want, s"${e.prettyName} on id $i, $wholeStage=$ws")
      }
    } finally prev.fold(spark.conf.unset(wholeStage))(spark.conf.set(wholeStage, _))
  }
}
