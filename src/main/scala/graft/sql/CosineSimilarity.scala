package graft.sql

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** The signature shared by the binary `array<double>` kernels
  * ([[CosineSimilarity]], [[DotProduct]]): two `array<double>` inputs
  * (either element nullability), checked at analysis by Spark's
  * [[ExpectsInputTypes]], and a double result. */
private[sql] trait DoubleArrayPair extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  override def dataType: DataType = DoubleType
}

/** Codegen'd cosine similarity over two `array<double>` columns.
  *
  * The composable form (`aggregate(zip_with(...))`, the reference
  * `VectorFunctionsSpec` checks it against) is correct but interpreted —
  * higher-order functions fall out of whole-stage codegen and allocate a
  * lambda frame per element. This native expression runs the dot product
  * and both norms in ONE fused loop inside generated Java, keeping the
  * ANN hot path (queries x corpus similarity) in Tungsten.
  *
  * Accumulation order matches the HOF form (independent sequential sums),
  * so results are bit-identical to the composable version and to the
  * DuckDB oracle. Engine paths call `cosine_sim` directly; nothing
  * rewrites the HOF form into this kernel, which stays the reference
  * `VectorFunctionsSpec` compares it against.
  *
  * Semantics: zero norm on either side -> 0.0; arrays are assumed
  * equal-length with non-null elements (embedding contract); on length
  * mismatch the shorter length is used.
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends DoubleArrayPair {

  override def prettyName: String = "cosine_sim"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = math.min(xs.numElements(), ys.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = xs.getDouble(i); val y = ys.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $a.getDouble($i);
         |  double $y = $b.getDouble($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0
         |  : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}
