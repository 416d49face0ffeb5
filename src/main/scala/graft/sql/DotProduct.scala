package graft.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData

/** Codegen'd dot product over two `array<double>` columns — one fused
  * loop in generated Java, for the LSH hyperplane projections and any
  * raw inner-product scoring (the HOF `aggregate(zip_with(...))` form is
  * interpreted and allocates a lambda frame per element).
  *
  * Accumulation order matches the sequential HOF fold (index 0..n-1), so
  * results are bit-identical to the HOF dot (the reference
  * `VectorFunctionsSpec` compares it against) and to an oracle summing in
  * the same order. Length mismatch uses the shorter length (embedding
  * contract: equal lengths). */
case class DotProduct(left: Expression, right: Expression)
  extends DoubleArrayPair {

  override def prettyName: String = "dot_product"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = math.min(xs.numElements(), ys.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += xs.getDouble(i) * ys.getDouble(i)
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}
