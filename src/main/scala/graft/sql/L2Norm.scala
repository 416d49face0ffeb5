package graft.sql

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Codegen'd Euclidean norm over an `array<double>` column — completes
  * the native vector family (cosine_sim, dot_product) for embedding
  * normalization and magnitude filters. Sequential accumulation (index
  * 0..n-1), bit-identical to `sqrt(aggregate(...))` HOF folds and to an
  * oracle summing in the same order. */
case class L2Norm(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))

  override def dataType: DataType = DoubleType

  override def prettyName: String = "l2_norm"

  override protected def nullSafeEval(a: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    var ss = 0.0
    var i = 0
    while (i < xs.numElements()) {
      val x = xs.getDouble(i)
      ss += x * x
      i += 1
    }
    math.sqrt(ss)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val ss = ctx.freshName("ss")
      val x = ctx.freshName("x")
      s"""
         |double $ss = 0.0;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  double $x = $a.getDouble($i);
         |  $ss += $x * $x;
         |}
         |${ev.value} = java.lang.Math.sqrt($ss);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): L2Norm =
    copy(child = newChild)
}
