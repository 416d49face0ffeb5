package graft.sql

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

object SlidingMinKernel {
  /** Minimum of every length-`w` window of `arr` (full windows only) via
    * the monotonic-deque algorithm — O(n) total, not O(n * w). */
  def slidingMin(arr: ArrayData, w: Int): ArrayData = {
    val n = arr.numElements()
    if (w <= 0 || n < w) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](n - w + 1)
    val deque = new Array[Int](n) // indices, increasing values
    var head = 0; var tail = 0    // [head, tail)
    var i = 0
    while (i < n) {
      val v = arr.getLong(i)
      while (tail > head && arr.getLong(deque(tail - 1)) >= v) tail -= 1
      deque(tail) = i; tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1) out(i - w + 1) = arr.getLong(deque(head))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `sliding_min(array<long>, w)` -> `array<long>`: window minima of every
  * full length-`w` window, O(n) per row.
  *
  * Built for winnowing: `sliding_min(kgram_poly_hashes(text, k), w)` turns
  * document fingerprinting into a single row-local projection — no
  * per-position rows, no doc-keyed shuffle, no WindowExec — with the
  * final dedupe as the only aggregation.
  */
case class SlidingMin(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), IntegerType)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "sliding_min"

  override protected def nullSafeEval(a: Any, w: Any): Any =
    SlidingMinKernel.slidingMin(a.asInstanceOf[ArrayData], w.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, w) =>
      s"${ev.value} = graft.sql.SlidingMinKernel.slidingMin($a, $w);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SlidingMin =
    copy(left = newLeft, right = newRight)
}
