package graft.sql

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SimHash kernel: the whole fingerprint in ONE pass over the row — one
  * md5 per whitespace token (first 4 digest bytes unsigned, the
  * `md5Int` value every oracle replays), ±1 folded into each of `bits`
  * counters, sign -> fingerprint bit.
  *
  * Bit-equal to `Dedup.simHashDocs` (explode tokens -> md5Int -> 32
  * per-bit conditional sums in a hash aggregate), so swapping it in
  * changes NO results — but the aggregate form shuffles per-doc partial
  * sums, and the HOF column form (the specs' reference) re-hashes every token
  * once PER BIT in interpreted lambdas. This kernel: one md5 per token,
  * no shuffle, inside whole-stage codegen.
  *
  * Token contract matches `split(trim(text), "\\s+")` exactly, including
  * the empty-string token an all-whitespace document produces (its md5
  * still votes, exactly like the exploded form). */
object SimHashKernel {
  def fingerprint(text: UTF8String, bits: Int): Long = {
    val toks = text.toString.trim.split("\\s+")
    val md = java.security.MessageDigest.getInstance("MD5")
    val sums = new Array[Long](bits)
    var i = 0
    while (i < toks.length) {
      md.reset()
      val d = md.digest(toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      var b = 0
      while (b < bits) {
        sums(b) += ((h >>> (b % 32)) & 1L) * 2L - 1L
        b += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < bits) {
      if (sums(b) > 0L) fp |= 1L << b
      b += 1
    }
    fp
  }
}

/** `simhash_sig(text, bits)` -> `long`. */
case class SimHashSig(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType, IntegerType)

  override def dataType: DataType = LongType

  override def prettyName: String = "simhash_sig"

  override protected def nullSafeEval(t: Any, b: Any): Any =
    SimHashKernel.fingerprint(t.asInstanceOf[UTF8String], b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, b) =>
      s"${ev.value} = graft.sql.SimHashKernel.fingerprint($t, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SimHashSig =
    copy(left = newLeft, right = newRight)
}
