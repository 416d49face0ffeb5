package graft.sql

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared hashing kernels callable from generated code (codegen emits a
  * static call; Scala objects expose static forwarders). */
object HashKernels {
  /** All character k-gram hashes of `text`, in position order: md5 of each
    * k-codepoint slice's UTF-8 bytes, first 4 digest bytes as an unsigned
    * 32-bit value in a long — bit-equal to the composable form
    * `conv(substring(md5(substring(text, i, k)), 1, 8), 16, 10)` (and to
    * `('0x' || substr(md5(...), 1, 8))::BIGINT` in DuckDB oracles), so
    * swapping it in changes NO results. One MessageDigest per row, one
    * digest per position. */
  def kgramMd5(text: UTF8String, k: Int): ArrayData = {
    val n = text.numChars()
    if (k <= 0 || n < k) return new GenericArrayData(Array.empty[Long])
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Long](n - k + 1)
    var i = 0
    while (i <= n - k) {
      md.reset()
      val d = md.digest(text.substringSQL(i + 1, k).getBytes)
      out(i) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `kgram_md5_hashes(text, k)` -> `array<long>`: every k-gram hash of the
  * document in ONE pass over the row.
  *
  * The composable winnowing shape explodes positions FIRST and hashes a
  * substring per exploded row — each position row then materializes the
  * full document text in its UnsafeRow (O(len^2) bytes per doc through
  * the projection). This expression hashes while the text is still one
  * row, so what gets exploded afterwards is an array of longs.
  */
case class KgramMd5Hashes(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType, IntegerType)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "kgram_md5_hashes"

  override protected def nullSafeEval(t: Any, k: Any): Any =
    HashKernels.kgramMd5(t.asInstanceOf[UTF8String], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, k) =>
      s"${ev.value} = graft.sql.HashKernels.kgramMd5($t, $k);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KgramMd5Hashes =
    copy(left = newLeft, right = newRight)
}
