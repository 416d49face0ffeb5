package graft.sql

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Polynomial rolling-hash kernels (Rabin–Karp). Unlike the md5 kernel
  * (O(k) digest per position), the rolling recurrence
  * `h' = (h - c_out * B^(k-1)) * B + c_in  (mod M)` costs O(1) per
  * position — O(n) per document instead of O(n * k).
  *
  * Constants are sized so every intermediate fits a signed 64-bit long
  * with plain `%` (no 128-bit math, codegen-friendly): M = 2147483629
  * (largest prime below 2^31) and B = 1000003, so `h * B + c` tops out
  * near 2^51 and `c * B^(k-1) mod M` near 2^52.
  *
  * The hash is defined over Unicode CODE POINTS, so any engine that can
  * fold `(acc * B + codepoint) mod M` over a k-gram reproduces it exactly
  * (DuckDB: `list_reduce([ord(ch)::BIGINT for ch in ...])`) — integer
  * arithmetic, no float-rounding caveats anywhere.
  */
object PolyHash {
  val B = 1000003L
  val M = 2147483629L

  /** All k-gram rolling hashes of `text` in position order. */
  def kgramPoly(text: UTF8String, k: Int): ArrayData = {
    val cps = codePoints(text)
    val n = cps.length
    if (k <= 0 || n < k) return new GenericArrayData(Array.empty[Long])
    var bk = 1L // B^(k-1) mod M
    var j = 1
    while (j < k) { bk = bk * B % M; j += 1 }
    val out = new Array[Long](n - k + 1)
    var h = 0L
    var i = 0
    while (i < k) { h = (h * B + cps(i)) % M; i += 1 }
    out(0) = h
    i = 1
    while (i <= n - k) {
      val drop = cps(i - 1) * bk % M
      h = ((h - drop + M) % M * B + cps(i + k - 1)) % M
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  private def codePoints(text: UTF8String): Array[Int] = {
    val s = text.toString
    val out = new Array[Int](s.codePointCount(0, s.length))
    var i = 0; var o = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      out(o) = cp; o += 1
      i += Character.charCount(cp)
    }
    out
  }
}

/** `kgram_poly_hashes(text, k)` -> `array<long>`: every k-gram rolling
  * hash of the document in ONE O(n) pass — the scale kernel for
  * winnowing / passage fingerprints where only hash EQUALITY matters
  * (fingerprint identity), not a cryptographic digest.
  */
case class KgramPolyHashes(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType, IntegerType)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "kgram_poly_hashes"

  override protected def nullSafeEval(t: Any, k: Any): Any =
    PolyHash.kgramPoly(t.asInstanceOf[UTF8String], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, k) =>
      s"${ev.value} = graft.sql.PolyHash.kgramPoly($t, $k);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KgramPolyHashes =
    copy(left = newLeft, right = newRight)
}
