package graft.sql

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** MinHash signature kernel: the whole per-document signature in ONE pass
  * over the row — tokenize, form word n-gram shingles, hash each with md5
  * (first 4 digest bytes, unsigned — the same engine-replicable value as
  * `conv(substring(md5(sh), 1, 8), 16, 10)`), and fold the `numHashes`
  * permutation minima `min((h * (1 + 2i) + (11i + 7)) mod P)` as it goes.
  *
  * Bit-equal to the composable build in `Dedup.minHashLshPairs`
  * (explode shingles -> md5Int -> groupBy doc with numHashes mins), so
  * swapping it in changes NO results — but the composable form pays a
  * shingle explode plus a hash-aggregate SHUFFLE per corpus; this kernel
  * is a pure projection: the signature never leaves the row, and at
  * 100 TB the only shuffle left in LSH dedup is the band-bucket join.
  *
  * Duplicate shingles need no dedup here: min() is idempotent under
  * repeats (the composable form's `array_distinct` exists for Jaccard
  * semantics, not the signature).
  *
  * Returns an EMPTY array for docs with fewer than `n` tokens — the same
  * docs the exploded form drops (no shingles -> no aggregate row);
  * callers filter `size(sig) > 0`.
  */
object MinHashKernel {
  val P = 4294967311L // smallest prime > 2^32

  def signature(text: UTF8String, n: Int, numHashes: Int): ArrayData = {
    val trimmed = text.toString.trim
    if (trimmed.isEmpty || n <= 0) return new GenericArrayData(Array.empty[Long])
    val toks = trimmed.split("\\s+")
    if (toks.length < n) return new GenericArrayData(Array.empty[Long])
    val md = java.security.MessageDigest.getInstance("MD5")
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      md.reset()
      val d = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      var k = 0
      while (k < numHashes) {
        val v = (h * (1L + 2L * k) + (11L * k + 7L)) % P
        if (v < sig(k)) sig(k) = v
        k += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }
}

/** `minhash_sig(text, n, num_hashes)` -> `array<long>`. */
case class MinHashSig(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType, IntegerType, IntegerType)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(t: Any, n: Any, h: Any): Any =
    MinHashKernel.signature(
      t.asInstanceOf[UTF8String], n.asInstanceOf[Int], h.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, n, h) =>
      s"${ev.value} = graft.sql.MinHashKernel.signature($t, $n, $h);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): MinHashSig =
    copy(first = newFirst, second = newSecond, third = newThird)
}
