package graft.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `shingle_explode(text, n)` — native Generator emitting one row per
  * DISTINCT word n-gram shingle of the document, in first-occurrence
  * order. Row-equal to the composable form
  * `explode(array_distinct(transform(sequence(0, size(toks) - n),
  * i -> concat_ws(" ", toks[i..i+n-1]))))` over
  * `toks = split(trim(text), "\\s+")` (same trim: 0x20 only; same
  * Java-regex split with limit -1), so swapping it in changes NO results.
  *
  * Why a Generator and not the HOF pipeline: the composable form builds
  * the full token array, the O(len) shingle-string array, and its
  * distinct copy as row values BEFORE the explode — three transient
  * array allocations per document flowing through the projection. The
  * generator tokenizes and dedupes in ONE pass inside GenerateExec and
  * emits rows directly; nothing document-sized is ever materialized as a
  * column value. At corpus scale the explode is the widest point of
  * every shingle-blocked operator (n-gram Jaccard, novelty,
  * contamination), which makes the per-row constant factor the term
  * that matters.
  */
case class ShingleExplode(text: Expression, n: Expression)
  extends Generator with ExpectsInputTypes with CodegenFallback {

  override def children: Seq[Expression] = Seq(text, n)

  override def inputTypes: Seq[DataType] = Seq(StringType, IntegerType)

  override def elementSchema: StructType =
    StructType(StructField("sh", StringType, nullable = false) :: Nil)

  override def prettyName: String = "shingle_explode"

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val t = text.eval(input)
    val nv = n.eval(input)
    if (t == null || nv == null) return Iterator.empty
    val k = nv.asInstanceOf[Int]
    if (k <= 0) return Iterator.empty
    val toks = t.asInstanceOf[UTF8String].trim().toString.split("\\s+", -1)
    if (toks.length < k) return Iterator.empty
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= toks.length - k) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < k) { sb.append(' ').append(toks(i + j)); j += 1 }
      seen.add(sb.toString)
      i += 1
    }
    val it = seen.iterator()
    new Iterator[InternalRow] {
      override def hasNext: Boolean = it.hasNext
      override def next(): InternalRow =
        InternalRow(UTF8String.fromString(it.next()))
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ShingleExplode =
    copy(text = newChildren(0), n = newChildren(1))
}
