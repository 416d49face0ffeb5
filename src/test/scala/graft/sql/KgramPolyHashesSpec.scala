package graft.sql

import graft.SparkSpec
import org.apache.spark.sql.functions._

class KgramPolyHashesSpec extends SparkSpec {
  import spark.implicits._

  private def naive(s: String, k: Int): Seq[Long] = {
    val cps = s.codePoints().toArray
    if (cps.length < k) Seq.empty
    else (0 to cps.length - k).map { i =>
      cps.slice(i, i + k).foldLeft(0L)((h, c) => (h * PolyHash.B + c) % PolyHash.M)
    }
  }

  test("rolling recurrence equals the naive per-gram fold") {
    for (s <- Seq("hello world", "aaaaaaaa", "ab", "", "abcdefghij"); k <- Seq(1, 3, 5)) {
      val got = PolyHash.kgramPoly(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), k).toLongArray().toSeq
      assert(got == naive(s, k), s"s='$s' k=$k")
    }
  }

  test("unicode: code-point definition (astral chars count once)") {
    val s = "a€ b 😀 c" // euro sign + emoji (surrogate pair)
    val got = PolyHash.kgramPoly(
      org.apache.spark.unsafe.types.UTF8String.fromString(s), 3).toLongArray().toSeq
    assert(got == naive(s, 3))
    assert(got.nonEmpty)
  }

  test("native expression matches the composable HOF fold on a DataFrame") {
    val df = Seq((1L, "the quick brown fox"), (2L, "aa"), (3L, "abcabcabc"))
      .toDF("id", "t")
    val native = df.select(col("id"),
      call_function("kgram_poly_hashes", col("t"), lit(4)).as("hs"))
      .as[(Long, Seq[Long])].collect().toMap
    val hof = df
      .withColumn("npos", length(col("t")) - 3)
      .filter(col("npos") >= 1)
      .select(col("id"), explode(sequence(lit(1), col("npos"))).as("pos"), col("t"))
      .select(col("id"), col("pos"),
        aggregate(split(col("t").substr(col("pos"), lit(4)), ""), lit(0L),
          (acc, ch) => (acc * PolyHash.B + ascii(ch)) % PolyHash.M).as("h"))
      .groupBy(col("id"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("h")))),
        x => x.getField("h")).as("hs"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(native(1L) == hof(1L) && native(3L) == hof(3L))
    assert(native(2L).isEmpty && !hof.contains(2L)) // too short for any gram
  }

  test("winnowFingerprints poly kernel: native and fallback paths agree") {
    import graft.functions.TextFunctions
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different content here entirely")).toDF("doc_id", "text")
    val native = TextFunctions.winnowFingerprints(df, col("doc_id"), col("text"),
      k = 5, w = 4, hash = "poly").as[(Long, Long)].collect().toSet
    // reference: the naive winnow computed here (winnowFingerprints
    // itself is native-only)
    val naiveFps = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different content here entirely")).flatMap { case (id, s) =>
      val hs = naive(s, 5)
      if (hs.length < 4) Seq.empty
      else hs.sliding(4).map(w => (id, w.min)).toSeq.distinct
    }.toSet
    assert(native == naiveFps)
  }
}
