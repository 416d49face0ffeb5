package graft.sql

import graft.SparkSpec
import org.apache.spark.sql.functions._

class KgramMd5HashesSpec extends SparkSpec {
  import spark.implicits._

  test("native k-gram hashes are bit-equal to the composable md5 form") {
    val df = Seq((1L, "the quick brown fox"), (2L, "abc"), (3L, "ab"), (4L, ""))
      .toDF("id", "t")
    val k = 3
    val native = df.select(col("id"),
        call_function("kgram_md5_hashes", col("t"), lit(k)).as("hs"))
      .as[(Long, Seq[Long])].collect().toMap
    val composable = df
      .filter(length(col("t")) >= k)
      .select(col("id"), explode(sequence(lit(1), length(col("t")) - (k - 1))).as("i"), col("t"))
      .select(col("id"), col("i"),
        graft.operators.Dedup.md5Int(col("t").substr(col("i"), lit(k))).as("h"))
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(native(1L) == composable(1L) && native(2L) == composable(2L))
    assert(native(3L).isEmpty && native(4L).isEmpty) // shorter than k
  }

  test("native hashes match the composable form on multi-byte unicode") {
    // substr is codepoint-based, md5 runs over UTF-8 bytes: the native
    // kernel must slice by codepoints too, or multi-byte text diverges
    val df = Seq(
      (1L, "héllo wörld"), (2L, "日本語のテキスト"), (3L, "a😀b😀c"), (4L, "mixé日a"))
      .toDF("id", "t")
    val k = 4
    val native = df.filter(length(col("t")) >= k).select(col("id"),
        call_function("kgram_md5_hashes", col("t"), lit(k)).as("hs"))
      .as[(Long, Seq[Long])].collect().toMap
    val composable = df
      .filter(length(col("t")) >= k)
      .select(col("id"), explode(sequence(lit(1), length(col("t")) - (k - 1))).as("i"), col("t"))
      .select(col("id"), col("i"),
        graft.operators.Dedup.md5Int(col("t").substr(col("i"), lit(k))).as("h"))
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(native.keySet == composable.keySet)
    native.keySet.foreach(id => assert(native(id) == composable(id), s"doc $id"))
  }

  test("winnowFingerprints native and fallback paths agree on real docs") {
    val docs = graft.Tables.documents(spark, sf001).limit(50)
    val nat = graft.functions.TextFunctions
      .winnowFingerprints(docs, col("doc_id"), col("text"), 5, 4)
      .as[(Long, Long)].collect().toSet
    // reference: the composable explode + rows-between window form,
    // spelled out here (winnowFingerprints itself is native-only)
    val base = docs.filter(length(col("text")) >= 5 + 4 - 1)
      .select(col("doc_id").cast("long").as("doc_id"), col("text").as("__t"),
        (length(col("text")) - 4).as("__npos"))
      .select(col("doc_id"), col("__npos"),
        explode(sequence(lit(1), col("__npos"))).as("pos"), col("__t"))
      .select(col("doc_id"), col("__npos"), col("pos"),
        graft.operators.Dedup.md5Int(col("__t").substr(col("pos"), lit(5))).as("h"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos")).rowsBetween(0, 3)
    val fallback = base.withColumn("wmin", min(col("h")).over(win))
      .filter(col("pos") <= col("__npos") - 3)
      .select(col("doc_id"), col("wmin")).distinct()
      .as[(Long, Long)].collect().toSet
    assert(nat == fallback && nat.nonEmpty)
  }
}
