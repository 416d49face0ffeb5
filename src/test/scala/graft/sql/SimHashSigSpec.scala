package graft.sql

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimHashSigSpec extends SparkSpec {
  import spark.implicits._

  test("native fingerprint is bit-equal to the explode+agg build") {
    val docs = Seq(
      (1L, "the quick brown fox"),
      (2L, "the quick brown fox"),          // identical -> same fingerprint
      (3L, "entirely different token soup"),
      (4L, ""),                              // empty doc: the '' token votes
      (5L, "  spaced   out   tokens  "),
      (6L, "dup dup dup one"))
    val df = docs.toDF("doc_id", "text")
    assert(spark.catalog.functionExists("simhash_sig"))
    val native = df.select(col("doc_id"),
        call_function("simhash_sig", col("text"), lit(32)).as("simhash"))
      .as[(Long, Long)].collect().toMap
    // the composable explode + aggregate form, inlined as the bit-equality
    // reference (simHashDocs calls the kernel)
    val toks = df.select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("tok"))
      .withColumn("h", graft.operators.Dedup.md5Int(col("tok")))
    val sums = (0 until 32).map { b =>
      sum(shiftright(col("h"), b % 32).bitwiseAND(1) * 2 - 1).as(s"s$b")
    }
    val composed = toks.groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
      .withColumn("simhash",
        (0 until 32).map { b =>
          when(col(s"s$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
        }.reduce((a, c) => a.bitwiseOR(c)))
      .select(col("doc_id"), col("simhash"))
      .as[(Long, Long)].collect().toMap
    assert(native == composed)
    assert(native(1L) == native(2L))
    assert(native(1L) != native(3L))
  }

  test("simHashDocs via the kernel is a shuffle-free projection") {
    val df = (1L to 20L).map(i => (i, s"tok${i % 5} tok${i % 3} word$i"))
      .toDF("doc_id", "text")
    val plan = graft.operators.Dedup
      .simHashDocs(df, col("doc_id"), col("text"), 32)
      .queryExecution.executedPlan.toString
    // the signature itself must stay a projection — the only exchange
    // kind allowed is Tables.fanOut's round-robin respread of an
    // under-split input; any keyed/range/single exchange is a regression
    // (CamelCase in SparkPlan.toString, lowercase in formatted explain)
    val residual = "Exchange (?i)roundrobinpartitioning".r.replaceAllIn(plan, "")
    assert(!residual.contains("Exchange"),
      s"fingerprint build must not shuffle by key:\n$plan")
  }
}
