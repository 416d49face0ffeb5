package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-handling join utilities for the 100 TB posture.
  *
  * AQE's skew-join splitting (enabled in GraftSession) covers most cases
  * at runtime; explicit salting is for the pathological hot-key joins AQE
  * can't fix — e.g. the DTC sentinel group `'G00000'` holding a large
  * fraction of certificates (`sql/transforms/02-groups.sql:144-161`), or
  * a celebrity user in an event join.
  *
  * `saltedJoin` replicates the (small-ish) right side `salt` times and
  * scatters the left side across the replicas: left rows get a random-but-
  * deterministic salt from a content hash, so results are reproducible.
  */
object Skew {

  /** Inner/left equi-join on `key`, salted `salt` ways. `leftSaltSource`
    * must be a deterministic per-row column (an id) used to derive the
    * scatter — never rand(), which breaks retry determinism. */
  def saltedJoin(
      left: DataFrame, right: DataFrame, key: String,
      salt: Int, leftSaltSource: Column, joinType: String = "inner"): DataFrame = {
    val saltedLeft = left.withColumn("__salt", pmod(xxhash64(leftSaltSource), lit(salt)))
    val saltedRight = right
      .withColumn("__salt", explode(sequence(lit(0L), lit(salt - 1L))))
    saltedLeft.join(saltedRight, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** Key-skew diagnostic: the report you run BEFORE choosing a join
    * strategy at 100 TB — top-`topK` hot keys with their share of the
    * table, cumulative share, and ratio to the mean key load. A
    * `ratio_to_avg` in the thousands on key #1 says "salt or split this
    * join"; a flat report says the hash join is fine as-is.
    *
    * One hash aggregate over the key plus a tiny top-K sort; the global
    * totals ride along via a 1-row broadcast cross join (never a
    * driver-side collect). Deterministic: ties rank by key string. */
  def keySkewReport(df: DataFrame, key: Column, topK: Int = 20): DataFrame = {
    val counts = df.groupBy(key.cast("string").as("key"))
      .agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(
      sum(col("cnt")).as("__total"), count(lit(1)).as("__nkeys"))
    val top = counts
      .orderBy(col("cnt").desc, col("key").asc).limit(topK)
      .crossJoin(broadcast(totals))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("key").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    top
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("cnt").desc, col("key").asc)))
      .withColumn("share_pct", round(col("cnt") * 100.0 / col("__total"), 6))
      .withColumn("cum_share_pct", round(sum(col("cnt")).over(w) * 100.0 / col("__total"), 6))
      .withColumn("ratio_to_avg",
        round(col("cnt").cast("double") * col("__nkeys") / col("__total"), 6))
      .select(col("rank"), col("key"), col("cnt"),
        col("share_pct"), col("cum_share_pct"), col("ratio_to_avg"))
  }
}
