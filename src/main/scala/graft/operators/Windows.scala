package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-function operators covering SURVEY.md §2.5 (W1–W6). */
object Windows {

  /** Date-range normalization via LEAD (W4,
    * `sql/transforms/06g-normalize-proposal-date-ranges.sql:24-60`):
    * close each effective-dated row at the next row's start minus one day;
    * the last row stays open (null, or a sentinel applied by the caller).
    */
  def leadClose(
      df: DataFrame, part: Seq[Column], order: Seq[Column],
      fromCol: String, toName: String, step: String = "1 DAY"): DataFrame = {
    val w = Window.partitionBy(part: _*).orderBy(order: _*)
    df.withColumn(toName, lead(col(fromCol), 1).over(w) - expr(s"INTERVAL $step"))
  }

  /** Percent-of-total window aggregate (W5,
    * `sql/verify/verify-pha-cleanup.sql:29`). */
  def pctOfTotal(grouped: DataFrame, cntCol: String, outName: String, scale: Int = 2): DataFrame =
    grouped.withColumn(outName,
      round(col(cntCol) * 100.0 / sum(col(cntCol)).over(Window.partitionBy()), scale))

  /** Trailing event-time aggregate: sum of `value` over the preceding
    * `days`-day RANGE frame per key, excluding the current day (upper
    * bound -1 day, so same-day peer rows never see each other) — the
    * standard feature-engineering "trailing 90-day spend" shape. RANGE
    * frames bound by event time, not row counts: gaps and same-day
    * bursts are handled by the frame, not the data layout. */
  def trailingRangeSum(
      df: DataFrame, part: Seq[Column], dateCol: Column, value: Column,
      days: Int, outName: String): DataFrame = {
    val w = Window.partitionBy(part: _*)
      .orderBy(unix_date(dateCol.cast("date"))).rangeBetween(-days, -1)
    df.withColumn(outName, sum(value).over(w))
  }

  /** Exact global row number over a total order WITHOUT the
    * single-partition sort `Window.orderBy` (no partition spec) would
    * run — the shape that funnels the whole table through ONE task and
    * dies at cluster scale.
    *
    * Method: (1) compute ~numShufflePartitions split points of the
    * LEADING sort column once, driver-side, via approxQuantile —
    * approximate is fine, the edges only need to be order-compatible
    * and FIXED (every later pass is a pure function of data + these
    * literals, so the count pass and the rank pass always agree; a
    * range-exchange formulation would NOT have this property, because
    * its reservoir sampling reseeds per job). (2) assign each row its
    * bucket by a pure projection (count of edges below the key).
    * (3) count rows per bucket — a metadata-sized driver read, the
    * same per-partition count `RDD.zipWithIndex` makes. (4) rank =
    * per-bucket row_number (one hash shuffle on the bucket id) + the
    * bucket's cumulative offset. Every data-bearing stage is linear.
    *
    * `leadKey` must be numeric and the first sort key; `tiebreaks`
    * must make the order total (rows equal on the full key would get
    * nondeterministic ranks). A single hot `leadKey` value degrades to
    * one big bucket (its sort is still distributed by the window's
    * hash partition on bucket — but lopsided); that's inherent to
    * exact ranking of a skewed key. */
  def globalRowNumber(
      df: DataFrame, leadKey: String, tiebreaks: Seq[Column],
      outName: String): DataFrame =
    withGlobalRank(df, leadKey, tiebreaks)((b, rank, _) => b.withColumn(outName, rank))

  /** ntile(k)-equivalent equi-depth binning over a total order, computed
    * scalably via [[globalRowNumber]]'s machinery: bin(r) = (r-1)*k / N
    * + 1 (integral division) reproduces ntile's remainder-first
    * distribution exactly — bucket sizes differ by at most one, larger
    * buckets first — without ntile's single-partition global window.
    * Output column is INT like ntile's. */
  def equiDepthBin(
      df: DataFrame, k: Int, leadKey: String, tiebreaks: Seq[Column],
      outName: String): DataFrame =
    withGlobalRank(df, leadKey, tiebreaks) { (b, rank, total) =>
      // integral `div`, not `/`: Spark's `/` is double division, whose
      // rounding could cross an integer boundary for huge rank*k products
      b.withColumn("__gr_rn", rank).withColumn("__gr_tt", total)
        .withColumn(outName,
          expr(s"CAST(((__gr_rn - 1L) * ${k}L) div __gr_tt AS INT) + 1"))
        .drop("__gr_rn", "__gr_tt")
    }

  /** Exact global running sums over a total order, same two-pass bucket
    * machinery as [[globalRowNumber]] (approxQuantile edges → per-bucket
    * partial-sum offsets computed in-plan over the bucket-sized frame,
    * broadcast back → within-bucket window + offset) — the scalable form of
    * `sum(v) OVER (ORDER BY key)`, which as written funnels the table
    * through ONE task. Each `(valueCol, outName)` pair gets its own
    * cumulative column in the same single pass; values must be LONG
    * (exact integer prefix sums — engine-replayable).
    *
    * `leadKey` must be numeric; `tiebreaks` must make the order total
    * (the prefix sum at a row is order-dependent across ties). */
  def globalRunningSums(
      df: DataFrame, leadKey: String, tiebreaks: Seq[Column],
      values: Seq[(Column, String)]): DataFrame = {
    require(values.nonEmpty, "need at least one value column")
    // one materialized scan feeds all three actions (see withGlobalRank)
    val m = graft.Mat(df)
    val n = m.sparkSession.sessionState.conf.numShufflePartitions
    val probes = (1 until n).map(_.toDouble / n).toArray
    val edges =
      if (probes.isEmpty) Array.empty[Double]
      else m.stat.approxQuantile(leadKey, probes, 0.001).distinct.sorted
    val bucketCol =
      if (edges.isEmpty) lit(0)
      else size(filter(typedLit(edges), e => e < col(leadKey).cast("double")))
    val named = values.zipWithIndex.map { case ((v, out), i) => (v, out, s"__gs_v$i") }
    val bucketed = m.withColumn("__gs_b", bucketCol)
    // metadata-sized driver read off the same materialized blocks: one
    // partial-sum row per bucket; literal offsets, no extra join
    val partials = bucketed.groupBy(col("__gs_b"))
      .agg(sum(named.head._1.cast("long")).as(named.head._3),
        named.tail.map { case (v, _, tmp) => sum(v.cast("long")).as(tmp) }: _*)
      .select(col("__gs_b") +: named.map(t => col(t._3)): _*)
      .collect().map(r => r.getInt(0) -> named.indices.map(i => r.getLong(i + 1)))
      .sortBy(_._1)
    val accs = Array.fill(named.size)(0L)
    val offsets = partials.map { case (b, sums) =>
      val off = accs.toSeq
      sums.zipWithIndex.foreach { case (s, i) => accs(i) += s }
      b -> off
    }.toMap
    val w = Window.partitionBy(col("__gs_b"))
      .orderBy((col(leadKey) +: tiebreaks): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    named.zipWithIndex.foldLeft(bucketed) { case (acc, ((v, out, _), i)) =>
      val offCol =
        if (offsets.isEmpty) lit(0L)
        else element_at(typedLit(offsets.map { case (b, o) => b -> o(i) }), col("__gs_b"))
      acc.withColumn(out, sum(v.cast("long")).over(w) + offCol)
    }.drop("__gs_b")
  }

  private def withGlobalRank(df: DataFrame, leadKey: String, tiebreaks: Seq[Column])(
      build: (DataFrame, Column, Column) => DataFrame): DataFrame = {
    // ONE materialized scan feeds all three actions (quantile probe,
    // bucket counts, the ranked window itself) — riders like WOE
    // binning/MAD outliers used to re-derive this frame's lineage 3x.
    // NOT fanned out (Tables.fanOut) before materializing: measured at
    // sf0.1, the extra exchange lost more than the added parallelism won
    // on every globalRank/RunningSums consumer except a27 (a17 1.0→1.6 s,
    // a37 1.9→2.5 s, x_vocab_coverage 0.5→0.8 s) — these inputs are
    // either already aggregated (post-shuffle) or feed one cheap pass.
    // Callers with provably hash-heavy single-task inputs fan out at the
    // call site instead (a24_woe_binning does).
    val m = graft.Mat(df)
    val n = m.sparkSession.sessionState.conf.numShufflePartitions
    val probes = (1 until n).map(_.toDouble / n).toArray
    val edges =
      if (probes.isEmpty) Array.empty[Double]
      else m.stat.approxQuantile(leadKey, probes, 0.001).distinct.sorted
    // bucket = #edges strictly below the key: ties on an edge value all
    // land in the same bucket, null keys land in bucket 0 (nulls-first)
    val bucketCol =
      if (edges.isEmpty) lit(0)
      else size(filter(typedLit(edges), e => e < col(leadKey).cast("double")))
    val bucketed = m.withColumn("__gr_b", bucketCol)
    // metadata-sized driver read off the SAME materialized blocks: one
    // (bucket, count) row per edge gap; literal offsets keep the final
    // plan a pure projection (no extra join in the hot job)
    val counts = bucketed.groupBy(col("__gr_b")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets = counts.map { case (b, c) => val o = acc; acc += c; (b, o) }.toMap
    val offCol =
      if (offsets.isEmpty) lit(0L)
      else element_at(typedLit(offsets), col("__gr_b"))
    val sortCols = col(leadKey) +: tiebreaks
    val w = Window.partitionBy(col("__gr_b")).orderBy(sortCols: _*)
    build(bucketed, row_number().over(w).cast("long") + offCol,
      lit(math.max(acc, 1L)))
      .drop("__gr_b")
  }

  /** Display-name sequencing (W6,
    * `scripts/transforms/consolidate-proposals.ts:427-445`):
    * `"{prefix} - {date} - {seq}"` per partition in a stable order. */
  def seqLabel(
      df: DataFrame, part: Seq[Column], order: Seq[Column],
      prefix: Column, dateCol: Column, outName: String): DataFrame = {
    val w = Window.partitionBy(part: _*).orderBy(order: _*)
    df.withColumn(outName,
      concat_ws(" - ", prefix, date_format(dateCol, "yyyy-MM-dd"),
        row_number().over(w).cast("string")))
  }
}
