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
    * dies at cluster scale. Over a total order a row number is the
    * running count of a constant 1, so this is [[globalRunningSums]]'
    * bucket machinery (see [[globalPrefix]]) summing `1L`.
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
    globalPrefix(df, leadKey, tiebreaks, Seq(lit(1L) -> outName))._1

  /** ntile(k) over a total order, without ntile's single-partition
    * global window: the [[globalRowNumber]] r of [[globalPrefix]], cut
    * as ntile cuts N rows (N = the row count [[globalPrefix]] returns as
    * the grand total, floored at 1) — the first N % k bins hold
    * N / k + 1 rows, the rest N / k. Output column is INT like ntile's. */
  def equiDepthBin(
      df: DataFrame, k: Int, leadKey: String, tiebreaks: Seq[Column],
      outName: String): DataFrame = {
    val (ranked, totals) = globalPrefix(df, leadKey, tiebreaks, Seq(lit(1L) -> outName))
    val n = math.max(totals.head, 1L)
    val (q, rem) = (n / k, n % k)
    val big = rem * (q + 1) // rows in the larger bins
    // integral `div`, not `/`: Spark's `/` is double division
    ranked.withColumn(outName, expr(
      s"CAST(CASE WHEN `$outName` <= ${big}L THEN (`$outName` - 1L) div ${q + 1}L " +
        s"ELSE ${rem}L + (`$outName` - 1L - ${big}L) div ${math.max(q, 1L)}L END AS INT) + 1"))
  }

  /** Exact global running sums over a total order (see [[globalPrefix]])
    * — the scalable form of `sum(v) OVER (ORDER BY key)`, which as
    * written funnels the table through ONE task. Each `(valueCol,
    * outName)` pair gets its own cumulative column in the same single
    * pass; values must be LONG (exact integer prefix sums —
    * engine-replayable).
    *
    * `leadKey` must be numeric; `tiebreaks` must make the order total
    * (the prefix sum at a row is order-dependent across ties). */
  def globalRunningSums(
      df: DataFrame, leadKey: String, tiebreaks: Seq[Column],
      values: Seq[(Column, String)]): DataFrame =
    globalPrefix(df, leadKey, tiebreaks, values)._1

  /** The one global-order pass behind [[globalRowNumber]],
    * [[equiDepthBin]] and [[globalRunningSums]]: `df` with a prefix-sum
    * column per `(value, outName)` pair, plus each value's grand total.
    *
    * Method: (1) compute ~numShufflePartitions split points of the
    * LEADING sort column once, driver-side, via approxQuantile —
    * approximate is fine, the edges only need to be order-compatible
    * and FIXED (every later pass is a pure function of data + these
    * literals, so the partials pass and the prefix pass always agree; a
    * range-exchange formulation would NOT have this property, because
    * its reservoir sampling reseeds per job). (2) assign each row its
    * bucket by a pure projection (count of edges below the key).
    * (3) sum each value per bucket — a metadata-sized driver read.
    * (4) prefix = within-bucket running sum (one hash shuffle on the
    * bucket id) + the bucket's cumulative offset. Every data-bearing
    * stage is linear. */
  private def globalPrefix(
      df: DataFrame, leadKey: String, tiebreaks: Seq[Column],
      values: Seq[(Column, String)]): (DataFrame, Seq[Long]) = {
    require(values.nonEmpty, "need at least one value column")
    // ONE materialized scan feeds all three actions (quantile probe,
    // bucket partials, the prefix window itself). NOT fanned out
    // (Tables.fanOut) before materializing: measured at sf0.1, the extra
    // exchange lost more than the added parallelism won on every
    // consumer except a27 (a17 1.0→1.6 s, a37 1.9→2.5 s,
    // x_vocab_coverage 0.5→0.8 s) — these inputs are either already
    // aggregated (post-shuffle) or feed one cheap pass. Callers with
    // provably hash-heavy single-task inputs fan out at the call site
    // instead (a24_woe_binning does).
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
    val prefixed = named.zipWithIndex.foldLeft(bucketed) { case (acc, ((v, out, _), i)) =>
      val offCol =
        if (offsets.isEmpty) lit(0L)
        else element_at(typedLit(offsets.map { case (b, o) => b -> o(i) }), col("__gs_b"))
      acc.withColumn(out, sum(v.cast("long")).over(w) + offCol)
    }.drop("__gs_b")
    (prefixed, accs.toSeq)
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
