package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Column-statistics operators for data-quality reporting at corpus scale.
  */
object Stats {

  /** Fixed-width histogram of `value` over [lo, hi) with `bins` buckets;
    * values outside clamp into the edge buckets. Portable arithmetic
    * (floor of a linear map — no engine-specific width_bucket), one hash
    * aggregate with map-side partials. Empty buckets are absent (callers
    * needing dense axes join a bucket spine). */
  def histogram(
      df: DataFrame, value: Column,
      lo: Double, hi: Double, bins: Int): DataFrame = {
    require(bins > 0 && hi > lo, "need bins > 0 and hi > lo")
    val width = (hi - lo) / bins
    val raw = floor((value - lo) / width).cast("long")
    val bin = least(greatest(raw, lit(0L)), lit(bins.toLong - 1))
    df.filter(value.isNotNull)
      .groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"),
        round(min(value), 6).as("vmin"),
        round(max(value), 6).as("vmax"))
  }

  /** Ordered funnel analysis: for each user, the earliest time of each
    * stage GIVEN the previous stage happened earlier — `stage` counts how
    * far the user progressed (0 = never entered). The standard product /
    * event-stream conversion query.
    *
    * Scale shape: one conditional aggregate for stage 1, then one equi
    * join + filtered aggregate per later stage — every shuffle keys on
    * the user id, so the partitioning is reused across stages; no
    * windows over whole event histories. */
  def funnel(
      events: DataFrame, user: Column, ts: Column, eventType: Column,
      stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "need at least one funnel stage")
    val base = events.select(user.as("user_id"), ts.as("__ts"), eventType.as("__et"))
    val users = base.select(col("user_id")).distinct()
    var acc = users.join(
      base.filter(col("__et") === stages.head)
        .groupBy(col("user_id")).agg(min(col("__ts")).as("t_0")),
      Seq("user_id"), "left")
    for (i <- 1 until stages.length) {
      val prev = s"t_${i - 1}"
      val next = base.filter(col("__et") === stages(i))
        .join(acc.select(col("user_id"), col(prev)), Seq("user_id"))
        .filter(col("__ts") > col(prev))
        .groupBy(col("user_id")).agg(min(col("__ts")).as(s"t_$i"))
      acc = acc.join(next, Seq("user_id"), "left")
    }
    // deepest stage wins: fold ascending so t_{n-1} ends up outermost
    val stage = stages.indices.foldLeft(lit(0)) { (e, i) =>
      when(col(s"t_$i").isNotNull, i + 1).otherwise(e)
    }
    acc.withColumn("stage", stage)
  }

  /** Per-group z-score outlier flags: z = (x - mean_g) / stddev_g (sample
    * stddev), rounded at 4; |z| > `threshold` flags the row. Group stats
    * come from one hash aggregate joined back (group count is bounded by
    * the key's cardinality — AQE broadcasts), so the fact side never
    * windows over corpus-sized partitions. Groups with fewer than 2 rows
    * or zero variance emit z = 0 (nothing to deviate from). */
  def zScoreOutliers(
      df: DataFrame, group: Column, id: Column, value: Column,
      threshold: Double = 3.0): DataFrame = {
    val stats = df.groupBy(group.as("__g"))
      .agg(avg(value).as("__mean"), stddev_samp(value).as("__sd"))
    df.join(stats, group === col("__g"), "inner")
      .withColumn("z",
        when(col("__sd").isNull || col("__sd") === 0.0, lit(0.0))
          .otherwise(round((value - col("__mean")) / col("__sd"), 4)))
      .withColumn("is_outlier", abs(col("z")) > threshold)
      .drop("__g", "__mean", "__sd")
  }

  /** Time-decayed aggregation (recency-weighted feature engineering:
    * activity scores, rolling engagement): each row's value is weighted
    * by `1 / 2^floor(age / halfLife)` relative to the NEWEST row in the
    * frame, then summed per key.
    *
    * Determinism across engines without libm: the decay bucket is an
    * integer, and `1 / 2^k` is an EXACT power-of-two double (computed by
    * bit shift + one exact division — never `pow`/`exp`, whose last-ulp
    * behavior differs across math libraries); weighted values are
    * rounded then summed as DECIMAL. The reference date comes from a
    * 1-row aggregate broadcast, not a driver collect. */
  def decayedSum(
      df: DataFrame, key: Column, value: Column, ts: Column,
      halfLifeDays: Int): DataFrame = {
    val ref = df.agg(max(to_date(ts)).as("__ref"))
    df.select(key.as("key"), value.as("__v"), to_date(ts).as("__d"))
      .crossJoin(broadcast(ref))
      .withColumn("__k",
        floor(datediff(col("__ref"), col("__d")) / halfLifeDays).cast("int"))
      .withColumn("__w",
        lit(1.0) / expr("shiftleft(cast(1 as bigint), __k)").cast("double"))
      .withColumn("__wv", round(col("__v") * col("__w"), 6).cast("decimal(18,6)"))
      .groupBy(col("key"))
      .agg(sum(col("__wv")).cast("double").as("decayed_value"),
        count(lit(1)).as("n_events"))
  }

  /** EWMA level tracking + anomaly flags over a per-group daily count
    * series — the standard cheap drift monitor for ingest pipelines
    * (is today's volume for this source/event wildly off its smoothed
    * level?).
    *
    * α is fixed at 1/2 so the ENTIRE trajectory is exact integer
    * arithmetic: with s_t = (x_t + s_{t-1})/2, the scaled level
    * S_t = s_t·2^t = x_0 + Σ_{j≥1} x_j·2^{j-1} is an integer running
    * sum of power-of-two-weighted counts (DECIMAL(38,0) here, HUGEINT
    * in the oracle — identical values), and both anomaly gates are
    * integer cross-multiplications against the PREVIOUS level:
    * `x_t > 1.5·s_{t-1}  ⇔  x_t·2^t > 3·S_{t-1}` (and `< 0.5·` ⇔
    * `x_t·2^t < S_{t-1}`). No pow(), no float boundary anywhere; the
    * reported `ewma` divides once at the end by an exactly-representable
    * 2^t. Headroom: counts up to ~1e9/day over ~90-point series stay
    * under 38 digits; series are calendar-bounded so they don't grow
    * with corpus size.
    *
    * Scale shape: ONE corpus hash aggregate (group × day counts);
    * everything after runs on the calendar-bounded series frame (the
    * window sort touches #groups × #days rows, not data). */
  def ewmaAnomalies(df: DataFrame, grp: Column, ts: Column): DataFrame = {
    // exact 2^k as DECIMAL(38,0), split at 45 bits so k up to ~90 works
    def pw2(k: Column): Column =
      when(k < 46,
        call_function("shiftleft", lit(1L), k).cast("decimal(38,0)"))
        .otherwise(call_function("shiftleft", lit(1L), k - 45)
          .cast("decimal(38,0)") * lit(35184372088832L).cast("decimal(38,0)"))
    val daily = df.groupBy(grp.as("grp"), to_date(ts).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("grp")).orderBy(col("day"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nDec = col("n").cast("decimal(38,0)")
    daily
      .withColumn("j", (row_number().over(w) - 1).cast("int"))
      .withColumn("__pj", pw2(col("j")))
      .withColumn("__wgt", nDec * pw2(greatest(col("j") - 1, lit(0))))
      .withColumn("__sp", sum(col("__wgt")).over(run))
      .select(col("grp"), col("day"), col("n"), col("j"),
        round(col("__sp").cast("double") / col("__pj").cast("double"), 6)
          .as("ewma"),
        when(col("j") > 0 && nDec * col("__pj") >
          lit(3).cast("decimal(38,0)") * (col("__sp") - col("__wgt")), 1)
          .otherwise(0).as("flag_high"),
        when(col("j") > 0 && nDec * col("__pj") <
          (col("__sp") - col("__wgt")), 1)
          .otherwise(0).as("flag_low"))
  }

  /** Incremental aggregate maintenance: merge partial aggregate states
    * (each a keyed frame of decomposable measures — sums/counts — e.g.
    * yesterday's materialized rollup plus today's delta batch) into the
    * state the full recompute would produce. The 100 TB contract: a
    * nightly pipeline re-aggregates only the delta and folds it in,
    * never rescanning the base. Works for any commutative-monoid
    * measure; averages etc. derive from (sum, count) at read time.
    * Sums over DECIMAL stay exact under any merge order. */
  def mergeAggState(
      states: Seq[DataFrame], keys: Seq[String], measures: Seq[String]): DataFrame = {
    require(states.nonEmpty, "need at least one state frame")
    val aggs = measures.map(m => sum(col(m)).as(m))
    states.reduce(_ unionByName _)
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Day-of-week multiplicative seasonal index of an event stream — the
    * first stage of any seasonality-aware anomaly/forecast pipeline:
    * per ISO weekday (1 = Monday .. 7 = Sunday), observed days, total
    * events, events/day, and the seasonal index (that weekday's daily
    * rate over the all-days daily rate; 1.0 = no weekly effect).
    *
    * Two hash aggregates (per-day, then per-weekday) plus a one-row
    * total broadcast. The index is computed as ONE double division of
    * exact long cross-products — engine-replayable with no intermediate
    * float accumulation.
    *
    * Returns (dow, n_days, n_events, events_per_day, seasonal_idx). */
  def seasonalIndex(df: DataFrame, ts: Column): DataFrame = {
    val daily = df.select(to_date(ts).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("cnt"))
    val perDow = daily
      .groupBy((weekday(col("day")) + 1).as("dow"))
      .agg(count(lit(1)).as("n_days"), sum(col("cnt")).as("n_events"))
    val tot = daily.agg(count(lit(1)).as("t_days"), sum(col("cnt")).as("t_events"))
    perDow.crossJoin(broadcast(tot))
      .select(col("dow"), col("n_days"), col("n_events"),
        round(col("n_events") / col("n_days"), 6).as("events_per_day"),
        round((col("n_events") * col("t_days")) /
          (col("n_days") * col("t_events")), 6).as("seasonal_idx"))
  }

  /** CUSUM change-point detection (Page 1954) on the daily count of
    * `isEvent` rows: the one-sided cumulative-sum statistic
    * `S_t = max(0, S_{t-1} + (x_t - mean - slack))` with the reference
    * mean taken from the first `baselineDays` observed days, alarm when
    * `S_t > threshold`. The sequential max() recurrence is NOT iterated:
    * it is rewritten as the closed form `S_t = P_t - min(0, min_{j<=t}
    * P_j)` (prefix sum minus running prefix minimum), so the whole
    * statistic is two window passes over the DAILY frame — calendar-
    * bounded metadata, never corpus rows; the corpus is touched once by
    * the per-day count aggregate.
    *
    * All arithmetic is exact integers scaled by the baseline day count
    * (`y = x*bn - bsum - slack*bn`), so no float boundary exists
    * anywhere; `cusum_milli` is an exact integer division readout in
    * milli-events.
    *
    * Returns (day, x, baseline_days, cusum_scaled, cusum_milli, alarm). */
  def cusumChangepoint(
      df: DataFrame, ts: Column, isEvent: Column,
      baselineDays: Int, slack: Long, threshold: Long): DataFrame = {
    require(baselineDays > 0, "baselineDays must be positive")
    val daily = df.filter(isEvent).select(to_date(ts).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("x"))
    val ranked = graft.Mat(daily.withColumn("__rk",
      row_number().over(Window.orderBy(col("day")))))
    val base = ranked.filter(col("__rk") <= baselineDays)
      .agg(sum(col("x")).as("__bsum"), count(lit(1)).as("__bn"))
    val wCum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked.crossJoin(broadcast(base))
      .withColumn("__y",
        col("x") * col("__bn") - col("__bsum") - lit(slack) * col("__bn"))
      .withColumn("__p", sum(col("__y")).over(wCum))
      .withColumn("__runmin", least(lit(0L), min(col("__p")).over(wCum)))
      .withColumn("cusum_scaled", col("__p") - col("__runmin"))
      .select(col("day"), col("x"),
        col("__bn").as("baseline_days"),
        col("cusum_scaled"),
        expr("cusum_scaled * 1000 div __bn").as("cusum_milli"),
        (col("cusum_scaled") > lit(threshold) * col("__bn")).as("alarm"))
  }

  /** Differentially-private-STYLE noisy group counts: per-key count plus
    * Laplace(1/eps) noise via the inverse CDF
    * `-1/eps * sign(u - 0.5) * ln(1 - 2|u - 0.5|)` — the sensitivity-1
    * count mechanism (Dwork et al. 2006), the aggregate a training-data
    * pipeline publishes when per-source corpus statistics leave the
    * trust boundary.
    *
    * The uniform `u` here is DETERMINISTIC (md5 of seed||key -> 24-bit
    * dyadic rational), which makes the mechanism reproducible across
    * engines/retries for the correctness gate but is NOT private —
    * production swaps in secret randomness; the mechanism shape is the
    * operator. Engine parity: u and |u-0.5| are exact dyadic rationals,
    * ln rounds at 9 before the +/-1 product (exact), final value rounds
    * at 6 — the house iterative-rounding discipline.
    *
    * One hash aggregate; the noise is a row-local projection. */
  def dpNoisyCounts(
      df: DataFrame, key: Column, eps: Double, seed: String): DataFrame = {
    require(eps > 0, "eps must be positive")
    val counts = df.groupBy(key.as("key")).agg(count(lit(1)).as("__n"))
    val v = conv(substring(md5(concat(lit(seed), col("key"))), 1, 6), 16, 10)
      .cast("long")
    val u = (v.cast("double") + lit(0.5)) / lit(16777216.0)
    val lnr = round(log(lit(1.0) - lit(2.0) * abs(u - lit(0.5))), 9)
    val sgn = when(u >= 0.5, lit(1.0)).otherwise(lit(-1.0))
    val noise = round(lit(-1.0 / eps) * sgn * lnr, 6)
    counts.select(col("key"), round(col("__n") + noise, 6).as("noisy_count"))
  }

  /** 2-D Pareto frontier (skyline) of the `(x, max-y-per-x)` staircase
    * under strict dominance: the distinct x values whose per-x maximum y
    * strictly exceeds every maximum at larger x — "the best y available
    * at each x level, keeping only undominated levels" (for curation:
    * the longest document available at each quality level).
    *
    * Scale shape: ONE hash aggregate collapses the corpus to the
    * distinct-x frame; the strict suffix max over that frame is the
    * bucketed two-pass pattern — x is range-bucketed into `buckets`
    * cells (fixed-width over the observed [min, max], clamped), the
    * per-bucket maxima form a `buckets`-row frame whose suffix-max
    * window is metadata-sized, and the within-bucket strict suffix max
    * is a window partitioned by bucket (partition = distinct-x-per-cell,
    * never the whole axis). No global sort, no single corpus-sized
    * window partition anywhere.
    *
    * Returns (x, max_y, n_pts) — frontier rows only, every expression
    * replayable (the DuckDB oracle uses the plain global-window form). */
  def skyline2d(
      df: DataFrame, x: Column, y: Column, buckets: Int = 64): DataFrame = {
    val g = df.filter(x.isNotNull && y.isNotNull)
      .groupBy(x.as("x"))
      .agg(max(y).as("max_y"), count(lit(1)).as("n_pts"))
    val bounds = g.agg(min(col("x")).as("__lo"), max(col("x")).as("__hi"))
    val gb = g.crossJoin(broadcast(bounds))
      .withColumn("__bkt", least(greatest(
        floor((col("x") - col("__lo")) * buckets
          / when(col("__hi") === col("__lo"), lit(1.0))
            .otherwise(col("__hi") - col("__lo"))).cast("long"),
        lit(0L)), lit(buckets.toLong - 1)))
    val gm = graft.Mat(gb.select(col("x"), col("max_y"), col("n_pts"),
      col("__bkt")))
    // strict suffix max from HIGHER buckets: a window over the
    // buckets-row frame (metadata-sized)
    val wB = Window.orderBy(col("__bkt").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val bmax = gm.groupBy(col("__bkt")).agg(max(col("max_y")).as("__bm"))
      .withColumn("__suf_hi", max(col("__bm")).over(wB))
      .select(col("__bkt"), col("__suf_hi"))
    // strict suffix max WITHIN the bucket: partition = one bucket's
    // distinct x values
    val wIn = Window.partitionBy(col("__bkt")).orderBy(col("x").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    gm.join(broadcast(bmax), Seq("__bkt"))
      .withColumn("__suf_in", max(col("max_y")).over(wIn))
      .withColumn("__suf", greatest(
        coalesce(col("__suf_hi"), lit(Double.MinValue)),
        coalesce(col("__suf_in"), lit(Double.MinValue))))
      .filter(col("max_y") > col("__suf"))
      .select(col("x"), col("max_y"), col("n_pts"))
  }

  /** First-order Markov transition matrix of per-user event sequences —
    * the clickstream-analysis staple (what do users do AFTER an error?).
    * One `lead` window per user timeline (skew bounded by one user's
    * events), one pair-count hash agg, and row-normalized probabilities
    * as a single double division against the per-from totals (joined
    * back from a state-space-sized frame).
    *
    * CONTRACT: (user, ts) pairs must be unique — the per-user `lead`
    * orders by timestamp alone, so duplicate timestamps within one user
    * make the successor nondeterministic. Pre-dedup or pass a composite
    * ts (e.g. `ts * 1000 + event_id % 1000`) if the stream has ties.
    *
    * Returns (from_type, to_type, n, p) — p sums to 1 per from_type. */
  def transitionMatrix(
      df: DataFrame, user: Column, ts: Column, eventType: Column): DataFrame = {
    val w = Window.partitionBy(col("u")).orderBy(col("t"))
    val pairs = df.select(user.as("u"), ts.as("t"), eventType.as("et"))
      .withColumn("nxt", lead(col("et"), 1).over(w))
      .filter(col("nxt").isNotNull)
    val counts = pairs
      .groupBy(col("et").as("from_type"), col("nxt").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val tot = counts.groupBy(col("from_type")).agg(sum(col("n")).as("__t"))
    counts.join(tot, Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n") / col("__t"), 6).as("p"))
  }

  /** Daily audience accounting — DAU, new users, and EXACT cumulative
    * distinct reach per day (the growth-dashboard staple that naively is
    * `count(DISTINCT user) OVER (ORDER BY day)` — quadratic and
    * single-partition). Scalable form: cumulative distinct = running sum
    * of FIRST-SEEN counts (each user contributes once, on their first
    * day), ridden over [[Windows.globalRunningSums]]' bucketed two-pass
    * — two hash aggregates plus the metadata-sized partial-sum read, no
    * distinct-over-window anywhere.
    *
    * Returns (day, dau, n_new, cum_users, pct_new). */
  def cumulativeReach(df: DataFrame, user: Column, ts: Column): DataFrame = {
    val e = df.select(user.as("u"), to_date(ts).as("day"))
    val firstSeen = e.groupBy(col("u")).agg(min(col("day")).as("fd"))
      .groupBy(col("fd").as("day")).agg(count(lit(1)).as("n_new"))
    val dau = e.distinct().groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val joined = dau.join(firstSeen, Seq("day"), "left")
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
      .withColumn("__dn", datediff(col("day"), lit("1970-01-01")).cast("long"))
    Windows.globalRunningSums(joined, "__dn", Nil, Seq(col("n_new") -> "cum_users"))._1
      .select(col("day"), col("dau"), col("n_new"), col("cum_users"),
        round(col("n_new") / col("dau"), 6).as("pct_new"))
  }

  /** Multi-touch revenue attribution over an event timeline — the
    * marketing-analytics staple: every conversion's value is credited to
    * the touch channels that preceded it inside a lookback window, under
    * BOTH classic models at once:
    *
    *  - last-touch: the single most recent preceding touch gets all of
    *    it ('none' when no touch is inside the lookback);
    *  - linear: the value splits pro-rata over the per-channel touch
    *    COUNTS inside the lookback.
    *
    * Determinism at the engine boundary: all timeline arithmetic is
    * integer epoch-MICROSECONDS; the "latest preceding touch" is
    * `max(us * 8 + channel_code)` over an unbounded-preceding frame
    * (one long — no struct/argmax portability hazards), decoded by
    * div/mod; linear shares are `round(value * n_c / n_total, 6)`
    * summed as DECIMAL. Any engine replays every step bit-for-bit.
    *
    * Scale: two window passes partitioned BY USER (skew bounded by one
    * user's event count) + one global channel-sized aggregate.
    *
    * CONTRACT: (user, ts) pairs must be unique — both window frames
    * order by timestamp alone, so a touch and a conversion sharing one
    * user-timestamp make the rows-based last-touch frame
    * nondeterministic. Pre-dedup or disambiguate ties upstream.
    *
    * Returns one row per channel (+ 'none'):
    * (channel, n_last_touch, last_touch_rev, linear_rev). */
  def attribution(
      df: DataFrame, user: Column, ts: Column, eventType: Column,
      value: Column, touchTypes: Seq[String], convType: String,
      lookbackSeconds: Long): DataFrame = {
    require(touchTypes.nonEmpty && touchTypes.size < 8,
      "1..7 touch channels (3-bit code)")
    val codes = touchTypes.zipWithIndex.map { case (t, i) => (t, (i + 1).toLong) }
    val codeCol = codes.foldLeft(lit(null).cast("long")) { case (acc, (t, c)) =>
      when(eventType === t, lit(c)).otherwise(acc)
    }
    val lbUs = lookbackSeconds * 1000000L
    val base = df.select(user.as("u"), unix_micros(ts).as("us"),
      eventType.as("et"), value.as("v"), codeCol.as("code"))
    val wPrev = Window.partitionBy(col("u")).orderBy(col("us"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRange = Window.partitionBy(col("u")).orderBy(col("us"))
      .rangeBetween(-lbUs, 0L)
    val enriched = codes.foldLeft(
      base.withColumn("last_enc",
        max(when(col("code").isNotNull, col("us") * 8 + col("code"))).over(wPrev))
    ) { case (acc, (_, c)) =>
      acc.withColumn(s"n_$c",
        sum(when(col("code") === c, 1L).otherwise(0L)).over(wRange))
    }
    val totCol = codes.map { case (_, c) => col(s"n_$c") }.reduce(_ + _)
    val lastCh = when(col("last_enc").isNotNull &&
        expr("last_enc div 8") >= col("us") - lbUs,
      codes.foldLeft(lit("none")) { case (acc, (t, c)) =>
        when(pmod(col("last_enc"), lit(8L)) === c, lit(t)).otherwise(acc)
      }).otherwise(lit("none"))
    val purch = enriched.filter(col("et") === convType)
      .withColumn("tot", totCol)
      .withColumn("last_ch", lastCh)
      .withColumn("vd", round(col("v"), 6).cast("decimal(18,6)"))
    val perCh = codes.flatMap { case (t, c) => Seq(
      sum(when(col("last_ch") === t, 1L).otherwise(0L)).as(s"nl_$c"),
      sum(when(col("last_ch") === t, col("vd"))
        .otherwise(lit(0).cast("decimal(18,6)"))).as(s"lr_$c"),
      sum(when(col("tot") > 0,
        round(col("v") * col(s"n_$c") / col("tot"), 6).cast("decimal(18,6)"))
        .otherwise(lit(0).cast("decimal(18,6)"))).as(s"li_$c"))
    }
    val noneAggs = Seq(
      sum(when(col("last_ch") === "none", 1L).otherwise(0L)).as("nl_0"),
      sum(when(col("last_ch") === "none", col("vd"))
        .otherwise(lit(0).cast("decimal(18,6)"))).as("lr_0"),
      sum(when(col("tot") === 0, col("vd"))
        .otherwise(lit(0).cast("decimal(18,6)"))).as("li_0"))
    val aggd = purch.agg((perCh ++ noneAggs).head, (perCh ++ noneAggs).tail: _*)
    val rows = (codes.map { case (t, c) => (t, c) } :+ ("none" -> 0L)).map {
      case (t, c) => struct(lit(t).as("channel"),
        col(s"nl_$c").as("n_last_touch"),
        col(s"lr_$c").cast("double").as("last_touch_rev"),
        col(s"li_$c").cast("double").as("linear_rev"))
    }
    aggd.select(explode(array(rows: _*)).as("r"))
      .select(col("r.channel").as("channel"),
        col("r.n_last_touch").as("n_last_touch"),
        col("r.last_touch_rev").as("last_touch_rev"),
        col("r.linear_rev").as("linear_rev"))
  }

  /** Robust outlier report: EXACT lower median and MAD (median absolute
    * deviation) with a `k`-MAD outlier band — the heavy-tail-safe
    * alternative to [[zScoreOutliers]] (one extreme value cannot move
    * the thresholds). Both medians ride [[Windows.globalRunningSums]]'s
    * bucketed two-pass machinery over per-VALUE counts: no
    * `ORDER BY`-everything single-partition funnel anywhere, and the
    * "smallest value whose cumulative count reaches half" contract is
    * exact-integer, so any engine replays it. The row count n is the
    * first pass's grand total (a driver-side literal, so the half-count
    * filters join nothing); the median/MAD frames are one-row aggregates
    * (broadcast is metadata-sized by construction).
    *
    * Returns 1 row: (n, median, mad, n_outliers, n_high, n_low,
    * outlier_pct). */
  def madOutliers(df: DataFrame, value: Column, k: Double): DataFrame = {
    val x = df.select(value.cast("double").as("x"))
    val per = x.groupBy(col("x")).agg(count(lit(1)).as("c"))
    val (cum, Seq(n)) = Windows.globalRunningSums(per, "x", Nil, Seq(col("c") -> "cum"))
    val med = cum.filter(col("cum") * 2 >= n).agg(min(col("x")).as("med"))
    val dv = x.crossJoin(broadcast(med))
      .select(abs(col("x") - col("med")).as("dv"))
    val perD = dv.groupBy(col("dv")).agg(count(lit(1)).as("c"))
    val mad = Windows.globalRunningSums(perD, "dv", Nil, Seq(col("c") -> "cum"))._1
      .filter(col("cum") * 2 >= n)
      .agg(min(col("dv")).as("mad"))
    x.crossJoin(broadcast(med)).crossJoin(broadcast(mad))
      .agg(
        count(lit(1)).as("n"),
        first(col("med")).as("median"),
        first(col("mad")).as("mad"),
        sum(when(abs(col("x") - col("med")) > lit(k) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"),
        sum(when(col("x") - col("med") > lit(k) * col("mad"), 1L)
          .otherwise(0L)).as("n_high"),
        sum(when(col("med") - col("x") > lit(k) * col("mad"), 1L)
          .otherwise(0L)).as("n_low"))
      .select(col("n"), col("median"), col("mad"), col("n_outliers"),
        col("n_high"), col("n_low"),
        round(col("n_outliers") / col("n"), 6).as("outlier_pct"))
  }

  /** Frequent-itemset mining, pair stage (the Apriori/FP-growth k=2
    * workhorse of market-basket / co-occurrence analysis): support,
    * directional confidence, and lift for every item pair co-occurring
    * in at least `minSupportPpt` per-mille of baskets.
    *
    * Scale shape: the pair expansion is a BASKET-LOCAL self equi join
    * (on the basket id, `item_a < item_b`), so candidate volume is
    * Σ_b C(k_b, 2) — bounded by basket width, never corpus². Everything
    * downstream of the pair count is item-vocabulary-bounded. The
    * support gate is an integer cross-multiplication
    * (`supp_ab * 1000 >= ppt * n_baskets` — no float boundary);
    * confidence/lift are single divisions of exact-integer doubles
    * (products < 2^53), rounded at 6 — IEEE-portable. */
  def frequentItemPairs(
      df: DataFrame, basket: Column, item: Column,
      minSupportPpt: Int): DataFrame = {
    val bi = df.select(basket.as("__b"), item.as("__i")).distinct()
    val nB = bi.agg(countDistinct(col("__b")).as("n_baskets"))
    val singles = bi.groupBy(col("__i")).agg(count(lit(1)).as("supp"))
    val pairs = bi.as("x").join(bi.as("y"),
        col("x.__b") === col("y.__b") && col("x.__i") < col("y.__i"))
      .groupBy(col("x.__i").as("item_a"), col("y.__i").as("item_b"))
      .agg(count(lit(1)).as("supp_ab"))
      .crossJoin(broadcast(nB))
      .filter(col("supp_ab") * 1000 >= col("n_baskets") * minSupportPpt)
    pairs
      .join(singles.select(col("__i").as("item_a"), col("supp").as("supp_a")),
        Seq("item_a"))
      .join(singles.select(col("__i").as("item_b"), col("supp").as("supp_b")),
        Seq("item_b"))
      .select(col("item_a"), col("item_b"), col("supp_ab"),
        col("supp_a"), col("supp_b"), col("n_baskets"),
        round(col("supp_ab").cast("double") / col("supp_a"), 6)
          .as("conf_a_b"),
        round(col("supp_ab").cast("double") / col("supp_b"), 6)
          .as("conf_b_a"),
        round((col("supp_ab").cast("double") * col("n_baskets"))
          / (col("supp_a").cast("double") * col("supp_b")), 6).as("lift"))
  }

  /** Trimmed and winsorized means — the robust-center completion of the
    * family ([[madOutliers]] for spread, this for location): trim drops
    * the k = ⌊n·pct⌋ smallest and largest observations; winsorize clamps
    * them to the surviving boundary values. The heavy-tail-resistant
    * aggregate a metrics pipeline reports next to the raw mean.
    *
    * EXACT order statistics without any sort: per-value counts + the
    * bucketed global running sums give each distinct value its rank
    * interval (cb, cum]; the trimmed sum is Σ value·overlap with
    * [k+1, n−k] (pure integer interval arithmetic), the boundary values
    * are min-value-with-cum≥rank lookups, and every sum is exact in
    * DECIMAL — the only float work is three final divisions (round 6).
    * `value` must be integral (cents/counts). Returns 1 row:
    * (n, k_trim, mean, trimmed_mean, winsorized_mean). */
  def trimmedMeans(df: DataFrame, value: Column, trimPct: Int): DataFrame = {
    require(trimPct > 0 && trimPct < 50, "trim percent must be in (0, 50)")
    val per = graft.Mat(df.select(value.cast("long").as("x"))
      .groupBy(col("x")).agg(count(lit(1)).as("c")))
    val cum = Windows.globalRunningSums(per, "x", Nil, Seq(col("c") -> "cum"))._1
    val tot = per.agg(sum(col("c")).as("n"),
      sum(col("x").cast("decimal(38,0)") * col("c")).as("sx"))
    val base = cum.crossJoin(broadcast(tot))
      .withColumn("k", expr("n * " + trimPct + "L div 100L"))
      .withColumn("cb", col("cum") - col("c"))
    // interior overlap of each value's rank interval with [k+1, n-k]
    val inner = base.withColumn("ov",
        greatest(lit(0L),
          least(col("cum"), col("n") - col("k"))
            - greatest(col("cb") + 1, col("k") + 1) + 1))
      .agg(
        max(col("n")).as("n"), max(col("k")).as("k"),
        max(col("sx")).as("sx"),
        sum(col("x").cast("decimal(38,0)") * col("ov")).as("tsum"))
    val vLo = base.filter(col("cum") >= col("k") + 1)
      .agg(min(col("x")).as("v_lo"))
    val vHi = base.filter(col("cum") >= col("n") - col("k"))
      .agg(min(col("x")).as("v_hi"))
    inner.crossJoin(broadcast(vLo)).crossJoin(broadcast(vHi))
      .select(col("n"), col("k").as("k_trim"),
        round(col("sx").cast("double") / col("n"), 6).as("mean"),
        round(col("tsum").cast("double") / (col("n") - col("k") * 2), 6)
          .as("trimmed_mean"),
        round((col("tsum")
          + col("v_lo").cast("decimal(38,0)") * col("k")
          + col("v_hi").cast("decimal(38,0)") * col("k")).cast("double")
          / col("n"), 6).as("winsorized_mean"))
  }

  /** Poisson-bootstrap confidence interval for a mean (the distributed
    * bootstrap: true multinomial resampling needs coordinated draws, so
    * each row instead enters resample b with an independent Poisson(1)
    * weight — the streaming-friendly variant used for metric CIs at
    * fleet scale). B resamples ride ONE aggregate with 2B conditional
    * sum columns — no explode, no row duplication; the B means sort
    * in-row (array_sort over a B-length array) and the CI reads the
    * 2nd / (B−1)th order statistics (a ~93.75% band at B = 32).
    *
    * Deterministic + portable: weights come from a md5-derived 52-bit
    * uniform pushed through the Poisson(1) inverse-CDF ladder (exact
    * double literal thresholds, same comparisons in any engine);
    * weighted sums are exact integers in DECIMAL; each mean is one IEEE
    * division rounded at 6. Returns 1 row:
    * (n, point_mean, boot_lo, boot_hi, n_resamples). */
  def poissonBootstrapCi(
      df: DataFrame, value: Column, id: Column, b: Int = 32): DataFrame = {
    require(b >= 4, "need at least 4 resamples for the order-statistic CI")
    // bind each resample's uniform to a PROJECTED column so the md5 is
    // evaluated once per (row, resample) — the 6-branch CASE below would
    // otherwise re-derive it per branch absent common-subexpression
    // elimination (up to 6 md5+conv per weight, 192 per row at b=32)
    val base = df.select(Seq(value.cast("long").as("__x"),
      id.cast("string").as("__id")) ++ (0 until b).map { i =>
        (conv(substring(md5(concat(id.cast("string"), lit(":" + i))), 1, 13),
          16, 10).cast("long").cast("double") / lit(4503599627370496.0))
          .as(s"__u$i")
      }: _*)
    def weight(i: Int): Column = {
      val u = col(s"__u$i")
      when(u < 0.36787944117144233, 0L)
        .when(u < 0.7357588823428847, 1L)
        .when(u < 0.9196986029286058, 2L)
        .when(u < 0.9810118431238462, 3L)
        .when(u < 0.9963401531726563, 4L)
        .when(u < 0.9994058151824183, 5L)
        .otherwise(6L)
    }
    val aggs = (0 until b).flatMap { i =>
      val w = weight(i)
      Seq(sum((w * col("__x")).cast("decimal(38,0)")).as(s"__swx$i"),
        sum(w).as(s"__sw$i"))
    } ++ Seq(count(lit(1)).as("n"),
      sum(col("__x").cast("decimal(38,0)")).as("__sx"))
    val one = base.agg(aggs.head, aggs.tail: _*)
    val means = array((0 until b).map(i =>
      round(col(s"__swx$i").cast("double") / col(s"__sw$i"), 6)): _*)
    one.withColumn("__ms", array_sort(means))
      .select(col("n"),
        round(col("__sx").cast("double") / col("n"), 6).as("point_mean"),
        element_at(col("__ms"), 2).as("boot_lo"),
        element_at(col("__ms"), b - 1).as("boot_hi"),
        lit(b).as("n_resamples"))
  }

  /** Gains / decile-lift table — the model-evaluation staple for a
    * propensity score: rank the population by score descending, cut
    * into k equi-depth bins, and report each bin's response rate,
    * cumulative capture, and lift vs the base rate. "Does the top
    * decile really hold 3× its share of converters?"
    *
    * Scale + portability: binning rides [[Windows.equiDepthBin]] (exact
    * ntile semantics without the single-partition sort); per-bin counts
    * are one hash aggregate; the cumulative runs over the k-row bin
    * frame (bounded metadata). Rate/capture/lift are single divisions
    * of exact-integer doubles (products < 2^53), rounded at 6. `id`
    * must totalize the order among tied scores. Returns k rows:
    * (decile, n, n_pos, rate, cum_pos, capture, lift). */
  def gainsTable(
      df: DataFrame, score: Column, label: Column, id: Column,
      k: Int): DataFrame = {
    val base = df.select(score.cast("double").as("__s"),
        label.cast("long").as("__y"), id.as("__id"))
      .withColumn("__neg", -col("__s"))
    val binned = Windows.equiDepthBin(base, k, "__neg",
      Seq(col("__id")), "decile")
    val bins = binned.groupBy(col("decile"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("n_pos"))
    val w = Window.partitionBy().orderBy(col("decile"))
    val tot = bins.agg(sum(col("n")).as("nt"), sum(col("n_pos")).as("pt"))
    bins
      .withColumn("cum_pos", sum(col("n_pos")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(tot))
      .select(col("decile"), col("n"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n"), 6).as("rate"),
        col("cum_pos"),
        round(col("cum_pos").cast("double") / col("pt"), 6).as("capture"),
        round((col("n_pos").cast("double") * col("nt"))
          / (col("n").cast("double") * col("pt")), 6).as("lift"))
  }

  /** Chi-square independence test + Cramér's V over the full R×C
    * contingency of two categorical columns — the feature-association
    * screen (does returnflag predict linestatus?): χ² = Σ (o−e)²/e with
    * e = rowTot·colTot/n, V = √(χ²/(n·(min(R,C)−1))).
    *
    * Scale + portability: the contingency is ONE hash aggregate; margins
    * come from window sums over the cell frame (R·C rows — category-
    * bounded metadata, not corpus data). Each cell's (o−e)²/e term is an
    * IEEE chain over exact-integer doubles, rounded at 9 and summed as
    * DECIMAL(28,9) (cross-cell double addition would be order-
    * dependent); χ² and V round at 6. Returns one row:
    * (n, n_rows_cat, n_cols_cat, dof, chi2, cramers_v). */
  def chiSquareCramersV(df: DataFrame, rowCat: Column, colCat: Column): DataFrame = {
    val obs = df.groupBy(rowCat.cast("string").as("r"),
        colCat.cast("string").as("c"))
      .agg(count(lit(1)).as("o"))
    // densify: UNOBSERVED cells still contribute (0-e)^2/e = e — a
    // sparse contingency understates chi-square (caught by spec). The
    // spine is R x C category-bounded rows, broadcast-crossed.
    val cells = obs.select(col("r")).distinct()
      .crossJoin(broadcast(obs.select(col("c")).distinct()))
      .join(obs, Seq("r", "c"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
    val w = Window
    val withMargins = cells
      .withColumn("rt", sum(col("o")).over(w.partitionBy(col("r"))))
      .withColumn("ct", sum(col("o")).over(w.partitionBy(col("c"))))
      .withColumn("n", sum(col("o")).over(w.partitionBy()))
    val agg = withMargins
      .withColumn("e",
        col("rt").cast("double") * col("ct") / col("n"))
      .withColumn("term", round(
        (col("o") - col("e")) * (col("o") - col("e")) / col("e"), 9))
      .agg(
        max(col("n")).as("n"),
        countDistinct(col("r")).as("n_rows_cat"),
        countDistinct(col("c")).as("n_cols_cat"),
        sum(col("term").cast("decimal(28,9)")).as("__chi2"))
    agg.select(col("n"), col("n_rows_cat"), col("n_cols_cat"),
        ((col("n_rows_cat") - 1) * (col("n_cols_cat") - 1)).as("dof"),
        round(col("__chi2").cast("double"), 6).as("chi2"),
        round(sqrt(col("__chi2").cast("double")
          / (col("n").cast("double")
            * (least(col("n_rows_cat"), col("n_cols_cat")) - 1))), 6)
          .as("cramers_v"))
  }

  /** Mutual information between two categorical columns (plus their
    * entropies and the normalized coefficient) — the information-
    * theoretic sibling of [[chiSquareCramersV]] and the column-pair
    * dependence measure feature-selection pipelines rank by:
    * `I(X;Y) = Σ_xy p_xy · (ln c_xy + ln n − ln c_x − ln c_y)` (the
    * corpus-level expectation of `TextFunctions.pmiCollocations`' PMI).
    *
    * Same posture as the χ² test: one contingency hash aggregate,
    * margins by windows over the category-bounded cell frame, per-cell
    * terms rounded at 9 into DECIMAL sums, ln over exact-integer
    * doubles only. NMI = I/√(H(X)·H(Y)) rounds at 6. Returns one row:
    * (n, h_x, h_y, mi, nmi). */
  def mutualInformation(df: DataFrame, xCat: Column, yCat: Column): DataFrame = {
    val cells = df.groupBy(xCat.cast("string").as("x"),
        yCat.cast("string").as("y"))
      .agg(count(lit(1)).as("o"))
    val w = Window
    val m = cells
      .withColumn("xt", sum(col("o")).over(w.partitionBy(col("x"))))
      .withColumn("yt", sum(col("o")).over(w.partitionBy(col("y"))))
      .withColumn("n", sum(col("o")).over(w.partitionBy()))
    // p·ln terms as round-9 decimals; H(X)/H(Y) de-duplicate their
    // margin terms by dividing each cell's row/col contribution by the
    // number of cells sharing that margin — avoids a second aggregate
    val agg = m
      .withColumn("mi_term", round(
        (col("o").cast("double") / col("n"))
          * (log(col("o")) + log(col("n")) - log(col("xt")) - log(col("yt"))),
        9))
      .withColumn("cells_x", count(lit(1)).over(w.partitionBy(col("x"))))
      .withColumn("cells_y", count(lit(1)).over(w.partitionBy(col("y"))))
      .withColumn("hx_term", round(
        (col("xt").cast("double") / col("n"))
          * (log(col("n")) - log(col("xt"))) / col("cells_x"), 9))
      .withColumn("hy_term", round(
        (col("yt").cast("double") / col("n"))
          * (log(col("n")) - log(col("yt"))) / col("cells_y"), 9))
      .agg(max(col("n")).as("n"),
        sum(col("mi_term").cast("decimal(28,9)")).as("__mi"),
        sum(col("hx_term").cast("decimal(28,9)")).as("__hx"),
        sum(col("hy_term").cast("decimal(28,9)")).as("__hy"))
    agg.select(col("n"),
      round(col("__hx").cast("double"), 6).as("h_x"),
      round(col("__hy").cast("double"), 6).as("h_y"),
      round(col("__mi").cast("double"), 6).as("mi"),
      round(col("__mi").cast("double")
        / sqrt(col("__hx").cast("double") * col("__hy").cast("double")), 6)
        .as("nmi"))
  }

  /** Mann–Whitney U rank-sum test (the nonparametric A/B readout — no
    * normality assumption, robust to the heavy tails that break the
    * t-test): with midranks for ties, U_A = R_A − n_A(n_A+1)/2, compared
    * against the null mean n_A·n_B/2 with the tie-corrected variance
    * σ² = (n_A n_B/12)·((n+1) − Σ(t³−t)/(n(n−1))).
    *
    * Everything up to the z-score is EXACT integer arithmetic at 2×
    * scale (a tie block occupying ranks [c+1, c+t] contributes midrank
    * sums 2R += count_A·(2c + t + 1), dodging the .5): per-value counts
    * are one hash aggregate, the rank offsets ride
    * [[Windows.globalRunningSums]] (never a corpus sort), and the tie
    * correction Σ(t³−t) folds into the same aggregate. The z-score is
    * the only float work — a fixed +,*,/,sqrt chain over exact-integer
    * doubles, rounded at 6.
    *
    * `group` must map rows to {0, 1}. Returns one row:
    * (n_a, n_b, u_a_x2, z). */
  def mannWhitneyU(df: DataFrame, value: Column, group: Column): DataFrame = {
    val per = df
      .select(value.cast("double").as("x"), group.cast("int").as("g"))
      .groupBy(col("x")).agg(
        sum(when(col("g") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("g") === 1, 1L).otherwise(0L)).as("c1"))
    val cum = Windows.globalRunningSums(per, "x", Nil,
      Seq((col("c0") + col("c1")) -> "cumT"))._1
    cum
      .select(col("c0"), col("c1"),
        (col("cumT") - col("c0") - col("c1")).as("cb"))
      .agg(
        sum(col("c0")).as("n_a"), sum(col("c1")).as("n_b"),
        // 2R_A = Σ c0·(2·cumBefore + t + 1) with t = c0+c1
        sum((col("c0") * (col("cb") * 2 + col("c0") + col("c1") + 1))
          .cast("decimal(38,0)")).as("r2"),
        // cube in DECIMAL: a hot value's t³ overflows BIGINT near t ~ 2e6·10³
        sum((col("c0") + col("c1")).cast("decimal(38,0)")
          * (col("c0") + col("c1")) * (col("c0") + col("c1"))
          - (col("c0") + col("c1"))).as("tcorr"))
      .select(col("n_a"), col("n_b"),
        (col("r2") - (col("n_a") * (col("n_a") + 1)).cast("decimal(38,0)"))
          .cast("long").as("u_a_x2"),
        col("r2"), col("tcorr"))
      .withColumn("n", col("n_a") + col("n_b"))
      .withColumn("sigma2",
        (col("n_a").cast("double") * col("n_b") / 12.0)
          * ((col("n") + 1) - col("tcorr").cast("double")
            / (col("n").cast("double") * (col("n") - 1))))
      .select(col("n_a"), col("n_b"), col("u_a_x2"),
        round((col("u_a_x2") - col("n_a").cast("double") * col("n_b"))
          / (lit(2.0) * sqrt(col("sigma2"))), 6).as("z"))
  }

  /** Gini coefficient of a nonnegative integer-valued distribution — the
    * concentration/inequality audit (how concentrated is revenue over
    * customers, token mass over documents, traffic over shards). Uses
    * the rank formula over the ascending total order:
    * `G = (2 Σ r_i x_i − (n+1) Σ x_i) / (n Σ x_i)`.
    *
    * Scale + portability: ranks come from [[Windows.globalRowNumber]]
    * (bucketed two-pass — never the single-partition sort a bare
    * `row_number() OVER (ORDER BY …)` plans); every sum is an exact
    * integer in DECIMAL(38,0), so the only float operation is the final
    * division (numerator/denominator each converted once, IEEE-exact to
    * replay), rounded at 6. `value` must already be integral (cents,
    * counts); `tiebreak` totalizes the order among equal values — ranks
    * of ties differ but Σ r·x over a tie BLOCK is order-invariant, so
    * the coefficient itself never depends on the tiebreak.
    *
    * Returns 1 row: (n, total, gini). */
  def giniCoefficient(df: DataFrame, value: Column, tiebreak: Column): DataFrame = {
    val base = df.select(value.cast("long").as("__x"), tiebreak.as("__tb"))
    val ranked = Windows.globalRowNumber(base, "__x", Seq(col("__tb")), "__r")
    ranked
      .agg(
        count(lit(1)).as("n"),
        sum(col("__x").cast("decimal(19,0)")).as("__sx"),
        sum(col("__r").cast("decimal(19,0)") * col("__x").cast("decimal(19,0)"))
          .as("__srx"))
      .select(col("n"),
        col("__sx").cast("double").as("total"),
        round(
          (col("__srx") * 2 - col("__sx") * (col("n") + 1)).cast("double")
            / (col("__sx") * col("n")).cast("double"), 6).as("gini"))
  }

  /** A/B experiment readout with CUPED variance reduction — Welch's
    * t-test on a per-user conversion metric plus the standard
    * pre-period-covariate adjustment (Deng et al., WSDM'13): the
    * experiment window is the SECOND half of the corpus's time range,
    * the covariate is the same metric over the FIRST half, theta =
    * pooled cov(Y,X)/var(X), and each arm's mean/variance is re-derived
    * from the theta-residuals.
    *
    * Scale shape: one user-keyed hash aggregate collapses the corpus to
    * (user, y, x), then ONE conditional aggregate produces every
    * per-arm/pooled sum in a single row — no second pass, no collect.
    *
    * Determinism at the engine boundary: per-event values quantize to
    * integer MICRO-units (`round(v*1e6, 0)` longs) so every sum is
    * exact; squares/cross-products sum as DECIMAL(38,0); the t/df/theta
    * arithmetic is +,-,*,/,sqrt over those exact sums — all IEEE
    * correctly-rounded ops, so any engine replaying the same expression
    * tree reproduces the doubles bit-for-bit (no ln/exp in the chain).
    *
    * `armOf` maps the user-id column to an integer arm {0, 1} (e.g.
    * `u => pmod(u, 2)`); both arms must have n >= 2.
    *
    * Returns one row: (n_a, n_b, mean_a, mean_b, diff, t_stat, df,
    * theta, adj_diff, adj_t_stat, var_reduction) — means/diffs in
    * original units (round 6). */
  def abTestCuped(
      df: DataFrame, user: Column, ts: Column, eventType: Column,
      value: Column, convType: String,
      armOf: Column => Column): DataFrame = {
    val base = df.select(user.as("u"), unix_micros(ts).as("us"),
      eventType.as("et"), value.as("v"))
    // floor-division midpoint (never a bare double->long cast: Spark
    // truncates, other engines round-to-nearest)
    val rng = base.agg(
      floor((min(col("us")) + max(col("us"))) / 2).cast("long").as("mid"))
    val micro = round(col("v") * lit(1e6), 0).cast("long")
    val perUser = base.crossJoin(broadcast(rng))
      .groupBy(col("u"))
      .agg(
        coalesce(sum(when(col("et") === convType && col("us") >= col("mid"),
          micro)), lit(0L)).as("y"),
        coalesce(sum(when(col("et") === convType && col("us") < col("mid"),
          micro)), lit(0L)).as("x"))
      .select(armOf(col("u")).as("arm"), col("y"), col("x"))
    def d38(c: Column) = c.cast("decimal(19,0)")
    def armL(a: Int, c: Column) =
      sum(when(col("arm") === a, c).otherwise(lit(0L)))
    def armD(a: Int, c: Column) =
      sum(when(col("arm") === a, c).otherwise(lit(0).cast("decimal(38,0)")))
    val sums = perUser.agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
      armL(0, col("y")).as("sy_a"), armL(1, col("y")).as("sy_b"),
      armL(0, col("x")).as("sx_a"), armL(1, col("x")).as("sx_b"),
      armD(0, d38(col("y")) * d38(col("y"))).as("syy_a"),
      armD(1, d38(col("y")) * d38(col("y"))).as("syy_b"),
      armD(0, d38(col("x")) * d38(col("x"))).as("sxx_a"),
      armD(1, d38(col("x")) * d38(col("x"))).as("sxx_b"),
      armD(0, d38(col("x")) * d38(col("y"))).as("sxy_a"),
      armD(1, d38(col("x")) * d38(col("y"))).as("sxy_b"))
    // everything below is scalar arithmetic on ONE row of exact sums;
    // the oracle mirrors this exact expression tree
    def dbl(n: String) = col(n).cast("double")
    val w = sums.select(
      col("n_a"), col("n_b"),
      (dbl("n_a") + dbl("n_b")).as("n"),
      dbl("sy_a").as("sya"), dbl("sy_b").as("syb"),
      dbl("sx_a").as("sxa"), dbl("sx_b").as("sxb"),
      dbl("syy_a").as("syya"), dbl("syy_b").as("syyb"),
      dbl("sxx_a").as("sxxa"), dbl("sxx_b").as("sxxb"),
      dbl("sxy_a").as("sxya"), dbl("sxy_b").as("sxyb"))
      .withColumn("na", dbl("n_a")).withColumn("nb", dbl("n_b"))
      .withColumn("my_a", col("sya") / col("na"))
      .withColumn("my_b", col("syb") / col("nb"))
      .withColumn("mx_a", col("sxa") / col("na"))
      .withColumn("mx_b", col("sxb") / col("nb"))
      .withColumn("mx", (col("sxa") + col("sxb")) / col("n"))
      .withColumn("vy_a",
        (col("syya") - col("sya") * col("sya") / col("na")) / (col("na") - 1))
      .withColumn("vy_b",
        (col("syyb") - col("syb") * col("syb") / col("nb")) / (col("nb") - 1))
      .withColumn("vx_a",
        (col("sxxa") - col("sxa") * col("sxa") / col("na")) / (col("na") - 1))
      .withColumn("vx_b",
        (col("sxxb") - col("sxb") * col("sxb") / col("nb")) / (col("nb") - 1))
      .withColumn("cv_a",
        (col("sxya") - col("sxa") * col("sya") / col("na")) / (col("na") - 1))
      .withColumn("cv_b",
        (col("sxyb") - col("sxb") * col("syb") / col("nb")) / (col("nb") - 1))
      .withColumn("se2", col("vy_a") / col("na") + col("vy_b") / col("nb"))
      .withColumn("t_raw",
        (col("my_a") - col("my_b")) / sqrt(col("se2")))
      .withColumn("df_raw", col("se2") * col("se2") /
        (col("vy_a") / col("na") * (col("vy_a") / col("na")) / (col("na") - 1)
          + col("vy_b") / col("nb") * (col("vy_b") / col("nb")) / (col("nb") - 1)))
      .withColumn("th_den",
        col("n") * (col("sxxa") + col("sxxb"))
          - (col("sxa") + col("sxb")) * (col("sxa") + col("sxb")))
      .withColumn("theta",
        when(col("th_den") > 0,
          (col("n") * (col("sxya") + col("sxyb"))
            - (col("sxa") + col("sxb")) * (col("sya") + col("syb")))
            / col("th_den")).otherwise(lit(0.0)))
      .withColumn("am_a",
        col("my_a") - col("theta") * (col("mx_a") - col("mx")))
      .withColumn("am_b",
        col("my_b") - col("theta") * (col("mx_b") - col("mx")))
      .withColumn("av_a", col("vy_a")
        - lit(2.0) * col("theta") * col("cv_a")
        + col("theta") * col("theta") * col("vx_a"))
      .withColumn("av_b", col("vy_b")
        - lit(2.0) * col("theta") * col("cv_b")
        + col("theta") * col("theta") * col("vx_b"))
      .withColumn("ase2", col("av_a") / col("na") + col("av_b") / col("nb"))
      .withColumn("adj_t_raw",
        (col("am_a") - col("am_b")) / sqrt(col("ase2")))
    w.select(
      col("n_a"), col("n_b"),
      round(col("my_a") / 1e6, 6).as("mean_a"),
      round(col("my_b") / 1e6, 6).as("mean_b"),
      round((col("my_a") - col("my_b")) / 1e6, 6).as("diff"),
      round(col("t_raw"), 6).as("t_stat"),
      round(col("df_raw"), 6).as("df"),
      round(col("theta"), 6).as("theta"),
      round((col("am_a") - col("am_b")) / 1e6, 6).as("adj_diff"),
      round(col("adj_t_raw"), 6).as("adj_t_stat"),
      round(lit(1.0) - (col("av_a") + col("av_b"))
        / (col("vy_a") + col("vy_b")), 6).as("var_reduction"))
  }

  /** Markov-chain (removal-effect) revenue attribution — the data-driven
    * alternative to last-touch/linear ([[attribution]]): model each
    * user's pre-conversion touch sequence as a first-order Markov chain
    * (START → touches → CONV/NULL), compute the chain's conversion
    * probability, and credit each channel by how much conversion drops
    * when that channel is removed (its states absorb to NULL).
    *
    * Journey contract: one journey per user — the event sequence up to
    * (excluding) the FIRST `convType` event; non-channel, non-conversion
    * event types are ignored; (user, ts) must be unique (same window-tie
    * contract as [[transitionMatrix]]).
    *
    * Scale shape: journeys are per-user windows (skew = one user's
    * events); the transition matrix is a state-space-sized aggregate
    * (|channels|+3 states). The absorption solve iterates on that
    * metadata-sized matrix ON THE DRIVER (`iters` fixed-point steps,
    * each state value rounded HALF_UP at 9 so any engine replays the
    * trajectory bit-for-bit) — the same documented posture as the
    * global-rank bucket offsets: driver state is states², never corpus.
    *
    * Returns one row per channel:
    * (channel, p_removed, removal_effect, attributed_rev) where
    * removal_effect = max(0, 1 - p_removed/p_base) rounded at 6 and
    * attributed_rev splits total first-conversion revenue pro-rata over
    * removal effects. */
  def markovAttribution(
      df: DataFrame, user: Column, ts: Column, eventType: Column,
      value: Column, channels: Seq[String], convType: String,
      iters: Int = 25): DataFrame = {
    require(channels.nonEmpty, "need at least one touch channel")
    val spark = df.sparkSession
    val base = df.select(user.as("u"), ts.as("t"), eventType.as("et"),
      value.as("v"))
    val fc = base.filter(col("et") === convType)
      .groupBy(col("u")).agg(min(col("t")).as("cus"))
    val j = graft.Mat(base.join(fc, Seq("u"), "left")
      .filter(col("et").isin(channels: _*) &&
        (col("cus").isNull || col("t") < col("cus")))
      .select(col("u"), col("t"), col("et"), col("cus").isNotNull.as("cv")))
    val w = Window.partitionBy(col("u")).orderBy(col("t"))
    val tr1 = j
      .withColumn("to_s", coalesce(lead(col("et"), 1).over(w),
        when(col("cv"), lit("CONV")).otherwise(lit("NULL"))))
      .select(col("et").as("from_s"), col("to_s"))
    val tr2 = Joins.top1PerGroup(j, Seq(col("u")), Seq(col("t")))
      .select(lit("START").as("from_s"), col("et").as("to_s"))
    val au = base.groupBy(col("u"))
      .agg(max(when(col("et") === convType, 1).otherwise(0)).as("cv"))
    val tr3 = au.join(j.select(col("u")).distinct(), Seq("u"), "left_anti")
      .select(lit("START").as("from_s"),
        when(col("cv") === 1, lit("CONV")).otherwise(lit("NULL")).as("to_s"))
    val cnt = tr1.unionByName(tr2).unionByName(tr3)
      .groupBy(col("from_s"), col("to_s")).agg(count(lit(1)).as("n"))
    val tot = cnt.groupBy(col("from_s")).agg(sum(col("n")).as("t"))
    // metadata-sized collect: (|channels|+1)^2 transition cells at most
    val tmat = cnt.join(tot, Seq("from_s"))
      .select(col("from_s"), col("to_s"), round(col("n") / col("t"), 6))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    // total revenue at each user's FIRST conversion, summed as DECIMAL
    val rev = base.filter(col("et") === convType)
      .groupBy(col("u")).agg(min(struct(col("t"), col("v"))).as("fp"))
      .agg(coalesce(sum(round(col("fp.v"), 6).cast("decimal(18,6)")),
        lit(0).cast("decimal(18,6)")).as("v"))
      .collect().head.getDecimal(0).doubleValue()
    // explicit floor-quantization (floor(x*1eN + 0.5)/1eN) instead of an
    // engine round(): the oracle replays the SAME IEEE multiply/floor/
    // divide, so no engine-rounding-implementation boundary exists
    def q9(x: Double): Double = math.floor(x * 1e9 + 0.5) / 1e9
    def q6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val states = "START" +: channels
    val byFrom = tmat.groupBy(_._1)
    val noCells = Array.empty[(String, String, Double)]
    def solve(removed: Option[String]): Double = {
      var p = states.map(_ -> 0.0).toMap
      for (_ <- 1 to iters)
        p = states.map { s =>
          // fixed summation order (to_s) so the fold is reproducible
          s -> q9(byFrom.getOrElse(s, noCells).sortBy(_._2).map {
            case (_, "CONV", pr) => pr
            case (_, "NULL", _) => 0.0
            case (_, t, _) if removed.contains(t) => 0.0
            case (_, t, pr) => pr * p.getOrElse(t, 0.0)
          }.sum)
        }.toMap
      p("START")
    }
    val pBase = solve(None)
    val rows = channels.map { c =>
      val pr = solve(Some(c))
      val re = q6(math.max(0.0, if (pBase > 0) 1.0 - pr / pBase else 0.0))
      (c, pr, re)
    }
    val sre = rows.map(_._3).sum
    import spark.implicits._
    rows.map { case (c, pr, re) =>
      val rev6 = if (sre > 0) q6(rev * re / sre) else 0.0
      (c, pr, re, rev6)
    }.toDF("channel", "p_removed", "removal_effect", "attributed_rev")
  }

  /** Kaplan–Meier survival curve for time-to-first-`convType` — the
    * product-limit estimator over a right-censored cohort (the retention
    * / time-to-convert staple). Each user enters at their first event
    * (birth); the spell ends at their first `convType` event (an event)
    * or at the corpus's last day (censored). At each whole-day duration
    * t: n_risk = users still under observation, and
    * S(t) = prod over t' <= t of (1 - d_t' / n_risk_t').
    *
    * Scale shape: two user-keyed hash aggregates collapse the corpus to
    * one row per user, then one more to one row per DISTINCT DURATION —
    * a calendar-bounded frame (days of corpus span, not corpus rows).
    * Both running sums over that frame ride
    * [[Windows.globalRunningSums]]' bucketed two-pass, so no
    * single-partition ORDER BY exists even if the calendar ever got wide.
    * The cohort size is the first pass's grand total, so no aggregate
    * re-scans the users for it.
    *
    * Determinism at the engine boundary: the survival product is carried
    * as an integer fixed-point sum of per-step logs —
    * `round(ln((n_risk-d)/n_risk) * 1e9, 0)` cast to long (ln of an
    * exactly-representable integer ratio, quantized before any
    * accumulation so libm ulp differences can't reach the running sum) —
    * and exponentiated once at the end (round 6). A terminal step where
    * everyone remaining dies (d = n_risk) contributes a -1e18 sentinel:
    * exp underflows to exactly 0 in any engine, and no rows can follow
    * it, so the sentinel never double-accumulates.
    *
    * Returns (dur_days, n_risk, n_events, n_censored, surv),
    * one row per distinct duration. */
  def kaplanMeier(
      df: DataFrame, user: Column, ts: Column, eventType: Column,
      convType: String): DataFrame = {
    val e = df.select(user.as("u"), ts.cast("date").as("day"),
      eventType.as("et"))
    val spells = e.groupBy(col("u")).agg(
      min(col("day")).as("birth"),
      min(when(col("et") === convType, col("day"))).as("conv"))
    val censor = e.agg(max(col("day")).as("mday"))
    val durs = spells.crossJoin(broadcast(censor))
      .select(
        datediff(coalesce(col("conv"), col("mday")), col("birth"))
          .cast("long").as("dur"),
        when(col("conv").isNotNull, 1L).otherwise(0L).as("ev"))
    val g = durs.groupBy(col("dur")).agg(
      sum(col("ev")).as("n_events"),
      sum(lit(1L) - col("ev")).as("n_censored"))
    // pass 1: inclusive running (events+censored) -> at-risk counts
    val (cum, Seq(n)) = Windows.globalRunningSums(g, "dur", Nil,
      Seq((col("n_events") + col("n_censored")) -> "__cum"))
    val r = cum.withColumn("n_risk",
        lit(n) - col("__cum") + col("n_events") + col("n_censored"))
      .withColumn("__fx",
        when(col("n_events") < col("n_risk"),
          round(log((col("n_risk") - col("n_events")) / col("n_risk"))
            * lit(1e9), 0).cast("long"))
        .otherwise(lit(-1000000000000000000L)))
    // pass 2: inclusive running log-sum -> survival
    Windows.globalRunningSums(r, "dur", Nil, Seq(col("__fx") -> "__lf"))._1
      .select(col("dur").as("dur_days"), col("n_risk"),
        col("n_events"), col("n_censored"),
        round(exp(col("__lf") / lit(1e9)), 6).as("surv"))
  }

  /** ROC-AUC of a score against a binary label via the rank-sum identity
    * `AUC = (R_pos − n_pos(n_pos+1)/2) / (n_pos·n_neg)` with midranks for
    * tied scores (ties contribute 1/2, the trapezoidal ROC convention) —
    * the evaluation readout for any scoring stage (quality classifier,
    * dedup confidence, spam score) without materializing the curve.
    *
    * Scale + portability: identical shape to [[mannWhitneyU]] — one hash
    * aggregate per distinct score, a bucketed two-pass running sum
    * ([[Windows.globalRunningSums]], never a single-partition window),
    * and every rank sum held at 2× scale in exact DECIMAL integers
    * (midrank .5s never touch a float). The ONLY float operation is the
    * final division, so the value replays bit-exactly cross-engine.
    *
    * Returns 1 row: (n_pos, n_neg, auc, gini_idx = 2·AUC − 1). */
  def rocAuc(df: DataFrame, score: Column, label: Column): DataFrame = {
    val per = df
      .select(score.cast("double").as("x"), label.cast("int").as("y"))
      .groupBy(col("x")).agg(
        sum(when(col("y") === 1, 1L).otherwise(0L)).as("c1"),
        sum(when(col("y") === 1, 0L).otherwise(1L)).as("c0"))
    val cum = Windows.globalRunningSums(per, "x", Nil,
      Seq((col("c0") + col("c1")) -> "cumT"))._1
    cum
      .select(col("c0"), col("c1"),
        (col("cumT") - col("c0") - col("c1")).as("cb"))
      .agg(
        sum(col("c1")).as("n_pos"), sum(col("c0")).as("n_neg"),
        // 2·R_pos = Σ c1·(2·cumBefore + t + 1), t = c0+c1 (midranks)
        sum((col("c1") * (col("cb") * 2 + col("c0") + col("c1") + 1))
          .cast("decimal(38,0)")).as("r2"))
      .select(col("n_pos"), col("n_neg"),
        // AUC = (2R_pos − n_pos(n_pos+1)) / (2·n_pos·n_neg) — one division
        round((col("r2") - (col("n_pos") * (col("n_pos") + 1))
            .cast("decimal(38,0)")).cast("double")
          / (lit(2.0) * col("n_pos") * col("n_neg")), 6).as("auc"))
      .withColumn("gini_idx", round(col("auc") * 2 - 1, 6))
      .select(col("n_pos"), col("n_neg"), col("auc"), col("gini_idx"))
  }

  /** Calibration report for a probabilistic scorer: Expected / Maximum
    * Calibration Error over `bins` equal-width probability bins, plus the
    * Brier score — is the classifier's 0.8 actually right 80% of the
    * time? The companion to [[rocAuc]] (discrimination) for any model
    * whose scores gate data (quality classifiers, dedup confidence).
    *
    * Exactness: with `prob` quantized at ≤6 decimals (every scorer here
    * rounds at 6), per-bin Σp is exact in DECIMAL(38,6), (p−y)² is exact
    * in DECIMAL(38,12), and ECE telescopes to Σ_bins |Σp_b − pos_b| / N —
    * so ECE and Brier are each ONE float division over exact integers.
    * MCE divides per-bin before the max (rounded at 6). One hash
    * aggregate over `bins` groups; no windows, no shuffle beyond the agg.
    *
    * Returns 1 row: (n, n_bins_used, ece, mce, brier). */
  def calibrationReport(
      df: DataFrame, prob: Column, label: Column, bins: Int = 10): DataFrame = {
    require(bins > 0, "need bins > 0")
    // decimal(8,6): probabilities live in [0,1]; the narrow type keeps
    // (p−y)² at decimal(19,12) — EXACT, below Spark's precision-38 cap
    // (a wider p would trigger allowPrecisionLoss scale truncation and
    // break bit-parity with the oracle's exact sums)
    val p = prob.cast("decimal(8,6)")
    val y = label.cast("int")
    val bin = least(floor(p.cast("double") * bins).cast("long"), lit(bins.toLong - 1))
    val perBin = df
      .select(p.as("p"), y.as("y"), bin.as("bin"))
      .groupBy(col("bin")).agg(
        count(lit(1)).as("n_b"),
        sum(col("p")).cast("decimal(38,6)").as("sum_p"),
        sum(col("y")).as("pos"),
        sum(((col("p") - col("y")) * (col("p") - col("y")))
          .cast("decimal(38,12)")).as("sq"))
    perBin
      .select(col("n_b"), col("pos"), col("sq"),
        // |Σp_b − pos_b| exact in DECIMAL; per-bin gap for MCE
        abs(col("sum_p") - col("pos")).cast("decimal(38,6)").as("absgap"),
        round(abs(col("sum_p") - col("pos")).cast("double")
          / col("n_b"), 6).as("gap_b"))
      .agg(
        sum(col("n_b")).as("n"),
        count(lit(1)).as("n_bins_used"),
        sum(col("absgap")).as("ece_num"),
        max(col("gap_b")).as("mce"),
        sum(col("sq")).as("brier_num"))
      .select(col("n"), col("n_bins_used"),
        round(col("ece_num").cast("double") / col("n"), 6).as("ece"),
        col("mce"),
        round(col("brier_num").cast("double") / col("n"), 6).as("brier"))
  }

  /** Cohen's kappa — chance-corrected agreement between two categorical
    * raters (annotator QC, classifier-vs-ground-truth, heuristic-vs-model
    * gate comparison): `κ = (p_o − p_e) / (1 − p_e)` with
    * `p_e = Σ_k rowMargin_k · colMargin_k / n²`.
    *
    * Exactness: the identity `κ = (p_o·n² − p_e·n²) / (n² − p_e·n²)`
    * clears both denominators, so the numerator `diag·n − Σ ra_k·cb_k`
    * and denominator `n² − Σ ra_k·cb_k` are exact DECIMAL integers and κ
    * is ONE float division. Two hash aggregates (one per rater margin) +
    * a category-cardinality-bounded join — nothing scales with rows past
    * the first agg. Returns 1 row: (n, n_cats, po, pe, kappa). */
  def cohensKappa(df: DataFrame, raterA: Column, raterB: Column): DataFrame = {
    val cells = graft.Mat(df
      .select(raterA.cast("string").as("a"), raterB.cast("string").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("o")))
    val tot  = cells.agg(sum(col("o")).as("n"),
      sum(when(col("a") === col("b"), col("o")).otherwise(0L)).as("diag"))
    val ra = cells.groupBy(col("a").as("k")).agg(sum(col("o")).as("ra"))
    val cb = cells.groupBy(col("b").as("k")).agg(sum(col("o")).as("cb"))
    // DECIMAL(18,0) factors: products stay ≤ decimal(37,0) — exact and
    // below both engines' precision-38 cap (38-wide factors bind-fail in
    // the oracle engine and trigger Spark's precision-loss path)
    val pe = ra.join(cb, Seq("k"), "full_outer")
      .select(coalesce(col("ra"), lit(0L)).cast("decimal(18,0)").as("ra"),
        coalesce(col("cb"), lit(0L)).cast("decimal(18,0)").as("cb"))
      .agg(sum(col("ra") * col("cb")).as("pe_num"),
        count(lit(1)).as("n_cats"))
    tot.crossJoin(broadcast(pe))
      .withColumn("n2",
        col("n").cast("decimal(18,0)") * col("n").cast("decimal(18,0)"))
      .select(col("n"), col("n_cats"),
        round(col("diag").cast("double") / col("n"), 6).as("po"),
        round(col("pe_num").cast("double") / col("n2").cast("double"), 6)
          .as("pe"),
        round((col("diag").cast("decimal(18,0)") * col("n").cast("decimal(18,0)")
            - col("pe_num")).cast("double")
          / (col("n2") - col("pe_num")).cast("double"), 6).as("kappa"))
  }

  /** Functional-dependency discovery over a column set (TANE level 1:
    * single-column determinants). For every ordered pair (X, Y) of the
    * given columns, reports whether X → Y holds exactly, how many X
    * groups violate it, and the worst fan-out (max distinct Y per X).
    * The schema-inference / data-quality primitive behind key detection
    * and denormalization checks.
    *
    * Scale shape: ONE shuffle per determinant column, not per pair — a
    * single groupBy(X) aggregates approx-free exact `count(distinct Y)`
    * for every other column at once, then a metadata-sized rollup folds
    * the verdict. NULLs: a null Y counts as one distinct value
    * (`count(distinct Y) + max(Y is null)` — count(distinct) alone would
    * drop nulls and call {1 real value, nulls} a clean FD, hiding the
    * violation); a null X forms its own group, as in SQL GROUP BY.
    *
    * Returns (lhs, rhs, n_groups, n_violating, max_fanout, holds). */
  def fdDiscovery(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    val proj = df.select(cols.map(col): _*)
    def dstct(r: String) =
      (countDistinct(col(r)) +
        max(when(col(r).isNull, 1L).otherwise(0L))).as(s"__d_$r")
    cols.map { lhs =>
      val rhss = cols.filterNot(_ == lhs)
      val perGroup = proj.groupBy(col(lhs))
        .agg(dstct(rhss.head), rhss.tail.map(dstct): _*)
      val rollup = perGroup.agg(
        count(lit(1)).as("n_groups"),
        rhss.flatMap(r => Seq(
          sum(when(col(s"__d_$r") > 1, 1L).otherwise(0L)).as(s"__v_$r"),
          max(col(s"__d_$r")).as(s"__m_$r"))): _*)
      rhss.map { r =>
        rollup.select(lit(lhs).as("lhs"), lit(r).as("rhs"),
          col("n_groups"),
          col(s"__v_$r").as("n_violating"),
          col(s"__m_$r").as("max_fanout"),
          (col(s"__v_$r") === 0L).as("holds"))
      }.reduce(_ unionByName _)
    }.reduce(_ unionByName _)
  }
}
