package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling operators for training-data pipelines.
  *
  * All sampling here is HASH-based, never RNG-based: the kept set is a pure
  * function of the row's id (plus an optional salt), so a sample is
  * reproducible across runs, executors, retries and engines — `sample()`
  * with a seed is only stable for a fixed partitioning, which no 100 TB
  * pipeline should rely on. Sampling is a filter (no shuffle); stratified
  * rates join against a configuration-sized frame (broadcast by AQE).
  */
object Sampling {

  /** Number of hash buckets the id space is folded into: rates are
    * resolved to `floor(rate * buckets)` kept buckets, so the effective
    * rate granularity is 1/buckets. */
  val DefaultBuckets = 10000

  /** The row's sampling bucket in [0, buckets): first 8 md5 hex digits of
    * (id, salt) as an integer, mod buckets — replicable in any engine with
    * md5 (same trick as [[Dedup.md5Int]]). */
  def sampleBucket(id: Column, salt: String = "", buckets: Int = DefaultBuckets): Column =
    pmod(Dedup.md5Int(concat(id.cast("string"), lit(salt))), lit(buckets))

  /** Stratified deterministic sample for training-mix construction:
    * `rates` is a (stratum, rate) configuration frame; each row is kept
    * when its bucket falls under its stratum's rate. Strata missing from
    * `rates` are dropped (rate 0). The rates frame is configuration-sized
    * -> AQE broadcasts the join; the fact side never shuffles. */
  def stratifiedSample(
      df: DataFrame, stratum: Column, id: Column, rates: DataFrame,
      salt: String = "", buckets: Int = DefaultBuckets): DataFrame = {
    val r = rates.select(col("stratum").as("__stratum"),
      floor(col("rate") * buckets).cast("long").as("__keep"))
    df.join(r, stratum === col("__stratum"), "inner")
      .filter(sampleBucket(id, salt, buckets) < col("__keep"))
      .drop("__stratum", "__keep")
  }

  /** Deterministic per-group top-k sample ("reservoir-shaped" without the
    * RNG): rank rows inside each group by their sample bucket (id as the
    * tiebreak makes the order total) and keep the first k. Equivalent to a
    * uniform k-row draw per group, but reproducible; one shuffle on the
    * group key. */
  def groupSample(
      df: DataFrame, group: Seq[Column], id: Column, k: Int,
      salt: String = "", buckets: Int = DefaultBuckets): DataFrame =
    Joins.topKPerGroup(df, group, Seq(sampleBucket(id, salt, buckets), id), k).drop("__rn")

  /** Per-row weighted deterministic sample: keep each row with probability
    * `min(1, max(0, weight))` — e.g. quality-weighted corpus downsampling
    * where high-quality documents survive at a higher rate. A pure filter
    * on [[sampleBucket]] (no shuffle, replicable); a constant weight
    * `lit(rate)` is the uniform sample of ~`rate` of rows. */
  def weightedSample(
      df: DataFrame, id: Column, weight: Column,
      salt: String = "", buckets: Int = DefaultBuckets): DataFrame =
    df.filter(sampleBucket(id, salt, buckets) <
      floor(least(greatest(weight, lit(0.0)), lit(1.0)) * buckets).cast("long"))

  /** Temperature-scaled source mixing (the standard multilingual /
    * multi-source training-mix recipe): source `s` with `n_s` rows is
    * sampled at a rate proportional to `n_s^alpha / n_s`, normalized so
    * the expected kept total is `targetRows` (rates cap at 1). `alpha=1`
    * preserves the natural mix; `alpha=0` equalizes sources; in between
    * up-weights the tail. Rates are rounded at 6 decimals so the derived
    * configuration is engine-replicable; the per-source frame is
    * aggregation output (configuration-sized in practice — one row per
    * corpus source) and AQE broadcasts the join back; the fact side stays
    * a pure filter. */
  def temperatureMix(
      df: DataFrame, source: Column, id: Column,
      alpha: Double, targetRows: Long,
      salt: String = "", buckets: Int = DefaultBuckets): DataFrame = {
    val counts = df.groupBy(source.as("__src")).agg(count(lit(1)).as("__n"))
    // window over the whole (tiny) counts frame: one partition of
    // #sources rows — the same bounded-total posture as TF-IDF's N
    val rates = counts
      .withColumn("__w", pow(col("__n").cast("double"), lit(alpha)))
      .withColumn("__rate", least(lit(1.0),
        round(lit(targetRows.toDouble) * col("__w") /
          sum(col("__w")).over(org.apache.spark.sql.expressions.Window.partitionBy()) /
          col("__n").cast("double"), 6)))
      .select(col("__src"), col("__rate"))
    df.join(rates, source === col("__src"), "inner")
      .filter(sampleBucket(id, salt, buckets) <
        floor(col("__rate") * buckets).cast("long"))
      .drop("__src", "__rate")
  }

  /** Importance resampling for targeted data selection (DSIR-shaped:
    * Xie et al. 2023, "Data Selection for Language Models via Importance
    * Resampling" — public paper). Scores every raw-pool document by the
    * log-likelihood ratio of hashed unigram features under the TARGET
    * corpus vs the raw pool (add-one smoothing over `buckets` hashed
    * feature buckets), perturbs with deterministic hash-derived Gumbel
    * noise, and keeps the top `k` (Gumbel-top-k sampling without
    * replacement ~ sampling proportional to the importance weights).
    *
    * Determinism/parity: per-bucket log ratios are rounded at 9 decimals
    * and summed as DECIMAL (exact, order-independent — a double sum would
    * depend on partial-aggregation order); the Gumbel noise derives from
    * the doc id's md5 (no RNG). Scale shape: two feature aggregates with
    * map-side combine, a broadcast join of the bucket ratio table
    * (`buckets` rows), and a TakeOrdered top-k — no full sort, no
    * driver-side loop. */
  def dsirResample(
      df: DataFrame, id: Column, text: Column, isTarget: Column,
      buckets: Int = 64, k: Int = 100): DataFrame = {
    val toks = df
      .select(id.cast("long").as("doc_id"), isTarget.as("__t"),
        explode(split(trim(text), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .withColumn("b", pmod(Dedup.md5Int(col("w")), lit(buckets)))
    val tgt = toks.filter(col("__t")).groupBy(col("b")).agg(count(lit(1)).as("ct"))
    val bg  = toks.filter(!col("__t")).groupBy(col("b")).agg(count(lit(1)).as("cb"))
    // bucket domain = buckets present in the raw pool (covers every raw
    // doc's features); target-only buckets can't appear in scored docs
    val ratios = bg.join(tgt, Seq("b"), "left").na.fill(0L, Seq("ct"))
      .crossJoin(broadcast(tgt.agg(sum(col("ct")).as("tt"))))
      .crossJoin(broadcast(bg.agg(sum(col("cb")).as("tb"))))
      // decimal widths are deliberately TIGHT (|log ratio| < 1000, doc
      // token counts < 10^10): a wider operand (e.g. long * decimal(18,9))
      // overflows Spark's 38-digit product/sum precision, and the silent
      // precision adjustment re-rounds intermediate values at scale 7-8 —
      // a half-up re-round the oracle engine (exact at scale 9) won't do
      .withColumn("r", round(
        log((col("ct") + 1).cast("double") / (col("tt") + buckets)) -
          log((col("cb") + 1).cast("double") / (col("tb") + buckets)), 9)
        .cast("decimal(12,9)"))
      .select(col("b"), col("r"))
    val scores = toks.filter(!col("__t"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      .join(broadcast(ratios), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c").cast("decimal(10,0)") * col("r")).as("__s"))
      .withColumn("__score", col("__s").cast("decimal(18,9)"))
    val u = (pmod(Dedup.md5Int(concat(col("doc_id").cast("string"), lit("#dsir"))),
      lit(1000000)).cast("double") + 0.5) / 1000000.0
    scores
      .withColumn("__g", round(-log(-log(u)), 9).cast("decimal(12,9)"))
      // round the DECIMAL (exact half-up), THEN cast: rounding after a
      // decimal->double cast puts exact-.5 ties a hair below the boundary
      .withColumn("log_w", round(col("__score"), 6).cast("double"))
      .withColumn("gumbel_key", round(col("__score") + col("__g"), 6).cast("double"))
      .orderBy(col("gumbel_key").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("log_w"), col("gumbel_key"))
  }

  /** Deterministic corpus sharding + balance report — the last step
    * before a training corpus leaves the engine as N physical shards:
    * every document lands in `pmod(md5(doc_id), nShards)` (stable across
    * runs/engines, no RNG), and the report says whether the shards came
    * out balanced (per-shard docs/tokens/chars and `balance` = shard
    * tokens over the all-shard mean; 1.0 = perfectly even). One hash
    * aggregate + a one-row total broadcast; the balance ratio is a
    * single double division of exact long cross-products.
    *
    * Returns (shard, n_docs, n_tokens, n_chars, balance). */
  def shardBalance(
      df: DataFrame, id: Column, text: Column, nShards: Int): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    val per = df.select(
        sampleBucket(id, "#shard", nShards).as("shard"),
        graft.functions.TextFunctions.tokenCountWs(text).cast("long").as("__nt"),
        length(text).cast("long").as("__nc"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("n_tokens"),
        sum(col("__nc")).as("n_chars"))
    val tot = per.agg(sum(col("n_tokens")).as("t_tok"),
      count(lit(1)).as("n_shards"))
    per.crossJoin(broadcast(tot))
      .select(col("shard"), col("n_docs"), col("n_tokens"), col("n_chars"),
        round((col("n_tokens") * col("n_shards")) / col("t_tok"), 6).as("balance"))
  }

  /** Leakage-free train/val/test assignment: the split label is a pure
    * function of the GROUP key's hash bucket (not the row's), so all rows
    * sharing a group — a source domain, a user, a document family — land
    * in the same split and can never leak across the boundary. `splits`
    * maps label -> fraction and must sum to 1. A projection, no shuffle. */
  def splitAssign(
      df: DataFrame, groupKey: Column, splits: Seq[(String, Double)],
      salt: String = "", buckets: Int = DefaultBuckets): DataFrame = {
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9, "split fractions must sum to 1")
    val cum = splits.map(_._2).scanLeft(0.0)(_ + _)
    val b = sampleBucket(groupKey, salt, buckets)
    val label = splits.zip(cum.zip(cum.tail)).foldRight(lit(null).cast("string")) {
      case (((name, _), (lo, hi)), acc) =>
        when(b >= math.floor(lo * buckets).toLong &&
          b < math.floor(hi * buckets).toLong, name).otherwise(acc)
    }
    df.withColumn("split", label)
  }

  /** Token-budget waterfill across domains — the budget-allocation step
    * of a training-mix build: given each domain's token `supply` and a
    * total token `budget`, allocate the budget proportionally to
    * temperature-scaled weights (sqrt(supply): upweights the tail like
    * alpha=0.5 temperature mixing), cap every domain at its supply, and
    * redistribute the remainder among uncapped domains for `rounds`
    * fixed iterations (waterfilling; a handful of rounds converges for
    * tens of domains).
    *
    * Determinism/parity: weights are integer fixed-point
    * (floor(sqrt(supply) * 1e6)); all SUMS are over longs (exact,
    * aggregation-order-independent); the per-round share is
    * floor(rem * w / W) in double — mul/div/floor are correctly rounded
    * IEEE ops, bit-identical across engines for identical operands.
    * Scale shape: `supplies` is aggregate output (one row per domain —
    * configuration-sized); each round is a cross join against a ONE-ROW
    * aggregate of that frame, the same bounded pattern as the count-min
    * inner product. The token stream itself is touched only by the
    * upstream supply aggregate. */
  def budgetWaterfill(
      supplies: DataFrame, budget: Long, rounds: Int = 3): DataFrame = {
    val w0 = supplies
      .select(col("domain"), col("supply").cast("long").as("supply"))
      .withColumn("w", floor(sqrt(col("supply").cast("double")) * 1e6).cast("long"))
      .withColumn("alloc", lit(0L))
    val filled = (1 to rounds).foldLeft(w0) { (cur, _) =>
      val tot = cur.agg(
        sum(when(col("alloc") < col("supply"), col("w")).otherwise(0L)).as("__W"),
        sum(col("alloc")).as("__A"))
      cur.crossJoin(tot)
        .withColumn("__rem", lit(budget) - col("__A"))
        .withColumn("__add", when(
            col("alloc") < col("supply") && col("__W") > 0 && col("__rem") > 0,
            least(col("supply") - col("alloc"),
              floor(col("__rem").cast("double") * col("w") / col("__W")).cast("long")))
          .otherwise(0L))
        .withColumn("alloc", col("alloc") + col("__add"))
        .drop("__W", "__A", "__rem", "__add")
    }
    filled.select(col("domain"), col("supply"), col("alloc"),
      round(col("alloc") * 100.0 / col("supply"), 6).as("utilization_pct"),
      round(col("alloc") * 100.0 / lit(budget.toDouble), 6).as("budget_share_pct"))
  }

  /** Curriculum ordering with source interleaving: rank documents
    * easy→hard WITHIN each source (difficulty + tiebreaks must make the
    * order total), then assign the global training position
    * ANALYTICALLY — `pos = (rank_in_source - 1) * n_sources + src_idx`
    * — which round-robins the sources per difficulty step without any
    * global window or sort. The only per-row window partitions by
    * source (parallel across sources); the source index table is
    * config-sized (one row per source), so its own window and the
    * join back are metadata work.
    *
    * Positions are globally unique and dense per step; a source that
    * exhausts early leaves holes in later steps, which is the standard
    * interleave contract (consumers order by pos, not index by it).
    *
    * Returns the input plus (rank_in_source, pos), both LONG. */
  def curriculumInterleave(
      df: DataFrame, source: Column, difficulty: Column,
      tiebreaks: Seq[Column]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(source).orderBy((difficulty +: tiebreaks): _*)
    val ranked = df.withColumn("rank_in_source", row_number().over(w).cast("long"))
    // config-sized source index: distinct sources, alphabetical idx
    val srcIdx = df.select(source.as("__src")).distinct()
      .withColumn("src_idx",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("__src"))).cast("long") - 1L)
    val n = srcIdx.count()
    ranked.join(broadcast(srcIdx), source === col("__src"))
      .withColumn("pos",
        (col("rank_in_source") - 1L) * lit(n) + col("src_idx"))
      .drop("__src", "src_idx")
  }
}
