package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable join operators covering SURVEY.md §2.3 (J1–J12).
  *
  * Design stance for 100 TB: every join here keeps at least one equi key so
  * Catalyst plans a hash / sort-merge join (never a nested-loop); small
  * sides are broadcast explicitly; range and priority predicates are
  * post-join filters on the equi-joined pairs.
  */
object Joins {

  /** Deterministic per-row surrogate key, the retry-safe replacement for
    * `monotonically_increasing_id`: `__rh` = xxhash64 over every column,
    * `__ro` = ordinal among identical rows (row_number over the duplicate
    * group — groups are duplicate-sized so the window is skew-free, and
    * the ordinal assignment among indistinguishable rows is arbitrary but
    * cannot affect any downstream result). Unlike monotonic ids, a task
    * retry or AQE replan re-derives the same (multi)set of keys, so a
    * rank-1 window keyed on (__rh, __ro) restores exactly one output per
    * input row under any execution history. Costs one hash shuffle of the
    * tagged frame (the downstream rank-1 window shuffles anyway — on
    * these same keys, so the exchange is reused). */
  private[graft] def deterministicRowKey(df: DataFrame): DataFrame =
    // positional star expansion: post-join frames may carry duplicate
    // column NAMES, which name-resolved references would trip over
    df.withColumn("__rh", xxhash64(struct(col("*"))))
      .withColumn("__ro",
        row_number().over(Window.partitionBy(col("__rh")).orderBy(lit(1))))

  /** Temporal as-of / range join (J3, reference
    * `sql/calc/run-calculation.sql:107-110`): resolve each fact row to the
    * dim version whose [from, to] interval covers `ts`; a null `to` means
    * open-ended. The equi key keeps this a hash/SMJ join — the range is a
    * residual filter, not the join condition.
    */
  def asOfJoin(
      fact: DataFrame, dim: DataFrame,
      equi: Column, ts: Column, from: Column, to: Column,
      joinType: String = "inner", strictUpper: Boolean = false): DataFrame = {
    val upper = if (strictUpper) ts < to else ts <= to
    fact.join(dim, equi && ts >= from && (to.isNull || upper), joinType)
  }

  /** Banded theta join (J5, `sql/calc/run-calculation.sql:293-297`): equi
    * keys + a value-in-[lo,hi] band; dims with bands are small -> broadcast.
    */
  def bandJoin(
      fact: DataFrame, bands: DataFrame,
      equi: Option[Column], value: Column, lo: Column, hi: Column): DataFrame = {
    val cond = equi.map(e => e && value >= lo && value <= hi)
      .getOrElse(value >= lo && value <= hi)
    fact.join(broadcast(bands), cond, "inner")
  }

  /** Nearest-match join (J7, `sql/transforms/09-policies.sql:165-180`):
    * join on `equi`, rank candidates by `abs(distance)` with a
    * deterministic tiebreak, keep rank 1.
    */
  def nearestMatchJoin(
      fact: DataFrame, dim: DataFrame, equi: Column,
      factIdCols: Seq[Column], distance: Column, tiebreak: Seq[Column]): DataFrame =
    top1PerGroup(fact.join(dim, equi, "inner"), factIdCols, abs(distance) +: tiebreak)

  /** Per-group top-k: number each `part` group's rows by `order` into the
    * int column `rank` and keep the first `k` (up to
    * `spark.sql.optimizer.windowGroupLimitThreshold`, Spark pushes the cut
    * below the window as a WindowGroupLimit). An empty `part` ranks the
    * whole frame. The caller keeps, renames or drops `rank`; a total
    * `order` makes the cut deterministic. */
  def topKPerGroup(df: DataFrame, part: Seq[Column], order: Seq[Column], k: Int,
      rank: String = "__rn"): DataFrame =
    df.withColumn(rank, row_number().over(Window.partitionBy(part: _*).orderBy(order: _*)))
      .filter(col(rank) <= k)

  /** Top-1-per-group (J10/W2 — every decorrelated `TOP 1` subquery and
    * `ROW_NUMBER ... rn=1` in the reference, e.g.
    * `sql/transforms/09-policies.sql:188-205`): [[topKPerGroup]] at k = 1. */
  def top1PerGroup(df: DataFrame, part: Seq[Column], order: Seq[Column]): DataFrame =
    topKPerGroup(df, part, order, 1).drop("__rn")

  /** Bloom-prefiltered semi join: build a bloom filter over the key side's
    * join column (a distributed aggregate; the filter itself is MBs even
    * for hundreds of millions of keys), broadcast it, prefilter the fact
    * side with `mightContain`, then run the exact left-semi join on the
    * survivors. Result is bit-identical to the plain semi join (the exact
    * join removes the bloom's false positives) — the prefilter exists to
    * cut the fact side's shuffle volume when the semi join must shuffle
    * (keys too big to broadcast, facts >> keys). This is the explicit form
    * of what Spark's runtime bloom join filters
    * (`spark.sql.optimizer.runtime.bloomFilter.enabled`) inject
    * automatically on selective shuffle joins.
    *
    * Long-typed keys only (integral ids — the common case for fact/dim
    * keys at scale); `expectedItems`/`fpp` size the filter, with
    * `expectedItems <= 0` meaning "size from the key side's actual
    * count" — the filter literal then scales with the real key
    * cardinality instead of a fixed 1M-slot (~1.2 MB) default bloating
    * every caller's plan. */
  def bloomSemiJoin(
      fact: DataFrame, keys: DataFrame, factKey: String, keysKey: String,
      expectedItems: Long = -1L, fpp: Double = 0.01): DataFrame = {
    val items =
      if (expectedItems > 0) expectedItems
      // count() is one extra scan of the (small) key side; the bloom
      // build below scans it again anyway, so this doubles a cheap job,
      // not the expensive one
      else math.max(1000L, keys.count())
    // distributed build (stat.bloomFilter is a treeAggregate over the key
    // side), then serialize the filter into a BINARY literal for Spark's
    // native BloomFilterMightContain (registered as `bloom_might_contain`
    // by GraftExtensions) — the predicate stays inside whole-stage codegen,
    // unlike a per-row Scala UDF. Embedding the filter as a plan literal is
    // exactly what the runtime bloom-join rule does with its scalar
    // subquery result; the bytes are MB-scale config data, not row data.
    val bf = keys.stat.bloomFilter(keysKey, items, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    fact.filter(call_function("bloom_might_contain", lit(bos.toByteArray), col(factKey)))
      .join(keys.select(col(keysKey).as(factKey)).distinct(), Seq(factKey), "left_semi")
  }

  /** Wildcard composite-key lookup (J6,
    * `sql/transforms/09-policies.sql:128-180`): resolve facts against a
    * rules dim where some key columns may hold the `'*'` wildcard. Tries
    * the most-specific match first, then progressively wildcarded ones, in
    * the given priority order; first hit wins.
    *
    * `keyCols` maps fact-column -> rule-column; `priority` lists, per tier,
    * which rule columns must match exactly (the rest must be '*').
    * The rules dim is broadcast — it is configuration-sized by nature.
    */
  def wildcardLookup(
      fact: DataFrame, rules: DataFrame,
      keyCols: Seq[(String, String)],
      priority: Seq[Set[String]],
      payload: Seq[String]): DataFrame = {
    val tiers = priority.zipWithIndex.map { case (exactCols, tier) =>
      val filtered = keyCols.foldLeft(rules) { case (r, (_, rc)) =>
        if (exactCols.contains(rc)) r.filter(col(rc) =!= "*")
        else r.filter(col(rc) === "*")
      }
      filtered.select(
        keyCols.map { case (_, rc) => col(rc) } ++
          payload.map(col) :+ lit(tier).as("__tier"): _*)
    }
    val allTiers = tiers.reduce(_ unionByName _)
    // tag each fact row with a deterministic surrogate so duplicate fact
    // rows each keep their own match (a window keyed on all fact columns
    // would collapse them) and a task retry re-derives the same keys
    val tagged = deterministicRowKey(fact)
    val cond = keyCols.map { case (fc, rc) =>
      col(s"__r.$rc") === "*" || col(s"__r.$rc") === tagged(fc)
    }.reduce(_ && _)
    val joined = tagged.join(broadcast(allTiers.alias("__r")), cond, "left")
    // first (lowest-tier) hit per fact row wins
    top1PerGroup(joined, Seq(col("__rh"), col("__ro")), Seq(col("__tier").asc_nulls_last))
      .drop("__tier", "__rh", "__ro")
  }

  /** Blocked record linkage (Fellegi–Sunter-shaped): candidate pairs come
    * from an equi-join on `blockKey` (NEVER all-pairs — the blocking key
    * is the scale contract: pick one selective enough that a block's
    * candidate set fits a task), each configured field contributes its
    * agreement weight when equal, its disagreement weight when not, and
    * 0 when either side is null (missing is evidence of nothing); pairs
    * at or above `threshold` link.
    *
    * `a`/`b` are pre-projected frames both containing `idCol`, `blockKey`
    * and every compared field in `fields` (name, wAgree, wDisagree).
    * The per-pair score is a fixed-order sum of constants — no float
    * aggregation-order sensitivity — so any engine replays it exactly. */
  def linkagePairs(
      a: DataFrame, b: DataFrame, blockKey: String, idCol: String,
      fields: Seq[(String, Double, Double)], threshold: Double): DataFrame = {
    val aSel = a.select(col(idCol).as("id_a") +: col(blockKey).as("__blk") +:
      fields.map { case (f, _, _) => col(f).as(s"__a_$f") }: _*)
    val bSel = b.select(col(idCol).as("id_b") +: col(blockKey).as("__blk") +:
      fields.map { case (f, _, _) => col(f).as(s"__b_$f") }: _*)
    val joined = aSel.join(bSel, Seq("__blk"))
    val score = fields.map { case (f, wA, wD) =>
      when(col(s"__a_$f").isNull || col(s"__b_$f").isNull, lit(0.0))
        .when(col(s"__a_$f") === col(s"__b_$f"), lit(wA))
        .otherwise(lit(wD))
    }.reduce(_ + _)
    val nAgree = fields.map { case (f, _, _) =>
      when(col(s"__a_$f") === col(s"__b_$f"), 1).otherwise(0)
    }.reduce(_ + _)
    joined
      .withColumn("score", round(score, 6))
      .withColumn("n_agree", nAgree)
      .filter(col("score") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_agree"), col("score"))
  }

  /** Fuzzy (edit-distance) lookup: resolve every distinct dirty string to
    * its best vocabulary match within `maxDist` Levenshtein edits
    * (ties broken by the lexicographically smallest candidate; dirty
    * values with no candidate in range surface with a null match).
    *
    * Scale contract (the textbook fuzzy-join posture): the corpus is
    * touched exactly once, by the distinct-aggregate that builds the
    * dirty-value frame (`n_rows` carries the fan-back weight, so there is
    * no corpus-sized join-back). Both match inputs are distinct-value
    * frames — vocabulary-bounded, NOT corpus-bounded — and the candidate
    * join is an EQUI join on a length bucket: each vocab entry is
    * replicated to the 2*maxDist+1 lengths it could match (Levenshtein
    * >= |len(a) - len(b)|, so the bucketing is provably lossless — the
    * `FuzzyLookupSpec` equivalence test pins this against the unblocked
    * cross product). Within-bucket fan-out is bounded by vocabulary
    * size, never corpus size, and the expensive `levenshtein` kernel
    * (with its early-exit threshold argument) runs only on banded
    * distinct pairs. */
  def fuzzyLookup(
      dirty: DataFrame, dirtyName: Column,
      vocab: DataFrame, vocabName: Column,
      maxDist: Int): DataFrame = {
    val dn = dirty.groupBy(dirtyName.as("dirty_name"))
      .agg(count(lit(1)).as("n_rows"))
    val vn = vocab.select(vocabName.as("match_cand")).distinct()
      .withColumn("__len_b", explode(sequence(
        greatest(length(col("match_cand")) - maxDist, lit(1)),
        length(col("match_cand")) + maxDist)))
    val cand = dn
      .join(broadcast(vn), length(col("dirty_name")) === col("__len_b"))
      .withColumn("dist",
        levenshtein(col("dirty_name"), col("match_cand"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
    val best = cand.groupBy(col("dirty_name"))
      .agg(min(col("dist")).as("__best"))
    val matched = cand.join(best, Seq("dirty_name"))
      .filter(col("dist") === col("__best"))
      .groupBy(col("dirty_name"))
      .agg(min(col("match_cand")).as("match_name"),
        min(col("dist")).cast("int").as("best_dist"))
    dn.join(matched, Seq("dirty_name"), "left")
      .select(col("dirty_name"), col("match_name"), col("best_dist"),
        col("n_rows"))
  }

  /** Fuzzy entity resolution — the [[fuzzyLookup]] composite: cluster
    * records whose names are within `maxDist` edits of each other
    * (transitively) into entities and roll each entity up to one row.
    *
    * Pipeline: (1) the corpus collapses to the DISTINCT-NAME frame (one
    * hash agg; per-name record counts carry the fan-back weight, stable
    * name id = min record id); (2) candidate pairs come from an EQUI
    * join on an exploded length bucket (lossless: lev >= |len diff|),
    * levenshtein's threshold arg for early exit, `id_a < id_b` keeping
    * each unordered pair once; (3) matched pairs feed
    * [[Components.connectedComponents]] (large-star/small-star, O(log n)
    * rounds); (4) names re-join their component and aggregate to
    * entities. The entity id is the cluster's smallest name id and the
    * canonical name is that root's name, so every stage is engine-
    * replayable.
    *
    * Scale posture: matching cost is vocabulary-bounded (distinct names
    * x per-length-bucket density), never corpus x corpus; the record
    * table is touched by exactly one aggregate and never re-scanned.
    *
    * Returns (entity, canonical_name, n_names, n_records). */
  def fuzzyEntities(
      records: DataFrame, recId: Column, name: Column,
      maxDist: Int): DataFrame = {
    val recs = records.select(recId.cast("long").as("rid"), name.as("nm"))
    val names = graft.Mat(recs.groupBy(col("nm"))
      .agg(min(col("rid")).as("nid"), count(lit(1)).as("n_recs")))
    val pairs = editDistancePairs(
      names.select(col("nid"), col("nm")), maxDist)
      .select(col("id_a"), col("id_b"))
    val comp = Components.connectedComponents(pairs, "id_a", "id_b")
    names.join(comp, names("nid") === comp("node"), "left")
      .withColumn("entity", coalesce(col("component"), col("nid")))
      .groupBy(col("entity"))
      .agg(
        min(when(col("nid") === col("entity"), col("nm"))).as("canonical_name"),
        count(lit(1)).as("n_names"),
        sum(col("n_recs")).as("n_records"))
  }

  /** All unordered pairs of distinct names within `maxDist` Levenshtein
    * edits, via PassJoin-style pigeonhole segment blocking (Li et al.,
    * PassJoin, VLDB'12): split every name into k = maxDist+1 contiguous
    * segments — an edit script with <= maxDist edits leaves at least one
    * segment untouched, so that segment appears VERBATIM in the partner,
    * shifted by at most maxDist positions (the net indel drift of the
    * edits before it). Candidates are therefore an EQUI join on
    * (partner_length, segment_index, segment_text): the index side emits
    * its k segments, the probe side emits the substrings that could
    * equal segment j of a partner of each feasible length (5 lengths x k
    * segments x 2*maxDist+1 shifts, bounds-clipped). Lossless by the
    * pigeonhole argument (JoinsSpec pins equivalence against the
    * unblocked cross product), and far more selective than
    * length-bucket blocking: a shared multi-char substring at a pinned
    * position is rare, so the expensive `levenshtein` verify runs on
    * near-true pairs only — the posture that survives vocabulary growth
    * at corpus scale.
    *
    * `names` = (nid LONG, nm STRING), distinct on nm.
    * Returns (id_a, nm_a, id_b, nm_b, dist) with id_a < id_b. */
  def editDistancePairs(names: DataFrame, maxDist: Int): DataFrame = {
    val k = maxDist + 1
    def segStart(j: Column, l: Column): Column =
      floor(j * l / k).cast("int")
    val idx = names.select(col("nid").as("id_b"), col("nm").as("nm_b"))
      .withColumn("__lb", length(col("nm_b")))
      .withColumn("__j", explode(sequence(lit(0), lit(k - 1))))
      .withColumn("__s", segStart(col("__j"), col("__lb")))
      .withColumn("__sl", segStart(col("__j") + 1, col("__lb")) - col("__s"))
      .filter(col("__sl") > 0)
      .select(col("id_b"), col("nm_b"), col("__lb"), col("__j"),
        col("nm_b").substr(col("__s") + 1, col("__sl")).as("__seg"))
    val prb = names.select(col("nid").as("id_a"), col("nm").as("nm_a"))
      .withColumn("__la", length(col("nm_a")))
      .withColumn("__lb", explode(sequence(
        greatest(col("__la") - maxDist, lit(1)), col("__la") + maxDist)))
      .withColumn("__j", explode(sequence(lit(0), lit(k - 1))))
      .withColumn("__delta", explode(sequence(lit(-maxDist), lit(maxDist))))
      .withColumn("__s", segStart(col("__j"), col("__lb")))
      .withColumn("__sl", segStart(col("__j") + 1, col("__lb")) - col("__s"))
      .withColumn("__p", col("__s") + col("__delta"))
      .filter(col("__sl") > 0 && col("__p") >= 0 &&
        col("__p") + col("__sl") <= col("__la"))
      .select(col("id_a"), col("nm_a"), col("__lb"), col("__j"),
        col("nm_a").substr(col("__p") + 1, col("__sl")).as("__seg"))
      .distinct() // shifts often yield the same substring
    prb.join(idx, Seq("__lb", "__j", "__seg"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("nm_a"), col("id_b"), col("nm_b"))
      .distinct() // a pair may share several segments
      .withColumn("dist", levenshtein(col("nm_a"), col("nm_b"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
  }
}
