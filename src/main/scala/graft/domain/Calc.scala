package graft.domain

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Joins

/** The 8-stage commission calculation — the reference's "one real query"
  * (`sql/calc/run-calculation.sql`, stages at :58-78, :93-110, :125-147,
  * :162-179, :194-217, :232-297, :312-331, :346-377), re-expressed as one
  * lazy DataFrame lineage. Stage tables become named intermediate frames;
  * GL is a projection of the final cached frame.
  *
  * Scale design: premiums/certificates are the big facts — every join
  * keeps an equi key on certificate/group so Catalyst plans hash or SMJ
  * joins partitioned on those keys. Dimension sides (proposals, splits,
  * hierarchy versions, participants, rates, assignments) carry NO forced
  * broadcast hint: at reference scale they sit under the auto-broadcast
  * threshold and AQE broadcasts them; at adversarial scale (hundreds of
  * thousands of hierarchies) they shuffle-join instead of collecting to
  * the driver. The as-of resolutions (J3) are equi joins with residual
  * range predicates, never nested loops.
  *
  * Inputs (column contracts):
  *  - premiums: premium_id, cert_id, group_id, amount, txn_date
  *  - certificates: cert_id, group_id, state, group_size, real_rate
  *    (nullable certificate-level rate, `run-calculation.sql:265-274`)
  *  - proposals: proposal_id, group_id, eff_from, eff_to (null = open)
  *  - splits: proposal_id, split_seq, split_pct, hierarchy_id
  *  - hierarchy_versions: hierarchy_id, version_id, eff_from, eff_to
  *  - participants: version_id, tier_level, broker_id, schedule_code,
  *    participant_rate (nullable)
  *  - schedule_rates: schedule_code, product_code, state, size_from,
  *    size_to, rate  ('*' product/state = wildcard row)
  *  - assignments: broker_id, recipient_id, assigned_pct, eff_from, eff_to
  */
object Calc {

  /** Stage 1-2: keep positive premiums, enrich with certificate attrs
    * (`run-calculation.sql:58-110`; `WHERE Amount > 0` at :78). */
  def enrich(premiums: DataFrame, certificates: DataFrame): DataFrame =
    premiums.filter(col("amount") > 0)
      .join(certificates.select(col("cert_id"), col("state"), col("group_size"),
        col("real_rate"), col("product_code"), col("plan_code")), Seq("cert_id"), "inner")

  /** Stage 3: resolve the proposal active at the transaction date —
    * temporal as-of join on group (`run-calculation.sql:107-110`). */
  def resolveProposal(enriched: DataFrame, proposals: DataFrame): DataFrame =
    Joins.asOfJoin(enriched, proposals,
      enriched("group_id") === proposals("group_id"),
      col("txn_date"), proposals("eff_from"), proposals("eff_to"))
      .drop(proposals("group_id")).drop("eff_from", "eff_to")

  /** Stage 4: explode the proposal's split configuration — 1:N fan-out
    * (`run-calculation.sql:125-147`). split_premium = round(amount*pct/100, 2)
    * — round-then-aggregate, replicated exactly (:139). */
  def explodeSplits(withProposal: DataFrame, splits: DataFrame,
      tagOrdinal: Boolean = true): DataFrame = {
    // deterministic in-proposal ordinal on the config-sized dim side:
    // split_seq alone is NOT a safe discriminator (the synthetic data's
    // l_linenumber duplicates within an order, and nothing in the
    // contract forbids duplicate split rows) — `__sseq` makes each
    // exploded row addressable by lineage key alone. Callers whose splits
    // are provably unique per proposal on their natural columns (the
    // `Proposals.splitConfigsVersioned` outputs are: they project a groupBy key)
    // pass tagOrdinal=false and key the rank-1 restoration on those
    // columns directly, skipping the row_number sort of the dim frame.
    val sp =
      if (!tagOrdinal) splits
      else {
        val ordCols = splits.columns.map(c => col(c).asc_nulls_first)
        splits.withColumn("__sseq", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("proposal_id")).orderBy(ordCols: _*)))
      }
    withProposal.join(sp, Seq("proposal_id"))
      .withColumn("split_premium",
        round(col("amount").cast("decimal(18,2)") * col("split_pct").cast("decimal(7,4)") / 100, 2))
  }

  /** Stage 5: resolve the hierarchy version active at the transaction
    * date (`run-calculation.sql:162-179`). */
  def resolveHierarchyVersion(withSplits: DataFrame, hierarchyVersions: DataFrame): DataFrame =
    Joins.asOfJoin(withSplits, hierarchyVersions,
      withSplits("hierarchy_id") === hierarchyVersions("hierarchy_id"),
      col("txn_date"), hierarchyVersions("eff_from"), hierarchyVersions("eff_to"))
      .drop(hierarchyVersions("hierarchy_id")).drop("eff_from", "eff_to")

  /** Stage 6: explode hierarchy participants — second 1:N fan-out
    * (`run-calculation.sql:194-217`). The dim side gets a deterministic
    * in-version ordinal (`__pseq`, row_number over ALL participant
    * columns on the config-sized frame — negligible): combined with the
    * fact lineage key it makes every exploded row uniquely addressable
    * without tagging the big side, which [[lookupRate]]'s rank-1
    * restoration needs (duplicate participants fan out twice and must
    * not collapse, run-calculation.sql:194). */
  def explodeParticipants(withVersion: DataFrame, participants: DataFrame): DataFrame = {
    // generators that know the ordinal emit `__pseq` for free (the
    // `Proposals.hierarchyEntitiesVersioned` posexplode position); only untagged
    // inputs pay the row_number sort here
    val p =
      if (participants.columns.contains("__pseq")) participants
      else {
        val ordCols = participants.columns.map(c => col(c).asc_nulls_first)
        participants.withColumn("__pseq", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("version_id")).orderBy(ordCols: _*)))
      }
    withVersion.join(p, Seq("version_id"))
  }

  /** Stage 7: three-level rate resolution with band lookup
    * (`run-calculation.sql:232-297`): certificate rate (when > 0) beats
    * participant rate beats schedule lookup (equi on schedule+product+
    * state with wildcard rows and a group-size band, :293-297); rate
    * source is tracked for traceability (:249-260). */
  def lookupRate(exploded: DataFrame, scheduleRates: DataFrame,
      rowKey: Seq[Column] = Nil): DataFrame = {
    // specificity is a property of the RULE row (exact product beats exact
    // state beats double wildcard), so it must be computed on the rules side
    // BEFORE the join drops sr's product_code/state copies
    val sr = scheduleRates.withColumn("__spec",
      when(col("product_code") =!= "*", 0).otherwise(2) +
        when(col("state") =!= "*", 0).otherwise(1))
    // the rank-1 window must restore one output per input participant
    // row. Callers that know a unique composite key (the domain pipeline
    // threads premium/proposal/split/version/__pseq lineage) pass it as
    // `rowKey` — zero tagging cost; otherwise a deterministic content
    // surrogate is derived (retry-safe, unlike monotonically_increasing_id,
    // at the cost of one extra hash shuffle of the exploded frame)
    val (tagged, keys) =
      if (rowKey.nonEmpty) (exploded, rowKey)
      else (graft.operators.Joins.deterministicRowKey(exploded),
        Seq(col("__rh"), col("__ro")))
    val joined = tagged.join(sr,
      tagged("schedule_code") === sr("schedule_code") &&
        (sr("product_code") === "*" || sr("product_code") === tagged("product_code")) &&
        (sr("state") === "*" || sr("state") === tagged("state")) &&
        (sr("size_from").isNull ||
          (tagged("group_size") >= sr("size_from") && tagged("group_size") <= sr("size_to"))),
      "left")
      .drop(sr("schedule_code")).drop(sr("product_code")).drop(sr("state"))
    // several rules may match one participant row: keep the most specific
    // (exact product > exact state > double wildcard), deterministically,
    // then resolve the three-level rate priority
    val best = Joins.top1PerGroup(
      joined.withColumn("__spec", coalesce(col("__spec"), lit(9))),
      keys, Seq(col("__spec").asc, col("rate").desc_nulls_last))
      .drop("__spec", "__rh", "__ro")
    best.withColumn("resolved_rate",
        when(col("real_rate").isNotNull && col("real_rate") > 0, col("real_rate"))
          .when(col("participant_rate").isNotNull, col("participant_rate"))
          .otherwise(col("rate")))
      .withColumn("rate_source",
        when(col("real_rate").isNotNull && col("real_rate") > 0, "CertificateRate")
          .when(col("participant_rate").isNotNull, "ParticipantRate")
          .when(col("rate").isNotNull, "ScheduleLookup")
          .otherwise("NoRate"))
  }

  /** Stage 8: commission = round(split_premium * rate/100, 2) per
    * participant (`run-calculation.sql:312-331`, rounding at :330). */
  def compute(withRates: DataFrame): DataFrame =
    withRates.withColumn("commission",
      when(col("resolved_rate").isNotNull,
        round(col("split_premium").cast("decimal(18,2)") *
          col("resolved_rate").cast("decimal(9,4)") / 100, 2))
        .otherwise(lit(null).cast("decimal(18,2)")))

  /** Assignment application (`run-calculation.sql:346-377`): a broker
    * with an active assignment forwards assigned_pct of the commission;
    * retained + assigned = commission (both rounded, :368-369). */
  def applyAssignments(computed: DataFrame, assignments: DataFrame): DataFrame = {
    val a = assignments
    Joins.asOfJoin(computed, a, computed("broker_id") === a("broker_id"),
      col("txn_date"), a("eff_from"), a("eff_to"), joinType = "left")
      .drop(a("broker_id")).drop("eff_from", "eff_to")
      .withColumn("assigned_amount",
        when(col("recipient_id").isNotNull,
          round(col("commission").cast("decimal(18,2)") * col("assigned_pct").cast("decimal(7,4)") / 100, 2))
          .otherwise(lit(0).cast("decimal(18,2)")))
      .withColumn("retained_amount", col("commission") - col("assigned_amount"))
  }

  /** GL projection (`run-calculation.sql:391-456`): Original rows for the
    * earning broker (suppressed when fully assigned, :419) and Assigned
    * rows for the recipient (:456). */
  def glEntries(finalDf: DataFrame): DataFrame = {
    val original = finalDf
      .filter(col("commission").isNotNull && col("retained_amount") =!= 0)
      .select(col("premium_id"), col("broker_id"), lit("Original").as("entry_type"),
        col("retained_amount").as("amount"))
    val assigned = finalDf
      .filter(col("recipient_id").isNotNull && col("assigned_amount") =!= 0)
      .select(col("premium_id"), col("recipient_id").as("broker_id"),
        lit("Assigned").as("entry_type"), col("assigned_amount").as("amount"))
    original.unionByName(assigned)
  }

  /** The full cascade as one call; returns the final per-participant
    * frame (callers derive the GL projection from it). */
  case class CalcInputs(
      premiums: DataFrame, certificates: DataFrame, proposals: DataFrame,
      splits: DataFrame, hierarchyVersions: DataFrame, participants: DataFrame,
      scheduleRates: DataFrame, assignments: DataFrame)

  def run(in: CalcInputs): DataFrame = {
    val e = enrich(in.premiums, in.certificates)
    val p = resolveProposal(e, in.proposals)
    // splits from Proposals.splitConfigsVersioned are unique per proposal on
    // (split_seq, split_pct, hierarchy_id) — they project a groupBy key —
    // so those natural columns discriminate the split fan-out and no
    // __sseq tagging sort is needed
    val s = explodeSplits(p, in.splits, tagOrdinal = false)
    val v = resolveHierarchyVersion(s, in.hierarchyVersions)
    val x = explodeParticipants(v, in.participants)
    // unique by construction: proposals/versions resolve as-of among
    // non-overlapping intervals, the natural split columns key the split
    // fan-out and __pseq the participant fan-out — no tagging pass needed
    val r = lookupRate(x, in.scheduleRates, rowKey = Seq(
      col("premium_id"), col("proposal_id"), col("split_seq"),
      col("split_pct"), col("hierarchy_id"),
      col("version_id"), col("__pseq"))).drop("__pseq")
    applyAssignments(compute(r), in.assignments)
  }
}
