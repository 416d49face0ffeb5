package graft.domain

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.{Joins, Routing}

/** The proposal builder re-expressed relationally — the semantics of the
  * reference's 4,191-line single-threaded TypeScript program
  * (`scripts/proposal-builder.ts`), as distributed column expressions plus
  * group-parallel aggregation. Nothing here touches the driver: the
  * reference loads every certificate into one Node process
  * (`proposal-builder.ts:2118-2152`); we shuffle by certificate/group and
  * keep one group per task — the 100 TB stance.
  *
  * Input contract (`certificates`): cert_id, group_id, split_seq,
  * split_pct, tier_level, broker_id, schedule_code, paid_broker_id,
  * product_code, plan_code, eff_date — one row per
  * (cert x split-seq x tier), mirroring raw certificate_info
  * (`sql/01-raw-tables.sql:85-111`).
  */
object Proposals {

  /** Per-(cert, split) hierarchy hash: ordered tier array, hashed.
    * PaidBroker is EXCLUDED from the hierarchy hash and split_seq is
    * EXCLUDED from the config hash (`proposal-builder.ts:681-714`) —
    * hashes are content addresses for the split *structure*.
    * SHA-256 hex uppercase like the reference (`proposal-builder.ts:1973`).
    */
  def hierarchyHashes(certificates: DataFrame): DataFrame =
    certificates
      // tier item string built per INPUT row (codegen'd) — building it
      // post-collect via transform() runs interpreted per group
      .withColumn("__tier_item", concat_ws(":",
        lpad(col("tier_level").cast("string"), 4, "0"), col("broker_id"), col("schedule_code")))
      .groupBy(col("cert_id"), col("group_id"), col("split_seq"), col("split_pct"))
      .agg(
        sort_array(collect_list(struct(
          col("tier_level"), col("broker_id"), col("schedule_code")))).as("tiers"),
        concat_ws("|", sort_array(collect_list(col("__tier_item")))).as("tier_sig"))
      .withColumn("hierarchy_hash",
        upper(sha2(concat_ws("!", col("group_id"), col("split_pct"), col("tier_sig")), 256)))

  /** Per-cert config hash over the split set (split_seq excluded): the
    * content address compared across certificates of a group
    * (`proposal-builder.ts:684-714`). */
  def configHashes(hierHashes: DataFrame): DataFrame =
    hierHashes
      .groupBy(col("cert_id"), col("group_id"))
      .agg(
        upper(sha2(concat_ws("|", sort_array(collect_list(
          concat_ws(":", col("split_pct"), col("hierarchy_hash"))))), 256)).as("config_hash"),
        sum(col("split_pct")).as("total_split_pct"),
        count(lit(1)).as("n_splits"))

  /** [[hierarchyHashes]] + [[configHashes]] fused into ONE aggregate:
    * certificate rows group once by (cert, group) and the per-split
    * hierarchy hashes AND the cert's config hash are computed in-row
    * over the collected tier items (HOF group-by-split). Bit-equal to
    * the two-phase build — `ProposalsSpec` asserts it — but with one
    * shuffle instead of two (the second phase's regroup of the per-split
    * frame disappears; per-split rows come back via a shuffle-free
    * explode of `splits`). The lambda bodies run interpreted (HOFs get
    * no codegen), so this trades per-row CPU for a stage. The flagship
    * build (`DomainBench.glInputs`) uses this form: 9.3-9.6 s against
    * 10.7-11.2 s for the two-phase build at sf0.1. The two-phase form
    * stays for `g_pha_entities`, and as the
    * reference that `ProposalsSpec` and `g_shadow_compare` check this one
    * against. */
  def fusedHashes(certificates: DataFrame): DataFrame = {
    def f(x: Column, n: String) = x.getField(n)
    certificates
      .withColumn("__tier_item", concat_ws(":",
        lpad(col("tier_level").cast("string"), 4, "0"),
        col("broker_id"), col("schedule_code")))
      .groupBy(col("cert_id"), col("group_id"))
      .agg(collect_list(struct(col("split_seq"), col("split_pct"),
        col("__tier_item"))).as("__items"))
      .withColumn("__splits", array_distinct(transform(col("__items"),
        x => struct(f(x, "split_seq").as("split_seq"),
          f(x, "split_pct").as("split_pct")))))
      .withColumn("splits", transform(col("__splits"), s =>
        struct(
          f(s, "split_seq").as("split_seq"),
          f(s, "split_pct").as("split_pct"),
          upper(sha2(concat_ws("!", col("group_id"),
            f(s, "split_pct").cast("string"),
            array_join(array_sort(transform(
              filter(col("__items"), y =>
                f(y, "split_seq") === f(s, "split_seq") &&
                  f(y, "split_pct") === f(s, "split_pct")),
              z => f(z, "__tier_item"))), "|")), 256)).as("hierarchy_hash"))))
      .withColumn("config_hash", upper(sha2(array_join(array_sort(
        transform(col("splits"), e => concat_ws(":",
          f(e, "split_pct").cast("string"), f(e, "hierarchy_hash")))), "|"), 256)))
      .withColumn("total_split_pct", aggregate(col("__splits"), lit(0.0),
        (acc, s) => acc + f(s, "split_pct")))
      .withColumn("n_splits", size(col("__splits")).cast("long"))
      .select(col("cert_id"), col("group_id"), col("splits"),
        col("config_hash"), col("total_split_pct"), col("n_splits"))
  }

  /** Per-(cert, split) rows from [[fusedHashes]] output — the same shape
    * [[hierarchyHashes]] emits (minus tiers/tier_sig, which the
    * versioned flow never reads): a shuffle-free explode. */
  def fusedSplitRows(fused: DataFrame): DataFrame =
    fused.select(col("cert_id"), col("group_id"),
        explode(col("splits")).as("__s"))
      .select(col("cert_id"), col("group_id"),
        col("__s.split_seq").as("split_seq"),
        col("__s.split_pct").as("split_pct"),
        col("__s.hierarchy_hash").as("hierarchy_hash"))

  /** Non-conformance: total split percent != 100 routes the certificate
    * to the per-certificate PHA path (`proposal-builder.ts:740-779`). */
  def flagNonConformant(configs: DataFrame, tol: Double = 0.001): DataFrame =
    configs.withColumn("nonconformant",
      abs(col("total_split_pct") - 100.0) > tol)

  /** Entropy routing (`proposal-builder.ts:784-880`): fragmented groups
    * (too many configs / high Shannon entropy / weak dominant cluster)
    * route whole to PHA. Reuses the generic metrics operator. */
  def routeGroups(
      configs: DataFrame,
      maxUniqueRatio: Double = 0.5, maxEntropy: Double = 2.0,
      minDominantPct: Double = 50.0): DataFrame = {
    val m = Routing.entropyRouting(
      Routing.entropyMetrics(configs.filter(!col("nonconformant")),
        col("group_id"), col("config_hash")),
      maxUniqueRatio, maxEntropy, minDominantPct)
    configs.join(m.select(col("grp").as("group_id"), col("route_pha")), Seq("group_id"), "left")
      .withColumn("route_pha", coalesce(col("route_pha"), lit(false)) || col("nonconformant"))
  }

  /** Proposal construction (`proposal-builder.ts:886-1011`): one proposal
    * per (group, config_hash) over the conformant population; date range
    * spans the member certs; natural-key proposal id `PROP-{group}-{n}`
    * (`proposal-builder.ts:926`) with n ordered by first effective date.
    */
  def buildProposals(routedConfigs: DataFrame, certificates: DataFrame): DataFrame = {
    val members = routedConfigs.filter(!col("route_pha"))
      .select(col("cert_id"), col("group_id"), col("config_hash"))
    val certDates = certificates
      .groupBy(col("cert_id")).agg(min(col("eff_date")).as("eff_date"),
        collect_set(col("product_code")).as("prods"),
        collect_set(col("plan_code")).as("plans"))
    val grouped = members.join(certDates, Seq("cert_id"))
      .groupBy(col("group_id"), col("config_hash"))
      .agg(min(col("eff_date")).as("eff_from"),
        max(col("eff_date")).as("max_eff_date"),
        countDistinct(col("cert_id")).as("n_certs"),
        array_distinct(flatten(collect_list(col("prods")))).as("product_codes"),
        array_distinct(flatten(collect_list(col("plans")))).as("plan_codes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("group_id")).orderBy(col("eff_from"), col("config_hash"))
    grouped.withColumn("proposal_id",
      concat_ws("-", lit("PROP"), col("group_id"), row_number().over(w)))
  }

  /** Date-range normalization: close each proposal at the next one's
    * start minus one day; last stays open
    * (`sql/transforms/06g-normalize-proposal-date-ranges.sql:24-60`). */
  def normalizeDateRanges(proposals: DataFrame): DataFrame =
    graft.operators.Windows.leadClose(proposals,
      Seq(col("group_id")), Seq(col("eff_from"), col("proposal_id")),
      "eff_from", "eff_to")

  /** Key-mapping expansion (`proposal-builder.ts:1076-1091,1465-1477`):
    * proposal x year-range x products x plans, exploded. */
  def keyMappings(proposals: DataFrame): DataFrame =
    proposals
      .withColumn("yr", explode(sequence(
        year(col("eff_from")),
        coalesce(year(col("eff_to")), year(col("max_eff_date"))))))
      .withColumn("product_code", explode(col("product_codes")))
      .withColumn("plan_code", explode(col("plan_codes")))
      .select(col("proposal_id"), col("group_id"), col("yr"),
        col("product_code"), col("plan_code"))

  /** Hierarchy dedup by hash (`proposal-builder.ts:1861-1954`,
    * `getOrCreateHierarchy`): first-seen hash creates the hierarchy;
    * deterministic representative = lowest cert then split_seq. */
  def dedupHierarchies(hierHashes: DataFrame): DataFrame =
    Joins.top1PerGroup(hierHashes,
      Seq(col("hierarchy_hash")),
      Seq(col("cert_id"), col("split_seq")))
      .select(col("hierarchy_hash"), col("group_id"), col("split_pct"), col("tiers"))

  /** Compact 60-bit join key from the content hash: shuffling/sorting
    * 64-char hex strings is the dominant cost at hundreds of thousands of
    * hierarchies; the full hash remains the content address (the
    * specs' collision audits check both the content hash and this
    * truncated prefix). */
  def hierKey(hash: Column): Column =
    conv(substring(hash, 1, 15), 16, 10).cast("long") // conv reads either hex case

  /** 60-bit key for the BUSINESS hierarchy slot (group x split position) —
    * the stable identity whose structure evolves over time
    * (`sql/transforms/07-deprecated-hierarchies.sql`). */
  def businessHierKey(group: Column, splitSeq: Column): Column =
    hierKey(sha2(concat_ws("#", group, splitSeq), 256))

  /** Split configurations per proposal, taken from the representative
    * (lowest-id) certificate of each (group, config) — legitimate because
    * the config hash guarantees every member cert carries the same split
    * structure (`proposal-builder.ts:886-1011`). The hierarchy_id is the
    * business-slot key ([[businessHierKey]]), so the calc's as-of join
    * resolves the slot's version active at the transaction date
    * ([[hierarchyEntitiesVersioned]]). */
  def splitConfigsVersioned(
      proposals: DataFrame, routedConfigs: DataFrame, hierHashes: DataFrame): DataFrame = {
    val rep = Joins.top1PerGroup(
      routedConfigs.filter(!col("route_pha")),
      Seq(col("group_id"), col("config_hash")), Seq(col("cert_id")))
      .select(col("group_id"), col("config_hash"), col("cert_id"))
    proposals.select(col("proposal_id"), col("group_id"), col("config_hash"))
      .join(rep, Seq("group_id", "config_hash"))
      .join(hierHashes.select(col("cert_id"), col("group_id").as("__hg"),
        col("split_seq"), col("split_pct")), Seq("cert_id"))
      .select(col("proposal_id"), col("split_seq"), col("split_pct"),
        businessHierKey(col("__hg"), col("split_seq")).as("hierarchy_id"))
  }

  /** Multi-version hierarchy entities: version the business slot
    * (group, split_seq) over observation time (certificate effective
    * dates) via [[HierarchyVersioning]] — a structure change mid-stream
    * closes the open version and opens a new island, so
    * `Calc.resolveHierarchyVersion`'s as-of join picks among real
    * candidates (`07-deprecated-hierarchies.sql:266`). Participants are
    * decoded from each version's ordered structure signature.
    *
    * `mat` materializes the version-islands frame, which feeds BOTH
    * outputs — without it, a caller consuming versions and participants
    * in one action computes the islands twice. */
  def hierarchyEntitiesVersioned(
      certificates: DataFrame,
      mat: DataFrame => DataFrame = identity): (DataFrame, DataFrame) = {
    val obs = HierarchyVersioning.structureSignature(
      certificates.withColumn("__bkey",
        concat_ws("#", col("group_id"), col("split_seq"))),
      col("__bkey"), col("eff_date"))
    val v = HierarchyVersioning.versionsFromObservations(
      obs, col("key"), col("observed_at"), col("signature"),
      assumeDistinct = true) // structureSignature groups by (key, observed_at)
    val versions = mat(v.select(
      hierKey(sha2(col("key"), 256)).as("hierarchy_id"),
      hierKey(sha2(concat_ws("#", col("key"), col("version_seq")), 256)).as("version_id"),
      col("signature"),
      col("eff_from").cast("date").as("eff_from"),
      col("eff_to").cast("date").as("eff_to")))
    // posexplode: the signature position IS the in-version participant
    // ordinal, so `__pseq` (the discriminator Calc.explodeParticipants
    // would otherwise derive with a row_number sort over the whole frame)
    // comes for free — at sf0.1 participants is ~1.2M rows and the saved
    // window sort is measurable on the flagship
    val participants = versions
      .select(col("version_id"),
        posexplode(split(col("signature"), "\\|")).as(Seq("__pseq", "__item")))
      .select(col("version_id"),
        split(col("__item"), ":").getItem(0).cast("int").as("tier_level"),
        split(col("__item"), ":").getItem(1).as("broker_id"),
        split(col("__item"), ":").getItem(2).as("schedule_code"),
        lit(null).cast("double").as("participant_rate"),
        (col("__pseq") + 1).cast("int").as("__pseq"))
    (versions.drop("signature"), participants)
  }
}
