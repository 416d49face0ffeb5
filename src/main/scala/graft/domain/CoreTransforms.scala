package graft.domain

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Cleaning
import graft.operators.Joins

/** Core entity transforms (SURVEY §7.1 module 3): brokers (01), groups
  * (02), schedules + rates (04), fees (11). Each is a pure
  * `DataFrame => DataFrame` with the reference script as the behavioral
  * spec. All dimension-sized; shuffles only on the natural keys.
  */
object CoreTransforms {

  /** Broker status decode (`sql/transforms/01-brokers.sql:39-44`). */
  def decodeBrokerStatus(c: Column): Column =
    when(trim(c) === "Active", "ACTIVE")
      .when(trim(c) === "Terminated", "TERMINATED")
      .when(trim(c) === "Terminated Residuals", "TERMINATED_RESIDUALS")
      .otherwise("UNKNOWN")

  /** Brokers from individual + org rosters, with placeholder rows for
    * brokers referenced by certificates but absent from both rosters
    * (`sql/transforms/01-brokers.sql:151-191`). */
  def brokers(
      individual: DataFrame, org: DataFrame, certificateBrokerIds: DataFrame): DataFrame = {
    val ind = individual.select(
      Cleaning.cleanStr(col("PartyUniqueId")).as("broker_ext_id"),
      Cleaning.cleanStr(col("Name")).as("name"),
      decodeBrokerStatus(col("CurrentStatus")).as("status"),
      lit("INDIVIDUAL").as("broker_type"))
    val orgB = org.select(
      Cleaning.cleanStr(col("PartyUniqueId")).as("broker_ext_id"),
      Cleaning.cleanStr(col("Name")).as("name"),
      decodeBrokerStatus(col("CurrentStatus")).as("status"),
      lit("ORGANIZATION").as("broker_type"))
    val roster = ind.unionByName(orgB)
      // dedup-union guard (00-references pattern, J9): first roster wins
      .transform(df => Joins.top1PerGroup(df, Seq(col("broker_ext_id")),
        Seq(col("broker_type"))))
    val placeholders = certificateBrokerIds
      .select(Cleaning.cleanStr(col("broker_id")).as("broker_ext_id")).distinct()
      .join(roster, Seq("broker_ext_id"), "left_anti")
      .select(col("broker_ext_id"),
        concat(lit("Placeholder "), col("broker_ext_id")).as("name"),
        lit("PLACEHOLDER").as("status"), lit("PLACEHOLDER").as("broker_type"))
    roster.unionByName(placeholders)
      .withColumn("broker_id", Cleaning.externalToInternalId(col("broker_ext_id")))
  }

  /** Broker-name backfill (`sql/transforms/06z-update-proposal-broker-names.sql:17-31`):
    * proposals whose broker_name is null, blank, or the `'Broker {id}'`
    * placeholder take the roster name when it is non-blank; rows without
    * a usable roster name keep their value (placeholder included) and
    * are flagged still-missing, twinning the script's follow-up report
    * (`:37-42`). One left join against the roster dim (AQE broadcasts
    * it — never forced, roster cardinality is data-dependent).
    *
    * `proposals`: (proposal_id, broker_id, broker_name);
    * `brokers`: (broker_id, name). Returns the proposals frame with
    * broker_name rewritten + (was_backfilled, still_missing). */
  def backfillBrokerNames(proposals: DataFrame, brokers: DataFrame): DataFrame = {
    val placeholder = concat(lit("Broker "), col("broker_id"))
    val needsFix = col("broker_id").isNotNull &&
      (col("broker_name").isNull || trim(col("broker_name")) === "" ||
        col("broker_name") === placeholder)
    val roster = brokers.select(col("broker_id").as("__bid"),
      Cleaning.cleanStr(col("name")).as("__bname"))
    proposals
      .join(roster, col("broker_id") === col("__bid"), "left")
      .withColumn("__fixed", needsFix && col("__bname").isNotNull)
      .withColumn("broker_name",
        when(col("__fixed"), col("__bname")).otherwise(col("broker_name")))
      .withColumn("was_backfilled", col("__fixed"))
      .withColumn("still_missing", col("broker_id").isNotNull &&
        (col("broker_name").isNull || trim(col("broker_name")) === "" ||
          col("broker_name") === placeholder))
      .drop("__bid", "__bname", "__fixed")
  }

  /** Groups with fallback name/state chains — perf-group beats premium
    * beats certificate source (`sql/transforms/02-groups.sql:108-121`),
    * conditional-aggregate best-non-empty per group (`:31-33`), canonical
    * G-prefixed id (`:107`) and DTC sentinel. */
  def groups(
      certGroups: DataFrame,    // group_id_raw, name, state (from certs)
      premiumGroups: DataFrame, // group_id_raw, name
      perfGroups: DataFrame     // group_id_raw, name, state, group_size
  ): DataFrame = {
    def bestNonEmpty(c: Column) = max(Cleaning.cleanStr(c))
    val cg = certGroups.groupBy(col("group_id_raw"))
      .agg(bestNonEmpty(col("name")).as("cert_name"), bestNonEmpty(col("state")).as("cert_state"))
    val pg = premiumGroups.groupBy(col("group_id_raw"))
      .agg(bestNonEmpty(col("name")).as("prem_name"))
    val fg = perfGroups.groupBy(col("group_id_raw"))
      .agg(bestNonEmpty(col("name")).as("perf_name"), bestNonEmpty(col("state")).as("perf_state"),
        max(col("group_size")).as("group_size"))
    cg.join(pg, Seq("group_id_raw"), "full")
      .join(fg, Seq("group_id_raw"), "full")
      .select(
        Cleaning.canonicalGroupId(Cleaning.dtcSentinel(col("group_id_raw"))).as("group_id"),
        coalesce(col("perf_name"), col("prem_name"), col("cert_name")).as("name"),
        coalesce(col("perf_state"), col("cert_state")).as("state"),
        col("group_size"))
  }

  /** Fee-method canonicalization (`sql/transforms/11-fees.sql:125-190`):
    * six canonical methods, unknown -> OTHER_FEE. */
  val feeMethodMap: Map[String, String] = Map(
    "PCTPREM" -> "PERCENT_OF_PREMIUM",
    "PEPM" -> "PER_EMPLOYEE_PER_MONTH",
    "PMPM" -> "PER_MEMBER_PER_MONTH",
    "FLAT" -> "FLAT_FEE",
    "PCTCLAIM" -> "PERCENT_OF_CLAIMS",
    "ANNUAL" -> "ANNUAL_FEE",
  )

  def canonicalFeeMethod(c: Column): Column =
    feeMethodMap.foldLeft(when(lit(false), lit(""))) { case (acc, (raw, canon)) =>
      acc.when(upper(trim(c)) === raw, canon)
    }.otherwise("OTHER_FEE")

  /** Licenses (12): status decode + boolean coercion for the mixed
    * 'Y'/'true' IsResidenceLicense column (`sql/01-raw-tables.sql:163-178`,
    * `sql/transforms/12-licenses.sql` Status CASE). */
  def parseLicenseFlags(licenses: DataFrame): DataFrame =
    licenses
      .withColumn("status_code",
        when(upper(trim(col("status"))) === "ACTIVE", "A")
          .when(upper(trim(col("status"))) === "INACTIVE", "I")
          .otherwise("U"))
      .withColumn("is_residence",
        upper(trim(col("IsResidenceLicense"))).isin("Y", "TRUE", "1"))

  /** EO insurances (13): the literal-'NULL'-string columns
    * (`sql/transforms/13-eo-insurances.sql` via NULLIF(...,'NULL')) plus
    * typed amounts. */
  def eoInsurances(raw: DataFrame): DataFrame =
    raw.select(
      Cleaning.cleanStrStrict(col("PartyUniqueId")).as("broker_ext_id"),
      Cleaning.cleanStrStrict(col("CarrierName")).as("carrier"),
      Cleaning.cleanStrStrict(col("PolicyId")).as("policy_id"),
      Cleaning.cleanStrStrict(col("FromDate")).try_cast("date").as("from_date"),
      Cleaning.cleanStrStrict(col("ToDate")).try_cast("date").as("to_date"),
      Cleaning.cleanStrStrict(col("CoverageAmount")).try_cast("decimal(18,2)").as("coverage_amount"))

  /** Fees (11): MM/DD/YYYY date parsing, canonical calc method,
    * typed amounts, natural-key fee ids (`sql/transforms/11-fees.sql`:
    * dates ~:222, method CASE :125-190, id at :109-113 — the reference's
    * ROW_NUMBER surrogate becomes a deterministic natural-key id, W1). */
  def fees(raw: DataFrame): DataFrame =
    raw.select(
      Cleaning.cleanStr(col("PRDNUM")).as("product_num"),
      Cleaning.cleanStr(col("PRODUCTCAT")).as("product_cat"),
      Cleaning.cleanStr(col("FREQ")).as("frequency"),
      Cleaning.cleanStr(col("FormattedAmount")).try_cast("decimal(18,4)").as("amount"),
      Cleaning.cleanStr(col("AMTKIND")).as("amount_kind"),
      Cleaning.parseUsDate(col("DATESTART")).as("date_start"),
      Cleaning.parseUsDate(col("DATEEND")).as("date_end"),
      canonicalFeeMethod(col("FEECALCMETHOD")).as("fee_method"),
      Cleaning.cleanStr(col("FEETYPE")).as("fee_type"),
      Cleaning.cleanStr(col("PartyUniqueId")).as("recipient_ext_id"))
      .withColumn("fee_id", concat_ws("-", lit("FEE"), col("product_num"),
        col("fee_method"), date_format(col("date_start"), "yyyyMMdd")))

  /** Products (03): per (category, code) over certificate-shaped rows —
    * distinct-group count and the ordered AllowedStates aggregation
    * (`sql/transforms/03-products.sql:100-144`: `STRING_AGG ... WITHIN
    * GROUP (ORDER BY CertIssuedState)` over distinct non-empty states),
    * plus the synthetic natural-order id. Products are
    * configuration-sized, so the global-order row_number window is a
    * single small partition by design. */
  def products(certRows: DataFrame): DataFrame = {
    val cleaned = certRows.select(
      Cleaning.cleanStr(col("product_category")).as("product_category"),
      Cleaning.cleanStr(col("product_code")).as("product_code"),
      Cleaning.cleanStr(col("state")).as("state"),
      Cleaning.cleanStr(col("group_id")).as("group_id"))
      .filter(col("product_category").isNotNull && col("product_code").isNotNull)
    cleaned.groupBy(col("product_category"), col("product_code"))
      .agg(countDistinct(col("group_id")).as("groups_count"),
        concat_ws(",", array_sort(collect_set(col("state")))).as("allowed_states"))
      .withColumn("description",
        concat_ws(" - ", col("product_category"), col("product_code")))
      .withColumn("status", lit("Active"))
      .withColumn("id", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("product_category"), col("product_code"))).cast("long"))
  }

  /** Broker banking infos (12): ACH extraction from the individual and
    * organization broker sources
    * (`sql/transforms/12-broker-banking-infos.sql:57-195`): all three
    * banking fields must be populated, broker id = 'P'-stripped
    * `PartyUniqueId` try_cast to long, ABA routing truncated to 9 chars /
    * account to 17, account type decoded (leading 'C' -> Checking, else
    * Savings), holder name assembled from first+last (individuals) or the
    * org name; when a broker appears in BOTH sources the individual row
    * wins (the reference's NOT IN guard, :185-189 — here a left-anti join,
    * shuffle-free while the individual side broadcasts).
    *
    * Input contract: PartyUniqueId, BankRoutingNumber, AccountNumber,
    * AccountType + IndividualFirstName/IndividualLastName (individuals)
    * or OrganizationName (orgs). */
  def bankingInfos(individuals: DataFrame, orgs: DataFrame): DataFrame = {
    def brokerId = regexp_replace(trim(col("PartyUniqueId")), "P", "").try_cast("long")
    def gate(df: DataFrame) = df.filter(
      Cleaning.cleanStr(col("BankRoutingNumber")).isNotNull &&
        Cleaning.cleanStr(col("AccountNumber")).isNotNull &&
        Cleaning.cleanStr(col("AccountType")).isNotNull &&
        Cleaning.cleanStr(col("PartyUniqueId")).isNotNull && brokerId.isNotNull)
    def common(name: Column, source: String)(df: DataFrame) = df.select(
      brokerId.as("broker_id"),
      lit(1).as("payment_preference"),
      lit("Unknown").as("bank_name"),
      substring(trim(col("BankRoutingNumber")), 1, 9).as("routing_number"),
      substring(trim(col("AccountNumber")), 1, 17).as("account_number"),
      when(upper(trim(col("AccountType"))).startsWith("C"), "Checking")
        .otherwise("Savings").as("account_type"),
      name.as("account_holder_name"),
      name.as("payee_name"),
      lit(s"Source: $source - ETL import").as("notes"))
    val indName = trim(concat(
      coalesce(col("IndividualFirstName"), lit("")),
      when(col("IndividualFirstName").isNotNull && col("IndividualLastName").isNotNull,
        lit(" ")).otherwise(lit("")),
      coalesce(col("IndividualLastName"), lit(""))))
    val ind = common(indName, "raw_individual")(gate(individuals))
    val org = common(substring(trim(col("OrganizationName")), 1, 255),
      "raw_org1")(gate(orgs))
      .join(ind.select(col("broker_id")), Seq("broker_id"), "left_anti")
    ind.unionByName(org)
  }
}
