package graft.domain

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Idempotent export (SURVEY §2.1 S8): insert-if-not-exists, the
  * pattern of the reference's 30+ export scripts
  * (`sql/export/07-export-proposals.sql:12-73`).
  *
  * Relational form: a left-anti join against the target's existing keys,
  * so a re-run appends nothing and appends stay deterministic. At scale
  * the target-keys frame is a column-pruned scan of the sink table.
  */
object Export {

  def upsertCandidates(
      source: DataFrame, existingKeys: DataFrame, keyCols: Seq[String]): DataFrame =
    source.join(existingKeys.select(keyCols.map(col): _*).distinct(), keyCols, "left_anti")

  /** One production export target: sink table plus the natural key its
    * script de-dupes on (the NOT EXISTS / NOT IN / run-scoped-delete
    * condition). `fkDim` names the dimension whose key gates the insert,
    * where the script has one (e.g. BrokerId IN (SELECT Id FROM Brokers)). */
  final case class ExportTarget(
      table: String, keyCols: Seq[String], fkDim: Option[(String, String)] = None)

  /** The reference's full production export surface (the 30+ scripts
    * under `sql/export/`, all sharing the S8 insert-if-not-exists pattern) as
    * config. Keys extracted from each script's idempotence predicate:
    * NOT EXISTS on a composite (07-export-proposals.sql:«ProposalProducts»,
    * 12-export-assignments.sql, 10-export-premium-transactions.sql),
    * `NOT IN (SELECT Id ...)` (05/06/08/09/11 et al.), or a run-scoped
    * DELETE+INSERT keyed by CommissionRunId (03-export-gl-entries.sql:68).
    * Breadth is config — every table below rides the same [[upsertCandidates]]. */
  val targets: Seq[ExportTarget] = Seq(
    ExportTarget("BrokerAppointments", Seq("BrokerId", "StateCode"), Some(("Brokers", "BrokerId"))),
    ExportTarget("BrokerBankingInfos", Seq("BrokerId"), Some(("Brokers", "BrokerId"))),
    ExportTarget("BrokerEOInsurances", Seq("BrokerId"), Some(("Brokers", "BrokerId"))),
    ExportTarget("BrokerLicenses", Seq("BrokerId", "LicenseNumber"), Some(("Brokers", "BrokerId"))),
    ExportTarget("BrokerTraceabilities", Seq("Id"), Some(("Brokers", "BrokerId"))),
    ExportTarget("Brokers", Seq("Id")),
    ExportTarget("CommissionAssignmentRecipients", Seq("Id")),
    ExportTarget("CommissionAssignmentVersions", Seq("Id")),
    ExportTarget("CommissionRuns", Seq("Id")),
    ExportTarget("CommissionTraceabilityReports", Seq("Id")),
    ExportTarget("EmployerGroups", Seq("Id")),
    ExportTarget("FeeScheduleItems", Seq("Id")),
    ExportTarget("FeeScheduleVersions", Seq("Id")),
    ExportTarget("FeeSchedules", Seq("Id")),
    ExportTarget("GLJournalEntries", Seq("Id")),
    ExportTarget("Hierarchies", Seq("Id")),
    ExportTarget("HierarchyParticipantProductRates", Seq("Id")),
    ExportTarget("HierarchyParticipants", Seq("Id")),
    ExportTarget("HierarchySplits", Seq("Id")),
    ExportTarget("HierarchyVersions", Seq("Id")),
    ExportTarget("Plans", Seq("Id")),
    ExportTarget("Policies", Seq("Id")),
    ExportTarget("PolicyHierarchyAssignments",
      Seq("PolicyId", "HierarchyId", "WritingBrokerId"), Some(("Policies", "PolicyId"))),
    ExportTarget("PremiumSplitParticipants", Seq("Id")),
    ExportTarget("PremiumSplitVersions", Seq("Id")),
    ExportTarget("PremiumTransactions",
      Seq("certificateId", "premiumAmount", "transactionDate")),
    ExportTarget("ProductCodes", Seq("Id")),
    ExportTarget("Products", Seq("ProductCode")),
    ExportTarget("ProposalProducts", Seq("ProposalId", "ProductCode"),
      Some(("Proposals", "ProposalId"))),
    ExportTarget("Proposals", Seq("Id"), Some(("Brokers", "BrokerUniquePartyId"))),
    ExportTarget("ScheduleRateTiers", Seq("Id")),
    ExportTarget("ScheduleRates", Seq("Id")),
    ExportTarget("ScheduleVersions", Seq("Id")),
    ExportTarget("Schedules", Seq("Id")),
    ExportTarget("SpecialScheduleRates", Seq("ScheduleRateId", "Year")),
    ExportTarget("SplitDistributions", Seq("Id")),
    ExportTarget("StateRuleStates", Seq("Id")),
    ExportTarget("StateRules", Seq("Id")))
}
