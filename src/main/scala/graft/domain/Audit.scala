package graft.domain

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Data-quality audit — the reference's invariant suite
  * (`sql/transforms/99-audit-and-cleanup.sql`, 673 LoC: referential
  * integrity §1, completeness §3, data quality §4) as checks that
  * [[ProductionReadiness.report]] stacks into one report job (A9:
  * anti-joins + counts, UNION ALL).
  */
object Audit {
  import ProductionReadiness.Check

  /** One-pass column profiler: per column — null count, approximate
    * distinct, min/max (as strings). The standard first look at a new
    * 100 TB input; single aggregation, no per-column jobs. */
  def profile(df: DataFrame, exactDistinct: Boolean = false): DataFrame = {
    val aggs = df.schema.fields.flatMap { f =>
      val c = col(f.name)
      Seq(
        sum(c.isNull.cast("long")).as(s"${f.name}__nulls"),
        (if (exactDistinct) countDistinct(c) else approx_count_distinct(c))
          .as(s"${f.name}__distinct"),
        min(c).cast("string").as(s"${f.name}__min"),
        max(c).cast("string").as(s"${f.name}__max"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val stacked = df.schema.fields.map { f =>
      row.select(lit(f.name).as("column"), lit(f.dataType.simpleString).as("type"),
        col(s"${f.name}__nulls").as("n_nulls"),
        col(s"${f.name}__distinct").as("approx_distinct"),
        col(s"${f.name}__min").as("min"), col(s"${f.name}__max").as("max"))
    }
    stacked.reduce(_ unionByName _)
  }

  /** The commissions-entity invariants, as suite `audit` checks for
    * [[ProductionReadiness.report]]. All must report 0. */
  def commissionsChecks(
      proposals: DataFrame, splits: DataFrame, hierarchyVersions: DataFrame,
      participants: DataFrame): Seq[Check] = Seq(
    // referential integrity (99-audit §1: orphans)
    Check.rows("audit", "splits_without_proposal",
      splits.join(proposals, Seq("proposal_id"), "left_anti")),
    Check.rows("audit", "participants_without_version",
      participants.join(hierarchyVersions.select(col("version_id")), Seq("version_id"), "left_anti")),
    // completeness (§3: proposals without split versions)
    Check.rows("audit", "proposals_without_splits",
      proposals.join(splits, Seq("proposal_id"), "left_anti")),
    // data quality (§4: From > To ranges; null brokers)
    Check.rows("audit", "inverted_date_ranges",
      proposals.filter(col("eff_to").isNotNull && col("eff_from") > col("eff_to"))),
    Check.rows("audit", "null_participant_brokers",
      participants.filter(col("broker_id").isNull)),
    // split percents must sum to 100 per proposal
    Check.rows("audit", "split_pct_not_100",
      splits.groupBy(col("proposal_id")).agg(sum(col("split_pct")).as("s"))
        .filter(abs(col("s") - 100.0) > 0.001)),
  )
}
