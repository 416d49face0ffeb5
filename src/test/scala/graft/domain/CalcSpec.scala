package graft.domain

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scenario fixtures from FIXTURES.md: simple group (golden GL =
  * premium*rate/100), rate-priority triple, assignments, failure paths. */
class CalcSpec extends SparkSpec {
  import spark.implicits._

  private def d(s: String) = java.sql.Date.valueOf(s)

  // --- shared fixture ------------------------------------------------
  // premium 1000.00 on cert 1 (group G1), one proposal, one split 100%,
  // one hierarchy version, participants resolving rates 3 ways.

  private def premiums: DataFrame = Seq(
    (100L, 1L, "G1", 1000.0, d("2020-06-15")),   // happy path
    (101L, 2L, "G2", 500.0, d("2020-06-15")),    // group w/o proposal -> fail
    (102L, 1L, "G1", -50.0, d("2020-06-15")),    // non-positive -> filtered
  ).toDF("premium_id", "cert_id", "group_id", "amount", "txn_date")

  private def certificates: DataFrame = Seq(
    (1L, "G1", "ST", 25, null.asInstanceOf[java.lang.Double], "PRODA", "*"),
    (2L, "G2", "TX", 10, null.asInstanceOf[java.lang.Double], "PRODB", "*"),
  ).toDF("cert_id", "group_id", "state", "group_size", "real_rate", "product_code", "plan_code")

  private def proposals: DataFrame = Seq(
    ("PR1", "G1", d("2020-01-01"), null.asInstanceOf[java.sql.Date]),
  ).toDF("proposal_id", "group_id", "eff_from", "eff_to")

  private def splits: DataFrame = Seq(
    ("PR1", 1, 60.0, "H1"), ("PR1", 2, 40.0, "H2"),
  ).toDF("proposal_id", "split_seq", "split_pct", "hierarchy_id")

  private def hierarchyVersions: DataFrame = Seq(
    ("H1", "H1V1", d("2020-01-01"), null.asInstanceOf[java.sql.Date]),
    ("H2", "H2V1", d("2020-01-01"), null.asInstanceOf[java.sql.Date]),
  ).toDF("hierarchy_id", "version_id", "eff_from", "eff_to")

  private def participants: DataFrame = Seq(
    // H1: writing broker with explicit participant rate; tier-2 via schedule
    ("H1V1", 1, "B1", "SCHED1", Some(10.0)),
    ("H1V1", 2, "B2", "SCHED1", None),
    // H2: schedule lookup only; and one broker with no rate anywhere
    ("H2V1", 1, "B3", "SCHED1", None),
    ("H2V1", 2, "B4", "NOSUCH", None),
  ).toDF("version_id", "tier_level", "broker_id", "schedule_code", "participant_rate")

  private def scheduleRates: DataFrame = Seq(
    ("SCHED1", "*", "*", None, None, 5.0),
    ("SCHED1", "PRODA", "*", None, None, 7.0), // more specific: wins for PRODA
    ("SCHED1", "PRODA", "ST", Some(20), Some(30), 8.0), // most specific w/ band
  ).toDF("schedule_code", "product_code", "state", "size_from", "size_to", "rate")

  private def assignments: DataFrame = Seq(
    ("B2", "R9", 100.0, d("2020-01-01"), null.asInstanceOf[java.sql.Date]), // full
    ("B3", "R8", 25.0, d("2020-01-01"), null.asInstanceOf[java.sql.Date]),  // partial
  ).toDF("broker_id", "recipient_id", "assigned_pct", "eff_from", "eff_to")

  private lazy val result = Calc.run(Calc.CalcInputs(
    premiums, certificates, proposals, splits, hierarchyVersions,
    participants, scheduleRates, assignments))

  test("split premiums: 60/40 of 1000 rounded per stage") {
    val sp = result.select(col("hierarchy_id"), col("split_premium").cast("double"))
      .distinct().as[(String, Double)].collect().toMap
    assert(sp == Map("H1" -> 600.0, "H2" -> 400.0))
  }

  test("rate priority: participant rate beats schedule; most-specific schedule row wins; NoRate tracked") {
    val rates = result.select(col("broker_id"), col("rate_source"),
      col("resolved_rate").cast("double")).as[(String, String, Option[Double])]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rates("B1") == (("ParticipantRate", Some(10.0))))
    // B2: schedule SCHED1, product PRODA, state ST, size 25 -> banded row 8.0
    assert(rates("B2") == (("ScheduleLookup", Some(8.0))))
    assert(rates("B3") == (("ScheduleLookup", Some(8.0))))
    assert(rates("B4")._1 == "NoRate")
  }

  test("specificity beats rate: exact rule wins over higher-rate wildcard") {
    val facts = Seq(
      (200L, 1, "V1", 1, "B9", "S2", "PRODA", "ST", 25)
    ).toDF("premium_id", "split_seq", "version_id", "tier_level", "broker_id",
      "schedule_code", "product_code", "state", "group_size")
      .withColumn("real_rate", lit(null).cast("double"))
      .withColumn("participant_rate", lit(null).cast("double"))
    val rates = Seq(
      ("S2", "*", "*", None: Option[Int], None: Option[Int], 9.0), // wildcard, highest rate
      ("S2", "PRODA", "*", None: Option[Int], None: Option[Int], 6.0), // mid specificity
      ("S2", "PRODA", "ST", None: Option[Int], None: Option[Int], 2.0) // exact, lowest rate
    ).toDF("schedule_code", "product_code", "state", "size_from", "size_to", "rate")
    val out = Calc.lookupRate(facts, rates)
      .select(col("resolved_rate").cast("double"), col("rate_source"))
      .as[(Option[Double], String)].collect().toSeq
    assert(out == Seq((Some(2.0), "ScheduleLookup")))
  }

  test("lookupRate: banded exact rule, double wildcard and NoRate") {
    val facts = Seq(
      (300L, 1, "V1", 1, "B1", "S3", "PRODA", "ST", 25), // banded exact wins (2.0)
      (301L, 1, "V1", 1, "B2", "S3", "PRODB", "TX", 10), // only double wildcard (9.0)
      (302L, 1, "V1", 1, "B3", "NOPE", "PRODA", "ST", 5)) // no schedule -> NoRate
      .toDF("premium_id", "split_seq", "version_id", "tier_level", "broker_id",
        "schedule_code", "product_code", "state", "group_size")
      .withColumn("real_rate", lit(null).cast("double"))
      .withColumn("participant_rate", lit(null).cast("double"))
    val rates = Seq(
      ("S3", "*", "*", None: Option[Int], None: Option[Int], 9.0),
      ("S3", "PRODA", "*", None: Option[Int], None: Option[Int], 6.0),
      ("S3", "PRODA", "ST", Some(20), Some(30), 2.0))
      .toDF("schedule_code", "product_code", "state", "size_from", "size_to", "rate")
    def shape(df: DataFrame) = df.select(col("premium_id"), col("broker_id"),
      col("resolved_rate").cast("double"), col("rate_source"))
      .as[(Long, String, Option[Double], String)].collect().toSet
    val got = shape(Calc.lookupRate(facts, rates))
    assert(got.exists(r => r._1 == 300L && r._3.contains(2.0)))
    assert(got.exists(r => r._1 == 301L && r._3.contains(9.0)))
    assert(got.exists(r => r._1 == 302L && r._4 == "NoRate"))
  }

  test("commissions: round(split*rate/100, 2) per participant") {
    val comm = result.select(col("broker_id"), col("commission").cast("double"))
      .as[(String, Option[Double])].collect().toMap
    assert(comm("B1").contains(60.0))   // 600*10%
    assert(comm("B2").contains(48.0))   // 600*8%
    assert(comm("B3").contains(32.0))   // 400*8%
    assert(comm("B4").isEmpty)          // NoRate -> null
  }

  test("assignments: retained + assigned = commission; full assignment suppresses Original GL") {
    val rows = result.select(col("broker_id"), col("commission").cast("double"),
      col("retained_amount").cast("double"), col("assigned_amount").cast("double"))
      .as[(String, Option[Double], Option[Double], Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(rows("B2") == ((Some(48.0), Some(0.0), Some(48.0))))   // 100% assigned
    assert(rows("B3") == ((Some(32.0), Some(24.0), Some(8.0))))   // 25% assigned
    val gl = Calc.glEntries(result)
      .select(col("broker_id"), col("entry_type"), col("amount").cast("double"))
      .as[(String, String, Double)].collect().toSet
    assert(!gl.exists(g => g._1 == "B2" && g._2 == "Original")) // zero-retained suppressed
    assert(gl.contains(("R9", "Assigned", 48.0)))
    assert(gl.contains(("R8", "Assigned", 8.0)))
    assert(gl.contains(("B3", "Original", 24.0)))
    assert(gl.contains(("B1", "Original", 60.0)))
  }
}
