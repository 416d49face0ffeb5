package graft.domain

import graft.{DomainBench, Reference, SparkSpec}
import graft.pipeline.Pipeline
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The minimum end-to-end slice (SURVEY §7.2): raw CSV -> typed ingest ->
  * proposal inference (fused hashing) -> versioned splits/hierarchies -> premium
  * transactions (with cert fallback) -> 8-stage calc -> GL + audit.
  * Runs the flagship's Pipeline step list (DomainBench.steps). Golden: GL total =
  * premium_total * rate / 100; all audit invariants zero.
  */
class EndToEndSpec extends SparkSpec {
  import spark.implicits._

  private def writeFixtureCsv(): String = {
    val dir = Files.createTempDirectory("graft_e2e").toFile
    val csv =
      """CertificateId,GroupId,Product,PlanCode,CertEffectiveDate,CertIssuedState,CertStatus,RecStatus,CertPremium,CertSplitSeq,CertSplitPercent,SplitBrokerSeq,SplitBrokerId,PaidBrokerId,CommissionsSchedule
        |1,25992,PRODA,PL1,2020-01-15,TX,A,A,1000.00,1,60.00,1,P1,P1,SCHED1
        |1,25992,PRODA,PL1,2020-01-15,TX,A,A,1000.00,2,40.00,1,P2,P2,SCHED1
        |2,25992,PRODA,PL1,2020-02-15,TX,A,A,500.00,1,60.00,1,P1,P1,SCHED1
        |2,25992,PRODA,PL1,2020-02-15,TX,A,A,500.00,2,40.00,1,P2,P2,SCHED1
        |3,25992,PRODA,PL1,2020-03-15,TX,T,A,999.00,1,100.00,1,P9,P9,SCHED1
        |""".stripMargin
    Files.writeString(new java.io.File(dir, "CertificateInfo.csv").toPath, csv)
    dir.getAbsolutePath
  }

  // the flagship's step list (DomainBench.steps, as glInputs runs it)
  // over the fixture: typed CSV ingest, real premiums with a cert-level
  // fallback, one schedule at 10%, routeGroups' default thresholds and
  // the certificates' own issued state
  private def steps(csvDir: String): Seq[Pipeline.Step] = DomainBench.steps(
    load = s => Ingest.gate(Ingest.activeOnly(Ingest.typedPass(
      Ingest.readRawCsv(s, csvDir), Ingest.certificateSpec)), Seq("cert_id", "group_id"))._1,
    premiums = (s, certs) => {
      import s.implicits._
      val real = Seq((100L, 1L, "25992", 1000.0, java.sql.Date.valueOf("2020-06-15")))
        .toDF("premium_id", "cert_id", "group_id", "amount", "txn_date")
      val certLevel = certs.groupBy(col("cert_id"))
        .agg(first(col("group_id")).as("group_id"), first(col("premium")).as("premium"),
          first(col("eff_date")).as("eff_date"))
      PostTransforms.premiumTransactions(real, certLevel).withColumnRenamed("txn_id", "premium_id")
    },
    rates = Seq("SCHED1" -> 10.0),
    routing = (0.5, 2.0, 50.0),
    state = first(col("state")))

  lazy val stepList = steps(writeFixtureCsv())
  lazy val frames = Pipeline.run(spark, stepList)
  lazy val fin = Calc.run(DomainBench.calcInputs(frames))

  test("pipeline completes every step") {
    // the flagship's step names, in order: a step the spec adds or drops
    // is a second wiring; every output a step declares is in the run's frames
    assert(stepList.map(_.name) == Seq("load", "hashes", "routing",
      "proposals", "splits", "premiums", "calc_inputs"))
    val declared = stepList.flatMap(_.outputs)
    assert(declared.filterNot(frames.contains).isEmpty, frames.keySet.toString)
  }

  test("proposal inference: one proposal, 60/40 splits, two hierarchies") {
    assert(frames("proposals").count() == 1)
    val s = frames("splits").select(col("split_pct").cast("double")).as[Double]
      .collect().sorted.toSeq
    assert(s == Seq(40.0, 60.0))
    assert(frames("versions").count() == 2)
    assert(frames("participants").count() == 2)
  }

  test("premium transactions: real + cert-fallback for uncovered cert") {
    val t = frames("premiums").select(col("cert_id"), col("source"),
      col("amount").cast("double")).as[(Long, String, Double)].collect().toSet
    assert(t == Set((1L, "PREMIUM", 1000.0), (2L, "CERT_FALLBACK", 500.0)))
  }

  test("golden GL: total = premium_total * rate / 100, split 60/40") {
    val gl = Calc.glEntries(fin).select(col("broker_id"), col("amount").cast("double"))
      .as[(String, Double)].collect().groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(gl == Map("P1" -> 90.0, "P2" -> 60.0)) // 1500 * 10% split 60/40
  }

  test("traceability: every premium covered, no missing rates") {
    val premiums = fin.select(col("premium_id")).distinct().count()
    assert(premiums == 2)
    val total = fin.agg(sum(col("commission")).cast("double")).as[Double].head()
    assert(total == 150.0)
    assert(fin.filter(col("rate_source") === "NoRate").isEmpty)
  }

  test("resolution validator: 100% pass rate on the built entities") {
    val validated = ResolutionValidator.validate(
      frames("certs"), frames("configs"), frames("proposals")
        .select(col("group_id"), col("config_hash"), col("proposal_id")),
      frames("splits"), frames("versions"), frames("participants"),
      sampleMod = 1) // sample everything at this scale
    val s = ResolutionValidator.summarize(validated)
    assert(s.sampled == 2, s.toString)
    assert(s.passRate == 1.0, s.toString)
  }

  test("idempotent export: re-running against existing keys appends nothing") {
    val props = frames("proposals")
    val firstExport = Export.upsertCandidates(props,
      existingKeys = props.limit(0), keyCols = Seq("proposal_id"))
    assert(firstExport.count() == props.count())
    val secondExport = Export.upsertCandidates(props,
      existingKeys = firstExport, keyCols = Seq("proposal_id"))
    assert(secondExport.count() == 0) // converged — full-rebuild idempotence (SURVEY §4)
  }

  test("audit invariants all zero") {
    val rep = ProductionReadiness.report(Reference.commissionsChecks(
      frames("proposals"), frames("splits"),
      frames("versions"), frames("participants")))
      .select("check", "n_failing").as[(String, Long)].collect().toMap
    assert(rep.values.forall(_ == 0L), rep.toString)
  }

  test("multi-version succession: a mid-stream structure change switches the resolved version") {
    // slot (G1, seq 1) is occupied by B1 from January, B2 from June —
    // two version islands; premiums before/after the change must resolve
    // to different participants through the calc's as-of join
    val certs = Seq(
      (1L, "G1", 1, 100.0, 1, "B1", "SCHED1", "B1", "PRODA", "*", "2020-01-01"),
      (2L, "G1", 1, 100.0, 1, "B2", "SCHED1", "B2", "PRODA", "*", "2020-06-01"))
      .toDF("cert_id", "group_id", "split_seq", "split_pct", "tier_level", "broker_id",
        "schedule_code", "paid_broker_id", "product_code", "plan_code", "eff_s")
      .withColumn("eff_date", to_date(col("eff_s"))).drop("eff_s")
    val (versions, participants) = Proposals.hierarchyEntitiesVersioned(certs)
    assert(versions.count() == 2)
    val facts = Seq((10L, "2020-03-15"), (11L, "2020-07-15"))
      .toDF("premium_id", "txn_s")
      .withColumn("txn_date", to_date(col("txn_s"))).drop("txn_s")
      .withColumn("hierarchy_id", Proposals.businessHierKey(lit("G1"), lit(1)))
    val resolved = Calc.explodeParticipants(
      Calc.resolveHierarchyVersion(facts, versions), participants)
      .select(col("premium_id"), col("broker_id")).as[(Long, String)].collect().toMap
    assert(resolved == Map(10L -> "B1", 11L -> "B2"))
  }
}
