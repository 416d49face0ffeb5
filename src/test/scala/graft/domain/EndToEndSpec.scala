package graft.domain

import graft.SparkSpec
import graft.pipeline.Pipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The minimum end-to-end slice (SURVEY §7.2): raw CSV -> typed ingest ->
  * proposal inference (fused hashing) -> versioned splits/hierarchies -> premium
  * transactions (with cert fallback) -> 8-stage calc -> GL + audit.
  * Wired through the Pipeline orchestrator. Golden: GL total =
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

  private def steps(csvDir: String): Seq[Pipeline.Step] = Seq(
    Pipeline.Step("ingest", Nil, Seq("certs"), (s: SparkSession, _) => {
      val typed = Ingest.activeOnly(
        Ingest.typedPass(Ingest.readRawCsv(s, csvDir), Ingest.certificateSpec))
      val (ok, _) = Ingest.gate(typed, Seq("cert_id", "group_id"))
      Map("certs" -> ok)
    }),
    // the hashing and versioned hierarchy flow the flagship ships
    // (DomainBench.glInputs): one fused hash aggregate, split rows
    // exploded back out of it
    Pipeline.Step("hashes", Seq("certs"), Seq("hier_hashes", "configs"), (_, ctx) => {
      val fused = Proposals.fusedHashes(ctx("certs"))
      val cfg = Proposals.routeGroups(Proposals.flagNonConformant(fused.select(
        col("cert_id"), col("group_id"), col("config_hash"), col("total_split_pct"),
        col("n_splits"))))
      Map("hier_hashes" -> Proposals.fusedSplitRows(fused), "configs" -> cfg)
    }),
    Pipeline.Step("proposals", Seq("configs", "certs", "hier_hashes"),
      Seq("proposals", "splits", "versions", "participants"), (_, ctx) => {
        val props = Proposals.normalizeDateRanges(
          Proposals.buildProposals(ctx("configs"), ctx("certs")))
        val splits = Proposals.splitConfigsVersioned(props, ctx("configs"), ctx("hier_hashes"))
        val (versions, participants) = Proposals.hierarchyEntitiesVersioned(ctx("certs"))
        Map("proposals" -> props, "splits" -> splits,
          "versions" -> versions, "participants" -> participants)
      }),
    Pipeline.Step("premiums", Seq("certs"), Seq("txns"), (s: SparkSession, ctx) => {
      import s.implicits._
      val real = Seq((100L, 1L, "25992", 1000.0, java.sql.Date.valueOf("2020-06-15")))
        .toDF("premium_id", "cert_id", "group_id", "amount", "txn_date")
      val certLevel = ctx("certs").groupBy(col("cert_id"))
        .agg(first(col("group_id")).as("group_id"), first(col("premium")).as("premium"),
          first(col("eff_date")).as("eff_date"))
      Map("txns" -> PostTransforms.premiumTransactions(real, certLevel))
    }),
    Pipeline.Step("calc", Seq("txns", "certs", "proposals", "splits", "versions", "participants"),
      Seq("final", "gl"), (s: SparkSession, ctx) => {
        import s.implicits._
        val calcCerts = ctx("certs").groupBy(col("cert_id"))
          .agg(first(col("group_id")).as("group_id"), first(col("state")).as("state"),
            first(col("product_code")).as("product_code"), first(col("plan_code")).as("plan_code"))
          .withColumn("group_size", lit(null).cast("int"))
          .withColumn("real_rate", lit(null).cast("double"))
        val rates = Seq(("SCHED1", "*", "*",
          null.asInstanceOf[java.lang.Integer], null.asInstanceOf[java.lang.Integer], 10.0))
          .toDF("schedule_code", "product_code", "state", "size_from", "size_to", "rate")
        val assignments = Seq.empty[(String, String, Double, java.sql.Date, java.sql.Date)]
          .toDF("broker_id", "recipient_id", "assigned_pct", "eff_from", "eff_to")
        val txns = ctx("txns").select(col("txn_id").as("premium_id"), col("cert_id"),
          col("group_id"), col("amount"), col("txn_date"))
        // proposal frame for the calc as-of join: canonical group id back to raw
        val props = ctx("proposals").select(col("proposal_id"),
          regexp_replace(col("group_id"), "^G", "").as("group_id"),
          col("eff_from").cast("date").as("eff_from"), col("eff_to").cast("date").as("eff_to"))
        val fin = Calc.run(Calc.CalcInputs(txns, calcCerts, props, ctx("splits"),
          ctx("versions"), ctx("participants"), rates, assignments))
        Map("final" -> fin, "gl" -> Calc.glEntries(fin))
      }),
  )

  lazy val run = new Pipeline.Runner(spark, steps(writeFixtureCsv())).run()

  test("pipeline completes every step") {
    assert(run.runLedger.map(_.status).forall(_ == Pipeline.Completed))
  }

  test("proposal inference: one proposal, 60/40 splits, two hierarchies") {
    assert(run.frames("proposals").count() == 1)
    val s = run.frames("splits").select(col("split_pct").cast("double")).as[Double]
      .collect().sorted.toSeq
    assert(s == Seq(40.0, 60.0))
    assert(run.frames("versions").count() == 2)
    assert(run.frames("participants").count() == 2)
  }

  test("premium transactions: real + cert-fallback for uncovered cert") {
    val t = run.frames("txns").select(col("cert_id"), col("source"),
      col("amount").cast("double")).as[(Long, String, Double)].collect().toSet
    assert(t == Set((1L, "PREMIUM", 1000.0), (2L, "CERT_FALLBACK", 500.0)))
  }

  test("golden GL: total = premium_total * rate / 100, split 60/40") {
    val gl = run.frames("gl").select(col("broker_id"), col("amount").cast("double"))
      .as[(String, Double)].collect().groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(gl == Map("P1" -> 90.0, "P2" -> 60.0)) // 1500 * 10% split 60/40
  }

  test("traceability: every premium covered, no missing rates") {
    val t = Calc.traceability(run.frames("final"))
      .select(col("premium_id"), col("total_commission").cast("double"), col("has_missing_rate"))
      .as[(String, Double, Int)].collect()
    assert(t.length == 2)
    assert(t.map(_._2).sum == 150.0)
    assert(t.forall(_._3 == 0))
  }

  test("resolution validator: 100% pass rate on the built entities") {
    val hh = Proposals.hierarchyHashes(run.frames("certs"))
    val validated = ResolutionValidator.validate(
      run.frames("certs"), run.frames("configs"), run.frames("proposals")
        .select(col("group_id"), col("config_hash"), col("proposal_id")),
      run.frames("splits"), run.frames("versions"), run.frames("participants"),
      sampleMod = 1) // sample everything at this scale
    val s = ResolutionValidator.summarize(validated)
    assert(s.sampled == 2, s.toString)
    assert(s.passRate == 1.0, s.toString)
  }

  test("idempotent export: re-running against existing keys appends nothing") {
    val props = run.frames("proposals")
    val firstExport = Export.exportSet(props,
      existingKeys = props.limit(0), keyCols = Seq("proposal_id"))
    assert(firstExport.count() == props.count())
    val secondExport = Export.exportSet(props,
      existingKeys = firstExport, keyCols = Seq("proposal_id"))
    assert(secondExport.count() == 0) // converged — full-rebuild idempotence (SURVEY §4)
  }

  test("audit invariants all zero") {
    val rep = ProductionReadiness.report(Audit.commissionsChecks(
      run.frames("proposals"), run.frames("splits"),
      run.frames("versions"), run.frames("participants")))
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
