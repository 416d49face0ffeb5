package graft.domain

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

class IngestSpec extends SparkSpec {
  import spark.implicits._

  test("filename routing map matches prefixes incl. multi-file globs") {
    assert(Ingest.routeFile("CommissionsDetail_2024_01.csv").contains("raw_commissions_detail"))
    assert(Ingest.routeFile("CertificateInfo.csv").contains("raw_certificate_info"))
    assert(Ingest.routeFile("Unknown.csv").isEmpty)
  }

  test("csv -> all-string raw -> typed pass -> gate, end to end") {
    val dir = Files.createTempDirectory("graft_ingest").toFile
    val csv =
      """CertificateId,GroupId,Product,PlanCode,CertEffectiveDate,CertIssuedState,CertStatus,RecStatus,CertPremium,CertSplitSeq,CertSplitPercent,SplitBrokerSeq,SplitBrokerId,PaidBrokerId,CommissionsSchedule
        |1001, 25992 ,PRODA,PL1,2020-01-15,TX,A,A,1234.56,1,100.00,1, P13178 ,P13178,SCHED1
        |1002,,PRODB,PL2,2020-02-15,CA,A,A,bogus,1,100.00,1,P2,P2,SCHED1
        |1003,G7,PRODC,PL3,2020-03-15,NY,T,A,10.00,1,100.00,1,P3,P3,SCHED1
        |""".stripMargin
    Files.writeString(new java.io.File(dir, "CertificateInfo.csv").toPath, csv)
    val raw = Ingest.readRawCsv(spark, dir.getAbsolutePath)
    assert(raw.schema.fields.forall(_.dataType.typeName == "string")) // raw layer untyped
    val typed = Ingest.typedPass(raw, Ingest.certificateSpec)
    val active = Ingest.activeOnly(typed) // drops 1003 (CertStatus T)
    assert(active.count() == 2)
    val (ok, quarantined) = Ingest.gate(active, Seq("cert_id", "group_id"))
    assert(ok.count() == 1)          // 1002 has empty GroupId -> quarantined
    assert(quarantined.count() == 1)
    val row = ok.select(col("cert_id"), col("group_id"), col("broker_id"),
      col("premium").cast("string")).as[(Long, String, String, String)].collect().head
    assert(row == ((1001L, "25992", "P13178", "1234.56"))) // trimmed + typed
    val badPremium = typed.filter(col("cert_id") === 1002)
      .select(col("premium")).collect().head.isNullAt(0)
    assert(badPremium) // try_cast: 'bogus' -> null, not an error
  }

  test("ragged rows reach the gate quarantined, their field count named") {
    val dir = Files.createTempDirectory("graft_ragged").toFile
    val header = Ingest.certificateSpec.map(_._1).mkString(",")
    Files.writeString(new java.io.File(dir, "CertificateInfo.csv").toPath, Seq(header,
      "1,G1,PRODA,PL1,2020-01-15,TX,A,A,10.00,1,100.00,1,P1,P1,SCHED1,EXTRA",
      "2,G1,PRODA").mkString("\n"))
    val raw = Ingest.readRawCsv(spark, dir.getAbsolutePath)
    val (ok, quarantined) =
      Ingest.gate(Ingest.typedPass(raw, Ingest.certificateSpec), Seq("cert_id", "group_id"))
    assert(ok.count() == 0)
    assert(!ok.columns.contains(Ingest.FieldsReason))
    val q = quarantined.select(col("cert_id"), col(Ingest.FieldsReason))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(q == Seq((1L, "16 fields, header has 15"), (2L, "3 fields, header has 15")))
    // a file without a ragged row reads as its header's columns only
    Files.writeString(new java.io.File(dir, "CertificateInfo.csv").toPath,
      Seq(header, "1,G1,PRODA,PL1,2020-01-15,TX,A,A,10.00,1,100.00,1,P1,P1,SCHED1")
        .mkString("\n"))
    assert(Ingest.readRawCsv(spark, dir.getAbsolutePath).columns.toSeq ==
      Ingest.certificateSpec.map(_._1))
  }

  test("S2 header sanitization mirrors the reference rules") {
    assert(Ingest.sanitizeHeader("﻿ CertificateId ", 0) == "CertificateId")
    assert(Ingest.sanitizeHeader("Cert Premium ($)", 1) == "Cert_Premium____")
    assert(Ingest.sanitizeHeader("2024Amount", 2) == "Col_2024Amount")
    assert(Ingest.sanitizeHeader("  ", 3) == "Column3")
  }

  test("S2 header validation: case-insensitive missing/extra") {
    val v = Ingest.validateHeaders(
      actual = Seq("certificateid", "GROUPID", "Bonus"),
      expected = Seq("CertificateId", "GroupId", "Product"))
    assert(!v.valid)
    assert(v.missing == Seq("Product"))
    assert(v.extra == Seq("Bonus"))
    assert(Ingest.validateHeaders(Seq("A", "b"), Seq("B", "a")).valid)
  }

  test("S2 quoted header line splits on RFC-4180 rules") {
    assert(Ingest.splitCsvLine("""a,"b,c","d""e",f""") == Seq("a", "b,c", "d\"e", "f"))
  }

  test("S2 ingest plan + quarantine over a mixed directory") {
    val dir = Files.createTempDirectory("graft_s2").toFile
    val goodHeader = Ingest.certificateSpec.map(_._1).mkString(",")
    def row(id: Int) =
      s"$id,G1,PRODA,PL1,2020-01-15,TX,A,A,10.00,1,100.00,1,P1,P1,SCHED1"
    // valid cert file (20 rows), cert file missing a required column,
    // a file no prefix routes, and a routed table with no expected-column
    // spec (validation skipped, loads as-is)
    Files.writeString(new java.io.File(dir, "CertificateInfo_a.csv").toPath,
      (goodHeader +: (1 to 20).map(row)).mkString("\n"))
    Files.writeString(new java.io.File(dir, "CertificateInfo_b.csv").toPath,
      "CertificateId,GroupId\n9001,G9")
    Files.writeString(new java.io.File(dir, "Mystery.csv").toPath, "x,y\n1,2")
    Files.writeString(new java.io.File(dir, "Fees_2024.csv").toPath,
      "FeeId,Amount\nF1,10")
    val files = dir.listFiles.map(_.getAbsolutePath).toSeq.sorted

    val plan = Ingest.ingestPlan(spark, files)
    val byFile = plan.map(a => a.file -> a).toMap
    assert(byFile("CertificateInfo_a.csv").loadable)
    assert(byFile("CertificateInfo_a.csv").nColumns == 15)
    val bad = byFile("CertificateInfo_b.csv")
    assert(!bad.loadable && bad.missing.contains("Product")
      && bad.reason.get.startsWith("missing columns"))
    assert(!byFile("Mystery.csv").loadable
      && byFile("Mystery.csv").reason.contains("no routing prefix matches"))
    assert(byFile("Fees_2024.csv").loadable) // empty spec -> skip validation

    val (loaded, quarantine) = Ingest.ingestFiles(spark, files)
    assert(loaded.keySet == Set("raw_certificate_info", "raw_fees"))
    assert(loaded("raw_certificate_info").count() == 20)
    val q = quarantine.orderBy(col("file")).as[(String, String, String)].collect()
    assert(q.map(_._1).toSeq == Seq("CertificateInfo_b.csv", "Mystery.csv"))
    assert(q.head._2 == "raw_certificate_info" && q(1)._2 == null)
  }

  test("two input files sharing a basename across directories both load") {
    val d1 = Files.createTempDirectory("graft_dup1").toFile
    val d2 = Files.createTempDirectory("graft_dup2").toFile
    for (d <- Seq(d1, d2))
      Files.writeString(new java.io.File(d, "Fees_2024.csv").toPath,
        s"FeeId,Amount\nF-${d.getName},10")
    val files = Seq(d1, d2).map(d => new java.io.File(d, "Fees_2024.csv").getAbsolutePath)
    val (loaded, _) = Ingest.ingestFiles(spark, files)
    // before IngestAction carried the full path, the basename-keyed map
    // double-loaded one file and dropped the other (2 rows, 1 distinct)
    val ids = loaded("raw_fees").select(col("FeeId")).as[String].collect().sorted
    assert(ids.toSeq == Seq(s"F-${d1.getName}", s"F-${d2.getName}"))
  }

  test("BOM / padded headers load under the sanitized names validation used") {
    val dir = Files.createTempDirectory("graft_bom").toFile
    val names = Ingest.certificateSpec.map(_._1)
    def row(id: Int) =
      s"$id,G1,PRODA,PL1,2020-01-15,TX,A,A,10.00,1,100.00,1,P1,P1,SCHED1"
    // Spark strips the BOM but keeps the padding: the raw column would be
    // "CertificateId ", which passes validation (sanitized) but neither
    // resolves in the typed pass nor unions with the clean file's column
    Files.writeString(new java.io.File(dir, "CertificateInfo_padded.csv").toPath,
      (("\uFEFF" + names.map(n => s"$n ").mkString(",")) +: Seq(row(1), row(2))).mkString("\n"))
    Files.writeString(new java.io.File(dir, "CertificateInfo_clean.csv").toPath,
      (names.mkString(",") +: Seq(row(3), row(4))).mkString("\n"))
    val files = dir.listFiles.map(_.getAbsolutePath).toSeq.sorted
    assert(Ingest.ingestPlan(spark, files).forall(_.loadable))
    val (loaded, _) = Ingest.ingestFiles(spark, files)
    val raw = loaded("raw_certificate_info")
    assert(raw.columns.toSeq == names, raw.columns.mkString(","))
    val typed = Ingest.typedPass(raw, Ingest.certificateSpec)
      .select(col("cert_id"), col("group_id")).as[(Long, String)].collect().sorted
    assert(typed.toSeq == (1L to 4L).map(i => (i, "G1")))
  }

  test("a header Spark's line reader splits differently is quarantined, not loaded") {
    val dir = Files.createTempDirectory("graft_split_hdr").toFile
    val f = new java.io.File(dir, "Fees_multi.csv")
    // Spark reads the header as FeeId|Amount and the rows as shifted
    // fragments; the RFC-4180 header read finds three fields
    Files.writeString(f.toPath, "FeeId,\"Amount\nUSD\",Status\nF1,10,A")
    val (loaded, quarantine) = Ingest.ingestFiles(spark, Seq(f.getAbsolutePath))
    assert(loaded.isEmpty, loaded.keySet)
    assert(quarantine.as[(String, String, String)].collect().toSeq ==
      Seq(("Fees_multi.csv", "raw_fees", "header read as 2 fields, not 3")))
  }

  test("readCsvHeaders honors RFC-4180 quoted newlines in header fields") {
    val dir = Files.createTempDirectory("graft_hdr").toFile
    val f = new java.io.File(dir, "Fees_multi.csv")
    Files.writeString(f.toPath, "FeeId,\"Amount\nUSD\",Status\nF1,10,A")
    val h = Ingest.readCsvHeaders(spark, f.getAbsolutePath)
    assert(h.size == 3, h)
    assert(h(1).contains("Amount"), h)
  }

  test("committed s1 fixture: CSV tokenization matches the raw parquet twin") {
    // The s1_csv_ingest oracle reads fixtures/s1_cert_raw.parquet (a
    // committed python-csv+pyarrow tokenization of fixtures/s1_cert.csv,
    // regen via tools/gen_s1_fixture.py) so the DuckDB gate is independent
    // of the oracle engine's CSV sniffer. Because the twin is written by a
    // NON-Spark tokenizer, this assertion independently verifies Spark's
    // CSV parse of the committed bytes, cell for cell (padding kept,
    // quoted commas unwrapped, empties as null).
    val root = sys.env.getOrElse("SPARK_GRAFT_REPO_DIR", sys.props("user.dir"))
    val csv = Ingest.readRawCsv(spark, s"$root/fixtures/s1_cert.csv")
    val twin = spark.read.parquet(s"$root/fixtures/s1_cert_raw.parquet")
    assert(csv.schema.fieldNames.toSeq == twin.schema.fieldNames.toSeq)
    assert(csv.count() == 1500 && twin.count() == 1500)
    assert(csv.exceptAll(twin).isEmpty && twin.exceptAll(csv).isEmpty)
  }
}
