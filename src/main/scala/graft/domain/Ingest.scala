package graft.domain

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.functions.Cleaning
import graft.operators.Routing

/** Raw CSV ingest (SURVEY §2.1 S1/S2/S4/S5).
  *
  * The reference loads CSVs into all-NVARCHAR tables
  * (`scripts/load-csv.ts:191-296`; `sql/01-raw-tables.sql:4-5`), routes
  * files to tables by filename prefix (`scripts/ingest-raw-data.ts`,
  * mapping at `DATA-FLOW-EXPLAINED.md:294-305`), then types everything in
  * one trim+try-cast pass (`sql/02-input-tables.sql:237-267`) with a
  * conformance gate quarantining rows with missing keys (`:319-348`).
  *
  * Here: an all-string CSV read (header on), the same prefix routing map,
  * and a declarative cast pass driven by a (name -> type) spec so the
  * whole thing stays one codegen'd projection over the scan.
  */
object Ingest {

  /** Filename-prefix -> logical table routing
    * (`DATA-FLOW-EXPLAINED.md:294-305`). */
  val tableRouting: Seq[(String, String)] = Seq(
    "CommissionsDetail" -> "raw_commissions_detail",
    "CertificateInfo"   -> "raw_certificate_info",
    "Premiums"          -> "raw_premiums",
    "ScheduleRates"     -> "raw_schedule_rates",
    "PerfGroups"        -> "raw_perf_groups",
    "IndividualBrokers" -> "raw_individual_brokers",
    "OrgBrokers"        -> "raw_org_brokers",
    "Licenses"          -> "raw_licenses",
    "EOInsurance"       -> "raw_eo_insurance",
    "Fees"              -> "raw_fees",
  )

  def routeFile(fileName: String): Option[String] =
    tableRouting.collectFirst {
      case (prefix, table) if fileName.startsWith(prefix) => table
    }

  /** Reason column of a data row whose field count differs from its
    * header's: "<n> fields, header has <m>", null on rows that match. */
  val FieldsReason = "reason_fields"

  /** All-string CSV scan — the raw layer is deliberately untyped
    * (`sql/01-raw-tables.sql:4-5`); typing is a separate, testable pass.
    *
    * Spark keeps a ragged row (more or fewer fields than the header) with
    * its fields cut or null-padded to the header's count. So that such a
    * row cannot pass as clean, a file holding one gains the string column
    * [[FieldsReason]], which [[typedPass]] carries and [[gate]]
    * quarantines on; a file without one reads as the header's columns
    * only. Deciding which costs one scan of the file. (Spark rejects a
    * scan that reads [[FieldsReason]] and no other column.) */
  def readRawCsv(spark: SparkSession, path: String): DataFrame = {
    val reader = spark.read
      .option("header", "true")
      .option("inferSchema", "false") // everything NVARCHAR-equivalent
    val header = reader.csv(path).schema
    val line = "__raw_line" // Spark's corrupt-record column: a ragged row's text
    val nFields = udf((l: String) => splitCsvLine(l).size)
    // columnPruning off: a query reading a few columns still tokenizes the
    // whole line, so the field count is checked under any projection
    val checked = reader.schema(header.add(line, StringType))
      .option("columnNameOfCorruptRecord", line)
      .option("columnPruning", "false")
      .csv(path)
      .withColumn(FieldsReason, when(col(line).isNotNull, concat(
        nFields(col(line)).cast("string"), lit(s" fields, header has ${header.length}"))))
      .drop(line)
    if (checked.filter(col(FieldsReason).isNotNull).head(1).nonEmpty) checked
    else checked.drop(FieldsReason)
  }

  /** Column spec for the typed pass: (rawName, outName, sqlType). A null
    * sqlType keeps the (trimmed) string. */
  type CastSpec = Seq[(String, String, String)]

  /** Typed cast pass (S4): trim + null-empty + try_cast every column
    * (`sql/02-input-tables.sql:237-267`). */
  def typedPass(raw: DataFrame, spec: CastSpec): DataFrame =
    raw.select(spec.map { case (rawName, outName, sqlType) =>
      val cleaned = Cleaning.cleanStr(col(rawName))
      (if (sqlType == null) cleaned else cleaned.try_cast(sqlType)).as(outName)
    } ++ raw.columns.filter(_ == FieldsReason).map(col): _*)

  /** Conformance gate (S5): rows with null required keys -> quarantine
    * with per-column reason flags (`sql/02-input-tables.sql:319-348`).
    * A ragged row ([[FieldsReason]] set) is quarantined too, its reason
    * kept; conformant rows drop the column. */
  def gate(typed: DataFrame, requiredKeys: Seq[String]): (DataFrame, DataFrame) = {
    val (ok, bad) = Routing.conformanceGate(typed, requiredKeys)
    if (!typed.columns.contains(FieldsReason)) (ok, bad)
    else {
      // a ragged row whose keys are present: quarantined for its field count
      val ragged = requiredKeys.foldLeft(ok.filter(col(FieldsReason).isNotNull))(
        (d, c) => d.withColumn(s"reason_$c", lit(false)))
      (ok.filter(col(FieldsReason).isNull).drop(FieldsReason), bad.unionByName(ragged))
    }
  }

  /** Certificate-info spec (`sql/02-input-tables.sql:94-119`). */
  val certificateSpec: CastSpec = Seq(
    ("CertificateId", "cert_id", "bigint"),
    ("GroupId", "group_id", null),
    ("Product", "product_code", null),
    ("PlanCode", "plan_code", null),
    ("CertEffectiveDate", "eff_date", "date"),
    ("CertIssuedState", "state", null),
    ("CertStatus", "cert_status", null),
    ("RecStatus", "rec_status", null),
    ("CertPremium", "premium", "decimal(18,2)"),
    ("CertSplitSeq", "split_seq", "int"),
    ("CertSplitPercent", "split_pct", "decimal(5,2)"),
    ("SplitBrokerSeq", "tier_level", "int"),
    ("SplitBrokerId", "broker_id", null),
    ("PaidBrokerId", "paid_broker_id", null),
    ("CommissionsSchedule", "schedule_code", null),
  )

  /** Active-row predicate (P3): `RecStatus='A' AND CertStatus='A'`
    * (`sql/02-input-tables.sql:266-267`; `proposal-builder.ts:2145-2147`). */
  def activeOnly(typedCerts: DataFrame): DataFrame =
    typedCerts.filter(col("rec_status") === "A" && col("cert_status") === "A")

  // ===== S2: archive ingest with header validation / dry-run =====
  // (`scripts/ingest-raw-data.ts:1-676`). Header work is per-FILE metadata
  // (one line each), so it runs on the driver through the Hadoop FS API —
  // no Spark job; only the actual loads are distributed scans.

  /** Header sanitization (`ingest-raw-data.ts:296-303`): strip BOM, trim,
    * non-[A-Za-z0-9_] -> '_', digit-leading -> "Col_" prefix, empty ->
    * positional "Column<i>". */
  def sanitizeHeader(raw: String, idx: Int): String = {
    var c = raw.stripPrefix("﻿").trim.replaceAll("[^a-zA-Z0-9_]", "_")
    if (c.nonEmpty && c.head.isDigit) c = "Col_" + c
    if (c.isEmpty) s"Column$idx" else c
  }

  /** Case-insensitive header check (`ingest-raw-data.ts:313-327`):
    * `missing` = expected absent from the file (blocks the load);
    * `extra` = file columns beyond the spec (warn-only, like the ref). */
  final case class HeaderValidation(missing: Seq[String], extra: Seq[String]) {
    def valid: Boolean = missing.isEmpty
  }
  def validateHeaders(actual: Seq[String], expected: Seq[String]): HeaderValidation = {
    val actualSet = actual.map(_.toLowerCase).toSet
    val expectedSet = expected.map(_.toLowerCase).toSet
    HeaderValidation(
      missing = expected.filterNot(c => actualSet(c.toLowerCase)),
      extra = actual.filterNot(c => expectedSet(c.toLowerCase)))
  }

  /** Expected raw headers per routed table. Only tables with a typed spec
    * validate; an empty list skips validation (`ingest-raw-data.ts:603-631`). */
  val expectedColumns: Map[String, Seq[String]] = Map(
    "raw_certificate_info" -> certificateSpec.map(_._1)
  ).withDefaultValue(Seq.empty)

  /** Minimal RFC-4180 header-line field split (quotes + embedded commas). */
  private[domain] def splitCsvLine(line: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQ = false
    var i = 0
    while (i < line.length) {
      val ch = line.charAt(i)
      if (inQ) {
        if (ch == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') { cur += '"'; i += 1 }
        else if (ch == '"') inQ = false
        else cur += ch
      } else ch match {
        case '"' => inQ = true
        case ',' => out += cur.result(); cur.clear()
        case c   => cur += c
      }
      i += 1
    }
    out += cur.result()
    out.result()
  }

  /** Whether a partial CSV record ends inside an open quote — i.e. a
    * quoted field containing an embedded newline continues on the next
    * physical line (RFC 4180). Same quote/escape state machine as
    * `splitCsvLine`. */
  private def endsInOpenQuote(s: String): Boolean = {
    var inQ = false
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (inQ) {
        if (ch == '"' && i + 1 < s.length && s.charAt(i + 1) == '"') i += 1
        else if (ch == '"') inQ = false
      } else if (ch == '"') inQ = true
      i += 1
    }
    inQ
  }

  /** First RECORD of a file through whatever FileSystem serves the path
    * (local, HDFS, object store) — metadata-sized driver read, mirroring
    * `readCsvHeaders` (`ingest-raw-data.ts:287-310`). A quoted header
    * field may contain embedded newlines (RFC 4180), so keep appending
    * physical lines while the record ends inside an open quote. */
  def readCsvHeaders(spark: SparkSession, path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try {
      val rd = new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8"))
      val rec = new StringBuilder(Option(rd.readLine()).getOrElse(""))
      var next: String = null
      while (endsInOpenQuote(rec.result()) && { next = rd.readLine(); next != null })
        rec.append('\n').append(next)
      splitCsvLine(rec.result()).zipWithIndex.map { case (h, i) => sanitizeHeader(h, i) }
    } finally in.close()
  }

  /** One row of the ingest plan: where a file routes, its sanitized
    * headers and whether they conform. `reason` is null for loadable
    * files. `path` is the full input path (routing keys on the basename,
    * but two inputs may share a basename across directories — loads must
    * key on the path). */
  final case class IngestAction(
      file: String, path: String, table: Option[String], headers: Seq[String],
      missing: Seq[String], extra: Seq[String], reason: Option[String]) {
    def loadable: Boolean = reason.isEmpty
    def nColumns: Int = headers.size
  }

  /** Dry-run plan (`--dry-run`): route each file by prefix, validate its
    * headers, decide load vs quarantine. Pure metadata — no data scan. */
  def ingestPlan(spark: SparkSession, files: Seq[String]): Seq[IngestAction] =
    files.map { f =>
      val base = f.substring(f.lastIndexOf('/') + 1)
      routeFile(base) match {
        case None =>
          IngestAction(base, f, None, Nil, Nil, Nil, Some("no routing prefix matches"))
        case Some(table) =>
          val headers = readCsvHeaders(spark, f)
          val expected = expectedColumns(table)
          if (expected.isEmpty)
            IngestAction(base, f, Some(table), headers, Nil, Nil, None)
          else {
            val v = validateHeaders(headers, expected)
            val reason =
              if (v.valid) None
              else Some(s"missing columns: ${v.missing.mkString(", ")}")
            IngestAction(base, f, Some(table), headers, v.missing, v.extra, reason)
          }
      }
    }

  /** Execute an ingest plan: all-string CSV reads per loadable file, each
    * renamed to the sanitized headers its validation saw (Spark keeps
    * padding in header names: `"CertificateId "` would pass validation,
    * then fail to resolve or union into a separate column), unioned per
    * target table. Returns the loaded frames plus the quarantine report
    * (file, table, reason) as a DataFrame so DQ failures land in a
    * queryable sink, not a log. */
  def ingestFiles(spark: SparkSession, files: Seq[String])
      : (Map[String, DataFrame], DataFrame) = {
    val plan = ingestPlan(spark, files)
    // Spark's line-based reader splits a header holding a quoted newline
    // into fewer fields than the RFC-4180 header read; such a file would
    // load shifted columns, so it is quarantined like a header mismatch
    val (readable, misread) = plan.filter(_.loadable)
      .map(a => a -> readRawCsv(spark, a.path))
      .partition { case (a, raw) => raw.columns.count(_ != FieldsReason) == a.nColumns }
    val loaded = readable.groupBy(_._1.table.get).map { case (table, reads) =>
      table -> reads.map { case (a, raw) =>
          raw.toDF(a.headers ++ raw.columns.filter(_ == FieldsReason): _*) }
        .reduce(_ unionByName (_, allowMissingColumns = true))
    }
    import spark.implicits._
    val quarantine = (plan.filterNot(_.loadable).map(a => (a.file, a.table.orNull, a.reason.get)) ++
      misread.map { case (a, raw) =>
        (a.file, a.table.orNull,
          s"header read as ${raw.columns.count(_ != FieldsReason)} fields, not ${a.nColumns}")
      }).toDF("file", "table", "reason")
    (loaded, quarantine)
  }
}
