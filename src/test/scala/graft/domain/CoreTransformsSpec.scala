package graft.domain

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CoreTransformsSpec extends SparkSpec {
  import spark.implicits._

  test("brokers: roster union + placeholder generation for unknown cert brokers") {
    val ind = Seq(("P1", "Alice", "Active"), ("P2", "Bob", "Terminated Residuals"))
      .toDF("PartyUniqueId", "Name", "CurrentStatus")
    val org = Seq(("P3", "Acme Inc", "Active")).toDF("PartyUniqueId", "Name", "CurrentStatus")
    val certBrokers = Seq("P1", "P9").toDF("broker_id") // P9 unknown
    val got = CoreTransforms.brokers(ind, org, certBrokers)
      .select(col("broker_ext_id"), col("status"), col("broker_type"), col("broker_id"))
      .as[(String, String, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("P1") == (("ACTIVE", "INDIVIDUAL", 1L)))
    assert(got("P2") == (("TERMINATED_RESIDUALS", "INDIVIDUAL", 2L)))
    assert(got("P3") == (("ACTIVE", "ORGANIZATION", 3L)))
    assert(got("P9") == (("PLACEHOLDER", "PLACEHOLDER", 9L)))
  }

  test("groups: fallback chains perf > premium > cert; canonical ids; DTC sentinel") {
    val cg = Seq(("25992", "Cert Name", "TX"), ("", "DTC Cert", "CA"))
      .toDF("group_id_raw", "name", "state")
    val pg = Seq(("25992", "Prem Name")).toDF("group_id_raw", "name")
    val fg = Seq(("25992", "Perf Name", "NY", 50)).toDF("group_id_raw", "name", "state", "group_size")
    val got = CoreTransforms.groups(cg, pg, fg)
      .select(col("group_id"), col("name"), col("state"))
      .as[(String, String, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("G25992") == (("Perf Name", "NY"))) // perf wins
    assert(got("G00000") == (("DTC Cert", "CA")))  // sentinel + cert fallback
  }

  test("schedule-rate unpivot: Year1..Year99 wide columns -> rows with coverage class") {
    val wide = Seq(("S1", "lvl", "5.0", "0", "")).toDF("sched", "Level", "Year1", "Year2", "Year3")
      .withColumn("Year4", lit(null).cast("string"))
    val cols = Seq("Year1", "Year2", "Year3", "Year4")
    // use a narrowed unpivot through the same stack mechanism
    val stackExpr = cols.map(y => s"'${y.stripPrefix("Year")}', try_cast(`$y` as decimal(9,4))").mkString(", ")
    val rows = wide.selectExpr("sched", "Level", s"stack(${cols.size}, $stackExpr) as (year_key, rate)")
      .withColumn("coverage_class",
        when(col("rate").isNotNull && col("rate") =!= 0, "HEAPED")
          .when(col("Level").isNotNull && trim(col("Level")) =!= "", "LEVEL_ONLY")
          .otherwise("ZERO"))
      .select(col("year_key"), col("rate").cast("string"), col("coverage_class"))
      .as[(String, String, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rows("1") == (("5.0000", "HEAPED")))
    assert(rows("2") == (("0.0000", "LEVEL_ONLY")))
    assert(rows("3")._2 == "LEVEL_ONLY") // '' -> null rate, Level present
    assert(rows("4")._2 == "LEVEL_ONLY")
  }

  test("license flags: status decode + Y/true boolean coercion") {
    val lic = Seq(("Active", "Y"), ("Inactive", "true"), ("Weird", "N"))
      .toDF("status", "IsResidenceLicense")
    val got = CoreTransforms.parseLicenseFlags(lic)
      .select(col("status_code"), col("is_residence")).as[(String, Boolean)].collect().toSeq
    assert(got == Seq(("A", true), ("I", true), ("U", false)))
  }

  test("EO insurances: literal NULL strings nulled, typed dates/amounts") {
    val raw = Seq(
      ("P1", "Acme", "POL1", "2020-01-01", "NULL", "100000.00"),
      ("NULL", "NULL", "N/A", "bogus", "2021-01-01", "x"))
      .toDF("PartyUniqueId", "CarrierName", "PolicyId", "FromDate", "ToDate", "CoverageAmount")
    val got = CoreTransforms.eoInsurances(raw)
      .select(col("broker_ext_id"), col("carrier"), col("from_date").cast("string"),
        col("to_date").cast("string"), col("coverage_amount").cast("string"))
      .as[(Option[String], Option[String], Option[String], Option[String], Option[String])]
      .collect().toSeq
    assert(got(0) == ((Some("P1"), Some("Acme"), Some("2020-01-01"), None, Some("100000.00"))))
    assert(got(1) == ((None, None, None, Some("2021-01-01"), None)))
  }

  test("fee method canonicalization: six methods + OTHER_FEE fallback") {
    val got = Seq("PctPrem", "PEPM", "weird").toDF("m")
      .select(CoreTransforms.canonicalFeeMethod(col("m"))).as[String].collect()
    assert(got.toSeq == Seq("PERCENT_OF_PREMIUM", "PER_EMPLOYEE_PER_MONTH", "OTHER_FEE"))
  }

  test("fees: date parsing, canonical method, natural-key id") {
    val raw = Seq(
      ("100", "CAT1", "M", "0.030", "PCT", "01/15/2020", "12/31/2020", "PctPrem", "BROKER", "P1"),
      ("200", "CAT2", "A", "bogus", "FLAT", "bad-date", "", "weird", "OTHER", "NULL"))
      .toDF("PRDNUM", "PRODUCTCAT", "FREQ", "FormattedAmount", "AMTKIND",
        "DATESTART", "DATEEND", "FEECALCMETHOD", "FEETYPE", "PartyUniqueId")
    val got = CoreTransforms.fees(raw)
      .select(col("fee_id"), col("amount").cast("string"), col("fee_method"),
        col("date_start").cast("string"))
      .as[(String, Option[String], String, Option[String])].collect()
    assert(got(0) == (("FEE-100-PERCENT_OF_PREMIUM-20200115",
      Some("0.0300"), "PERCENT_OF_PREMIUM", Some("2020-01-15"))))
    assert(got(1)._2.isEmpty && got(1)._3 == "OTHER_FEE" && got(1)._4.isEmpty)
  }

  test("products: ordered AllowedStates aggregation + distinct group counts") {
    val rows = Seq(
      ("CAT1", "A", "TX", "G1"), ("CAT1", "A", "CA", "G2"), ("CAT1", "A", "TX", "G1"),
      ("CAT1", "B", "", "G1"),   // empty state -> empty AllowedStates
      ("", "X", "TX", "G1"),     // empty category -> dropped
      ("CAT2", "", "TX", "G1"))  // empty code -> dropped
      .toDF("product_category", "product_code", "state", "group_id")
    val got = CoreTransforms.products(rows)
      .select(col("product_category"), col("product_code"), col("groups_count"),
        col("allowed_states"), col("id"))
      .as[(String, String, Long, String, Long)].collect().toSet
    assert(got == Set(("CAT1", "A", 2L, "CA,TX", 1L), ("CAT1", "B", 1L, "", 2L)))
  }

  test("bankingInfos: gates, truncation, decode, individual-beats-org") {
    val ind = Seq(
      ("P1", "123456789012", "ACCT-1-WAY-TOO-LONG-FOR-17", "checking acct", "Ann", "Lee"),
      ("P2", "  ", "A2", "Savings", "Bo", null),            // blank routing -> dropped
      ("P3X", "999", "A3", "C", "Cy", "Dee"),               // bad id -> dropped
      ("P4", "888", "A4", "corp", "Eve", null))             // lastname null -> no space
      .toDF("PartyUniqueId", "BankRoutingNumber", "AccountNumber", "AccountType",
        "IndividualFirstName", "IndividualLastName")
    val org = Seq(
      ("P1", "777", "O1", "Corporate", "MegaCorp"),         // collides with ind P1 -> dropped
      ("P9", "666", "O9", "savings", "OrgNine"))
      .toDF("PartyUniqueId", "BankRoutingNumber", "AccountNumber", "AccountType",
        "OrganizationName")
    val got = CoreTransforms.bankingInfos(ind, org)
      .select(col("broker_id"), col("routing_number"), col("account_number"),
        col("account_type"), col("account_holder_name"), col("notes"))
      .as[(Long, String, String, String, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet == Set(1L, 4L, 9L))
    assert(got(1L)._2 == "123456789")                        // 9-char routing
    assert(got(1L)._3 == "ACCT-1-WAY-TOO-LO")                // 17-char account
    assert(got(1L)._4 == "Checking" && got(1L)._5 == "Ann Lee")
    assert(got(4L)._4 == "Checking" && got(4L)._5 == "Eve")  // 'corp' -> C*; no space
    assert(got(9L)._4 == "Savings" && got(9L)._5 == "OrgNine")
    assert(got(9L)._6.contains("raw_org1") && got(1L)._6.contains("raw_individual"))
  }
}
