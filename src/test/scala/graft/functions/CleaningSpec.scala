package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CleaningSpec extends SparkSpec {
  import spark.implicits._

  test("cleanStr trims and nulls empties") {
    val got = Seq("  x  ", "   ", "", "y").toDF("c")
      .select(Cleaning.cleanStr(col("c"))).as[Option[String]].collect()
    assert(got.toSeq == Seq(Some("x"), None, None, Some("y")))
  }

  test("cleanStrStrict also nulls literal NULL / N/A") {
    val got = Seq("NULL", "null", "N/A", "ok").toDF("c")
      .select(Cleaning.cleanStrStrict(col("c"))).as[Option[String]].collect()
    assert(got.toSeq == Seq(None, None, None, Some("ok")))
  }

  test("toWildcard maps null-ish to *") {
    val got = Seq(Some("NULL"), Some(""), None, Some("P12")).toDF("c")
      .select(Cleaning.toWildcard(col("c"))).as[String].collect()
    assert(got.toSeq == Seq("*", "*", "*", "P12"))
  }

  test("broker id round-trip P13178 <-> 13178") {
    val got = Seq(" P13178 ", "13178").toDF("c")
      .select(Cleaning.externalToInternalId(col("c"))).as[Option[Long]].collect()
    assert(got.toSeq == Seq(Some(13178L), Some(13178L)))
    // the external form is 'P' + the internal id; parsing it gives the id back
    val back = Seq(13178L).toDF("c")
      .select(Cleaning.externalToInternalId(concat(lit("P"), col("c").cast("string"))))
      .as[Long].collect()
    assert(back.toSeq == Seq(13178L))
  }

  test("group id canonicalization") {
    val got = Seq("25992", "G25992", "00000", "", "G0000", "G7").toDF("c")
      .select(Cleaning.canonicalGroupId(col("c"))).as[String].collect().toSeq
    assert(got == Seq("G25992", "G25992", "G00000", "G", "G0000", "G7"))
  }

  test("US date parsing MM/DD/YYYY") {
    val got = Seq("01/31/2024", "bogus").toDF("c")
      .select(Cleaning.parseUsDate(col("c")).cast("string")).as[Option[String]].collect()
    assert(got.toSeq == Seq(Some("2024-01-31"), None))
  }
}
