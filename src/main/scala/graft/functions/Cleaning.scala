package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The dirty-data cleaning kit.
  *
  * The reference treats these conventions as semantics, not noise
  * (SURVEY.md §1.3): universal `LTRIM(RTRIM(...))` on every raw string
  * (reference `sql/02-input-tables.sql:239-262`), `NULLIF(x,'')`
  * empty-string-as-null (`sql/02-input-tables.sql:245`), literal `'NULL'`
  * strings as null (`sql/transforms/00-references.sql:220`), plan-code
  * sanitization NULL/''/'NULL'/'N/A' -> `'*'`
  * (`sql/transforms/08-analyze-conformance.sql:37-43`), external broker id
  * `'P13178'` -> internal `13178` (`scripts/proposal-builder.ts:76-81`),
  * group id `'25992'` -> `'G25992'` (`sql/transforms/02-groups.sql:107`).
  *
  * Everything is a pure `Column => Column` so Catalyst folds it into the
  * scan projection — codegen-friendly, no UDFs.
  */
object Cleaning {

  /** Trim + empty-string-as-null: `NULLIF(LTRIM(RTRIM(x)), '')`. */
  def cleanStr(c: Column): Column = {
    val t = trim(c)
    when(t === "", lit(null)).otherwise(t)
  }

  /** Additionally treat the literal strings 'NULL' and 'N/A' as null
    * (reference `NULLIF(..., 'NULL')` in `sql/transforms/13-eo-insurances.sql`). */
  def cleanStrStrict(c: Column): Column = {
    val t = trim(c)
    when(t === "" || upper(t) === "NULL" || upper(t) === "N/A", lit(null))
      .otherwise(t)
  }

  /** Plan/product-code sanitization: null-ish -> the `'*'` wildcard
    * (`sql/transforms/08-analyze-conformance.sql:37-43`). */
  def toWildcard(c: Column): Column = coalesce(cleanStrStrict(c), lit("*"))

  /** `'P13178'` -> 13178L (`scripts/proposal-builder.ts:76-81`). */
  def externalToInternalId(c: Column): Column =
    regexp_replace(trim(c), "^P", "").try_cast("long")

  /** Raw numeric group '25992' -> canonical 'G25992'; already-prefixed ids
    * pass through (`sql/transforms/02-groups.sql:107`). */
  def canonicalGroupId(c: Column): Column = {
    val t = trim(c)
    when(t.rlike("^G"), t).otherwise(concat(lit("G"), t))
  }

  /** Empty GroupId -> the `'00000'` direct-to-consumer sentinel
    * (`sql/transforms/09-policies.sql:47`). */
  def dtcSentinel(c: Column): Column =
    when(cleanStr(c).isNull, lit("00000")).otherwise(trim(c))

  /** MM/DD/YYYY date strings (`TRY_CONVERT(DATETIME2, x, 101)`,
    * `sql/transforms/11-fees.sql`). try_-variant: null on garbage even
    * under ANSI mode (Spark 4 default). */
  def parseUsDate(c: Column): Column =
    try_to_timestamp(cleanStr(c), lit("MM/dd/yyyy")).cast("date")
}
