package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of every column of a frame, defined so that
  * DuckDB computes the same value from the same rows (see `digest_sql` in
  * run.py): each value is rendered to a canonical string, the row's
  * strings are joined and md5-hashed, and two 32-bit lanes of the hash are
  * summed over all rows. Numbers of any type render as
  * floor(x * 1e4 + 0.5), the same IEEE double operations in both engines,
  * so integer and floating columns agree and float drift far below the
  * fourth decimal does not change the digest. Dates and timestamps render
  * as epoch microseconds. Columns are taken in name order. */
final case class Digest(columns: Seq[String], rows: Long, laneA: Long, laneB: Long)

object Digest {
  private val Null = lit("\\N")

  private def canon(dt: DataType, c: Column): Column = dt match {
    case _: NumericType =>
      val x = c.cast(DoubleType)
      when(x.isNull, Null)
        .when(isnan(x), lit("nan"))
        .when(abs(x) < 9e11, floor(x * 10000.0 + 0.5).cast(LongType).cast(StringType))
        .when(abs(x) < 9e21,
          concat(lit("e"), floor(x / 1e6 + 0.5).cast(LongType).cast(StringType)))
        .when(x > 0, lit("inf")).otherwise(lit("-inf"))
    case StringType => coalesce(c, Null)
    case BooleanType => when(c.isNull, Null).when(c, lit("t")).otherwise(lit("f"))
    case DateType | TimestampType | TimestampNTZType =>
      coalesce(unix_micros(c.cast(TimestampType)).cast(StringType), Null)
    case BinaryType => coalesce(hex(c), Null)
    // nested types never reach a query's final projection (the oracle
    // gate forbids them); render them anyway so a violation shows up as
    // a digest mismatch, not a crash
    case _ => coalesce(to_json(struct(c)), Null)
  }

  /** The frame that computes the digest; collecting it is the action that
    * produces every output column. */
  def frame(df: DataFrame): (Seq[String], DataFrame) = {
    val named = df.columns.toSeq.zipWithIndex.sortBy { case (n, i) => (n, i) }
    val fields = df.schema.fields
    val renamed = df.toDF(df.columns.indices.map(i => s"__c$i"): _*)
    val parts = named.map { case (_, i) => canon(fields(i).dataType, col(s"__c$i")) }
    val h = md5(concat_ws("|", parts: _*))
    def lane(from: Int) = conv(substring(h, from, 8), 16, 10).cast(LongType)
    val agg = renamed.select(lane(1).as("a"), lane(9).as("b"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("a")), lit(0L)).as("a"),
        coalesce(sum(col("b")), lit(0L)).as("b"))
    (named.map(_._1), agg)
  }
}
