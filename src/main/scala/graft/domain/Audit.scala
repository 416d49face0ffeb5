package graft.domain

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Data-quality audit (`sql/transforms/99-audit-and-cleanup.sql`): the
  * one-pass column profile of an input.
  */
object Audit {

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
}
