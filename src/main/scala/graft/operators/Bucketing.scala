package graft.operators

import org.apache.spark.sql.DataFrame

/** Bucketed-table helpers: pre-shuffle once at write time so repeated
  * joins/aggregations on the bucket key run with ZERO exchanges.
  *
  * This is the 100 TB answer to the reference's nonclustered indexes
  * (`sql/01-raw-tables.sql:49,114-118`, SURVEY §4): the big facts
  * (certificates, premiums) bucketed by their join key (cert_id /
  * group_id) make every calc-stage join a local zip of co-located
  * buckets. Requires `saveAsTable` (bucket metadata lives in the
  * catalog).
  */
object Bucketing {

  /** Write `df` as a bucketed (and optionally sorted) table. Idempotent
    * across sessions: a stale warehouse directory from a previous JVM
    * (no catalog entry, location on disk) is cleared first — otherwise
    * saveAsTable fails with LOCATION_ALREADY_EXISTS. */
  def writeBucketed(
      df: DataFrame, table: String, bucketCol: String, nBuckets: Int,
      sortCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.conf.warehousePath, table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    val w = df.write.mode("overwrite").bucketBy(nBuckets, bucketCol)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet")
      .saveAsTable(table)
  }
}
