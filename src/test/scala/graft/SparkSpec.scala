package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one local SparkSession per suite (lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    // same extensions as the shipped GraftSession config: tests must
    // exercise the native expressions + optimizer rules users get
    .config("spark.sql.extensions", "graft.sql.GraftExtensions")
    // the codegen cache is JVM-wide and sized by the first session, so
    // the specs must size it as GraftSession does
    .config("spark.sql.codegen.cache.maxEntries", GraftSession.CodegenCacheEntries.toString)
    // parquet nanosecond timestamps read as longs, as in GraftSession
    .config(GraftSession.ParquetNanosAsLong._1, GraftSession.ParquetNanosAsLong._2)
    .config("spark.ui.enabled", "false")
    .config("spark.driver.host", "127.0.0.1")
    .getOrCreate()

  def sf001 = "/root/testdata/sf0.001"
}
