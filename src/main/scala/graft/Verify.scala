package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Optional comma-separated filter for fast local iteration on a
    // single query (same contract as Bench's SPARK_GRAFT_ONLY); an
    // unknown name fails here, before the session starts.
    val selected = SparkEntry.select(sys.env.get("SPARK_GRAFT_ONLY"))
    // same session config as Bench/ExplainDump (AQE, UTC, extensions):
    // correctness must be measured under the configuration we ship
    val spark = GraftSession.getOrCreate("graft-verify")
    val failed = dump(spark, sfDir, outDir, selected)
    println(s"""{"n_failed":${failed.size}}""")
    spark.stop()
  }

  /** Dump each selected query to `outDir/<name>` as parquet, then write
    * `oracle_sql.json` (the selection's oracles) and `failed.json`.
    * Returns the names of the queries that threw. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      selected: Map[String, (SparkSession, String) => DataFrame]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    // queries that threw: their dump is deleted, so a stale one left in a
    // reused outDir cannot compare as current, and they are named in
    // failed.json and counted on stdout
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name
        val dump = new org.apache.hadoop.fs.Path(s"$outDir/$name")
        dump.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dump, true)
      }
      Mat.releaseAll(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // On a partial selection, restrict the oracle dump to the selected
    // names: otherwise a reused outDir holds stale dumps that compare as
    // current, and a fresh one reports every unselected query as missing —
    // either way a partial run could masquerade as the full gate.
    val selectedNames = selected.keySet
    if (selectedNames.size < SparkEntry.queries.size)
      System.err.println(
        s"[verify] PARTIAL run (${selectedNames.size}/${SparkEntry.queries.size} queries); oracle_sql.json restricted to the selection")
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selectedNames(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/failed.json"),
      failed.map(q).mkString("[", ",", "]"))
    failed.toSeq
  }
}
