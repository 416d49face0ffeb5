package graft.tools

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named queries to files — the plan
  * evidence artifact for optimization rounds (plans/rNN/<query>_<tag>.txt).
  *
  * Usage: graft.tools.ExplainDump <outDir> <tag> <sfDir> [query...]
  * (no queries = all). One file per query: <outDir>/<query>_<tag>.txt,
  * with its run-dependent numbers masked ([[mask]]), so two dumps of one
  * build diff empty.
  */
object ExplainDump {
  /** The plan text with its run-dependent numbers masked: expression ids
    * (`#<n>`), exchange plan ids (`[plan_id=<n>]`) and RDD ids
    * (`RDD[<n>]`) count what the JVM built before, and a query's eager
    * `Mat` jobs re-plan under AQE a timing-dependent number of times; a
    * lambda's class and identity hash (`$Lambda$<n>/0x<addr>@<hash>`)
    * differ per JVM. */
  private[tools] def mask(plan: String): String = plan
    .replaceAll("#\\d+", "#_")
    .replaceAll("\\[plan_id=\\d+\\]", "[plan_id=_]")
    .replaceAll("RDD\\[\\d+\\]", "RDD[_]")
    .replaceAll("\\$Lambda[$\\d]*/0x[0-9a-f]+@[0-9a-f]+", "\\$Lambda_")

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val sfDir = args(2)
    val names =
      if (args.length > 3) args.drop(3).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    Files.createDirectories(Paths.get(outDir))
    val spark = graft.GraftSession.getOrCreate("graft-explain")
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      // queryExecution.explainString is what .explain("formatted") prints
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(outDir, s"${name}_$tag.txt"), mask(txt).getBytes("UTF-8"))
      println(s"wrote $name")
      // Mat() inside query builders may persist/localCheckpoint; free it
      graft.Mat.releaseAll(spark)
    }
    spark.stop()
  }
}
