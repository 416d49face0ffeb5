package graft.tools

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named queries to files — the plan
  * evidence artifact for optimization rounds (plans/rNN/<query>_<tag>.txt).
  *
  * Usage: graft.tools.ExplainDump <outDir> <tag> <sfDir> [query...]
  * (no queries = all). One file per query: <outDir>/<query>_<tag>.txt
  */
object ExplainDump {
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
      Files.write(Paths.get(outDir, s"${name}_$tag.txt"), txt.getBytes("UTF-8"))
      println(s"wrote $name")
      // Mat() inside query builders may persist/localCheckpoint; free it
      graft.Mat.releaseAll(spark)
    }
    spark.stop()
  }
}
