package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The pipeline orchestrator (SURVEY §7.1 module 8): an ordered list of
  * named `DataFrame => DataFrame`-shaped steps — replaces the reference's
  * script-array plan (`scripts/run-pipeline.ts:125-205`). The commissions
  * flagship (`DomainBench.steps`) runs through [[run]].
  *
  * Each step produces named frames into a shared context; steps declare
  * inputs so the DAG stays explicit.
  */
object Pipeline {

  case class Step(
      name: String,
      inputs: Seq[String],
      outputs: Seq[String],
      run: (SparkSession, Map[String, DataFrame]) => Map[String, DataFrame])

  /** Run the steps in order and return every frame they produced. A step
    * whose declared inputs are not all present throws before it runs,
    * naming the step and the missing inputs. */
  def run(spark: SparkSession, steps: Seq[Step]): Map[String, DataFrame] =
    steps.foldLeft(Map.empty[String, DataFrame]) { (ctx, step) =>
      val missing = step.inputs.filterNot(ctx.contains)
      if (missing.nonEmpty)
        throw new IllegalStateException(
          s"step ${step.name}: missing inputs: ${missing.mkString(",")}")
      ctx ++ step.run(spark, ctx)
    }
}
