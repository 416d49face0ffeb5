package graft.pipeline

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The pipeline orchestrator (SURVEY §7.1 module 8): an ordered registry
  * of named `DataFrame => DataFrame`-shaped steps with a run ledger —
  * replaces the reference's script-array plan
  * (`scripts/run-pipeline.ts:125-205`) and state manager
  * (`scripts/lib/state-manager.ts`, `sql/00a-state-management-tables.sql`).
  * The commissions flagship (`DomainBench.steps`) runs through [[Runner]].
  *
  * Each step produces named frames into a shared context; steps declare
  * inputs so the DAG stays explicit. Resume = skip steps whose outputs
  * are already present (the reference re-runs incomplete steps,
  * `run-pipeline.ts:618-657`). `--skip-*`/`--limit` CLI semantics map to
  * `run(skip)` and [[Debug]]`.limit`.
  */
object Pipeline {

  case class Step(
      name: String,
      inputs: Seq[String],
      outputs: Seq[String],
      run: (SparkSession, Map[String, DataFrame]) => Map[String, DataFrame])

  /** The reference's debug levers (`scripts/run-pipeline.ts:49-116`,
    * `proposal-builder.ts:2089-2091`): `limit` caps rows at the LOAD
    * steps (steps with no declared inputs, where the reference applies
    * its `TOP N`); `groups` restricts every produced frame that carries
    * `groupCol` to the named group ids — the whole downstream DAG then
    * runs on the slice, which is how a single problem group is debugged
    * at full pipeline fidelity. `materializeDir` writes every produced
    * frame to parquet and re-reads it (the reference's inspectable
    * work/prestage tables, `sql/00-prestage-tables.sql`) — downstream
    * steps then run from the materialized copy, so a failed run leaves
    * every intermediate on disk for inspection. */
  case class Debug(
      limit: Option[Int] = None,
      groups: Set[String] = Set.empty,
      groupCol: String = "group_id",
      materializeDir: Option[String] = None)

  sealed trait StepStatus
  case object Completed extends StepStatus
  case object Skipped extends StepStatus
  case class Failed(error: String) extends StepStatus

  case class LedgerEntry(step: String, status: StepStatus, millis: Long)

  class Runner(spark: SparkSession, steps: Seq[Step], debug: Debug = Debug()) {
    private val ctx = mutable.LinkedHashMap.empty[String, DataFrame]
    private val ledger = mutable.ArrayBuffer.empty[LedgerEntry]

    private def applyDebug(df: DataFrame, isLoadStep: Boolean): DataFrame = {
      import org.apache.spark.sql.functions.col
      val filtered =
        if (debug.groups.nonEmpty && df.columns.contains(debug.groupCol))
          df.filter(col(debug.groupCol).isin(debug.groups.toSeq: _*))
        else df
      if (isLoadStep) debug.limit.fold(filtered)(filtered.limit) else filtered
    }

    def withInput(name: String, df: DataFrame): this.type = { ctx(name) = df; this }

    def frames: Map[String, DataFrame] = ctx.toMap
    def runLedger: Seq[LedgerEntry] = ledger.toSeq

    /** Run all steps in order; `skip` names are recorded but not run;
      * steps whose outputs all exist already (resume) are skipped. */
    def run(skip: Set[String] = Set.empty, failFast: Boolean = true): this.type = {
      steps.foreach { step =>
        val t0 = System.nanoTime()
        if (skip.contains(step.name) || step.outputs.forall(ctx.contains)) {
          ledger += LedgerEntry(step.name, Skipped, 0L)
        } else {
          val missing = step.inputs.filterNot(ctx.contains)
          if (missing.nonEmpty) {
            val entry = LedgerEntry(step.name, Failed(s"missing inputs: ${missing.mkString(",")}"), 0L)
            ledger += entry
            if (failFast) throw new IllegalStateException(entry.toString)
          } else {
            try {
              val out = step.run(spark, ctx.toMap)
              out.foreach { case (k, v) =>
                val framed = applyDebug(v, isLoadStep = step.inputs.isEmpty)
                ctx(k) = debug.materializeDir match {
                  case Some(dir) =>
                    val path = s"$dir/${step.name}__$k"
                    framed.write.mode("overwrite").parquet(path)
                    spark.read.parquet(path)
                  case None => framed
                }
              }
              ledger += LedgerEntry(step.name, Completed, (System.nanoTime() - t0) / 1000000)
            } catch {
              case e: Exception if !failFast =>
                ledger += LedgerEntry(step.name, Failed(e.getMessage), (System.nanoTime() - t0) / 1000000)
            }
          }
        }
      }
      this
    }
  }
}
