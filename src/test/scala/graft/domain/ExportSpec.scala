package graft.domain

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Export breadth as config: every production target table from the
  * reference's export-script surface rides the same upsertCandidates
  * pattern. This spec drives the FULL registry — each table's synthetic
  * source round-trips idempotently on its own natural key (first run
  * appends all, second run appends nothing). */
class ExportSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame

  // synthetic source: 10 rows keyed by the target's natural key columns,
  // one payload column; key values collide across no rows
  private def synthSource(t: Export.ExportTarget): DataFrame = {
    import spark.implicits._
    val rows = (1 to 10).map(i => (i.toString, s"k$i", i, s"p$i"))
    val df = rows.toDF("__a", "__b", "__c", "payload")
    t.keyCols.zipWithIndex.foldLeft(df) { case (d, (k, idx)) =>
      d.withColumn(k, idx match {
        case 0 => col("__a")
        case 1 => col("__b")
        case _ => col("__c")
      })
    }.select(t.keyCols.map(col) :+ col("payload"): _*)
  }

  test("all reference export targets are enumerated (38 tables, unique)") {
    assert(Export.targets.size == 38)
    assert(Export.targets.map(_.table).distinct.size == 38)
    assert(Export.targets.forall(_.keyCols.nonEmpty))
  }

  test("every target round-trips idempotently on its natural key") {
    for (t <- Export.targets) {
      val src = synthSource(t)
      val empty = src.limit(0)
      val first = Export.upsertCandidates(src, empty, t.keyCols)
      assert(first.count() == 10, s"${t.table}: first run must append all")
      // sink now holds the first run's rows; a re-run appends nothing
      val second = Export.upsertCandidates(src, first, t.keyCols)
      assert(second.count() == 0, s"${t.table}: second run must append nothing")
      // partial sink: only the missing keys append
      val partial = Export.upsertCandidates(src, first.limit(6), t.keyCols)
      assert(partial.count() == 4, s"${t.table}: delta run appends the gap")
    }
  }
}
