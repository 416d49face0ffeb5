package graft

import org.apache.spark.sql.types._

/** Driver-gate contract guards (NOTES "Gotchas"): the correctness gate
  * hashes query output after a pandas row-sort, which
  *   - canonicalizes DECIMAL differently per reader (a23/a24 hash-red
  *     rounds 6-8 on bit-identical values), and
  *   - crashes outright on ArrayType sort keys ("unhashable type:
  *     numpy.ndarray" — g_build_proposals, the only red row of round 9).
  * So the FINAL projection of every gate query must be scalar and
  * non-decimal: arrays serialize via array_join, money casts to double.
  * This spec asserts that for all of SparkEntry.queries via schema
  * analysis only (no job execution where avoidable). */
class GateContractSpec extends SparkSpec {

  private def offending(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: MapType | _: StructType => true
    case _: DecimalType                            => true
    case _                                         => false
  }

  test("no query emits array/map/struct/decimal in its final projection") {
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val schema = fn(spark, sf001).schema
      schema.fields.collect {
        case f if offending(f.dataType) => s"$name.${f.name}: ${f.dataType.simpleString}"
      }
    }
    assert(bad.isEmpty, s"gate-unsafe final columns:\n  ${bad.mkString("\n  ")}")
  }

  test("every query has an oracle and every oracle names a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracles without a query: ${(o -- q).toSeq.sorted}")
    // the driver records a weaker rows-only check for missing oracles —
    // keep the set empty so every component has the full hash gate
    assert((q -- o).isEmpty, s"queries without an oracle: ${(q -- o).toSeq.sorted}")
  }

  test("the registry rejects a query name defined twice") {
    val q = SparkEntry.Q("dup_q", (s, _) => s.range(1).toDF(), "SELECT 0 AS id")
    val other = SparkEntry.Q("other_q", q.fn, q.oracle)
    assert(SparkEntry.uniqueNames(Seq(q, other)) == Seq(q, other))
    val e = intercept[IllegalArgumentException] {
      SparkEntry.uniqueNames(Seq(q, other, q.copy(oracle = "SELECT 1 AS id")))
    }
    assert(e.getMessage.contains("dup_q") && !e.getMessage.contains("other_q"), e.getMessage)
  }
}
