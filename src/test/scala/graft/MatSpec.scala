package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Materializer contracts across the three modes — above all the r13
  * persist-mode fix: an iterative operator that Mats every round must
  * keep its catalyst plan BOUNDED in rounds (pre-fix, persist nested
  * each round's whole plan inside the next; 30-round compositions blew
  * the heap during analysis at sf0.001 — data had nothing to do with it). */
class MatSpec extends SparkSpec {
  import spark.implicits._

  private def iterate(rounds: Int): (DataFrame, Seq[Int]) = {
    var df = (1 to 64).toDF("v")
    val sizes = (1 to rounds).map { _ =>
      df = Mat(df.withColumn("v", col("v") + 1))
      df.queryExecution.analyzed.collect { case p => p }.size
    }
    (df, sizes)
  }

  private def withMode[A](m: String)(f: => A): A = {
    sys.props("graft.mat") = m
    try f finally sys.props.remove("graft.mat")
  }

  test("persist mode: plan size stays constant across 40 Mat'd rounds") {
    val (df, sizes) = withMode("persist") { iterate(40) }
    // every round's plan is a fresh LogicalRDD leaf + one Project —
    // constant size, no nesting
    assert(sizes.distinct.size == 1, s"plan sizes grew: $sizes")
    assert(df.agg(sum("v")).as[Long].head == (1 to 64).map(_ + 40L).sum)
  }

  test("persist mode preserves correctness for branching consumers") {
    val m = withMode("persist") {
      Mat((1 to 100).toDF("v").withColumn("w", col("v") * 2))
    }
    // two branches of one materialized frame agree with direct compute
    val a = m.agg(sum("v")).as[Long].head
    val b = m.filter(col("w") > 100).count()
    assert(a == 5050L && b == 50L)
  }

  test("components: CC and LPA rows identical across Mat modes") {
    // i -- i % 37: 37 star components rooted at 0..36, so every node's
    // component is node % 37. Persist mode takes connectedComponents'
    // edge-signature path over a persisted frame, none mode its separate
    // signature aggregate; all three must agree row for row.
    val pairs = (1 to 400).map(i => (i.toLong, (i % 37).toLong)).toDF("u", "v")
    def run() = (
      graft.operators.Components.connectedComponents(pairs, "u", "v")
        .collect().toSet,
      graft.operators.Components.labelPropagation(pairs, "u", "v", iters = 3)
        .collect().toSet)
    val (cc, lpa) = run()
    assert(cc.map(r => (r.getLong(0), r.getLong(1))) ==
      (0L to 400L).map(n => (n, n % 37)).toSet)
    for (m <- Seq("persist", "none")) {
      val (ccM, lpaM) = withMode(m)(run())
      assert(ccM == cc, s"connectedComponents diverged in mode $m")
      assert(lpaM == lpa, s"labelPropagation diverged in mode $m")
    }
  }

  test("default (localCheckpoint) and none modes still compute correctly") {
    val (d1, _) = iterate(5) // default
    assert(d1.agg(sum("v")).as[Long].head == (1 to 64).map(_ + 5L).sum)
    val (d2, sizes) = withMode("none") { iterate(5) }
    assert(d2.agg(sum("v")).as[Long].head == (1 to 64).map(_ + 5L).sum)
    // none mode does NOT truncate: plan grows with rounds (the contract
    // that makes it only fit for shallow plans)
    assert(sizes.last > sizes.head)
  }
}
