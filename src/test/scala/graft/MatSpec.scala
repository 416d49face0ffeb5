package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Materializer contracts across the two modes — above all the r13
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
    // edge-signature path over a persisted frame; both modes must agree
    // row for row.
    val pairs = (1 to 400).map(i => (i.toLong, (i % 37).toLong)).toDF("u", "v")
    def run() = (
      graft.operators.Components.connectedComponents(pairs, "u", "v")
        .collect().toSet,
      graft.operators.Components.labelPropagation(pairs, "u", "v", iters = 3)
        .collect().toSet)
    val (cc, lpa) = run()
    assert(cc.map(r => (r.getLong(0), r.getLong(1))) ==
      (0L to 400L).map(n => (n, n % 37)).toSet)
    val (ccP, lpaP) = withMode("persist")(run())
    assert(ccP == cc, "connectedComponents diverged in persist mode")
    assert(lpaP == lpa, "labelPropagation diverged in persist mode")
  }

  test("dedup, triangle and global-rank operators: rows identical across Mat modes") {
    // each operator materializes its fan-in frame through Mat; default
    // and persist mode must agree row for row, on non-empty results
    import graft.operators.{Components, Dedup, Stats}
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog by the river today",
      2L -> "the quick brown fox jumps over the lazy cat by the river today",
      3L -> "a quick brown fox jumps over the lazy dog by the old river again",
      4L -> "completely different words make up this short document here",
      5L -> "the quick brown fox jumps over the lazy dog by the river today",
      6L -> "different words make up this short document here and there",
      7L -> "the quick brown fox jumps over the lazy dog").toDF("doc_id", "text")
    // (i, i+1, i+2) closes a triangle for every i
    val edges = (1 to 30).flatMap(i => Seq((i.toLong, i + 1L), (i.toLong, i + 2L)))
      .toDF("a", "b")
    val values = (1 to 200).map(i => (i.toLong, (i * 37 % 101).toLong)).toDF("id", "x")
    val (id, text) = (col("doc_id"), col("text"))
    def run(): Map[String, Set[org.apache.spark.sql.Row]] = Map(
      "triangleCounts" -> Components.triangleCounts(edges, col("a"), col("b")),
      "ngramJaccardPairs" -> Dedup.ngramJaccardPairs(docs, id, text, 3, 0.3),
      "ngramJaccardPairs maxDf" ->
        Dedup.ngramJaccardPairs(docs, id, text, 3, 0.3, maxDf = Some(3)),
      "prefixJaccardPairs" -> Dedup.prefixJaccardPairs(docs, id, text, 3, 0.3),
      "containmentPairs" -> Dedup.containmentPairs(docs, id, text, 3, 0.5),
      "passageDupPairs" -> Dedup.passageDupPairs(docs, id, text, 5, 4, 2),
      // globalRowNumber and globalRunningSums consumers
      "giniCoefficient" -> Stats.giniCoefficient(values, col("x"), col("id")),
      "madOutliers" -> Stats.madOutliers(values, col("x"), 1.0)
    ).map { case (name, df) => name -> df.collect().toSet }
    val dflt = run()
    dflt.foreach { case (name, rows) => assert(rows.nonEmpty, s"$name returned no rows") }
    val pers = try withMode("persist")(run()) finally Mat.releaseAll(spark)
    dflt.keys.foreach(name => assert(pers(name) == dflt(name), s"$name diverged in persist mode"))
  }

  test("releaseAll frees every persistent RDD in both modes, without a WARN per RDD") {
    // RDD.unpersist logs "was locally checkpointed, its lineage has been
    // truncated..." for each default-mode Mat; a driver run frees hundreds
    val truncatedWarns = new java.util.concurrent.atomic.AtomicInteger
    val appender = new AbstractAppender("mat-spec", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("was locally checkpointed"))
          truncatedWarns.incrementAndGet()
    }
    appender.start()
    spark.sparkContext // Spark's log setup on session start would drop the appender
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    try for (mode <- Seq(None, Some("persist"))) {
      def run() = {
        val m = Mat((1 to 50).toDF("v").withColumn("w", col("v") % 7))
        val pairs = (1 to 60).map(i => (i.toLong, (i % 5).toLong)).toDF("u", "v")
        (m.count(), graft.operators.Components.connectedComponents(pairs, "u", "v").count())
      }
      assert(mode.fold(run())(withMode(_)(run())) == (50L, 61L))
      assert(spark.sparkContext.getPersistentRDDs.nonEmpty, s"mode $mode left nothing to free")
      Mat.releaseAll(spark)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty,
        s"mode $mode: ${spark.sparkContext.getPersistentRDDs.keys.toSeq.sorted} still persistent")
    } finally root.removeAppender(appender)
    assert(truncatedWarns.get == 0, s"${truncatedWarns.get} lineage-truncated WARNs")
  }

  test("default (localCheckpoint) mode computes correctly") {
    val (d, sizes) = iterate(5)
    assert(d.agg(sum("v")).as[Long].head == (1 to 64).map(_ + 5L).sum)
    // each round re-roots on the checkpoint: the plan does not nest
    assert(sizes.distinct.size == 1, s"plan sizes grew: $sizes")
  }

  test("an unknown SPARK_GRAFT_MAT value is rejected, naming it") {
    // the retired `none` and typos must not fall back to localCheckpoint
    for (bad <- Seq("none", "persit", "Persist", "")) {
      val e = intercept[IllegalArgumentException] {
        withMode(bad) { Mat((1 to 3).toDF("v")) }
      }
      assert(e.getMessage.contains(s"'$bad'") && e.getMessage.contains("'persist'"),
        e.getMessage)
    }
  }
}
