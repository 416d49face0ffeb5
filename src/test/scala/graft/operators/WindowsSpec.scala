package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class WindowsSpec extends SparkSpec {
  import spark.implicits._

  test("trailingRangeSum: event-time frame excludes same-day peers, honors gaps") {
    def d(s: String) = java.sql.Date.valueOf(s)
    val df = Seq(
      (1L, d("2024-01-01"), 10.0),
      (1L, d("2024-01-01"), 20.0),  // same-day peer: must NOT see the 10
      (1L, d("2024-01-15"), 5.0),   // sees both Jan-1 rows
      (1L, d("2024-06-01"), 7.0),   // > 90 days later: sees nothing
      (2L, d("2024-01-10"), 99.0))  // other key isolated
      .toDF("k", "dt", "v")
    val got = Windows.trailingRangeSum(df, Seq(col("k")), col("dt"), col("v"),
        days = 90, outName = "t")
      .select(col("k"), col("dt"), col("v"), col("t"))
      .as[(Long, java.sql.Date, Double, Option[Double])].collect()
      .map(r => (r._1, r._2.toString, r._3) -> r._4).toMap
    assert(got((1L, "2024-01-01", 10.0)).isEmpty)
    assert(got((1L, "2024-01-01", 20.0)).isEmpty)
    assert(got((1L, "2024-01-15", 5.0)).contains(30.0))
    assert(got((1L, "2024-06-01", 7.0)).isEmpty)
    assert(got((2L, "2024-01-10", 99.0)).isEmpty)
  }

  test("trailingRangeSum: frame is bounded by days, not rows") {
    def d(s: String) = java.sql.Date.valueOf(s)
    // 5 rows inside one 90-day span: each sees ALL prior rows, however many
    val df = (1 to 5).map(i => (1L, d(f"2024-01-$i%02d"), 1.0)).toDF("k", "dt", "v")
    val got = Windows.trailingRangeSum(df, Seq(col("k")), col("dt"), col("v"),
        days = 90, outName = "t")
      .orderBy(col("dt"))
      .select(col("t")).as[Option[Double]].collect().toSeq
    assert(got == Seq(None, Some(1.0), Some(2.0), Some(3.0), Some(4.0)))
  }

  test("globalRunningSums matches a sequential prefix sum across buckets") {
    // 500 rows with duplicate keys (tiebreak on id) across 4 shuffle
    // partitions — exercises the bucket offsets, not just one window
    val rows = (1 to 500).map(i => ((i * 7919) % 50, i.toLong, (i % 13).toLong, (i % 5).toLong))
    val df = rows.toDF("k", "id", "a", "b").repartition(4)
    val got = Windows.globalRunningSums(df, "k", Seq(col("id")),
        Seq(col("a") -> "ca", col("b") -> "cb"))._1
      .orderBy(col("k"), col("id"))
      .select(col("ca"), col("cb")).as[(Long, Long)].collect().toSeq
    val want = rows.sortBy(r => (r._1, r._2))
      .scanLeft((0L, 0L)) { case ((sa, sb), r) => (sa + r._3, sb + r._4) }.drop(1)
    assert(got == want)
  }

  // 500 rows over 4 partitions: duplicate lead keys (tiebreak on id), one
  // null lead key and one hot lead value (k = 7 on every third row)
  private def orderFrames = {
    val rows = (1 to 500).map { i =>
      (if (i == 250) None else if (i % 3 == 0) Some(7) else Some((i * 7919) % 50), i.toLong)
    }
    val df = rows.toDF("k", "id").repartition(4)
    Seq("500 rows" -> df, "single row" -> df.filter(col("id") === 250),
      "empty" -> df.filter(lit(false)))
  }

  private val totalOrder = org.apache.spark.sql.expressions.Window.orderBy(col("k"), col("id"))

  test("globalRowNumber equals row_number() over the same total order") {
    orderFrames.foreach { case (name, df) =>
      val got = Windows.globalRowNumber(df, "k", Seq(col("id")), "rn")
        .select(col("id"), col("rn")).as[(Long, Long)].collect().toMap
      val want = df.select(col("id"), row_number().over(totalOrder).cast("long"))
        .as[(Long, Long)].collect().toMap
      assert(got == want, name)
    }
  }

  test("globalRunningSums returns each value's column sum as its total") {
    orderFrames.foreach { case (name, df) =>
      val (_, got) = Windows.globalRunningSums(df, "k", Seq(col("id")),
        Seq(col("id") -> "c_id", (col("id") % 7 - 3) -> "c_signed", lit(1L) -> "c_rows"))
      val ids = df.select(col("id")).as[Long].collect().toSeq
      assert(got == Seq(ids.sum, ids.map(_ % 7 - 3).sum, ids.size.toLong), name)
    }
  }

  test("equiDepthBin(k) equals ntile(k) over the same total order") {
    for ((name, df) <- orderFrames; k <- Seq(1, 3, 10, 64)) {
      val got = Windows.equiDepthBin(df, k, "k", Seq(col("id")), "bin")
        .select(col("id"), col("bin")).as[(Long, Int)].collect().toMap
      val want = df.select(col("id"), ntile(k).over(totalOrder))
        .as[(Long, Int)].collect().toMap
      assert(got == want, s"$name, k = $k")
    }
  }

  test("globalRunningSums plans no global (unpartitioned) window") {
    val df = (1 to 100).map(i => (i % 10, i.toLong, 1L)).toDF("k", "id", "a")
    val frames = Seq(
      Windows.globalRunningSums(df, "k", Seq(col("id")), Seq(col("a") -> "c"))._1,
      Windows.globalRowNumber(df, "k", Seq(col("id")), "c"),
      Windows.equiDepthBin(df, 4, "k", Seq(col("id")), "c"))
    frames.foreach { f =>
      val p = f.queryExecution.executedPlan.toString
      val wlines = p.linesIterator
        .filter(l => """(^|[-+: ])Window \[""".r.findFirstIn(l).isDefined).toList
      assert(wlines.nonEmpty, p)
      wlines.foreach { l =>
        assert("""\], \[""".r.findAllIn(l).length >= 2,
          s"global (unpartitioned) Window:\n$l")
      }
    }
  }
}
