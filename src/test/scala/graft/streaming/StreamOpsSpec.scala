package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

object StreamOpsSpec {
  /** One row of the `events` schema, for memory streams. */
  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)
}

class StreamOpsSpec extends SparkSpec {
  import StreamOpsSpec.Event
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("tumblingCounts over a memory stream matches batch group-by") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val events = Seq(
      Event(1, ts("2024-01-01 00:10:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 00:50:00"), 1, "click", 2.0),
      Event(3, ts("2024-01-01 01:10:00"), 2, "view", 3.0))
    input.addData(events: _*)
    val q = StreamOps.tumblingCounts(input.toDF(), "1 hour", "10 minutes")
      .writeStream.outputMode("complete").format("memory").queryName("tumbling_out").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("tumbling_out")
      .select(col("window_start").cast("string"), col("event_type"), col("n"), col("total_value"))
      .as[(String, String, Long, Double)].collect().toSet
    assert(got == Set(
      ("2024-01-01 00:00:00", "click", 2L, 3.0),
      ("2024-01-01 01:00:00", "view", 1L, 3.0)))
  }

  test("stream-stream interval join attributes effects within the horizon") {
    implicit val sc = spark.sqlContext
    val li = MemoryStream[Event]
    val ri = MemoryStream[Event]
    li.addData(Event(1, ts("2024-01-01 00:00:00"), 1, "error", 0.0))
    ri.addData(
      Event(10, ts("2024-01-01 00:30:00"), 1, "purchase", 5.0), // within 1h
      Event(11, ts("2024-01-01 02:00:00"), 1, "purchase", 7.0), // outside
      Event(12, ts("2024-01-01 00:30:00"), 2, "purchase", 9.0)) // other user
    val q = StreamOps.intervalJoinStreams(li.toDF(), ri.toDF(), 3600, "2 hours")
      .writeStream.outputMode("append").format("memory").queryName("ij_out").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("ij_out").select(col("cause_id"), col("effect_id"))
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L)))
  }

  test("left-outer stream-stream join emits unmatched rows after watermark eviction") {
    implicit val sc = spark.sqlContext
    val li = MemoryStream[Event]
    val ri = MemoryStream[Event]
    val q = StreamOps.intervalJoinStreams(li.toDF(), ri.toDF(), 3600, "0 seconds",
        joinType = "leftOuter")
      .writeStream.outputMode("append").format("memory").queryName("loj_out").start()
    // user 1's error never gets a purchase; user 2's does
    li.addData(Event(1, ts("2024-01-01 00:00:00"), 1, "error", 0.0),
      Event(2, ts("2024-01-01 00:00:00"), 2, "error", 0.0))
    ri.addData(Event(10, ts("2024-01-01 00:30:00"), 2, "purchase", 5.0))
    q.processAllAvailable()
    // advance BOTH watermarks well past 00:00 + 1h so the unmatched left
    // row's state is evicted and the null-extended row emits
    li.addData(Event(3, ts("2024-01-01 06:00:00"), 9, "error", 0.0))
    ri.addData(Event(11, ts("2024-01-01 06:00:00"), 9, "purchase", 0.0))
    q.processAllAvailable()
    li.addData(Event(4, ts("2024-01-01 07:00:00"), 9, "error", 0.0))
    ri.addData(Event(12, ts("2024-01-01 07:00:00"), 9, "purchase", 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("loj_out")
      .select(col("cause_id"), col("effect_id")).as[(Long, Option[Long])]
      .collect().toSet
    assert(got.contains((2L, Some(10L))), got)  // matched pair
    assert(got.contains((1L, None)), got)       // unmatched, null-extended
  }

  test("left-outer stream-stream join state stays bounded under watermark advance") {
    implicit val sc = spark.sqlContext
    val li = MemoryStream[Event]
    val ri = MemoryStream[Event]
    val q = StreamOps.intervalJoinStreams(li.toDF(), ri.toDF(), 3600, "0 seconds",
        joinType = "leftOuter")
      .writeStream.outputMode("append").format("memory").queryName("state_out").start()
    def stateRows: Long =
      Option(q.lastProgress).toSeq.flatMap(_.stateOperators.map(_.numRowsTotal)).sum
    // batch 1: 50 never-matched lefts + 50 other-user rights, all at t0 —
    // every row buffers in join state
    li.addData((1 to 50).map(i =>
      Event(i, ts("2024-01-01 00:00:00"), i, "error", 0.0)): _*)
    ri.addData((1 to 50).map(i =>
      Event(100 + i, ts("2024-01-01 00:00:00"), 1000 + i, "purchase", 0.0)): _*)
    q.processAllAvailable()
    val peak = stateRows
    // the 50 lefts must buffer awaiting a match-or-timeout; rights at
    // the watermark are evictable immediately (delay 0s), so they may
    // already be gone by the time the batch's progress is sampled
    assert(peak >= 50, s"expected the 50 unmatched lefts buffered, saw $peak")
    // advance BOTH watermarks far past t0 + horizon: the engine must
    // evict every t0 row (emitting the 50 null-extended lefts), leaving
    // only the fresh rows' state. Two ticks: one to move the watermark,
    // one to apply eviction.
    for (h <- Seq("06", "07")) {
      li.addData(Event(900, ts(s"2024-01-01 $h:00:00"), 900, "error", 0.0))
      ri.addData(Event(901, ts(s"2024-01-01 $h:00:00"), 901, "purchase", 0.0))
      q.processAllAvailable()
    }
    val after = stateRows
    q.stop()
    assert(after <= 4, s"state not evicted: peak=$peak after=$after")
    // all 50 unmatched lefts emitted null-extended on eviction
    val unmatched = spark.table("state_out").filter(col("effect_id").isNull).count()
    assert(unmatched == 50L, s"unmatched=$unmatched")
  }

  test("file-source streaming: readStream over parquet matches batch aggregation") {
    // write a small parquet dir, stream it with an explicit schema, and
    // check the windowed agg equals the batch run over the same files
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val batchDf = graft.Tables.events(spark, sf001).limit(500)
    batchDf.write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val streamed = spark.readStream.schema(schema).parquet(dir)
    val q = StreamOps.tumblingCounts(streamed, "1 hour", "30 minutes")
      .writeStream.outputMode("complete").format("memory").queryName("file_stream_out").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("file_stream_out")
      .select(col("window_start"), col("event_type"), col("n"), col("total_value"))
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    val want = StreamOps.tumblingCounts(spark.read.parquet(dir), "1 hour", "30 minutes")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("watermark drops late data in append mode") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val agg = StreamOps.tumblingCounts(input.toDF(), "1 hour", "30 minutes")
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("late_out").start()
    // batch 1: events up to 03:00 -> watermark advances to 02:30
    input.addData(
      Event(1, ts("2024-01-01 00:10:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 03:00:00"), 1, "click", 1.0))
    q.processAllAvailable()
    // batch 2: an hour-00 event arrives way past the watermark -> dropped
    input.addData(Event(3, ts("2024-01-01 00:20:00"), 1, "click", 5.0))
    q.processAllAvailable()
    // batch 3: advance watermark far enough to finalize all windows
    input.addData(Event(4, ts("2024-01-01 09:00:00"), 1, "click", 1.0))
    q.processAllAvailable(); q.stop()
    val hour0 = spark.table("late_out")
      .filter(col("window_start") === ts("2024-01-01 00:00:00"))
      .select(col("n")).as[Long].collect()
    assert(hour0.toSeq == Seq(1L), s"late event must not count: ${hour0.toSeq}")
  }
}
