package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout,
  ListState, MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues,
  ValueState}

/** Structured Streaming surface.
  *
  * The reference is pure batch (SURVEY.md §2.9) — this module is the
  * engine's forward-looking streaming layer over the same `events` schema:
  * watermarked tumbling/sliding window aggregation, and stateful
  * sessionization via `flatMapGroupsWithState` (the batch twin lives in
  * `operators.Intervals.sessionize`; specs assert they agree).
  */
object StreamOps {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class SessionState(start: Long, last: Long, n: Int, total: Double)
  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                        session_end: java.sql.Timestamp, n_events: Int, total_value: Double)

  /** Watermarked tumbling-window counts per event type. Works identically
    * on a `readStream` or a batch frame (batch ignores the watermark). */
  def tumblingCounts(events: DataFrame, window_ : String, watermark: String): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"),
        // decimal sum: exact regardless of partition/merge order
        round(sum(col("value").cast("decimal(12,2)")), 2).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))
  }

  /** Stream-static enrichment: join a stream against a batch dimension
    * frame. The static side is re-evaluated per micro-batch (Spark's
    * stream-static contract — a dimension UPDATE is visible to the next
    * batch without restarting the query), and the broadcast hint keeps
    * the stream side shuffle-free: stateless, no watermark, no state
    * store — the right shape for reference-data enrichment at any rate.
    * Works identically on a batch frame (the twin the oracle checks). */
  def enrichWithDim(
      events: DataFrame, dim: DataFrame, key: Seq[String],
      joinType: String = "left"): DataFrame =
    events.join(broadcast(dim), key, joinType)

  /** Idempotent keyed parquet sink via foreachBatch: every micro-batch
    * left-anti joins against the target's existing keys (a column-pruned
    * scan) and appends only NEW keys — the streaming twin of the export
    * upsert (`graft.domain.Export`, SURVEY §2.1 S8). Replayed batches
    * (restart, at-least-once upstream) converge instead of duplicating,
    * which is exactly the delivery contract a 100 TB ingest needs on an
    * append-only store. Returns the StreamingQuery; callers own the
    * trigger/termination policy. */
  def idempotentKeyedSink(
      stream: DataFrame, keyCols: Seq[String], targetDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val path = new org.apache.hadoop.fs.Path(targetDir)
        val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val fresh =
          if (fs.exists(path)) {
            val existing = spark.read.parquet(targetDir)
            graft.domain.Export.upsertCandidates(batch, existing, keyCols)
          } else batch
        fresh.write.mode("append").parquet(targetDir)
      }
      .start()

  /** Incremental commissions calculation: premiums arrive as a STREAM,
    * every micro-batch runs the full 8-stage `Calc` against the static
    * reference frames (certificates, proposals, splits, hierarchy
    * versions, participants, rates, assignments — re-evaluated per batch
    * under the stream-static contract, so a reference-data update is
    * picked up on the next batch) and the GL entries upsert by their
    * natural key. Replayed or overlapping batches converge: the
    * persisted ledger equals what ONE batch run over all premiums would
    * have produced — the property `StreamOpsSpec` asserts. The batch
    * lineage is identical to `Calc.run`, so correctness rides on the
    * same oracle-checked code path as `domain_e2e_gl`. */
  def incrementalGlSink(
      premiumStream: DataFrame, staticInputs: graft.domain.Calc.CalcInputs,
      targetDir: String, checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    premiumStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val gl = graft.domain.Calc.glEntries(graft.domain.Calc.run(
          staticInputs.copy(premiums = batch)))
        val spark = batch.sparkSession
        val path = new org.apache.hadoop.fs.Path(targetDir)
        val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val fresh =
          if (fs.exists(path)) {
            val existing = spark.read.parquet(targetDir)
            graft.domain.Export.upsertCandidates(gl,
              existing, Seq("premium_id", "broker_id", "entry_type"))
          } else gl
        fresh.write.mode("append").parquet(targetDir)
      }
      .start()

  /** Streaming dedup: drop repeated ids inside the watermark horizon —
    * the streaming twin of exact dedup (state is bounded by the
    * watermark, so it runs forever at 100 TB/day event volumes). */
  def dedupStream(events: DataFrame, idCols: Seq[String], watermark: String): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    if (events.isStreaming) src.dropDuplicatesWithinWatermark(idCols)
    else src.dropDuplicates(idCols)
  }

  /** Stream-stream time-band join (impression->click attribution,
    * error-followed-by-purchase, ...): left events join right events of
    * the same user with `r.ts` in `(l.ts, l.ts + horizon]`. Watermarks on
    * BOTH sides bound the join state, so it runs forever at corpus-scale
    * event volumes; on batch frames it degrades to the same range join
    * (the batch twin the oracle checks). */
  /** `joinType` "inner" or "leftOuter": the outer form emits unmatched
    * left events with null effect columns once BOTH watermarks pass the
    * join horizon (Spark evicts the buffered state then — bounded, and
    * the null-extension is exactly-once). */
  def intervalJoinStreams(
      left: DataFrame, right: DataFrame,
      horizonSec: Long, watermark: String, joinType: String = "inner"): DataFrame = {
    val l = (if (left.isStreaming) left.withWatermark("ts", watermark) else left).alias("l")
    val r = (if (right.isStreaming) right.withWatermark("ts", watermark) else right).alias("r")
    l.join(r,
      col("l.user_id") === col("r.user_id") &&
        col("r.ts") > col("l.ts") &&
        col("r.ts") <= col("l.ts") + expr(s"INTERVAL $horizonSec SECONDS"),
      joinType)
      .select(col("l.user_id").as("user_id"),
        col("l.event_id").as("cause_id"), col("l.ts").as("cause_ts"),
        col("r.event_id").as("effect_id"), col("r.ts").as("effect_ts"))
  }

  /** Native session-window aggregation (`session_window`): the
    * declarative alternative to [[sessionizeStream]]'s explicit state —
    * Spark merges event windows `[t, t+gap)` that overlap, so a new event
    * joins a session iff it lands STRICTLY before the previous end.
    * Identical on streams (watermarked state eviction) and batch. */
  def sessionWindowCounts(events: DataFrame, gap: String, watermark: String): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src.groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(12,2)")), 2).cast("double").as("total_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("total_value"))
  }

  case class RunningTotal(user_id: Long, n_events: Int, total_value: Double)

  /** Running per-user totals on the Spark 4 `transformWithState` API —
    * the successor to `mapGroupsWithState` (typed `ValueState` handles,
    * RocksDB-backed, timer support). Emits the updated running total for
    * each user touched by a micro-batch. */
  class RunningTotalsProcessor extends StatefulProcessor[Long, Event, RunningTotal] {
    @transient private var st: ValueState[(Int, Double)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Int, Double)]("totals",
        Encoders.tuple(Encoders.scalaInt, Encoders.scalaDouble), TTLConfig.NONE)
    override def handleInputRows(
        key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[RunningTotal] = {
      var (n, total) = if (st.exists()) st.get() else (0, 0.0)
      rows.foreach { e => n += 1; total += e.value }
      st.update((n, total))
      Iterator(RunningTotal(key, n, math.round(total * 100.0) / 100.0))
    }
  }

  /** transformWithState requires the RocksDB state store provider. */
  val RocksDbProvider = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  case class SessionSnapshot(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Int)

  /** Session close via EVENT-TIME TIMERS on the transformWithState API:
    * in-batch gaps close sessions immediately; the trailing open session
    * closes when the watermark passes last_event + gap (handleExpiredTimer)
    * — so idle users emit their final session without waiting for more of
    * their own events, which mapGroupsWithState could only approximate
    * with processing-time timeouts. */
  class SessionCloseProcessor(gapMs: Long)
    extends StatefulProcessor[Long, Event, SessionSnapshot] {
    @transient private var st: ValueState[(Long, Long, Int)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState("session",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaInt),
        TTLConfig.NONE)

    override def handleInputRows(
        key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[SessionSnapshot] = {
      var (start, last, n) =
        if (st.exists()) st.get() else (Long.MaxValue, Long.MinValue, 0)
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionSnapshot]
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        val t = e.ts.getTime
        if (n > 0 && t - last > gapMs) {
          out += SessionSnapshot(key, new java.sql.Timestamp(start),
            new java.sql.Timestamp(last), n)
          start = t; last = t; n = 1
        } else {
          start = math.min(start, t); last = math.max(last, t); n += 1
        }
      }
      st.update((start, last, n))
      // re-arm the close timer at last+gap (event time = watermark clock)
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer(last + gapMs)
      out.iterator
    }

    override def handleExpiredTimer(
        key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionSnapshot] =
      if (st.exists()) {
        val (start, last, n) = st.get()
        st.clear()
        Iterator(SessionSnapshot(key, new java.sql.Timestamp(start),
          new java.sql.Timestamp(last), n))
      } else Iterator.empty
  }

  /** Sessionize with event-time close timers; input must carry a
    * watermark on `ts` (the timer clock). */
  def sessionizeWithTimers(events: Dataset[Event], gapSeconds: Long): Dataset[SessionSnapshot] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new SessionCloseProcessor(gapSeconds * 1000L),
        TimeMode.EventTime(), OutputMode.Append())
  }

  def runningTotals(events: Dataset[Event]): Dataset[RunningTotal] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor, TimeMode.None(), OutputMode.Update())
  }

  case class AsOfSide(k: Long, side: String, ts: java.sql.Timestamp, v: Double)
  case class AsOfJoined(k: Long, left_ts: java.sql.Timestamp, left_v: Double,
      right_ts: java.sql.Timestamp, right_v: java.lang.Double)

  /** STREAM-STREAM AS-OF JOIN — an operator Spark has no native form of
    * (stream-stream joins support only range/equality predicates, not
    * "latest right at or before the left's time"). Built on
    * `transformWithState` with event-time timers:
    *
    *  - both sides are tagged and unioned under ONE watermark, grouped
    *    by the join key;
    *  - left rows buffer in a ListState and arm an event-time timer at
    *    their own timestamp: when the WATERMARK passes a left row's
    *    time, every right row at-or-before it has arrived (later ones
    *    are upstream-dropped), so the match emitted then is exactly the
    *    batch as-of answer — deterministic, no early/partial results;
    *  - right rows older than the watermark are garbage-collected down
    *    to the single LATEST one (any future left has ts >= watermark,
    *    so older rights can never win again) — state stays bounded by
    *    the watermark delay, the contract that lets it run forever.
    *
    * Same-timestamp right ties resolve to the highest value (a total
    * order, engine-replayable); lefts with no right at-or-before emit a
    * null right (left-outer as-of). `StreamOpsSpec` asserts equality
    * with the batch as-of computed over the same rows. */
  class StreamAsOfProcessor extends StatefulProcessor[Long, AsOfSide, AsOfJoined] {
    @transient private var lefts: ListState[(Long, Double)] = _
    @transient private var rights: ListState[(Long, Double)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      val enc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble)
      lefts = getHandle.getListState[(Long, Double)]("lefts", enc, TTLConfig.NONE)
      rights = getHandle.getListState[(Long, Double)]("rights", enc, TTLConfig.NONE)
    }

    override def handleInputRows(
        key: Long, rows: Iterator[AsOfSide],
        timerValues: TimerValues): Iterator[AsOfJoined] = {
      val wm = timerValues.getCurrentWatermarkInMs()
      rows.foreach { r =>
        val t = r.ts.getTime
        if (r.side == "L") {
          lefts.appendValue((t, r.v))
          // fire once the watermark passes the left's own event time; a
          // left already at/behind the watermark fires next tick
          getHandle.registerTimer(math.max(t, wm + 1))
        } else rights.appendValue((t, r.v))
      }
      Iterator.empty
    }

    override def handleExpiredTimer(
        key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[AsOfJoined] = {
      val wm = timerValues.getCurrentWatermarkInMs()
      val (due, pending) = lefts.get().toArray.partition(_._1 <= wm)
      if (due.isEmpty) return Iterator.empty
      if (pending.isEmpty) lefts.clear() else lefts.put(pending)
      val rs = rights.get().toArray
      // GC: rights newer than the watermark stay; of the older ones only
      // the latest (ts, v) can still win for any future left
      val (fresh, old) = rs.partition(_._1 > wm)
      val keep = if (old.isEmpty) fresh else fresh :+ old.max
      if (keep.isEmpty) rights.clear() else rights.put(keep)
      due.sorted.iterator.map { case (lt, lv) =>
        val m = rs.filter(_._1 <= lt)
        if (m.isEmpty) AsOfJoined(key, new java.sql.Timestamp(lt), lv, null, null)
        else {
          val (rt, rv) = m.max // latest ts, highest value on ties
          AsOfJoined(key, new java.sql.Timestamp(lt), lv,
            new java.sql.Timestamp(rt), rv)
        }
      }
    }
  }

  /** Stream-stream as-of join; both inputs need columns (k, ts, v). The
    * watermark `delay` bounds both lateness and right-buffer state. */
  def streamAsOfJoin(
      left: DataFrame, right: DataFrame, delay: String): Dataset[AsOfJoined] = {
    import left.sparkSession.implicits._
    val tagged = left.select(col("k"), lit("L").as("side"), col("ts"), col("v"))
      .unionByName(right.select(col("k"), lit("R").as("side"), col("ts"), col("v")))
      .withWatermark("ts", delay)
      .as[AsOfSide]
    tagged.groupByKey(_.k)
      .transformWithState(new StreamAsOfProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }

  case class RecentWindow(user_id: Long, n_kept: Int, event_ids: Seq[Long])

  /** Bounded last-N buffer per key on a `ListState` handle: each batch
    * appends the new event ids, trims to the newest `keep`, and emits the
    * kept window. The trim bounds state size per key — unbounded ListState
    * growth is the classic stateful-streaming leak. RocksDB `appendValue`
    * is O(1) (no read-modify-write of the whole list); the full read+put
    * happens only when the buffer overflows `keep`. */
  class RecentEventsProcessor(keep: Int)
    extends StatefulProcessor[Long, Event, RecentWindow] {
    @transient private var st: ListState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getListState[Long]("recent", Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(
        key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[RecentWindow] = {
      // in-batch arrival order is not deterministic; sort by (ts, id)
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
        .foreach(e => st.appendValue(e.event_id))
      val all = st.get().toArray
      val kept = if (all.length > keep) {
        val k = all.takeRight(keep)
        st.put(k)
        k
      } else all
      Iterator(RecentWindow(key, kept.length, kept.toSeq))
    }
  }

  def recentEvents(events: Dataset[Event], keep: Int): Dataset[RecentWindow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RecentEventsProcessor(keep), TimeMode.None(), OutputMode.Update())
  }

  case class TypeCount(user_id: Long, event_type: String, n: Int, total_value: Double)

  /** Per-(key, event_type) running aggregates on a `MapState` handle —
    * point lookups/updates per touched type instead of deserializing one
    * fat per-key blob (what a ValueState[Map] would do): on RocksDB each
    * map entry is its own store key, so a user with many types pays only
    * for the types present in the batch. Emits updated entries only. */
  class PerTypeCountsProcessor extends StatefulProcessor[Long, Event, TypeCount] {
    @transient private var st: MapState[String, (Int, Double)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getMapState[String, (Int, Double)]("perType",
        Encoders.STRING, Encoders.tuple(Encoders.scalaInt, Encoders.scalaDouble),
        TTLConfig.NONE)
    override def handleInputRows(
        key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[TypeCount] = {
      val touched = scala.collection.mutable.LinkedHashSet.empty[String]
      rows.foreach { e =>
        val (n, tot) =
          if (st.containsKey(e.event_type)) st.getValue(e.event_type) else (0, 0.0)
        st.updateValue(e.event_type, (n + 1, tot + e.value))
        touched += e.event_type
      }
      touched.iterator.map { t =>
        val (n, tot) = st.getValue(t)
        TypeCount(key, t, n, math.round(tot * 100.0) / 100.0)
      }
    }
  }

  def perTypeCounts(events: Dataset[Event]): Dataset[TypeCount] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new PerTypeCountsProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Stateful sessionization: events within `gapSeconds` of the previous
    * event for the same user share a session; a session closes on timeout.
    */
  def sessionizeStream(events: Dataset[Event], gapSeconds: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
          var st = state.getOption.orNull
          sorted.foreach { e =>
            val t = e.ts.getTime
            if (st == null) st = SessionState(t, t, 1, e.value)
            else if (t - st.last <= gapSeconds * 1000L)
              st = st.copy(last = t, n = st.n + 1, total = st.total + e.value)
            else {
              out += SessionOut(userId, new java.sql.Timestamp(st.start),
                new java.sql.Timestamp(st.last), st.n,
                math.round(st.total * 100.0) / 100.0)
              st = SessionState(t, t, 1, e.value)
            }
          }
          if (st != null) state.update(st) else state.remove()
          out.iterator
      }
  }

  /** Streaming corpus ingestion with incremental dedup: each micro-batch
    * of documents is flagged against the STANDING corpus store
    * ([[graft.operators.Dedup.incrementalDedup]] — exact fingerprint +
    * df-capped near-dup), survivors append to the store keyed by doc id.
    * Replay-convergent on two axes: a replayed batch's survivors are
    * anti-joined away by the id upsert, and a replayed duplicate can
    * never re-enter because its fingerprint is already in the store.
    * Batch-internal exact dups are collapsed (lowest id wins) before the
    * corpus check, so one batch cannot seed the store with two copies.
    * This is the streaming twin of the daily-increment dedup pipeline —
    * the store IS the reusable corpus index. */
  def dedupIngestSink(
      docStream: DataFrame, targetDir: String, checkpointDir: String,
      n: Int = 3, threshold: Double = 0.5, maxDf: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        import graft.operators.Dedup
        val batchDocs = Dedup.exactDedup(batch, col("doc_id"), col("text"))
          .filter(!col("is_duplicate"))
          .select(col("doc_id"), col("text"))
        val path = new org.apache.hadoop.fs.Path(targetDir)
        val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val fresh =
          if (fs.exists(path)) {
            val corpus = spark.read.parquet(targetDir)
            val verdicts = Dedup.incrementalDedup(
              batchDocs, corpus, col("doc_id"), col("text"), n, threshold, maxDf)
            val keep = batchDocs.join(
              verdicts.filter(col("verdict") === "keep").select(col("doc_id")),
              Seq("doc_id"), "left_semi")
            graft.domain.Export.upsertCandidates(keep, corpus, Seq("doc_id"))
          } else batchDocs
        fresh.write.mode("append").parquet(targetDir)
      }
      .start()

  /** Bloom-GATED streaming ingest dedup — the at-scale refinement of
    * [[dedupIngestSink]]'s exact path: alongside the corpus store it
    * maintains the corpus's bloom filter as a parquet frame of set bit
    * positions (`<= k` longs per admitted doc — the index that stays
    * shipping-sized when the corpus doesn't). Per micro-batch:
    * batch-internal exact dups collapse first; each survivor probes its
    * k md5-derived bit positions with ONE equi join against the bit
    * store; docs missing any bit are DEFINITELY new (the bloom contract:
    * no false negatives) and skip the corpus read entirely; only
    * bloom-hit docs pay the exact fingerprint check, which false
    * positives survive. Admitted docs append to the corpus store, their
    * unseen bits upsert (left-anti) into the bit store. Replay-
    * convergent: a replayed doc bloom-hits, exact-matches, and is
    * dropped; bit upserts are idempotent; id-level replays are
    * anti-joined away by the doc-id upsert. */
  def bloomIngestSink(
      docStream: DataFrame, targetDir: String, bitsDir: String,
      checkpointDir: String, mBits: Int = 1 << 18, k: Int = 3)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        import graft.operators.Dedup
        import graft.functions.TextFunctions
        val batchDocs = Dedup.exactDedup(batch, col("doc_id"), col("text"))
          .filter(!col("is_duplicate"))
          .select(col("doc_id"), col("text"),
            TextFunctions.fingerprint(col("text")).as("fp"))
        val hconf = spark.sparkContext.hadoopConfiguration
        val bitsPath = new org.apache.hadoop.fs.Path(bitsDir)
        val bitsFs = bitsPath.getFileSystem(hconf)
        val corpusPath = new org.apache.hadoop.fs.Path(targetDir)
        val corpusFs = corpusPath.getFileSystem(hconf)
        val fresh =
          if (!bitsFs.exists(bitsPath) || !corpusFs.exists(corpusPath)) batchDocs
          else {
            val bits = spark.read.parquet(bitsDir)
            val hits = batchDocs
              .withColumn("__i", explode(sequence(lit(0), lit(k - 1))))
              .withColumn("__pos", Dedup.bloomBitPos(col("fp"), col("__i"), mBits))
              .join(bits.withColumn("__hit", lit(1L)), Seq("__pos"), "left")
              .groupBy(col("doc_id"))
              .agg((sum(coalesce(col("__hit"), lit(0L))) === k).as("__bloom_hit"))
            val definitelyNew = batchDocs.join(
              hits.filter(!col("__bloom_hit")).select(col("doc_id")),
              Seq("doc_id"), "left_semi")
            // only bloom hits touch the corpus store; false positives survive
            val corpusFp = spark.read.parquet(targetDir)
              .select(col("fp")).distinct()
            val falsePos = batchDocs.join(
              hits.filter(col("__bloom_hit")).select(col("doc_id")),
              Seq("doc_id"), "left_semi")
              .join(corpusFp, Seq("fp"), "left_anti")
            graft.domain.Export.upsertCandidates(
              definitelyNew.unionByName(falsePos),
              spark.read.parquet(targetDir), Seq("doc_id"))
          }
        val freshMat = graft.Mat(fresh)
        freshMat.write.mode("append").parquet(targetDir)
        val newBits = freshMat
          .withColumn("__i", explode(sequence(lit(0), lit(k - 1))))
          .select(Dedup.bloomBitPos(col("fp"), col("__i"), mBits).as("__pos"))
          .distinct()
        val bitsOut =
          if (bitsFs.exists(bitsPath))
            newBits.join(spark.read.parquet(bitsDir), Seq("__pos"), "left_anti")
          else newBits
        graft.Mat(bitsOut).write.mode("append").parquet(bitsDir)
      }
      .start()
}
