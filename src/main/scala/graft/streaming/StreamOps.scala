package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-time operators over the `events` schema that run unchanged on a
  * `readStream` or a batch frame.
  *
  * The reference is pure batch (SURVEY.md §2.9). The queries `st_tumbling`,
  * `st_interval_join` and `st_session_window` run these operators on batch
  * frames, where the watermark is ignored. `StreamOpsSpec` runs
  * `tumblingCounts` and `intervalJoinStreams` on memory and file streams:
  * late-data drop, outer-join eviction and bounded join state.
  */
object StreamOps {

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

  /** Stream-stream time-band join (impression->click attribution,
    * error-followed-by-purchase, ...): left events join right events of
    * the same user with `r.ts` in `(l.ts, l.ts + horizon]`. Watermarks on
    * BOTH sides bound the join state; on batch frames it is the same
    * range join (the batch twin the oracle checks).
    *
    * `joinType` "inner" or "leftOuter": the outer form emits unmatched
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

  /** Native session-window aggregation (`session_window`): Spark merges
    * event windows `[t, t+gap)` that overlap, so a new event joins a
    * session iff it lands STRICTLY before the previous end. Identical on
    * streams (watermarked state eviction) and batch. */
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
}
