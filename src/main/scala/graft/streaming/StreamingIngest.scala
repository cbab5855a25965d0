package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured-Streaming analytics over corpus events (SURVEY §7.5).
  *
  * The reference is a rerun-per-upload batch app whose only continuity is
  * "data persists in SQLite across app restarts" (`app.py:293`); ingest
  * here is batch too (`Pipeline.ingest`). What streams is event-time
  * analytics: `windowedCounts` is the watermarked window aggregation the
  * reference lacks, and runs unchanged on a batch or a streaming frame.
  */
object StreamingIngest {

  /** Watermarked window counts over an event stream — the streaming-native
    * aggregation pattern (watermark bounds state; late rows beyond it are
    * dropped, so state size is O(windows in flight), not O(n)). Tumbling by
    * default; pass `slide` < `window` for overlapping sliding windows (each
    * event then contributes to window/slide windows).
    */
  def windowedCounts(events: DataFrame, tsCol: String, window: String,
                     watermark: String, slide: Option[String] = None): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(
        col(tsCol), window, slide.getOrElse(window)), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
}
