package graft.streaming

import graft.Pipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured-Streaming pieces of the ingest pipeline (SURVEY §7.5).
  *
  * The reference's only continuity story is "data persists in SQLite across
  * app restarts" (`app.py:293`) — a rerun-per-upload batch app. Here a
  * `foreachBatch` sink runs the batch pipeline once per micro-batch (the
  * schema-version state machine is inherently single-writer, so
  * per-micro-batch driver execution is the *correct* place for it);
  * [[StreamingDedup.start]] is that continuous ingest, with near-dup
  * admission in front of `ingestBatchOnce`.
  *
  * Delivery: effectively-once via per-batch commit markers. A retried
  * micro-batch whose previous attempt already committed is skipped
  * (`ingestBatchOnce`); the residual window — a crash between the corpus
  * append and the marker write — re-appends one batch, so the guarantee is
  * at-least-once with idempotent replay of COMPLETED batches, the standard
  * foreachBatch discipline short of a transactional sink.
  *
  * Event-time analytics over the corpus (watermark + tumbling window) ship as
  * `windowedCounts` — the streaming-native aggregation the reference lacks.
  */
object StreamingIngest {

  /** Run `Pipeline.ingest` for a micro-batch unless a commit marker shows a
    * previous attempt of the same batchId already completed. Marker files
    * live under `corpusDir/_batches/` — tiny control-plane state, one flag
    * per micro-batch.
    */
  def ingestBatchOnce(spark: SparkSession, batch: DataFrame, corpusDir: String,
                      batchId: Long): Boolean = {
    val marker = new org.apache.hadoop.fs.Path(s"$corpusDir/_batches/$batchId")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) return false
    Pipeline.ingest(spark, batch, corpusDir) // an empty batch publishes nothing
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close()
    true
  }

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
