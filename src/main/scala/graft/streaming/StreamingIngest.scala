package graft.streaming

import graft.Pipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming extension of the ingest pipeline (SURVEY §7.5).
  *
  * The reference's only continuity story is "data persists in SQLite across
  * app restarts" (`app.py:293`) — a rerun-per-upload batch app. Here the same
  * extract → infer → evolve → validate → store chain runs continuously over a
  * landing directory: `readStream` file source → `foreachBatch` running the
  * batch pipeline (the schema-version state machine is inherently
  * single-writer, so per-micro-batch driver execution is the *correct* place
  * for it), parquet-append sink with checkpointing.
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

  /** Continuous ingest of text files landing in `landingDir`. */
  def start(spark: SparkSession, landingDir: String, corpusDir: String,
            checkpointDir: String): StreamingQuery = {
    val lines = spark.readStream
      .format("text")
      .load(landingDir)
      .filter(length(trim(col("value"))) > 0)
      .select(col("value").as("content"))
    lines.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime("2 seconds"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatchOnce(spark, batch, corpusDir, batchId); ()
      }
      .start()
  }

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

  /** Streaming exact dedup: keep the FIRST record per dedup key, with
    * bounded state — the streaming face of `Dedup.dedupKeepFirst`. State is
    * evicted once the watermark passes a key's arrival time, so memory is
    * O(keys per watermark window), not O(stream); duplicates arriving after
    * eviction re-emit (the standard watermark/state trade, same as any
    * at-scale streaming dedup). Key on a content fingerprint
    * (`TextAnalysis.fingerprintMd5`) to dedup documents by content.
    */
  def dedupStream(records: DataFrame, tsCol: String, keyCols: Seq[String],
                  watermark: String): DataFrame =
    records
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Watermarked streaming session windows via the built-in
    * `session_window` aggregate — sessions close (and emit, in append
    * mode) once the watermark passes their gap-extended end. The
    * `flatMapGroupsWithState` variant ([[graft.ops.Sessionize]]) remains
    * the custom-state alternative with processing-time idle timeouts.
    */
  def sessionCounts(events: DataFrame, keyCol: String, tsCol: String,
                    gap: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(col(keyCol),
        org.apache.spark.sql.functions.session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n"))
      .select(col(keyCol), col("session_window.start").as("start"),
        col("session_window.end").as("end"), col("n"))

  /** Stream-stream interval join: each left event pairs with right events
    * of the same key whose event time lies in
    * [leftTs + lower, leftTs + upper] — the attribution-join shape
    * (impression ↔ click within N minutes). BOTH sides carry watermarks and
    * the join condition bounds time in BOTH directions, which is what lets
    * Spark evict buffered state (watermark + interval width per side)
    * instead of holding each stream forever. Column names must be disjoint
    * across the two sides (streaming joins have no alias scoping).
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   leftKey: String, rightKey: String,
                   leftTs: String, rightTs: String,
                   watermark: String, lower: String, upper: String): DataFrame =
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark),
        col(leftKey) === col(rightKey) &&
          col(rightTs) >= col(leftTs) + expr(s"INTERVAL $lower") &&
          col(rightTs) <= col(leftTs) + expr(s"INTERVAL $upper"))

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
