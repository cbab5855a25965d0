package graft

import graft.streaming.StreamingIngest
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.sql.Timestamp

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("batch sessionization: sessions split exactly at the gap") {
    val df = Seq(
      ("u1", 0L), ("u1", 900L), ("u1", 2000L),   // gap 1000 between 900 and 2000
      ("u2", 50L)
    ).toDF("k", "ts")
    val out = graft.ops.Sessionize.byGap(df, "k", "ts", gapMicros = 1000L)
      .orderBy("k", "session_no")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      ("u1", 1L, 2L, 0L, 900L),   // boundary: 900-0 <= gap keeps them together
      ("u1", 2L, 1L, 2000L, 2000L),
      ("u2", 1L, 1L, 50L, 50L)))
  }

  test("byGapNative agrees with byGap, including at the exact gap boundary") {
    // session_window merges diff == gap (inclusive), same as byGap
    val df = Seq(("u", 0L), ("u", 1000L), ("u", 1500L), ("u", 2501L), ("v", 5L))
      .toDF("k", "ts")
    val native = graft.ops.Sessionize.byGapNative(df, "k", "ts", gapMicros = 1000L)
      .orderBy("k", "start_us")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(native.toSeq == Seq(
      ("u", 3L, 0L, 1500L),    // 0,1000(== gap, merged),1500
      ("u", 1L, 2501L, 2501L), // 1001 past the previous event -> new session
      ("v", 1L, 5L, 5L)), s"got ${native.toSeq}")
    val custom = graft.ops.Sessionize.byGap(df, "k", "ts", gapMicros = 1000L)
      .orderBy("k", "session_no")
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(custom.toSeq == native.toSeq, s"\ncustom: ${custom.toSeq}\nnative: ${native.toSeq}")
  }

  test("windowedCounts: watermarked tumbling window aggregates by event_type") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")
    val counts = StreamingIngest.windowedCounts(events, "ts", "10 minutes", "5 minutes")
    val q = counts.writeStream.format("memory").queryName("wc").outputMode("update").start()
    try {
      val t0 = Timestamp.valueOf("2024-01-01 00:01:00")
      val t1 = Timestamp.valueOf("2024-01-01 00:02:00")
      val t2 = Timestamp.valueOf("2024-01-01 00:15:00") // next window
      mem.addData((t0, "click", 1.0), (t1, "click", 2.0), (t2, "view", 5.0))
      q.processAllAvailable()
      val out = spark.table("wc")
        .select(col("window.start").cast("string").as("ws"), col("event_type"), col("n"), col("total_value"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(out.contains(("2024-01-01 00:00:00", "click", 2L, 3.0)), s"got $out")
      assert(out.contains(("2024-01-01 00:10:00", "view", 1L, 5.0)), s"got $out")
    } finally q.stop()
  }

  test("windowedCounts sliding: each event lands in window/slide windows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")
    val counts = StreamingIngest.windowedCounts(
      events, "ts", "10 minutes", "5 minutes", slide = Some("5 minutes"))
    val q = counts.writeStream.format("memory").queryName("wcs").outputMode("update").start()
    try {
      mem.addData((Timestamp.valueOf("2024-01-01 00:07:00"), "click", 1.0))
      q.processAllAvailable()
      val starts = spark.table("wcs")
        .select(col("window.start").cast("string")).collect().map(_.getString(0)).sorted
      assert(starts.toSeq == Seq("2024-01-01 00:00:00", "2024-01-01 00:05:00"),
        s"one event at 00:07 must hit the 00:00 and 00:05 windows, got ${starts.toSeq}")
    } finally q.stop()
  }

  test("streaming CMS: micro-batch cells converge to the batch sketch (mergeable)") {
    // CMS cells merge by plain summation, so the same countMin plan runs
    // unchanged as a streaming stateful aggregation — complete mode's
    // state IS the sketch
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long]
    val sk = graft.ops.Sketches.countMin(
      mem.toDF().toDF("k"), "k", depth = 3, width = 64)
    val q = sk.writeStream.format("memory").queryName("cms")
      .outputMode("complete").start()
    try {
      mem.addData(1L, 2L, 2L, 3L)
      q.processAllAvailable()
      mem.addData(3L, 3L, 4L)
      q.processAllAvailable()
      val streamed = spark.table("cms").collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      val batch = graft.ops.Sketches.countMin(
        Seq(1L, 2L, 2L, 3L, 3L, 3L, 4L).toDF("k"), "k", depth = 3, width = 64)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      assert(streamed == batch,
        s"streamed cells must equal the batch sketch: $streamed vs $batch")
    } finally q.stop()
  }
}
