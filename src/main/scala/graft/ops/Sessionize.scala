package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based sessionization — the canonical stateful operator the reference
  * lacks (SURVEY §2.2 "streaming / stateful: absent").
  *
  * Batch: a new session starts when the gap to the previous event of the
  * same key exceeds `gapMicros`; session id = running count of starts. One
  * shuffle+sort per key (window), two streaming window functions — linear,
  * spillable, AQE-splittable on skewed keys.
  */
object Sessionize {

  /** Batch sessionization.
    * Input: (key, tsMicros) columns. Output: one row per session —
    * (key, session_no, n_events, start_us, end_us).
    */
  def byGap(df: DataFrame, keyCol: String, tsCol: String, gapMicros: Long): DataFrame = {
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col(tsCol))
    val withStart = df
      .withColumn("__prev", lag(col(tsCol), 1).over(byKey))
      .withColumn("__new_session",
        when(col("__prev").isNull || col(tsCol) - col("__prev") > gapMicros, 1)
          .otherwise(0))
    val withId = withStart
      .withColumn("session_no",
        sum(col("__new_session")).over(byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    withId.groupBy(col(keyCol), col("session_no"))
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("start_us"),
        max(col(tsCol)).as("end_us"))
  }

  /** `byGap` via the built-in `session_window` aggregate — the Spark-native
    * plan (a single SessionWindow aggregation, no lag/sum window pair; also
    * valid in Structured Streaming with a watermark). Emits the same
    * sessions as `byGap` minus the per-key ordinal — boundary semantics
    * agree too: an event exactly `gap` after the previous one extends the
    * session in both (session_window's merge is end-inclusive). `tsCol` is
    * epoch MICROSECONDS (converted internally to the timestamp the operator
    * needs).
    */
  def byGapNative(df: DataFrame, keyCol: String, tsCol: String, gapMicros: Long): DataFrame = {
    val ts = timestamp_micros(col(tsCol))
    df.groupBy(col(keyCol), session_window(ts, s"$gapMicros microseconds").as("w"))
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("start_us"),
        max(col(tsCol)).as("end_us"))
      .drop("w")
  }

  /** Earliest-anchor funnel analysis — the product-analytics staple over
    * the same event stream: per user, the FIRST `steps.head` event anchors
    * the attempt; each later step needs an event strictly after the
    * previous step's time and within `windowUs` of the anchor (greedy
    * earliest-match semantics — the convention funnels report; a later
    * anchor that would have completed is not searched). Returns ONE row of
    * per-step reach counts `n1..nk` (users whose t_i exists).
    *
    * Shape: one filtered hash-agg on the user key per step (steps are few
    * and fixed) — partial aggregation map-side, no window over the whole
    * stream, no per-user event arrays (bot users with millions of events
    * cost nothing beyond their aggregate row).
    */
  def funnel(events: DataFrame, userCol: String, typeCol: String,
             tsCol: String, steps: Seq[String], windowUs: Long): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val first = events.filter(col(typeCol) === steps.head)
      .groupBy(col(userCol).as("user"))
      .agg(min(col(tsCol).cast("long")).as("t1"))
    val staged = steps.zipWithIndex.tail.foldLeft(first) { case (cur, (st, i)) =>
      val nxt = events.filter(col(typeCol) === st)
        .select(col(userCol).as("user"), col(tsCol).cast("long").as("__ts"))
      cur.join(nxt, Seq("user"), "left")
        .groupBy(("user" +: (1 to i).map(j => s"t$j")).map(col): _*)
        .agg(min(when(col("__ts") > col(s"t$i") &&
          col("__ts") <= col("t1") + windowUs, col("__ts"))).as(s"t${i + 1}"))
    }
    val counts = steps.indices.map(i =>
      count(col(s"t${i + 1}")).as(s"n${i + 1}"))
    staged.agg(counts.head, counts.tail: _*)
  }

  /** Cohort retention — the other product-analytics staple over the event
    * stream: users are bucketed into cohorts by the period of their FIRST
    * activity (`ts div periodUs`); for each (cohort, periods-since-cohort)
    * the count of distinct users active in that period. One per-user min
    * aggregate + one per-(user, period) distinct + one final hash-agg —
    * partial-aggregated throughout; a whale user with millions of events
    * costs one row per active period, never a wide group.
    */
  def retention(events: DataFrame, userCol: String, tsCol: String,
                periodUs: Long): DataFrame = {
    // exact integer div on a safely-aliased column — no raw column-name
    // interpolation (names needing backticks would break or mis-resolve)
    val base = events.select(col(userCol).as("user"),
      col(tsCol).cast("long").as("__ts"))
    val per = expr(s"__ts div $periodUs")
    val firsts = base.groupBy("user").agg(min(per).as("cohort"))
    base.select(col("user"), per.as("per")).distinct()
      .join(firsts, Seq("user"))
      .groupBy(col("cohort"), (col("per") - col("cohort")).as("offset"))
      .agg(countDistinct(col("user")).as("n_users"))
  }

  /** Grouped statistical mode: the most frequent `valueCol` per key, ties
    * broken to the smallest value (deterministic, engine-neutral). One
    * hash-agg on (key, value) + a window over the per-key value counts —
    * the aggregated side only, never the raw stream.
    */
  def modeByKey(df: DataFrame, keyCol: String, valueCol: String): DataFrame = {
    val counts = df.groupBy(col(keyCol).as("key"), col(valueCol).as("value"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("key").orderBy(col("n").desc, col("value"))
    counts.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Event-type transition matrix (user-journey Markov counts): adjacent
    * event pairs per user in (ts, tie) order → per (from, to): pair count
    * and the fixed-point transition probability ⌊10⁶·n/Σ_from⌋ — integer
    * end-to-end, so it replays exactly in SQL. One per-user sequence window
    * (the sessionize shuffle shape) + one tiny hash-agg on the pair.
    */
  def transitions(events: DataFrame, userCol: String, typeCol: String,
                  tsCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol).cast("long"), col(tieCol))
    val pairs = events
      .withColumn("__to", lead(col(typeCol), 1).over(w))
      .filter(col("__to").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("__to").as("to_type"))
      .agg(count(lit(1)).as("n"))
    pairs
      .withColumn("__tot", sum(col("n")).over(Window.partitionBy("from_type")))
      .withColumn("p_ppm", expr("n * 1000000 div __tot"))
      .drop("__tot")
  }
}
