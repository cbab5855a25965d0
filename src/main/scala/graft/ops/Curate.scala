package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, InterpretedOrdering,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, LongType, StringType,
  StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** End-to-end training-set assembly — the composite the individual curation
  * operators exist FOR (extension mandate; the reference stops at ingest):
  *
  *   quality gate → near-dup removal → per-language token budget.
  *
  * Every stage is the already-proven distributed shape: the quality gate is
  * map-only ([[TextAnalysis.withQualityFeatures]]); near-dup removal is
  * MinHash banding + connected components + a broadcast-able anti-join
  * ([[Dedup.dropNearDuplicates]]); the budget cap is a prefix cut in
  * md5(id) order ([[budgetCut]]): one small per-(language, md5-bucket)
  * aggregate decides every bucket but the one each budget falls in, the
  * driver replays that bucket's keys, and the curated rows come out of one
  * map-only filter that no exchange touches. The per-language summary
  * ([[curationSummary]]) is eager: one job, the same fold with no exchange,
  * and `langCol` must be low-cardinality for both. Nothing is quadratic and
  * no document text reaches the driver — the chain holds at corpus scale
  * because each piece already does.
  */
object Curate {

  /** Bucket-parallel INCLUSIVE running sum of `valCol` in (md5(id), id)
    * order within `partCol` partitions — the scalable replacement for
    * `sum().over(Window.partitionBy(part).orderBy(md5(id), id))`, whose
    * single task per partition value is the one non-scalable shape a
    * running packing cut otherwise forces: a low-cardinality partition
    * column (language!) funnels the whole corpus through a handful of
    * sequential window tasks. It serves callers that need EVERY row's
    * running sum — [[packSequences]] and the oracle-checked
    * `q_budget_cumsum_nulls` — and is the reference [[budgetCut]] is
    * checked against; the budget cut itself needs only the prefix the sum
    * stays within, so it does not shuffle every row through this window.
    *
    * Exactness: the bucket is the first two hex chars of md5(id) — a
    * PREFIX of the ordering key — so the global (md5, id) order equals
    * (bucket, md5, id) and a per-bucket window plus the cumulative sum of
    * all EARLIER buckets reproduces the bare window's running sum row for
    * row. The offsets table is `distinct parts × ≤257` rows (a ≤257-row
    * window per part — trivially parallel) and joins back null-safely on
    * BOTH keys, so a null partition value stays its own group (exactly as
    * `Window.partitionBy` treats it) and a null id — whose md5 and hence
    * bucket are null — stays its own FIRST bucket rather than dropping out
    * of the inner join (null sorts first under both Spark's ascending
    * order and the bare window's (md5, id) order, so the null bucket is
    * the earliest bucket and the prefix argument still holds; tied null
    * ids are RANGE-frame peers in both shapes). The big table's window
    * partitions by (part, bucket): 256× the parallelism of the bare shape,
    * and the sequential fraction per task is 1/256 of a partition instead
    * of all of it.
    *
    * PRECONDITION (scale): `partCol` must be LOW-cardinality (languages,
    * shard strata — the shapes this helper exists for). The offsets table
    * is broadcast unconditionally because it is `distinct parts × ≤257`
    * tiny rows; a high-cardinality partition column (per-domain, per-user)
    * would both blow that broadcast AND not need this helper — the bare
    * window already parallelizes across many partition values. Callers
    * with high-cardinality strata should use the bare window instead.
    *
    * Null `valCol` semantics match the bare window exactly: a null value
    * contributes nothing, and the running sum is null only while ZERO
    * non-null values precede the row in partition order — so the offsets
    * table carries both a null-proof bucket sum (coalesced to 0) and the
    * bucket's non-null count, and the final sum is nulled when the
    * cumulative non-null count is still zero.
    *
    * Returns `df` plus `outCol` (the inclusive running sum as long);
    * internal columns are dropped.
    */
  private[graft] def bucketedRunningSum(df: DataFrame, partCol: String,
                                        idCol: String, valCol: Column,
                                        outCol: String): DataFrame = {
    val keyed = df
      .withColumn("__g_md5", md5(col(idCol).cast("string")))
      .withColumn("__g_bkt", substring(col("__g_md5"), 1, 2))
      .withColumn("__g_val", valCol.cast("long"))
    val wB = Window.partitionBy(col(partCol)).orderBy(col("__g_bkt"))
    val offsets = keyed.groupBy(col(partCol), col("__g_bkt"))
      .agg(coalesce(sum(col("__g_val")), lit(0L)).as("__g_bsum"),
        count(col("__g_val")).as("__g_bnn"))
      .withColumn("__g_off", sum(col("__g_bsum")).over(wB) - col("__g_bsum"))
      .withColumn("__g_nnb", sum(col("__g_bnn")).over(wB) - col("__g_bnn"))
      .select(col(partCol).as("__g_part"), col("__g_bkt").as("__g_bkt_r"),
        col("__g_off"), col("__g_nnb"))
    val wIn = Window.partitionBy(col(partCol), col("__g_bkt"))
      .orderBy(col("__g_md5"), col(idCol))
    keyed
      .join(broadcast(offsets),
        col(partCol) <=> col("__g_part") && col("__g_bkt") <=> col("__g_bkt_r"))
      .withColumn("__g_nn", count(col("__g_val")).over(wIn))
      .withColumn(outCol,
        when(col("__g_nnb") + col("__g_nn") > 0,
          coalesce(sum(col("__g_val")).over(wIn), lit(0L)) + col("__g_off")))
      .drop("__g_md5", "__g_bkt", "__g_val", "__g_part", "__g_bkt_r",
        "__g_off", "__g_nnb", "__g_nn")
  }

  /** The rows of `df` whose INCLUSIVE running sum of `valCol` in (md5(id),
    * id) order within `partCol` is non-null and ≤ `budget` — row for row
    * what `bucketedRunningSum(df, partCol, idCol, valCol, c).filter(c <=
    * budget)` keeps, without putting any row through an exchange.
    *
    * Values are ≥ 0, so a part's running sum never falls and its kept rows
    * are one run in (md5(id), id) order. Per-bucket sums (the bucket is the
    * md5 prefix [[bucketedRunningSum]] uses) place that run to the bucket:
    *
    *   1. per (part, bucket) the value sum, non-null count, row count and
    *      min value ([[bucketSums]]: one job, a fold whose per-partition
    *      maps merge on the driver, no shuffle): ≤ parts × 257 groups, the
    *      bound of [[bucketedRunningSum]]'s offsets table;
    *   2. walking each part's buckets in order, null bucket first, a bucket
    *      is KEPT whole when the sum at its end is within the budget and
    *      none of its rows can have a null running sum; DROPPED when the
    *      sum before it is already over, or no non-null value has been
    *      seen by its end; otherwise it is a BOUNDARY bucket: the one the
    *      budget falls in, or the first bucket with a value when nulls in it
    *      may precede that value. The null bucket holds exactly the null-id
    *      rows, RANGE-frame peers that share one running sum, so the
    *      aggregate decides it and it is never a boundary;
    *   3. the boundary buckets' (md5, id, value) triples — at most two
    *      buckets per part, ≈ 1/256 of it each — are collected by one job
    *      without a shuffle, run only when some part has one, and replayed
    *      on the driver under Catalyst's own ordering of the window's keys,
    *      peers together, leaving one (md5, id) key range per bucket.
    *
    * The result is a single map-only filter: per part (matched null-safely),
    * its run of kept buckets or a boundary bucket's key range.
    *
    * PRECONDITION: `valCol` is never negative (token counts are not). The
    * fold's min checks it at no extra job and a negative value fails.
    * `partCol` is low-cardinality, as for [[bucketedRunningSum]].
    */
  private[graft] def budgetCut(df: DataFrame, partCol: String, idCol: String,
                               valCol: Column, budget: Long): DataFrame = {
    val keyed = df.withColumn("__g_md5", md5(col(idCol).cast("string")))
      .withColumn("__g_bkt", substring(col("__g_md5"), 1, 2))
    val v = valCol.cast("long")
    val sumRows = keyed.select(col(partCol), col("__g_bkt"), v)
    val buckets = bucketSums(sumRows)
    buckets.find(_.min.exists(_ < 0)).foreach { b =>
      throw new IllegalArgumentException(s"budgetCut needs non-negative " +
        s"values; $partCol = ${b.part} holds ${b.min.get}")
    }
    def partIs(p: Any): Column =
      if (p == null) col(partCol).isNull else col(partCol) === lit(p)
    // parts group on the driver as the fold grouped them (see groupKey)
    val partType = sumRows.schema.head.dataType
    val partKey = groupKey(Seq(partType))
    val toCatalystPart = CatalystTypeConverters.createToCatalystConverter(partType)
    def keyOf(p: Any): UnsafeRow = partKey(InternalRow(toCatalystPart(p))).copy()
    val bkt = col("__g_bkt")
    val kept = Seq.newBuilder[Column]
    // (part key, bucket) -> (part, sum before the bucket, non-null values
    // before it)
    val boundary = Map.newBuilder[(UnsafeRow, String), (Any, Long, Long)]
    buckets.groupBy(b => keyOf(b.part)).foreach { case (k, bs) =>
      val p = bs.head.part
      var off, nnBefore = 0L
      val run = Seq.newBuilder[String]
      bs.sortBy(b => Option(b.bkt)).foreach { case BucketSum(_, b, bsum, nn, n, _) =>
        if (off <= budget && nnBefore + nn > 0) {
          if (off + bsum <= budget && (b == null || nnBefore > 0 || nn == n)) run += b
          else if (b != null) boundary += (k, b) -> (p, off, nnBefore)
        }
        off = Math.addExact(off, bsum)
        nnBefore += nn
      }
      // the running sum never falls, so the kept buckets are one run
      val (nulls, named) = run.result().partition(_ == null)
      val inRun = named.headOption.map(bkt.between(_, named.last)) ++
        nulls.headOption.map(_ => bkt.isNull)
      if (inRun.nonEmpty) kept += partIs(p) && inRun.reduce(_ || _)
    }
    val bounds = boundary.result()
    val ranges = if (bounds.isEmpty) Nil else {
      val idType = df.select(col(idCol)).schema.head.dataType
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(idType)
      val order = InterpretedOrdering.forSchema(Seq(StringType, idType))
      def key(m: String, id: Any): InternalRow =
        InternalRow(UTF8String.fromString(m), toCatalyst(id))
      def atLeast(m: String, id: Any) =
        col("__g_md5") > m || (col("__g_md5") === m && col(idCol) >= lit(id))
      def atMost(m: String, id: Any) =
        col("__g_md5") < m || (col("__g_md5") === m && col(idCol) <= lit(id))
      keyed.filter(bounds.map { case ((_, b), (p, _, _)) => partIs(p) && bkt === b }
          .reduce(_ || _))
        .select(col(partCol), bkt, col("__g_md5"), col(idCol), v).collect()
        .groupBy(r => (keyOf(r.get(0)), r.getString(1))).toSeq.flatMap { case (kb, rows) =>
          val b = kb._2
          val (p, before, nnBefore) = bounds(kb)
          var cum = before
          var nn = nnBefore
          var lo, hi: Option[(String, Any)] = None
          val sorted = rows.map(r => (key(r.getString(2), r.get(3)), r)).sortBy(_._1)(order)
          // RANGE frame: a row's sum includes its peers (equal keys)
          var i = 0
          while (i < sorted.length) {
            var j = i
            while (j < sorted.length && order.equiv(sorted(j)._1, sorted(i)._1)) {
              val r = sorted(j)._2
              if (!r.isNullAt(4)) { cum += r.getLong(4); nn += 1 }
              j += 1
            }
            if (nn > 0 && cum <= budget) {
              val k = (sorted(i)._2.getString(2), sorted(i)._2.get(3))
              if (lo.isEmpty) lo = Some(k)
              hi = Some(k)
            }
            i = j
          }
          for (l <- lo; h <- hi) yield partIs(p) && bkt === b &&
            atLeast(l._1, l._2) && atMost(h._1, h._2)
        }
    }
    keyed.filter((kept.result() ++ ranges).reduceOption(_ || _).getOrElse(lit(false)))
      .drop("__g_md5", "__g_bkt")
  }

  /** One (part, bucket) group of [[budgetCut]]: the sum of the values (0
    * when none is non-null), how many are non-null, the row count, and the
    * least value (None when none is non-null).
    */
  private[graft] final case class BucketSum(part: Any, bkt: String, sum: Long,
                                            nonNull: Long, rows: Long, min: Option[Long])

  /** [[BucketSum]]s of (part, bucket, long value) rows — the rows of
    * `groupBy(part, bucket).agg(coalesce(sum(v), 0), count(v), count(1),
    * min(v))` — as one fold: each partition sums into a map keyed by the
    * group, the driver merges the maps. One job, nothing shuffled, no
    * hash-aggregate page; the maps hold ≤ parts × 257 entries. Keys group
    * as Spark groups them ([[groupKey]]): a binary part compares by
    * content, every NaN is one group, and 0.0 and -0.0 are one. A map is
    * keyed by a copy of the key's row, made only when the group is new, and
    * each key becomes a Scala value once, on the driver. A sum past
    * `Long.MaxValue` throws `ArithmeticException`, as ANSI `sum` does.
    */
  private[graft] def bucketSums(rows: DataFrame): Seq[BucketSum] = {
    val partType = rows.schema.head.dataType
    val keyTypes = Seq(partType, StringType)
    type Sums = scala.collection.mutable.HashMap[UnsafeRow, Array[Long]]
    // per group: sum, non-null count, row count, min
    def merge(m: Sums, o: Sums): Sums = {
      o.foreach { case (k, x) =>
        m.get(k) match {
          case None => m(k) = x
          case Some(s) =>
            s(0) = Math.addExact(s(0), x(0)); s(1) += x(1); s(2) += x(2)
            s(3) = math.min(s(3), x(3))
        }
      }
      m
    }
    val toScala = CatalystTypeConverters.createToScalaConverter(partType)
    rows.queryExecution.toRdd.mapPartitions { it =>
      val key = groupKey(keyTypes)
      val m = new Sums
      it.foreach { r =>
        val k = key(r)
        val s = m.getOrElse(k, {
          val s = Array(0L, 0L, 0L, Long.MaxValue)
          m(k.copy()) = s // the projection reuses its row
          s
        })
        s(2) += 1
        if (!r.isNullAt(2)) {
          val x = r.getLong(2)
          s(0) = Math.addExact(s(0), x); s(1) += 1; s(3) = math.min(s(3), x)
        }
      }
      Iterator.single(m)
    }.treeAggregate(new Sums)(merge, merge, 1).toSeq.map { case (k, s) =>
      BucketSum(toScala(k.get(0, partType)), if (k.isNullAt(1)) null else k.getString(1),
        s(0), s(1), s(2), if (s(1) > 0) Some(s(3)) else None)
    }
  }

  /** The key Spark groups the leading `types` columns of a row by: an
    * UnsafeRow of them, a float or double normalized as the planner
    * normalizes a grouping key (`NormalizeNaNAndZero`: every NaN one value,
    * -0.0 as 0.0). Keys that group together are then equal bytes, so a
    * binary key compares by content. Floats nested in a struct or array
    * are not normalized: a part is a language or a stratum. The projection
    * reuses its output row.
    */
  private def groupKey(types: Seq[DataType]): UnsafeProjection =
    UnsafeProjection.create(types.zipWithIndex.map { case (t, i) =>
      val c = BoundReference(i, t, nullable = true)
      t match {
        case FloatType | DoubleType => NormalizeNaNAndZero(c)
        case _ => c
      }
    })

  /** The curated document set: rows of `df` that (1) score at least
    * `minQuality`, (2) survive near-dup clustering as their cluster's
    * canonical (min-id) member, and (3) fit the per-`langCol` running token
    * budget in md5(id) order (cumulative count INCLUDING the candidate must
    * stay ≤ `tokenBudget`). Adds `q_n_tokens`/`quality_score` (and the
    * other q_* features) to the surviving rows.
    *
    * `langCol` must be low-cardinality (it is a language) — see the
    * precondition on [[budgetCut]].
    *
    * The budget is a prefix cut ([[budgetCut]]): construction runs one
    * fold over the survivors (per language and md5 bucket sums, merged on
    * the driver, no shuffle), which also fills their checkpoint, and,
    * when some language's budget falls inside a bucket, one job without a
    * shuffle that collects that bucket's (md5, id, token count) keys. The
    * returned frame is a single map-only filter of the checkpointed
    * survivors: no curated row crosses an exchange, however many of its
    * columns the caller keeps. Token counts are never negative, which the
    * cut's exactness relies on; a negative one would fail at construction.
    *
    * The eager dedup steps before it run no job that only fills a cache a
    * second time or counts rows nobody reads: the duplication probe is one
    * fold that also fills the gated cache, and the dedup chain fills each
    * of its caches once with [[Materialize.fill]] before a query reads it
    * (see [[Dedup.minhashPerDoc]]). No checkpoint on the per-document path
    * runs a job of its own either: the component step's pair table and
    * labels and the survivors are each filled by the job that first reads
    * them ([[Materialize.checkpoint]]).
    *
    * The survivor anti-join runs at construction, inside that fold (its
    * broadcast or exchanges run before it, when the checkpoint is built),
    * and follows [[Dedup.dropNearDuplicates]]: it broadcasts the near-dup
    * losers when the dedup graph took the driver union-find and the losers
    * fit the broadcast threshold, so the gated corpus is never shuffled;
    * it shuffles the gated corpus on the id when the losers are larger or
    * the graph needed the distributed component loop.
    */
  def curateCorpus(df: DataFrame, idCol: String, textCol: String,
                   langCol: String, minQuality: Double,
                   dupThreshold: Double, tokenBudget: Long): DataFrame = {
    // The survivors are checkpointed, and the budget's per-bucket fold is
    // the job that first reads them whole, so it fills the checkpoint
    // (Materialize.checkpoint) instead of a job of its own. That fold runs
    // inside the scope: until it has run the survivors read the gated
    // cache, and outside the scope they would recompute the quality
    // features from the input. The scope then RELEASES the gated cache
    // before returning instead of leaking it for the session's lifetime
    // (repeated curations would pile cached blocks up). The returned frame
    // reads the checkpoint; its blocks are freed by the ContextCleaner once
    // the frame is unreachable.
    Materialize.scoped {
      // The gated working set feeds several consumers (the dedup chain's
      // bucket scan and verify joins, the anti-join); without persisting
      // it, every consumer re-runs the regex-heavy quality features over
      // the full corpus. MEMORY_AND_DISK spills at scale — the classic
      // materialize-the-filtered-working-set pattern.
      val gated = Materialize.persist(TextAnalysis.withQualityFeatures(df, textCol)
        .filter(col("quality_score") >= minQuality))
      val deduped = Materialize.checkpoint(
        Dedup.dropNearDuplicates(gated, idCol, textCol, dupThreshold))
      // The running budget keeps a prefix in (md5(id), id) order, so
      // per-bucket sums answer it and only the bucket it falls in is
      // replayed (see [[budgetCut]]): the survivors are filtered where
      // they lie.
      budgetCut(deduped, langCol, idCol, col("q_n_tokens"), tokenBudget)
    }
  }

  /** Per-language summary of a curated set: document and token counts —
    * the rows and schema of `groupBy(langCol).agg(count(lit(1)) as n_docs,
    * sum(q_n_tokens as long) as n_tokens)`, as a local relation.
    *
    * It is eager: construction runs one job, the [[bucketSums]] fold with
    * every row in the null bucket, so nothing is shuffled and no
    * hash-aggregate page is reserved; `collect()` on the result runs no
    * job. `n_tokens` is null for a language with no non-null count, and an
    * overflowing sum throws `ArithmeticException`, as ANSI `sum` does.
    *
    * `langCol` must be low-cardinality (it is a language): every group
    * reaches the driver, as for [[budgetCut]].
    */
  def curationSummary(curated: DataFrame, langCol: String): DataFrame = {
    val rows = curated.select(col(langCol), lit(null).cast(StringType),
      col("q_n_tokens").cast(LongType))
    val schema = StructType(Seq(rows.schema.head,
      StructField("n_docs", LongType, nullable = false), StructField("n_tokens", LongType)))
    curated.sparkSession.createDataFrame(bucketSums(rows).map { g =>
      Row(g.part, g.rows, if (g.nonNull > 0) g.sum else null)
    }.asJava, schema)
  }

  /** Deterministic train/val/test corpus split: the id's md5-fraction is
    * compared against cumulative thresholds, so every row gets exactly ONE
    * label, the same label on every run/engine/cluster, and resizing a
    * fraction moves only boundary documents (nested like [[TextAnalysis
    * .sampleMixture]]'s samples). Map-only codegen'd expression — the
    * eval-leakage-proof split every training pipeline needs (membership is
    * a pure function of the id, so a doc can never drift between train
    * and test across reruns or incremental additions).
    */
  def splitCorpus(df: DataFrame, idCol: String,
                  splits: Seq[(String, Double)]): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0), "need positive fractions")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9, "fractions must sum to 1")
    val frac = conv(substring(md5(col(idCol).cast("string")), 1, 7), 16, 10)
      .cast("double") / lit((1L << 28).toDouble)
    val cums = splits.scanLeft(0.0)(_ + _._2).tail
    val label = splits.init.zip(cums.init).foldRight(
      lit(splits.last._1): Column) { case (((name, _), cum), rest) =>
      when(frac < cum, name).otherwise(rest)
    }
    df.withColumn("split", label)
  }

  /** Training-sequence packing accounting (concat-and-chunk, the standard
    * LLM-pretraining layout): within each `partitionCol` stratum, documents
    * are laid out in deterministic md5(id) order and the token stream is cut
    * every `seqLen` tokens; a document belongs to the sequence its FIRST
    * token lands in. Returns one row per sequence: doc count, token count,
    * and first/last doc id — the shard manifest a packing job would emit.
    *
    * Shape: one shuffle on the stratum key, a streaming running-sum window
    * (no full sort — rank within partitions), one hash aggregate. The
    * stratum key bounds window parallelism exactly like `sampleStratified`;
    * at 100 TB the stratum is (language × shard), never a global window.
    * All arithmetic is exact integers — the DuckDB oracle replays it.
    *
    * `partitionCol` must be low-cardinality (language, language × shard) —
    * see the broadcast-offsets precondition on [[bucketedRunningSum]]; a
    * per-domain stratum belongs in the bare window shape instead.
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    partitionCol: String, seqLen: Long): DataFrame = {
    val nt = TextAnalysis.tokenCount(col(textCol)).cast("long")
    // Bucket-parallel cumsum (see [[bucketedRunningSum]]): every row needs
    // its running total here, so the bare per-stratum window's sequential
    // task would carry the whole stratum — the bucketed shape cuts that
    // to 1/256 per task with identical totals.
    bucketedRunningSum(
        df.select(col(partitionCol), col(idCol), nt.as("nt")),
        partitionCol, idCol, col("nt"), "__cum")
      .withColumn("__start", col("__cum") - col("nt")) // exclusive cumsum
      .withColumn("seq_no", floor(col("__start") / lit(seqLen)).cast("long"))
      .groupBy(col(partitionCol).as("stratum"), col("seq_no"))
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"),
        min(col(idCol)).as("min_id"), max(col(idCol)).as("max_id"))
  }
}
