package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end training-set assembly — the composite the individual curation
  * operators exist FOR (extension mandate; the reference stops at ingest):
  *
  *   quality gate → near-dup removal → per-language token budget.
  *
  * Every stage is the already-proven distributed shape: the quality gate is
  * map-only ([[TextAnalysis.withQualityFeatures]]); near-dup removal is
  * MinHash banding + connected components + a broadcast-able anti-join
  * ([[Dedup.dropNearDuplicates]]); the budget cap is one shuffle per
  * language partition with a streaming running-sum window over md5(id)
  * order (deterministic across engines, no full sort). Nothing is
  * driver-bound and nothing is quadratic — the chain holds at corpus scale
  * because each piece already does.
  */
object Curate {

  /** Bucket-parallel INCLUSIVE running sum of `valCol` in (md5(id), id)
    * order within `partCol` partitions — the scalable replacement for
    * `sum().over(Window.partitionBy(part).orderBy(md5(id), id))`, whose
    * single task per partition value is the one non-scalable shape a
    * running budget/packing cut otherwise forces: a low-cardinality
    * partition column (language!) funnels the whole corpus through a
    * handful of sequential window tasks.
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

  /** The curated document set: rows of `df` that (1) score at least
    * `minQuality`, (2) survive near-dup clustering as their cluster's
    * canonical (min-id) member, and (3) fit the per-`langCol` running token
    * budget in md5(id) order (cumulative count INCLUDING the candidate must
    * stay ≤ `tokenBudget`). Adds `q_n_tokens`/`quality_score` (and the
    * other q_* features) to the surviving rows.
    *
    * `langCol` must be low-cardinality (it is a language) — see the
    * broadcast-offsets precondition on [[bucketedRunningSum]].
    *
    * The survivor anti-join runs at construction (it is checkpointed) and
    * follows [[Dedup.dropNearDuplicates]]: it broadcasts the near-dup
    * losers when the dedup graph took the driver union-find and the losers
    * fit the broadcast threshold, so the gated corpus is never shuffled;
    * it shuffles the gated corpus on the id when the losers are larger or
    * the graph needed the distributed component loop.
    */
  def curateCorpus(df: DataFrame, idCol: String, textCol: String,
                   langCol: String, minQuality: Double,
                   dupThreshold: Double, tokenBudget: Long): DataFrame = {
    // The gated working set feeds several consumers (the dedup chain's
    // bucket scan and verify joins, the anti-join, the budget window);
    // without persisting it, every consumer re-runs the regex-heavy quality
    // features over the full corpus. MEMORY_AND_DISK spills at scale — the
    // classic materialize-the-filtered-working-set pattern.
    val gated = TextAnalysis.withQualityFeatures(df, textCol)
      .filter(col("quality_score") >= minQuality)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The dedup chain is already eager (the component loop runs jobs), so an
    // eager localCheckpoint of its survivor set costs one extra anti-join
    // job — and lets us RELEASE the gated cache before returning instead of
    // leaking it for the session's lifetime (repeated curations would pile
    // cached blocks up). The returned frame is backed by the checkpoint;
    // its blocks are freed by the ContextCleaner once the frame is
    // unreachable.
    val deduped = Dedup.dropNearDuplicates(gated, idCol, textCol, dupThreshold)
      .localCheckpoint()
    gated.unpersist(blocking = false)
    // Bucket-parallel running budget (see [[bucketedRunningSum]]): the bare
    // per-language window is one sequential task per language — the
    // bucketed shape keeps the same (md5(id), id) order at 256× the
    // parallelism, so the cut scales with executors, not languages.
    bucketedRunningSum(deduped, langCol, idCol,
        col("q_n_tokens").cast("long"), "__cum")
      .filter(col("__cum") <= tokenBudget)
      .drop("__cum")
  }

  /** Per-language summary of a curated set: document and token counts. */
  def curationSummary(curated: DataFrame, langCol: String): DataFrame =
    curated.groupBy(col(langCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("q_n_tokens").cast("long")).as("n_tokens"))

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
