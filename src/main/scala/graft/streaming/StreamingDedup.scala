package graft.streaming

import graft.ops.{Bloom, Dedup}
import graft.ops.TextAnalysis.fingerprintMd5
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuous-crawl deduplication at ingest (SURVEY §7.5 extension): each
  * micro-batch drops exact AND MinHash-banded near-duplicates against the
  * standing corpus BEFORE anything is appended — the online face of
  * [[graft.ops.Dedup.dedupKeepFirst]] + [[graft.ops.Dedup.dropNearDuplicates]],
  * the one LLM-pipeline shape (crawl streams in, only novel documents
  * accumulate) the engine previously had only in batch form.
  *
  * Standing state is a parquet dedup INDEX, not the corpus text:
  *   - `indexDir/fp`:      (id, fp)            — md5 content fingerprints
  *   - `indexDir/buckets`: (id, band, bkey)    — LSH band keys (bigint)
  *   - `indexDir/sig`:     (id, sig)           — full MinHash signatures
  * so the per-document state is a few hundred bytes however large the
  * documents are. Admission per micro-batch:
  *
  *   1. exact dedup WITHIN the batch (min-id per fingerprint);
  *   2. exact dedup vs the index via [[Bloom.antiJoinPrefiltered]] — a
  *      Bloom-negative fingerprint is DEFINITELY new and skips the
  *      anti-join entirely, so a mostly-novel batch shuffles almost
  *      nothing against the corpus-scale fingerprint set;
  *   3. near-dup dedup WITHIN the batch (exact-Jaccard-verified, the batch
  *      operator itself);
  *   4. near-dup vs the index: the batch's band keys equi-join the standing
  *      bucket table — the BATCH side broadcasts (micro-batches are small),
  *      so the corpus-scale index is never shuffled — and candidates are
  *      verified by MinHash signature agreement (fraction of equal
  *      components, the unbiased Jaccard estimator) at `threshold`;
  *   5. survivors' index rows append; survivors return to the caller.
  *
  * Near-dup-vs-corpus verification is the signature ESTIMATE, not exact
  * shingle Jaccard — the index stores no text, which is what keeps the
  * standing state corpus-size-independent (production crawl dedup makes the
  * same trade; with H=16 components the estimator's σ is ~0.12 at J=0.5, so
  * size H to the false-drop rate you want, or re-verify candidates against
  * the corpus store downstream). Admission is GREEDY-online: on a transitive
  * chain A~B~C (A admitted, B dropped vs A, C similar only to B), batch CC
  * keeps {A} while the stream admits {A, C} — B was never indexed. That is
  * the standard online semantics; the convergence spec pins both the
  * agreeing cases and this one deliberate divergence.
  *
  * At 100 TB the per-batch cost is one scan of the bucket/fp index (probed
  * map-side against the broadcast batch). The index is TIERED to keep that
  * scan from degrading as batches accrete: per-batch appends land in the
  * live tables (`fp`/`buckets`/`sig` — 3 small files per micro-batch, the
  * classic small-files curve), and [[compactIndex]] periodically folds the
  * live tail into big-file base tables (`fp_c`/`buckets_c`/`sig_c`);
  * admission reads the union. The bucket base is additionally partitioned
  * by `bp = pmod(bkey, pruneBuckets)`, and admission filters the base
  * read to the batch's own `bp` values — genuine partition pruning, so a
  * trickle batch (the steady-state crawl shape) opens ~|batch bps| of the
  * base's `pruneBuckets` partitions instead of the whole corpus index; a
  * bulk batch degrades gracefully to the full scan its size already
  * amortizes.
  *
  * Index format: `bkey` is the 64-bit key of [[graft.ops.Dedup.lshBands]].
  * An index written while band keys were md5 hex strings (bucket base
  * partitioned by `crc32(bkey)`) is refused by admission — its keys can
  * never equal a 64-bit key: the probe would fail casting md5 hex to
  * bigint under ANSI, or match nothing and admit every near-duplicate
  * without it — and [[compactIndex]] upgrades it in place.
  */
object StreamingDedup {

  /** The bucket base's prune modulus lives in a `_prune_buckets` sidecar
    * INSIDE `buckets_c`, so the rename that publishes a compaction swaps
    * the modulus atomically with the data it describes — admission can
    * never prune new-layout partitions with a stale modulus. */
  private def pruneSidecar(bucketsBase: String) =
    new org.apache.hadoop.fs.Path(s"$bucketsBase/_prune_buckets")

  private def bpCol(bkey: org.apache.spark.sql.Column, n: Int) =
    pmod(bkey, lit(n.toLong))

  /** True for a bucket table written with md5 hex band keys. */
  private def textKeyed(buckets: DataFrame): Boolean =
    buckets.schema("bkey").dataType == org.apache.spark.sql.types.StringType

  /** Read a parquet dir, deciding "no committed rows" by LOOKING, not by
    * catching: a dir holding only an uncommitted write attempt
    * (`_temporary`, `_SUCCESS`, dotfiles, no data files) reads as absent,
    * but any actual read failure (corrupt footer, transient FS error,
    * permissions) PROPAGATES and fails the caller — a micro-batch that
    * fails is retried by streaming; one that silently treats the index as
    * absent admits duplicates. Single source of truth for every index
    * read (admission live, admission base, compaction). */
  private def readIfData(spark: SparkSession, dir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hasData(d: org.apache.hadoop.fs.Path): Boolean =
      fs.listStatus(d).exists { st =>
        val n = st.getPath.getName
        !(n.startsWith("_") || n.startsWith(".")) &&
          (st.isFile || hasData(st.getPath))
      }
    if (!fs.exists(p) || !hasData(p)) None
    else Some(spark.read.parquet(dir))
  }

  private def unionOpt(a: Option[DataFrame], b: Option[DataFrame]): Option[DataFrame] =
    (a, b) match {
      case (Some(x), Some(y)) => Some(x.unionByName(y))
      case _                  => a.orElse(b)
    }

  /** Fold the live per-batch index appends into the compacted base tables.
    * Run OFFLINE after a CLEAN stream stop (checkpoint committed — base
    * rows carry no batch id, so a batch compacted and then replayed would
    * anti-join against its own fingerprints; same single-writer discipline
    * as [[graft.ops.Corpus.compact]]). `fp_c`/`sig_c` are
    * rewritten as ~`rowsPerFile`-row files; `buckets_c` is partitioned by
    * `bp = pmod(bkey, pruneBuckets)` and sorted by `bkey` within
    * partitions so admission prunes partitions AND row-group stats stay
    * tight.
    *
    * Format upgrade: when either bucket table still holds md5 hex band keys
    * (see the object doc), the bucket rows are rebuilt from the signature
    * tables instead of merged — the index stores every full signature, so
    * no text is needed — and `buckets_c` is written in the bigint format
    * with a fresh prune sidecar. The band count comes from the old rows.
    *
    * Crash safety leans on admission semantics plus an explicit rollback,
    * not locking: the publish order per table is write-tmp → move base
    * aside → swap tmp in → delete aside → delete live, and a re-run first
    * ROLLS BACK an interrupted swap (base absent + `*_old` present →
    * rename the aside copy back) before deleting scratch dirs — so no
    * reachable crash state ever LOSES index rows; states can only
    * duplicate rows across live+base, which admission is insensitive to
    * (candidate pairs are `.distinct()`ed, the fingerprint anti-join is
    * idempotent). A crashed compaction is repaired by re-running it.
    */
  def compactIndex(spark: SparkSession, indexDir: String,
                   pruneBuckets: Int = 64,
                   rowsPerFile: Long = 4000000L): Unit = {
    require(pruneBuckets > 0, "pruneBuckets must be positive")
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def readAll(dir: String): Option[DataFrame] =
      readIfData(spark, dir).map { df =>
        // live tables carry the replay partition column; base tables carry
        // the prune partition column — neither is index data
        df.drop(Seq("bid", "bp").filter(df.columns.contains): _*)
      }
    // Dedup on the table's key so re-compaction CONVERGES: a crash after
    // publish() but before the live-dir delete leaves the live rows both
    // in the new base and still on disk — without the key-dedup the next
    // run would bake those duplicates into the base permanently, and
    // repeated crash cycles would compound index size (admission is
    // decision-insensitive to duplicates, but not cost-insensitive).
    def merged(parts: Seq[DataFrame], key: Seq[String]): Option[DataFrame] =
      parts.reduceOption(_ unionByName _).map(_.dropDuplicates(key))
    def liveAndBase(t: String): Seq[DataFrame] =
      Seq(readAll(s"$indexDir/$t"), readAll(s"$indexDir/${t}_c")).flatten
    def rebuiltBuckets(parts: Seq[DataFrame]): Option[DataFrame] = {
      val sigs = merged(liveAndBase("sig"), Seq("id"))
      val numHashes = sigs.flatMap(_.select(size(col("sig"))).head(1).headOption)
        .map(_.getInt(0))
      val bands = parts.map(_.agg(max(col("band"))).head())
        .filterNot(_.isNullAt(0)).map(_.getInt(0) + 1).maxOption
      (sigs, numHashes, bands) match {
        case (Some(sg), Some(h), Some(b)) =>
          Some(sg.select(col("id"),
            posexplode(Dedup.lshBands(col("sig"), h, b)).as(Seq("band", "bkey"))))
        case (_, None, None) => // no rows on either side: an empty new-format table
          Some(parts.head.select(col("id"), col("band"),
            lit(null).cast("bigint").as("bkey")).limit(0))
        case _ => throw new IllegalStateException(
          s"dedup index at $indexDir is inconsistent: its text-keyed bucket " +
            s"rows cannot be rebuilt without both bucket and signature rows — " +
            s"rebuild the index or restore $indexDir/sig")
      }
    }
    def publish(df: DataFrame, base: String, partitioned: Boolean): Unit = {
      val tmp = new org.apache.hadoop.fs.Path(base + "_compacting")
      val old = new org.apache.hadoop.fs.Path(base + "_old")
      val baseP = new org.apache.hadoop.fs.Path(base)
      fs.delete(tmp, true); fs.delete(old, true)
      // localCheckpoint: the plan reads the very dirs the renames below
      // move — sever lineage first or the swap races the scan
      val m = df.localCheckpoint(true)
      val files = math.max(1,
        math.ceil(m.count().toDouble / rowsPerFile).toInt)
      if (partitioned) {
        m.withColumn("bp", bpCol(col("bkey"), pruneBuckets))
          .repartition(math.max(files, pruneBuckets), col("bp"))
          .sortWithinPartitions("bp", "bkey")
          .write.partitionBy("bp").parquet(tmp.toString)
        val out = fs.create(pruneSidecar(tmp.toString), true)
        try out.write(pruneBuckets.toString.getBytes("UTF-8"))
        finally out.close()
      } else m.repartition(files).write.parquet(tmp.toString)
      if (fs.exists(baseP) && !fs.rename(baseP, old))
        sys.error(s"compactIndex: cannot move $baseP aside")
      if (!fs.rename(tmp, baseP)) {
        if (fs.exists(old)) fs.rename(old, baseP)
        sys.error(s"compactIndex: cannot publish $tmp")
      }
      fs.delete(old, true)
    }
    Seq(("fp", false, Seq("id", "fp")),
        ("buckets", true, Seq("id", "band", "bkey")),
        ("sig", false, Seq("id"))).foreach {
      case (t, part, key) =>
        val base = s"$indexDir/${t}_c"
        // ROLLBACK FIRST: a crash between publish's two renames leaves the
        // base aside under *_old and the new copy under *_compacting; if
        // the deletes at the top of publish() ran before this check, the
        // only surviving copies of previously-compacted rows would be
        // destroyed and admission would silently re-admit their documents.
        val baseP = new org.apache.hadoop.fs.Path(base)
        val oldP = new org.apache.hadoop.fs.Path(base + "_old")
        if (!fs.exists(baseP) && fs.exists(oldP) &&
          !fs.rename(oldP, baseP))
          sys.error(s"compactIndex: cannot roll back $oldP to $baseP")
        val parts = liveAndBase(t)
        (if (part && parts.exists(textKeyed)) rebuiltBuckets(parts)
         else merged(parts, key)).foreach { df =>
          publish(df, base, part)
          fs.delete(new org.apache.hadoop.fs.Path(s"$indexDir/$t"), true)
        }
    }
  }

  /** Admit a micro-batch (`idCol` long, `textCol` string) against the
    * standing index at `indexDir`, appending survivors' index entries.
    * Returns the admitted rows (original batch columns). Batch-only API —
    * call from `foreachBatch` (see [[start]]) or directly in tests.
    *
    * `batchId = Some(n)` makes the index writes IDEMPOTENT under
    * foreachBatch replay (Structured Streaming is at-least-once): each
    * table writes its batch's rows into a `bid=n` partition subdir with
    * mode=overwrite, and index READS exclude `bid = n` — so a replayed
    * batch never anti-joins against its own half-written fingerprints
    * (which would silently drop the whole batch from the corpus), and a
    * crash between the three table writes is healed by the replay's
    * overwrite. Pass None only for one-shot batch use (plain appends, no
    * replay safety); don't mix the two modes on one `indexDir` — partition
    * discovery needs the layout to be uniform.
    */
  def admitBatch(spark: SparkSession, batch: DataFrame, idCol: String,
                 textCol: String, indexDir: String, threshold: Double,
                 numHashes: Int = 16, bands: Int = 4,
                 shingleSize: Int = 5, batchId: Option[Long] = None): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val fpDir = s"$indexDir/fp"
    val bucketDir = s"$indexDir/buckets"
    val sigDir = s"$indexDir/sig"
    // live tables: exclude the current batch's own (possibly half-written)
    // rows under replay — see the batchId contract above. Emptiness and
    // failure semantics come from readIfData.
    def readIf(dir: String): Option[DataFrame] =
      readIfData(spark, dir).map { df =>
        if (df.columns.contains("bid"))
          batchId.fold(df.drop("bid"))(b => df.filter(col("bid") =!= b).drop("bid"))
        else df
      }
    def writeIdx(df: DataFrame, dir: String): Unit = batchId match {
      case Some(b) => df.write.mode("overwrite").parquet(s"$dir/bid=$b")
      case None    => df.write.mode("append").parquet(dir)
    }
    // Compacted base tables (see [[compactIndex]]): no bid — their rows are
    // strictly from batches before the live tail. `prune` filters the
    // bucket base to the batch's own bp partitions BEFORE dropping the
    // partition column, so the filter is partition pruning, not a scan.
    def readBase(table: String,
                 prune: Option[org.apache.spark.sql.Column] = None): Option[DataFrame] =
      readIfData(spark, s"$indexDir/${table}_c").map { df =>
        val pruned = prune.fold(df)(df.filter)
        if (pruned.columns.contains("bp")) pruned.drop("bp") else pruned
      }
    /** The bucket base's own prune modulus (atomic with its data). */
    def pruneN: Option[Int] = {
      val p = pruneSidecar(s"$indexDir/buckets_c")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt)
        finally in.close()
      }
    }

    // 1. exact within batch
    val withFp = batch.withColumn("__fp", fingerprintMd5(col(textCol)))
    val exactB = Dedup.dedupKeepFirst(withFp, idCol, Seq("__fp"))
    // 2. exact vs index (Bloom prefilter: definitely-new rows skip the join)
    val exactC = unionOpt(readIf(fpDir), readBase("fp")) match {
      case Some(fps) => Bloom.antiJoinPrefiltered(exactB, "__fp", fps, "fp")
      case None      => exactB
    }
    // 3. near-dup within batch (exact-verified batch semantics)
    val pruneNv = pruneN
    val nearB0 = Dedup.dropNearDuplicates(exactC.drop("__fp"), idCol, textCol,
      threshold, numHashes, bands, shingleSize)
      .withColumn("__fp", fingerprintMd5(col(textCol)))
    // when a compacted base exists, the bp-pruning collect below is an
    // EAGER job over the batch pipeline — materialize the batch-sized
    // survivor set once so that job and the survivors job don't each
    // re-run the whole scan→fingerprint→anti-join→near-dup lineage
    val nearB = if (pruneNv.isDefined) nearB0.localCheckpoint(true) else nearB0
    // 4. near-dup vs index: broadcast the batch buckets; estimate Jaccard
    //    from stored signatures. The bucket base read is pruned to the
    //    batch's bp partitions — collecting them is a job over the (small)
    //    batch that yields at most pruneBuckets longs.
    val batchBuckets = Dedup.lshBuckets(nearB, idCol, textCol,
      numHashes, bands, shingleSize)
    val prunedBase = pruneNv match {
      case Some(n) =>
        val bps = batchBuckets.select(bpCol(col("bkey"), n).as("bp"))
          .distinct().collect().map(_.getLong(0)).toSeq
        readBase("buckets", Some(col("bp").isin(bps: _*)))
      case None => readBase("buckets")
    }
    val idxBucketParts = Seq(readIf(bucketDir), prunedBase).flatten
    val idxSigOpt = unionOpt(readIf(sigDir), readBase("sig"))
    // Text band keys never equal a 64-bit key (see the object doc). Buckets
    // without signatures fall through to the inconsistency error below:
    // compactIndex cannot rebuild those.
    if (idxSigOpt.isDefined && idxBucketParts.exists(textKeyed))
      throw new IllegalStateException(
        s"dedup index at $indexDir stores md5 text band keys, an older " +
          s"format that 64-bit band keys cannot probe — run " +
          s"StreamingDedup.compactIndex on it to rebuild its buckets")
    val survivors = (idxBucketParts.reduceOption(_ unionByName _),
        idxSigOpt) match {
      case (Some(idxBuckets), Some(idxSig)) =>
        val bBuckets = batchBuckets
        val cand = idxBuckets
          .join(broadcast(bBuckets.withColumnRenamed("id", "bid")),
            Seq("band", "bkey"))
          .select(col("bid"), col("id").as("cid")).distinct()
        val bSig = nearB.select(col(idCol).as("bid"),
          Dedup.minhashSignature(col(textCol), numHashes, shingleSize).as("bsig"))
        val dropIds = cand
          .join(broadcast(bSig), "bid")
          .join(idxSig.withColumnRenamed("id", "cid")
            .withColumnRenamed("sig", "csig"), "cid")
          .withColumn("agree",
            size(filter(zip_with(col("bsig"), col("csig"), _ === _),
              x => x)).cast("double") / numHashes)
          .filter(col("agree") >= threshold)
          .select(col("bid").as(idCol)).distinct()
        nearB.join(dropIds, Seq(idCol), "left_anti")
      case (Some(idxBuckets), None) =>
        // bucket rows whose signatures are missing cannot be verified —
        // that's an inconsistent index (a crash between the two appends in
        // non-batch-keyed mode, or external damage), not a fresh one. An
        // all-bid=current bucket table filtered down to nothing is the one
        // benign shape (first batch's replay after a mid-write crash).
        if (idxBuckets.isEmpty) nearB
        else throw new IllegalStateException(
          s"dedup index at $indexDir is inconsistent: bucket table has rows " +
            s"but the signature table is missing — rebuild the index or " +
            s"restore $indexDir/sig")
      case (None, Some(idxSig)) =>
        // the mirror image: signatures without a bucket table cannot arise
        // from the fp→buckets→sig write order, but external damage produces
        // it just as easily — same inconsistency, same refusal to silently
        // skip near-dup dedup.
        if (idxSig.isEmpty) nearB
        else throw new IllegalStateException(
          s"dedup index at $indexDir is inconsistent: signature table has " +
            s"rows but the bucket table is missing — rebuild the index or " +
            s"restore $indexDir/buckets")
      case (None, None) => nearB
    }

    // 5. append survivors' index entries, return survivors.
    //    MATERIALIZE FIRST (eager localCheckpoint severs the lineage from
    //    the index paths): the survivors' plan READS fp/buckets/sig, and
    //    each append below refreshes caches/file-indexes on those paths —
    //    a lazy plan would re-resolve AFTER the appends, anti-join the
    //    batch against its own freshly-written fingerprints, and return
    //    empty. The checkpointed RDD is immune to the self-read cycle.
    val s = survivors.localCheckpoint(true)
    writeIdx(s.select(col(idCol).as("id"), col("__fp").as("fp")), fpDir)
    writeIdx(Dedup.lshBuckets(s, idCol, textCol, numHashes, bands, shingleSize),
      bucketDir)
    writeIdx(s.select(col(idCol).as("id"),
      Dedup.minhashSignature(col(textCol), numHashes, shingleSize).as("sig")),
      sigDir)
    s.drop("__fp")
  }

  /** Continuous deduped ingest: text files landing in `landingDir` flow
    * through [[admitBatch]] (vs the index at `indexDir`) and only the
    * admitted documents enter the corpus via the idempotent
    * [[StreamingIngest.ingestBatchOnce]] marker discipline. Batch ids seed
    * document ids so arrival order is the dedup precedence, exactly like
    * the batch operators' min-id rule.
    */
  def start(spark: SparkSession, landingDir: String, corpusDir: String,
            indexDir: String, checkpointDir: String, threshold: Double,
            numHashes: Int = 16, bands: Int = 4,
            shingleSize: Int = 5): StreamingQuery = {
    val lines = spark.readStream.format("text").load(landingDir)
      .filter(length(trim(col("value"))) > 0)
      .select(col("value").as("content"))
    lines.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime("2 seconds"))
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        // arrival-ordered ids, unique across micro-batches: batch id in the
        // high bits. Mono ids are partition<<33 + row, so a batch read with
        // >=128 input partitions would overflow 2^40 into the NEXT batch's
        // id space — coalesce below that first (micro-batches are small;
        // 64 partitions keeps mono ids < 65<<33, far under 2^40, and
        // leaves 2^23 batch ids before the sign bit)
        val withId = b.coalesce(64).withColumn("__id",
          lit(batchId << 40) + monotonically_increasing_id())
        val admitted = admitBatch(spark, withId, "__id", "content",
          indexDir, threshold, numHashes, bands, shingleSize,
          batchId = Some(batchId))
        StreamingIngest.ingestBatchOnce(spark, admitted.drop("__id"),
          corpusDir, batchId)
        ()
      }
      .start()
  }
}
