package graft.ops

import graft.model.CorpusModel
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

/** W1/M1/Q1-Q4 — the corpus sink and its browse queries (reference
  * `app.py:133-173`).
  *
  * The reference inserts one row per SQLite connection+commit (~1k rec/s, its
  * measured bottleneck — BASELINE.md). Here the sink is a single vectorized
  * parquet append: the whole ingest chain (extract → validate → stamp →
  * to_json → write) is one map-only codegen'd stage, no shuffle and no
  * sort, scaling linearly with executors. One stamped batch is one schema
  * version, so [[append]] writes it straight into that version's directory
  * instead of asking Spark to partition (and hence sort) it.
  *
  * `id` assignment: the reference relies on SQLite AUTOINCREMENT. A global
  * sequential id is an anti-pattern at 100 TB (it serializes the write), so we
  * assign `id = idBase + monotonically_increasing_id()`-free contiguous ids
  * only OFF the hot path: the default id is `(batch_id << 40) | row_in_batch`
  * via `monotonically_increasing_id`, unique and ascending-per-batch, which is
  * what Q4's "latest N" ordering actually needs.
  */
object Corpus {

  /** F3 blob parity: re-render the canonical JSON exactly as CPython
    * json.dumps does (", "/": " separators, ensure_ascii, Python float repr)
    * so stored blobs replay byte-identically against the reference's
    * etl_data.db format. One map-only string pass at store time.
    */
  private val pyDumps = udf(graft.functions.PyJson.dumps _)

  /** M1 + W1 prep — stamp system metadata and render the canonical JSON blob.
    *
    * Blob parity (reference `app.py:355-364`): the reference mutates the
    * record dict in place — payload keys first (including
    * `_extracted_patterns`), then `_schema_version`, `_ingested_at`,
    * `_quality_issues` — and `json.dumps` the whole thing, null fields
    * included. We render the same key order and keep nulls
    * (`ignoreNullFields=false`).
    *
    * Id assignment: `idCol` (a natural key the caller trusts to be unique,
    * e.g. a source primary key) wins when given — deterministic and
    * oracle-checkable. Otherwise `idBase + monotonically_increasing_id()`:
    * callers MUST pass an `idBase` above every previously issued id (Pipeline
    * derives it from the corpus max — `app.py:169-173` AUTOINCREMENT
    * semantics) so Q4's "latest N by id desc" orders batches correctly.
    *
    * With `native=true` (requires [[graft.GraftExtensions]]) the whole blob —
    * payload and stamped fields — renders in ONE codegen'd `graft_pyjson`
    * pass over the final struct: no `to_json`, no re-render, no splice copy.
    * This is the structured-ingest hot path.
    */
  def stampAndSerialize(records: DataFrame, schemaVersion: Int,
                        idBase: Long = 0L, idCol: Option[String] = None,
                        native: Boolean = false): DataFrame = {
    val payloadCols = records.columns
      .filterNot(Set("_schema_version", "_ingested_at", "_quality_issues"))
    val blobCols =
      payloadCols.map(col) ++ Seq(
        col("_schema_version"), col("_ingested_at_iso").as("_ingested_at"),
        col("_quality_issues"))
    val blob =
      if (native) call_function("graft_pyjson", struct(blobCols: _*))
      else pyDumps(to_json(struct(blobCols: _*), Map("ignoreNullFields" -> "false")))
    stamp(records, schemaVersion, idBase, idCol, blob)
  }

  /** `stampAndSerialize` for records that already carry their canonical
    * JSON in a `data` column (the schema-on-read ingest path): the stamped
    * fields are SPLICED into the existing blob with string expressions —
    * codegen'd concat, no re-parse and no second struct render — then the
    * whole blob gets one json.dumps-parity pass. The object test and the
    * splice both work on the blob without its surrounding JSON whitespace,
    * which validation accepts too. Non-object records (the reference would
    * crash on them, `app.py:320`) keep their blob unspliced; validation
    * has already flagged them.
    */
  def stampAndSerializeJson(records: DataFrame, schemaVersion: Int,
                            idBase: Long = 0L, idCol: Option[String] = None): DataFrame = {
    val jsonWs = " \t\n\r"
    val obj = trim(col("data"), jsonWs)
    val isObject = obj.startsWith("{") && obj.endsWith("}")
    val open = obj.substr(lit(1), length(obj) - 1) // drops the closing brace
    val hasMembers = length(trim(open.substr(lit(2), length(open)), jsonWs)) > 0
    val spliced = concat(
      open,
      when(hasMembers, lit(",")).otherwise(lit("")),
      lit("\"_schema_version\":"), col("_schema_version").cast("string"),
      lit(",\"_ingested_at\":\""), col("_ingested_at_iso"), lit("\""),
      lit(",\"_quality_issues\":"),
      to_json(coalesce(col("_quality_issues"), array().cast("array<string>"))),
      lit("}"))
    stamp(records, schemaVersion, idBase, idCol,
      pyDumps(when(isObject, spliced).otherwise(col("data"))))
  }

  /** Metadata key on the stamped `schema_version` column naming the one
    * version the batch was stamped with; [[append]] reads it to pick the
    * version directory.
    */
  private val VersionKey = "graft.version"

  /** The stamping block both serializers share: id, `_schema_version` and
    * the ingest timestamps (which `data` may reference), `data`, then the
    * stored columns. The `schema_version` column carries its version as
    * metadata too (see [[append]]).
    */
  private def stamp(records: DataFrame, schemaVersion: Int, idBase: Long,
                    idCol: Option[String], data: Column): DataFrame = {
    val id = idCol.map(c => col(c).cast("long"))
      .getOrElse(lit(idBase) + monotonically_increasing_id())
    val version = new MetadataBuilder().putLong(VersionKey, schemaVersion).build()
    records
      .withColumn("_schema_version", lit(schemaVersion))
      .withColumn("ingested_at", current_timestamp())
      .withColumn("_ingested_at_iso",
        date_format(col("ingested_at"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))
      .withColumn("id", id)
      .withColumn("schema_version", lit(schemaVersion).as("schema_version", version))
      .withColumn("data", data)
      .withColumn("ingested_at_iso", col("_ingested_at_iso"))
      .withColumn("quality_issues",
        when(size(coalesce(col("_quality_issues"), array())) === 0, lit(null))
          .otherwise(col("_quality_issues")).cast("array<string>"))
      .select("id", "data", "schema_version", "ingested_at", "ingested_at_iso", "quality_issues")
  }

  /** W1 — append a stamped batch to the corpus (reference `store_record`,
    * `app.py:133-141`, minus the per-row commit pathology).
    *
    * The corpus is PARTITIONED by `schema_version`: each ingest writes one
    * (or zero) new partition directories, and every version-scoped read —
    * validation recounts, the records↔schema join, evolution audits — prunes
    * to its partitions at the scan (`PartitionFilters`, pinned by PlanSpec)
    * instead of scanning an ever-growing corpus. Version count is small and
    * append-monotone, the ideal partition key cardinality.
    *
    * One stamped batch is one version: `stamped` must come from
    * [[stampAndSerialize]] or [[stampAndSerializeJson]], whose
    * `schema_version` column names that version in its metadata. The batch
    * is written without `schema_version`, so the write stage stays map-only
    * — a `partitionBy` write would sort the whole batch on a column that
    * holds one value. Each row is still checked against the version: on the
    * ingest path the column is the literal `v` and the check folds away;
    * a frame mixing versions (a union of stamped batches, say) fails the
    * append before anything is committed.
    *
    * Stage, then publish, in this order (the one write job is step 2):
    *  1. the pending marker `_maxid_pending` goes up;
    *  2. the batch is written to the hidden `_staging/` dir, counting its
    *     rows and max id on the way (`observe`); a failed write, or a batch
    *     of 0 rows, drops the dir and the marker and changes nothing else;
    *  3. the commit point: `_staging/_publish` (tmp + rename) records the
    *     version and, for [[graft.Pipeline]]'s batches, the planned schema;
    *  4. the version is published ([[Evolution.publish]], idempotent);
    *  5. the staged files move into `records/schema_version=<v>/`;
    *  6. the id high-water sidecar advances; `_staging/` and the marker go.
    * Crash guarantee (single writer): the next writer's [[repair]] leaves
    * the corpus either as it was before the batch (no commit point: the
    * staged files are dropped) or with the whole batch (commit point
    * present: steps 4–6 run again, each skipping what is already done), and
    * rebuilds the high-water from the records. The guarantee holds once
    * that writer has run; readers never repair, so until then a crash
    * after step 4 and before step 5 ends shows readers version v as
    * published ([[Evolution.latest]], Q2/Q3) with none or only part of its
    * records under `records/schema_version=<v>/`. While the marker is up,
    * [[maxId]] falls back to the authoritative scan.
    */
  def append(stamped: DataFrame, corpusDir: String): Unit = {
    repair(stamped.sparkSession, corpusDir)
    commit(stamped, corpusDir, None)
  }

  /** [[append]]'s steps 1–6 for a batch the caller has already repaired
    * the corpus for; `plan`, when given, is published at step 4 and must
    * name the version `stamped` carries. Returns the rows committed.
    */
  private[graft] def commit(stamped: DataFrame, corpusDir: String,
                            plan: Option[Evolution.Plan]): Long = {
    val stampedVersion = stamped.schema.find(_.name == "schema_version")
      .map(_.metadata).filter(_.contains(VersionKey))
    require(stampedVersion.isDefined,
      "Corpus.append: `schema_version` carries no stamped version; build the " +
        "batch with stampAndSerialize or stampAndSerializeJson")
    val v = stampedVersion.get.getLong(VersionKey).toInt
    require(plan.forall(_.version == v), s"Corpus.commit: batch stamped $v, plan $plan")
    val spark = stamped.sparkSession
    val fs = fsOf(spark, corpusDir)
    val staging = stagingPath(corpusDir)
    def rollBack(): Unit = {
      fs.delete(staging, true)
      fs.delete(pendingPath(corpusDir), false)
    }
    fs.create(pendingPath(corpusDir), true).close()
    // tasks of an earlier failed write that Spark was still cancelling can
    // leave uncommitted attempt dirs in `_staging` after its roll-back
    fs.delete(staging, true)
    val obs = new org.apache.spark.sql.Observation()
    try
      stamped
        .withColumn("id", when(col("schema_version") === v, col("id"))
          .otherwise(raise_error(lit(s"Corpus.append: batch stamped $v holds another version"))))
        .drop("schema_version")
        .observe(obs, count(lit(1)).as("n"), max(col("id")).as("max_id"))
        .write.mode(SaveMode.Append).parquet(staging.toString)
    catch { case e: Throwable => rollBack(); throw e }
    val m = obs.get
    val n = m("n").asInstanceOf[Long]
    if (n == 0) { rollBack(); return 0L }
    val commitTmp = new org.apache.hadoop.fs.Path(staging, ".publish.tmp")
    val out = fs.create(commitTmp, true)
    try out.write(s"$v\n${plan.fold("")(_.schemaJson)}".getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(commitTmp, commitPath(corpusDir)))
      sys.error(s"Corpus.commit: cannot publish $commitTmp")
    finish(spark, fs, corpusDir, v, plan)
    val mx = Option(m("max_id")).fold(-1L)(_.asInstanceOf[Long])
    writeHighWater(spark, corpusDir, math.max(mx, readHighWater(spark, corpusDir)))
    fs.delete(staging, true)
    fs.delete(pendingPath(corpusDir), false)
    n
  }

  /** Steps 4–5 of [[append]]: publish the version, then move the staged
    * data files into its directory. Both skip what is already done, so a
    * [[repair]] can run them again after a crash anywhere inside.
    */
  private def finish(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
                     corpusDir: String, v: Int, plan: Option[Evolution.Plan]): Unit = {
    plan.foreach(p => new Evolution(spark, corpusDir).publish(p))
    val dest = new org.apache.hadoop.fs.Path(s"$corpusDir/records/schema_version=$v")
    fs.mkdirs(dest)
    fs.listStatus(stagingPath(corpusDir)).map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      .foreach { f =>
        if (!fs.rename(f, new org.apache.hadoop.fs.Path(dest, f.getName)))
          sys.error(s"Corpus.commit: cannot move $f into $dest")
      }
  }

  /** Writer-side repair of an interrupted [[compact]] ([[repairCompaction]])
    * and of an interrupted batch (pending marker up, see [[append]]): a
    * batch that reached its commit point is rolled forward, any other is
    * dropped; then the high-water sidecar is rebuilt from the records and
    * the marker cleared. Every writer runs this first — [[append]],
    * [[compact]], [[Evolution.evolve]] and [[graft.Pipeline]]'s ingests —
    * and readers never do. Without a marker it is two `exists` calls; with
    * one it runs the high-water scan (one job).
    */
  private[graft] def repair(spark: SparkSession, corpusDir: String): Unit = {
    val fs = fsOf(spark, corpusDir)
    repairCompaction(fs, corpusDir)
    if (!fs.exists(pendingPath(corpusDir))) return
    if (fs.exists(commitPath(corpusDir))) {
      val in = fs.open(commitPath(corpusDir))
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      val nl = txt.indexOf('\n')
      val v = txt.substring(0, nl).toInt
      val plan = Some(txt.substring(nl + 1)).filter(_.nonEmpty).map { json =>
        val p = new Evolution(spark, corpusDir)
          .planOf(json, Evolution.fieldNamesOfStoredSchema(json))
        require(p.version == v, s"Corpus.repair: staged batch of version $v, plan $p")
        p
      }
      finish(spark, fs, corpusDir, v, plan)
    }
    fs.delete(stagingPath(corpusDir), true)
    writeHighWater(spark, corpusDir,
      math.max(maxId(spark, corpusDir), readHighWater(spark, corpusDir)))
    fs.delete(pendingPath(corpusDir), false)
  }

  /** Record-store dirs in PREFERENCE ORDER: live first, then the two
    * crash-recovery names (the complete compaction output, then the
    * moved-aside old store) — the one ordering [[records]],
    * [[repairCompaction]] and [[maxId]] must all agree on.
    */
  private def storeDirs(corpusDir: String): Seq[String] =
    Seq(s"$corpusDir/records", s"$corpusDir/_records_compacting",
      s"$corpusDir/_records_old")

  /** The record store, resolving an interrupted [[compact]] READ-ONLY: if
    * the live dir is missing, fall back to `_records_compacting` (complete
    * by invariant — it is only ever renamed after its write finished; while
    * a compact's write is in flight the live dir still exists, so a partial
    * tmp is never read) and then `_records_old`. Readers never mutate
    * (single-writer discipline, same reasoning as [[maxId]]); the next
    * writer through [[append]]/[[compact]] runs [[repairCompaction]].
    * The scan is declared with [[CorpusModel.recordsSchema]], so opening
    * the store runs no footer-inference job.
    */
  def records(spark: SparkSession, corpusDir: String): DataFrame = {
    val fs = fsOf(spark, corpusDir)
    val candidates = storeDirs(corpusDir)
    val dir = candidates.find(d =>
      fs.exists(new org.apache.hadoop.fs.Path(d))).getOrElse(candidates.head)
    spark.read.schema(CorpusModel.recordsSchema).parquet(dir)
  }

  /** Writer-side repair of a [[compact]] interrupted between its two
    * renames (live dir missing, data intact under a recoverable name).
    * Without this, the next `append` would start a FRESH record store
    * beside the orphaned one — silent corpus truncation from every
    * reader's perspective. Preference order matches [[records]]: a
    * complete `_records_compacting` finishes the interrupted compaction,
    * else `_records_old` rolls it back.
    */
  private def repairCompaction(fs: org.apache.hadoop.fs.FileSystem,
                               corpusDir: String): Unit = {
    val Seq(live, tmp, old) =
      storeDirs(corpusDir).map(new org.apache.hadoop.fs.Path(_))
    if (fs.exists(live)) return
    if (fs.exists(tmp)) {
      if (!fs.rename(tmp, live))
        sys.error(s"repairCompaction: cannot publish $tmp")
      fs.delete(old, true)
    } else if (fs.exists(old)) {
      if (!fs.rename(old, live))
        sys.error(s"repairCompaction: cannot restore $old")
    }
  }

  /** Offline small-files compaction. Every micro-batch append adds files;
    * at warehouse scale an append-only corpus degrades into millions of
    * KB-sized files whose open/footer costs dominate scans. Rewrites the
    * record store with ~`rowsPerFile` rows per file (still partitioned by
    * `schema_version`), then atomically swaps directories — a maintenance
    * job to run between ingests (same single-writer discipline as the
    * schema state machine; not concurrent with an ingest).
    */
  def compact(spark: SparkSession, corpusDir: String,
              rowsPerFile: Long = 1000000L): Unit = {
    val fs = new org.apache.hadoop.fs.Path(corpusDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    repair(spark, corpusDir) // finish/roll back an interrupted run or batch
    val live = new org.apache.hadoop.fs.Path(s"$corpusDir/records")
    if (!fs.exists(live)) return
    val tmp = new org.apache.hadoop.fs.Path(s"$corpusDir/_records_compacting")
    val old = new org.apache.hadoop.fs.Path(s"$corpusDir/_records_old")
    // live exists (authoritative), so leftovers under the working names are
    // debris from a completed or abandoned run — safe to clear
    fs.delete(tmp, true); fs.delete(old, true)
    val df = records(spark, corpusDir)
    val n = math.max(1L, df.count())
    val files = math.max(1, math.ceil(n.toDouble / rowsPerFile).toInt)
    df.repartition(files)
      .write.partitionBy("schema_version").parquet(tmp.toString)
    // two renames, not copies: the unsafe window is between them and a
    // crash leaves either the old or the new store intact under a
    // recoverable name
    if (!fs.rename(live, old)) sys.error(s"compact: cannot move $live aside")
    if (!fs.rename(tmp, live)) {
      fs.rename(old, live) // roll back
      sys.error(s"compact: cannot publish $tmp")
    }
    fs.delete(old, true)
  }

  private def fsOf(spark: SparkSession, corpusDir: String) =
    new org.apache.hadoop.fs.Path(corpusDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def highWaterPath(corpusDir: String) =
    new org.apache.hadoop.fs.Path(s"$corpusDir/_maxid")

  private def pendingPath(corpusDir: String) =
    new org.apache.hadoop.fs.Path(s"$corpusDir/_maxid_pending")

  private def stagingPath(corpusDir: String) =
    new org.apache.hadoop.fs.Path(s"$corpusDir/_staging")

  private def commitPath(corpusDir: String) =
    new org.apache.hadoop.fs.Path(s"$corpusDir/_staging/_publish")

  /** Sidecar read: the persisted id high-water mark, or -1 when absent. */
  private[graft] def readHighWater(spark: SparkSession, corpusDir: String): Long = {
    val fs = fsOf(spark, corpusDir)
    val p = highWaterPath(corpusDir)
    if (!fs.exists(p)) return -1L
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
    finally in.close()
  }

  /** Sidecar write — tmp + rename, atomic on local FS and HDFS. */
  private[graft] def writeHighWater(spark: SparkSession, corpusDir: String,
                                    id: Long): Unit = {
    val fs = fsOf(spark, corpusDir)
    val tmp = new org.apache.hadoop.fs.Path(s"$corpusDir/_maxid_tmp")
    val out = fs.create(tmp, true)
    try out.write(id.toString.getBytes("UTF-8")) finally out.close()
    fs.delete(highWaterPath(corpusDir), false)
    if (!fs.rename(tmp, highWaterPath(corpusDir)))
      sys.error(s"writeHighWater: cannot publish $tmp")
  }

  /** Highest issued id, or -1 for a missing/empty corpus — the driver-side
    * seed for the next batch's `idBase` (AUTOINCREMENT parity without
    * serializing the write path).
    *
    * Served from the high-water sidecar `append` maintains — an O(1) file
    * read, no job — so per-ingest id seeding stops scanning an append-only
    * corpus that only grows. Falls back to the authoritative max-agg scan
    * (parquet min/max footer stats make it cheap-ish) when the sidecar is
    * absent (pre-sidecar corpus) or a pending marker shows an append died
    * between its data commit and its sidecar update.
    *
    * SIDE-EFFECT FREE: a read API must not mutate shared corpus state — a
    * reader repairing the sidecar concurrently with an in-flight append
    * could scan a partially-committed corpus, overwrite the append's fresh
    * sidecar with a stale lower high-water, and clear its pending marker,
    * seeding duplicate ids on the next ingest. Repair belongs to the writer:
    * the next successful `append` publishes an accurate sidecar and clears
    * the marker under the corpus's single-writer discipline.
    */
  def maxId(spark: SparkSession, corpusDir: String): Long = {
    val fs = fsOf(spark, corpusDir)
    // Sidecar FIRST: the live records dir can be legitimately absent while
    // the corpus is not (a compact interrupted between its renames). An
    // early records-exists => -1 here seeded idBase at 0 in exactly that
    // state — duplicate ids, the one corruption the sidecar discipline
    // exists to prevent (pinned by PipelineSpec's compact-crash test).
    if (!fs.exists(pendingPath(corpusDir))) {
      val hw = readHighWater(spark, corpusDir)
      if (hw >= 0) return hw
    }
    val anyStore = storeDirs(corpusDir)
      .exists(d => fs.exists(new org.apache.hadoop.fs.Path(d)))
    if (!anyStore) return -1L
    // records() resolves the crash-recovery dirs read-only, so the
    // authoritative scan sees the surviving store too
    records(spark, corpusDir).agg(max(col("id"))).collect()(0) match {
      case r if r.isNullAt(0) => -1L
      case r => r.getLong(0)
    }
  }

  /** Q4 — latest-N records (reference `app.py:169-173`). Catalyst plans this
    * as TakeOrderedAndProject: per-partition top-K + driver merge, no full
    * sort — the right plan at any scale.
    */
  def latestRecords(spark: SparkSession, corpusDir: String, n: Int = 50): DataFrame =
    records(spark, corpusDir).orderBy(desc("id")).limit(n)

  /** Q2 — full schema history ascending (reference `app.py:155-159`), as
    * a local relation read and sorted on the driver: no job. */
  def schemaHistory(spark: SparkSession, corpusDir: String): DataFrame =
    new Evolution(spark, corpusDir).schemaHistory

  /** Q3 — change log, newest first (reference `app.py:162-166`), as a
    * local relation read and sorted on the driver: no job. */
  def schemaChanges(spark: SparkSession, corpusDir: String): DataFrame =
    new Evolution(spark, corpusDir).schemaChanges
}
