package graft

import graft.model.JsonSchema
import graft.ops.{Corpus, Evolution, Extract, InferSchema, Materialize, Validate}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's main entry point, end to end (`app.py:296-366`, SURVEY
  * §3.1): ingest → extract patterns → infer schema → evolve version →
  * validate → stamp metadata → append to corpus.
  *
  * Spark shape: ONE job per structured batch — the store write. Extraction,
  * serialization, validation, stamping, and the parity blob render fuse
  * into that write's map-only chain (no sort: the batch goes straight
  * into its staging dir, see [[Corpus.append]]); the V2 counters and the
  * row count that decides whether anything is published ride the same job
  * via `Dataset.observe`. Everything else is driver-side control plane:
  * the writer-side repair, the version [[Evolution.plan]] and
  * [[Evolution.publish]] (sidecar and one-row-file reads and writes), the
  * id seed (the high-water sidecar) and the move of the staged files. Jobs
  * that can come on top, per batch:
  *  - whatever the reader runs before `batch` exists (e.g. the one
  *    inference job of [[graft.ingest.Readers.csv]], a JSON or parquet
  *    schema pass);
  *  - for a batch the spread rule below repartitions (at most one split
  *    per 4 cores and an estimated size of at least the spread floor, e.g.
  *    a one-file CSV upload of 1 MB), its shuffle stage;
  *  - in `ingestJson`, the key-presence inference fold: one job, which
  *    also fills the batch's cache, so a ragged batch runs that job and
  *    the write;
  *  - after a crash, one high-water scan in the next writer's repair.
  *
  * Schema inference on this path is CONSTANT, not a scan: a DataFrame batch
  * has a fixed column set and the blob is rendered with
  * `ignoreNullFields=false`, so every record carries exactly the payload
  * columns — properties = columns, required = all of them, types "string"
  * (strict parity: the reference stringifies before genson, app.py:253-261,
  * and its dict records always carry every key). The distributed
  * key-presence fold ([[graft.ops.InferSchema]]) remains the
  * schema-on-read API for genuinely ragged JSON input.
  */
object Pipeline {

  /** One batch's outcome. `addedFields`/`removedFields` are the batch's
    * field-name diff against the version before it (every field for a new
    * corpus, both empty when the version did not change) — for v > 1 the
    * same lists as its change-log row. A batch of 0 rows publishes nothing
    * and reports the latest version with an empty schema and diff.
    */
  final case class IngestResult(
      version: Int,
      schema: JsonSchema,
      recordCount: Long,
      cleanCount: Long,
      flaggedCount: Long,
      addedFields: Seq[String],
      removedFields: Seq[String])

  /** Size estimate below which [[ingest]] leaves a narrow batch in its
    * one split. Set at the measured break-even: one-file CSV uploads of
    * ~125 B rows, `Readers.csv` + `ingest` into an empty corpus, on 4 cores
    * (local[4]), the spread and the unspread rule alternating in one JVM,
    * 10 pairs per size in each of two runs; medians in s of the second
    * run, and the pairs the unspread upload won in each run:
    * {{{
    *   size     spread  unspread  unspread faster
    *   30 KB    0.358   0.334     10/10,  9/10
    *   64 KB    0.405   0.376      9/10,  9/10
    *   128 KB   0.400   0.376      7/10,  4/10
    *   256 KB   0.470   0.513      3/10,  4/10
    *   512 KB   0.440   0.512      1/10,  3/10
    *   1 MB     0.531   0.679      0/10,  0/10
    *   2 MB     0.612   0.999      0/10,  0/10
    *   4 MB     0.944   1.757      0/10,  0/10
    * }}}
    */
  private val SpreadFloorBytes: BigInt = 128 * 1024

  /** Run the full ingest pipeline for one batch of records.
    *
    * @param batch records as a DataFrame (any reader output); a `content`
    *              column, if present, feeds pattern extraction like the
    *              reference's `content` field.
    * @param idCol natural unique key to use as the record id (deterministic,
    *              oracle-checkable); default = corpus-seeded ascending ids
    *              (AUTOINCREMENT parity, `app.py:169-173`).
    */
  def ingest(spark: SparkSession, batch: DataFrame, corpusDir: String,
             idCol: Option[String] = None): IngestResult = {
    // Spread a narrow batch before the render+write: a file of a few MB
    // arrives as one or a few input splits, which would serialize the whole
    // extract -> blob-render -> write chain on one core while the rest
    // idle. A batch is spread when it arrives in at most one split per 4
    // cores AND its size estimate reaches [[SpreadFloorBytes]]; below that
    // the spread's shuffle stage costs more than the cores it frees. The
    // estimate is the optimizer's `sizeInBytes`, read without a job: bytes
    // on disk for a file scan (so a compressed `.csv.gz` reads small), the
    // exact size of a local relation, and a huge "unknown" for an RDD-backed
    // frame or a join, which is therefore spread as before. A
    // single-row-group parquet file of a few MB already arrives as 2 splits
    // (one of them empty) and, on 4 cores, is not spread. The repartition
    // shuffles only the raw batch (cheap at batch sizes) and is skipped
    // when the source already carries enough splits — at warehouse scale
    // it always does, so this never shuffles 100 TB.
    val par = spark.sparkContext.defaultParallelism
    val spread =
      if (batch.rdd.getNumPartitions * 4 <= par &&
          batch.queryExecution.optimizedPlan.stats.sizeInBytes >= SpreadFloorBytes)
        batch.repartition(par)
      else batch

    // F2 — extract patterns from content (empty struct when none)
    val withPatterns = Extract.withExtractedPatterns(spread)

    // A1 — constant for a structured batch (see class doc)
    val payloadCols = withPatterns.columns
    val schema = JsonSchema(
      payloadCols.map(_ -> "string").toMap, payloadCols.sorted.toSeq)

    // V1 — CONSTANT on this path, like inference: the blob is rendered from
    // the batch's fixed column struct with nulls kept, so every record
    // carries exactly the schema's properties — record keys ∖ schema and
    // schema ∖ record keys are empty BY CONSTRUCTION. No per-record JSON
    // parse; the schema-on-read `ingestJson` path below keeps the real
    // distributed validation for ragged input.
    val validated = withPatterns
      .withColumn("_quality_issues", array().cast("array<string>"))

    // M1 + W1 — stamp metadata, render the canonical blob, append (single
    // vectorized write). With GraftExtensions loaded the WHOLE blob —
    // payload + `_schema_version`/`_ingested_at`/`_quality_issues`, in
    // reference dict order (`app.py:355-364`) — renders in one codegen'd
    // `graft_pyjson` pass; otherwise to_json + the json.dumps re-render.
    val nativeRender =
      try spark.catalog.functionExists("graft_pyjson") catch { case _: Exception => false }
    store(spark, validated, schema, corpusDir, idCol) { (observed, version, idBase) =>
      Corpus.stampAndSerialize(observed, version,
        idBase = idBase, idCol = idCol, native = nativeRender)
    }
  }

  /** Schema-on-read ingest for genuinely ragged JSON records (one string
    * column of JSON objects): the one-job key-presence fold of
    * [[InferSchema.infer]], then the same validate/stamp/store chain. This
    * is the path where records may disagree on their key sets, so quality
    * issues can be non-empty.
    */
  def ingestJson(spark: SparkSession, records: DataFrame, jsonCol: String,
                 corpusDir: String, idCol: Option[String] = None): IngestResult = {
    Materialize.scoped {
      val asJson = Materialize.persist(records.withColumnRenamed(jsonCol, "data"))
      InferSchema.infer(asJson, "data") match {
        case None => nothingStored(spark, corpusDir)
        case Some(schema) =>
          val validated = Validate.withQualityIssues(asJson, schema, "data")
          store(spark, validated, schema, corpusDir, idCol) { (observed, version, idBase) =>
            Corpus.stampAndSerializeJson(observed, version, idBase = idBase, idCol = idCol)
          }
      }
    }
  }

  /** The ingest tail both entry points share (A2/W2 + M1/W1): repair the
    * corpus, plan the batch's version, stamp and render through `stamp`
    * (given the observed batch, the planned version and the id base), then
    * stage-then-publish it with [[Corpus.commit]] — the version is
    * published only once the batch's records are written and counted, and
    * a batch of 0 rows publishes nothing. The V2 counters ride the write
    * job via `observe()` — no second pass over the batch. The id base seeds
    * above the corpus max so ids stay unique and ascending across batches
    * (the reference's AUTOINCREMENT contract that Q4's "latest N by id
    * desc" depends on).
    */
  private def store(spark: SparkSession, validated: DataFrame, schema: JsonSchema,
                    corpusDir: String, idCol: Option[String])(
                    stamp: (DataFrame, Int, Long) => DataFrame): IngestResult = {
    Corpus.repair(spark, corpusDir)
    val plan = new Evolution(spark, corpusDir).plan(schema, schema.fieldNames)
    val idBase = if (idCol.isDefined) 0L else Corpus.maxId(spark, corpusDir) + 1L
    val obs = new org.apache.spark.sql.Observation()
    val observed = validated.observe(obs,
      count(when(size(col("_quality_issues")) === 0, 1)).as("clean"),
      count(when(size(col("_quality_issues")) > 0, 1)).as("flagged"))
    val n = Corpus.commit(stamp(observed, plan.version, idBase), corpusDir, Some(plan))
    if (n == 0) return nothingStored(spark, corpusDir)
    val m = obs.get // collected during the write job
    IngestResult(plan.version, schema, n,
      m("clean").asInstanceOf[Long], m("flagged").asInstanceOf[Long],
      plan.added, plan.removed)
  }

  private def nothingStored(spark: SparkSession, corpusDir: String): IngestResult =
    IngestResult(new Evolution(spark, corpusDir).latestVersion, JsonSchema(Map.empty, Nil),
      0, 0, 0, Nil, Nil)
}
