package graft

import graft.model.JsonSchema
import graft.ops.{Corpus, Evolution, Extract, InferSchema, Materialize, Validate}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's main entry point, end to end (`app.py:296-366`, SURVEY
  * §3.1): ingest → extract patterns → infer schema → evolve version →
  * validate → stamp metadata → append to corpus.
  *
  * Spark shape: ONE write job per batch, plus what the input needs before
  * it. Extraction, serialization, validation, stamping, and the parity
  * blob render fuse into the store write's map-only chain (no sort: the
  * batch goes straight into its version directory, see [[Corpus.append]]);
  * the V2 counters ride the same job via `Dataset.observe`. Before the
  * write, `ingest` runs the empty-batch probe (one job) and, for a batch
  * the spread rule below repartitions, the spread's shuffle stage (one
  * more); `ingestJson` runs the inference jobs instead of the probe. So a
  * small CSV batch takes 3 jobs and a batch that already has enough
  * splits takes 2. The id seed and the version state machine are O(1)
  * driver-side control plane (sidecar reads, no job).
  *
  * Schema inference on this path is CONSTANT, not a scan: a DataFrame batch
  * has a fixed column set and the blob is rendered with
  * `ignoreNullFields=false`, so every record carries exactly the payload
  * columns — properties = columns, required = all of them, types "string"
  * (strict parity: the reference stringifies before genson, app.py:253-261,
  * and its dict records always carry every key). The distributed
  * key-presence aggregation ([[graft.ops.InferSchema]]) remains the
  * schema-on-read API for genuinely ragged JSON input.
  */
object Pipeline {

  final case class IngestResult(
      version: Int,
      schema: JsonSchema,
      recordCount: Long,
      cleanCount: Long,
      flaggedCount: Long)

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
    val evo = new Evolution(spark, corpusDir)
    if (batch.isEmpty)
      return IngestResult(evo.latestVersion, JsonSchema(Map.empty, Nil), 0, 0, 0)

    // Spread a narrow batch before the render+write: a small file arrives
    // as one or a few input splits, which would serialize the whole
    // extract -> blob-render -> write chain on one core while the rest
    // idle. The rule counts splits, not rows or bytes: a small CSV or JSON
    // file is one split and gets spread over every core, while a
    // single-row-group parquet file of a few MB already arrives as 2 splits
    // (one of them empty) and, on 4 cores, is not spread. The repartition
    // shuffles only the raw batch (cheap at batch sizes) and is skipped
    // when the source already carries enough splits — at warehouse scale
    // it always does, so this never shuffles 100 TB.
    val par = spark.sparkContext.defaultParallelism
    val spread =
      if (batch.rdd.getNumPartitions * 4 <= par) batch.repartition(par)
      else batch

    // F2 — extract patterns from content (empty struct when none)
    val withPatterns = Extract.withExtractedPatterns(spread)

    // A1 — constant for a structured batch (see class doc)
    val payloadCols = withPatterns.columns
    val schema = JsonSchema(
      payloadCols.map(_ -> "string").toMap, payloadCols.sorted.toSeq)

    // A2/W2 — version state machine (driver-side control plane)
    val version = evo.evolve(schema, schema.fieldNames)

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
    store(spark, validated, version, schema, corpusDir, idCol) { (observed, idBase) =>
      Corpus.stampAndSerialize(observed, version,
        idBase = idBase, idCol = idCol, native = nativeRender)
    }
  }

  /** Schema-on-read ingest for genuinely ragged JSON records (one string
    * column of JSON objects): distributed key-presence inference, then the
    * same validate/stamp/store chain. This is the path where records may
    * disagree on their key sets, so quality issues can be non-empty.
    */
  def ingestJson(spark: SparkSession, records: DataFrame, jsonCol: String,
                 corpusDir: String, idCol: Option[String] = None): IngestResult = {
    val evo = new Evolution(spark, corpusDir)
    Materialize.scoped {
      val asJson = Materialize.persist(records.withColumnRenamed(jsonCol, "data"))
      InferSchema.infer(asJson, "data") match {
        case None => IngestResult(evo.latestVersion, JsonSchema(Map.empty, Nil), 0, 0, 0)
        case Some(schema) =>
          val version = evo.evolve(schema, schema.fieldNames)
          val validated = Validate.withQualityIssues(asJson, schema, "data")
          store(spark, validated, version, schema, corpusDir, idCol) { (observed, idBase) =>
            Corpus.stampAndSerializeJson(observed, version, idBase = idBase, idCol = idCol)
          }
      }
    }
  }

  /** The ingest tail both entry points share: stamp and render through
    * `stamp` (given the observed batch and the id base), append, and
    * return the V2 counters, which ride the write job via `observe()` —
    * no second pass over the batch. The id base seeds above the corpus
    * max so ids stay unique and ascending across batches (the reference's
    * AUTOINCREMENT contract that Q4's "latest N by id desc" depends on).
    */
  private def store(spark: SparkSession, validated: DataFrame, version: Int,
                    schema: JsonSchema, corpusDir: String, idCol: Option[String])(
                    stamp: (DataFrame, Long) => DataFrame): IngestResult = {
    val idBase = if (idCol.isDefined) 0L else Corpus.maxId(spark, corpusDir) + 1L
    val obs = new org.apache.spark.sql.Observation()
    val observed = validated.observe(obs,
      count(lit(1)).as("n"),
      count(when(size(col("_quality_issues")) === 0, 1)).as("clean"),
      count(when(size(col("_quality_issues")) > 0, 1)).as("flagged"))
    Corpus.append(stamp(observed, idBase), corpusDir)
    val m = obs.get // collected during the write job
    IngestResult(version, schema,
      m("n").asInstanceOf[Long], m("clean").asInstanceOf[Long],
      m("flagged").asInstanceOf[Long])
  }
}
