package graft.ops

import graft.model.JsonSchema
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** V1/V2 — per-record validation against the current schema (reference
  * `app.py:267-276`).
  *
  * Issues, in order (matching the reference's loop order — record keys first,
  * then schema properties):
  *   - record key not in schema  → "Field 'x' not in schema"
  *   - schema property not in record → "Missing field: 'x'"
  *
  * Pure array expressions (`json_object_keys` + `array_except` + `transform`
  * + `concat`) — codegen'd, map-only, no shuffle: validation of 100 TB is
  * embarrassingly parallel and fuses into the ingest scan.
  */
object Validate {

  /** Quality-issue array for a record's key array (`json_object_keys` of
    * its JSON; null for non-object JSON), against a fixed schema field list.
    * `schemaFields` ordering is preserved for the "Missing field" issues
    * (the reference iterates schema properties in dict order). The keys are
    * read three times, so pass a projected column, not an inline parse
    * ([[withQualityIssues]] does).
    */
  def qualityIssuesFromKeys(recordKeys: Column, schemaFields: Seq[String]): Column = {
    val schemaArr = array(schemaFields.map(lit): _*).cast("array<string>")
    val extra = transform(
      array_except(recordKeys, schemaArr),
      k => concat(lit("Field '"), k, lit("' not in schema")))
    val missing = transform(
      array_except(schemaArr, recordKeys),
      k => concat(lit("Missing field: '"), k, lit("'")))
    // json_object_keys is null for non-object/invalid JSON; the reference
    // would throw on those upstream — we flag instead of failing the batch.
    when(recordKeys.isNull, array(lit("Invalid record: not a JSON object")))
      .otherwise(concat(extra, missing))
  }

  /** Adds `_quality_issues` to every record (reference `app.py:352-364`).
    *
    * The key array is projected in its own step so the JSON document is
    * parsed ONCE per record — inlining `json_object_keys` into the issue
    * expression evaluates it three times (extra keys, missing keys, null
    * guard); CollapseProject keeps a multiply-referenced non-cheap
    * projection separate.
    */
  def withQualityIssues(records: DataFrame, schema: JsonSchema,
                        jsonCol: String = "data"): DataFrame = {
    // Reference iterates schema properties in dict insertion order; our AST
    // stores a Map, so we canonicalize to sorted order (documented divergence:
    // identical issue *set*, deterministic order).
    val fields = schema.properties.keys.toSeq.sorted
    records
      .withColumn("__record_keys", json_object_keys(col(jsonCol)))
      .withColumn("_quality_issues", qualityIssuesFromKeys(col("__record_keys"), fields))
      .drop("__record_keys")
  }
}
