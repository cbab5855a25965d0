package graft.model

import org.apache.spark.sql.types._

/** Core data model of the engine.
  *
  * The reference (ashnasiddiqui1/dynamic-etl-pipeline, `app.py:64-93`) stores a
  * versioned record corpus in three SQLite tables: `records` (JSON blob +
  * system metadata), `schema_history` (append-only schema dimension) and
  * `schema_changes` (evolution change log). We keep the same logical model but
  * store each table as a parquet dataset so the corpus scales horizontally:
  * `records` is the big fact table (append-only, splittable, columnar);
  * the two schema tables are tiny driver-managed dimensions.
  */
object CorpusModel {

  /** Corpus fact table — reference `records` DDL `app.py:67-75`.
    * `data` is the canonical-JSON record blob (schema-on-read);
    * `ingested_at` is kept both typed (for pruning/windowing) and as the
    * reference's ISO-8601 string (for parity).
    */
  val recordsSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("data", StringType, nullable = false),
    StructField("schema_version", IntegerType, nullable = false),
    StructField("ingested_at", TimestampType, nullable = false),
    StructField("ingested_at_iso", StringType, nullable = false),
    StructField("quality_issues", ArrayType(StringType, containsNull = false), nullable = true)
  ))

  /** Schema dimension — reference `schema_history` DDL `app.py:76-82`. */
  val schemaHistorySchema: StructType = StructType(Seq(
    StructField("version", IntegerType, nullable = false),
    StructField("schema", StringType, nullable = false),
    StructField("created_at", StringType, nullable = false)
  ))

  /** Evolution log — reference `schema_changes` DDL `app.py:83-92`. */
  val schemaChangesSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("old_version", IntegerType, nullable = false),
    StructField("new_version", IntegerType, nullable = false),
    StructField("added_fields", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("removed_fields", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("created_at", StringType, nullable = false)
  ))
}

/** Inferred JSON-Schema AST — the engine-native form of the genson output the
  * reference stores (`app.py:250-263`). `properties` is the union of field
  * names over the batch; `required` the intersection (fields present in every
  * record); leaf types are `"string"` in strict-parity mode (the reference
  * stringifies every value before inference) or real inferred types in
  * structured mode (the behavior of the reference's own v1 schema artifact).
  */
final case class JsonSchema(
    properties: Map[String, String], // field name -> JSON-schema type name
    required: Seq[String]            // sorted field names present in all records
) {
  /** genson-compatible rendering: object schema, sorted keys. */
  def toJson: String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val props = properties.toSeq.sortBy(_._1)
      .map { case (k, t) => s"${q(k)}: {${q("type")}: ${q(t)}}" }
      .mkString("{", ", ", "}")
    val req = required.sorted.map(q).mkString("[", ", ", "]")
    s"""{"$$schema": "http://json-schema.org/schema#", "type": "object", "properties": $props, "required": $req}"""
  }
  def fieldNames: Set[String] = properties.keySet
}

object JsonSchema {
  /** Name-set diff driving schema evolution — reference `app.py:112-116`:
    * added = new - old, removed = old - new, compared on field names only
    * (type changes are invisible, matching `app.py:339-342`).
    */
  def diff(oldNames: Set[String], newNames: Set[String]): (Seq[String], Seq[String]) =
    ((newNames -- oldNames).toSeq.sorted, (oldNames -- newNames).toSeq.sorted)
}
