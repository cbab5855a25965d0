package graft.ops

import graft.model.JsonSchema
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** A1 — dynamic schema inference over a batch of JSON records (reference
  * `app.py:250-263`, genson-based).
  *
  * Observable semantics (SURVEY §1.3, confirmed against the reference's stored
  * schemas): `properties` = union of field names across the batch; `required`
  * = field names present in every record; leaf types all `"string"` in
  * strict-parity mode (the reference stringifies every value first).
  *
  * Spark-first design: [[infer]] is ONE job, a `treeAggregate` fold over
  * the batch's per-record keys. Each partition folds its records into the
  * record total and, per field name, its occurrences and the JSON types
  * voted for it; the partials merge pairwise, so the driver receives a few
  * KB however many partitions the batch has — the only legitimately
  * driver-side step, exactly like the reference's single-writer schema
  * control plane. No SQL shuffle and no hash-aggregate page: the state is
  * sized by the number of *distinct field names* (tiny). Scales to 100 TB:
  * the wide fact scan stays distributed; nothing per-record ever reaches
  * the driver.
  *
  * We use `json_object_keys` (not `from_json`) so an absent key and an
  * explicit JSON null stay distinguishable — genson treats `{"a": null}` as
  * field `a` present (SURVEY §7.4).
  */
object InferSchema {

  /** Per-field presence counts as a DataFrame — the same counts [[infer]]'s
    * fold takes, exposed as an oracle-checked query (and the reference the
    * fold is specced against). Output: (field: string, n_present: long).
    */
  def fieldPresence(records: DataFrame, jsonCol: String): DataFrame =
    records
      .select(explode(json_object_keys(col(jsonCol))).as("field"))
      .groupBy("field").agg(count(lit(1)).as("n_present"))

  /** Typed variant for structured mode: per record, field -> JSON type
    * name, via the native `graft_json_types` kernel
    * ([[graft.functions.JsonFieldTypes]] — requires
    * [[graft.GraftExtensions]] on the session). r21 removed the ScalaUDF
    * wrapper and the Catalyst↔Scala converter; r22 removed the Jackson
    * TREE — the kernel is now a streaming token scanner (skipChildren over
    * nested values, no JsonNode allocation), with readTree's record-level
    * semantics pinned in the kernel's scaladoc and InferSchemaSpec:
    * malformed / non-object / null-parse records yield an empty array (no
    * votes), a NULL input column null-propagates (no votes either), and
    * duplicate keys collapse to first-position/last-type exactly as
    * readTree's ObjectNode did.
    */
  private def fieldJsonTypes(c: Column): Column =
    call_function("graft_json_types", c)

  /** Full inference: one distributed fold, then the type vote on the
    * driver. A field's occurrences count each key, so a record that
    * repeats a key counts it twice, exactly as [[fieldPresence]] does; it
    * is `required` when its occurrences equal the record total, which
    * counts every record, null and malformed ones included.
    *
    * @param parityStringify strict-parity mode: every leaf type is "string"
    *        (reference `app.py:253-261`); structured mode keeps real types
    *        (the reference's own older v1 artifact behavior, SURVEY §1.2).
    */
  def infer(records: DataFrame, jsonCol: String = "data",
            parityStringify: Boolean = true): Option[JsonSchema] = {
    val v = votes(records, jsonCol, parityStringify)
    if (v.total == 0) return None
    val props = v.fields.map { case (field, (_, types)) =>
      val t = types - "null" match {
        case ts if ts.size == 1 => ts.head
        case ts if ts == Set("integer", "number") => "number"
        case ts if ts.isEmpty => "null"
        case _ => "string"
      }
      field -> t
    }.toMap
    val required = v.fields.collect { case (field, (n, _)) if n == v.total => field }
      .toSeq.sorted
    Some(JsonSchema(props, required))
  }

  /** [[infer]]'s one job: the batch folded into [[Votes]]. `toRdd` runs
    * the key projection under the session's SQL conf; a batch of no
    * partitions runs no job at all.
    */
  private[graft] def votes(records: DataFrame, jsonCol: String,
                           parityStringify: Boolean): Votes = {
    val keys =
      if (parityStringify) json_object_keys(col(jsonCol)) else fieldJsonTypes(col(jsonCol))
    records.select(keys).queryExecution.toRdd
      .treeAggregate(new Votes)((v, row) => v.add(row, parityStringify), _ merge _)
  }

  /** The fold state of [[infer]]: the record total and, per field, its
    * occurrences and the JSON types voted for it (`"string"` in parity
    * mode).
    */
  private[graft] final class Votes extends Serializable {
    var total = 0L
    val fields = mutable.HashMap.empty[String, (Long, Set[String])]

    private def vote(field: String, n: Long, types: Set[String]): Unit = {
      val (m, ts) = fields.getOrElse(field, (0L, Set.empty[String]))
      fields(field) = (m + n, ts ++ types)
    }

    /** Folds one projected record: its keys (parity) or `(field, t)` pairs. */
    def add(row: InternalRow, parity: Boolean): Votes = {
      total += 1
      if (!row.isNullAt(0)) {
        val a = row.getArray(0)
        (0 until a.numElements()).foreach { i =>
          if (parity) vote(a.getUTF8String(i).toString, 1L, AsString)
          else {
            val kv = a.getStruct(i, 2)
            vote(kv.getUTF8String(0).toString, 1L, Set(kv.getUTF8String(1).toString))
          }
        }
      }
      this
    }

    def merge(o: Votes): Votes = {
      total += o.total
      o.fields.foreach { case (field, (n, ts)) => vote(field, n, ts) }
      this
    }
  }

  private val AsString: Set[String] = Set("string")
}
