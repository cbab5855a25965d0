package graft

import graft.ops.Validate
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** V1/V2 — issue strings must match the reference byte-for-byte
  * (`app.py:267-276`): extra key → "Field 'x' not in schema", absent schema
  * property → "Missing field: 'x'".
  */
class ValidateSpec extends SparkSpec {
  import spark.implicits._

  private def issues(json: String, fields: Seq[String]): Seq[String] =
    Seq(json).toDF("data")
      .select(Validate.qualityIssues(col("data"), fields).as("q"))
      .collect()(0).getSeq[String](0).toSeq

  test("extra field message") {
    assert(issues("""{"a": 1, "zz": 2}""", Seq("a")) == Seq("Field 'zz' not in schema"))
  }

  test("missing field message") {
    assert(issues("""{"a": 1}""", Seq("a", "b")) == Seq("Missing field: 'b'"))
  }

  test("both kinds, record keys first (reference loop order)") {
    assert(issues("""{"x": 1}""", Seq("a")) ==
      Seq("Field 'x' not in schema", "Missing field: 'a'"))
  }

  test("clean record has no issues") {
    assert(issues("""{"a": 1, "b": 2}""", Seq("a", "b")).isEmpty)
  }

  test("non-object json is flagged, not fatal") {
    assert(issues("""[1,2]""", Seq("a")) == Seq("Invalid record: not a JSON object"))
  }

  test("ingestJson's IngestResult splits clean vs flagged like a driver-side count") {
    // inference makes every key seen a schema property, so a record is
    // clean exactly when it carries all of them
    val records = Seq("""{"a": 1, "b": 2}""", """{"a": 1}""", """{"b": 3, "a": 4}""",
      """{"b": 5}""", """{"a": 6, "b": 7}""")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val keys = records.map(r => mapper.readTree(r).fieldNames().asScala.toSet)
    val all = keys.reduce(_ ++ _)
    val clean = keys.count(_ == all).toLong
    val r = Pipeline.ingestJson(spark, records.toDF("j"), "j", tmpDir("corpus_"))
    assert(clean > 0 && clean < records.size)
    assert((r.cleanCount, r.flaggedCount) == (clean, records.size - clean))
  }
}
