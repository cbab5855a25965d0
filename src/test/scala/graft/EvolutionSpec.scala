package graft

import graft.model.JsonSchema
import graft.ops.Evolution

/** W2/A2 — the schema-version state machine (reference `app.py:96-130`):
  * first batch creates v1 with no change row; same field set is a no-op;
  * changed field set bumps the version and logs added/removed names.
  */
class EvolutionSpec extends SparkSpec {

  private def schema(fields: String*): JsonSchema =
    JsonSchema(fields.map(_ -> "string").toMap, fields.sorted)

  test("first batch creates v1, no change row") {
    val dir = tmpDir("evo_")
    val evo = new Evolution(spark, dir)
    assert(evo.latestVersion == 0)
    val v = evo.evolve(schema("a", "b"), Set("a", "b"))
    assert(v == 1)
    assert(evo.schemaHistory.count() == 1)
    assert(evo.schemaChanges.count() == 0)
  }

  test("the first evolve of a new corpus runs no Spark job") {
    val evo = new Evolution(spark, tmpDir("evo_"))
    val jobs = FinalPlans.jobsDuring(spark)(evo.evolve(schema("a", "b"), Set("a", "b")))
    assert(jobs == 0)
    assert(evo.latestVersion == 1)
  }

  test("plan writes nothing; publish carries it out once") {
    val dir = tmpDir("evo_")
    val evo = new Evolution(spark, dir)
    evo.evolve(schema("a", "b"), Set("a", "b"))
    def files: Seq[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).map(_.getPath).sorted
    }
    val before = files
    val p = evo.plan(schema("a", "c"), Set("a", "c"))
    assert(p == Evolution.Plan(2, 1, schema("a", "c").toJson, Seq("c"), Seq("b")))
    assert(files == before && evo.latestVersion == 1, "plan must not write")
    assert(FinalPlans.jobsDuring(spark)(assert(evo.publish(p) == 2)) == 0)
    val after = files
    assert(evo.publish(p) == 2 && files == after, "a published plan publishes nothing again")
    assert(evo.schemaHistory.count() == 2 && evo.schemaChanges.count() == 1)
    val same = evo.plan(schema("c", "a"), Set("c", "a"))
    assert(!same.bumps && same.version == 2 && same.added.isEmpty && same.removed.isEmpty)
  }

  test("identical field set is a version no-op") {
    val dir = tmpDir("evo_")
    val evo = new Evolution(spark, dir)
    evo.evolve(schema("a", "b"), Set("a", "b"))
    val v = evo.evolve(schema("b", "a"), Set("b", "a"))
    assert(v == 1)
    assert(evo.schemaHistory.count() == 1)
    assert(evo.schemaChanges.count() == 0)
  }

  test("changed field set bumps version and logs the diff") {
    val dir = tmpDir("evo_")
    val evo = new Evolution(spark, dir)
    evo.evolve(schema("a", "b"), Set("a", "b"))
    val v2 = evo.evolve(schema("a", "c", "d"), Set("a", "c", "d"))
    assert(v2 == 2)
    val change = evo.schemaChanges.collect()(0)
    assert(change.getAs[Int]("old_version") == 1)
    assert(change.getAs[Int]("new_version") == 2)
    assert(change.getAs[scala.collection.Seq[String]]("added_fields").toSeq == Seq("c", "d"))
    assert(change.getAs[scala.collection.Seq[String]]("removed_fields").toSeq == Seq("b"))
  }

  test("evolve crash between history and change row: next writer reconciles") {
    // Simulate the one half-published table state (history row for v2
    // landed, its change row didn't, pending marker still up) and check
    // the next evolve synthesizes the missing change-log row.
    val dir = tmpDir("evo_")
    val evo = new Evolution(spark, dir)
    evo.evolve(schema("a", "b"), Set("a", "b"))
    evo.evolve(schema("a", "c"), Set("a", "c")) // v2 with a real change row
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val changeFiles = walk(new java.io.File(s"$dir/schema_changes"))
      .filter(_.getName.endsWith(".parquet"))
    assert(changeFiles.size == 1)
    assert(changeFiles.forall(_.delete()), "fixture: drop the change row")
    assert(new java.io.File(s"$dir/_schema_pending").createNewFile(),
      "fixture: leave the crash marker up")

    // no-op evolve (same names as v2): repair runs first, row comes back
    val v = evo.evolve(schema("a", "c"), Set("a", "c"))
    assert(v == 2)
    assert(!new java.io.File(s"$dir/_schema_pending").exists(),
      "repair must clear the marker")
    val change = evo.schemaChanges.collect()(0)
    assert(change.getAs[Long]("id") == 1L)
    assert(change.getAs[Int]("old_version") == 1)
    assert(change.getAs[Int]("new_version") == 2)
    assert(change.getAs[scala.collection.Seq[String]]("added_fields").toSeq == Seq("c"))
    assert(change.getAs[scala.collection.Seq[String]]("removed_fields").toSeq == Seq("b"))
    assert(evo.latest.map(_._1).contains(2), "sidecar rebuilt from the scans")

    // a further real bump numbers its change row after the repaired one
    val v3 = evo.evolve(schema("a", "c", "e"), Set("a", "c", "e"))
    assert(v3 == 3)
    val ids = evo.schemaChanges.collect().map(_.getAs[Long]("id")).sorted
    assert(ids.toSeq == Seq(1L, 2L))
  }

  test("a torn in-progress row file is invisible to history scans") {
    // writeRowFile publishes via dot-tmp + rename; a crash mid-write leaves
    // .part-*.inprogress, which Spark's path filter must hide from every
    // scan (a torn visible file would break even the repair path).
    val dir = tmpDir("evo_")
    val evo = new Evolution(spark, dir)
    evo.evolve(schema("a", "b"), Set("a", "b"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/schema_history/.part-torn.parquet.inprogress"),
      "PAR1garbage-no-footer".getBytes("UTF-8"))
    assert(evo.schemaHistory.count() == 1)
    assert(evo.latest.map(_._1).contains(1))
    val v2 = evo.evolve(schema("a", "c"), Set("a", "c"))
    assert(v2 == 2 && evo.schemaChanges.count() == 1)
  }

  test("type-only changes are invisible (names drive evolution)") {
    val dir = tmpDir("evo_")
    val evo = new Evolution(spark, dir)
    evo.evolve(JsonSchema(Map("a" -> "string"), Seq("a")), Set("a"))
    val v = evo.evolve(JsonSchema(Map("a" -> "integer"), Seq("a")), Set("a"))
    assert(v == 1)
  }

  test("latest returns highest version's schema json") {
    val dir = tmpDir("evo_")
    val evo = new Evolution(spark, dir)
    evo.evolve(schema("a"), Set("a"))
    evo.evolve(schema("a", "b"), Set("a", "b"))
    val (v, json) = evo.latest.get
    assert(v == 2)
    assert(Evolution.fieldNamesOfStoredSchema(json) == Set("a", "b"))
  }

  test("fieldNamesOfStoredSchema parses the genson rendering incl. escapes") {
    val js = JsonSchema(Map("a\"b" -> "string", "plain" -> "string"), Nil).toJson
    assert(Evolution.fieldNamesOfStoredSchema(js) == Set("a\"b", "plain"))
  }
}
