package graft

import graft.ops.Corpus
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** End-to-end pipeline semantics (reference `app.py:296-366`): cross-batch id
  * monotonicity (AUTOINCREMENT contract), Q4 latest-N ordering, blob key
  * parity, schema evolution across batches, per-batch counters.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("two-batch ingest: ids unique, Q4 returns the second batch first") {
    val dir = tmpDir("corpus_")
    val batch1 = Seq(("first-a", 1), ("first-b", 2)).toDF("content", "n")
    val batch2 = Seq(("second-a", 3), ("second-b", 4)).toDF("content", "n")
    val r1 = Pipeline.ingest(spark, batch1, dir)
    val r2 = Pipeline.ingest(spark, batch2, dir)
    assert(r1.recordCount == 2 && r2.recordCount == 2)

    val all = Corpus.records(spark, dir).select("id").collect().map(_.getLong(0))
    assert(all.distinct.length == 4, "ids must be unique across batches")

    val latest2 = Corpus.latestRecords(spark, dir, 2)
      .select(get_json_object(col("data"), "$.content").as("c"))
      .collect().map(_.getString(0)).toSet
    assert(latest2 == Set("second-a", "second-b"),
      "latest-N must be the most recent batch (reference AUTOINCREMENT ordering)")
  }

  test("stored blob carries _schema_version, _ingested_at, _quality_issues inside data") {
    val dir = tmpDir("corpus_")
    Pipeline.ingest(spark, Seq(("x", 1)).toDF("content", "n"), dir)
    val data = Corpus.records(spark, dir).select("data").collect()(0).getString(0)
    assert(get(data, "_schema_version").nonEmpty, s"blob missing _schema_version: $data")
    assert(get(data, "_ingested_at").nonEmpty, s"blob missing _ingested_at: $data")
    assert(data.contains("_quality_issues"), s"blob missing _quality_issues: $data")
    assert(data.contains("_extracted_patterns"), s"blob missing _extracted_patterns: $data")
  }

  private def get(json: String, key: String): Option[String] = {
    val df = Seq(json).toDF("j")
    Option(df.select(get_json_object(col("j"), s"$$.$key")).collect()(0).getString(0))
  }

  test("null payload fields stay present in the blob (ignoreNullFields=false)") {
    val dir = tmpDir("corpus_")
    Pipeline.ingest(spark, Seq((Some("x"), None: Option[String])).toDF("a", "b"), dir)
    val data = Corpus.records(spark, dir).select("data").collect()(0).getString(0)
    assert(data.contains("\"b\": null"), s"null field b dropped from blob: $data")
  }

  test("blob renders in CPython json.dumps format (separators, ascii escapes)") {
    val dir = tmpDir("corpus_")
    Pipeline.ingest(spark, Seq(("café", 1.5)).toDF("content", "v"), dir)
    val data = Corpus.records(spark, dir).select("data").collect()(0).getString(0)
    assert(data.contains("\"content\": \"caf\\u00e9\""), s"expected json.dumps string form: $data")
    assert(data.contains("\"v\": 1.5"), s"expected json.dumps number form: $data")
  }

  test("schema change across batches bumps version and logs the diff") {
    val dir = tmpDir("corpus_")
    val r1 = Pipeline.ingest(spark, Seq(("a-only", 1)).toDF("a", "n"), dir)
    val r2 = Pipeline.ingest(spark, Seq(("b-only", 2)).toDF("b", "n"), dir)
    assert(r1.version == 1 && r2.version == 2)
    val change = Corpus.schemaChanges(spark, dir).collect()(0)
    assert(change.getAs[scala.collection.Seq[String]]("added_fields").toSeq.contains("b"))
    assert(change.getAs[scala.collection.Seq[String]]("removed_fields").toSeq.contains("a"))
    val history = Corpus.schemaHistory(spark, dir).select("version")
      .collect().map(_.getInt(0)).toSeq
    assert(history == Seq(1, 2))
  }

  test("ingestJson: ragged records get real quality issues and spliced blobs") {
    val dir = tmpDir("corpus_")
    val recs = Seq("""{"a": 1, "b": 2}""", """{"a": 3}""", """{"a": 4, "z": 5}""").toDF("j")
    val r = Pipeline.ingestJson(spark, recs, "j", dir)
    assert(r.recordCount == 3)
    assert(r.schema.properties.keySet == Set("a", "b", "z"))
    assert(r.schema.required == Seq("a"))
    // validation iterates ALL schema properties (app.py:275) — every ragged
    // record misses some union field, so none is clean
    assert(r.cleanCount == 0 && r.flaggedCount == 3)
    val rows = Corpus.records(spark, dir)
      .select(get_json_object(col("data"), "$.a").as("a"),
        get_json_object(col("data"), "$._schema_version").as("v"),
        col("data"))
      .orderBy("a").collect()
    assert(rows.map(_.getString(1)).forall(_ == "1"), "blob missing spliced _schema_version")
    assert(rows(0).getString(2).contains("\"_quality_issues\": [\"Missing field:"),
      s"expected python-style issues in blob: ${rows(0).getString(2)}")
  }

  test("ingestJson: padded and empty objects get the stamp spliced into valid JSON") {
    // JSONL lines reach the splice as written (Readers.txt keeps padding),
    // and validation accepts JSON whitespace around an object
    val file = java.nio.file.Paths.get(tmpDir("ragged_"), "in.jsonl")
    java.nio.file.Files.write(file,
      " {\"a\": 1}\n{\"a\": 2}  \n{ }\n".getBytes("UTF-8"))
    val dir = tmpDir("corpus_")
    val recs = graft.ingest.Readers.txt(spark, file.toString)
    val r = Pipeline.ingestJson(spark, recs, "content", dir)
    assert(r.recordCount == 3)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val blobs = Corpus.records(spark, dir).select("data").collect().map(_.getString(0))
    assert(blobs.length == 3)
    blobs.foreach { b =>
      val tree = scala.util.Try(mapper.readTree(b)).toOption
      assert(tree.exists(_.isObject), s"stored blob is not a JSON object: $b")
      assert(tree.get.path("_schema_version").asInt(-1) == r.version,
        s"blob missing spliced _schema_version: $b")
      assert(tree.get.has("_ingested_at") && tree.get.has("_quality_issues"),
        s"blob missing spliced stamp fields: $b")
    }
  }

  test("stampAndSerialize (struct variant) renders the same blob as the splice path") {
    import graft.ops.{Corpus => C, Validate}
    import graft.model.JsonSchema
    val batch = Seq(("hello", 42)).toDF("content", "n")
    val withPat = graft.ops.Extract.withExtractedPatterns(batch)
    val cols = withPat.columns
    val asJson = withPat.withColumn("data",
      to_json(struct(cols.map(col).toSeq: _*), Map("ignoreNullFields" -> "false")))
    val schema = JsonSchema(cols.map(_ -> "string").toMap, cols.sorted.toSeq)
    val validated = Validate.withQualityIssues(asJson, schema, "data")
    val a = C.stampAndSerialize(validated.drop("data"), 1, idCol = Some("n"))
      .select("data").collect()(0).getString(0)
    val b = C.stampAndSerializeJson(validated, 1, idCol = Some("n"))
      .select("data").collect()(0).getString(0)
    // strip the (time-dependent) _ingested_at values before comparing
    def scrub(s: String) = s.replaceAll(""""_ingested_at": "[^"]*"""", """"_ingested_at": "T"""")
    assert(scrub(a) == scrub(b), s"\nstruct: $a\nsplice: $b")
  }

  test("one-shot native stamp renders the same blob as the to_json + json.dumps render") {
    import graft.ops.{Corpus => C, Validate}
    import graft.model.JsonSchema
    val batch = Seq(("hello \"wörld\"", 42)).toDF("content", "n")
    val withPat = graft.ops.Extract.withExtractedPatterns(batch)
    val cols = withPat.columns
    val asJson = withPat.withColumn("data",
      call_function("graft_pyjson", struct(cols.map(col).toSeq: _*)))
    val schema = JsonSchema(cols.map(_ -> "string").toMap, cols.sorted.toSeq)
    val validated = Validate.withQualityIssues(asJson, schema, "data").drop("data")
    val a = C.stampAndSerialize(validated, 1, idCol = Some("n"), native = true)
      .select("data").collect()(0).getString(0)
    val b = C.stampAndSerialize(validated, 1, idCol = Some("n"), native = false)
      .select("data").collect()(0).getString(0)
    def scrub(s: String) = s.replaceAll(""""_ingested_at": "[^"]*"""", """"_ingested_at": "T"""")
    assert(scrub(a) == scrub(b), s"\nnative:  $a\nto_json: $b")
  }

  test("native graft_pyjson equals to_json + PyJson.dumps on a gnarly payload") {
    val df = Seq(
      ("café 你好", Some(1.5), Some(42L), Seq("a\"b", "c\\d"), java.sql.Date.valueOf("2024-02-29")),
      ("ctl\tchars\n", None, None, Seq.empty[String], java.sql.Date.valueOf("1999-12-31"))
    ).toDF("s", "d", "l", "arr", "dt")
    val payload = struct(col("s"), col("d"), col("l"), col("arr"), col("dt"))
    val pyDumpsUdf = udf(graft.functions.PyJson.dumps _)
    val rows = df.select(
      call_function("graft_pyjson", payload).as("native"),
      pyDumpsUdf(to_json(payload, java.util.Map.of("ignoreNullFields", "false"))).as("via_tojson"))
      .collect()
    rows.foreach { r =>
      assert(r.getString(0) == r.getString(1),
        s"\nnative:    ${r.getString(0)}\nvia_tojson: ${r.getString(1)}")
    }
  }

  /** Data files under `dir`, recursively. */
  private def dataFiles(dir: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir)).map(_.getPath).filter(_.endsWith(".parquet"))
  }

  test("compact rewrites many small appends into few files, data intact") {
    val dir = tmpDir("corpus_")
    (1 to 5).foreach(i =>
      Pipeline.ingest(spark, Seq((s"doc$i", i)).toDF("content", "n"), dir))
    def parquetFiles = dataFiles(s"$dir/records")
    val before = Corpus.records(spark, dir).orderBy("id")
      .select("id", "data").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(parquetFiles.size >= 5, s"expected >=5 small files, got ${parquetFiles.size}")
    Corpus.compact(spark, dir)
    assert(parquetFiles.size == 1, s"expected 1 file after compact, got ${parquetFiles.size}")
    val after = Corpus.records(spark, dir).orderBy("id")
      .select("id", "data").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(after.toSeq == before.toSeq, "compaction must not change the data")
  }

  test("compact crash between its two renames: readers fall back, writers repair") {
    // Simulate the unsafe window: live dir moved aside, new store complete
    // under the working name, crash before publish. Readers must see the
    // data READ-ONLY; the next writer (append or compact) must repair.
    val dir = tmpDir("corpus_")
    (1 to 3).foreach(i =>
      Pipeline.ingest(spark, Seq((s"doc$i", i)).toDF("content", "n"), dir))
    val before = Corpus.records(spark, dir).orderBy("id")
      .select("id", "data").collect().map(r => (r.getLong(0), r.getString(1)))

    def crashState(tmpComplete: Boolean): Unit = {
      val live = new java.io.File(s"$dir/records")
      val target = new java.io.File(
        if (tmpComplete) s"$dir/_records_compacting" else s"$dir/_records_old")
      assert(live.renameTo(target), s"fixture: cannot stage $target")
    }

    // state 1: crash AFTER rename1 with a complete tmp → repair publishes it
    crashState(tmpComplete = true)
    assert(Corpus.records(spark, dir).count() == before.length,
      "reader must fall back to the complete compacting dir")
    Pipeline.ingest(spark, Seq(("doc4", 4)).toDF("content", "n"), dir) // writer repairs
    assert(new java.io.File(s"$dir/records").isDirectory &&
      !new java.io.File(s"$dir/_records_compacting").exists(),
      "append must publish the interrupted compaction before writing")
    val after1 = Corpus.records(spark, dir).orderBy("id")
      .select("id", "data").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(after1.take(before.length).toSeq == before.toSeq && after1.length == before.length + 1,
      "no rows lost across the repair, new append lands after them")

    // state 2: crash where only the old store survives → compact restores it
    crashState(tmpComplete = false)
    Corpus.compact(spark, dir)
    assert(new java.io.File(s"$dir/records").isDirectory &&
      !new java.io.File(s"$dir/_records_old").exists(),
      "compact must restore the old store before compacting")
    val after2 = Corpus.records(spark, dir).orderBy("id")
      .select("id", "data").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(after2.toSeq == after1.toSeq, "rollback repair must not change the data")
  }

  test("id seeding reads the high-water sidecar, not the corpus") {
    val dir = tmpDir("corpus_")
    Pipeline.ingest(spark, Seq(("a", 1), ("b", 2)).toDF("content", "n"), dir)
    val hw = Corpus.readHighWater(spark, dir)
    val trueMax = Corpus.records(spark, dir).agg(max(col("id")))
      .collect()(0).getLong(0)
    assert(hw == trueMax, s"sidecar $hw != corpus max $trueMax")
    // poke a sentinel into the sidecar; maxId must serve it verbatim —
    // direct proof the corpus was NOT scanned
    Corpus.writeHighWater(spark, dir, hw + 1000000)
    assert(Corpus.maxId(spark, dir) == hw + 1000000)
    // and the next batch seeds ABOVE the sidecar: ids stay unique/ascending
    Pipeline.ingest(spark, Seq(("c", 3)).toDF("content", "n"), dir)
    val newIds = Corpus.records(spark, dir).filter(col("id") > hw)
      .select("id").collect().map(_.getLong(0))
    assert(newIds.nonEmpty && newIds.forall(_ > hw + 1000000),
      s"second batch must seed above the sidecar, got ${newIds.toSeq}")
  }

  test("a stale sidecar with a pending marker falls back to the corpus scan") {
    val dir = tmpDir("corpus_")
    Pipeline.ingest(spark, Seq(("a", 1), ("b", 2)).toDF("content", "n"), dir)
    val trueMax = Corpus.records(spark, dir).agg(max(col("id")))
      .collect()(0).getLong(0)
    // simulate a crash between the data commit and the sidecar update:
    // sidecar holds a stale LOW value, pending marker still present
    Corpus.writeHighWater(spark, dir, -1L)
    new java.io.File(s"$dir/_maxid_pending").createNewFile()
    assert(Corpus.maxId(spark, dir) == trueMax,
      "pending marker must force the authoritative scan")
    // maxId is a READ api: it must NOT have repaired the sidecar or cleared
    // the marker (a reader mutating shared state races an in-flight append)
    assert(Corpus.readHighWater(spark, dir) == -1L)
    assert(new java.io.File(s"$dir/_maxid_pending").exists())
    // repair belongs to the writer: the next append publishes an accurate
    // sidecar and clears the stale marker
    Pipeline.ingest(spark, Seq(("c", 3)).toDF("content", "n"), dir)
    val repairedMax = Corpus.records(spark, dir).agg(max(col("id")))
      .collect()(0).getLong(0)
    assert(repairedMax > trueMax, "new batch must seed above the scanned max")
    assert(Corpus.readHighWater(spark, dir) == repairedMax)
    assert(!new java.io.File(s"$dir/_maxid_pending").exists())
  }

  private def stampable = Seq(("x", 1), ("y", 2), ("z", 3)).toDF("content", "n")
    .withColumn("_quality_issues", array().cast("array<string>"))

  test("ingest and ingestJson write their batch without a sort") {
    val dir = tmpDir("corpus_")
    val plans = FinalPlans.during(spark) {
      Pipeline.ingest(spark, Seq(("a", 1), ("b", 2)).toDF("content", "n"), dir)
      Pipeline.ingestJson(spark, Seq("""{"a": 1}""", """{"b": 2}""").toDF("j"), "j", dir)
    }
    val writes = plans.collect {
      case w: org.apache.spark.sql.execution.command.DataWritingCommandExec => w
    }
    assert(writes.size == 2, s"expected both batch writes, got:\n${plans.mkString("\n")}")
    val sorts = plans.flatMap(p => FinalPlans.collectWithSubqueries(p) {
      case s: org.apache.spark.sql.execution.SortExec => s
    })
    assert(sorts.isEmpty, s"ingest must not sort its batch:\n${sorts.mkString("\n")}")
    assert(Corpus.records(spark, dir).groupBy("schema_version").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap == Map(1 -> 2L, 2 -> 2L))
  }

  test("append of a frame mixing stamped versions fails and commits nothing") {
    val dir = tmpDir("corpus_")
    val mixed = Corpus.stampAndSerialize(stampable, 1, idBase = 0L)
      .union(Corpus.stampAndSerialize(stampable, 2, idBase = 10L))
    // literal versions fail at planning; cached ones inside the write tasks
    intercept[Exception](Corpus.append(mixed, dir))
    val cached = mixed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try intercept[Exception](Corpus.append(cached, dir))
    finally cached.unpersist(blocking = true)
    assert(dataFiles(s"$dir/records").isEmpty,
      s"a failed append must leave no data file: ${dataFiles(s"$dir/records")}")
  }

  test("a persisted stamped batch lands in its version's directory") {
    val dir = tmpDir("corpus_")
    val stamped = Corpus.stampAndSerialize(stampable, 3, idBase = 0L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      stamped.count()
      Corpus.append(stamped, dir)
    } finally stamped.unpersist(blocking = true)
    val files = dataFiles(s"$dir/records")
    val v3 = new java.io.File(s"$dir/records/schema_version=3").getPath
    assert(files.nonEmpty && files.forall(_.startsWith(v3)),
      s"expected every data file under $v3: $files")
    assert(Corpus.records(spark, dir).select("schema_version").distinct()
      .collect().map(_.getInt(0)).toSeq == Seq(3))
  }

  test("append refuses a frame that stampAndSerialize did not build") {
    val dir = tmpDir("corpus_")
    val plain = Seq((1L, "{}", 1)).toDF("id", "data", "schema_version")
    intercept[IllegalArgumentException](Corpus.append(plain, dir))
    assert(!new java.io.File(s"$dir/records").exists() &&
      !new java.io.File(s"$dir/_maxid_pending").exists())
  }

  test("counters are per-batch, not cumulative") {
    val dir = tmpDir("corpus_")
    Pipeline.ingest(spark, Seq(("x", 1), ("y", 2)).toDF("content", "n"), dir)
    val r2 = Pipeline.ingest(spark, Seq(("z", 3)).toDF("content", "n"), dir)
    assert(r2.recordCount == 1, s"expected per-batch count 1, got ${r2.recordCount}")
  }

  /** What a batch may change: latest version, both schema tables, the id
    * high-water sidecar, and the stored records. */
  private def corpusState(dir: String) = (
    new graft.ops.Evolution(spark, dir).latestVersion,
    Corpus.schemaHistory(spark, dir).collect().toSeq,
    Corpus.schemaChanges(spark, dir).collect().toSeq,
    Corpus.readHighWater(spark, dir),
    dataFiles(s"$dir/records").sorted,
    scala.util.Try(Corpus.records(spark, dir).orderBy("id").collect().toSeq).toOption)

  test("an empty batch with a new field set publishes and writes nothing") {
    val dir = tmpDir("corpus_")
    Pipeline.ingest(spark, Seq(("a", 1)).toDF("content", "n"), dir)
    val before = corpusState(dir)
    val r1 = Pipeline.ingest(spark, Seq.empty[(String, Int)].toDF("other", "m"), dir)
    val r2 = Pipeline.ingest(spark, spark.range(10).filter(col("id") < 0)
      .select(col("id").as("m")), dir)
    val r3 = Pipeline.ingestJson(spark, Seq.empty[String].toDF("j"), "j", dir)
    for (r <- Seq(r1, r2, r3)) {
      assert(r.recordCount == 0 && r.version == 1, s"$r")
      assert(r.addedFields.isEmpty && r.removedFields.isEmpty, s"$r")
    }
    assert(corpusState(dir) == before)
    assert(!new java.io.File(s"$dir/_staging").exists() &&
      !new java.io.File(s"$dir/_maxid_pending").exists())
  }

  test("a write that fails inside its tasks publishes no version") {
    // the new field set would be v1 on a new corpus and v2 on an old one
    val boom = spark.range(0, 8, 1, 4).select(col("id").cast("string").as("content"),
      when(col("id") === 6, raise_error(lit("boom"))).otherwise(col("id")).as("m"))
    for (seeded <- Seq(false, true)) {
      val dir = tmpDir("corpus_")
      if (seeded) Pipeline.ingest(spark, Seq(("a", 1)).toDF("content", "n"), dir)
      val before = corpusState(dir)
      intercept[Exception](Pipeline.ingest(spark, boom, dir))
      assert(corpusState(dir) == before, s"seeded=$seeded")
      // tasks Spark is still cancelling may leave uncommitted attempt dirs
      // under `_staging/_temporary`; no data file may be staged for a move
      val staged = Option(new java.io.File(s"$dir/_staging").listFiles()).toSeq.flatten
        .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
      assert(staged.isEmpty && !new java.io.File(s"$dir/_maxid_pending").exists(),
        s"the failed batch must be dropped: $staged")
    }
  }

  test("a crash at any commit step leaves the corpus before the batch or with all of it") {
    import java.io.File
    import org.apache.commons.io.FileUtils
    val base = Seq(("a", 1), ("b", 2)).toDF("content", "n")
    // a new field set (v2) written by 4 tasks, so the move has 4 files
    val batch = spark.range(0, 8, 1, 4)
      .select(col("id").cast("string").as("content"), col("id").as("m"))
    // Each crash state is built on disk from a twin corpus that took the
    // batch whole: its v2 data files are the staged batch, its schema
    // tables the published version, its `_maxid` the advanced high-water.
    val twin = tmpDir("twin_")
    Pipeline.ingest(spark, base, twin)
    Pipeline.ingest(spark, batch, twin)
    val batchFiles = new File(s"$twin/records/schema_version=2").listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
    assert(batchFiles.length == 4)
    val v2Schema = new graft.ops.Evolution(spark, twin).latest.get._2
    // (step, whether the batch survives): before the commit point the next
    // writer drops the staged batch, from it on it finishes the batch
    val steps = Seq("marked" -> false, "staged" -> false, "committed" -> true,
      "published" -> true, "moved-one" -> true, "moved" -> true,
      "highwater" -> true, "cleaned" -> true)
    for ((step, kept) <- steps) {
      val dir = tmpDir("corpus_")
      Pipeline.ingest(spark, base, dir)
      def past(s: String) = steps.indexWhere(_._1 == s) <= steps.indexWhere(_._1 == step)
      val staging = new File(s"$dir/_staging")
      val dest = new File(s"$dir/records/schema_version=2")
      new File(s"$dir/_maxid_pending").createNewFile()
      if (past("staged")) {
        batchFiles.foreach(FileUtils.copyFileToDirectory(_, staging))
        new File(staging, "_SUCCESS").createNewFile()
      }
      if (past("committed"))
        FileUtils.writeStringToFile(new File(staging, "_publish"), s"2\n$v2Schema", "UTF-8")
      // a file or dir of the twin's, with its checksum file
      def takeFromTwin(name: String): Unit =
        for (n <- Seq(name, s".$name.crc")) {
          FileUtils.deleteQuietly(new File(s"$dir/$n"))
          val from = new File(s"$twin/$n")
          if (from.isDirectory) FileUtils.copyDirectory(from, new File(s"$dir/$n"))
          else if (from.exists) FileUtils.copyFile(from, new File(s"$dir/$n"))
        }
      if (past("published"))
        Seq("schema_history", "schema_changes", "_schema_state").foreach(takeFromTwin)
      val moved = if (past("moved")) 4 else if (past("moved-one")) 1 else 0
      batchFiles.take(moved).foreach(f =>
        FileUtils.moveFileToDirectory(new File(staging, f.getName), dest, true))
      if (past("highwater")) takeFromTwin("_maxid")
      if (past("cleaned")) FileUtils.deleteDirectory(staging)
      if (step == "published" || step == "moved-one") {
        // readers never repair: until the next writer runs they see v2
        // published with none or only part of its records
        val v2Rows = Corpus.records(spark, dir).filter(col("schema_version") === 2).count()
        assert(new graft.ops.Evolution(spark, dir).latestVersion == 2, s"after $step")
        assert(if (step == "published") v2Rows == 0 else v2Rows > 0 && v2Rows < 8,
          s"$v2Rows v2 rows visible after $step")
      }
      val next = Pipeline.ingest(spark, Seq(("c", 3)).toDF("content", "n"), dir) // repairs
      val perVersion = Corpus.records(spark, dir).groupBy("schema_version").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val versions = Corpus.schemaHistory(spark, dir).collect().map(_.getInt(0)).toSeq
      val changes = Corpus.schemaChanges(spark, dir).collect()
        .map(r => (r.getInt(1), r.getInt(2))).toSeq.sorted
      if (kept) {
        assert(perVersion == Map(1 -> 2L, 2 -> 8L, 3 -> 1L), s"after $step")
        assert(versions == Seq(1, 2, 3) && changes == Seq((1, 2), (2, 3)), s"after $step")
        assert(next.version == 3)
      } else {
        assert(perVersion == Map(1 -> 3L), s"after $step")
        assert(versions == Seq(1) && changes.isEmpty, s"after $step")
        assert(next.version == 1)
      }
      val ids = Corpus.records(spark, dir).select("id").collect().map(_.getLong(0))
      assert(ids.distinct.length == ids.length, s"duplicate ids after $step")
      assert(Corpus.readHighWater(spark, dir) == ids.max, s"high-water after $step")
      for (f <- Seq("_staging", "_maxid_pending", "_schema_pending"))
        assert(!new File(s"$dir/$f").exists(), s"$f left after $step")
    }
  }

  /** A one-file CSV upload; its one inference job runs here. */
  private def csvBatch(header: String, rows: Int, pad: String = "") = {
    val f = java.nio.file.Paths.get(tmpDir("csv_"), "in.csv")
    java.nio.file.Files.write(f, (header +: (1 to rows).map(i => s"doc $i$pad,$i" +
      (if (header.count(_ == ',') == 2) s",x$i" else "")))
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    graft.ingest.Readers.csv(spark, f.toString)
  }

  test("a batch into an existing corpus runs one job plus any spread; the browse tables none") {
    val dir = tmpDir("corpus_")
    Pipeline.ingest(spark, Seq(("a", 1)).toDF("content", "n"), dir)
    val jobs = FinalPlans.jobsDuring(spark) _
    // in enough splits: the write is the only job
    val wide = spark.range(1, 21, 1, 4).select(concat(lit("doc "), col("id")).as("content"),
      col("id").cast("int").as("n"))
    assert(jobs(Pipeline.ingest(spark, wide, dir)) == 1)
    // one split, but below the spread floor: the write is the only job
    val same = csvBatch("content,n", 20)
    val bumped = csvBatch("content,n,extra", 20)
    assert(jobs(Pipeline.ingest(spark, same, dir)) == 1)
    assert(jobs(Pipeline.ingest(spark, bumped, dir)) == 1)
    assert(jobs(Corpus.schemaHistory(spark, dir).collect()) == 0)
    assert(jobs(Corpus.schemaChanges(spark, dir).collect()) == 0)
    assert(jobs(Corpus.latestRecords(spark, dir).collect()) == 1)
    assert(Corpus.records(spark, dir).groupBy("schema_version").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap == Map(1 -> 41L, 2 -> 20L))
  }

  test("a ragged JSON batch into an existing corpus runs two jobs: the inference fold and the write") {
    val dir = tmpDir("corpus_")
    Pipeline.ingest(spark, Seq(("a", 1)).toDF("content", "n"), dir)
    val f = java.nio.file.Paths.get(tmpDir("jsonl_"), "in.jsonl")
    java.nio.file.Files.write(f, (1 to 40).map(i =>
      if (i % 3 == 0) s"""{"content": "doc $i"}""" else s"""{"content": "doc $i", "n": $i}""")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    val batch = graft.ingest.Readers.txt(spark, f.toString)
    var r: Pipeline.IngestResult = null
    val jobs = FinalPlans.jobsDuring(spark) { r = Pipeline.ingestJson(spark, batch, "content", dir) }
    assert(jobs == 2)
    assert(r.recordCount == 40 && r.flaggedCount == 13)
    assert(r.schema.required == Seq("content"))
  }

  test("the spread floor: a one-split batch is spread only at or above it") {
    // local[4]: a spread batch is written by 4 tasks, so as 4 files
    val dir = tmpDir("corpus_")
    def filesOf(r: Pipeline.IngestResult) = dataFiles(s"$dir/records/schema_version=${r.version}").size
    val small = csvBatch("content,n", 20)
    val large = csvBatch("content,n,extra", 8000, pad = " " + "lorem ipsum " * 10) // ~1 MB
    assert(small.rdd.getNumPartitions == 1 && large.rdd.getNumPartitions == 1)
    // below the floor: no shuffle stage, one job, one file
    var r: Pipeline.IngestResult = null
    var plans: Seq[org.apache.spark.sql.execution.SparkPlan] = Nil
    val jobs = FinalPlans.jobsDuring(spark) {
      plans = FinalPlans.during(spark) { r = Pipeline.ingest(spark, small, dir) }
    }
    assert(jobs == 1 && filesOf(r) == 1)
    val exchanges = plans.flatMap(p => FinalPlans.collectWithSubqueries(p) {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    })
    assert(plans.nonEmpty && exchanges.isEmpty, s"unexpected exchange:\n${plans.mkString("\n")}")
    // above it: spread over every core
    assert(filesOf(Pipeline.ingest(spark, large, dir)) == 4)
    // enough splits already: not spread
    val two = spark.range(0, 400, 1, 2).select(col("id").cast("string").as("content"))
    assert(filesOf(Pipeline.ingest(spark, two, dir)) == 2)
    // an unknown size (an RDD-backed frame) is spread, as it was before the floor
    val rows = spark.sparkContext.parallelize((1 to 20).map(i => Row(s"doc $i", i)), 1)
    val unknown = spark.createDataFrame(rows, StructType(Seq(
      StructField("content", StringType), StructField("n", IntegerType))))
    assert(unknown.rdd.getNumPartitions == 1)
    assert(filesOf(Pipeline.ingest(spark, unknown, dir)) == 4)
  }

  test("IngestResult names the fields its version added and removed") {
    val dir = tmpDir("corpus_")
    val r1 = Pipeline.ingest(spark, Seq(("a", 1)).toDF("content", "n"), dir)
    assert(r1.addedFields == Seq("_extracted_patterns", "content", "n") && r1.removedFields.isEmpty)
    assert(Corpus.schemaChanges(spark, dir).count() == 0, "v1 has no change row")
    val r2 = Pipeline.ingest(spark, Seq(("b", 2L)).toDF("content", "m"), dir)
    val r3 = Pipeline.ingest(spark, Seq(("c", 3L)).toDF("content", "m"), dir)
    assert(r3.version == 2 && r3.addedFields.isEmpty && r3.removedFields.isEmpty)
    val r4 = Pipeline.ingestJson(spark, Seq("""{"m": 1, "z": 2}""").toDF("j"), "j", dir)
    val logged = Corpus.schemaChanges(spark, dir).collect().map { r =>
      r.getAs[Int]("new_version") ->
        (r.getAs[scala.collection.Seq[String]]("added_fields").toSeq,
          r.getAs[scala.collection.Seq[String]]("removed_fields").toSeq)
    }.toMap
    assert(logged == Map(
      r2.version -> (r2.addedFields, r2.removedFields),
      r4.version -> (r4.addedFields, r4.removedFields)))
    assert(r2.addedFields == Seq("m") && r2.removedFields == Seq("n"))
    assert(r4.version == 3 && r4.addedFields == Seq("z"))
  }
}
