package graft.perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.Pipeline
import graft.ingest.Readers
import graft.model.JsonSchema
import graft.ops._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.storage.StorageLevel

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** What one iteration leaves for its output checks and metrics. */
trait IterationOutput {
  /** Batch upload-to-commit times in seconds (ingest only). */
  def batchSeconds: Seq[Double] = Nil
  /** Bytes the iteration stored, per input byte (ingest only). */
  def storedPerInputByte: Option[Double] = None
}

/** A workload: its seeded inputs are generated once per run into `inputs`;
  * every iteration gets its own fresh copy in `dir` (a path no earlier
  * iteration read) and runs against it.
  */
trait Workload {
  def name: String
  /** Input records (ingest) or documents (curate) of one iteration. */
  def inputRecords: Long
  /** One iteration through the engine's public entry points. */
  def run(dir: Path): IterationOutput
  /** One iteration staged layer by layer, each call inside a span. */
  def runTraced(dir: Path, t: Tracer): IterationOutput
  /** Failed output checks of an iteration (empty when all pass). */
  def check(out: IterationOutput): Seq[String]
}

object Workload {
  def apply(name: String, spark: SparkSession, truth: JsonNode,
            pinnedDigest: Option[String]): Workload = name match {
    case "ingest_evolve" => new IngestEvolve(spark, truth)
    case "curate_distinct" => new Curation(name, spark, truth, pinnedDigest, perDocLayers = true)
    case "curate_crawl" => new Curation(name, spark, truth, pinnedDigest, perDocLayers = false)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Materialize `df` to the no-op sink; returns its row count, counted on
    * the way through. */
  def noopCount(df: DataFrame): Long = {
    val obs = new org.apache.spark.sql.Observation()
    df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  def persisted(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    (p, p.count())
  }

  /** Bytes of cached and checkpointed blocks, in memory and on disk. */
  def storedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}

// ---------------------------------------------------------------- ingest

final class IngestEvolve(spark: SparkSession, truth: JsonNode) extends Workload {
  import Workload._

  val name = "ingest_evolve"
  private val batches = truth.get("batches").elements().asScala.toSeq
  val inputRecords: Long = truth.get("records").asLong()

  final case class Out(corpus: String, flagged: Long, latestIds: Seq[Long],
                       historyRows: Int, override val batchSeconds: Seq[Double])
    extends IterationOutput {
    override def storedPerInputByte: Option[Double] =
      Some(dirBytes(Path.of(corpus)).toDouble / truth.get("input_bytes").asDouble())
  }

  private def read(dir: Path, b: JsonNode): DataFrame = {
    val path = dir.resolve("inputs").resolve(b.get("file").asText()).toString
    b.get("format").asText() match {
      case "csv" => Readers.csv(spark, path)
      case "json" => Readers.json(spark, path)
      case "jsonl" => Readers.txt(spark, path) // one JSON object per line
      case "parquet" => spark.read.parquet(path)
    }
  }

  private def ragged(b: JsonNode) = b.get("format").asText() == "jsonl"

  private def browse(corpus: String): (Seq[Long], Int) = {
    val latest = Corpus.latestRecords(spark, corpus, 50).select("id").collect().map(_.getLong(0))
    val history = Corpus.schemaHistory(spark, corpus).collect()
    Corpus.schemaChanges(spark, corpus).collect()
    (latest.toSeq, history.length)
  }

  def run(dir: Path): IterationOutput = {
    val corpus = dir.resolve("corpus").toString
    var flagged = 0L
    val times = batches.map { b =>
      val t0 = System.nanoTime()
      val df = read(dir, b)
      val r =
        if (ragged(b)) Pipeline.ingestJson(spark, df, "content", corpus)
        else Pipeline.ingest(spark, df, corpus)
      flagged += r.flaggedCount
      (System.nanoTime() - t0) / 1e9
    }
    val (latest, history) = browse(corpus)
    Out(corpus, flagged, latest, history, times)
  }

  def runTraced(dir: Path, t: Tracer): IterationOutput = {
    val corpus = dir.resolve("corpus").toString
    var flagged = 0L
    var version = 0
    batches.foreach { b =>
      var cached = List.empty[DataFrame]
      def keep(df: DataFrame): (DataFrame, Long) = {
        val (p, n) = persisted(df); cached ::= p; (p, n)
      }
      val input = t.span("Readers") { s =>
        val raw = read(dir, b)
        // Pipeline.ingest's spread rule, so later layers see its partitioning
        val par = spark.sparkContext.defaultParallelism
        val spread =
          if (!ragged(b) && raw.rdd.getNumPartitions * 4 <= par) raw.repartition(par) else raw
        val (df, n) = keep(spread)
        s.extras("rows_out") = n
        df
      }
      val (validated, schema) =
        if (ragged(b)) {
          val asJson = input.withColumnRenamed("content", "data")
          val schema = t.span("InferSchema") { s =>
            val sc = InferSchema.infer(asJson, "data").get
            s.extras("rows_out") = sc.fieldNames.size
            sc
          }
          val v = t.span("Validate") { s =>
            val (v, n) = keep(Validate.withQualityIssues(asJson, schema, "data"))
            s.extras("rows_out") = n
            v
          }
          val f = v.filter(size(col("_quality_issues")) > 0).count()
          flagged += f
          t.spans.last.extras("flagged") = f
          (v, schema)
        } else {
          val ext = t.span("Extract") { s =>
            val (e, n) = keep(Extract.withExtractedPatterns(input))
            s.extras("rows_out") = n
            e
          }
          // constant on the structured path, as in Pipeline.ingest
          val cols = ext.columns
          (ext.withColumn("_quality_issues", array().cast("array<string>")),
            JsonSchema(cols.map(_ -> "string").toMap, cols.sorted.toSeq))
        }
      val before = version
      version = t.span("Evolution") { _ =>
        new Evolution(spark, corpus).evolve(schema, schema.fieldNames)
      }
      t.spans.last.extras("rows_out") = version - before
      val stamped = t.span("Corpus.render") { s =>
        val idBase = Corpus.maxId(spark, corpus) + 1L
        val st =
          if (ragged(b)) Corpus.stampAndSerializeJson(validated, version, idBase = idBase)
          else Corpus.stampAndSerialize(validated, version, idBase = idBase,
            native = spark.catalog.functionExists("graft_pyjson"))
        val (p, n) = keep(st)
        s.extras("rows_out") = n
        p
      }
      val records = Path.of(corpus, "records")
      val filesBefore = parquetFiles(records)
      t.span("Corpus.append") { _ =>
        Corpus.append(stamped, corpus)
      }
      t.spans.last.extras("files") = parquetFiles(records) - filesBefore
      cached.foreach(_.unpersist(blocking = true))
    }
    val (latest, history) = t.span("Corpus.browse") { s =>
      val r = browse(corpus)
      s.extras("rows_out") = r._1.size + r._2
      r
    }
    Out(corpus, flagged, latest, history, Nil)
  }

  private def parquetFiles(p: Path): Int =
    if (!Files.exists(p)) 0
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.count(f => f.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }

  def check(o: IterationOutput): Seq[String] = {
    val out = o.asInstanceOf[Out]
    val fails = Seq.newBuilder[String]
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) fails += s"$what: got $got, want $want"
    // one aggregate over the stored records answers the row, flag and
    // pattern checks per schema version
    def patterns(kind: String): Column =
      coalesce(size(from_json(get_json_object(col("data"), s"$$._extracted_patterns.$kind"),
        lit("array<string>"))), lit(0))
    val records = Corpus.records(spark, out.corpus)
    val stats = records.groupBy("schema_version").agg(count(lit(1)),
        count(col("quality_issues")), sum(patterns("emails")),
        sum(patterns("phones")), sum(patterns("dates")))
      .collect().map(r => r.getInt(0).toString -> (1 to 5).map(r.getLong)).toMap
    val wantPerVersion = truth.get("rows_by_version").fields().asScala
      .map(e => e.getKey -> e.getValue.asLong()).toMap
    expect("corpus rows per schema version", stats.map { case (v, c) => v -> c(0) }, wantPerVersion)
    val wantFlagged = batches.map(_.get("flagged").asLong()).sum
    expect("flagged (ingest results)", out.flagged, wantFlagged)
    expect("flagged (stored records)", stats.values.map(_(1)).sum, wantFlagged)
    Seq("emails", "phones", "dates").zipWithIndex.foreach { case (k, i) =>
      expect(s"extracted $k", stats.values.map(_(2 + i)).sum, batches.map(_.get(k).asLong()).sum)
    }
    val versions = truth.get("versions").asInt()
    expect("schema versions (browse)", out.historyRows, versions)
    val changes = Corpus.schemaChanges(spark, out.corpus).collect().map { r =>
      (r.getAs[Int]("old_version"), r.getAs[Int]("new_version"),
        r.getAs[scala.collection.Seq[String]]("added_fields").toSeq.sorted,
        r.getAs[scala.collection.Seq[String]]("removed_fields").toSeq.sorted)
    }.toSet
    val wantChanges = truth.get("changes").elements().asScala.map { c =>
      def strs(k: String) = c.get(k).elements().asScala.map(_.asText()).toSeq
      (c.get("old_version").asInt(), c.get("new_version").asInt(), strs("added"), strs("removed"))
    }.toSet
    expect("schema change log", changes, wantChanges)
    val top = records.select("id").orderBy(desc("id")).limit(50).collect().map(_.getLong(0)).toSeq
    expect("latest 50 ids", out.latestIds, top)
    fails.result()
  }
}

// ---------------------------------------------------------------- curate

/** `Curate.curationSummary(Curate.curateCorpus(...))` over a generated
  * corpus. With `perDocLayers` the traced iteration also stages the per-
  * document MinHash chain (buckets, candidates, verify, components) — the
  * path the engine takes on a mostly distinct corpus.
  */
final class Curation(val name: String, spark: SparkSession, truth: JsonNode,
                     pinnedDigest: Option[String], perDocLayers: Boolean)
  extends Workload {
  import Workload._

  val inputRecords: Long = truth.get("docs").asLong()
  private val budget = truth.get("token_budget").asLong()
  private val minQuality = truth.get("min_quality").asDouble()
  private val threshold = truth.get("dup_threshold").asDouble()

  final case class Out(curated: DataFrame, summary: Seq[Row]) extends IterationOutput

  private def docs(dir: Path) = spark.read.parquet(dir.resolve("inputs/docs").toString)

  def run(dir: Path): IterationOutput = {
    val curated = Curate.curateCorpus(docs(dir), "doc_id", "text", "lang",
      minQuality, threshold, budget)
    Out(curated, Curate.curationSummary(curated, "lang").collect().toSeq)
  }

  def runTraced(dir: Path, t: Tracer): IterationOutput = {
    val input = docs(dir)
    // localCheckpoint rather than persist: the dedup sub-layers' public
    // calls leave caches behind, and clearing them must not drop this one
    val gated = t.span("TextAnalysis.quality") { _ =>
      TextAnalysis.withQualityFeatures(input, "text")
        .filter(col("quality_score") >= minQuality).localCheckpoint()
    }
    val gatedRows = gated.count()
    t.spans.last.extras ++= Seq("rows_out" -> gatedRows.toDouble,
      "pass_frac" -> gatedRows.toDouble / inputRecords)
    if (perDocLayers) {
      t.span("Dedup.buckets") { s =>
        s.extras("rows_out") = noopCount(Dedup.lshBuckets(gated, "doc_id", "text", 16, 4, 5))
      }
      spark.catalog.clearCache()
      val verified = t.span("Dedup.verify") { s =>
        val candidates = t.span("Dedup.candidates") { c =>
          val n = noopCount(Dedup.minhashCandidatePairs(gated, "doc_id", "text"))
          c.extras("rows_out") = n
          c.extras("per_doc") = n.toDouble / gatedRows
          n
        }
        spark.catalog.clearCache()
        val (v, caches) = Dedup.minhashNearDuplicatesH(gated, "doc_id", "text",
          threshold, 16, 4, 5, collapse = Some(false))
        val ck = v.localCheckpoint()
        caches.foreach(_.unpersist(blocking = true))
        s.extras("rows_out") = ck.count()
        s.extras("yield") = s.extras("rows_out") / math.max(candidates, 1L)
        ck
      }
      t.span("Dedup.components") { s =>
        val before = RoundsTap.rounds
        val labels = Dedup.connectedComponents(verified.select("id_a", "id_b"), toFixpoint = true)
        s.extras("rows_out") = labels.count()
        s.extras("rounds") = RoundsTap.rounds - before
      }
      spark.catalog.clearCache()
    }
    val survivors = t.span("Dedup.drop") { _ =>
      Dedup.dropNearDuplicates(gated, "doc_id", "text", threshold)
    }
    val ck = t.span("Curate.checkpoint") { s =>
      val before = storedBytes(spark)
      val c = survivors.localCheckpoint()
      s.extras("cached_mb") = (storedBytes(spark) - before) / 1e6
      c
    }
    val survivorRows = ck.count()
    t.spans.takeRight(2).foreach(_.extras("rows_out") = survivorRows) // drop, checkpoint
    val curated = Curate.bucketedRunningSum(ck, "lang", "doc_id",
      col("q_n_tokens").cast("long"), "__cum").filter(col("__cum") <= budget).drop("__cum")
    val summary = t.span("Curate.budget") { s =>
      val rows = Curate.curationSummary(curated, "lang").collect().toSeq
      s.extras("rows_out") = rows.size
      rows
    }
    Out(curated, summary)
  }

  /** Digest of the curated set: sha-256 over its sorted `id<TAB>lang` lines. */
  def digest(ids: Seq[(Long, String)]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    ids.sorted.foreach { case (id, lang) => md.update(s"$id\t$lang\n".getBytes("UTF-8")) }
    md.digest().map("%02x".format(_)).mkString
  }

  var lastDigest = ""

  def check(o: IterationOutput): Seq[String] = {
    val out = o.asInstanceOf[Out]
    val fails = Seq.newBuilder[String]
    val rows = out.curated.select(col("doc_id"), col("lang"), col("text"),
      col("q_n_tokens").cast("long")).collect()
    val ids = rows.map(_.getLong(0)).toSet
    val texts = rows.map(_.getString(2))
    if (texts.distinct.length != texts.length)
      fails += s"${texts.length - texts.distinct.length} survivors share a text"
    // per-language budget, and the summary agrees with the rows it summarizes
    val byLang = rows.groupBy(_.getString(1)).map { case (l, rs) =>
      l -> (rs.length.toLong, rs.map(_.getLong(3)).sum) }
    val summary = out.summary.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    if (summary != byLang) fails += s"summary $summary != curated rows $byLang"
    byLang.foreach { case (l, (_, tok)) =>
      if (tok > budget) fails += s"language $l holds $tok tokens, budget $budget" }
    // each exact-duplicate group keeps only its minimum id; when even that
    // is absent, the budget cut it, so no later document of its language
    // (in the cut's md5(id) order) may survive either
    val order = rows.map(r => (r.getString(1), (md5(r.getLong(0)), r.getLong(0))))
    truth.get("exact_groups").elements().asScala.foreach { g =>
      val members = g.elements().asScala.map(_.asLong()).toSeq
      val kept = members.filter(ids)
      val min = members.min
      if (kept.exists(_ != min)) fails += s"group of $min keeps ${kept.mkString(",")}"
      else if (kept.isEmpty) {
        val lang = truth.get("exact_group_langs").get(min.toString).asText()
        if (order.exists { case (l, k) => l == lang && Ordering[(String, Long)].gt(k, (md5(min), min)) })
          fails += s"group of $min lost its minimum id but later $lang documents survive"
      }
    }
    lastDigest = digest(rows.map(r => r.getLong(0) -> r.getString(1)).toSeq)
    pinnedDigest.foreach { want =>
      if (want != lastDigest) fails += s"digest $lastDigest != pinned $want" }
    fails.result()
  }

  private def md5(id: Long): String =
    java.security.MessageDigest.getInstance("MD5").digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
}
