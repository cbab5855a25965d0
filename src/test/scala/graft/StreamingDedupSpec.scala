package graft

import graft.ops.{Corpus, Dedup}
import graft.ops.TextAnalysis.fingerprintMd5
import graft.streaming.StreamingDedup
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  // 30 tokens — long enough that a last-token edit leaves Jaccard ≈ 0.93
  // over 5-shingles (26 agree / 28 total), far above the 0.5 threshold on
  // both the exact-verify and the signature-agreement side.
  private val docA = ("alpha beta gamma delta epsilon zeta eta theta iota " +
    "kappa lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi " +
    "omega one two three four five six")
  private val nearA = docA.replaceAll("six$", "seven")
  private val docB = "the quick brown fox jumps over the lazy dog tonight"
  private val docC = ("completely different content about weather patterns " +
    "storms clouds rainfall humidity pressure systems fronts and forecasting")

  test("admitBatch: micro-batches converge to the batch dedup result") {
    val indexDir = tmpDir("dedupidx_")
    val b1 = Seq((1L, docA), (2L, docA), (3L, docB)).toDF("id", "text")
    val b2 = Seq((11L, docA), (12L, nearA), (13L, docC)).toDF("id", "text")

    val a1 = StreamingDedup.admitBatch(spark, b1, "id", "text",
      indexDir, threshold = 0.5).select("id").as[Long].collect().sorted
    // 2 is an exact in-batch dup of 1
    assert(a1.toSeq == Seq(1L, 3L), s"batch1 admitted ${a1.toSeq}")

    val a2 = StreamingDedup.admitBatch(spark, b2, "id", "text",
      indexDir, threshold = 0.5).select("id").as[Long].collect().sorted
    // 11 = exact dup vs index, 12 = near-dup vs index, 13 novel
    assert(a2.toSeq == Seq(13L), s"batch2 admitted ${a2.toSeq}")

    // batch-mode over the union: same survivors
    val union = b1.union(b2)
    val batchMode = Dedup.dropNearDuplicates(
      Dedup.dedupKeepFirst(
        union.withColumn("fp", fingerprintMd5(col("text"))), "id", Seq("fp"))
        .drop("fp"),
      "id", "text", threshold = 0.5)
      .select("id").as[Long].collect().sorted
    assert(batchMode.toSeq == (a1 ++ a2).sorted.toSeq,
      s"batch ${batchMode.toSeq} vs streamed ${(a1 ++ a2).sorted.toSeq}")
  }

  test("admitBatch: admitted survivors keep original columns and the index accumulates") {
    val indexDir = tmpDir("dedupidx_")
    val out = StreamingDedup.admitBatch(spark,
      Seq((5L, docB, "keep-me")).toDF("id", "text", "extra"),
      "id", "text", indexDir, threshold = 0.5)
    assert(out.columns.toSeq == Seq("id", "text", "extra"))
    assert(out.select("extra").as[String].collect().toSeq == Seq("keep-me"))
    // fp/buckets/sig index tables all materialized
    assert(spark.read.parquet(s"$indexDir/fp").count() == 1)
    assert(spark.read.parquet(s"$indexDir/sig").count() == 1)
    assert(spark.read.parquet(s"$indexDir/buckets").count() == 4) // one per band
  }

  test("admitBatch: batch-keyed index writes are idempotent under replay") {
    val indexDir = tmpDir("dedupidx_")
    val b1 = Seq((1L, docA), (2L, docB)).toDF("id", "text")
    val a1 = StreamingDedup.admitBatch(spark, b1, "id", "text",
      indexDir, threshold = 0.5, batchId = Some(0L))
      .select("id").as[Long].collect().sorted
    assert(a1.toSeq == Seq(1L, 2L))
    // at-least-once replay of the SAME batchId: the index already holds this
    // batch's fingerprints, but reads exclude bid=0, so the batch must NOT
    // anti-join against itself — everything is re-admitted, and the
    // overwrite leaves the index unduplicated
    val a1r = StreamingDedup.admitBatch(spark, b1, "id", "text",
      indexDir, threshold = 0.5, batchId = Some(0L))
      .select("id").as[Long].collect().sorted
    assert(a1r.toSeq == Seq(1L, 2L), s"replay admitted ${a1r.toSeq} — lost rows")
    assert(spark.read.parquet(s"$indexDir/fp").count() == 2)
    assert(spark.read.parquet(s"$indexDir/sig").count() == 2)
    // a LATER batch still dedups against batch 0's committed index
    val a2 = StreamingDedup.admitBatch(spark,
      Seq((11L, docA), (12L, docC)).toDF("id", "text"), "id", "text",
      indexDir, threshold = 0.5, batchId = Some(1L))
      .select("id").as[Long].collect().sorted
    assert(a2.toSeq == Seq(12L), s"batch2 admitted ${a2.toSeq}")
  }

  test("admitBatch: buckets without signatures is an inconsistent index, not a fresh one") {
    val indexDir = tmpDir("dedupidx_")
    // simulate a crash between the buckets append and the sig append in
    // non-batch-keyed mode: fp + buckets exist, sig doesn't
    Seq((1L, "deadbeef")).toDF("id", "fp")
      .write.parquet(s"$indexDir/fp")
    Seq((1L, 0, "k0")).toDF("id", "band", "bkey")
      .write.parquet(s"$indexDir/buckets")
    val ex = intercept[IllegalStateException] {
      StreamingDedup.admitBatch(spark,
        Seq((2L, docC)).toDF("id", "text"), "id", "text",
        indexDir, threshold = 0.5)
    }
    assert(ex.getMessage.contains("inconsistent"))
  }

  test("compactIndex: admission decisions are unchanged against the compacted base") {
    // two identical indexes fed the same batches; one compacted. A probe
    // batch spanning every admission path (exact dup vs index, near dup vs
    // index, in-batch dup, novel) must decide identically against both.
    val live = tmpDir("dedupidx_")
    val tiered = tmpDir("dedupidx_")
    val b1 = Seq((1L, docA), (2L, docB)).toDF("id", "text")
    val b2 = Seq((11L, docC)).toDF("id", "text")
    Seq(live, tiered).foreach { d =>
      StreamingDedup.admitBatch(spark, b1, "id", "text", d, 0.5,
        batchId = Some(0L)).count()
      StreamingDedup.admitBatch(spark, b2, "id", "text", d, 0.5,
        batchId = Some(1L)).count()
    }
    StreamingDedup.compactIndex(spark, tiered, pruneBuckets = 8)
    // live tables are folded away; the bucket base is bp-partitioned with
    // its modulus sidecar riding the same directory
    assert(!Files.exists(Paths.get(tiered, "buckets")), "live tail must fold")
    assert(Files.exists(Paths.get(tiered, "buckets_c", "_prune_buckets")))
    assert(Files.list(Paths.get(tiered, "buckets_c")).toArray.map(_.toString)
      .exists(_.contains("bp=")), "bucket base must be bp-partitioned")
    val probe = Seq((21L, docA), (22L, nearA), (23L, docC), (24L, docC + " x"),
      (25L, docB + " extra novel words entirely"), (26L, docB + " extra novel words entirely"))
      .toDF("id", "text")
    val fromLive = StreamingDedup.admitBatch(spark, probe, "id", "text",
      live, 0.5, batchId = Some(2L)).select("id").as[Long].collect().sorted
    val fromTiered = StreamingDedup.admitBatch(spark, probe, "id", "text",
      tiered, 0.5, batchId = Some(2L)).select("id").as[Long].collect().sorted
    assert(fromTiered.toSeq == fromLive.toSeq,
      s"compaction changed admission: live=${fromLive.toSeq} tiered=${fromTiered.toSeq}")
    // and the post-compaction live tail keeps accumulating: re-compacting
    // folds the probe batch in and admission still sees everything
    StreamingDedup.compactIndex(spark, tiered, pruneBuckets = 8)
    val again = StreamingDedup.admitBatch(spark, probe, "id", "text",
      tiered, 0.5, batchId = Some(3L)).select("id").as[Long].collect()
    assert(again.isEmpty, s"fully-compacted index must drop the whole replayed probe: ${again.toSeq}")
  }

  test("compactIndex upgrades an index with md5 text band keys; admission refuses it until then") {
    // Two indexes fed the same batches (one compaction between them). One
    // is then rewritten in the format of engines that keyed bands with md5
    // text: string `bkey`s in the live tail and in a base partitioned by
    // crc32(bkey) mod 8.
    val fresh = tmpDir("dedupidx_")
    val old = tmpDir("dedupidx_")
    Seq(fresh, old).foreach { d =>
      StreamingDedup.admitBatch(spark, Seq((1L, docA), (2L, docB)).toDF("id", "text"),
        "id", "text", d, 0.5, batchId = Some(0L)).count()
      StreamingDedup.compactIndex(spark, d, pruneBuckets = 8)
      StreamingDedup.admitBatch(spark, Seq((11L, docC)).toDF("id", "text"),
        "id", "text", d, 0.5, batchId = Some(1L)).count()
    }
    def md5Buckets(sigs: org.apache.spark.sql.DataFrame, keep: String*) =
      sigs.select(keep.map(col) :+ col("id") :+
        posexplode(Md5BandKeys(col("sig"))).as(Seq("band", "bkey")): _*)
    md5Buckets(spark.read.parquet(s"$old/sig_c"))
      .withColumn("bp", pmod(crc32(col("bkey")), lit(8L)))
      .write.mode("overwrite").partitionBy("bp").parquet(s"$old/buckets_c")
    Files.write(Paths.get(old, "buckets_c", "_prune_buckets"),
      "8".getBytes(StandardCharsets.UTF_8))
    md5Buckets(spark.read.parquet(s"$old/sig"), "bid")
      .write.mode("overwrite").partitionBy("bid").parquet(s"$old/buckets")
    Seq("buckets", "buckets_c").foreach { t =>
      assert(spark.read.parquet(s"$old/$t").schema("bkey").dataType ==
        org.apache.spark.sql.types.StringType)
    }

    // exact dup of 1 (via fp), near dup of 1 (via the bucket join only),
    // exact dup of 11, and one novel doc
    val probe = Seq((21L, docA), (22L, nearA), (23L, docC),
      (24L, "garden soil needs compost mulch seeds water and patient hands every spring"))
      .toDF("id", "text")
    def admit(d: String) = StreamingDedup.admitBatch(spark, probe, "id", "text",
      d, 0.5, batchId = Some(2L)).select("id").as[Long].collect().sorted.toSeq
    val ex = intercept[IllegalStateException](admit(old))
    assert(ex.getMessage.contains("compactIndex"), ex.getMessage)
    assert(!Files.exists(Paths.get(old, "fp", "bid=2")), "a refused batch must write nothing")

    StreamingDedup.compactIndex(spark, old, pruneBuckets = 8)
    assert(!Files.exists(Paths.get(old, "buckets")), "live tail must fold")
    assert(new String(Files.readAllBytes(Paths.get(old, "buckets_c", "_prune_buckets")),
      StandardCharsets.UTF_8).trim == "8")
    val upgraded = spark.read.parquet(s"$old/buckets_c")
    assert(upgraded.schema("bkey").dataType == org.apache.spark.sql.types.LongType)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "band", "bkey").as[(Long, Int, Long)].collect().toSet
    val freshRows = rows(spark.read.parquet(s"$fresh/buckets_c")) ++
      rows(spark.read.parquet(s"$fresh/buckets"))
    assert(rows(upgraded) == freshRows, "upgraded buckets must equal a fresh index's")
    assert(upgraded.filter(col("bp") =!= pmod(col("bkey"), lit(8L))).isEmpty,
      "the base must be partitioned by pmod(bkey, 8)")

    val fromFresh = admit(fresh)
    assert(fromFresh == Seq(24L), s"fresh index admitted $fromFresh")
    assert(admit(old) == fromFresh, "the upgraded index must decide as a fresh one")
  }

  test("compactIndex: is idempotent and duplicate-tolerant (crash repair = re-run)") {
    val indexDir = tmpDir("dedupidx_")
    StreamingDedup.admitBatch(spark,
      Seq((1L, docA), (2L, docB)).toDF("id", "text"), "id", "text",
      indexDir, 0.5, batchId = Some(0L)).count()
    StreamingDedup.compactIndex(spark, indexDir, pruneBuckets = 8)
    val fp1 = spark.read.parquet(s"$indexDir/fp_c").count()
    // re-run with nothing new: same row counts, admission unchanged
    StreamingDedup.compactIndex(spark, indexDir, pruneBuckets = 8)
    assert(spark.read.parquet(s"$indexDir/fp_c").count() == fp1)
    val a = StreamingDedup.admitBatch(spark,
      Seq((11L, docA), (12L, docC)).toDF("id", "text"), "id", "text",
      indexDir, 0.5, batchId = Some(1L)).select("id").as[Long].collect().sorted
    assert(a.toSeq == Seq(12L), s"admitted ${a.toSeq}")
  }

  test("compactIndex: converges when a crash left live rows already folded into the base") {
    // the one crash window re-running could previously COMPOUND: publish()
    // succeeded (live rows are in the new base) but the process died before
    // the live-dir delete — the survivors exist in BOTH places, and without
    // the key-dedup in merged() every re-run would bake another copy of
    // them into the base (admission is decision-insensitive to duplicates,
    // but scan cost is not)
    val indexDir = tmpDir("dedupidx_")
    StreamingDedup.admitBatch(spark,
      Seq((1L, docA), (2L, docB)).toDF("id", "text"), "id", "text",
      indexDir, 0.5, batchId = Some(0L)).count()
    StreamingDedup.compactIndex(spark, indexDir, pruneBuckets = 8)
    val counts0 = Seq("fp_c", "buckets_c", "sig_c")
      .map(t => spark.read.parquet(s"$indexDir/$t").count())
    // recreate the live tail as an exact copy of what was just compacted
    spark.read.parquet(s"$indexDir/fp_c").write.parquet(s"$indexDir/fp")
    spark.read.parquet(s"$indexDir/buckets_c").drop("bp")
      .write.parquet(s"$indexDir/buckets")
    spark.read.parquet(s"$indexDir/sig_c").write.parquet(s"$indexDir/sig")
    StreamingDedup.compactIndex(spark, indexDir, pruneBuckets = 8)
    val counts1 = Seq("fp_c", "buckets_c", "sig_c")
      .map(t => spark.read.parquet(s"$indexDir/$t").count())
    assert(counts1 == counts0,
      s"re-compaction must converge, not accrete: $counts0 -> $counts1")
    // and admission over the converged base still dedups
    val a = StreamingDedup.admitBatch(spark,
      Seq((11L, docA), (12L, docC)).toDF("id", "text"), "id", "text",
      indexDir, 0.5, batchId = Some(1L)).select("id").as[Long].collect().sorted
    assert(a.toSeq == Seq(12L), s"admitted ${a.toSeq}")
  }

  test("compactIndex: rolls back an interrupted base swap instead of deleting it") {
    val indexDir = tmpDir("dedupidx_")
    StreamingDedup.admitBatch(spark,
      Seq((1L, docA), (2L, docB)).toDF("id", "text"), "id", "text",
      indexDir, 0.5, batchId = Some(0L)).count()
    StreamingDedup.compactIndex(spark, indexDir, pruneBuckets = 8)
    // simulate a crash between publish's two renames: every base table was
    // moved aside to *_old and the process died before the new copy landed
    Seq("fp_c", "buckets_c", "sig_c").foreach { t =>
      Files.move(Paths.get(indexDir, t), Paths.get(indexDir, t + "_old"))
    }
    // repair = re-run: the rollback must restore the aside copies (NOT
    // delete them) so previously-compacted rows survive...
    StreamingDedup.compactIndex(spark, indexDir, pruneBuckets = 8)
    assert(Files.exists(Paths.get(indexDir, "fp_c")))
    assert(!Files.exists(Paths.get(indexDir, "fp_c_old")))
    // ...and admission still dedups against them
    val a = StreamingDedup.admitBatch(spark,
      Seq((11L, docA), (12L, docC)).toDF("id", "text"), "id", "text",
      indexDir, 0.5, batchId = Some(1L)).select("id").as[Long].collect().sorted
    assert(a.toSeq == Seq(12L),
      s"rows compacted before the crash must still dedup: admitted ${a.toSeq}")
  }

  test("start: continuous deduped ingest admits only novel documents to the corpus") {
    val landing = tmpDir("landing_")
    val corpus = tmpDir("corpus_")
    val index = tmpDir("index_")
    val ckpt = tmpDir("ckpt_")
    Files.write(Paths.get(landing, "a.txt"),
      s"$docA\n$docB\n".getBytes(StandardCharsets.UTF_8))
    val q = StreamingDedup.start(spark, landing, corpus, index, ckpt,
      threshold = 0.5)
    try {
      q.processAllAvailable()
      assert(Corpus.records(spark, corpus).count() == 2)
      // second file: one exact dup, one near dup, one novel line
      Files.write(Paths.get(landing, "b.txt"),
        s"$docA\n$nearA\n$docC\n".getBytes(StandardCharsets.UTF_8))
      q.processAllAvailable()
      val contents = Corpus.records(spark, corpus)
        .select(get_json_object(col("data"), "$.content"))
        .as[String].collect().toSet
      assert(contents == Set(docA, docB, docC),
        s"corpus must hold exactly the novel documents: $contents")
    } finally q.stop()
  }
}
