package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ops.{Dedup, Materialize, Similarity}

/** The collapse gate's laziness contract (r15): an explicit
  * `collapse = Some(_)` override must pick the path WITHOUT launching any
  * Spark job at operator-construction time (the `None` default runs the
  * one-job duplication probe, documented in the operators' scaladoc), the
  * override must be honored row-identically in either direction, and the
  * collapsed paths' persisted intermediates must be releasable
  * deterministically through [[Materialize.tracked]].
  */
class GateSpec extends SparkSpec {
  import spark.implicits._

  private def jobsDuring(body: => Unit): Int = FinalPlans.jobsDuring(spark)(body)

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again today"),
    (2L, "the quick brown fox jumps over the lazy dog again today"),
    (3L, "completely different words in this one nothing shared at all"),
    (4L, "completely different words in this one nothing shared at all")
  ).toDF("id", "text")

  private def emb = Seq(
    (1L, Seq(1.0, 0.0, 0.0)), (2L, Seq(1.0, 0.0, 0.0)),
    (3L, Seq(0.0, 1.0, 0.0)), (4L, Seq(0.0, 0.9, 0.1))
  ).toDF("id", "vec")

  test("explicit collapse override constructs every gated operator with zero jobs") {
    // warm lazy session state (first-use listener/codegen jobs must not
    // pollute the zero-job window)
    docs.count(); emb.count()
    // (only the LAZY pair operators belong here: minhashClusters /
    // dropNearDuplicates run the eager CC loop at construction by design)
    val jobs = jobsDuring {
      Dedup.minhashNearDuplicates(docs, "id", "text", 0.9, collapse = Some(true))
      Dedup.minhashNearDuplicates(docs, "id", "text", 0.9, collapse = Some(false))
      Similarity.embeddingNearDuplicates(emb, 0.9, 4, 3, collapse = Some(true))
      Similarity.embeddingNearDuplicates(emb, 0.9, 4, 3, collapse = Some(false))
    }
    assert(jobs == 0, s"expected zero jobs at construction with an explicit override, saw $jobs")
  }

  test("the None default probes (jobs > 0) and both override directions are row-identical to it") {
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    var probed: Seq[(Long, Long, Double)] = null
    val jobs = jobsDuring {
      probed = canon(Dedup.minhashNearDuplicates(docs, "id", "text", 0.9))
    }
    assert(jobs > 0) // the probe plus the query itself
    val forced = canon(Dedup.minhashNearDuplicates(docs, "id", "text", 0.9,
      collapse = Some(true)))
    val direct = canon(Dedup.minhashNearDuplicates(docs, "id", "text", 0.9,
      collapse = Some(false)))
    assert(forced == probed && direct == probed,
      s"override paths diverge: probed=$probed forced=$forced direct=$direct")
    // same law for the embedding pair scan
    val e1 = canon(Similarity.embeddingNearDuplicates(emb, 0.9, 4, 3, collapse = Some(true)))
    val e2 = canon(Similarity.embeddingNearDuplicates(emb, 0.9, 4, 3, collapse = Some(false)))
    assert(e1 == e2, s"embedding override paths diverge: $e1 vs $e2")
    // and for semanticDedup's within-cluster scan
    def idc(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val s1 = idc(Similarity.semanticDedup(emb, 2, 2, collapse = Some(true)))
    val s2 = idc(Similarity.semanticDedup(emb, 2, 2, collapse = Some(false)))
    assert(s1 == s2, s"semanticDedup override paths diverge: $s1 vs $s2")
  }

  test("embeddingNearDuplicates hands its membership persist to Materialize.tracked") {
    val (out, caches) = Materialize.tracked(Similarity.embeddingNearDuplicates(
      emb, 0.9, 4, 3, collapse = Some(true)))
    assert(caches.nonEmpty, "collapsed path must hand back its persisted intermediates")
    out.count() // materialize (populates the persisted membership)
    assert(caches.forall(_.storageLevel == StorageLevel.MEMORY_AND_DISK))
    caches.foreach(_.unpersist(blocking = true))
    assert(caches.forall(_.storageLevel == StorageLevel.NONE),
      "membership persist must be released by the returned handle, not a global clearCache")
    // the per-doc path has nothing persisted to leak
    val (_, none) = Materialize.tracked(Similarity.embeddingNearDuplicates(
      emb, 0.9, 4, 3, collapse = Some(false)))
    assert(none.isEmpty)
  }

  test("imageDedupIds hands its wide-path segment persist to Materialize.tracked") {
    // 64-bit dHashes take the segmented (wide-fingerprint) branch, whose
    // segment table is persisted inside segmentedHammingJoin. The survivor
    // frame reads only the eager CC loop's checkpointed labels, so the
    // handle must be releasable IMMEDIATELY and the result must survive
    // the release.
    val hashes = Seq(
      (1L, 0x0123456789abcdefL), (2L, 0x0123456789abcdeeL), // distance 1
      (3L, 0x7777777777777777L), (4L, 0x7777777777777777L), // distance 0
      (5L, 0x0000000000000000L)                             // isolated
    ).toDF("media_id", "dhash")
    val (out, caches) = Materialize.tracked(
      graft.ops.Multimodal.imageDedupIds(hashes, maxDistance = 3))
    assert(caches.nonEmpty, "wide path must hand back its persisted segment table")
    assert(caches.forall(_.storageLevel == StorageLevel.MEMORY_AND_DISK))
    caches.foreach(_.unpersist(blocking = true))
    assert(caches.forall(_.storageLevel == StorageLevel.NONE),
      "segment persist must be released by the returned handle, not a global clearCache")
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq((1L, 2L), (3L, 4L)),
      s"survivor rows wrong after handle release: $got")
  }

  test("embedding None-default gate folds bucket occupancy into the decision") {
    // 4 rows / 2^4 buckets = occupancy ≪ cutoff: even though the corpus is
    // 50 % verbatim-duplicated (the duplication term alone says collapse),
    // the default must take the per-doc path — observable as an empty
    // tracked frame list (the collapsed path always persists its membership).
    val (out, caches) = Materialize.tracked(Similarity.embeddingNearDuplicates(
      emb, 0.9, 4, 3, collapse = None))
    assert(caches.isEmpty,
      "low-occupancy corpus must default to the per-doc bucket join")
    // and the decision is advisory only: rows match the forced collapse
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    assert(canon(out) == canon(
      Similarity.embeddingNearDuplicates(emb, 0.9, 4, 3, collapse = Some(true))))
    // the probe's stats memo carries the row count the occupancy term reads
    val st = Dedup.duplicationStats(emb, col("vec"))
    assert(st.rows == 4L && st.material,
      s"probe stats should see 4 rows, 50% duplicated: $st")
  }

  test("the folded probe returns exactly the SQL aggregate's four numbers and verdict") {
    val inSample = pmod(xxhash64(col("__k")), lit(8L)) === 0L
    def sql(probed: DataFrame): Dedup.ProbeCounts = {
      val r = probed.agg(count(lit(1)), count(when(inSample, lit(1))),
        approx_count_distinct(when(inSample, col("__k"))),
        approx_count_distinct(col("__k"))).head()
      Dedup.ProbeCounts(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    // string keys and the array keys Similarity probes, each with null keys
    // and repeats, below (2,000 rows) and above (40,000 rows: ~5,000
    // sampled) the 4,096-sampled-row switch, at 1-8 partitions
    def strings(n: Long, parts: Int) = spark.range(0, n, 1, parts).select(
      when(col("id") % 13 === 0, lit(null))
        .otherwise(concat(lit("doc "), (col("id") % (n / 3)).cast("string"))).as("__k"))
    def vectors(n: Long, parts: Int) = spark.range(0, n, 1, parts).select(
      when(col("id") % 11 === 0, lit(null))
        .otherwise(array((col("id") % (n / 4)).cast("double"), lit(0.5))).as("__k"))
    val empty = spark.range(0, 0, 1, 1).select(lit("x").as("__k"))
    val cases = Seq(("empty", empty)) ++
      (1 to 8).flatMap(p => Seq((s"strings/2000/$p", strings(2000L, p)),
        (s"vectors/2000/$p", vectors(2000L, p)))) ++
      Seq(1, 8).flatMap(p => Seq((s"strings/40000/$p", strings(40000L, p)),
        (s"vectors/40000/$p", vectors(40000L, p))))
    val sides = cases.map { case (name, probed) =>
      val want = sql(probed)
      assert(Dedup.probeCounts(probed) == want, name)
      Dedup.gateCacheClear()
      val st = Dedup.duplicationStats(probed, col("__k"))
      val material = if (want.ns >= 4096L) want.ds * 10L < want.ns * 9L
        else want.d * 10L < want.n * 9L
      assert(st == Dedup.DupStats(want.n, material), s"$name: $st vs $want")
      want.ns >= 4096L
    }
    assert(sides.contains(true) && sides.contains(false))
  }

  test("concurrent same-plan probes share ONE job; results agree (per-key in-flight dedup)") {
    docs.count() // warm lazy session state outside the counted window
    // baseline: what ONE probe costs in jobs (AQE may submit >1 per query)
    Dedup.gateCacheClear()
    val solo = jobsDuring { Dedup.duplicationStats(docs, col("text")) }
    Dedup.gateCacheClear()
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Dedup.DupStats]
    val jobs = jobsDuring {
      val threads = (1 to 4).map { _ =>
        new Thread(() =>
          results.add(Dedup.duplicationStats(docs, col("text"))))
      }
      threads.foreach(_.start()); threads.foreach(_.join())
    }
    assert(jobs == solo,
      s"4 racing probes of the same plan must share one probe's jobs ($solo), ran $jobs")
    val rs = results.toArray(Array.empty[Dedup.DupStats])
    assert(rs.length == 4 && rs.toSet.size == 1 && rs.head.rows == 4L,
      s"all racers must see the one probe's stats: ${rs.toSeq}")
  }

  test("minhash survivor wrappers release every corpus-proportional persist internally") {
    // The r17 audit item: minhashCollapsedRep persists banded buckets,
    // candidate pairs, and the membership table — all corpus-proportional
    // (text- or array-bearing). Every label-path public wrapper must
    // unpersist them before returning; the ONLY storage allowed to
    // outlive the call is the CC loop's final label checkpoint (narrow
    // (id, component) rows — the returned frame's own data, released by
    // the caller's lifecycle). `unpersistRDD` updates the persistentRdds
    // map synchronously even with blocking = false, so the post-call
    // snapshot is race-free. Earlier tests leave the lazy pair API's
    // caches of the same plans behind; a persist of an already-cached plan
    // adds no entry, which would hide a leak, so start from an empty cache.
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    def leaked(before: Set[Int]): Seq[Int] =
      sc.getPersistentRDDs.values.toSeq
        .filter(r => !before.contains(r.id) && !r.isCheckpointed)
        .map(_.id)
    val wrappers: Seq[(String, Boolean => Unit)] = Seq(
      ("minhashClusters", c =>
        Dedup.minhashClusters(docs, "id", "text", 0.9, collapse = Some(c)).collect()),
      ("dropNearDuplicates", c =>
        Dedup.dropNearDuplicates(docs, "id", "text", 0.9, collapse = Some(c)).collect()))
    for ((name, run) <- wrappers; c <- Seq(true, false)) {
      val before = sc.getPersistentRDDs.keySet.toSet
      run(c)
      val l = leaked(before)
      assert(l.isEmpty,
        s"$name(collapse=$c) left non-checkpoint persists behind: rdd ids $l")
    }
  }

  test("crossNearDuplicates size-gates the eval broadcast; oversize eval takes the salted shuffle path row-identically") {
    // r18 verdict #3: the semantic-decontamination eval-side broadcast pin
    // must be a measurement-gated decision, not unconditional — a
    // corpus-sized "eval" set has to degrade to a salted shuffle-hash
    // join instead of hitting Spark's broadcast hard limits. Pre-AQE
    // sparkPlan shows which pin the gate chose; both paths must agree
    // row for row.
    val corpus = (30L to 80L)
      .map(i => (i, Seq((i % 7).toDouble, (i % 5).toDouble, 1.0)))
      .toDF("id", "vec")
    val evalSet = Seq((1L, Seq(2.0, 3.0, 1.0)), (2L, Seq(0.0, 1.0, 0.2)))
      .toDF("id", "vec")
    val broad = Similarity.crossNearDuplicates(corpus, evalSet, 0.8, 2, 3)
    val salted = Similarity.crossNearDuplicates(corpus, evalSet, 0.8, 2, 3,
      evalBroadcastMaxBytes = 1L)
    val bp = broad.queryExecution.sparkPlan.toString
    assert(bp.contains("BroadcastHashJoin"),
      "under-bound eval set must keep the broadcast pin")
    val sp = salted.queryExecution.sparkPlan.toString
    assert(sp.contains("ShuffledHashJoin"),
      s"over-bound eval set must take the salted shuffle-hash join:\n$sp")
    assert(!sp.contains("BroadcastHashJoin"),
      s"over-bound eval set must not plan a broadcast join:\n$sp")
    // r19 verdict #4: the gate's count and the join share ONE eval-source
    // scan — the join's eval side must read the persisted prepped
    // projection (InMemoryTableScan), not re-scan the source, on BOTH paths.
    assert(bp.contains("InMemoryTableScan"),
      s"broadcast path must read the persisted eval projection:\n$bp")
    assert(sp.contains("InMemoryTableScan"),
      s"salted path must read the persisted eval projection:\n$sp")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    val b = canon(broad)
    assert(b.nonEmpty, "fixture must produce contaminated rows")
    assert(canon(salted) == b, "salted path diverges from broadcast path")
  }
}
