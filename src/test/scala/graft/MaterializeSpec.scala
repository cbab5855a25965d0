package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ops.{Curate, Dedup, Materialize}

/** The one cache-lifetime helper: which frames a scope sees, when it
  * releases them, and that every eager composite leaves no cache behind.
  */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  private def base = (1 to 20).map(_.toLong).toDF("x")
  private def frame(tag: String) = base.select(col("x"), lit(tag).as("tag"))

  test("scoped releases its frames when its body throws") {
    var inner: DataFrame = null
    val e = intercept[IllegalStateException] {
      Materialize.scoped {
        inner = Materialize.persist(frame("throws"))
        inner.count()
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(inner.storageLevel == StorageLevel.NONE,
      "a throwing body must not leak its persisted frames")
  }

  test("tracked reports nested frames, keeps them cached, and skips frames a nested scope released") {
    var released: DataFrame = null
    val (n, frames) = Materialize.tracked {
      val outer = Materialize.persist(frame("outer"))
      val (_, innerFrames) = Materialize.tracked(Materialize.persist(frame("inner")))
      assert(innerFrames.size == 1)
      Materialize.scoped { released = Materialize.persist(frame("scoped")) }
      outer.count()
    }
    assert(n == 20L)
    assert(frames.size == 2 && !frames.contains(released), s"frames: $frames")
    assert(frames.forall(_.storageLevel == StorageLevel.MEMORY_AND_DISK))
    assert(released.storageLevel == StorageLevel.NONE)
    frames.foreach(_.unpersist(blocking = true))
  }

  test("a thread started inside a scope does not register into it") {
    var fromThread: DataFrame = null
    val (_, frames) = Materialize.tracked {
      val t = new Thread(() => fromThread = Materialize.persist(frame("thread")))
      t.start(); t.join()
    }
    assert(frames.isEmpty, s"the scope saw another thread's frames: $frames")
    assert(fromThread.storageLevel == StorageLevel.MEMORY_AND_DISK)
    fromThread.unpersist(blocking = true)
  }

  test("eager composites leave only checkpoint blocks in getPersistentRDDs") {
    // Each composite runs its chain under Materialize.scoped. After it
    // returns (and its result is consumed), the only new block-manager
    // entries allowed are checkpoints — the label / survivor blocks the
    // result reads. Any MEMORY_AND_DISK persist left behind is a leak.
    // `unpersistRDD` updates the map synchronously even with
    // blocking = false, so the snapshot is race-free.
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again today", "en", 1),
      (2L, "the quick brown fox jumps over the lazy dog again today", "en", 5),
      (3L, "completely different words in this one nothing shared at all", "en", 2),
      (4L, "completely different words in this one nothing shared at all", "fr", 3),
      (5L, "a lone unique document that matches nothing else in the corpus", "fr", 4)
    ).toDF("id", "text", "lang", "score")
    val sc = spark.sparkContext
    val composites: Seq[(String, () => Unit)] = Seq(
      "dropNearDuplicates" -> (() =>
        Dedup.dropNearDuplicates(docs, "id", "text", 0.9).collect()),
      "minhashClusters" -> (() =>
        Dedup.minhashClusters(docs, "id", "text", 0.9).collect()),
      "minhashDedupIds" -> (() =>
        Dedup.minhashDedupIds(docs, "id", "text", 0.9).collect()),
      "dropNearDuplicatesBy" -> (() =>
        Dedup.dropNearDuplicatesBy(docs, "id", "text", "score", 0.9).collect()),
      "curateCorpus" -> (() =>
        Curate.curateCorpus(docs, "id", "text", "lang", minQuality = 0.0,
          dupThreshold = 0.9, tokenBudget = 1000L).collect()),
      "Pipeline.ingestJson" -> (() => Pipeline.ingestJson(spark,
        Seq("""{"a": 1, "b": 2}""", """{"a": 3}""").toDF("j"), "j",
        tmpDir("materialize_corpus_"))))
    for ((name, run) <- composites) {
      val before = sc.getPersistentRDDs.keySet.toSet
      run()
      val leaked = sc.getPersistentRDDs.values.toSeq
        .filter(r => !before.contains(r.id) && !r.isCheckpointed)
      assert(leaked.isEmpty,
        s"$name left persisted frames behind: ${leaked.map(r => r.id -> r.getStorageLevel)}")
    }
  }
}
