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

  test("fill: one job per unfilled cache, none once filled, and no fill job in a later query") {
    def selfJoin(d: DataFrame) = d.as("l").join(d.as("r"), col("l.k") === col("r.k"))
      .select(col("l.x"), col("r.x").as("y"))
    def rows(d: DataFrame) = d.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def keyed(tag: String) = frame(tag).select(col("x"), (col("x") % 5).as("k"))
    val want = rows(selfJoin(keyed("fill")))
    val cache = Materialize.persist(keyed("fill"))
    try {
      // a query that reads one persisted frame twice: one cache to fill
      val query = selfJoin(cache)
      val first = FinalPlans.jobSitesDuring(spark)(Materialize.fill(query))
      assert(first.size == 1 && first.head.fills.size == 1, first.mkString("\n"))
      val again = FinalPlans.jobSitesDuring(spark)(Materialize.fill(query))
      assert(again.isEmpty, again.mkString("\n"))
      var got = Set.empty[(Long, Long)]
      val read = FinalPlans.jobSitesDuring(spark) { got = rows(query) }
      assert(read.forall(_.fills.isEmpty), read.mkString("\n"))
      assert(got == want)
      // a persisted self-join of a persisted frame: the inner cache fills
      // first, and each cache once
      val inner = Materialize.persist(keyed("nested"))
      val outer = Materialize.persist(selfJoin(inner))
      val nested = FinalPlans.jobSitesDuring(spark)(Materialize.fill(outer))
      val fills = nested.flatMap(_.fills)
      assert(fills.size == 2 && fills.distinct.size == 2 && nested.last.fills.size == 1,
        nested.mkString("\n"))
      assert(FinalPlans.jobSitesDuring(spark)(Materialize.fill(outer)).isEmpty)
      val later = FinalPlans.jobSitesDuring(spark) { got = rows(outer) }
      assert(later.forall(_.fills.isEmpty) && got == want, later.mkString("\n"))
      Seq(inner, outer).foreach(_.unpersist(blocking = true))
    } finally cache.unpersist(blocking = true)
  }

  test("checkpoint: no job of its own; the job that first reads it fills it") {
    // Over a local relation of 300 (long, long) rows, 7,200 bytes. Building
    // the checkpoint runs nothing, and its first reader (a fold, and
    // separately a broadcast) runs as many jobs as over an eager checkpoint:
    // it fills the blocks, and doCheckpoint after it finds none missing.
    // Later reads start at the checkpoint.
    val local = (1 to 300).map(i => (i.toLong, 2L * i)).toDF("x", "y")
    def size(d: DataFrame) = d.queryExecution.optimizedPlan.stats.sizeInBytes
    def startsAtBlocks(d: DataFrame) = {
      val lineage = d.queryExecution.toRdd.toDebugString
      lineage.contains("LocalCheckpointRDD") && !lineage.contains("ParallelCollectionRDD")
    }
    val fold = (d: DataFrame) =>
      d.queryExecution.toRdd.treeAggregate(0L)((s, r) => s + r.getLong(1), _ + _, 1)
    val broadcastJoin = (d: DataFrame) =>
      spark.range(0, 600).toDF("x").join(broadcast(d), "x").collect().length.toLong
    for ((reader, want) <- Seq(fold -> 90300L, broadcastJoin -> 300L)) {
      var eager: DataFrame = null
      assert(FinalPlans.jobsDuring(spark) { eager = local.localCheckpoint() } == 1)
      val eagerJobs = FinalPlans.jobSitesDuring(spark)(assert(reader(eager) == want))
      var ck: DataFrame = null
      val built = FinalPlans.jobSitesDuring(spark) { ck = Materialize.checkpoint(local) }
      assert(built.isEmpty, built.mkString("\n"))
      assert(size(ck) == 7200 && size(ck) == size(eager), s"${size(ck)} vs ${size(eager)}")
      assert(!startsAtBlocks(ck))
      val first = FinalPlans.jobSitesDuring(spark)(assert(reader(ck) == want))
      assert(first.size == eagerJobs.size && first.flatMap(_.fills).size == 1,
        s"first read:\n${first.mkString("\n")}\nover an eager checkpoint:\n${eagerJobs.mkString("\n")}")
      assert(startsAtBlocks(ck), ck.queryExecution.toRdd.toDebugString)
      val later = FinalPlans.jobSitesDuring(spark)(assert(reader(ck) == want))
      assert(later.size == eagerJobs.size && later.forall(_.fills.isEmpty), later.mkString("\n"))
    }
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

  /** Whether `d` reads reliable checkpoint files (else local blocks). */
  private def readsFiles(d: DataFrame): Boolean = {
    val lineage = d.queryExecution.toRdd.toDebugString
    assert(lineage.contains("CheckpointRDD"), lineage)
    lineage.contains("ReliableCheckpointRDD")
  }

  test("reliable: eager and lazy checkpoints write rdd files") {
    // Inside the scope both forms write under the session's checkpoint dir
    // at once, and plan like a local checkpoint of the same frame: the same
    // size estimate and the same exchanges above it. connectedComponents'
    // labels are one more input: the same labels as its local run.
    val keyed = base.repartition(col("x"))
    def size(d: DataFrame) = d.queryExecution.optimizedPlan.stats.sizeInBytes
    def grouped(d: DataFrame) =
      FinalPlans.shuffleOutputs(FinalPlans.during(spark)(d.groupBy("x").count().collect()))
    val local = Materialize.checkpoint(keyed, eager = true)
    val inputs = Seq[(String, () => DataFrame)](
      "eager" -> (() => Materialize.checkpoint(keyed, eager = true)),
      "lazy" -> (() => Materialize.checkpoint(keyed)),
      "connectedComponents" -> (() => Dedup.connectedComponents(
        Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b"))))
    for ((name, make) <- inputs) {
      val before = checkpointFiles()
      val ck = Materialize.reliable(make())
      assert((checkpointFiles() -- before).nonEmpty, s"$name wrote no rdd-* files")
      assert(readsFiles(ck), name)
      if (name == "connectedComponents")
        assert(ck.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
          Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
      else assert(size(ck) == size(local) && grouped(ck) == grouped(local), name)
    }
  }

  test("reliable: with no checkpoint dir the scope throws before any job") {
    // the dir is session state set at build time; unset it for this test
    val sc = spark.sparkContext
    val saved = sc.getCheckpointDir
    val setDir = sc.getClass.getMethod("checkpointDir_$eq", classOf[Option[_]])
    setDir.invoke(sc, None)
    try {
      var entered = false
      val jobs = FinalPlans.jobsDuring(spark) {
        val e = intercept[IllegalArgumentException](Materialize.reliable {
          entered = true
          Materialize.checkpoint(frame("nodir"), eager = true)
        })
        assert(e.getMessage.contains("spark.checkpoint.dir") &&
          e.getMessage.contains("setCheckpointDir"), e.getMessage)
      }
      assert(jobs == 0 && !entered, s"$jobs jobs; body entered: $entered")
    } finally setDir.invoke(sc, saved)
  }

  test("reliable: a thread started inside the scope checkpoints locally") {
    var fromThread: DataFrame = null
    val before = checkpointFiles()
    Materialize.reliable {
      val t = new Thread(() =>
        fromThread = Materialize.checkpoint(frame("thread"), eager = true))
      t.start(); t.join()
    }
    assert(!readsFiles(fromThread) && checkpointFiles() == before)
  }

  test("reliable: the scope is restored when its body throws") {
    val e = intercept[IllegalStateException] {
      Materialize.reliable {
        assert(readsFiles(Materialize.checkpoint(frame("in"), eager = true)))
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(!readsFiles(Materialize.checkpoint(frame("after"), eager = true)))
    // a nested scope that throws leaves the outer one reliable
    Materialize.reliable {
      intercept[IllegalStateException](Materialize.reliable(throw new IllegalStateException))
      assert(readsFiles(Materialize.checkpoint(frame("outer"), eager = true)))
    }
  }
}
