package graft

import graft.ops.{Dedup, Materialize, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near dup
    (4L, "completely different words in this one nothing shared at all here"),
    (5L, "short doc")
  ).toDF("id", "text")

  test("exactDuplicateGroups keeps min id and counts members") {
    val g = Dedup.exactDuplicateGroups(
      docs.withColumn("fp", TextAnalysis.fingerprintMd5(col("text"))), "id", Seq("fp"))
    val rows = g.select("keep_id", "n_dups").orderBy("keep_id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 3L, 4L, 5L))
    assert(rows(0).getLong(1) == 2) // ids 1+2 collapse
  }

  test("dedupKeepFirst keeps exactly the min-id row per key") {
    val d = Dedup.dedupKeepFirst(
      docs.withColumn("fp", TextAnalysis.fingerprintMd5(col("text"))), "id", Seq("fp"))
    assert(d.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 4L, 5L))
  }

  test("minhash finds the exact duplicate pair, jaccard 1.0") {
    val pairs = Dedup.minhashNearDuplicates(docs, "id", "text", threshold = 0.99)
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(pairs(0).getDouble(2) == 1.0)
  }

  test("minhash signature: identical text → identical signature; length H") {
    val sigs = docs.filter(col("id") <= 2)
      .select(Dedup.minhashSignature(col("text"), 16, 5).as("sig"))
      .collect().map(_.getSeq[Long](0).toSeq)
    assert(sigs(0) == sigs(1))
    assert(sigs(0).length == 16)
  }

  test("simhashLong: the dup pair shares one fingerprint within the low 16 bits") {
    val r = docs.filter(col("id") <= 2)
      .select(Dedup.simhashLong(col("text"), 16))
      .collect().map(_.getLong(0))
    assert(r(0) == r(1))
    assert(r.forall(l => l >= 0 && l < (1L << 16)))
  }

  test("simhashNearDuplicates finds the exact-dup pair at distance 0 with pigeonhole recall") {
    val pairs = Dedup.simhashNearDuplicates(docs, "id", "text", bits = 16, maxDistance = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
  }

  test("bandedHammingJoin: collapsed (narrow) and segmented (wide) paths both equal brute force") {
    // 300 random 16-bit fingerprints with forced value collisions: run the
    // SAME values through the ≤20-bit distinct-collapse path and, widened to
    // 64 bits (values unchanged, so distances unchanged), through the
    // segment self-join path; both must equal the in-test cross product.
    val rnd = new scala.util.Random(7)
    val rows = (1 to 300).map(i =>
      (i.toLong, (rnd.nextInt(1 << 16) & 0xffffL))).toSeq
    val expected = (for {
      (ia, sa) <- rows; (ib, sb) <- rows
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib, java.lang.Long.bitCount(sa ^ sb))).toSet
    val df = rows.toDF("id", "sig")
    def run(bits: Int) = Dedup.bandedHammingJoin(df, bits, maxDistance = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(run(16) == expected)  // collapsed path
    assert(run(64) == expected)  // segmented path, same data
  }

  test("Hamming-join dispatch: collapse for narrow codes, segment for wide or combinatorial") {
    assert(Dedup.useCollapsedHamming(16, 3))        // simhash default: 696 masks
    assert(Dedup.useCollapsedHamming(20, 3))        // 1,350 masks
    assert(!Dedup.useCollapsedHamming(64, 3))       // wide pHash: value space too big
    assert(!Dedup.useCollapsedHamming(16, 0))       // exact match: plain groupBy path
    assert(!Dedup.useCollapsedHamming(20, 10))      // C(20,<=10) ~ 431k masks: budget blown
  }

  test("hammingDistance is popcount of xor") {
    val d = spark.range(1).select(
      Dedup.hammingDistance(lit(0xb101L), lit(0xb010L)).as("d")).collect()(0).getInt(0)
    assert(d == java.lang.Long.bitCount(0xb101L ^ 0xb010L))
  }

  test("ngramJaccard: identical docs 1.0, disjoint docs 0.0") {
    val pairs = Seq((1L, 2L), (1L, 4L)).toDF("id_a", "id_b")
    val j = Dedup.ngramJaccard(docs, "id", "text", pairs, n = 3)
      .orderBy("id_b").collect().map(_.getDouble(2)).toSeq
    assert(j == Seq(1.0, 0.0))
  }

  test("connectedComponents labels every vertex with its component min id") {
    // chain 1-2-3-4 (diameter 3, needs >1 round), separate pair 10-11,
    // triangle 20-21-22
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    // empty pair list -> empty labeling at once: the one job over the pairs
    // counts 0 of them, and no label checkpoint, round or fixpoint check
    // runs (a range, not a local relation, so the optimizer cannot fold it
    // away). It was the edge table's exchange before that job replaced it
    var empty: DataFrame = null
    val jobs = FinalPlans.jobSitesDuring(spark) {
      empty = Dedup.connectedComponents(spark.range(8).filter(col("id") < 0)
        .select(col("id").as("id_a"), (col("id") + 1).as("id_b")))
    }
    assert(jobs.size == 1, jobs.mkString("\n"))
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == Seq("id", "component"))
  }

  test("connectedComponents: driver union-find path equals the distributed loop") {
    // pseudo-random graph with chains, cliques and singleton-free isolates;
    // driverCutoff=0 forces the distributed loop, default takes union-find
    val rnd = new scala.util.Random(42)
    val pairs = (1 to 300).map(_ => (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }.toDF("id_a", "id_b")
    def run(cutoff: Long) =
      Dedup.connectedComponents(pairs, driverCutoff = cutoff)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = run(2000000L)
    val distributed = run(0L)
    assert(fast == distributed,
      s"paths disagree: ${fast.toSeq.sorted.take(10)}... vs ${distributed.toSeq.sorted.take(10)}...")
  }

  test("connectedComponents reads its pairs input exactly once (driver path and loop)") {
    // Every pair row passes through a counting UDF: a plan that scans the
    // input once per edge direction counts each row twice. The source is
    // an RDD, not a local relation, so the UDF runs in tasks and never at
    // optimization time on the driver.
    val rnd = new scala.util.Random(7)
    val raw = (1 to 200).map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
    for (cutoff <- Seq(2000000L, 0L)) {
      val reads = spark.sparkContext.longAccumulator(s"cc_reads_$cutoff")
      val tap = udf { (a: Long) => reads.add(1L); a }
      val pairs = spark.sparkContext.parallelize(raw, 4).toDF("id_a", "id_b")
        .select(tap(col("id_a")).as("id_a"), col("id_b"))
      val labels = Dedup.connectedComponents(pairs, driverCutoff = cutoff)
      assert(reads.value == raw.size.toLong,
        s"driverCutoff=$cutoff: ${reads.value} UDF calls for ${raw.size} pair rows")
      labels.collect()
      assert(reads.value == raw.size.toLong,
        s"driverCutoff=$cutoff: reading the labels re-scanned the pairs")
    }
  }

  test("connectedComponents: union-find, loop and reliable mode agree on adversarial pair lists") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // Duplicate pairs, both orientations, self-loops and null ends over
    // Long, Int and String ids (the string ids order "v10" before "v9"), on
    // 1 to 8 partitions. A pair with a null end is no edge on either path
    // (the driver path used to label a vertex 0 for it, the loop a vertex
    // null). Partition 0 holds 70% of the pairs: at a cutoff of exactly the
    // graph's estimate it passes its share (the cutoff over the partition
    // count) and one more job reads it from the pair checkpoint; at a
    // cutoff below its own estimate the loop runs. Reliable mode
    // (Materialize.reliable) takes both sides of the cutoff once per id type.
    val rnd = new scala.util.Random(17)
    val types = Seq[(DataType, Long => Any, (Any, Any) => Boolean)](
      (LongType, v => v, (a, b) => a.asInstanceOf[Long] < b.asInstanceOf[Long]),
      (IntegerType, v => v.toInt, (a, b) => a.asInstanceOf[Int] < b.asInstanceOf[Int]),
      (StringType, v => s"v$v", (a, b) => a.asInstanceOf[String] < b.asInstanceOf[String]))
    // min-label propagation to the fixpoint, over the pairs with no null end
    def reference(rows: Seq[(Any, Any)], lt: (Any, Any) => Boolean): Map[Any, Any] = {
      val edges = rows.filter { case (a, b) => a != null && b != null }
      val label = scala.collection.mutable.Map.empty[Any, Any]
      edges.foreach { case (a, b) => label(a) = a; label(b) = b }
      var changed = true
      while (changed) {
        changed = false
        edges.foreach { case (a, b) =>
          val m = if (lt(label(a), label(b))) label(a) else label(b)
          if (label(a) != m || label(b) != m) { label(a) = m; label(b) = m; changed = true }
        }
      }
      label.toMap
    }
    def pairJobs(jobs: Seq[FinalPlans.JobSite]) = jobs.count(_.name.startsWith("runJob at Dedup.scala"))
    def looped(jobs: Seq[FinalPlans.JobSite]) = jobs.exists(_.name.startsWith("isEmpty at Dedup.scala"))
    for (parts <- 1 to 8) {
      val (idType, as, lt) = types(parts % 3)
      val base = Seq.fill(120)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      val longs = base ++ base.take(30) ++ base.slice(30, 60).map(_.swap) ++
        Seq.fill(10)(rnd.nextInt(60).toLong).map(v => (v, v))
      val rows = rnd.shuffle(longs.map { case (a, b) => (as(a), as(b)) } ++
        Seq((null, as(3L)), (as(4L), null), (null, null)))
      val chunks = if (parts == 1) Seq(rows) else {
        val (head, rest) = rows.splitAt(rows.size * 7 / 10)
        (head +: rest.grouped((rest.size + parts - 2) / (parts - 1)).toSeq).padTo(parts, Nil)
      }
      assert(chunks.size == parts && chunks.flatten == rows)
      val schema = StructType(Seq(StructField("id_a", idType), StructField("id_b", idType)))
      val pairs = spark.createDataFrame(spark.sparkContext.parallelize(chunks, parts)
        .flatMap(_.map { case (a, b) => Row(a, b) }), schema)
      def estimate(rs: Seq[(Any, Any)]): Long = {
        val nn = rs.filter { case (a, b) => a != null && b != null }
        val width = idType match {
          case LongType => 8L
          case IntegerType => 4L
          case _ => math.ceil(2 * math.max(
            nn.map { case (a, b) => a.toString.length + b.toString.length }.sum / (2.0 * nn.size),
            1.0)).toLong
        }
        Dedup.driverUnionFindBytes(2L * nn.size, width)
      }
      def labels(bytes: Long, reliable: Boolean = false) = {
        var got = Map.empty[Any, Any]
        def run() = Dedup.connectedComponents(pairs, driverCutoffBytes = bytes,
          toFixpoint = true).collect().map(r => r.get(0) -> r.get(1)).toMap
        val jobs = FinalPlans.jobSitesDuring(spark) {
          got = if (reliable) Materialize.reliable(run()) else run()
        }
        (got, jobs)
      }
      val want = reference(rows, lt)
      val at = s"$idType on $parts partitions"
      val (fits, fitsJobs) = labels(estimate(rows))
      assert(fits == want && !looped(fitsJobs) && pairJobs(fitsJobs) == (if (parts > 1) 2 else 1),
        s"$at, cutoff at the estimate:\n${fitsJobs.mkString("\n")}")
      val (over, overJobs) = labels(estimate(chunks.head) - 1)
      assert(over == want && looped(overJobs), s"$at, partition 0 alone over the cutoff")
      val (small, smallJobs) = labels(256L << 20)
      assert(small == want && !looped(smallJobs) && pairJobs(smallJobs) == 1, s"$at, default cutoff")
      // reliable mode, once per id type
      if (parts <= types.size) for (bytes <- Seq(256L << 20, 0L))
        assert(labels(bytes, reliable = true)._1 == want, s"$at, reliable mode, cutoff $bytes")
    }
  }

  test("the eager dedup path ships no text when the candidate set is small") {
    // 400 distinct 30-token documents plus 20 last-token near-dups: the
    // candidate set is a few dozen ids, so the semi-join before shingling
    // and the survivor anti-join must both broadcast — no exchange in any
    // final plan may carry the text column.
    val rnd = new scala.util.Random(11)
    def doc() = Seq.fill(30)(s"w${rnd.nextInt(5000)}").mkString(" ")
    val base = (1 to 400).map(i => (i.toLong, doc()))
    val near = base.take(20).map { case (i, t) => (1000L + i, t + " tail") }
    val corpus = (base ++ near).toDF("id", "text")
    var survivors = 0L
    val plans = FinalPlans.during(spark) {
      survivors = Dedup.dropNearDuplicates(corpus, "id", "text", 0.9,
        collapse = Some(false)).collect().length
    }
    assert(survivors == 400L, s"expected the 20 near-dups dropped, kept $survivors")
    val shuffles = FinalPlans.shuffleOutputs(plans)
    assert(shuffles.nonEmpty, "the bucket self-join should have shuffled")
    val textual = shuffles.filter(_.exists(Set("text", "__text")))
    assert(textual.isEmpty, s"exchanges carrying text: $textual")
  }

  /** 400 distinct 30-token docs plus 20 copies with the last token redrawn
    * (Jaccard 25/27, kept at 0.9), 20 with the last two redrawn (24/28,
    * usually candidates, dropped by verify at 0.9) and 10 exact copies.
    */
  private lazy val nearDupCorpus = {
    val rnd = new scala.util.Random(23)
    def word() = s"w${rnd.nextInt(5000)}"
    val base = (1 to 400).map(i => (i.toLong, Seq.fill(30)(word())))
    def redraw(toks: Seq[String], n: Int) = toks.dropRight(n) ++ Seq.fill(n)(word())
    val rows = base ++
      base.slice(0, 20).map { case (i, t) => (1000L + i, redraw(t, 1)) } ++
      base.slice(20, 40).map { case (i, t) => (2000L + i, redraw(t, 2)) } ++
      base.slice(40, 50).map { case (i, t) => (3000L + i, t) }
    rows.map { case (i, t) => (i, t.mkString(" ")) }.toDF("id", "text")
  }

  test("directedEdges counts its edges inside the checkpoint job: local, reliable, empty") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (2L, 1L))
      .toDF("id_a", "id_b")
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    // the same rows as directedEdges' table, checkpointed without a count
    def bare(p: org.apache.spark.sql.DataFrame) = p
      .select(explode(array(struct(col("id_a").as("s"), col("id_b").as("d")),
        struct(col("id_b").as("s"), col("id_a").as("d")))).as("e"))
      .select(col("e.*")).distinct()
    for ((mode, reliable) <- Seq("local" -> false, "reliable" -> true)) {
      def in[T](body: => T): T = if (reliable) Materialize.reliable(body) else body
      var counted = -1L
      var edges: org.apache.spark.sql.DataFrame = null
      val jobs = FinalPlans.jobsDuring(spark) {
        val r = in(Dedup.directedEdges(pairs)); edges = r._1; counted = r._2
      }
      assert(counted == 8L && edges.count() == 8L, s"$mode: counted $counted")
      val bareJobs = FinalPlans.jobsDuring(spark)(
        in(Materialize.checkpoint(bare(pairs), eager = true)))
      assert(jobs == bareJobs,
        s"$mode: the count ran ${jobs - bareJobs} jobs beyond the checkpoint")
      // an empty pair list still reports its metrics: 0, and no hang; the
      // scope is per thread, so the future opens its own
      val none = Await.result(Future(in(Dedup.directedEdges(empty))._2), 60.seconds)
      assert(none == 0L, s"$mode: empty pair list counted $none")
    }
  }

  test("dropNearDuplicates job count: each shared dedup table is built once") {
    // per-doc path on a corpus with candidate pairs. With a separate edge
    // count and the shingle sets rebuilt for each verify join this ran 23
    // jobs: the count's aggregate and result, and a second candidate-id
    // distinct and broadcast. Filling the caches with Materialize.fill took
    // 19 to 15: gone are the second fills of the bucket table and of the
    // shingle sets (each read twice by one query) and `pairs.count()`'s
    // exchange and result jobs. One job over the verified pairs that fills
    // their checkpoint and returns them took 15 to 12: gone are the directed
    // edge table's `distinct` exchange, its checkpoint job (the union-find's
    // collect is now that one job) and the labels' checkpoint job (the
    // loser broadcast fills it)
    spark.catalog.clearCache()
    var kept = 0
    val jobs = FinalPlans.jobSitesDuring(spark) {
      kept = Dedup.dropNearDuplicates(nearDupCorpus, "id", "text", 0.9,
        collapse = Some(false)).collect().length
    }
    assert(kept == 420, s"expected the 20 one-token and 10 exact copies dropped, kept $kept")
    assert(jobs.size == 12, s"dropNearDuplicates ran ${jobs.size} jobs:\n${jobs.mkString("\n")}")
  }

  test("dedup rows do not depend on shuffle partitions or cached-plan repartitioning") {
    // The bucket table and the shingle sets are cached hash-partitioned on
    // their join keys; with another partition count, or with AQE allowed to
    // coalesce cached plans (so the joins may shuffle again), every candidate
    // pair, verified pair and survivor must stay the same.
    val t = 0.9
    def run(): (Set[(Long, Long)], Seq[Set[(Long, Long, Double)]], Seq[Seq[Long]]) = {
      spark.catalog.clearCache()
      val (cand, bucketCache) = graft.ops.Materialize.tracked(
        Dedup.minhashCandidatePairs(nearDupCorpus, "id", "text"))
      val candidates = cand.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      bucketCache.foreach(_.unpersist(blocking = true))
      val collapses = Seq(Some(false), Some(true))
      val verified = collapses.map { c =>
        val (v, cached) = graft.ops.Materialize.tracked(
          Dedup.minhashNearDuplicates(nearDupCorpus, "id", "text", t, collapse = c))
        try v.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        finally cached.foreach(_.unpersist(blocking = true))
      }
      val survivors = collapses.map(c =>
        Dedup.dropNearDuplicates(nearDupCorpus, "id", "text", t, collapse = c)
          .select("id").collect().map(_.getLong(0)).sorted.toSeq)
      (candidates, verified, survivors)
    }
    val reference = run()
    // verify must judge: some candidates (two-token redraws) fail it
    assert(reference._1.size > 30, s"only ${reference._1.size} candidate pairs")
    assert(reference._2.forall(_.size == 30), s"verified: ${reference._2.map(_.size)}")
    assert(reference._3.forall(_.size == 420))
    val settings = Seq("spark.sql.shuffle.partitions" -> "1",
      "spark.sql.shuffle.partitions" -> "3", "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")
    for ((k, v) <- settings) under(k, v) {
      val got = run()
      assert(got._1 == reference._1, s"$k=$v: candidate pairs differ")
      assert(got._2 == reference._2, s"$k=$v: verified pairs differ")
      assert(got._3 == reference._3, s"$k=$v: survivors differ")
    }
  }

  test("minhashRecallStats: found pairs are a subset of exact, recall exact-integer") {
    // two exact-dup pairs plus unique docs: banding cannot miss identical
    // signatures, so recall must be 1e6 exactly; with no dups, 0 not a crash
    val base = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight"),
      (4L, "one two three four five six seven eight"),
      (5L, "totally unrelated content words here now then")
    ).toDF("id", "text")
    val r = Dedup.minhashRecallStats(base, "id", "text", threshold = 0.9)
      .collect()(0)
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L && r.getLong(2) == 1000000L,
      s"got $r")
    val none = Dedup.minhashRecallStats(
      base.filter($"id" === 5L || $"id" === 1L || $"id" === 3L),
      "id", "text", threshold = 0.9).collect()(0)
    assert(none.getLong(0) == 0L && none.getLong(2) == 0L, s"got $none")
  }

  test("connectedComponents driver-path gating is byte-aware and idType-gated") {
    import org.apache.spark.sql.types._
    // fixed-width ids under both cutoffs: driver path allowed
    assert(Dedup.driverPathAllowed(1000L, LongType, 0.0, 2000000L, 256L << 20))
    assert(Dedup.driverPathAllowed(1000L, IntegerType, 0.0, 2000000L, 256L << 20))
    // row cutoff still binds
    assert(!Dedup.driverPathAllowed(3000000L, LongType, 0.0, 2000000L, Long.MaxValue))
    // 2M long ids ≈ 224 MB estimate fits 256 MB; the same edges as 1 KB
    // strings (~2.1 kB/edge estimated) blow the byte cutoff -> loop path
    assert(Dedup.driverPathAllowed(2000000L, LongType, 0.0, 2000000L, 256L << 20))
    assert(!Dedup.driverPathAllowed(2000000L, StringType, 1024.0, 2000000L, 256L << 20))
    // short strings fit
    assert(Dedup.driverPathAllowed(1000L, StringType, 8.0, 2000000L, 256L << 20))
    // non-Long/Int/String id types never take the driver path (their driver
    // ordering is not guaranteed to match the loop's native min)
    assert(!Dedup.driverPathAllowed(10L, DecimalType(10, 0), 0.0, 2000000L, Long.MaxValue))
    assert(!Dedup.driverPathAllowed(10L, BinaryType, 0.0, 2000000L, Long.MaxValue))
    assert(!Dedup.driverPathAllowed(10L, ShortType, 0.0, 2000000L, Long.MaxValue))
  }

  test("connectedComponents: a string-id graph under the driver cutoff sizes its ids in one job") {
    // 3 pairs whose ids average 3 chars: the union-find is estimated at
    // 2 * 3 edges * 2 * (48 + 2 * 3) = 648 bytes, so a cutoff of 648 takes
    // the driver path and 647 the loop. One job over the pairs counts them
    // and their characters and returns them; the labels' checkpoint is
    // filled by the collect that reads them. That is 2 jobs; with the edge
    // table's exchange and checkpoint, the fold over it, the union-find's
    // collect and the label checkpoint it was 6
    val pairs = Seq(("bbb", "aaa"), ("aaa", "ccc"), ("zzz", "yyy")).toDF("id_a", "id_b")
    val expect = Map("aaa" -> "aaa", "bbb" -> "aaa", "ccc" -> "aaa",
      "yyy" -> "yyy", "zzz" -> "yyy")
    def run(bytes: Long) = {
      var labels = Map.empty[String, String]
      val jobs = FinalPlans.jobSitesDuring(spark) {
        labels = Dedup.connectedComponents(pairs, driverCutoffBytes = bytes)
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      }
      assert(labels == expect, s"cutoff $bytes: $labels")
      jobs
    }
    def pairJob(j: FinalPlans.JobSite) = j.name.startsWith("runJob at Dedup.scala")
    val driver = run(648L)
    assert(driver.size == 2 && pairJob(driver.head) && driver.count(pairJob) == 1,
      driver.mkString("\n"))
    // the loop runs the same first job, then the edge table and its rounds
    val loop = run(647L)
    assert(pairJob(loop.head) && loop.count(pairJob) == 1 &&
      loop.exists(_.name.startsWith("isEmpty at Dedup.scala")), loop.mkString("\n"))
  }

  test("connectedComponents: string ids above the byte cutoff take the loop and agree") {
    // wide string ids with a tiny byte cutoff: the estimate (~2*(48+2*len)
    // per edge) exceeds the cutoff, so the distributed loop runs — and must
    // produce the same labels the driver path produces under a huge cutoff
    val wide = "x" * 200
    val pairs = Seq((s"${wide}b", s"${wide}a"), (s"${wide}a", s"${wide}c"),
      (s"${wide}z", s"${wide}y")).toDF("id_a", "id_b")
    def run(bytes: Long) =
      Dedup.connectedComponents(pairs, driverCutoffBytes = bytes)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val looped = run(1L)          // forced loop (3 edges * ~900B > 1B)
    val driver = run(256L << 20)  // driver union-find
    val expect = Map(s"${wide}a" -> s"${wide}a", s"${wide}b" -> s"${wide}a",
      s"${wide}c" -> s"${wide}a", s"${wide}y" -> s"${wide}y",
      s"${wide}z" -> s"${wide}y")
    assert(looped == expect && driver == expect,
      s"loop=$looped driver=$driver")
  }

  test("dropNearDuplicates keeps exactly one canonical member per cluster") {
    // docs: 1 and 2 are exact duplicates (cluster {1,2}); others unique
    val out = Dedup.dropNearDuplicates(docs, "id", "text", threshold = 0.9)
      .select("id").collect().map(_.getLong(0)).toSet
    val all = docs.select("id").collect().map(_.getLong(0)).toSet
    assert(out == all - 2L, s"expected all but doc 2, got $out")
  }

  test("dropBoilerplateLines: shared lines vanish, order survives, empty docs disappear") {
    val df = Seq(
      (1L, "HEADER\nalpha beta\nFOOTER"),
      (2L, "HEADER\ngamma delta\nFOOTER"),
      (3L, "HEADER\nepsilon\nFOOTER"),
      (4L, "HEADER\nFOOTER") // nothing but boilerplate -> disappears
    ).toDF("id", "text")
    val out = Dedup.dropBoilerplateLines(df, "id", "text", maxDocs = 2)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out == Map(1L -> "alpha beta", 2L -> "gamma delta", 3L -> "epsilon"),
      s"got $out")
    // below the threshold nothing is dropped and line order is intact
    val loose = Dedup.dropBoilerplateLines(df, "id", "text", maxDocs = 10)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(loose(1L) == "HEADER\nalpha beta\nFOOTER")
  }

  test("dropNearDuplicatesBy keeps the highest-scoring cluster member") {
    // docs 1 and 2 are exact duplicates; give 2 the higher score
    val scored = docs.withColumn("score",
      when(col("id") === 2, 10).otherwise(1))
    val out = Dedup.dropNearDuplicatesBy(scored, "id", "text", "score",
      threshold = 0.9).select("id").collect().map(_.getLong(0)).toSet
    val all = docs.select("id").collect().map(_.getLong(0)).toSet
    assert(out == all - 1L, s"expected doc 2 (higher score) to survive, got $out")
  }

  test("contaminatedIds: shared shingles flag, disjoint docs don't") {
    val eval_ = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("id", "text")
    val train = Seq(
      (1L, "prefix words the quick brown fox jumps over something else"),
      (2L, "completely unrelated text about spark physical plans here")
    ).toDF("id", "text")
    val out = Dedup.contaminatedIds(train, eval_, "id", "text", n = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.contains(1L) && out(1L) >= 1, s"doc 1 shares 5-gram: $out")
    assert(!out.contains(2L), s"doc 2 is clean: $out")
  }

  test("shingles: shorter-than-k doc yields its single whole shingle") {
    val sh = docs.filter(col("id") === 5)
      .select(Dedup.shingles(col("text"), 5).as("sh")).collect()(0).getSeq[String](0)
    assert(sh.toSeq == Seq("short doc"))
  }

  test("dedupParagraphs: corpus-first occurrence survives, repeats and boilerplate drop") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha one\n\nshared boiler\n\nalpha one"), // within-doc repeat
      (2L, "shared boiler\n\nbeta two"),               // boiler seen in doc 1
      (3L, "shared boiler")                            // only boiler → doc vanishes
    ).toDF("doc_id", "text")
    val out = Dedup.dedupParagraphs(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L) == (("alpha one\n\nshared boiler", 2L)))
    assert(out(2L) == (("beta two", 1L)))
    assert(!out.contains(3L), "boiler-only doc must drop out entirely")
  }

  test("exact-dup collapse: collapsed chain row-identical to per-doc chain") {
    // Duplication-heavy corpus (3 verbatim copies per base text + a near
    // dup + a short doc): the gated public API takes the COLLAPSED path
    // here; both private paths must agree row for row — same pairs, same
    // jaccard values — because the expansion argument (identical texts →
    // identical signatures → identical candidacy) is exact, not heuristic.
    import spark.implicits._
    val base = Seq(
      "the quick brown fox jumps over the lazy dog again and again today",
      "the quick brown fox jumps over the lazy dog again and again tonight",
      "completely different words in this one nothing shared at all here",
      "short doc")
    val dupDocs = base.zipWithIndex.flatMap { case (t, i) =>
      (0 until 3).map(c => (i * 10L + c, t))
    }.toDF("id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    val keyed = dupDocs.select(col("id"), col("text").as("__text"))
    val perDoc = canon(Dedup.minhashPerDoc(keyed, 0.9, 16, 4, 5))
    val collapsed = canon(Dedup.minhashCollapsed(keyed, 0.9, 16, 4, 5))
    assert(collapsed == perDoc)
    // all 3 same-text pairs per base text at jaccard 1.0 are present
    assert(perDoc.count(_._3 == 1.0) >= base.size * 3)
    // and the public gated API returns the same rows on this corpus
    val pub = canon(Dedup.minhashNearDuplicates(dupDocs, "id", "text", 0.9))
    assert(pub == perDoc)
  }

  test("label path: rep-graph labels row-identical to CC over expanded pairs") {
    // The r16 label shape (CC over the distinct-content rep graph +
    // membership join) must reproduce the doc-level loop exactly. Corpus
    // exercises every vertex class: cross-group near-dup chains (two base
    // texts within jaccard 0.9 of each other, each duplicated), an
    // exact-dup group with NO cross edge (selfDup union branch), and a
    // singleton with no edges at all (must be absent from labels).
    import spark.implicits._
    val base = Seq(
      "the quick brown fox jumps over the lazy dog again and again today",
      "the quick brown fox jumps over the lazy dog again and again tonight",
      "completely different words in this one nothing shared at all here",
      "a lone unique document that matches nothing else in the corpus")
    val copies = Seq(3, 3, 3, 1)
    val dupDocs = base.zip(copies).zipWithIndex.flatMap { case ((t, m), i) =>
      (0 until m).map(c => (i * 10L + c, t))
    }.toDF("id", "text")
    def canonL(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .sortBy(identity).toSeq
    // ground truth: the doc-level loop over the (expanded) pair API
    val expected = canonL(Dedup.connectedComponents(
      Dedup.minhashNearDuplicates(dupDocs, "id", "text", 0.9,
        collapse = Some(false)).select("id_a", "id_b")))
    val collapsed = canonL(Dedup.minhashLabels(dupDocs, "id", "text",
      0.9, 16, 4, 5, Some(true)))
    val perDoc = canonL(Dedup.minhashLabels(dupDocs, "id", "text",
      0.9, 16, 4, 5, Some(false)))
    assert(collapsed == expected)
    assert(perDoc == expected)
    // the singleton (id 30) is unlabeled; the no-cross-edge dup group is
    // its own cluster labeled by its min (rep) id
    assert(!expected.exists(_._1 == 30L))
    assert(expected.filter(_._1 >= 20L).forall(_._2 == 20L))
    // composites on the collapsed path match the old pairs→CC construction
    def canonC(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(identity).toSeq
    val oldClusters = Dedup.connectedComponents(
      Dedup.minhashNearDuplicates(dupDocs, "id", "text", 0.9,
        collapse = Some(false)).select("id_a", "id_b"))
      .groupBy("component")
      .agg(count(lit(1)).as("n_members"), max(col("id")).as("max_id"))
    assert(canonC(Dedup.minhashClusters(dupDocs, "id", "text", 0.9,
      collapse = Some(true))) == canonC(oldClusters))
    // at 0.9 the today/tonight texts differ in 2 of 9 shingles (≈0.78) so every
    // dup group is its own cluster: one survivor per group + the singleton
    val survivors = Dedup.dropNearDuplicates(dupDocs, "id", "text", 0.9,
      collapse = Some(true)).select("id").collect().map(_.getLong(0)).sorted
    assert(survivors.toSeq == Seq(0L, 10L, 20L, 30L))
    // at 0.7 the 0- and 10-groups MERGE through a cross-group rep edge —
    // the repVerified→CC→membership expansion must label all six docs with
    // the global min id, and the label paths must still agree exactly
    val exp07 = canonL(Dedup.connectedComponents(
      Dedup.minhashNearDuplicates(dupDocs, "id", "text", 0.7,
        collapse = Some(false)).select("id_a", "id_b")))
    val col07 = canonL(Dedup.minhashLabels(dupDocs, "id", "text",
      0.7, 16, 4, 5, Some(true)))
    assert(col07 == exp07)
    assert(exp07.filter(_._1 <= 12L).forall(_._2 == 0L) &&
      exp07.count(_._2 == 0L) == 6)
    val surv07 = Dedup.dropNearDuplicates(dupDocs, "id", "text", 0.7,
      collapse = Some(true)).select("id").collect().map(_.getLong(0)).sorted
    assert(surv07.toSeq == Seq(0L, 20L, 30L))
  }

  test("simhashDedupIds: value-graph survivors row-identical to pairs→CC on both paths") {
    // Same vertex-class coverage as the minhash label test: duplicated
    // groups (same text → same fingerprint → distance-0 pairs), possible
    // cross-sig edges between the today/tonight variants, and a singleton.
    import spark.implicits._
    val base = Seq(
      "the quick brown fox jumps over the lazy dog again and again today",
      "the quick brown fox jumps over the lazy dog again and again tonight",
      "completely different words in this one nothing shared at all here",
      "a lone unique document that matches nothing else in the corpus")
    val copies = Seq(3, 3, 3, 1)
    val dupDocs = base.zip(copies).zipWithIndex.flatMap { case ((t, m), i) =>
      (0 until m).map(c => (i * 10L + c, t))
    }.toDF("id", "text")
    def canon2(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq
    // ground truth: doc-level CC over the pair-audit API's output
    def expected(bits: Int) = canon2(Dedup.connectedComponents(
        Dedup.simhashNearDuplicates(dupDocs, "id", "text", bits, 3)
          .select("id_a", "id_b"))
      .filter(col("id") =!= col("component"))
      .select(col("component"), col("id")))
    // narrow path (16 ≤ 20 bits): CC over the distinct-VALUE graph
    val narrow = canon2(Dedup.simhashDedupIds(dupDocs, "id", "text", 16, 3))
    assert(narrow == expected(16))
    // wide path (24 > 20 bits): doc-level segment join
    assert(canon2(Dedup.simhashDedupIds(dupDocs, "id", "text", 24, 3)) ==
      expected(24))
    // identical texts share a fingerprint, so duplicated groups collapse
    // even with no cross-sig edge; the singleton never appears
    val droppedIds = narrow.map(_._2).toSet
    assert(Set(1L, 2L, 11L, 12L, 21L, 22L).subsetOf(droppedIds))
    assert(!narrow.exists(t => t._1 == 30L || t._2 == 30L))
    // every survivor is its cluster's min: no survivor is also dropped
    assert(narrow.map(_._1).toSet.intersect(droppedIds).isEmpty)
  }

  test("dropNearDuplicates matches CC-over-pairs on both paths; simhash frames release") {
    import spark.implicits._
    val base = Seq(
      "the quick brown fox jumps over the lazy dog again and again today",
      "the quick brown fox jumps over the lazy dog again and again tonight",
      "completely different words in this one nothing shared at all here",
      "a lone unique document that matches nothing else in the corpus")
    val dupDocs = base.zip(Seq(3, 3, 3, 1)).zipWithIndex.flatMap {
      case ((t, m), i) => (0 until m).map(c => (i * 10L + c, t))
    }.toDF("id", "text")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(_.getLong(0)).sorted.toSeq
    // survivors = every id except the non-min members of the CC closure
    // of the per-doc pair API's output
    val dropped = ids(Dedup.connectedComponents(
        Dedup.minhashNearDuplicates(dupDocs, "id", "text", 0.9,
          collapse = Some(false)).select("id_a", "id_b"))
      .filter(col("id") =!= col("component")))
    assert(dropped.nonEmpty)
    val expected = ids(dupDocs).diff(dropped)
    assert(ids(Dedup.dropNearDuplicates(dupDocs, "id", "text", 0.9,
      collapse = Some(true))) == expected)
    assert(ids(Dedup.dropNearDuplicates(dupDocs, "id", "text", 0.9,
      collapse = Some(false))) == expected)
    // the tracked frames release deterministically (house pattern)
    val (out, caches) = graft.ops.Materialize.tracked(
      Dedup.simhashDedupIds(dupDocs, "id", "text", 16, 3))
    out.count()
    assert(caches.nonEmpty)
    caches.foreach(_.unpersist(blocking = true))
    assert(caches.forall(_.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE))
  }

  test("null texts get null band keys and never meet in a bucket") {
    // xxhash64 skips null inputs, so an unguarded band key would put all 50
    // null-text docs in one bucket per band: 50·49/2 = 1,225 candidate pairs
    val near = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega " +
      "one two three four five six"
    val df = ((1L to 50L).map(i => (i, Option.empty[String])) ++
      Seq((101L, Some(near)), (102L, Some(near.replaceAll("six$", "seven")))))
      .toDF("id", "text")
    val pairs = graft.ops.Materialize.scoped(
      Dedup.minhashCandidatePairs(df, "id", "text").as[(Long, Long)].collect())
    val n = pairs.length
    assert(n == 1 && pairs.head == (101L, 102L),
      s"$n candidates, first ${pairs.take(5).toSeq}")
    val buckets = Dedup.lshBuckets(df, "id", "text", 16, 4, 5)
    assert(buckets.filter(col("id") <= 50L).count() == 200L)
    assert(buckets.filter(col("id") <= 50L && col("bkey").isNotNull).isEmpty)
    val matched = buckets.as("a").join(buckets.as("b"), Seq("band", "bkey"))
      .select(col("a.id")).as[Long].collect().toSet
    assert(matched == Set(101L, 102L), s"ids meeting in a bucket: $matched")
  }

  /** 120 random 16-long signatures (4 bands of 4), ids 0–119, with
    * planted agreement: pairs sharing one band, pairs sharing several,
    * triples sharing a band, and null signatures (`None`).
    */
  private def plantedSignatures(seed: Int): Seq[(Long, Option[Seq[Long]])] = {
    val rnd = new scala.util.Random(seed)
    val sigs = Array.fill(120)(Array.fill(16)(rnd.nextInt(Int.MaxValue).toLong))
    def plant(from: Int, to: Int, band: Int): Unit =
      System.arraycopy(sigs(from), band * 4, sigs(to), band * 4, 4)
    (0 until 20).foreach(_ => plant(rnd.nextInt(120), rnd.nextInt(120), rnd.nextInt(4)))
    (0 until 10).foreach { _ =>
      val (a, b) = (rnd.nextInt(120), rnd.nextInt(120))
      rnd.shuffle((0 until 4).toList).take(2 + rnd.nextInt(3)).foreach(plant(a, b, _))
    }
    (0 until 5).foreach { _ =>
      val (a, band) = (rnd.nextInt(120), rnd.nextInt(4))
      plant(a, rnd.nextInt(120), band); plant(a, rnd.nextInt(120), band)
    }
    val nulls = (0 until 120).filter(_ => rnd.nextInt(20) == 0).toSet
    sigs.zipWithIndex.map { case (s, i) =>
      (i.toLong, if (nulls(i)) None else Some(s.toSeq))
    }.toSeq
  }

  test("bandCandidatePairs is exactly band agreement, each pair once, under every plan") {
    // A pair that agrees on k bands leaves the bucket join k times, and
    // the pair dedup keeps one. The reference is brute force on the
    // driver over the collected band keys: every id_a < id_b pair sharing
    // a non-null key at some band index.
    val keyed = (1 to 3).map(seed => plantedSignatures(seed).toDF("id", "sig")
      .select(col("id"), Dedup.lshBands(col("sig"), 16, 4).as("__bands")))
    val truths = keyed.map { k =>
      val rows = k.collect().map(r =>
        (r.getLong(0), r.getAs[scala.collection.Seq[Any]](1).toIndexedSeq))
      (for {
        (a, ka) <- rows.toSeq; (b, kb) <- rows.toSeq
        if a < b
        agree = ka.indices.count(i => ka(i) != null && ka(i) == kb(i))
        if agree > 0
      } yield ((a, b), agree)).toMap
    }
    truths.foreach { t =>
      assert(t.size > 30 && t.values.count(_ >= 2) >= 5,
        s"too little planted: ${t.size} pairs, ${t.values.count(_ >= 2)} multi-band")
    }
    val settings = Seq("spark.sql.adaptive.enabled" -> "true",
      "spark.sql.shuffle.partitions" -> "1",
      "spark.sql.shuffle.partitions" -> "3", "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")
    for ((k, v) <- settings) under(k, v) {
      keyed.zip(truths).zipWithIndex.foreach { case ((df, truth), i) =>
        val got = graft.ops.Materialize.scoped(
          Dedup.bandCandidatePairs(df).as[(Long, Long)].collect().toSeq)
        val twice = got.diff(got.distinct)
        assert(twice.isEmpty, s"$k=$v, seed ${i + 1}: pairs emitted twice")
        assert(got.toSet == truth.keySet, s"$k=$v, seed ${i + 1}: " +
          s"extra ${got.toSet.diff(truth.keySet)}, missing ${truth.keySet.diff(got.toSet)}")
      }
    }
  }

  test("64-bit band keys propose exactly the md5-key candidates, each pair once") {
    // Random signatures with planted agreement (see plantedSignatures).
    // Both key kinds run the same bucket join.
    def pairsOf(bandKeys: org.apache.spark.sql.DataFrame) =
      graft.ops.Materialize.scoped(
        Dedup.bandCandidatePairs(bandKeys).as[(Long, Long)].collect().toSeq)
    (1 to 4).foreach { seed =>
      val sigs = plantedSignatures(seed)
      val df = sigs.toDF("id", "sig")
      val truth = (for {
        (a, Some(sa)) <- sigs; (b, Some(sb)) <- sigs
        if a < b && (0 until 4).exists(k => sa.slice(k * 4, k * 4 + 4) ==
          sb.slice(k * 4, k * 4 + 4))
      } yield (a, b)).toSet
      val hashed = pairsOf(df.select(col("id"),
        Dedup.lshBands(col("sig"), 16, 4).as("__bands")))
      val md5ed = pairsOf(df.select(col("id"), Md5BandKeys(col("sig")).as("__bands")))
      assert(truth.size > 30, s"seed $seed planted too little: ${truth.size}")
      assert(hashed.size == hashed.toSet.size, s"seed $seed: a pair emitted twice")
      assert(md5ed.size == md5ed.toSet.size, s"seed $seed: a pair emitted twice (md5)")
      assert(hashed.toSet == md5ed.toSet,
        s"seed $seed: ${hashed.toSet.diff(md5ed.toSet)} vs ${md5ed.toSet.diff(hashed.toSet)}")
      assert(hashed.toSet == truth, s"seed $seed: differs from band agreement")
    }
  }
}

/** The band keys engines wrote before keys were 64-bit: md5 hex of `b:`
  * and the band's slice joined by `|`, for 16 hashes in 4 bands. The
  * reference for the candidate-equivalence and index-upgrade specs.
  */
object Md5BandKeys {
  def apply(sig: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array((0 until 4).map { b =>
      md5(concat(lit(s"$b:"), array_join(slice(sig, b * 4 + 1, 4), "|")))
    }: _*)
}
