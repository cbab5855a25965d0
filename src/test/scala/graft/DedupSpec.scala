package graft

import graft.ops.{Dedup, TextAnalysis}
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

  test("simhash: string form is bin(long) and dup pair is at distance 0") {
    val r = docs.filter(col("id") <= 2)
      .select(Dedup.simhash(col("text"), 16).as("s"),
        Dedup.simhashLong(col("text"), 16).as("l"))
      .collect()
    assert(r(0).getString(0) == r(1).getString(0))
    assert(r(0).getString(0).length == 16)
    assert(r(0).getString(0).forall(c => c == '0' || c == '1'))
    assert(java.lang.Long.parseLong(r(0).getString(0), 2) == r(0).getLong(1))
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
    // empty pair list -> empty labeling, no infinite loop
    val empty = Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
    assert(empty.count() == 0)
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

  test("connectedComponents with a reliable checkpoint dir matches localCheckpoint") {
    // the executor-loss-safe variant (checkpoint files instead of
    // executor-local blocks) must label identically
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt").toString
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs, checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(dir)).count() > 0,
      "reliable checkpoint files should have been written under the given dir")
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
    val perDoc = canon(Dedup.minhashPerDoc(keyed, 0.9, 16, 4, 5)._1)
    val collapsed = canon(Dedup.minhashCollapsed(keyed, 0.9, 16, 4, 5)._1)
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
    val collapsed = canonL(Dedup.minhashLabelsH(dupDocs, "id", "text",
      0.9, 16, 4, 5, Some(true))._1)
    val perDoc = canonL(Dedup.minhashLabelsH(dupDocs, "id", "text",
      0.9, 16, 4, 5, Some(false))._1)
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
    val col07 = canonL(Dedup.minhashLabelsH(dupDocs, "id", "text",
      0.7, 16, 4, 5, Some(true))._1)
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

  test("minhashDedupIds matches CC-over-pairs on both gate paths; simhash H releases") {
    import spark.implicits._
    val base = Seq(
      "the quick brown fox jumps over the lazy dog again and again today",
      "the quick brown fox jumps over the lazy dog again and again tonight",
      "completely different words in this one nothing shared at all here",
      "a lone unique document that matches nothing else in the corpus")
    val dupDocs = base.zip(Seq(3, 3, 3, 1)).zipWithIndex.flatMap {
      case ((t, m), i) => (0 until m).map(c => (i * 10L + c, t))
    }.toDF("id", "text")
    def canon2(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq
    val expected = canon2(Dedup.connectedComponents(
        Dedup.minhashNearDuplicates(dupDocs, "id", "text", 0.9,
          collapse = Some(false)).select("id_a", "id_b"))
      .filter(col("id") =!= col("component"))
      .select(col("component"), col("id")))
    assert(canon2(Dedup.minhashDedupIds(dupDocs, "id", "text", 0.9,
      collapse = Some(true))) == expected)
    assert(canon2(Dedup.minhashDedupIds(dupDocs, "id", "text", 0.9,
      collapse = Some(false))) == expected)
    // the H variant's handles release deterministically (house pattern)
    val (out, caches) = Dedup.simhashDedupIdsH(dupDocs, "id", "text", 16, 3)
    out.count()
    assert(caches.nonEmpty)
    caches.foreach(_.unpersist(blocking = true))
    assert(caches.forall(_.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE))
  }
}
