package graft

import graft.ops.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1.0, 0.0, 0.0)),
    (1L, Array(1.0, 0.0, 0.0)),   // identical to 0
    (2L, Array(0.0, 1.0, 0.0)),   // orthogonal
    (3L, Array(0.7071067811865476, 0.7071067811865475, 0.0)), // 45°
    (4L, Array(0.0, 0.0, 0.0))    // zero vector
  ).toDF("id", "vec")

  test("graft_dot matches a manual dot product") {
    val d = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))).toDF("a", "b")
      .select(Similarity.dot(col("a"), col("b"))).collect()(0).getDouble(0)
    assert(d == 32.0)
  }

  test("cosine: identical=1, orthogonal=0, zero-vector=0 (not NaN)") {
    val pairs = Seq((0L, 1L, 1.0), (0L, 2L, 0.0), (0L, 4L, 0.0))
    val a = vecs.select(col("id").as("ia"), col("vec").as("va"))
    val b = vecs.select(col("id").as("ib"), col("vec").as("vb"))
    val sims = a.crossJoin(b)
      .withColumn("sim", Similarity.cosine(col("va"), col("vb")))
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(4))).toMap
    pairs.foreach { case (x, y, expect) =>
      assert(math.abs(sims((x, y)) - expect) < 1e-12, s"cosine($x,$y)")
    }
  }

  test("bruteForceTopK ranks by similarity desc, excludes self, respects k") {
    val q = vecs.filter(col("id") === 0).select(col("id").as("qid"), col("vec").as("qvec"))
    val c = vecs.select(col("id"), col("vec"))
    val top = Similarity.bruteForceTopK(q, c, k = 2).orderBy("rank").collect()
    assert(top.length == 2)
    assert(top(0).getLong(2) == 1L) // identical vector first
    assert(top(1).getLong(2) == 3L) // then the 45° one
    assert(!top.map(_.getLong(2)).contains(0L))
  }

  test("lshBucket is deterministic and equal for identical vectors") {
    val b = vecs.filter(col("id") <= 1)
      .select(Similarity.lshBucket(col("vec"), 4, 3).as("b"))
      .collect().map(_.getString(0))
    assert(b(0) == b(1))
    assert(b(0).length == 4 && b(0).forall(c => c == '0' || c == '1'))
  }

  test("ivfAssign: every vector lands in exactly one cluster; identical vectors co-locate") {
    val c = vecs.select(col("id"), col("vec"))
    val cents = Similarity.seedCentroids(c, 2) // centroids from ids 0,1 (identical vecs)
    val assigned = Similarity.ivfAssign(c, cents)
    assert(assigned.count() == 5)
    val byId = assigned.collect().map(r => r.getLong(0) -> r.getAs[Long]("cluster")).toMap
    // identical vectors 0 and 1 tie on both centroids -> both pick cid 0
    assert(byId(0L) == 0L && byId(1L) == 0L)
  }

  test("ivfTopK with nprobe=all matches brute force on this corpus") {
    val c = vecs.select(col("id"), col("vec"))
    val q = vecs.filter(col("id") === 0).select(col("id").as("qid"), col("vec").as("qvec"))
    val cents = Similarity.seedCentroids(c, 2)
    val ivf = Similarity.ivfTopK(q, c, cents, k = 2, nprobe = 2)
      .orderBy("rank").collect().map(r => (r.getInt(1), r.getLong(2)))
    val brute = Similarity.bruteForceTopK(q, c, k = 2)
      .orderBy("rank").collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(ivf.toSeq == brute.toSeq)
  }

  test("crossNearDuplicates: corpus rows match their best eval vector only") {
    // eval: e0=[1,0,0], e1=[0,1,0]; corpus: c10 identical to e0, c11 at 45
    // degrees (matches BOTH evals at cos ~= .707 -> tie-ish, e0 wins on sim
    // exactness), c12 orthogonal to everything it buckets with
    val eval = Seq(
      (0L, Array(1.0, 0.0, 0.0)), (1L, Array(0.0, 1.0, 0.0))
    ).toDF("id", "vec")
    val corpus = Seq(
      (10L, Array(1.0, 0.0, 0.0)),
      (11L, Array(0.9, 0.1, 0.0)),
      (12L, Array(0.0, 0.0, 1.0))
    ).toDF("id", "vec")
    // numPlanes=0 -> every vector in one bucket (exhaustive), exact cosines
    val out = Similarity.crossNearDuplicates(corpus, eval,
      threshold = 0.5, numPlanes = 0, dim = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      .sortBy(_._1)
    assert(out.map(t => (t._1, t._2)) == Seq((10L, 0L), (11L, 0L)),
      s"got $out")
    assert(out(0)._3 == 1.0)
    // eval ids never appear on the corpus side; sub-threshold rows drop
    assert(!out.exists(_._1 < 10L) && !out.exists(_._1 == 12L))
  }

  test("bruteForceNearDuplicates finds only the identical pair at high threshold") {
    val c = vecs.select(col("id"), col("vec"))
    val pairs = Similarity.bruteForceNearDuplicates(c, threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((0L, 1L)))
  }

  test("recallAtK: full-probe IVF scores 1.0 against brute force") {
    val c = vecs.select(col("id"), col("vec"))
    val q = vecs.filter(col("id") < 2).select(col("id").as("qid"), col("vec").as("qvec"))
    val exact = Similarity.bruteForceTopK(q, c, k = 2)
    val cents = Similarity.seedCentroids(c, 2)
    val approx = Similarity.ivfTopK(q, c, cents, k = 2, nprobe = 2)
    val r = Similarity.recallAtK(approx, exact).collect()(0)
    assert(r.getDouble(0) == 1.0 && r.getLong(1) == 2L)
    // and a deliberately crippled probe scores below 1
    val bad = Similarity.ivfTopK(q, c, cents, k = 2, nprobe = 1)
    val rb = Similarity.recallAtK(bad, exact).collect()(0)
    assert(rb.getDouble(0) <= 1.0)
  }

  test("graft_doti matches the HOF integer dot on mixed-sign vectors") {
    val df = Seq((Seq(3L, -2L, 0L, 127L), Seq(-1L, 4L, 9L, 127L))).toDF("a", "b")
    val native = df.select(Similarity.dotQuantized(col("a"), col("b")))
      .collect()(0).getLong(0)
    val hof = df.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0L), (acc, v) => acc + v))
      .collect()(0).getLong(0)
    assert(native == hof && native == (-3L - 8L + 0L + 127L * 127L))
  }

  test("quantized dot malformed-input convention: truncate to min length, null slots = 0") {
    // graft_doti intentionally differs from the old zip_with+aggregate HOF
    // (which returned NULL for ragged input): a mismatched length truncates
    // to the shorter vector and a null slot contributes 0 — a well-defined
    // score instead of a null that silently drops the pair from top-k.
    val ragged = Seq((Seq(2L, 3L, 5L), Seq(10L, 10L))).toDF("a", "b")
      .select(Similarity.dotQuantized(col("a"), col("b")).as("d")).collect()(0)
    assert(!ragged.isNullAt(0) && ragged.getLong(0) == 50L, s"ragged: $ragged")
    val withNull = Seq((Seq(Some(2L), None, Some(5L)), Seq(Some(10L), Some(10L), Some(10L))))
      .toDF("a", "b")
      .select(Similarity.dotQuantized(col("a"), col("b")).as("d")).collect()(0)
    assert(!withNull.isNullAt(0) && withNull.getLong(0) == 70L, s"null slot: $withNull")
    // a NULL vector (vs a null slot) is still NULL-propagating
    val nullVec = Seq((Some(Seq(1L, 2L)), Option.empty[Seq[Long]])).toDF("a", "b")
      .select(Similarity.dotQuantized(col("a"), col("b")).as("d")).collect()(0)
    assert(nullVec.isNullAt(0))
  }

  test("graft_argmax_cos matches the struct-greatest argmax formulation") {
    // the kernel must reproduce the exact (sim desc, cid asc) choice the
    // oracle replays: ties -> smallest cid, zero denom -> sim 0
    val corpus = vecs.select(col("id"), col("vec").cast("array<double>").as("vec"))
    val cents = Seq((10L, Seq(1.0, 0.0, 0.0)), (11L, Seq(0.0, 1.0, 0.0)),
      (12L, Seq(1.0, 0.0, 0.0))).toDF("cid", "cvec") // 12 duplicates 10 -> tie
    val out = Similarity.ivfAssign(corpus, cents)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("cluster")).toMap
    assert(out(0L) == 10L && out(1L) == 10L, "tie must pick the smallest cid")
    assert(out(2L) == 11L)
    assert(out(4L) == 10L, "zero vector: all sims 0, first (smallest) cid wins")
  }

  test("graft_argmin_sq matches the crossJoin+window argmin formulation") {
    import org.apache.spark.sql.expressions.Window
    val q = vecs.select(col("id"),
      Similarity.quantizeInt(col("vec").cast("array<double>")).as("iv"))
    val cents = Seq(
      (10L, Seq(127L, 0L, 0L)), (11L, Seq(0L, 127L, 0L)),
      (12L, Seq(127L, 0L, 0L))) // 12 duplicates 10 -> tie
    val kernel = Similarity.assignQuantized(q, cents)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("cluster")).toMap
    // reference: the pre-kernel crossJoin + interpreted distance + window
    val c = broadcast(cents.toDF("cid", "civ"))
    val dist = aggregate(
      zip_with(col("iv"), col("civ"), (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)
    val w = Window.partitionBy(col("id")).orderBy(asc("dist"), asc("cid"))
    val ref = q.crossJoin(c).withColumn("dist", dist)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("cid")).toMap
    assert(kernel == ref, s"kernel $kernel vs window $ref")
    assert(kernel(0L) == 10L, "tie must pick the smallest cid")
    // empty centroid set -> empty assignment, schema preserved
    val empty = Similarity.assignQuantized(q, Seq.empty)
    assert(empty.count() == 0 &&
      empty.columns.toSeq == Seq("id", "iv", "cluster"))
    // NULL vector propagates
    val nullRow = Seq((1L, Option.empty[Seq[Long]])).toDF("id", "iv")
    assert(Similarity.assignQuantized(nullRow, cents).collect()(0).isNullAt(2))
  }

  test("pqEncode: m codes, dim-length reconstruction, codebook rows reconstruct exactly") {
    // 8 vectors of dim 4, m=2 subspaces, k=4 codewords
    val rows = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 0.0, 0.0)),
      (2L, Seq(0.0, 0.0, 1.0, 0.0)), (3L, Seq(0.0, 0.0, 0.0, 1.0)),
      (4L, Seq(1.0, 0.0, 0.0, 0.0)), (5L, Seq(0.9, 0.1, 0.05, 0.0))
    ).toDF("id", "vec")
    val enc = Similarity.pqEncode(rows, m = 2, k = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[scala.collection.Seq[Int]]("code").toSeq,
          r.getAs[scala.collection.Seq[Long]]("recon").toSeq)).toMap
    assert(enc(0L)._1.length == 2 && enc(0L)._2.length == 4)
    // a codebook seed vector reconstructs to exactly its own quantization
    assert(enc(0L)._2 == Seq(127L, 0L, 0L, 0L))
    // vector 4 duplicates seed 0 → identical code and reconstruction
    assert(enc(4L) == enc(0L))
    // ties pick the smallest codeword index: subspace 1 of ids 0 and 1
    // quantizes to (0,0), matching codewords 0/2/3 in some subspace — all
    // codes must be within [0, k)
    enc.values.foreach { case (code, _) =>
      assert(code.forall(c => c >= 0 && c < 4), s"code out of range: $code") }
  }

  test("pqTopK: exact duplicate of a query ranks first with adist 0") {
    val corpus = vecs.select(col("id"), col("vec"))
    val q = vecs.filter(col("id") === 0)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val out = Similarity.pqTopK(q, corpus, topK = 3, m = 3, k = 4)
      .orderBy("rank").collect()
    // vecs: id 1 duplicates id 0 (same direction) → its reconstruction is
    // identical to the query's own, so adist is 0 at rank 1
    assert(out(0).getLong(2) == 1L && out(0).getLong(3) == 0L,
      s"rank1: ${out.mkString(";")}")
  }

  test("quantizeInt maps the max-magnitude component to ±127") {
    val out = Seq((1L, Seq(0.5, -1.0, 0.25), "x")).toDF("id", "vec", "pad")
      .select(Similarity.quantizeInt(col("vec")).as("iv"))
      .collect()(0).getAs[scala.collection.Seq[Long]](0)
    // floor(x*127/1.0 + 0.5): 0.5 -> 64, -1.0 -> -127 (floor(-126.5)=-127), 0.25 -> 32
    assert(out.toSeq == Seq(64L, -127L, 32L), s"got $out")
    val zero = Seq((1L, Seq(0.0, 0.0))).toDF("id", "vec")
      .select(Similarity.quantizeInt(col("vec")).as("iv"))
      .collect()(0).getAs[scala.collection.Seq[Long]](0)
    assert(zero.toSeq == Seq(0L, 0L))
  }

  test("kmeans separates well-separated direction clusters") {
    // three direction clusters in 4-dim; ids 0,1,2 seed one per cluster
    def jig(base: Seq[Double], eps: Double) = base.map(_ + eps)
    val a = Seq(1.0, 0.0, 0.0, 0.0); val b = Seq(0.0, 1.0, 0.0, 0.0)
    val c3 = Seq(0.0, 0.0, 1.0, 0.0)
    val rows = Seq(
      (0L, a), (1L, b), (2L, c3),
      (3L, jig(a, 0.05)), (4L, jig(a, 0.1)),
      (5L, jig(b, 0.05)), (6L, jig(b, 0.1)),
      (7L, jig(c3, 0.05)), (8L, jig(c3, 0.1))).toDF("id", "vec")
    val cents = Similarity.kmeans(rows, k = 3, iters = 3)
    assert(cents.count() == 3)
    val assigned = Similarity.ivfAssign(
      rows.select(col("id"), col("vec").cast("array<double>").as("vec")), cents)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("cluster")).toMap
    assert(assigned(0L) == assigned(3L) && assigned(3L) == assigned(4L))
    assert(assigned(1L) == assigned(5L) && assigned(5L) == assigned(6L))
    assert(assigned(2L) == assigned(7L) && assigned(7L) == assigned(8L))
    assert(Set(assigned(0L), assigned(1L), assigned(2L)).size == 3)
  }

  test("semanticDedup drops within-cluster near-dups, keeps min id") {
    // two direction clusters; 0/1/2 nearly parallel (dups of 0), 3/4
    // parallel on the other axis (4 dup of 3), 5 diagonal-ish loner
    val rows = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(1.0, 0.01, 0.0, 0.0)),
      (2L, Seq(0.99, 0.0, 0.01, 0.0)),
      (3L, Seq(0.0, 0.0, 1.0, 0.0)),
      (4L, Seq(0.0, 0.01, 1.0, 0.0)),
      (5L, Seq(0.6, 0.0, 0.8, 0.0))).toDF("id", "vec")
    val kept = Similarity.semanticDedup(rows, k = 2, iters = 2,
      simNum = 99L, simDen = 100L)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept.contains(0L) && !kept.contains(1L) && !kept.contains(2L),
      s"cluster A should collapse to id 0: $kept")
    assert(kept.contains(3L) && !kept.contains(4L),
      s"cluster B should collapse to id 3: $kept")
  }

  test("semanticDedup: threshold 1/1 keeps only exact quantized dups out") {
    val rows = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(2.0, 0.0)), // same direction → same iv
      (2L, Seq(0.0, 1.0))).toDF("id", "vec")
    val kept = Similarity.semanticDedup(rows, k = 1, iters = 1,
      simNum = 1L, simDen = 1L)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(0L, 2L), s"got $kept")
  }

  test("semanticDedup: collapsed dup-id scan row-identical to per-doc scan") {
    // Duplication-heavy assignment table with the edge cases the collapse
    // must replicate: identical-iv groups (drop all but min), a zero
    // vector DUPLICATED (0/0 never matches per-doc → both copies survive),
    // a cross-group near-dup pair, and an isolated cluster.
    import spark.implicits._
    val asg = Seq(
      // cluster 0: group X = {1,4,7} identical; group Y = {2} similar to X
      (1L, Seq(10L, 0L, 0L), 0L), (4L, Seq(10L, 0L, 0L), 0L),
      (7L, Seq(10L, 0L, 0L), 0L), (2L, Seq(10L, 1L, 0L), 0L),
      // cluster 0: duplicated ZERO vector — never matches anything
      (3L, Seq(0L, 0L, 0L), 0L), (9L, Seq(0L, 0L, 0L), 0L),
      // cluster 1: orthogonal pair (no match) + a dup group {5,8}
      (6L, Seq(0L, 7L, 0L), 1L), (5L, Seq(0L, 0L, 7L), 1L),
      (8L, Seq(0L, 0L, 7L), 1L)
    ).toDF("id", "iv", "cluster")
    val withNorm = asg.withColumn("nrm",
      Similarity.dotQuantized(col("iv"), col("iv")))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).sorted.toSeq
    val perDoc = ids(Similarity.semanticDupIdsPerDoc(withNorm, 9L, 10L))
    val collapsed = ids(Similarity.semanticDupIdsCollapsed(withNorm, 9L, 10L))
    assert(collapsed == perDoc, s"collapsed=$collapsed perDoc=$perDoc")
    // group X: 4,7 drop (1 kept); Y's rep 2 matches X's members below it?
    // sim(X,Y) = 10/√101·... cos ≈ 0.995 ≥ 0.9 → 2 drops (1 < 2); zero
    // vecs 3,9 both survive; cluster 1: 8 drops (5 kept), 6 survives
    assert(perDoc == Seq(2L, 4L, 7L, 8L))
  }

  test("embeddingNearDuplicates: collapsed pair scan row-identical to per-doc") {
    import spark.implicits._
    // 3 copies of two near-dup directions + 2 copies of an orthogonal one
    val rows = (Seq.fill(3)(Seq(1.0, 0.0, 0.0)) ++ Seq.fill(3)(Seq(0.98, 0.2, 0.0)) ++
      Seq.fill(2)(Seq(0.0, 0.0, 1.0)))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "vec")
    val c = rows.select(col("id"), col("vec").cast("array<double>").as("vec"))
      .withColumn("bucket", Similarity.lshBucket(col("vec"), 4, 3))
      .withColumn("nrm", Similarity.norm(col("vec")))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    val perDoc = canon(Similarity.embedPairsPerDoc(c, 0.9))
    val collapsed = canon(Similarity.embedPairsCollapsed(c, 0.9))
    assert(collapsed == perDoc, s"collapsed=$collapsed perDoc=$perDoc")
    // every same-direction pair is present at sim 1.0
    assert(perDoc.count(_._3 == 1.0) >= 3 + 3 + 1)
  }

  test("embeddingDedupIds row-equal to drop-over-pairs closure on a duplicated corpus") {
    import spark.implicits._
    // Duplication-heavy corpus: 3 copies of A + 3 of A' (2·A — same
    // direction, so same LSH bucket and cosine 1, but a DISTINCT vector
    // group) form one 6-member cluster; 2 copies of B (orthogonal) a
    // 2-member cluster; an isolated singleton must yield NO rows.
    // Exercises every path: a cross-group rep edge, within-group
    // (rep-graph-invisible) members, a self-dup group with no cross edge,
    // and singleton exclusion.
    val rows = (Seq.fill(3)(Seq(1.0, 0.0, 0.0)) ++ Seq.fill(3)(Seq(2.0, 0.0, 0.0)) ++
      Seq.fill(2)(Seq(0.0, 0.0, 1.0)) ++ Seq(Seq(0.0, 1.0, 0.0)))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "vec")
    val (dedupDf, caches) = graft.ops.Materialize.tracked(
      Similarity.embeddingDedupIds(rows, 0.9, 4, 3))
    val dedup = dedupDf.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    caches.foreach(_.unpersist(blocking = true))
    assert(caches.forall(_.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE), "handle release must stick")
    // reference: the pair API's output, transitively closed, minus min ids
    val pairs = Similarity.embeddingNearDuplicates(rows, 0.9, 4, 3)
      .select(col("id_a"), col("id_b"))
    val ref = graft.ops.Dedup.connectedComponents(pairs)
      .filter(col("id") =!= col("component"))
      .collect().map(r => (r.getLong(1), r.getLong(0))).sorted.toSeq
    assert(dedup == ref, s"dedup=$dedup ref=$ref")
    // cluster {0..5} keeps 0, cluster {6,7} keeps 6, singleton 8 absent
    assert(dedup == Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (0L, 5L), (6L, 7L)))
  }
}
