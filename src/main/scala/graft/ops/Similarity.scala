package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns (extension mandate, SURVEY §2.3).
  *
  * Baseline: brute-force cosine top-k — a broadcast of the (small) query set
  * against the (huge) corpus, so the corpus is scanned once, map-only, and
  * per-query top-k is a TakeOrdered-style window, never a full sort of the
  * corpus. Scale path: deterministic random-hyperplane LSH bucketing — the
  * corpus is bucketed once (map-only), queries probe only their own bucket
  * (equi-join on bucket key), trading recall for a ~2^planes fan-in cut.
  *
  * Vector math is the native codegen'd `graft_dot` expression
  * ([[graft.functions.DotProduct]] — sessions must load
  * [[graft.GraftExtensions]]); every pairwise stage precomputes per-side
  * norms map-only first, so each candidate pair costs exactly one array
  * loop, inside WholeStageCodegen.
  */
object Similarity {

  /** Codegen'd dot product (requires GraftExtensions on the session). */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Content-address key for a vector: sha2-256 of its canonical byte
    * image (`graft_vec_bytes` — -0.0/NaN folded to match Catalyst's
    * grouping equality). Collision-resistant stand-in for vector equality
    * in corpus-sized group/join keys.
    */
  private[graft] def vecKey(v: Column): Column =
    sha2(call_function("graft_vec_bytes", v), 256)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val denom = norm(a) * norm(b)
    when(denom === 0.0, lit(0.0)).otherwise(d / denom)
  }

  /** cosine from a precomputed dot and per-side norms (zero-denominator → 0,
    * matching the sequential-fold oracle).
    */
  private def cosineFromNorms(d: Column, na: Column, nb: Column): Column =
    when(na * nb === 0.0, lit(0.0)).otherwise(d / (na * nb))

  /** Brute-force cosine top-k: every query row against every corpus row.
    *
    * @param queries small DataFrame (qid, qvec) — broadcast;
    * @param corpus  large DataFrame (id, vec);
    * @param k       neighbors per query (self-matches excluded by id).
    *
    * Plan: BroadcastNestedLoopJoin (corpus scanned once, queries replicated),
    * then EXACT two-stage top-k: a local top-k per (qid, input partition) —
    * each reducer holds at most corpus/P rows of one query — followed by the
    * global top-k over the surviving k·P rows per query. A single global
    * window would funnel every query's full corpus-sized score list through
    * one task; the two-stage plan's second window input is k·P rows, constant
    * in corpus size.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries
      .select(col("qid"), col("qvec").cast("array<double>").as("qvec"))
      .withColumn("qnorm", norm(col("qvec"))))
    val c = corpus
      .select(col("id"), col("vec").cast("array<double>").as("vec"))
      .withColumn("cnorm", norm(col("vec")))
    val scored = c.crossJoin(q)
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"),
        cosineFromNorms(dot(col("qvec"), col("vec")), col("qnorm"), col("cnorm")).as("sim"),
        spark_partition_id().as("part"))
    val wLocal = Window.partitionBy(col("qid"), col("part")).orderBy(desc("sim"), asc("id"))
    val local = scored.withColumn("lrank", row_number().over(wLocal))
      .filter(col("lrank") <= k)
    val w = Window.partitionBy(col("qid")).orderBy(desc("sim"), asc("id"))
    local.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id"), round(col("sim"), 6).as("sim"))
  }

  /** Deterministic pseudo-random hyperplane weights: plane p, dimension d →
    * a value in [-1, 1), derived from md5 so buckets are reproducible across
    * runs and engines. Driver-side: planes are tiny (planes × dim doubles)
    * and become literal arrays broadcast with the plan.
    */
  private[graft] def planeWeights(numPlanes: Int, dim: Int): Array[Array[Double]] = {
    val mdf = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(numPlanes, dim) { (p, d) =>
      val h = mdf.digest(s"$p:$d".getBytes("UTF-8"))
      val v = java.nio.ByteBuffer.wrap(h).getLong // first 8 bytes
      (v.toDouble / Long.MaxValue.toDouble)
    }
  }

  /** Sign-bit LSH bucket key of a vector column under `numPlanes` fixed
    * hyperplanes — a bit string, one char per plane, via the native
    * `graft_lsh_bucket` kernel ([[graft.functions.LshBucket]] — requires
    * [[graft.GraftExtensions]]). The planes×dim hyperplane matrix rides the
    * plan as ONE `typedLit` reference object, so plan/codegen size is O(1)
    * in planes (the previous per-plane `when(graft_dot(vec, array(lit…)))`
    * chain inlined planes×dim literals — 16k at planes=32, dim=512, a
    * codegen-split risk). Bit-for-bit the same buckets: per-plane
    * left-to-right dot fold, `>= 0` sign test.
    */
  def lshBucket(vec: Column, numPlanes: Int, dim: Int): Column = {
    val planes = planeWeights(numPlanes, dim)
    call_function("graft_lsh_bucket", vec.cast("array<double>"),
      typedLit(planes.map(_.toSeq).toSeq))
  }

  /** LSH-bucketed approximate top-k: corpus bucketed map-only; each query
    * probes only its bucket (equi-join on the bucket key), then exact cosine
    * + per-query top-k within the candidates. Recall is tunable by
    * `numPlanes` (fewer planes → bigger buckets → higher recall, more work).
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              numPlanes: Int, dim: Int): DataFrame = {
    val c = corpus.select(col("id"), col("vec").cast("array<double>").as("vec"))
      .withColumn("bucket", lshBucket(col("vec"), numPlanes, dim))
      .withColumn("cnorm", norm(col("vec")))
    val q = broadcast(queries
      .select(col("qid"), col("qvec").cast("array<double>").as("qvec"))
      .withColumn("bucket", lshBucket(col("qvec"), numPlanes, dim))
      .withColumn("qnorm", norm(col("qvec"))))
    val scored = c.join(q, "bucket")
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"),
        cosineFromNorms(dot(col("qvec"), col("vec")), col("qnorm"), col("cnorm")).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(desc("sim"), asc("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id"), round(col("sim"), 6).as("sim"))
  }

  /** IVF (inverted-file) index assignment: each vector goes to its nearest
    * centroid by cosine (ties broken by smallest centroid id — deterministic
    * and oracle-reproducible). Centroids are a tiny table (id, vec) —
    * broadcast; assignment is map-only over the corpus, one codegen'd dot
    * per (vector, centroid).
    *
    * Centroid choice is the caller's (k-means, sampled seeds, ...);
    * `seedCentroids` gives the deterministic sampled-seed variant a training
    * pipeline would bootstrap with.
    */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    // Centroids are control plane: k×dim doubles. Collect them once and
    // embed them as ONE literal matrix inside the native
    // `graft_argmax_cos` kernel ([[graft.functions.ArgmaxCosine]]) — the
    // per-row argmax then runs entirely map-side with NO exchange, and the
    // plan/codegen size stays O(1) in k (the r2 crossJoin+groupBy argmax
    // shuffled corpus×k rows; the r3 `greatest`-over-k-structs formulation
    // was exchange-free but its generated source grew with k×dim literals —
    // ~1.4 s of Janino compile per fresh centroid set at k=16·dim=64, and a
    // codegen-split risk at k in the hundreds).
    //
    // Arithmetic is bit-identical to both prior formulations: same
    // left-to-right dot fold, same sqrt, denom==0 → 0.0, ties → smallest
    // cid — so oracle replays are unaffected.
    val cents: Array[(Long, Array[Double])] = centroids
      .select(col("cid").cast("long"), col("cvec").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getAs[scala.collection.Seq[Double]](1).toArray))
      .sortBy(_._1)
    val c = corpus.select(col("id"), col("vec").cast("array<double>").as("vec"))
      .withColumn("nrm", norm(col("vec")))
    // empty centroid table → empty assignment (e.g. k-means over an empty
    // corpus), preserving the schema instead of throwing
    if (cents.isEmpty)
      return c.select(col("id"), col("vec"), col("nrm"), lit(0L).as("cluster")).limit(0)
    val cnorms = cents.map { case (_, cv) =>
      var s = 0.0
      var i = 0
      while (i < cv.length) { s += cv(i) * cv(i); i += 1 }
      math.sqrt(s) // same fold order + sqrt as norm(col)
    }
    val cluster = call_function("graft_argmax_cos",
      col("vec"), col("nrm"),
      typedLit(cents.map(_._2.toSeq).toSeq),
      typedLit(cnorms.toSeq),
      typedLit(cents.map(_._1).toSeq))
    c.select(col("id"), col("vec"), col("nrm"), cluster.as("cluster"))
  }

  /** Deterministic seed centroids: the `k` corpus vectors with the smallest
    * ids (a fixed, engine-agnostic choice — a real deployment would k-means
    * these; the plumbing is identical).
    */
  def seedCentroids(corpus: DataFrame, k: Int): DataFrame =
    corpus.select(col("id"), col("vec").cast("array<double>").as("vec"))
      .orderBy("id").limit(k)
      .select(col("id").as("cid"), col("vec").as("cvec"))

  /** Distributed Lloyd's k-means (spherical: cosine assignment, mean
    * update) — the centroid trainer IVF bootstraps from, in pure DataFrame
    * ops. Per iteration: assignment is the broadcast map-only `ivfAssign`;
    * the update is posexplode + a (cluster, dim) hash aggregate whose
    * map-side combine collapses every partition to ≤ k×dim partial sums
    * before the shuffle — the classic scalable k-means shape (shuffle volume
    * is partitions × k × dim, independent of corpus size). Between
    * iterations only the k×dim centroid matrix crosses to the driver
    * (control plane, like any distributed k-means). Deterministic given the
    * seed centroids up to FP summation order — convergence behavior is
    * pinned by ScalaTest on separated clusters; no cross-engine oracle (sum
    * order differs by engine).
    */
  def kmeans(corpus: DataFrame, k: Int, iters: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = corpus.select(col("id"), col("vec").cast("array<double>").as("vec"))
    var centroids = seedCentroids(c, k)
    for (_ <- 1 to iters) {
      val means = ivfAssign(c, centroids)
        .select(col("cluster"), posexplode(col("vec")).as(Seq("pos", "comp")))
        .groupBy("cluster", "pos").agg(avg(col("comp")).as("m"))
        .groupBy("cluster")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("cvec"))
        .select(col("cluster").as("cid"), col("cvec"))
        .collect().map(r => (r.getLong(0),
          r.getAs[scala.collection.Seq[Double]](1).toSeq)).toMap
      // empty clusters keep their previous centroid
      val prev = centroids.collect()
        .map(r => (r.getLong(0), r.getAs[scala.collection.Seq[Double]](1).toSeq))
      centroids = prev
        .map { case (cid, old) => (cid, means.getOrElse(cid, old)) }.toSeq
        .toDF("cid", "cvec")
    }
    centroids
  }

  /** Nearest-centroid assignment for QUANTIZED vectors by squared Euclidean
    * distance — pure integer arithmetic, so the choice is bit-identical in
    * any engine (ties → smallest cid). Centroids are driver-side control
    * plane (broadcast); this is the assignment step of [[kmeansQuantized]].
    */
  def assignQuantized(quantized: DataFrame,
                      cents: Seq[(Long, Seq[Long])]): DataFrame = {
    // Empty centroid set → empty assignment with the same schema (matches
    // ivfAssign's convention instead of throwing).
    if (cents.isEmpty)
      return quantized.select(col("id"), col("iv"), lit(0L).as("cluster")).limit(0)
    // Centroids are control plane (k×dim longs): inline them as ONE literal
    // matrix inside the native `graft_argmin_sq` kernel
    // ([[graft.functions.ArgminSqDist]]) — per-row argmin runs map-side with
    // NO exchange. The previous crossJoin + interpreted zip_with/aggregate
    // distance + per-id row_number window shuffled corpus×k rows and sorted
    // them, once per Lloyd's iteration. Ascending cid order gives the
    // kernel's earliest-wins tie rule the "smallest centroid id" semantics
    // the oracle replays.
    val sorted = cents.sortBy(_._1)
    val cluster = call_function("graft_argmin_sq",
      col("iv"),
      typedLit(sorted.map(_._2)),
      typedLit(sorted.map(_._1)))
    quantized.select(col("id"), col("iv"), cluster.as("cluster"))
  }

  /** Engine-exact Lloyd's k-means over int8-quantized vectors: integer
    * squared-Euclidean assignment + component-wise floor-div mean update,
    * seeded by the `k` lowest-id vectors. Every arithmetic step is exact
    * integer (or an exactly-representable small-int double), so — unlike
    * the production [[kmeans]] (FP summation order is engine-specific) —
    * the full training run replays bit-identically in SQL and sits under
    * the cross-engine hash check. Returns (final centroids, final
    * assignment).
    *
    * Same distributed shape as [[kmeans]]: assignment is a broadcast join,
    * the update is a (cluster, pos) hash-agg with map-side combine, and
    * only k×dim integers cross to the driver per iteration.
    */
  def kmeansQuantized(corpus: DataFrame, k: Int,
                      iters: Int): (Seq[(Long, Seq[Long])], DataFrame) = {
    val q = corpus.select(col("id"),
      quantizeInt(col("vec").cast("array<double>")).as("iv"))
    var cents: Seq[(Long, Seq[Long])] = q.orderBy("id").limit(k)
      .collect()
      .map(r => (r.getLong(0), r.getAs[scala.collection.Seq[Long]](1).toSeq))
      .toSeq
    for (_ <- 1 to iters) {
      val means = assignQuantized(q, cents)
        .select(col("cluster"), posexplode(col("iv")).as(Seq("pos", "comp")))
        .groupBy("cluster", "pos")
        // floor of the exact rational mean: sums are « 2^53, so the double
        // division is exact and floor() agrees across engines (including
        // negative sums, where integer `div` truncation would diverge)
        .agg(floor(sum(col("comp")).cast("double") / count(lit(1)))
          .cast("long").as("m"))
        .groupBy("cluster")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("civ"))
        .collect()
        .map(r => (r.getLong(0), r.getAs[scala.collection.Seq[Long]](1).toSeq))
        .toMap
      // empty clusters keep their previous centroid
      cents = cents.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
    }
    (cents, assignQuantized(q, cents))
  }

  /** IVF approximate top-k: queries probe only their `nprobe` nearest
    * clusters; candidates come from an equi-join on the cluster id — the
    * classic recall/fan-in dial. Plan: tiny centroid table broadcast twice
    * (assignment + probe), corpus assigned map-only, then a hash join on
    * cluster and the same two-stage top-k as the exact path.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
              k: Int, nprobe: Int): DataFrame = {
    val assigned = ivfAssign(corpus, centroids)
    val cent = broadcast(centroids
      .select(col("cid"), col("cvec").cast("array<double>").as("cvec"))
      .withColumn("cnrm", norm(col("cvec"))))
    val q = queries.select(col("qid"), col("qvec").cast("array<double>").as("qvec"))
      .withColumn("qnorm", norm(col("qvec")))
    val wProbe = Window.partitionBy(col("qid")).orderBy(desc("psim"), asc("cid"))
    val probes = q.crossJoin(cent)
      .withColumn("psim", cosineFromNorms(dot(col("qvec"), col("cvec")), col("qnorm"), col("cnrm")))
      .withColumn("prank", row_number().over(wProbe))
      .filter(col("prank") <= nprobe)
      .select(col("qid"), col("qvec"), col("qnorm"), col("cid").as("cluster"))
    val scored = broadcast(probes).join(assigned, "cluster")
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"),
        cosineFromNorms(dot(col("qvec"), col("vec")), col("qnorm"), col("nrm")).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(desc("sim"), asc("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id"), round(col("sim"), 6).as("sim"))
  }

  /** Int8-style embedding quantization: per-vector scale to [-levels,
    * levels] via floor(x·levels/max|x| + 0.5) — byte-exact across engines
    * (no round-half ambiguity), 4× memory cut vs fp32 at serving time.
    * Scoring quantized vectors is pure integer arithmetic, so quantized
    * top-k is EXACTLY reproducible in SQL (unlike fp dot products, whose
    * summation order is engine-specific).
    */
  def quantizeInt(vec: Column, levels: Int = 127): Column =
    // Native one-pass kernel ([[graft.functions.QuantizeVector]]). The
    // Column-HOF spelling (`transform(vec, v -> floor(v·levels/mx + 0.5))`
    // with `mx = array_max(transform(vec, abs))`) inlines the max-scan into
    // the element lambda — O(dim²) interpreted lambda evals per row, ~0.6 s
    // per materialization at sf0.1, paid once per job in iterative
    // quantized k-means. Same arithmetic, same oracle replay.
    call_function("graft_quant", vec, lit(levels))

  /** Exact integer dot product of two quantized vectors — the codegen'd
    * `graft_doti` kernel ([[graft.functions.LongDotProduct]]); the
    * `zip_with`+`aggregate` HOF equivalent interprets a lambda per element
    * and measured ~3× slower on the brute-force pair scan.
    *
    * Malformed-input convention (same as `graft_dot`, differs from the old
    * HOF formulation which returned NULL): mismatched lengths truncate to
    * the shorter vector, and null array slots read as 0 — a well-defined
    * score for ragged input rather than a null that silently drops the pair
    * from top-k. Pinned by SimilaritySpec ("quantized dot malformed-input
    * convention").
    */
  def dotQuantized(a: Column, b: Column): Column =
    call_function("graft_doti", a, b)

  /** Brute-force top-k under quantized scoring (broadcast queries, integer
    * dot) — the memory-bound serving path. Same EXACT two-stage rank as
    * `bruteForceTopK`: per-partition top-k first, so no reducer ever holds
    * a query's corpus-sized score list.
    */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(col("id"),
      quantizeInt(col("vec").cast("array<double>")).as("iv"))
    val q = broadcast(queries.select(col("qid"),
      quantizeInt(col("qvec").cast("array<double>")).as("qiv")))
    val scored = c.crossJoin(q)
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"), dotQuantized(col("qiv"), col("iv")).as("score"),
        spark_partition_id().as("part"))
    val wLocal = Window.partitionBy(col("qid"), col("part")).orderBy(desc("score"), asc("id"))
    val local = scored.withColumn("lrank", row_number().over(wLocal))
      .filter(col("lrank") <= k)
    val w = Window.partitionBy(col("qid")).orderBy(desc("score"), asc("id"))
    local.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id"), col("score"))
  }

  /** Product-quantization codes + reconstructions over int8-quantized
    * vectors: the dim is split into `m` subspaces; each subspace has a
    * codebook of `k` codewords (the sub-slices of the `k` lowest-id
    * vectors — the deterministic seeding `seedCentroids` uses; a real
    * deployment k-means-trains each sub-codebook, the plumbing is
    * identical). A vector's code is its per-subspace nearest codeword by
    * integer squared distance — `m` bytes instead of `dim` floats, the
    * classic memory-compressed ANN serving layout (Jégou et al. 2011).
    *
    * Encoding is `m` `graft_argmin_sq` kernel calls on array slices —
    * map-only, zero exchange, codebooks ride the plan as reference
    * objects. The reconstruction (codeword concatenation) is emitted
    * alongside the codes so asymmetric-distance scoring can run as ONE
    * integer array op downstream (‖q − recon(x)‖² ≡ the per-subspace ADC
    * LUT sum — same integers, so the DuckDB oracle replays it exactly).
    *
    * @return (id, code array<long> of m entries, recon array<long> of dim)
    */
  def pqEncode(corpus: DataFrame, m: Int, k: Int): DataFrame = {
    val qz = corpus.select(col("id"),
      quantizeInt(col("vec").cast("array<double>")).as("iv"))
    val seeds: Array[Array[Long]] = qz.orderBy("id").limit(k).collect()
      .map(_.getAs[scala.collection.Seq[Long]]("iv").toArray)
    require(seeds.length >= k,
      s"pqEncode: corpus has ${seeds.length} rows, need at least k=$k seed vectors")
    val dim = seeds(0).length
    require(dim % m == 0, s"pqEncode: dim $dim not divisible by m=$m")
    val sub = dim / m
    // codebook: cb(s)(c) = codeword c of subspace s (sub longs)
    val cb: Array[Array[Array[Long]]] =
      Array.tabulate(m, k)((s, c) => seeds(c).slice(s * sub, (s + 1) * sub))
    val cidx = (0L until k.toLong).toSeq
    val codeCols = (0 until m).map { s =>
      call_function("graft_argmin_sq",
        slice(col("iv"), s * sub + 1, sub),
        typedLit(cb(s).map(_.toSeq).toSeq),
        typedLit(cidx)).cast("int")
    }
    val withCodes = qz.withColumn("code", array(codeCols: _*))
    val recon = concat((0 until m).map { s =>
      element_at(typedLit(cb(s).map(_.toSeq).toSeq),
        element_at(col("code"), s + 1) + 1)
    }: _*)
    withCodes.select(col("id"), col("iv"), col("code"), recon.as("recon"))
  }

  /** PQ approximate top-k: queries score every corpus row against its
    * reconstruction — one codegen'd integer kernel per pair via the
    * expansion ‖q−r‖² = q·q − 2·q·r + r·r (exact in integers, so identical
    * to the ADC LUT sum), with both self-dots precomputed map-side. Same
    * broadcast + exact two-stage rank as every other top-k here. Ranking is
    * by ascending approximate distance (ties → smallest id).
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, topK: Int,
             m: Int = 8, k: Int = 16): DataFrame = {
    val enc = pqEncode(corpus, m, k)
      .withColumn("rr", dotQuantized(col("recon"), col("recon")))
    val q = broadcast(queries.select(col("qid"),
      quantizeInt(col("qvec").cast("array<double>")).as("qiv"))
      .withColumn("qq", dotQuantized(col("qiv"), col("qiv"))))
    val scored = enc.crossJoin(q)
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"),
        (col("qq") - lit(2L) * dotQuantized(col("qiv"), col("recon")) + col("rr"))
          .as("adist"),
        spark_partition_id().as("part"))
    val wLocal = Window.partitionBy(col("qid"), col("part")).orderBy(asc("adist"), asc("id"))
    val local = scored.withColumn("lrank", row_number().over(wLocal))
      .filter(col("lrank") <= topK)
    val w = Window.partitionBy(col("qid")).orderBy(asc("adist"), asc("id"))
    local.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("qid"), col("rank"), col("id"), col("adist"))
  }

  /** Recall@k of an approximate top-k result against the exact one: the
    * fraction of each query's true top-k the approximation recovered, then
    * averaged over queries — the standard ANN quality dial (tune nprobe /
    * numPlanes until recall clears the target). One tiny join on
    * (qid, id): both inputs are k rows per query.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    val a = approx.select(col("qid"), col("id")).withColumn("__hit", lit(1))
    exact.select(col("qid"), col("id"))
      .join(a, Seq("qid", "id"), "left")
      .groupBy("qid")
      .agg((sum(coalesce(col("__hit"), lit(0))).cast("double") / count(lit(1)))
        .as("recall"))
      .agg(avg(col("recall")).as("mean_recall"), count(lit(1)).as("n_queries"))
  }

  /** Minimum mean LSH-bucket occupancy (corpus rows / 2^numPlanes) for the
    * identical-vector collapse to repay its fixed cost. The collapse
    * machinery is ~5 corpus-sized shuffle stages (full-vector group-by,
    * membership join, two expansion joins, same-group self-join) bought
    * against the bucket self-join's quadratic-in-occupancy candidate work
    * — which for the LSH chain is only a short dot product per candidate,
    * so at LOW occupancy the per-doc join is cheaper even on a heavily
    * duplicated corpus. Measured crossover on the ×10/×30 rehearsal
    * corpora (64-dim, 16 buckets, 90-97 % verbatim duplicates): occupancy
    * 1,250 → per-doc 0.8-1.7 s vs collapsed 2.2-3.0 s; occupancy 3,750 →
    * per-doc 3.6-5.4 s vs collapsed ~2.3 s. 2,000 sits between them. The
    * decision stays a pure function of the data (probed row count) and the
    * operator's own parameters — no planner estimates, no bimodality —
    * and both paths are row-identical, so the cutoff is advisory, never a
    * correctness term. At 100 TB occupancy dwarfs any cutoff and the
    * collapse always engages; minhash/semanticDedup keep the pure
    * duplication gate because their per-document chain work (shingling +
    * signatures, per-doc k-means assignment) is orders of magnitude
    * heavier than one dot product, so collapse pays at any scale there.
    */
  private[graft] val collapseOccupancyCutoff = 2000L

  /** Embedding near-duplicate pairs: cosine >= threshold. Scale variant is
    * the LSH self-join (both sides bucketed — an equi-join, not a cross
    * join); within-bucket pairs get exact cosine.
    *
    * CACHE LIFETIME: on the collapsed path this persists a
    * corpus-proportional membership table that the result reads;
    * long-lived drivers wrap the call in [[Materialize.tracked]] and
    * unpersist it once the result is materialized.
    *
    * `collapse = None` runs the `Dedup.duplicationStats` probe — ONE
    * EAGER JOB at construction time; an explicit Some(_) picks the path
    * with zero jobs (spec-pinned), for callers composing lazy plans. The
    * default collapses only when duplication is material AND mean bucket
    * occupancy clears [[collapseOccupancyCutoff]] (r16: below it the
    * per-doc bucket join is cheaper even on a duplicated corpus — see the
    * cutoff's scaladoc for the measured crossover).
    */
  def embeddingNearDuplicates(corpus: DataFrame, threshold: Double,
                              numPlanes: Int, dim: Int,
                              collapse: Option[Boolean] = None): DataFrame = {
    val c = corpus.select(col("id"), col("vec").cast("array<double>").as("vec"))
      .withColumn("bucket", lshBucket(col("vec"), numPlanes, dim))
      .withColumn("nrm", norm(col("vec")))
    val doCollapse = collapse.getOrElse {
      val st = Dedup.duplicationStats(corpus, col("vec"))
      st.material &&
        st.rows / (1L << math.min(numPlanes, 62)) >= collapseOccupancyCutoff
    }
    if (doCollapse) embedPairsCollapsed(c, threshold)
    else embedPairsPerDoc(c, threshold)
  }

  /** The direct bucket self-join — optimal for all-distinct corpora. */
  private[graft] def embedPairsPerDoc(c: DataFrame,
                                      threshold: Double): DataFrame = {
    val a = c.select(col("bucket"), col("id").as("id_a"), col("vec").as("vec_a"), col("nrm").as("nrm_a"))
    val b = c.select(col("bucket"), col("id").as("id_b"), col("vec").as("vec_b"), col("nrm").as("nrm_b"))
    // both sides are the corpus carrying VECTOR ARRAYS (whose size estimate
    // runs low) — pinned shuffle-hash so the planner can never broadcast a
    // corpus-proportional HashedRelation of embeddings (the minhash/simhash
    // design rule; a billion-vector broadcast is impossible at full scale)
    a.join(b.hint("shuffle_hash"), "bucket")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosineFromNorms(dot(col("vec_a"), col("vec_b")), col("nrm_a"), col("nrm_b")).as("sim"))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
  }

  /** Identical-vector collapse of the bucket self-join — row-identical to
    * [[embedPairsPerDoc]]: identical vectors share the bucket, the norm
    * and every pairwise cosine, so rep-level pairs expand exactly
    * ([[Dedup.expandPairs]]).
    */
  private[graft] def embedPairsCollapsed(c: DataFrame,
                                         threshold: Double): DataFrame = {
    val (hashed, groups) = vecGroups(c)
    Dedup.expandPairs(embedCollapsedRep(hashed, groups, threshold), "sim")
  }

  /** One row per DISTINCT vector of `c` — `__h`, `rid`, `gsz`, `vec`,
    * `bucket`, `nrm` — content-addressed on [[vecKey]] (see
    * [[Dedup.contentGroups]]), plus `c` with its `__h` column.
    */
  private def vecGroups(c: DataFrame): (DataFrame, DataFrame) =
    Dedup.contentGroups(c, vecKey(col("vec")), first(col("vec")).as("vec"),
      min(col("bucket")).as("bucket"), min(col("nrm")).as("nrm"))

  /** The embedding builder of [[Dedup.CollapsedRep]] (score column `sim`)
    * over [[vecGroups]]' output; the caller decides whether `groups` is
    * persisted before membership is built from it.
    */
  private def embedCollapsedRep(hashed: DataFrame, groups: DataFrame,
                                threshold: Double): Dedup.CollapsedRep = {
    val membership = Dedup.contentMembership(hashed, groups)
    val ga = groups.select(col("bucket"), col("rid").as("id_a"),
      col("vec").as("vec_a"), col("nrm").as("nrm_a"))
    val gb = groups.select(col("bucket"), col("rid").as("id_b"),
      col("vec").as("vec_b"), col("nrm").as("nrm_b"))
    // rep-level near-dup edges: distinct-vector-sized, shuffle-hash pinned
    // for the same never-broadcast-embeddings rule as the per-doc join
    val repVerified = ga.join(gb.hint("shuffle_hash"), "bucket")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosineFromNorms(dot(col("vec_a"), col("vec_b")), col("nrm_a"), col("nrm_b")).as("sim"))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
    // Same-group sims come from the SAME cosine expression the per-doc
    // join applies to two copies: 1 for any non-zero vector, and 0 for the
    // zero vector ([[cosineFromNorms]] returns 0 on a zero denominator, so
    // a duplicated zero vector clears the threshold only when it is ≤ 0 —
    // exactly when the per-doc join emits its pairs).
    val selfJ = groups
      .select(col("rid"), col("gsz"),
        cosineFromNorms(dot(col("vec"), col("vec")), col("nrm"), col("nrm")).as("sim"))
      .filter(col("sim") >= threshold)
      .select(col("rid"), col("gsz"), round(col("sim"), 6).as("sim"))
    Dedup.CollapsedRep(membership, repVerified, selfJ)
  }

  /** Survivor-oriented embedding dedup: one row `(survivor, dropped_id)`
    * per NON-survivor member of each near-duplicate cluster (cosine ≥
    * `threshold` edges, transitively closed — the same cluster relation
    * [[embeddingNearDuplicates]] pairs induce), survivor = the cluster's
    * min id. This is the 100 TB dedup shape: m identical vectors cost
    * O(m) membership rows here, never the m²/2 pair expansion the
    * pair-audit API materializes — identical vectors are collapsed to one
    * representative BEFORE the bucket self-join, and within-group members
    * ride a per-doc membership join, so no within-group pair ever exists
    * in any plan. Anti-joining the corpus against `dropped_id` (or
    * semi-joining on `survivor` ∪ singletons) materializes the deduped
    * corpus.
    *
    * Row-equal to dropping non-min ids over the transitive closure of the
    * pair API's output (spec-pinned on a duplicated corpus): the labels
    * come from [[Dedup.repLabels]], the consumer the minhash label path
    * shares, and each label IS its cluster's survivor.
    *
    * The connected-components step inside is EAGER, so construction runs
    * jobs; the returned frame then reads only its checkpointed labels
    * plus the persisted membership.
    *
    * CACHE LIFETIME: persists the corpus-proportional membership table and
    * the distinct-vector groups table; long-lived drivers wrap the call in
    * [[Materialize.tracked]] and unpersist them once the result is
    * materialized.
    */
  def embeddingDedupIds(corpus: DataFrame, threshold: Double,
                        numPlanes: Int, dim: Int): DataFrame = {
    val c = corpus.select(col("id"), col("vec").cast("array<double>").as("vec"))
      .withColumn("bucket", lshBucket(col("vec"), numPlanes, dim))
      .withColumn("nrm", norm(col("vec")))
    // PERSISTED: three consumers read the groups (the rep self-join behind
    // the eager CC, the membership join, the self-dup branch) —
    // unpersisted, each re-runs the corpus-wide full-vector hash aggregate.
    val (hashed, groups) = vecGroups(c)
    val r = embedCollapsedRep(hashed, Materialize.persist(groups), threshold)
    Dedup.repLabels(r)
      .filter(col("id") =!= col("component"))
      .select(col("component").as("survivor"), col("id").as("dropped_id"))
  }

  /** Cross-set embedding near-dup — semantic DECONTAMINATION: every corpus
    * vector whose cosine against some eval-set vector clears `threshold`
    * (the Phi/FineWeb-style embedding sweep that catches paraphrased eval
    * leakage the n-gram check [[graft.ops.Dedup.contaminatedIds]] misses).
    * Same LSH-bucket equi-join scale shape as the self-join variant —
    * never corpus × evalSet; within-bucket pairs get exact cosine, and the
    * per-corpus-row aggregate keeps the best-matching eval id
    * (deterministic tie-break: higher sim, then lower eval id).
    *
    * The eval side is broadcast — benchmarks are thousands of rows, and
    * the bucket key has only 2^numPlanes distinct values, so an
    * estimate-driven fall to a shuffled join would funnel the whole
    * corpus through ≤2^numPlanes reducers (the same explicit-pin rule as
    * the n-gram decontamination path) — but the pin is SIZE-GATED (r18
    * verdict #3): a counted eval side whose estimated prepped bytes
    * (rows × (8·dim + 64)) exceed `evalBroadcastMaxBytes` takes a salted
    * shuffle-hash join instead — eval rows replicated ×16 salts, corpus
    * rows salted by id — so a caller passing a corpus-sized "eval" set
    * degrades to a 16·2^numPlanes-way parallel shuffle rather than
    * hitting Spark's broadcast hard limits with an executor OOM. (AQE may
    * still convert the salted join to broadcast at runtime — that flip is
    * safe because AQE sees the TRUE materialized size, not an estimate.)
    *
    * CACHE LIFETIME: the prepped eval projection is persisted so the
    * gate's count and the join share ONE eval-source scan (r19 verdict
    * #4), and the result reads it; long-lived drivers wrap the call in
    * [[Materialize.tracked]] and unpersist it once the result is
    * materialized.
    *
    * @return (id, eval_id, sim) — one row per CONTAMINATED corpus vector.
    */
  def crossNearDuplicates(corpus: DataFrame, evalSet: DataFrame,
                          threshold: Double, numPlanes: Int, dim: Int,
                          evalBroadcastMaxBytes: Long = 1L << 30): DataFrame = {
    def prep(df: DataFrame, side: String) =
      df.select(col("id").as(s"id_$side"),
        col("vec").cast("array<double>").as(s"vec_$side"))
        .withColumn("bucket", lshBucket(col(s"vec_$side"), numPlanes, dim))
        .withColumn(s"nrm_$side", norm(col(s"vec_$side")))
    // One cheap count gates the pin: the eval source is typically a
    // pruned parquet scan, and the count is what makes the broadcast
    // decision a measurement instead of a Catalyst estimate (the
    // broadcast-flip class this engine pins against). The count runs over
    // the PERSISTED prepped projection, so the source is scanned once and
    // the join below reads the cached blocks (r19 verdict #4: the gate
    // must not buy its measurement with a second eval-source scan).
    val evalPrepped = Materialize.persist(prep(evalSet, "b"))
    val evalRows = evalPrepped.count()
    val joined =
      if (evalRows * (8L * dim + 64L) <= evalBroadcastMaxBytes)
        prep(corpus, "a").join(broadcast(evalPrepped), "bucket")
      else {
        val salts = 16
        val a = prep(corpus, "a").withColumn("__salt",
          pmod(xxhash64(col("id_a")), lit(salts)).cast("int"))
        val b = evalPrepped.withColumn("__salt",
          explode(sequence(lit(0), lit(salts - 1))))
        a.join(b.hint("shuffle_hash"), Seq("bucket", "__salt")).drop("__salt")
      }
    joined
      .select(col("id_a"), col("id_b"),
        cosineFromNorms(dot(col("vec_a"), col("vec_b")),
          col("nrm_a"), col("nrm_b")).as("sim"))
      .filter(col("sim") >= threshold)
      // best eval match per corpus row: one aggregate, no window
      .groupBy(col("id_a").as("id"))
      .agg(max(struct(col("sim"), (-col("id_b")).as("neg"))).as("best"))
      .select(col("id"), (-col("best.neg")).cast("long").as("eval_id"),
        round(col("best.sim"), 6).as("sim"))
  }

  /** Exact (brute-force) near-duplicate pairs — the oracle-checkable variant;
    * O(n²) pairs but each pair is a single codegen'd loop, and the left side
    * is repartitioned so the quadratic work spreads across the cluster
    * instead of the input file count.
    */
  def bruteForceNearDuplicates(corpus: DataFrame, threshold: Double): DataFrame = {
    val base = corpus.select(col("id"), col("vec").cast("array<double>").as("vec"))
      .withColumn("nrm", norm(col("vec")))
    val a = base.select(col("id").as("id_a"), col("vec").as("vec_a"), col("nrm").as("nrm_a"))
      .repartition(col("id_a"))
    val b = base.select(col("id").as("id_b"), col("vec").as("vec_b"), col("nrm").as("nrm_b"))
    a.crossJoin(broadcast(b))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosineFromNorms(dot(col("vec_a"), col("vec_b")), col("nrm_a"), col("nrm_b")).as("sim"))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
  }

  /** SemDeDup-style semantic deduplication: cluster the corpus with the
    * engine-exact quantized k-means ([[kmeansQuantized]]), then within each
    * cluster drop every vector that is ≥ threshold-cosine-similar to a
    * lower-id vector — clusters act as the candidate buckets, so the pair
    * join is per-cluster, never corpus×corpus (the SemDeDup recipe: at
    * real scale pick k ≈ n/1000 so mean bucket size stays ~10³ and the
    * within-bucket quadratic term is bounded; cluster skew shows up as one
    * hot bucket and is fixed by raising k, not by salting — membership is
    * semantic).
    *
    * The similarity test is exact integer arithmetic end-to-end:
    * `cos(a,b) ≥ num/den` is evaluated as
    * `doti(a,b) > 0 ∧ doti(a,b)²·den² ≥ num²·doti(a,a)·doti(b,b)` over the
    * int8-quantized vectors (max |term| ~1e16 < 2⁶³), so survivors replay
    * bit-identically in any SQL engine — no FP cosine anywhere.
    *
    * @return surviving (`id`, `cluster`) rows, min-id representative kept
    *         per near-dup relation (non-transitive: b is dropped iff some
    *         kept-or-dropped a < b in b's cluster matches it).
    */
  def semanticDedup(corpus: DataFrame, k: Int, iters: Int,
                    simNum: Long = 9L, simDen: Long = 10L,
                    collapse: Option[Boolean] = None): DataFrame = {
    require(simDen > 0 && simNum >= 0, s"bad threshold $simNum/$simDen")
    // k-means ALWAYS runs per-doc: its 10%-slice training set and the
    // assignment are part of the operator's observable semantics (the
    // oracle replays them over the full corpus) — only the within-cluster
    // pair scan below is collapse-eligible. With `collapse = None` the
    // `Dedup.duplicationMaterial` probe adds ONE EAGER JOB at construction
    // time (k-means is eager here regardless); an explicit Some(_) skips it.
    val (_, asg) = kmeansQuantized(corpus, k, iters)
    val withNorm = asg.withColumn("nrm", dotQuantized(col("iv"), col("iv")))
    // The gate probes the INPUT vec column (probing asg would re-run the
    // whole k-means training); identical vecs quantize and assign
    // identically, so input duplication lower-bounds group duplication.
    val dupIds =
      if (collapse.getOrElse(Dedup.duplicationMaterial(corpus, col("vec"))))
        semanticDupIdsCollapsed(withNorm, simNum, simDen)
      else semanticDupIdsPerDoc(withNorm, simNum, simDen)
    withNorm.join(dupIds, Seq("id"), "left_anti")
      .select(col("id"), col("cluster"))
  }

  /** Dropped ids via the direct within-cluster pair scan: b dropped iff
    * some a < b in its cluster matches it (d > 0 and
    * d²·simDen² ≥ simNum²·na·nb).
    */
  private[graft] def semanticDupIdsPerDoc(withNorm: DataFrame, simNum: Long,
                                          simDen: Long): DataFrame = {
    val a = withNorm.select(col("cluster"), col("id").as("id_a"),
      col("iv").as("iv_a"), col("nrm").as("na"))
    val b = withNorm.select(col("cluster"), col("id").as("id_b"),
      col("iv").as("iv_b"), col("nrm").as("nb"))
    val d = dotQuantized(col("iv_a"), col("iv_b"))
    // corpus ⋈ corpus with quantized-vector arrays on both sides — same
    // shuffle-hash pin as embeddingNearDuplicates
    a.join(b.hint("shuffle_hash"), "cluster")
      .filter(col("id_a") < col("id_b"))
      .filter(d > 0 &&
        d * d * lit(simDen * simDen) >= lit(simNum * simNum) * col("na") * col("nb"))
      .select(col("id_b").as("id")).distinct()
  }

  /** Dropped ids via (cluster, iv)-group collapse — row-identical to the
    * per-doc scan, in group-pair work instead of doc-pair work. Members of
    * a group share iv, so every pairwise dot/norm is a group-level
    * constant, and "some a < b matches b" decomposes exactly:
    *
    *   - within B's own group: a match requires selfmatch(B) (the same
    *     d > 0 predicate on (iv, iv) — a zero vector never self-matches,
    *     exactly as 0/0 pairs never matched per-doc), and some member
    *     below b exists iff b > min(B);
    *   - from another group A: members of A below b exist iff
    *     min(A) < b, so the only statistic needed is
    *     minExt(B) = min over matching A of min(A).
    *
    *   dropped(b ∈ B) ⟺ (selfmatch(B) ∧ b > min(B)) ∨ (minExt(B) < b)
    */
  private[graft] def semanticDupIdsCollapsed(withNorm: DataFrame, simNum: Long,
                                             simDen: Long): DataFrame = {
    val groups = withNorm.groupBy(col("cluster"), col("iv"))
      .agg(min(col("id")).as("rid"), min(col("nrm")).as("nrm"))
    val ga = groups.select(col("cluster"), col("iv").as("iv_a"),
      col("rid").as("rid_a"), col("nrm").as("na"))
    val gb = groups.select(col("cluster"), col("iv").as("iv_b"),
      col("rid").as("rid_b"), col("nrm").as("nb"))
    val d = dotQuantized(col("iv_a"), col("iv_b"))
    // group pairs, BOTH directions (minExt needs matches on either side);
    // group tables are distinct-vector-proportional → pinned shuffle-hash
    val minExt = ga.join(gb.hint("shuffle_hash"), "cluster")
      .filter(col("rid_a") =!= col("rid_b"))
      .filter(d > 0 &&
        d * d * lit(simDen * simDen) >= lit(simNum * simNum) * col("na") * col("nb"))
      .groupBy(col("rid_b").as("rid"))
      .agg(min(col("rid_a")).as("min_ext"))
    val selfmatch = col("nrm") > 0 &&
      col("nrm") * col("nrm") * lit(simDen * simDen) >=
        lit(simNum * simNum) * col("nrm") * col("nrm")
    val m = withNorm
      .join(groups.select(col("cluster"), col("iv"), col("rid"),
          selfmatch.as("selfm"))
        .hint("shuffle_hash"), Seq("cluster", "iv"))
      .join(minExt.hint("shuffle_hash"), Seq("rid"), "left")
    m.filter((col("selfm") && col("id") > col("rid")) ||
        (col("min_ext").isNotNull && col("min_ext") < col("id")))
      .select(col("id"))
  }
}
