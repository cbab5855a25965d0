package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for large-scale training-data pipelines (extension
  * mandate, SURVEY §2.3). Designed scale-first:
  *
  *  - exact dedup is a single hash-aggregate (map-side partial combine does
  *    the heavy lifting; the shuffle carries one row per distinct key);
  *  - near-dup goes through MinHash+LSH banding so candidate generation is a
  *    *band-bucket equi-join*, never an O(n²) cross join — the only all-pairs
  *    work happens inside buckets, whose size LSH keeps small;
  *  - the hashes that decide an output (token hashes, signatures,
  *    fingerprints) are md5-based and engine-portable, so every stage is
  *    verifiable against a DuckDB oracle running the same logical SQL;
  *    keys that only route rows (LSH band keys, content-group keys) are
  *    as narrow as their job allows and never change which rows come out.
  */
object Dedup {

  /** Whitespace tokens of a text column. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** k-token shingles, space-joined. Documents shorter than k tokens yield
    * their single full-token shingle (slice is clamped), matching the usual
    * MinHash convention of never producing an empty set.
    */
  def shingles(text: Column, k: Int): Column = {
    val toks = tokens(text)
    when(size(toks) <= k, array(array_join(toks, " ")))
      .otherwise(transform(
        sequence(lit(1), size(toks) - lit(k - 1)),
        i => array_join(slice(toks, i, lit(k)), " ")))
  }

  /** Exact Jaccard of two DISTINCT arrays without materializing the union:
    * |A∪B| = |A|+|B|−|A∩B| (inclusion-exclusion, exact because both sides
    * are `array_distinct`-ed), so one `array_intersect` pass replaces
    * intersect + union — `array_union` was the single most expensive
    * kernel in every verify join (it hash-builds AND materializes the
    * merged array per pair, only to be size()-d and thrown away). The
    * intersect appears twice textually; whole-stage codegen's
    * subexpression elimination evaluates it once.
    *
    * The divisor is zero iff BOTH sides are empty — under ANSI mode
    * (Spark 4's default, this engine's sessions) that corner THROWS
    * `DIVIDE_BY_ZERO`, identically to the `size(array_union)` divisor it
    * replaces. No call site can reach it: every caller feeds
    * [[shingles]] output, which is never empty by construction (short
    * texts clamp to one full-token shingle — the property suite pins
    * both facts). Callers with arbitrary arrays must guarantee one
    * non-empty side.
    */
  private[graft] def jaccardDistinct(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - inter)
  }

  /** Sorted DISTINCT 64-bit shingle-hash set — the verify-join proxy for
    * `array_distinct(shingles(text, k))` (r21; exactness argument in
    * [[graft.functions.ShingleHashImpl]]'s scaladoc): intersection/union
    * counts — all Jaccard reads — are identical to the string sets', while
    * the exchange ships 8-byte longs instead of ~40-byte shingle strings
    * and no shingle string is ever materialized. Requires
    * [[graft.GraftExtensions]] on the session.
    */
  private[graft] def shingleHashSet(text: Column, k: Int): Column =
    call_function("graft_shingle_hashes", tokens(text), lit(k))

  /** Exact Jaccard over two [[shingleHashSet]] arrays: |A∩B| by sorted
    * merge (`graft_inter_size` — zero per-pair allocation, primitive
    * comparisons), |A∪B| by inclusion-exclusion as in [[jaccardDistinct]].
    * Divisor-zero corner matches [[jaccardDistinct]]: unreachable from
    * shingle sets (never empty by construction).
    */
  private[graft] def jaccardSorted(a: Column, b: Column): Column = {
    val inter = call_function("graft_inter_size", a, b).cast("double")
    inter / (size(a) + size(b) - inter)
  }

  /** MinHash signature as array<long> via the fused native kernel
    * [[graft.functions.MinHashSignature]] (`graft_minhash`): tokens →
    * k-shingle hashes → H permutation minima in one codegen'd loop per row —
    * no intermediate shingle strings, no per-shingle crypto hash. Map-only,
    * no shuffle, fuses into the scan. Requires [[graft.GraftExtensions]] on
    * the session.
    */
  def minhashSignature(text: Column, numHashes: Int, shingleSize: Int): Column =
    call_function("graft_minhash", tokens(text), lit(shingleSize), lit(numHashes))

  /** LSH band keys: split the signature into `bands` bands of H/bands rows;
    * band key = `xxhash64(b, band slice)`, a 64-bit long computed inside
    * the projection that already builds the signature. A null signature
    * (null text) gets null keys, which never join: `xxhash64` skips null
    * inputs, so unguarded it would put every null-text doc in one bucket
    * per band.
    *
    * Why candidates stay exact: equal band slices always give equal keys,
    * so no pair that agrees on a band is lost. A 64-bit collision between
    * different slices can only ADD a candidate, and verify computes exact
    * Jaccard on every candidate, so it drops the pair unless the pair is
    * a genuine near-duplicate at the threshold. Expected collisions are
    * (bucket rows per band)² / 2^65: ~3e-8 per band at 10^6 docs, ~0.03
    * at 10^9.
    */
  def lshBands(signature: Column, numHashes: Int, bands: Int): Column = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    array((0 until bands).map { b =>
      when(signature.isNotNull,
        xxhash64(lit(b), slice(signature, b * rows + 1, rows)))
    }: _*)
  }

  /** The (id, band, bkey) LSH bucket table for a corpus — the shared prefix
    * of every LSH consumer; `bkey` is the bigint key of [[lshBands]].
    * Computed in one pass (signature fold → band keys → posexplode).
    */
  def lshBuckets(df: DataFrame, idCol: String, textCol: String,
                 numHashes: Int, bands: Int, shingleSize: Int): DataFrame = {
    val sig = minhashSignature(col(textCol), numHashes, shingleSize)
    df.select(col(idCol).as("id"), lshBands(sig, numHashes, bands).as("bands"))
      .select(col("id"), posexplode(col("bands")).as(Seq("band", "bkey")))
  }

  /** Candidate near-duplicate pairs via MinHash LSH.
    * Plan shape: map (signature) → explode bands → *self equi-join* on the
    * (band, bucket-key) pair with `id_a < id_b` → pair dedup on an `id_a`
    * exchange. The bucket shuffle key is the (int band, 64-bit band key)
    * pair (uniform space — no planned skew), and a degenerate bucket (e.g.
    * millions of empty/boilerplate docs sharing a signature) is one bucket
    * of the hash join — never an unbounded `collect_set` array on one
    * executor.
    *
    * The bucket table is persisted through [[Materialize.persist]] already
    * hash-partitioned on (band, bucket key): it is shuffled once, inside
    * the cache fill, and neither join side has an exchange. Its lifetime
    * is the caller's scope (see [[Materialize.tracked]]). The trade-off:
    * with no exchange at the join, AQE cannot split a skewed bucket there.
    * That split only fires once one input partition reaches
    * `skewedPartitionThresholdInBytes` (256 MB by default), about 4–5 M
    * bucket rows; one bucket that size proposes ~10^13 candidate pairs, so
    * the split never rescued a run that could otherwise finish.
    *
    * The pairs come out hash-partitioned on `id_a`, so a consumer that
    * joins them on `id_a` against a table partitioned the same way (the
    * verify join in [[minhashPerDoc]]) adds no exchange.
    */
  def minhashCandidatePairs(df: DataFrame, idCol: String, textCol: String,
                            numHashes: Int = 16, bands: Int = 4,
                            shingleSize: Int = 5): DataFrame = {
    val sig = minhashSignature(col(textCol), numHashes, shingleSize)
    bandCandidatePairs(df.select(col(idCol).as("id"),
      lshBands(sig, numHashes, bands).as("__bands")))
  }

  /** The bucket self-join of [[minhashCandidatePairs]] over (`id`,
    * `__bands`) rows, `__bands` holding each doc's band keys in band order:
    * (`id_a`, `id_b`) for every pair that agrees on some band, each pair
    * once, hash-partitioned on `id_a`. Generic in the key type.
    *
    * A pair that agrees on k bands meets in k buckets, so the join emits
    * it k times and an aggregate keeps one. That aggregate runs on an
    * `id_a` exchange, which also serves the consumer's `id_a` join. The
    * alternative is a first-agreeing-band filter after the join, which
    * needs each bucket row to carry the keys of its earlier bands. The
    * break-even: each extra agreeing band costs one (long, long) pair row
    * through the `id_a` exchange, while the filter costs about
    * (bands − 1)/2 longs plus an array header on EVERY bucket row — about
    * the same bytes as one pair row. So this shape ships less while the
    * join emits fewer surplus pair rows (raw minus distinct) than there
    * are bucket rows, and nearly all bucket rows are singletons that
    * never pair. Measured at 16 hashes in 4 bands: a mostly distinct
    * corpus of 4,900 docs has 19,600 bucket rows and 3,092 surplus rows;
    * 40 clusters of 50 docs that differ in one token have 8,000 bucket
    * rows and 93,753 surplus rows, and ship about 19 % more.
    */
  private[graft] def bandCandidatePairs(keyed: DataFrame): DataFrame = {
    // The bucket table feeds BOTH sides of the self-join. It is persisted
    // already hash-partitioned on the join key: the one shuffle runs inside
    // the cache fill, and both join sides read co-partitioned blocks with
    // no exchange (persisted plainly, each side would get its own exchange,
    // and the two never merge: the rule on [[Materialize]]). It is the
    // small derived table of the pipeline — bands rows of (long, int, long
    // key) per doc, orders of magnitude under the corpus.
    val banded = Materialize.persist(keyed
      .select(col("id"), posexplode(col("__bands")).as(Seq("band", "bkey")))
      .repartition(col("band"), col("bkey")))
    // Pin the self-join to shuffle-hash: both sides are the SAME
    // corpus-proportional table, so a broadcast is never right at scale,
    // and letting the planner flip to one on borderline size estimates
    // made the whole minhash family bimodal across clean runs (see the
    // verify-join note in minhashPerDoc). Null keys (null-text docs) match
    // nothing in the join.
    //
    // Pair dedup: hash(id_a) already clusters the (id_a, id_b) aggregate,
    // so `distinct` plans no exchange of its own, and the pairs leave
    // partitioned on id_a — the key of the first verify join, whose pairs
    // side then needs no exchange either.
    banded.select(col("band"), col("bkey"), col("id").as("id_a"))
      .join(banded.select(col("band"), col("bkey"), col("id").as("id_b"))
        .hint("shuffle_hash"), Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .repartition(col("id_a"))
      .distinct()
  }

  /** Candidate pairs + exact shingle-set Jaccard, filtered at `threshold`.
    *
    * The expensive shingle-set arrays are materialized ONLY for documents
    * that appear in some candidate pair (semi-join first): at corpus scale
    * candidates are a sliver of the table, and computing + shuffling
    * shingle sets for every document — the naive plan — moves orders of
    * magnitude more data than the candidates need.
    *
    * CACHE LIFETIME: the persisted intermediates stay cached after this
    * returns; long-lived drivers wrap the call in [[Materialize.tracked]]
    * and unpersist them once the pairs are materialized.
    *
    * EXACT-DUPLICATE COLLAPSE, data-gated (r14): production corpora are
    * heavily exact-duplicated (30-50 % of a web crawl), and every verbatim
    * copy used to pay the full signature + banding + verify cost — the ×10
    * ScaleUp rehearsal spent ~100× more bucket/verify work than its
    * distinct texts required. When duplication is material the chain runs
    * over one representative per distinct text ([[minhashCollapsed]]);
    * when the corpus is (nearly) all-distinct the collapse machinery —
    * two full-text shuffles plus expansion joins — is pure overhead
    * (measured ~2× on the zero-dup sf0.1 corpus), so a cheap exact
    * distinct-count pass picks the path. The gate is a deterministic
    * property of the DATA (exact counts, fixed 10 % threshold), not a
    * planner estimate — same data always takes the same path, so there is
    * no run-to-run bimodality to launder (the r12 lesson). Both paths
    * produce row-identical output (spec-pinned).
    *
    * `collapse = None` runs the [[duplicationMaterial]] probe — ONE EAGER
    * JOB at construction time; an explicit Some(_) picks the path with
    * zero jobs (spec-pinned), for callers composing lazy plans.
    */
  def minhashNearDuplicates(df: DataFrame, idCol: String, textCol: String,
                            threshold: Double, numHashes: Int = 16,
                            bands: Int = 4, shingleSize: Int = 5,
                            collapse: Option[Boolean] = None): DataFrame = {
    val keyed = df.select(col(idCol).as("id"), col(textCol).as("__text"))
    if (collapse.getOrElse(duplicationMaterial(keyed, col("__text"))))
      minhashCollapsed(keyed, threshold, numHashes, bands, shingleSize)
    else
      minhashPerDoc(keyed, threshold, numHashes, bands, shingleSize)
  }

  /** [[minhashNearDuplicates]] through [[Materialize.tracked]]: the pairs
    * plus the frames persisted to build them. Kept for existing callers;
    * new code calls `Materialize.tracked` directly.
    */
  def minhashNearDuplicatesH(df: DataFrame, idCol: String, textCol: String,
                             threshold: Double, numHashes: Int,
                             bands: Int, shingleSize: Int,
                             collapse: Option[Boolean] = None): (DataFrame, Seq[DataFrame]) =
    Materialize.tracked(minhashNearDuplicates(df, idCol, textCol, threshold,
      numHashes, bands, shingleSize, collapse))

  /** Memoized result of the duplication probe: corpus row count plus the
    * >~10 %-duplicated verdict. `rows` is carried so per-operator gates can
    * fold a SIZE term into the decision (the embedding LSH gate's bucket-
    * occupancy cutoff) without a second probe job.
    */
  private[graft] final case class DupStats(rows: Long, material: Boolean)

  /** Collapse-gate memo: (input-plan semantic hash, optimizer size
    * estimate) → "duplication is material". The size estimate — free, no
    * job — comes from the file listing for scan-rooted plans, so
    * re-reading a path whose files changed usually misses the memo instead
    * of reusing a stale verdict. Entries are advisory (every gated
    * operator's two paths produce identical rows), so eviction, collision,
    * or a same-size stale hit is a perf detail, never a correctness one.
    * Access-ordered LRU: the OLDEST entry is evicted past 256, not the
    * whole memo.
    */
  private val gateCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(Int, BigInt), DupStats](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(Int, BigInt), DupStats]): Boolean =
        size() > 256
    })

  /** Per-key in-flight probes: concurrent callers of the SAME plan share
    * one probe job without serializing probes of UNRELATED corpora behind
    * the memo map's single mutex (computeIfAbsent on the synchronized LRU
    * would hold the map-global lock for the whole Spark job — head-of-line
    * blocking for every other gated operator on a multi-tenant driver).
    */
  private val gateInFlight =
    new java.util.concurrent.ConcurrentHashMap[(Int, BigInt),
      java.util.concurrent.CompletableFuture[DupStats]]

  /** Probe/test hook: drop every memoized gate verdict (so a probe can
    * time the eager construction job instead of a memo hit). */
  private[graft] def gateCacheClear(): Unit = gateCache.clear()

  /** Deterministic duplication probe shared by the collapse-capable
    * operators (minhash text collapse, [[Similarity.semanticDedup]]'s
    * vector collapse): true when `key` is >~10 % duplicated in `df`.
    *
    * EAGER: runs one Spark job over the input at operator-CONSTRUCTION
    * time when the caller leaves `collapse = None` — callers composing
    * lazy plans who don't want that job pass an explicit override and no
    * job runs. One corpus scan, aggregate-only: the distinct estimate is
    * HLL over a deterministic 1-in-8 KEY-HASH sample (`xxhash64(key) % 8`
    * — a pure function of the data, so the same corpus always takes the
    * same path regardless of partitioning; the r12 anti-bimodality rule).
    * Key-sampling keeps every copy of a sampled key, so sampled
    * distinct/total estimates the corpus duplication ratio directly. A
    * full-population HLL rides the SAME aggregate as one extra column
    * (merge-only — the probe is one job on every corpus size); it decides
    * the verdict when the sample is too small for a stable ratio
    * (< 4096 rows sampled, i.e. < ~32k-row corpora). An
    * exact countDistinct would shuffle every distinct key and eat the win
    * it gates; HLL is merge-only and deterministic (hash-based, no
    * randomness). The verdict is memoized (see [[gateCache]]) so repeated
    * runs of the same query (bench triples, retry loops, a user
    * iterating) pay the probe once.
    */
  private[graft] def duplicationMaterial(df: DataFrame, key: Column): Boolean =
    duplicationStats(df, key).material

  /** [[duplicationMaterial]] plus the probed row count — same single job,
    * same memo entry. */
  private[graft] def duplicationStats(df: DataFrame, key: Column): DupStats = {
    val probed = df.select(key.as("__k"))
    val memoKey = (probed.queryExecution.analyzed.semanticHash(),
      probed.queryExecution.optimizedPlan.stats.sizeInBytes)
    val hit = gateCache.get(memoKey)
    if (hit != null) return hit
    // Per-KEY dedup with the probe OUTSIDE any map-wide lock (see
    // [[gateInFlight]]): same-plan racers join the one job's future;
    // different-plan probes run concurrently. Both gate outcomes are
    // row-identical, so a waiter losing a few hundred ms still beats a
    // duplicate corpus scan.
    val fresh = new java.util.concurrent.CompletableFuture[DupStats]
    val prior = gateInFlight.putIfAbsent(memoKey, fresh)
    if (prior != null) {
      // Re-throw the winner's ORIGINAL exception type, not the
      // CompletionException join() wraps it in — callers match on Spark
      // exception classes.
      try return prior.join()
      catch {
        case e: java.util.concurrent.CompletionException
            if e.getCause != null => throw e.getCause
      }
    }
    try {
      // Won the in-flight slot — but a racer that read the memo before the
      // previous winner's put and reached putIfAbsent only after its
      // finally-remove would re-run the probe job; one memo re-check here
      // closes that window.
      val replay = gateCache.get(memoKey)
      if (replay != null) { fresh.complete(replay); return replay }
      val inSample = pmod(xxhash64(col("__k")), lit(8L)) === 0L
      // ONE job, always: the full-population HLL rides the same aggregate
      // as a fourth column so the tiny-sample fallback never needs a
      // second pass. Its cost is one extra hash per key inside a scan the
      // sampling predicate already hashes every key for — marginal against
      // the scan itself at any size, and strictly cheaper than the second
      // full-input job it replaces wherever that fallback would fire.
      // Sampled estimate when the sample is stable, population HLL below
      // 4096 sampled rows (< ~32k-row corpora).
      val s = probed.agg(
        count(lit(1)).as("n"),
        count(when(inSample, lit(1))).as("ns"),
        approx_count_distinct(when(inSample, col("__k"))).as("ds"),
        approx_count_distinct(col("__k")).as("d")).head()
      val (n, ns, ds, d) = (s.getLong(0), s.getLong(1), s.getLong(2), s.getLong(3))
      val v = DupStats(n,
        if (ns >= 4096L) ds * 10L < ns * 9L else d * 10L < n * 9L)
      gateCache.put(memoKey, v)
      fresh.complete(v)
      v
    } catch {
      case e: Throwable => fresh.completeExceptionally(e); throw e
    } finally gateInFlight.remove(memoKey)
  }

  /** The per-document chain (no collapse) — optimal for all-distinct
    * corpora: signatures → banded candidates → pinned verify joins. The
    * collapsed chain runs this same verify block over its representatives
    * ([[minhashCollapsedRep]]).
    *
    * @param keyed rows with `id` and `__text` columns.
    * @param materializePairs run one job that fills the `pairs` cache
    *        BEFORE the verify plan is built. Set only by the eager label
    *        path ([[minhashLabels]]); the lazy pair API leaves it off so
    *        an explicit-collapse construction stays job-free (spec-pinned).
    */
  private[graft] def minhashPerDoc(keyed: DataFrame, threshold: Double,
                                   numHashes: Int, bands: Int,
                                   shingleSize: Int,
                                   materializePairs: Boolean = false): DataFrame = {
    // pairs feed two consumers (the id collection behind `sets` and the
    // first verify join), so they are persisted. They are cached already
    // partitioned on `id_a` (the pair dedup's exchange, see
    // [[bandCandidatePairs]]), and `sets` on `id` with the same partition
    // count, so the first verify join has no exchange. With `materializePairs`
    // the cache is filled here, before the verify plan exists, so the
    // planner sizes `candIds` from the real pair count: a small candidate
    // set broadcasts into the semi-join and no corpus text is shuffled,
    // while a corpus-scale one still exceeds the broadcast threshold and
    // shuffles. An unfilled cache reports the bucket self-join's far
    // larger estimate, so the semi-join exchanges every (id, text) row
    // before AQE switches it to a broadcast.
    val pairs = Materialize.persist(
      minhashCandidatePairs(keyed, "id", "__text", numHashes, bands, shingleSize))
    if (materializePairs) pairs.count()
    val candIds = pairs.select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    // Both verify joins read `sets`, so it is persisted already partitioned
    // on `id` (the rule on [[Materialize]]): candidates are shingled once,
    // and the sets are shuffled once, inside the cache fill.
    val sets = Materialize.persist(keyed
      .join(candIds, Seq("id"), "leftsemi") // filter BEFORE shingling
      .select(col("id"), shingleHashSet(col("__text"), shingleSize).as("sh"))
      .repartition(col("id")))
    // The sets side carries the shingle-hash ARRAYS — Catalyst's size
    // estimate for array columns runs low, so left to itself the planner
    // sometimes broadcasts a corpus-proportional HashedRelation of shingle
    // sets (measured at sf1 on the pre-r21 string arrays: the broadcast
    // plan ran ~2x slower than the shuffled one, and the flip-flop made
    // the row bimodal across clean runs). Pin the two verify joins to
    // shuffle-hash: both sides are corpus-proportional, so the shuffled
    // join is also the only plan that survives 100 TB.
    pairs
      .join(sets.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a")
        .hint("shuffle_hash"), "id_a")
      .join(sets.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b")
        .hint("shuffle_hash"), "id_b")
      .withColumn("jaccard", jaccardSorted(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), Nums.round6(col("jaccard")).as("jaccard"))
  }

  /** The rep-level material of a collapsed dedup chain: the one contract
    * between a family's builder ([[minhashCollapsedRep]] for text,
    * `Similarity.embedCollapsedRep` for vectors) and the two consumers
    * every family shares — [[expandPairs]] (the pair API) and
    * [[repLabels]] (the label API).
    *
    * @param membership (`rid`, `id`) — from [[contentMembership]], persisted.
    * @param repVerified verified near-dup edges BETWEEN distinct contents
    *        (`id_a`, `id_b`, score), rep ids only.
    * @param selfJ (`rid`, `gsz`, score) — groups whose same-content score
    *        clears the threshold (any group size; consumers gate on `gsz`
    *        as their semantics need).
    */
  private[graft] final case class CollapsedRep(
      membership: DataFrame, repVerified: DataFrame, selfJ: DataFrame)

  /** One row per DISTINCT content of `keyed` (`id`, …): `__h`, `rid` (the
    * group's min id — its representative), `gsz` (group size), then the
    * `carry` aggregates. Returns `keyed` plus its `__h` column alongside,
    * for [[contentMembership]].
    *
    * Content addressing: `key` is a fixed-width content hash, and rows
    * group and join on it, never on the content itself. Keyed by the
    * content, the membership join would shuffle the whole corpus with
    * multi-KB strings or arrays as the join key — at 100 TB a corpus-sized
    * content shuffle for what is logically an (id → group) lookup. With
    * the hash the membership join ships (key, id) rows only; the
    * sole content that still moves is ONE representative per distinct
    * content inside the aggregate (`first()` after map-side partial agg —
    * any member's content works because same-content rows are identical
    * by definition). Exactness: hash equality stands in for content
    * equality, so `key` must be collision-resistant against ADVERSARIAL
    * input, not just random input — the corpus is untrusted web-crawl
    * content, and md5 chosen-prefix collisions are practical (two crafted
    * documents would silently merge into one group and one would be
    * dropped as a dup). SHA-256 has no known collision; its 256-bit
    * random birthday bound at 10^10 docs is ~1e-58. (A 64-bit non-crypto
    * hash fails even the random bound at that scale.) Text keys are the
    * 32 raw digest bytes (`unhex(sha2(…))`), half the width of the hex
    * rendering; only the encoding differs, not the hash.
    */
  private[graft] def contentGroups(keyed: DataFrame, key: Column,
                                   carry: Column*): (DataFrame, DataFrame) = {
    val hashed = keyed.withColumn("__h", key)
    (hashed, hashed.groupBy("__h")
      .agg(min(col("id")).as("rid"), (count(lit(1)).as("gsz") +: carry): _*))
  }

  /** (`rid`, `id`) for every row of `hashed` — persisted through
    * [[Materialize.persist]]: the same-content self-join and both
    * expansion joins read it. Corpus-proportional, so every join on it is
    * pinned shuffle-hash.
    */
  private[graft] def contentMembership(hashed: DataFrame,
                                       groups: DataFrame): DataFrame =
    Materialize.persist(hashed.select(col("__h"), col("id"))
      .join(groups.select(col("__h"), col("rid")).hint("shuffle_hash"), "__h")
      .select(col("rid"), col("id")))

  private[graft] def minhashCollapsedRep(keyed: DataFrame, threshold: Double,
                                         numHashes: Int, bands: Int,
                                         shingleSize: Int,
                                         materializePairs: Boolean = false): CollapsedRep = {
    val (hashed, reps) = contentGroups(keyed, unhex(sha2(col("__text"), 256)),
      first(col("__text")).as("__text"))
    val membership = contentMembership(hashed, reps)
    // verified edges between distinct texts: the per-document chain, run
    // over one representative per content
    val repVerified = minhashPerDoc(reps.select(col("rid").as("id"), col("__text")),
      threshold, numHashes, bands, shingleSize, materializePairs)
    // Same-text jaccard: identical sets, so n/n = 1.0 ALWAYS — shingle
    // sets are never empty ([[shingles]] clamps short texts to one
    // full-token shingle; property-suite-pinned), so the old
    // size(sh)/size(sh) form was the constant 1.0 computed the expensive
    // way: it shingled EVERY rep text just to divide a size by itself
    // (r21 — dead work removed; the filter keeps the threshold semantics
    // for a hypothetical threshold > 1.0 caller).
    val selfJ = reps
      .withColumn("jaccard", lit(1.0))
      .filter(col("jaccard") >= threshold)
      .select(col("rid"), col("gsz"), Nums.round6(col("jaccard")).as("jaccard"))
    CollapsedRep(membership, repVerified, selfJ)
  }

  /** Rep pairs → member pairs: the pair API's output from a
    * [[CollapsedRep]], with `score` (the third column of `repVerified` and
    * `selfJ`) riding along. Identical contents share every signature (band
    * keys, LSH bucket) and every score, so (a) every same-content pair is always a candidate and (b) a
    * cross-group doc pair is a candidate / match iff its rep pair is — the
    * expansion reproduces the per-doc output EXACTLY, row for row.
    */
  private[graft] def expandPairs(r: CollapsedRep, score: String): DataFrame = {
    // rep pair → every member pair between the two (disjoint) groups; the
    // score is a group-level constant, so it rides the join
    val cross = r.repVerified
      .join(r.membership.select(col("rid").as("id_a"), col("id").as("__ma"))
        .hint("shuffle_hash"), "id_a")
      .join(r.membership.select(col("rid").as("id_b"), col("id").as("__mb"))
        .hint("shuffle_hash"), "id_b")
      .select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"), col(score))
    val same = r.membership
      .join(r.selfJ.select(col("rid"), col(score)).hint("shuffle_hash"), "rid")
      .join(r.membership.select(col("rid"), col("id").as("id_b"))
        .hint("shuffle_hash"), "rid")
      .filter(col("id") < col("id_b"))
      .select(col("id").as("id_a"), col("id_b"), col(score))
    cross.union(same)
  }

  /** Rep-graph labels → member labels: `(id, component)` for every member
    * of a near-duplicate cluster, row-equal to connected components over
    * the expanded doc pairs but without ever building a within-group pair.
    * Components run over the distinct-content rep graph (EAGER — the CC
    * loop checkpoints), and labels expand through one membership join.
    *
    * Label identity: every rep is its own group's min member id, so a
    * rep-graph component's min-rep label IS the min doc id over all member
    * docs of the component — exactly the label the doc-level loop yields.
    * Vertex identity: members of a group with a cross-group edge all
    * appear in expanded pairs (labeled); a duplicated group (gsz ≥ 2)
    * whose same-content score clears the threshold is a cluster even with
    * no cross edge (its members pair with each other); singletons without
    * edges and threshold-failing groups are unlabeled in both shapes.
    */
  private[graft] def repLabels(r: CollapsedRep): DataFrame = {
    val comp = connectedComponents(r.repVerified.select("id_a", "id_b"),
        toFixpoint = true)
      .withColumnRenamed("id", "rid")
    val repLabel = comp.unionByName(
      r.selfJ.filter(col("gsz") >= 2).select(col("rid"))
        .join(comp.select("rid"), Seq("rid"), "left_anti")
        .select(col("rid"), col("rid").as("component")))
    r.membership
      .join(repLabel.hint("shuffle_hash"), "rid")
      .select(col("id"), col("component"))
  }

  /** The collapsed chain: one representative (min id) per DISTINCT text
    * runs the full pipeline; doc pairs expand back afterwards
    * ([[expandPairs]]).
    */
  private[graft] def minhashCollapsed(keyed: DataFrame, threshold: Double,
                                      numHashes: Int, bands: Int,
                                      shingleSize: Int): DataFrame =
    expandPairs(minhashCollapsedRep(keyed, threshold, numHashes, bands,
      shingleSize), "jaccard")

  /** Doc-level connected-component labels of the verified near-duplicate
    * graph — row-equal (spec-pinned) to
    * `connectedComponents(minhashNearDuplicates(...).select("id_a","id_b"))`
    * but WITHOUT ever materializing within-group pairs on the collapsed
    * path ([[repLabels]]). This is the 100 TB shape for every
    * cluster/survivor consumer ([[minhashClusters]],
    * [[dropNearDuplicates]], [[dropNearDuplicatesBy]]): m verbatim copies
    * cost O(m) membership rows here, never the m²/2 pair expansion the
    * pair-audit API emits — the same consumer
    * [[graft.ops.Similarity.embeddingDedupIds]] runs.
    *
    * The returned labels are localCheckpoint-materialized (the CC loop
    * inside is already eager), so callers run this under
    * [[Materialize.scoped]]: the labels read executor blocks only. Being eager
    * anyway, this path also fills the candidate-pair cache before the
    * verify plan is built (`materializePairs`, see [[minhashPerDoc]]), so
    * a small candidate set never shuffles the corpus text.
    */
  private[graft] def minhashLabels(df: DataFrame, idCol: String,
                                   textCol: String, threshold: Double,
                                   numHashes: Int, bands: Int,
                                   shingleSize: Int,
                                   collapse: Option[Boolean]): DataFrame = {
    val keyed = df.select(col(idCol).as("id"), col(textCol).as("__text"))
    if (collapse.getOrElse(duplicationMaterial(keyed, col("__text")))) {
      repLabels(minhashCollapsedRep(keyed, threshold, numHashes, bands,
          shingleSize, materializePairs = true))
        .localCheckpoint() // pin label rows before the caches release
    } else {
      val verified = minhashPerDoc(keyed, threshold, numHashes,
        bands, shingleSize, materializePairs = true)
      connectedComponents(verified.select("id_a", "id_b"), toFixpoint = true)
    }
  }

  /** SimHash fingerprint as a long (native `graft_simhash` kernel — requires
    * [[graft.GraftExtensions]]). Per token, bit j votes +1 if the (j+1)-th
    * hex digit of md5(token) has its high bit set (8-f), else -1;
    * fingerprint bit = majority sign — the exact definition the DuckDB
    * oracle replays over the same md5. `bits` <= 32 (md5 has 32 hex digits).
    */
  def simhashLong(text: Column, bits: Int = 16): Column =
    call_function("graft_simhash", tokens(text), lit(bits))

  /** SimHash as the oracle's `bits`-char '0'/'1' string (bit j of the string
    * = md5 hex digit j's vote — same rendering `lpad(bin(long))` gives).
    */
  def simhash(text: Column, bits: Int = 16): Column =
    lpad(bin(simhashLong(text, bits)), bits, "0")

  /** Hamming distance between two simhash longs: popcount of the xor. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs — EXACT under pigeonhole multi-blocking: the
    * fingerprint is cut into `maxDistance + 1` segments; two fingerprints
    * within Hamming distance `maxDistance` must agree on at least one whole
    * segment, so the union of per-segment equi-joins has perfect recall (no
    * prefix-only recall gap, and no O(n²/2^prefix) disguised cross join).
    * Plan: explode segments (maxDistance+1 rows/doc) → self equi-join on
    * (segment-index, segment-value) → distinct pairs → exact Hamming filter.
    * Segment values carry ~bits/(d+1) bits of entropy each, so bucket sizes
    * stay ~n/2^(bits/(d+1)); residual hot buckets are AQE skew-join work,
    * never a single-task array.
    */
  def simhashNearDuplicates(df: DataFrame, idCol: String, textCol: String,
                            bits: Int = 16, maxDistance: Int = 3): DataFrame =
    bandedHammingJoin(
      df.select(col(idCol).as("id"), simhashLong(col(textCol), bits).as("sig")),
      bits, maxDistance)

  /** The pigeonhole multi-blocking core shared by [[simhashNearDuplicates]]
    * and `Multimodal.imageNearDuplicates`: a `bits`-wide fingerprint table
    * (id, sig) → all (id_a < id_b, distance ≤ maxDistance) pairs. The
    * fingerprint is cut into `maxDistance + 1` segments; two fingerprints
    * within the distance must agree on at least one whole segment, so the
    * union of per-segment equi-joins has perfect recall (no prefix-only
    * recall gap, no O(n²/2^prefix) disguised cross join). maxDistance = 0
    * degenerates to one full-width segment — an exact equi-join on the sig.
    *
    * Plan: explode segments → self equi-join on (segment-index, value) →
    * first-agreeing-segment ownership (a pair matching several segments is
    * emitted only at its first — a bit-op filter, not a distinct shuffle)
    * → exact Hamming verify. The segment table is persisted because it
    * feeds both join sides; its lifetime is the caller's scope (see
    * [[Materialize.tracked]]).
    */
  private[graft] def bandedHammingJoin(hashes: DataFrame, bits: Int,
                                       maxDistance: Int): DataFrame = {
    require(bits >= 1 && bits <= 64, s"bad fingerprint width $bits")
    require(maxDistance >= 0 && maxDistance < bits,
      s"bad maxDistance $maxDistance for $bits bits")
    if (useCollapsedHamming(bits, maxDistance))
      collapsedHammingJoin(hashes, bits, maxDistance)
    else
      segmentedHammingJoin(hashes, bits, maxDistance)
  }

  /** Dispatch rule for [[bandedHammingJoin]]. Narrow fingerprints (≤ 2^20
    * possible values) collapse to DISTINCT values first — candidate
    * generation becomes independent of corpus size (see
    * [[collapsedHammingJoin]]). Wide fingerprints (image pHash at 64 bits)
    * keep the segment join: their value space dwarfs any corpus, so
    * collapsing buys nothing. The mask budget caps the neighbor-enumeration
    * fan-out (sum of C(bits, 1..d) masks per distinct value): a large
    * maxDistance on a narrow code makes the mask table itself combinatorial
    * (C(20, ≤19) ≈ 1 M), where the segment join's per-segment buckets
    * degrade more gracefully.
    */
  private[graft] def useCollapsedHamming(bits: Int, maxDistance: Int): Boolean = {
    val maskCount = (1 to maxDistance).map(k =>
      (0 until k).map(i => (bits - i).toDouble / (i + 1)).product).sum
    bits <= 20 && maxDistance >= 1 && maskCount <= 16384
  }

  /** The segment self-join core of [[bandedHammingJoin]] (wide-fingerprint
    * path; also reachable directly for A/B probes).
    */
  private[graft] def segmentedHammingJoin(hashes: DataFrame, bits: Int,
                                          maxDistance: Int): DataFrame = {
    val nSeg = maxDistance + 1
    val segLen = math.ceil(bits.toDouble / nSeg).toInt
    // Segment s of a fingerprint, as a small int (long bits from the top,
    // matching string positions [s*segLen, ...)); a full-width segment is
    // the sig itself ((1L << 64) - 1 would wrap).
    def segOf(sig: Column, s: Int): Column = {
      val width = math.min(segLen, bits - s * segLen)
      if (width >= 64) sig
      else shiftrightunsigned(sig, bits - s * segLen - width)
        .bitwiseAND(lit((1L << width) - 1L))
    }
    val segmented = Materialize.persist(hashes.select(col("id"), col("sig"),
      posexplode(array((0 until nSeg).map(segOf(col("sig"), _)): _*)).as(Seq("seg", "segval"))))
    val firstAgreement = (0 until nSeg - 1).map { t =>
      when(col("seg") > t, segOf(col("sig_a"), t) =!= segOf(col("sig_b"), t))
        .otherwise(lit(true))
    }.reduceOption(_ && _).getOrElse(lit(true))
    segmented
      .select(col("seg"), col("segval"), col("id").as("id_a"), col("sig").as("sig_a"))
      .join(segmented.select(col("seg"), col("segval"),
          col("id").as("id_b"), col("sig").as("sig_b"))
        .hint("shuffle_hash"), Seq("seg", "segval"))
      .filter(col("id_a") < col("id_b"))
      .filter(firstAgreement)
      .withColumn("distance", hammingDistance(col("sig_a"), col("sig_b")))
      .filter(col("distance") <= maxDistance)
      .select("id_a", "id_b", "distance")
  }

  /** All (sig_a < sig_b) pairs of PRESENT fingerprint values within Hamming
    * distance 1..maxDistance — the value-level candidate core shared by
    * [[collapsedHammingJoin]] and [[hammingDedupIds]]. XOR-mask neighbor
    * enumeration against the fixed popcount-1..d delta table, semi-joined
    * back against the distinct set: exact by construction (every value
    * within distance d differs by exactly one such mask), no verify pass.
    * Cost is independent of corpus size — `distinctSigs` is bounded by
    * 2^bits values no matter how many documents carry each.
    */
  private[graft] def hammingValuePairs(distinctSigs: DataFrame, bits: Int,
                                       maxDistance: Int): DataFrame = {
    val masks: Array[Long] = (1 to maxDistance).toArray.flatMap(k =>
      (0 until bits).combinations(k)
        .map(_.foldLeft(0L)((m, b) => m | (1L << b))).toArray)
    distinctSigs
      .select(col("sig").as("sig_a"),
        explode(typedLit(masks)).as("__m"))
      .select(col("sig_a"), col("sig_a").bitwiseXOR(col("__m")).as("sig_b"))
      .filter(col("sig_a") < col("sig_b"))
      .join(distinctSigs.withColumnRenamed("sig", "sig_b"), Seq("sig_b"), "leftsemi")
      .select(col("sig_a"), col("sig_b"))
  }

  /** The (id, sig) table and its distinct values, both persisted: the
    * narrow-fingerprint paths read each of them several times.
    */
  private def sigTables(hashes: DataFrame): (DataFrame, DataFrame) = {
    val sigs = Materialize.persist(hashes.select(col("id"), col("sig")))
    (sigs, Materialize.persist(sigs.select("sig").distinct()))
  }

  /** Narrow-fingerprint Hamming join via distinct-value collapse + XOR-mask
    * neighbor enumeration — the 100 TB path for ≤20-bit fingerprints.
    *
    * A 16-bit simhash has at most 65,536 distinct values no matter how many
    * documents carry one, so the segment self-join's O(n²/2^(bits/(d+1)))
    * candidate cost is pure waste at corpus scale: billions of rows hashing
    * into 65 k values means every bucket collision is re-verified once per
    * DOCUMENT pair instead of once per VALUE pair. Collapsing first makes
    * candidate work corpus-size-independent:
    *
    *   1. distinct sigs (one hash-agg; map-side combine ships one row per
    *      value, ≤ 2^bits total);
    *   2. neighbor enumeration: explode each distinct value against the
    *      fixed mask table of all XOR deltas with popcount 1..maxDistance
    *      (C(16,1)+C(16,2)+C(16,3) = 696 masks at 16/3) and semi-join the
    *      XOR result back against the distinct set — emits exactly the
    *      qualifying (value_a < value_b) pairs, no post-filter, recall 1 by
    *      construction (every fingerprint within distance d differs by
    *      exactly one such mask);
    *   3. expansion: the value-pair table joins the (id, sig) table twice to
    *      materialize document pairs — the only corpus-proportional work
    *      left, and it is proportional to the OUTPUT, which no exact
    *      algorithm can avoid;
    *   4. distance-0 pairs (same value) come from a same-sig self-join with
    *      `id_a < id_b` — skew in hot fingerprints is AQE skew-join work.
    *
    * Equivalent to the segment join (one spec asserts it on random
    * fingerprints); dispatch lives in [[bandedHammingJoin]].
    */
  private[graft] def collapsedHammingJoin(hashes: DataFrame, bits: Int,
                                          maxDistance: Int): DataFrame = {
    val (sigs, distinctSigs) = sigTables(hashes)
    val valuePairs = hammingValuePairs(distinctSigs, bits, maxDistance)
    // Pin the expansion joins and the same-sig self-join to shuffle-hash:
    // `sigs` (one row per DOCUMENT) is corpus-proportional, so a broadcast
    // is never right at scale — the same design rule as the minhash verify
    // joins (minhashPerDoc). Measured on the ×30 ScaleUp corpus
    // (150 k docs, 3.0 B output pairs): the planner's broadcast plan OOMs
    // a 24 g local[32] heap mid-expansion, while the pinned shuffle plan
    // finishes in 79 s at the same concurrency — and at 100 TB a
    // billion-row sigs broadcast is impossible outright. The leftsemi
    // against distinctSigs above stays broadcastable: that side is bounded
    // by 2^bits VALUES, not by corpus size.
    val cross = valuePairs
      .join(sigs.select(col("id").as("__ida"), col("sig").as("sig_a"))
        .hint("shuffle_hash"), "sig_a")
      .join(sigs.select(col("id").as("__idb"), col("sig").as("sig_b"))
        .hint("shuffle_hash"), "sig_b")
      .select(least(col("__ida"), col("__idb")).as("id_a"),
        greatest(col("__ida"), col("__idb")).as("id_b"),
        hammingDistance(col("sig_a"), col("sig_b")).as("distance"))
    val same = sigs.select(col("id").as("id_a"), col("sig"))
      .join(sigs.select(col("id").as("id_b"), col("sig"))
        .hint("shuffle_hash"), "sig")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        lit(0).cast("int").as("distance"))
    cross.union(same)
  }

  /** Survivor-oriented SimHash dedup: one row `(survivor, dropped_id)` per
    * NON-survivor member of each Hamming-≤`maxDistance` cluster (the
    * transitive closure of the [[simhashNearDuplicates]] pair relation,
    * distance-0 same-sig pairs included), survivor = the cluster's min id.
    * The 100 TB dedup shape, mirroring `Similarity.embeddingDedupIds`: the
    * pair-audit API's output is quadratic in duplicate-group size, while
    * this never materializes a within-group pair in any plan — on the
    * narrow-fingerprint path connected components run over the DISTINCT
    * VALUE graph (≤ 2^bits vertices, corpus-size-independent) and doc ids
    * ride ONE membership join, so m documents sharing a fingerprint
    * cluster cost O(m) rows end to end. Anti-joining the corpus against
    * `dropped_id` materializes the deduped corpus.
    *
    * CACHE LIFETIME: both dispatch paths persist corpus-proportional
    * intermediates (the fingerprint table on the narrow path, the segment
    * table on the wide path) and the result reads them; long-lived drivers
    * wrap the call in [[Materialize.tracked]] and unpersist them once the
    * result is materialized.
    */
  def simhashDedupIds(df: DataFrame, idCol: String, textCol: String,
                      bits: Int = 16, maxDistance: Int = 3): DataFrame =
    hammingDedupIds(
      df.select(col(idCol).as("id"), simhashLong(col(textCol), bits).as("sig")),
      bits, maxDistance)

  /** The fingerprint-generic survivor core behind [[simhashDedupIds]] (and
    * usable over any (id, sig) table, e.g. image dHashes). Dispatch mirrors
    * [[bandedHammingJoin]]:
    *
    * Narrow fingerprints (≤ 2^20 values) — the corpus-size-independent
    * path: distinct sigs → XOR-mask value pairs ([[hammingValuePairs]]) →
    * min-label components over the VALUE graph (≤ 2^bits vertices, so the
    * CC loop's cost never grows with the corpus) → every document takes
    * its sig's component label (isolated sigs label themselves — same-sig
    * duplicate groups still collapse) → survivor = min doc id per label.
    * The component and survivor tables are bounded by 2^bits VALUES, never
    * corpus size, so both ride explicit broadcasts (the planner inherits
    * the corpus-sized child estimate for aggregate outputs and would
    * shuffle otherwise) — corpus-proportional work is one fingerprint
    * projection, one map-side-combined min-aggregate, and two map-side
    * broadcast joins. No shuffle of the corpus at all.
    *
    * Wide fingerprints keep the doc-level segment join (value collapse
    * buys nothing when the value space dwarfs the corpus): pair edges →
    * doc-graph components, whose min-id label IS the survivor.
    *
    * Row-identity across paths (spec-pinned): docs are in the same
    * doc-graph component iff their sigs are in the same value-graph
    * component — same-sig docs share a vertex (the oracle's distance-0
    * pairs), cross-sig edges exist value-wise exactly when some doc pair
    * carries them.
    */
  private[graft] def hammingDedupIds(hashes: DataFrame, bits: Int,
                                     maxDistance: Int): DataFrame = {
    require(bits >= 1 && bits <= 64, s"bad fingerprint width $bits")
    require(maxDistance >= 0 && maxDistance < bits,
      s"bad maxDistance $maxDistance for $bits bits")
    if (useCollapsedHamming(bits, maxDistance)) {
      val (sigs, distinctSigs) = sigTables(hashes)
      val valuePairs = hammingValuePairs(distinctSigs, bits, maxDistance)
      val comp = connectedComponents(valuePairs
          .select(col("sig_a").as("id_a"), col("sig_b").as("id_b")),
          toFixpoint = true)
        .select(col("id").as("sig"), col("component"))
      val labeled = sigs.join(broadcast(comp), Seq("sig"), "left")
        .select(col("id"), coalesce(col("component"), col("sig")).as("__lbl"))
      val survivors = labeled.groupBy(col("__lbl"))
        .agg(min(col("id")).as("survivor"))
      labeled.join(broadcast(survivors), Seq("__lbl"))
        .filter(col("id") =!= col("survivor"))
        .select(col("survivor"), col("id").as("dropped_id"))
    } else {
      // The CC labels are checkpointed by the eager loop, so the result
      // reads executor blocks only and never re-touches the segment table,
      // whose blocks stay cached until the caller's scope releases them.
      connectedComponents(
          segmentedHammingJoin(hashes, bits, maxDistance).select(col("id_a"), col("id_b")),
          toFixpoint = true)
        .filter(col("id") =!= col("component"))
        .select(col("component").as("survivor"), col("id").as("dropped_id"))
    }
  }

  /** Exact dedup: canonical representative (min id) per duplicate group.
    * One hash aggregate; partial map-side combine means the shuffle moves one
    * row per distinct key, not per input row.
    */
  def exactDuplicateGroups(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Exact dedup keeping the min-id row per key — deterministic, unlike
    * dropDuplicates (which keeps an arbitrary row).
    *
    * Shape: min-id aggregate + id-keyed semi-join, NOT a window. A window
    * partitioned by the key ships every full row to its key's single
    * reducer — with verbatim-duplicated content (the very thing this op
    * exists for) that is the skew bomb: a viral document's million copies
    * all land on one task. The aggregate map-side-combines those copies
    * to one row per key per partition before any shuffle, and the
    * semi-join moves full rows once on an unskewed composite key. Ids are
    * unique, so "row whose id is its key's min" is exactly the window's
    * rank-1 row.
    *
    * The semi-join matches on `keyCols :+ idCol`, not the id alone: with a
    * duplicated id an id-only match would leak that id's rows across
    * UNRELATED keys (every row sharing a winner's id survives, whatever
    * its key). Including the key confines a stray duplicate id to its own
    * group. The composite hash is still unskewed — a viral key's million
    * copies carry a million distinct ids. Key equality is null-SAFE
    * (`<=>`, still an equi-join to Spark's hash-join extraction) so a
    * null key is an ordinary group, exactly as `groupBy` treats it.
    * Remaining precondition: rows whose id is NULL never survive (`min`
    * skips nulls and `===` never matches null), unlike the window shape
    * which kept one row per key.
    */
  def dedupKeepFirst(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame = {
    val winners = df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as(idCol))
    val l = df.alias("graft_dkf_l")
    val w = winners.hint("shuffle_hash").alias("graft_dkf_w")
    val cond = keyCols
      .map(k => col(s"graft_dkf_l.$k") <=> col(s"graft_dkf_w.$k"))
      .foldLeft(col(s"graft_dkf_l.$idCol") === col(s"graft_dkf_w.$idCol"))(_ && _)
    l.join(w, cond, "leftsemi")
  }

  @transient private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Estimated driver heap for the union-find over `edgeCount` directed
    * edges with ids of `idWidth` bytes each: per edge two id objects land in
    * the parent/min maps plus map-entry overhead (~48 bytes per boxed
    * fixed-width id with its entries; strings add 2 bytes/char over a ~48
    * byte header+entry base). Deliberately pessimistic — the cutoff is a
    * safety valve, not a capacity plan. */
  private[graft] def driverUnionFindBytes(edgeCount: Long, idWidth: Long): Long =
    edgeCount * 2L * (48L + idWidth)

  /** Whether the adaptive driver-side union-find may run: only for id types
    * whose driver-side ordering provably matches the distributed loop's
    * `min(lbl)` (Long/Int/String — anything else, e.g. Decimal or Binary,
    * falls through to the loop rather than risk a toString-ordered label),
    * and only when the estimated driver heap fits `cutoffBytes`. */
  private[graft] def driverPathAllowed(edgeCount: Long,
                                       idType: org.apache.spark.sql.types.DataType,
                                       avgStrLen: => Double,
                                       cutoffRows: Long,
                                       cutoffBytes: Long): Boolean = {
    import org.apache.spark.sql.types._
    if (edgeCount <= 0 || edgeCount > cutoffRows) false
    else idType match {
      case LongType    => driverUnionFindBytes(edgeCount, 8L) <= cutoffBytes
      case IntegerType => driverUnionFindBytes(edgeCount, 4L) <= cutoffBytes
      case StringType  =>
        driverUnionFindBytes(edgeCount,
          math.ceil(2 * math.max(avgStrLen, 1.0)).toLong) <= cutoffBytes
      case _ => false
    }
  }

  /** The distinct directed edge table of `pairs` (`src`, `dst`),
    * materialized by `ckpt`, and its row count. Both directions of every
    * pair come from one scan: a union of two projections would run the
    * input plan once per branch. `ReuseExchange` could share at most the
    * exchanges inside it, and those above reads of a persisted frame never
    * match (see [[Materialize]]). The count is an `Observation` on the
    * plan `ckpt` runs, so it rides the checkpoint job instead of running
    * an aggregate job of its own; an empty `pairs` counts 0.
    */
  private[graft] def directedEdges(pairs: DataFrame,
                                   ckpt: DataFrame => DataFrame): (DataFrame, Long) = {
    // a fresh Observation per call: one can observe only one Dataset
    val counted = new org.apache.spark.sql.Observation()
    val edges = ckpt(pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .distinct()
      .observe(counted, count(lit(1)).as("n")))
    (edges, counted.get("n").asInstanceOf[Long])
  }

  /** Connected components over an undirected pair list — the CLUSTER step
    * of near-dup dedup (pairs → clusters → one canonical survivor per
    * cluster; the reference stops at ingest, this is the extension mandate's
    * training-data curation surface).
    *
    * Min-label propagation: every vertex starts labeled with itself; each
    * round a vertex takes the minimum label over its closed neighborhood;
    * the fixpoint labels every vertex with the smallest id in its component
    * (deterministic, engine-agnostic — a DuckDB recursive CTE replays it
    * exactly). Rounds needed = graph diameter; similarity graphs are
    * clique-ish, so a handful.
    *
    * `pairs` is read exactly once (spec-pinned): one scan emits both
    * directions of every pair (explode of the two (src, dst) structs),
    * and the distinct directed edge table is checkpointed before anything
    * else reads it. Callers may therefore pass an un-persisted plan — the
    * minhash label path hands in its whole verify chain.
    *
    * Small graphs (under `driverCutoff` edges and `driverCutoffBytes` of
    * estimated driver heap) are labelled by a driver-side union-find whose
    * result is a checkpointed local relation carrying its exact size, so
    * a join against the labels can be planned as a broadcast.
    *
    * Scale shape (the GraphX/GraphFrames pattern): ONE shuffle-join + ONE
    * min-aggregate job per round — shuffle volume is O(edges), never
    * materializing anything quadratic. Each vertex's previous label rides
    * the aggregation (`min` over a tagged own-row), so the convergence check
    * is a trivial scan of the round's already-materialized checkpoint blocks
    * instead of a second shuffle-join job. Each round's label table is
    * checkpointed (lineage truncation — constant-size plans/codegen across
    * rounds, the GraphFrames iterative discipline) and the previous round's
    * blocks are freed once the new round materializes.
    *
    * If the loop hits `maxIters` before the fixpoint (diameter > maxIters),
    * a WARNING is logged and the partially-propagated labels are returned —
    * downstream dedup would then under-merge, so the log line is the signal
    * to raise `maxIters`. Callers that advertise EXACT transitive closure
    * (the survivor dedup-id paths, [[minhashLabels]]) pass
    * `toFixpoint = true` instead: the loop then runs until convergence
    * (guaranteed finite — min propagation is monotone on a finite label
    * set) and `maxIters` degrades to a soft logging threshold.
    *
    * @param pairs undirected edges as two id columns (`id_a`, `id_b`).
    * @param checkpointDir when set, label tables use RELIABLE `checkpoint`
    *        into this directory (survives executor loss — on a real cluster
    *        `localCheckpoint` blocks live on executors and a lost executor
    *        kills the job mid-iteration with no lineage to recompute); when
    *        None (default), the faster executor-local `localCheckpoint`.
    * @return (id, component) for every vertex appearing in some pair,
    *         component = min id in the vertex's connected component.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20,
                          checkpointDir: Option[String] = None,
                          driverCutoff: Long = 2000000L,
                          driverCutoffBytes: Long = 256L << 20,
                          toFixpoint: Boolean = false): DataFrame = {
    val ckpt: DataFrame => DataFrame = checkpointDir match {
      case Some(dir) =>
        val sc = pairs.sparkSession.sparkContext
        // getCheckpointDir reports the qualified UUID SUBdirectory Spark
        // created, so compare its parent with the qualified `dir` (a
        // whole-string compare would re-set — and thereby clobber — the
        // session-global dir every call; a substring test let `…/ck` match
        // an earlier `…/ck2`). Checkpoint FILES outlive the job unless
        // spark.cleaner.referenceTracking.cleanCheckpoints=true; a
        // long-running service should enable it or sweep `dir` itself.
        val want = new org.apache.hadoop.fs.Path(dir)
        val qualified = want.getFileSystem(sc.hadoopConfiguration).makeQualified(want)
        if (!sc.getCheckpointDir.exists(d =>
              new org.apache.hadoop.fs.Path(d).getParent == qualified))
          sc.setCheckpointDir(dir)
        df => df.checkpoint()
      case None => df => df.localCheckpoint()
    }
    val (edges, edgeCount) = directedEdges(pairs, ckpt)
    val idType = edges.schema("src").dataType
    // Adaptive small-graph path: verified near-dup pair graphs are usually
    // a tiny fraction of the corpus, and each distributed round costs two
    // fixed job overheads regardless of size. Below the cutoff a driver-side
    // union-find computes the IDENTICAL min-id labels in one collect; the
    // result is a local relation, checkpointed so multi-consumer chains read
    // executor blocks, not a re-serialized driver collection (without the
    // checkpoint a clique-heavy 2M-edge rehearsal graph measured 3× SLOWER
    // than the loop). A local relation knows its exact size and the
    // checkpoint keeps that figure, so a join against the labels (the
    // survivor anti-join) is planned as a broadcast when they are small —
    // a parallelized RDD would report an unknown, effectively infinite,
    // size and shuffle the other side first. The cutoff is BYTE-aware, not
    // just row-count: 2M long edges ≈ 32 MB is control-plane grade, but 2M
    // long-TEXT keys could be hundreds of MB, so string ids are sized from
    // a sampled average length
    // (one cheap agg over the checkpoint blocks) and non-Long/Int/String id
    // types always take the distributed loop (their driver ordering isn't
    // guaranteed to match min(lbl)). Pass driverCutoff = 0 to force the loop.
    lazy val avgStrLen: Double = edges
      .agg(avg(length(col("src").cast("string")))).head().getDouble(0)
    if (driverPathAllowed(edgeCount, idType, avgStrLen,
                          driverCutoff, driverCutoffBytes)) {
      val parent = new java.util.HashMap[Any, Any]()
      def find(x: Any): Any = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x // path compression
        while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      edges.collect().foreach { row =>
        val (a, b) = (row.get(0), row.get(1))
        if (!parent.containsKey(a)) parent.put(a, a)
        if (!parent.containsKey(b)) parent.put(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent.put(ra, rb)
      }
      import scala.jdk.CollectionConverters._
      val minOfRoot = new java.util.HashMap[Any, Any]()
      val ids = parent.keySet().asScala.toSeq
      // driverPathAllowed gates this path to exactly these id types, so the
      // ordering here always matches the distributed loop's native min(lbl)
      // (no toString fallback — "10" < "9" lexicographically would silently
      // mislabel numeric-ish types; anything else takes the loop instead).
      def lt(x: Any, y: Any): Boolean = (x, y) match {
        case (a: Long, b: Long) => a < b
        case (a: Int, b: Int) => a < b
        case (a: String, b: String) => a < b
        case _ => throw new IllegalStateException(
          s"driver union-find reached with ungated id type: ${x.getClass}")
      }
      ids.foreach { id =>
        val r = find(id)
        val cur = minOfRoot.get(r)
        if (cur == null || lt(id, cur)) minOfRoot.put(r, id)
      }
      val spark = pairs.sparkSession
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType, nullable = false),
        org.apache.spark.sql.types.StructField("component", idType, nullable = false)))
      val rows = ids.map(id =>
        org.apache.spark.sql.Row(id, minOfRoot.get(find(id))))
      Materialize.releaseCheckpoint(edges)
      // the local scan spreads its rows over up to defaultParallelism
      // partitions, so downstream joins are not serialized on one task
      return ckpt(spark.createDataFrame(rows.asJava, schema))
    }
    // `current` is the round's checkpointed table (held for unpersist);
    // `labels` the (id, lbl) view of it the next round joins against.
    var current = ckpt(edges.select(col("src").as("id"), col("src").as("lbl"))
      .distinct())
    var labels = current
    var iter = 0
    var converged = false
    val loopStart = System.nanoTime()
    // min-label propagation is monotone on a finite label set, so the
    // fixpoint ALWAYS exists and the toFixpoint loop always terminates
    // (in ≤ diameter rounds); maxIters is then only a log threshold. The
    // survivor dedup-id paths run with toFixpoint = true because they
    // advertise exact transitive closure — a partially-propagated label
    // table there silently yields under-merged clusters and wrong
    // survivors (r16 advice).
    while ((toFixpoint || iter < maxIters) && !converged) {
      val roundStart = System.nanoTime()
      // closed-neighborhood min: own label ∪ labels arriving over edges.
      // The own row carries its label twice — the `prev` copy survives the
      // aggregate (min ignores the messages' nulls; ids are unique in
      // `labels`), so the round's single job also materializes everything
      // the convergence check needs.
      val next = ckpt(labels
        .select(col("id"), col("lbl"), col("lbl").as("prev"))
        .union(edges.join(labels, edges("src") === labels("id"))
          .select(edges("dst").as("id"), col("lbl"), lit(null).cast(idType).as("prev")))
        .groupBy("id").agg(min("lbl").as("lbl"), min("prev").as("prev")))
      // min propagation is monotone: converged when no vertex improved.
      // This scans the just-written checkpoint blocks — no recompute, no join.
      converged = next.filter(col("lbl") =!= col("prev")).isEmpty
      Materialize.releaseCheckpoint(current)
      current = next
      labels = next.select("id", "lbl")
      iter += 1
      log.info(f"connectedComponents: round $iter took " +
        f"${(System.nanoTime() - roundStart) / 1e9}%.2fs" +
        (if (converged) " (fixpoint)" else ""))
      if (toFixpoint && iter == maxIters && !converged)
        log.warn(s"connectedComponents: past $maxIters rounds without a " +
          "fixpoint (toFixpoint mode — continuing; diameter exceeds the " +
          "soft threshold)")
    }
    // cost attribution for the sf1 heavy tail: rounds × per-round job
    // overhead vs data volume. Similarity graphs are clique-ish (diameter
    // ~2-3 → 3-4 rounds incl. the fixpoint check); if real corpora show
    // rounds well beyond that, the two-phase large-star/small-star scheme
    // (halves the diameter per round) is the next step — not worth its two
    // extra shuffles per round below ~6.
    log.info(f"connectedComponents: $edgeCount directed edges, $iter rounds, " +
      f"${(System.nanoTime() - loopStart) / 1e9}%.2fs total" +
      (if (converged) "" else " (NOT converged)"))
    if (!converged)
      log.warn(s"connectedComponents: no fixpoint after $maxIters rounds — " +
        "labels are partially propagated (graph diameter exceeds maxIters); " +
        "downstream dedup will under-merge. Raise maxIters.")
    Materialize.releaseCheckpoint(edges)
    labels.select(col("id"), col("lbl").as("component"))
  }

  /** Near-duplicate cluster summary over MinHash-verified pairs: one row per
    * cluster (≥2 members) — canonical (min) id, member count, max id.
    * Consumes [[minhashLabels]], so on the collapsed path no within-group
    * pair is ever materialized (r16 — the pair expansion was ~2/3 of the
    * chain's cost on a ×10-duplicated corpus, contracted right back by the
    * component loop).
    */
  def minhashClusters(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double, numHashes: Int = 16, bands: Int = 4,
                      shingleSize: Int = 5,
                      collapse: Option[Boolean] = None): DataFrame = {
    // labels are checkpoint-materialized — the chain's caches are dead
    // weight from here on
    val labels = Materialize.scoped(minhashLabels(df, idCol, textCol,
      threshold, numHashes, bands, shingleSize, collapse))
    labels.groupBy("component")
      .agg(count(lit(1)).as("n_members"), max(col("id")).as("max_id"))
  }

  /** Materialized near-dup dedup: drop every cluster member except the
    * canonical (min-id) one. Anti-join of the corpus against the non-
    * canonical vertex set. Labels come from [[minhashLabels]] — no
    * within-group pair expansion.
    *
    * When the anti-join broadcasts: labels from the driver-side union-find
    * (graphs under [[connectedComponents]]' driver cutoff, the usual case)
    * carry their exact size, so the losers are broadcast whenever they fit
    * `spark.sql.autoBroadcastJoinThreshold` and `df` is scanned map-only,
    * never shuffled. When it shuffles: losers over the threshold, or labels
    * from the distributed loop, whose size is only an estimate — then `df`
    * is exchanged on the id (AQE may still switch to a broadcast after that
    * exchange once it sees the real loser count).
    */
  def dropNearDuplicates(df: DataFrame, idCol: String, textCol: String,
                         threshold: Double, numHashes: Int = 16,
                         bands: Int = 4, shingleSize: Int = 5,
                         collapse: Option[Boolean] = None): DataFrame = {
    // labels are checkpoint-materialized — the anti-join below touches
    // only df and the label blocks
    val losers = Materialize.scoped(minhashLabels(df, idCol, textCol,
        threshold, numHashes, bands, shingleSize, collapse))
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Survivor-oriented MinHash dedup: one `(survivor, dropped_id)` row per
    * NON-survivor member of each near-dup cluster — the same output shape
    * as [[simhashDedupIds]] and `Similarity.embeddingDedupIds`, so all
    * three near-dup families expose the linear 100 TB dedup surface.
    * Labels come from [[minhashLabels]] (connected components over the
    * distinct-content rep graph + one membership join — no within-group
    * pair expansion), and the survivor is the component label itself
    * (min id per cluster). Spec-pinned row-equal to dropping non-min ids
    * over the transitive closure of the pair API's output.
    */
  def minhashDedupIds(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double, numHashes: Int = 16, bands: Int = 4,
                      shingleSize: Int = 5,
                      collapse: Option[Boolean] = None): DataFrame = {
    Materialize.scoped(minhashLabels(df, idCol, textCol,
        threshold, numHashes, bands, shingleSize, collapse))
      .filter(col("id") =!= col("component"))
      .select(col("component").as("survivor"), col("id").as("dropped_id"))
  }

  /** Line-level boilerplate removal (the C4/RefinedWeb-family step): drop
    * every LINE that occurs in more than `maxDocs` distinct documents
    * (navigation chrome, cookie banners, boilerplate headers), then
    * reassemble each document from its surviving lines in original order.
    * Documents whose every line is boilerplate disappear entirely.
    *
    * Shape: explode lines with position → one (line → distinct-doc count)
    * hash aggregate → anti-join (the boilerplate side is tiny — lines
    * crossing the threshold — so it broadcasts) → per-doc reassembly via
    * collect_list + array_sort (bounded by a document's own line count,
    * never corpus-sized). Exact string keys, so the whole operator replays
    * in SQL.
    */
  def dropBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
                           maxDocs: Int): DataFrame = {
    val lines = df.select(col(idCol).as("id"),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val boiler = lines.groupBy("line")
      .agg(countDistinct(col("id")).as("nd"))
      .filter(col("nd") > maxDocs)
      .select("line")
    lines.join(boiler, Seq("line"), "left_anti")
      .groupBy("id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line")), "\n").as("text"))
      .select(col("id").as(idCol), col("text").as(textCol))
  }

  /** Corpus-wide exact paragraph dedup (the MassiveText/RefinedWeb
    * repeated-paragraph rule, one level above [[dropBoilerplateLines]]):
    * split each document on blank-line boundaries, keep only the FIRST
    * corpus-wide occurrence of each distinct paragraph (ordered by
    * (id, paragraph index) — deterministic, engine-neutral), and
    * reassemble the survivors in original order. Documents reduced to
    * zero paragraphs drop out entirely.
    *
    * One shuffle keyed on the paragraph (high-cardinality, unskewed — the
    * heavy duplicate paragraphs are exactly the ones the window then
    * cuts to one row) + one on the doc id for reassembly. No all-pairs,
    * no driver state — 100 TB-shaped like the line-level sibling.
    */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val paras = df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), "\n\\s*\n")).as(Seq("pidx", "para")))
      .withColumn("para", trim(col("para")))
      .filter(col("para") =!= "")
    // First occurrence per distinct paragraph via min(struct(id, pidx))
    // (struct ordering is lexicographic by field — exactly the
    // (id, pidx) order the contract specifies), then an UNSKEWED
    // (id, pidx)-keyed semi-join marks the survivors. The former
    // row_number window partitioned by the paragraph sent every copy of
    // a boilerplate paragraph — cookie banners, license headers, the
    // most-duplicated content in any crawl — to one reducer; the
    // aggregate collapses those copies map-side before the shuffle, and
    // the winner coordinates are unique so the semi-join key never skews.
    // CONTENT-ADDRESSED: the aggregate groups on sha2(para) — the
    // paragraph text is never needed after the agg (only the winner
    // coordinates are), so the post-combine shuffle ships (32-byte raw
    // digest, 12-byte struct) rows instead of multi-hundred-byte
    // paragraphs as grouping keys (the argument on [[contentGroups]];
    // sha2-256 is the collision-resistant equality proxy safe on
    // untrusted corpora).
    val winners = paras.groupBy(unhex(sha2(col("para"), 256)))
      .agg(min(struct(col("id"), col("pidx"))).as("w"))
      .select(col("w.id").as("id"), col("w.pidx").as("pidx"))
    paras.join(winners.hint("shuffle_hash"), Seq("id", "pidx"), "leftsemi")
      .groupBy("id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pidx"), col("para")))),
          s => s.getField("para")), "\n\n").as("clean_text"),
        count(lit(1)).as("n_paras"))
  }

  /** Benchmark decontamination: training documents sharing at least one
    * `n`-token shingle with any document of the (small) `eval` set — the
    * overlap check every serious pretraining pipeline runs before
    * training/eval splits are trusted. Returns (id, n_shared) with the
    * count of distinct shared shingles.
    *
    * Shape: eval shingles are a tiny table (benchmarks are thousands of
    * rows, not billions) — broadcast; the corpus side is one explode +
    * equi-join on the shingle string + per-id count. Nothing quadratic,
    * nothing driver-bound; the shingle join key is the same md5-portable
    * machinery as the near-dup stack, so a DuckDB oracle replays it.
    */
  def contaminatedIds(train: DataFrame, eval_ : DataFrame, idCol: String,
                      textCol: String, n: Int = 5): DataFrame = {
    // Hashed shingles (r21, see [[shingleHashSet]]): the join key becomes
    // an 8-byte long instead of a ~n·7-char string — the corpus-side
    // explode, the broadcast hash relation, and every probe shrink ~5x,
    // and no shingle string is ever materialized. Per-id counts of shared
    // DISTINCT shingles are identical (both sides were distinct before and
    // still are — the hash set preserves set cardinalities).
    val evalSh = broadcast(eval_
      .select(explode(shingleHashSet(col(textCol), n)).as("sh"))
      .distinct())
    train
      .select(col(idCol).as("id"),
        explode(shingleHashSet(col(textCol), n)).as("sh"))
      .join(evalSh, "sh")
      .groupBy("id")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Near-dup dedup keeping the BEST cluster member by `scoreCol` (ties →
    * smallest id) instead of [[dropNearDuplicates]]' min-id canonical — the
    * curation policy a real pipeline wants ("keep the highest-quality copy,
    * not the first-crawled one"). Same machinery: verified pairs → CC →
    * one window rank per cluster over cluster-sized groups → anti-join of
    * the corpus against the non-survivors.
    *
    * The cluster window is deliberately NOT the skew class the
    * content-keyed dedup windows were (now agg+semi-join, see
    * [[dedupKeepFirst]]): its input is (id, component, score) label-weight
    * rows — tens of bytes — never document text, so even a million-member
    * viral cluster lands ~24 MB on its reducer. An exact agg form would
    * also have to reproduce the window's desc/NULLS LAST/NaN ordering for
    * an ARBITRARY user-typed score column; the window states it directly.
    */
  def dropNearDuplicatesBy(df: DataFrame, idCol: String, textCol: String,
                           scoreCol: String, threshold: Double,
                           numHashes: Int = 16, bands: Int = 4,
                           shingleSize: Int = 5,
                           collapse: Option[Boolean] = None): DataFrame = {
    val labels = Materialize.scoped(minhashLabels(df, idCol, textCol,
      threshold, numHashes, bands, shingleSize, collapse))
    val scored = labels.join(
      df.select(col(idCol).as("id"), col(scoreCol).as("__score")), "id")
    val w = Window.partitionBy(col("component"))
      .orderBy(desc("__score"), asc("id"))
    val losers = scored.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") =!= 1)
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Exact all-pairs near-dup baseline: every unordered doc pair with
    * shingle-set Jaccard ≥ threshold. O(n²) BY DESIGN — the labeled ground
    * truth for [[minhashRecallStats]], meant for bounded evaluation
    * subsets (mirror of the ANN side's brute-force baseline), never the
    * corpus path. */
  def bruteForceJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                             threshold: Double, shingleSize: Int = 5): DataFrame = {
    // Hashed shingle sets (r21, see [[shingleHashSet]]): the O(n²) verify
    // is this operator's entire cost, and per pair the sorted-merge
    // `graft_inter_size` replaces a per-pair hash-set build over ~40-byte
    // shingle strings with a linear scan of primitive longs; the broadcast
    // side shrinks by the same ~5x.
    val sets = df.select(col(idCol).as("id"),
      shingleHashSet(col(textCol), shingleSize).as("sh"))
    val a = sets.select(col("id").as("id_a"), col("sh").as("sh_a"))
      .repartition(col("id_a"))
    val b = sets.select(col("id").as("id_b"), col("sh").as("sh_b"))
    a.crossJoin(broadcast(b))
      .filter(col("id_a") < col("id_b"))
      .withColumn("jaccard", jaccardSorted(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** Dedup recall measurement — the "measure, don't guess" dial for the
    * banded-LSH pipeline (the ANN side has recall@k; this is its dedup
    * sibling): run [[minhashNearDuplicates]] and the exact
    * [[bruteForceJaccardPairs]] baseline over the same (bounded) subset at
    * the same threshold, and report exact-integer counts. Verified minhash
    * pairs are exact-Jaccard-filtered, so they are a SUBSET of the ground
    * truth — precision is 1.0 by construction and the number that matters
    * is RECALL (what the banding missed): recall_ppm = ⌊10⁶·found/exact⌋.
    * One row: (n_exact, n_found, recall_ppm).
    */
  def minhashRecallStats(df: DataFrame, idCol: String, textCol: String,
                         threshold: Double, numHashes: Int = 16,
                         bands: Int = 4, shingleSize: Int = 5): DataFrame = {
    val exact = bruteForceJaccardPairs(df, idCol, textCol, threshold, shingleSize)
    val found = minhashNearDuplicates(df, idCol, textCol, threshold,
      numHashes, bands, shingleSize)
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(found.agg(count(lit(1)).as("n_found")))
      .select(col("n_exact"), col("n_found"),
        when(col("n_exact") === 0, lit(0L))
          .otherwise(expr("(1000000 * n_found) div n_exact")).as("recall_ppm"))
  }

  /** N-gram (token shingle) Jaccard similarity for explicit pairs of rows —
    * the exact-verify primitive behind `minhashNearDuplicates`, exposed
    * standalone for pair-scoring use.
    */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   pairs: DataFrame, n: Int = 3): DataFrame = {
    // hashed shingle sets (r21, see [[shingleHashSet]]) — same counts,
    // 8-byte elements across the exchange, sorted-merge per pair
    val sets = df.select(col(idCol).as("id"), shingleHashSet(col(textCol), n).as("sh"))
    // sets carries shingle ARRAYS — the size-underestimate shape that made
    // the minhash verify joins flip to a broadcast of a corpus-proportional
    // HashedRelation (see minhashPerDoc); pinned for the same reason
    pairs
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a"))
        .hint("shuffle_hash"), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b"))
        .hint("shuffle_hash"), "id_b")
      .select(col("id_a"), col("id_b"),
        Nums.round6(jaccardSorted(col("sh_a"), col("sh_b"))).as("jaccard"))
  }
}
