package graft

import graft.ops.Corpus
import org.apache.spark.sql.functions._

/** Plan-shape assertions — the properties that keep queries scalable are
  * checked, not assumed: filter/projection pushdown into the parquet scan,
  * broadcast for small dimensions, top-K without a full sort.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter and projection reach the parquet scan") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_quantity") > 45)
      .select("l_orderkey", "l_quantity")
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45"),
      s"filter not pushed down:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"projection not pruned:\n$plan")
  }

  test("small dimension join broadcasts (no shuffle of the fact side)") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    val customer = spark.read.parquet(s"$sf/customer.parquet")
    val j = orders.join(customer, col("o_custkey") === col("c_custkey"))
      .join(nation, col("c_nationkey") === col("n_nationkey"))
    val plan = planOf(j)
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("latest-N is TakeOrderedAndProject, not a global sort") {
    val dir = tmpDir("corpus_")
    import spark.implicits._
    Pipeline.ingest(spark, Seq(("x", 1), ("y", 2)).toDF("content", "n"), dir)
    val plan = planOf(Corpus.latestRecords(spark, dir, 5))
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-K plan:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"), s"unexpected global sort:\n$plan")
  }

  test("graft_dot scoring stays inside whole-stage codegen") {
    val v = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    val df = v.select(graft.ops.Similarity.dot(col("vec"), col("vec")).as("d"))
    val plan = planOf(df)
    // '*(n)' prefixes mark operators fused into a WholeStageCodegen stage
    assert(plan.contains("*(1) Project [graft_dot"), s"expected codegen'd projection:\n$plan")
    assert(df.count() > 0) // and it must actually execute compiled
  }

  test("IVF assignment is map-side: no Exchange anywhere in the plan") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cents = graft.ops.Similarity.seedCentroids(emb, 4)
    val assigned = graft.ops.Similarity.ivfAssign(emb, cents)
    val plan = planOf(assigned)
    assert(!plan.contains("Exchange"),
      s"nearest-centroid assignment must not shuffle the corpus:\n$plan")
    assert(assigned.count() > 0)
  }

  test("IVF assignment stays codegen-fused at realistic k (k=32, real dim)") {
    // r3's greatest-over-k-structs formulation generated O(k×dim) source —
    // fine at the k=4 pin above but a split/fallback risk at realistic k.
    // The graft_argmax_cos kernel embeds the centroid matrix as ONE
    // reference object; this pins that the projection is still fused into
    // WholeStageCodegen (the '*(n)' prefix) at k=32 over the real 64-dim
    // embeddings, and that it executes compiled.
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cents = graft.ops.Similarity.seedCentroids(emb, 32)
    val assigned = graft.ops.Similarity.ivfAssign(emb, cents)
    val plan = planOf(assigned)
    assert(!plan.contains("Exchange"), s"assignment must not shuffle:\n$plan")
    assert("""\*\(\d+\) Project \[.*graft_argmax_cos""".r.findFirstIn(plan).isDefined,
      s"expected codegen-fused graft_argmax_cos projection:\n${plan.take(2000)}")
    assert(assigned.select(countDistinct(col("cluster"))).head().getLong(0) > 1)
  }

  test("lshBucket plan size is O(1) in planes (kernel, not literal arrays)") {
    // the pre-r7 per-plane when(graft_dot(vec, array(lit…))) chain inlined
    // planes×dim double literals into the plan (16k at planes=32/dim=512);
    // the graft_lsh_bucket kernel carries the matrix as ONE reference
    // object. Pin: at planes=32 over the real 64-dim embeddings the
    // bucketing is a codegen-fused projection and the formatted plan stays
    // small (a literal-array plan is hundreds of KB).
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val bucketed = emb.select(col("id"),
      graft.ops.Similarity.lshBucket(col("vec"), numPlanes = 32, dim = 64).as("bucket"))
    val plan = planOf(bucketed)
    assert("""\*\(\d+\) Project \[.*graft_lsh_bucket""".r.findFirstIn(plan).isDefined,
      s"expected codegen-fused graft_lsh_bucket projection:\n${plan.take(2000)}")
    // ONE kernel call carrying the matrix as a single literal — not 32
    // when(graft_dot(...) >= 0) branches (the plan string still renders the
    // matrix VALUE; the disease was per-plane expression nodes and their
    // generated code, so pin their absence)
    assert(!plan.contains("graft_dot("), "no per-plane dot expressions expected")
    assert(!plan.contains("CASE WHEN"), "no per-plane sign branches expected")
    assert("graft_lsh_bucket".r.findAllIn(plan).length == 1)
    // 32-char '0'/'1' keys, more than one bucket populated
    val keys = bucketed.select(col("bucket")).distinct().collect().map(_.getString(0))
    assert(keys.forall(k => k.length == 32 && k.forall(c => c == '0' || c == '1')))
    assert(keys.length > 1)
  }

  test("ivfAssign of an empty centroid table is an empty result, not an error") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val empty = graft.ops.Similarity.seedCentroids(emb.limit(0), 4)
    val assigned = graft.ops.Similarity.ivfAssign(emb, empty)
    assert(assigned.columns.toSeq == Seq("id", "vec", "nrm", "cluster"))
    assert(assigned.count() == 0)
  }

  test("graft_doti quantized scoring stays inside whole-stage codegen") {
    val v = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        graft.ops.Similarity.quantizeInt(col("embedding").cast("array<double>")).as("iv"))
    val df = v.select(graft.ops.Similarity.dotQuantized(col("iv"), col("iv")).as("d"))
    val plan = planOf(df)
    // '*(n)' prefix = the scoring projection is fused into a
    // WholeStageCodegen stage (the quantize transform HOF above it is not,
    // which is fine — quantization is one pass; scoring runs per PAIR)
    assert("""\*\(\d+\) Project \[graft_doti""".r.findFirstIn(plan).isDefined,
      s"expected codegen'd graft_doti projection:\n$plan")
    assert(df.count() > 0) // and it must actually execute compiled
  }

  test("duplicatedSpans: shuffles on gram/doc keys only — no cartesian, no big-side broadcast") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.ops.SubstringDedup.duplicatedSpans(docs, "doc_id", "text", k = 8))
    assert(!plan.contains("CartesianProduct"), s"all-pairs crept in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join crept in:\n$plan")
    // exactly the three key shuffles the design calls for: gram hash-agg,
    // gram semi-join (shared exchange), doc-id window
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 4, s"unexpected extra shuffles ($exchanges):\n$plan")
  }

  test("canonicalUrl is a pure codegen'd projection: no shuffle, no UDF") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(concat(lit("https://Example.com:443/p?b=2&a=1#f"), col("doc_id")).as("url"))
    val plan = planOf(docs.select(graft.ops.Urls.canonicalUrl(col("url"))))
    assert(!plan.contains("Exchange"), s"normalization must be map-only:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"expected pure expressions:\n$plan")
    assert(plan.contains("*(1) Project"), s"expected codegen'd projection:\n$plan")
  }

  test("dedupParagraphs: agg + unskewed semi-join — no window on the para key, no driver funnel") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.ops.Dedup.dedupParagraphs(docs, "doc_id", "text"))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs crept in:\n$plan")
    // A window partitioned by the paragraph would funnel every copy of a
    // boilerplate paragraph to one reducer — the design is a map-side-
    // combined min(struct) aggregate plus an (id, pidx)-keyed semi-join,
    // so the plan must contain NO window at all.
    assert(!plan.contains("Window"), s"skew-prone para window crept back:\n$plan")
    // key shuffles: para-keyed agg, the two semi-join sides, doc-id agg
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 5, s"unexpected extra shuffles ($exchanges):\n$plan")
  }

  test("dedupKeepFirst: null-safe composite keys still plan as a hash semi-join") {
    // r18 hardened the semi-join to keyCols :+ id with null-SAFE key
    // equality (<=>). EqualNullSafe must still extract as hash-join keys —
    // if it ever degrades to a BroadcastNestedLoopJoin the corpus gets
    // compared row-by-row against every winner. The paragraph-dedup skew
    // argument also still holds: no window anywhere.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.ops.Dedup.dedupKeepFirst(docs, "doc_id", Seq("text")))
    assert(plan.contains("ShuffledHashJoin") && plan.contains("LeftSemi"),
      s"expected shuffle-hash LeftSemi:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"null-safe keys fell out of the equi-join path:\n$plan")
    assert(!plan.contains("Window"), s"skew-prone key window crept back:\n$plan")
  }

  test("packSequences: cumsum window partitions by (stratum, bucket), offsets broadcast") {
    // The r18 bucketed running sum must keep its two scale properties:
    // the big-table window key includes the md5-prefix bucket (256× the
    // bare per-stratum parallelism) and the tiny offsets table reaches the
    // corpus via a broadcast join, never a corpus shuffle.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.ops.Curate.packSequences(
      docs, "doc_id", "text", "lang", seqLen = 512L))
    assert(plan.contains("BroadcastHashJoin"),
      s"offsets must broadcast to the corpus side:\n$plan")
    // the window's required distribution shows up as a hashpartitioning
    // exchange on BOTH the partition column and the bucket
    assert("hashpartitioning\\(lang[#0-9]*, __g_bkt".r.findFirstIn(plan).isDefined,
      s"window must partition by (stratum, bucket):\n$plan")
  }

  test("robotsVerdict: rules broadcast; the URL side never broadcasts") {
    import spark.implicits._
    val robots = Seq(("example.com", "User-agent: *\nDisallow: /p")).toDF("host", "body")
    val urls = spark.read.parquet(s"$sf/documents.parquet")
      .select(concat(lit("https://example.com/p/"), col("doc_id")).as("url"))
    val df = graft.ops.Urls.robotsVerdict(urls, "url", robots, "host", "body", "bot")
    assert(df.count() > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"rules must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"nested-loop crept in:\n$plan")
  }

  test("sitemapUrls is map-only: no Exchange before the explode") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(concat(lit("<urlset><url><loc>https://e.com/"), col("doc_id"),
        lit("</loc></url></urlset>")).as("xml"))
    val plan = planOf(graft.ops.Urls.sitemapUrls(docs, "xml"))
    assert(!plan.contains("Exchange"), s"sitemap scan must be map-only:\n$plan")
  }

  test("5-way join broadcasts every dimension table") {
    val df = Queries.queries("q_sql_multijoin")(spark, sf)
    assert(df.count() > 0)
    val plan = df.queryExecution.executedPlan.toString
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 3,
      s"region/nation/supplier should all broadcast, got $broadcasts:\n$plan")
  }

  test("version-scoped corpus reads prune to their schema_version partitions") {
    val dir = tmpDir("corpus_")
    import spark.implicits._
    Pipeline.ingest(spark, Seq(("a", 1)).toDF("a", "n"), dir)   // version 1
    Pipeline.ingest(spark, Seq(("b", 2)).toDF("b", "n"), dir)   // version 2
    val scoped = Corpus.records(spark, dir).filter(col("schema_version") === 2)
    val plan = planOf(scoped)
    assert(plan.contains("PartitionFilters") && plan.contains("schema_version"),
      s"expected partition pruning on schema_version:\n$plan")
    assert(scoped.count() == 1)
  }

  test("co-bucketed tables join with no Exchange on either side") {
    import graft.ops.Bucketing
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val ord = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey")
    Bucketing.writeBucketed(li, "li_bkt", "l_orderkey", 4)
    Bucketing.writeBucketed(ord, "ord_bkt", "o_orderkey", 4)
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a shuffle-family join so the assertion pins bucketing, not a
      // broadcast that would skip the exchange anyway
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("li_bkt")
        .join(spark.table("ord_bkt"), col("l_orderkey") === col("o_orderkey"))
      assert(j.count() > 0)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected sort-merge join:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"co-bucketed join must not re-shuffle either side:\n$plan")
      assert(plan.contains("Bucketed: true"), s"bucketed scan not used:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      spark.sql("DROP TABLE IF EXISTS li_bkt")
      spark.sql("DROP TABLE IF EXISTS ord_bkt")
    }
  }

  test("chunking is a single map-only stage: no Exchange before the explode") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(
      graft.ops.Chunking.chunkDocuments(docs, "doc_id", "text", 64, 48))
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n$plan")
    assert(plan.contains("Generate explode"), s"expected explode generator:\n$plan")
  }

  test("shardOf is a pure codegen'd projection: no shuffle, no UDF") {
    val df = spark.range(100)
      .select(graft.ops.Bucketing.shardOf(col("id"), 16).as("shard"))
    val plan = planOf(df)
    assert(!plan.contains("Exchange"), s"shard assignment must not shuffle:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"must be expression-only:\n$plan")
    assert(plan.contains("*(1)"), s"expected whole-stage codegen:\n$plan")
  }

  test("noveltyScore shuffles on shingle/doc keys only — no cartesian, no global sort") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "b c d e")).toDF("doc_id", "text")
    val plan = planOf(graft.ops.TextAnalysis.noveltyScore(docs, "doc_id", "text"))
    assert(!plan.contains("CartesianProduct"), s"no all-pairs allowed:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"), s"no global sort:\n$plan")
  }

  test("anchorTextIndex: codegen'd extraction, single hash-agg on the href") {
    import spark.implicits._
    val pages = Seq((1L, """<a href="/x">home</a>""")).toDF("id", "html")
    val plan = planOf(graft.ops.Urls.anchorTextIndex(pages, "html"))
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"extraction must be expression-only:\n$plan")
    assert(plan.contains("ObjectHashAggregate") || plan.contains("HashAggregate"),
      s"expected hash aggregation:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
  }

  test("bloom probe is a pushed/codegen'd filter with O(1) plan size") {
    import spark.implicits._
    val dim = (1L to 1000L).toDF("dk")
    // realistic sizing: 64 KiB of bits = 1024 packed longs in ONE literal
    val bits = graft.ops.Bloom.build(dim, "dk", m = 1 << 19, k = 3)
    val fact = spark.read.parquet(s"$sf/orders.parquet")
    val probed = fact.filter(graft.ops.Bloom.mightContain(bits, col("o_custkey")))
    val plan = planOf(probed)
    assert(!plan.contains("Exchange"), s"probe must stay map-side:\n$plan")
    assert(plan.contains("*(1)"), s"probe must stay in whole-stage codegen:\n$plan")
    // ONE kernel call carrying the packed words as a single literal — the
    // element_at formulation it replaced rendered the words array once per
    // probe hash. The plan string legitimately shows the Filter condition
    // twice (Filter node + the scan's DataFilters echo), so pin 1..2 — a
    // per-hash regression shows k×2 occurrences (or zero for a rewrite
    // back to element_at, caught by the lower bound).
    val occurrences = "graft_bloom".r.findAllIn(plan).length
    assert(occurrences >= 1 && occurrences <= 2,
      s"expected 1-2 graft_bloom renderings, got $occurrences:\n${plan.take(2000)}")
    assert(probed.count() > 0) // and it must actually execute compiled
  }

  test("collapsed-Hamming join: corpus-proportional sides shuffle, never broadcast") {
    // The r14 sf3 lesson (3.0B output pairs): Catalyst broadcast the
    // per-DOCUMENT sigs table into the doc-pair expansion joins and the
    // same-sig self-join, OOMing a 24g local[32] heap — and a billion-row
    // broadcast is impossible at full scale. The pin keeps exactly one
    // broadcast: the leftsemi against the DISTINCT values (bounded by
    // 2^bits, corpus-size-independent).
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.ops.Dedup.simhashNearDuplicates(
      docs, "doc_id", "text", bits = 16, maxDistance = 3))
    val shuffled = "ShuffledHashJoin".r.findAllIn(plan).length
    val broadcast = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(shuffled == 3,
      s"expected the 2 expansion joins + same-sig self-join pinned " +
        s"shuffle-hash, got $shuffled:\n${plan.take(3000)}")
    assert(broadcast == 1 &&
        "BroadcastHashJoin .*LeftSemi".r.findFirstIn(plan).isDefined,
      s"the only broadcast must be the bounded distinct-values leftsemi, " +
        s"got $broadcast:\n${plan.take(3000)}")
  }

  test("simhashDedupIds narrow path: corpus never shuffle-joins — broadcasts + one min-agg only") {
    // The survivor variant's scale contract: components and survivors are
    // bounded by 2^bits VALUES (never corpus size), so they ride explicit
    // broadcasts, and the only corpus-proportional Exchange left is the
    // map-side-combined min-aggregate. No shuffle join of the corpus at all.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.ops.Dedup.simhashDedupIds(
      docs, "doc_id", "text", bits = 16, maxDistance = 3))
    assert("SortMergeJoin".r.findFirstIn(plan).isEmpty &&
        "ShuffledHashJoin".r.findFirstIn(plan).isEmpty,
      s"corpus must never shuffle-join on the narrow path:\n${plan.take(3000)}")
    // The invariant is "every join of the corpus is a broadcast of a
    // value-bounded side": the component left-join (which Spark today
    // evaluates on both sides of the final join — 2 instances) plus the
    // survivor join. Assert the SHAPE (all joins broadcast, at least the
    // two distinct logical joins present), not an exact operator count —
    // a Spark/AQE upgrade that deduplicates the recomputed `labeled`
    // subtree would change 3→2 with zero correctness impact (r16 advice).
    val broadcast = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcast >= 2 && broadcast <= 4,
      s"expected the component left-join + survivor join as broadcasts " +
        s"(2-4 instances depending on subtree dedup), " +
        s"got $broadcast:\n${plan.take(3000)}")
  }

  test("minhash verify joins stay pinned shuffle-hash (no shingle-set broadcast)") {
    // Same design rule, r12 vintage: the shingle-array sets side is
    // corpus-proportional and its size estimate runs low — left to the
    // planner the verify joins flip to broadcast near the threshold
    // (measured 2x slower at sf1 and bimodal across clean runs).
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.ops.Dedup.minhashNearDuplicates(
      docs, "doc_id", "text", threshold = 0.9))
    val shuffled = "ShuffledHashJoin".r.findAllIn(plan).length
    assert(shuffled >= 3,
      s"expected banded self-join + 2 verify joins shuffle-hash, " +
        s"got $shuffled:\n${plan.take(3000)}")
    assert("BroadcastHashJoin .*, Inner".r.findFirstIn(plan).isEmpty,
      s"no corpus-proportional side may broadcast into an inner join:\n" +
        plan.take(3000))
  }

  test("minhash bucket self-join keys on (int, bigint); no string crosses its exchange") {
    // Band keys are 64-bit hashes, not md5 text: the join keys are (band,
    // bkey) as (int, bigint), and the one exchange bucket rows cross (the
    // cache fill) carries no string, neither as the key nor as the id.
    // Final plans of a run are read, cached plans included, since the
    // initial plan still shows exchanges that never run.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    import org.apache.spark.sql.types._
    def hasString(t: DataType): Boolean = t match {
      case ArrayType(e, _) => hasString(e)
      case _ => t.isInstanceOf[StringType]
    }
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    spark.catalog.clearCache()
    val (pairs, cached) = graft.ops.Materialize.tracked(
      graft.ops.Dedup.minhashCandidatePairs(docs, "doc_id", "text"))
    try {
      val nodes = FinalPlans.nodesWithCaches(FinalPlans.during(spark)(pairs.collect()))
      val joins = nodes.collect { case j: ShuffledHashJoinExec => j }
      assert(joins.size == 1, s"expected the one bucket self-join: $joins")
      val j = joins.head
      assert(j.leftKeys.map(_.dataType) == Seq(IntegerType, LongType) &&
        j.rightKeys.map(_.dataType) == Seq(IntegerType, LongType),
        s"band self-join keys: ${j.leftKeys} / ${j.rightKeys}")
      val fills = nodes.collect {
        case e: ShuffleExchangeExec if e.output.exists(_.name == "bkey") => e.output
      }
      assert(fills.size == 1, s"bucket rows crossed ${fills.size} exchanges: $fills")
      val strings = fills.head.filter(a => hasString(a.dataType))
      assert(strings.isEmpty, s"string columns cross the exchange: $strings")
    } finally cached.foreach(_.unpersist(blocking = true))
  }

  test("minhash dedup shuffles each shared table once: bucket rows and shingle sets") {
    // Each read of a persisted frame is its own AQE table-cache stage, so
    // two exchanges above two reads of one cache never merge. The bucket
    // table (both sides of the bucket self-join) and the candidate shingle
    // sets (both verify joins) are persisted already partitioned on their
    // join key: the bucket rows cross one exchange, the cache fill's, and
    // the sets are built once. Cached plans are searched too, each once.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    spark.catalog.clearCache()
    val plans = FinalPlans.during(spark) {
      graft.ops.Dedup.dropNearDuplicates(docs, "doc_id", "text", 0.9).collect()
    }
    val nodes = FinalPlans.nodesWithCaches(plans)
    val bucketExchanges = nodes.collect {
      case e: ShuffleExchangeExec if e.output.exists(_.name == "bkey") => e
    }
    assert(bucketExchanges.size == 1,
      s"bucket rows crossed ${bucketExchanges.size} exchanges:\n" +
        bucketExchanges.mkString("\n"))
    val shingling = nodes.filter(_.expressions.exists(
      _.exists(_.isInstanceOf[graft.functions.ShingleHashes])))
    assert(shingling.size == 1,
      s"shingle sets built by ${shingling.size} operators:\n" +
        shingling.map(_.simpleString(200)).mkString("\n"))
  }

  test("minhash buckets ship (id, band, bkey); pairs cross one id_a exchange to verify") {
    // The bucket cache fill carries the three bucket columns and no array.
    // A pair agreeing on several bands leaves the bucket join once per
    // band; it is deduplicated on an id_a exchange, and that exchange is
    // the only one candidate pairs cross before the first verify join
    // (keyed on id_a) reads them. A pair dedup with an exchange of its own,
    // on (id_a, id_b), would make two.
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    import org.apache.spark.sql.types.ArrayType
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    spark.catalog.clearCache()
    val nodes = FinalPlans.nodesWithCaches(FinalPlans.during(spark) {
      graft.ops.Dedup.dropNearDuplicates(docs, "doc_id", "text", 0.9,
        collapse = Some(false)).collect()
    })
    val fills = nodes.collect {
      case e: ShuffleExchangeExec if e.output.exists(_.name == "bkey") => e.output
    }
    assert(fills.map(_.map(_.name)) == Seq(Seq("id", "band", "bkey")),
      s"bucket fill exchanges: $fills")
    assert(!fills.head.exists(_.dataType.isInstanceOf[ArrayType]),
      s"an array crosses the bucket fill: ${fills.head}")
    val pairExchanges = nodes.collect {
      case e: ShuffleExchangeExec if e.output.map(_.name) == Seq("id_a", "id_b") => e
    }
    assert(pairExchanges.size == 1,
      s"candidate pairs crossed ${pairExchanges.size} exchanges:\n" +
        pairExchanges.mkString("\n"))
    val keys = pairExchanges.head.outputPartitioning match {
      case h: HashPartitioning => h.expressions.map(_.references.map(_.name).toSeq)
      case other => fail(s"pair exchange is not hash-partitioned: $other")
    }
    assert(keys == Seq(Seq("id_a")), s"pair exchange keys: $keys")
    val bucketJoins = FinalPlans.collect(pairExchanges.head.child) {
      case j: ShuffledHashJoinExec if j.leftKeys.size == 2 => j
    }
    assert(bucketJoins.size == 1,
      s"the pair exchange does not sit above the bucket join:\n${pairExchanges.head}")
    val verify = nodes.collect {
      case j: ShuffledHashJoinExec if j.leftKeys.map(_.references.map(_.name).toSeq) ==
        Seq(Seq("id_a")) => j
    }
    assert(verify.size == 1, s"first verify joins: ${verify.size}")
  }

  test("saltedJoin stays pinned shuffle-hash (no replicated-dim broadcast)") {
    // Same design rule, r16 vintage: Catalyst cannot see the salts×
    // explode in its size estimate, so near the broadcast threshold the
    // replicated dim side flips to broadcast (measured at ×10 rehearsal:
    // a 12M-row HashedRelation build, SLOWER than the ×30 corpus's
    // shuffle plan). A salted join's dim side is meaningfully sized by
    // premise — the shuffled plan is the only one that survives scale.
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"))
    val ord = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
    val plan = planOf(graft.ops.SkewJoin.saltedJoin(li, ord, Seq("l_orderkey"), 8))
    assert("ShuffledHashJoin".r.findFirstIn(plan).isDefined,
      s"the salted join must be shuffle-hash:\n${plan.take(3000)}")
    assert("BroadcastHashJoin".r.findFirstIn(plan).isEmpty,
      s"the salts-replicated dim side must never broadcast:\n${plan.take(3000)}")
  }

  test("fuzzy selfJoin stays pinned shuffle-hash (both sides are the corpus)") {
    // Same estimate-blind-explode flip class as saltedJoin: each side is
    // the corpus twice (band + band+1), so neither may ever broadcast.
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    val plan = planOf(graft.ops.FuzzyJoin.selfJoin(
      cust, "c_custkey", "c_name", maxDist = 1))
    assert("ShuffledHashJoin".r.findFirstIn(plan).isDefined,
      s"the band self-join must be shuffle-hash:\n${plan.take(3000)}")
    assert("BroadcastHashJoin".r.findFirstIn(plan).isEmpty,
      s"neither corpus side may broadcast:\n${plan.take(3000)}")
  }
}
