package graft

import graft.ops.Curate
import org.apache.spark.sql.functions._

class CurateSpec extends SparkSpec {
  import spark.implicits._

  // long-ish English docs score well on the quality formula; 1 and 2 are
  // exact duplicates; 9 is junk (low quality)
  private val good = "the data of the table is it that for a scan and the " +
    "merge of the batch is it that for a join and the filter of the query"
  private val docs = Seq(
    (1L, good + " alpha", "en"),
    (2L, good + " alpha", "en"), // exact dup of 1 → dropped by dedup
    (3L, good + " bravo extra words here make this one different enough", "en"),
    // enough distinct trailing words that the shingle jaccard vs doc 1
    // stays well under 0.9 (the repetitive base text overlaps heavily)
    (4L, good + " charlie delta echo foxtrot golf hotel india juliet kilo", "fr"),
    (9L, "!!! ??? !!!", "en") // punctuation junk → dropped by quality gate
  ).toDF("doc_id", "text", "lang")

  test("curateCorpus: quality gate, dedup, and budget compose") {
    val out = Curate.curateCorpus(docs, "doc_id", "text", "lang",
      minQuality = 0.5, dupThreshold = 0.9, tokenBudget = 1000L)
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(9L), "junk doc must fail the quality gate")
    assert(!ids.contains(2L), "non-canonical duplicate must be dropped")
    assert(ids.contains(1L) && ids.contains(3L) && ids.contains(4L), s"got $ids")
    // summary adds up
    val sum = Curate.curationSummary(out, "lang").orderBy("lang")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(sum == Seq(("en", 2L), ("fr", 1L)), s"got $sum")
  }

  test("curateCorpus: the survivor anti-join ships no text when few docs lose") {
    // A mostly distinct corpus (the probe keeps the per-document path) with
    // 20 last-token near-dups: 20 losers against 420 gated rows, so the
    // anti-join inside curateCorpus must broadcast the losers rather than
    // shuffle the gated corpus. Only construction is captured — the
    // budget window that shuffles the survivors runs later, lazily.
    val rnd = new scala.util.Random(13)
    def doc() = Seq.fill(30)(s"w${rnd.nextInt(5000)}").mkString(" ")
    val base = (1 to 400).map(i => (i.toLong, doc(), "en"))
    val near = base.take(20).map { case (i, t, l) => (1000L + i, t + " tail", l) }
    val corpus = (base ++ near).toDF("doc_id", "text", "lang")
    var curated: org.apache.spark.sql.DataFrame = null
    val plans = FinalPlans.during(spark) {
      curated = Curate.curateCorpus(corpus, "doc_id", "text", "lang",
        minQuality = 0.0, dupThreshold = 0.9, tokenBudget = 1000000L)
    }
    val textual = FinalPlans.shuffleOutputs(plans).filter(_.contains("text"))
    assert(textual.isEmpty, s"exchanges carrying text: $textual")
    assert(curated.count() == 400L)
  }

  test("curateCorpus: token budget caps each language independently") {
    // budget below a single doc's token count → everything capped out
    val none = Curate.curateCorpus(docs, "doc_id", "text", "lang",
      minQuality = 0.5, dupThreshold = 0.9, tokenBudget = 3L)
    assert(none.count() == 0)
    // budget fitting exactly one doc per lang (en docs: 30/38 tokens, so a
    // second one always overflows; fr doc: 39 tokens)
    val one = Curate.curateCorpus(docs, "doc_id", "text", "lang",
      minQuality = 0.5, dupThreshold = 0.9, tokenBudget = 40L)
    val byLang = one.groupBy("lang").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(byLang.getOrElse("fr", 0L) == 1L, s"got $byLang")
    assert(byLang.getOrElse("en", 0L) == 1L, s"got $byLang")
  }

  test("packSequences: concat-and-chunk manifest, doc attributed to its start chunk") {
    import spark.implicits._
    // one stratum, 4 docs of 3 tokens each in known md5 order; seqLen=5:
    // starts are 0,3,6,9 → seq_no 0,0,1,1
    val df = Seq((1L, "a b c"), (2L, "d e f"), (3L, "g h i"), (4L, "j k l"))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
    val out = Curate.packSequences(df, "doc_id", "text", "lang", seqLen = 5L)
      .orderBy("seq_no").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // 2 sequences, 2 docs and 6 tokens each, regardless of which ids md5
    // puts first (starts depend only on the 3-token sizes)
    assert(out == Seq((0L, 2L, 6L), (1L, 2L, 6L)), s"got $out")
    // a doc longer than seqLen lands in ONE chunk (its start) and carries
    // its full token count
    val long = Seq((1L, ("x " * 12).trim)).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
    val lout = Curate.packSequences(long, "doc_id", "text", "lang", seqLen = 5L)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(lout == Seq((0L, 1L, 12L)), s"got $lout")
  }

  test("splitCorpus: exhaustive, disjoint, deterministic, ~proportional") {
    import spark.implicits._
    val docs = (0L until 2000L).toDF("id")
    val out = graft.ops.Curate.splitCorpus(docs, "id",
      Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(out.length == 2000, "every row labeled exactly once")
    val byLabel = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byLabel.keySet == Set("train", "val", "test"))
    assert(byLabel("train") > 1500 && byLabel("val") > 120 && byLabel("test") > 120,
      s"proportions off: $byLabel")
    // reproducible
    val again = graft.ops.Curate.splitCorpus(docs, "id",
      Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(again.toSeq == out.toSeq)
    // nested: growing train 0.8 -> 0.9 never moves a train doc out
    val bigger = graft.ops.Curate.splitCorpus(docs, "id",
      Seq(("train", 0.9), ("rest", 0.1))).collect()
      .filter(_.getString(1) == "train").map(_.getLong(0)).toSet
    val trainIds = out.filter(_._2 == "train").map(_._1).toSet
    assert(trainIds.subsetOf(bigger))
  }

  test("bucketedRunningSum equals the bare per-partition window, null part included") {
    // The r18 scalable reshape (256 md5-prefix buckets + offsets) must be
    // row-identical to sum().over(partitionBy(part).orderBy(md5(id), id)),
    // including for rows whose partition value is NULL (the offsets join
    // is null-safe, mirroring Window.partitionBy's null-as-a-group).
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // null LANG rows (partition-null path) and null NT rows (the bare
    // window's null-until-first-non-null running-sum semantics) both in
    val rows: Seq[(Long, String, java.lang.Long)] = (1L to 500L).map(i =>
      (i, if (i % 7 == 0) null else s"lang${i % 3}",
        if (i % 11 == 0) null
        else java.lang.Long.valueOf((i % 13) + 1))).toSeq ++
      Seq((501L, "lang0", java.lang.Long.valueOf(5L)),
        (502L, null.asInstanceOf[String], java.lang.Long.valueOf(3L)),
        (503L, "onlynulls", null.asInstanceOf[java.lang.Long]),
        (504L, "onlynulls", null.asInstanceOf[java.lang.Long]))
    val df = spark.createDataFrame(rows).toDF("id", "lang", "nt")
    def cums(out: org.apache.spark.sql.DataFrame): Map[Long, Any] =
      out.select("id", "c").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1)))
        .toMap
    val bare = cums(df.withColumn("c",
      sum(col("nt")).over(Window.partitionBy(col("lang"))
        .orderBy(md5(col("id").cast("string")), col("id")))))
    val bucketed = cums(graft.ops.Curate
      .bucketedRunningSum(df, "lang", "id", col("nt"), "c"))
    assert(bucketed.size == bare.size, s"${bucketed.size} vs ${bare.size} rows")
    val diverged = bare.collect { case (id, c) if bucketed(id) != c =>
      (id, c, bucketed(id))
    }
    assert(diverged.isEmpty, s"running sums diverge: ${diverged.take(5)}")
  }

  test("bucketedRunningSum keeps null-id rows (null bucket joins null-safely)") {
    // A null id hashes to a null md5 and hence a null bucket; the offsets
    // join must match it null-safely or the row silently DROPS (the r18
    // advice finding — the bare window it replaces keeps such rows, they
    // sort first and tie as RANGE-frame peers). rid is the row key; idc is
    // the nullable ordering id the helper hashes.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val rows: Seq[(Long, java.lang.Long, String, java.lang.Long)] =
      (1L to 300L).map(i =>
        (i, if (i % 13 == 0) null else java.lang.Long.valueOf(i),
          if (i % 7 == 0) null else s"lang${i % 3}",
          if (i % 11 == 0) null
          else java.lang.Long.valueOf((i % 5) + 1))).toSeq
    val df = spark.createDataFrame(rows).toDF("rid", "idc", "lang", "nt")
    def cums(out: org.apache.spark.sql.DataFrame): Map[Long, Any] =
      out.select("rid", "c").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1)))
        .toMap
    val bare = cums(df.withColumn("c",
      sum(col("nt")).over(Window.partitionBy(col("lang"))
        .orderBy(md5(col("idc").cast("string")), col("idc")))))
    val bucketed = cums(graft.ops.Curate
      .bucketedRunningSum(df, "lang", "idc", col("nt"), "c"))
    assert(bucketed.size == bare.size,
      s"row loss: ${bucketed.size} vs ${bare.size} rows")
    val diverged = bare.collect { case (id, c) if bucketed(id) != c =>
      (id, c, bucketed(id))
    }
    assert(diverged.isEmpty, s"running sums diverge: ${diverged.take(5)}")
  }
}
