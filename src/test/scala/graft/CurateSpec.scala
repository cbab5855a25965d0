package graft

import graft.ops.{Curate, Dedup}
import org.apache.spark.sql.DataFrame
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
    // shuffle the gated corpus. Only construction is captured, which
    // includes the budget cut's per-bucket aggregate; the curated rows are
    // a map-only filter of the survivors (pinned below).
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

  test("curateCorpus reads its input once, and the budget's fold fills the survivors") {
    // The survivors' checkpoint is filled by the budget's fold, so that fold
    // must run while the gated cache is alive: run after the scope releases
    // it, it would compute the quality features over the input again. The
    // input is an RDD that counts its rows as they are computed.
    val rnd = new scala.util.Random(13)
    def doc() = Seq.fill(30)(s"w${rnd.nextInt(5000)}").mkString(" ")
    val base = (1 to 400).map(i => (i.toLong, doc(), "en"))
    val near = base.take(20).map { case (i, t, l) => (1000L + i, t + " tail", l) }
    val reads = spark.sparkContext.longAccumulator("curate_reads")
    val corpus = spark.sparkContext.parallelize(base ++ near, 4)
      .map { r => reads.add(1L); r }.toDF("doc_id", "text", "lang")
    var curated: DataFrame = null
    val jobs = FinalPlans.jobSitesDuring(spark) {
      curated = Curate.curateCorpus(corpus, "doc_id", "text", "lang",
        minQuality = 0.0, dupThreshold = 0.9, tokenBudget = 1000000L)
    }
    val fold = jobs.filter(_.name.startsWith("treeAggregate at Curate.scala"))
    assert(fold.size == 1 && fold.head.fills.size == 1, jobs.mkString("\n"))
    assert(curated.count() == 400L)
    assert(reads.value == 420L, s"${reads.value} input rows computed for 420")
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

  test("curateCorpus: no curated row crosses an exchange, even with every column kept") {
    // The anti-join spec's corpus with every tenth document in fr: 360 en
    // survivors of 30 tokens each, 40 fr. A budget of 3000 cuts en inside
    // an md5 bucket and keeps all of fr. Construction and a full-row
    // collect must shuffle neither text nor any q_* feature column.
    val rnd = new scala.util.Random(13)
    def doc() = Seq.fill(30)(s"w${rnd.nextInt(5000)}").mkString(" ")
    val base = (1 to 400).map(i => (i.toLong, doc(), if (i % 10 == 0) "fr" else "en"))
    val near = base.take(20).map { case (i, t, l) => (1000L + i, t + " tail", l) }
    val corpus = (base ++ near).toDF("doc_id", "text", "lang")
    var rows = Array.empty[org.apache.spark.sql.Row]
    val plans = FinalPlans.during(spark) {
      rows = Curate.curateCorpus(corpus, "doc_id", "text", "lang",
        minQuality = 0.0, dupThreshold = 0.9, tokenBudget = 3000L).collect()
    }
    val wide = FinalPlans.shuffleOutputs(plans)
      .filter(_.exists(c => c == "text" || c.startsWith("q_")))
    assert(wide.isEmpty, s"exchanges carrying document columns: $wide")
    val byLang = rows.groupBy(_.getAs[String]("lang")).view.mapValues(_.length).toMap
    assert(byLang == Map("en" -> 100, "fr" -> 40), s"got $byLang")
  }

  test("curateCorpus job count: the budget is cut from per-bucket sums") {
    // en's budget of 40 keeps one of its two survivors (30 and 38 tokens),
    // so the cut falls inside an md5 bucket. The probe memo is cleared so
    // the probe always runs. Each eager step is one job: the probe is one
    // fold that also fills the gated cache, each dedup cache is filled
    // once, and the budget's per-bucket sums are one fold. The rep graph
    // has no edges, so components run only their one job over the pairs,
    // and the persisted reps' SHA-256 group exchange runs once, in their
    // own fill. The survivors' checkpoint is filled by the budget's fold:
    // its own job, gone since, made this 24. The summary is one fold too;
    // its groupBy form's partial-count exchange and final aggregate, two
    // jobs, made this 23.
    Dedup.gateCacheClear()
    spark.catalog.clearCache()
    var summary = Seq.empty[(String, Long)]
    val jobs = FinalPlans.jobSitesDuring(spark) {
      summary = Curate.curationSummary(Curate.curateCorpus(docs, "doc_id", "text",
        "lang", minQuality = 0.5, dupThreshold = 0.9, tokenBudget = 40L), "lang")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    }
    assert(summary == Seq(("en", 1L), ("fr", 1L)), s"got $summary")
    assert(jobs.size == 22,
      s"curateCorpus + curationSummary ran ${jobs.size} jobs:\n${jobs.mkString("\n")}")
  }

  /** A random (rid, part, idc, v, part_bin, part_nan, part_zero) batch over
    * 1 + trial % 8 partitions: string parts, null parts, null ids (the null
    * bucket), duplicate ids (RANGE-frame peers), null and zero values, and
    * a part whose values are mostly null. The last three columns are copies
    * of part that Spark groups exactly as it groups part: its bytes (a new
    * array on every row), and two doubles where en is NaN (two bit
    * patterns) or 0.0 and -0.0.
    */
  private def randomBatch(rnd: scala.util.Random, trial: Int): DataFrame = {
    val parts = Seq("en", "fr", "sparse", null)
    val otherNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000123L)
    def asDouble(part: String, en: Double): java.lang.Double = part match {
      case null => null
      case "en" => en
      case "fr" => 1.5
      case _ => -2.0
    }
    val n = 1 + rnd.nextInt(2000)
    val rows = (0 until n).map { i =>
      val part = parts(rnd.nextInt(parts.size))
      // sparse has no null ids: a null bucket with a value would precede
      // its first non-null bucket, which must start with nulls
      val id = if (part != "sparse" && rnd.nextInt(15) == 0) null
        else java.lang.Long.valueOf(rnd.nextInt(n).toLong)
      val nullsIn10 = if (part == "sparse") 6 else 1
      val v = if (rnd.nextInt(10) < nullsIn10) null
        else java.lang.Long.valueOf(if (rnd.nextInt(4) == 0) 0L else rnd.nextInt(50).toLong)
      (i.toLong, part, id, v, if (part == null) null else part.getBytes("UTF-8"),
        asDouble(part, if (i % 2 == 0) Double.NaN else otherNaN),
        asDouble(part, if (i % 2 == 0) 0.0 else -0.0))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1 + trial % 8))
      .toDF("rid", "part", "idc", "v", "part_bin", "part_nan", "part_zero")
  }

  /** The part columns of [[randomBatch]]. */
  private val partCols = Seq("part", "part_bin", "part_nan", "part_zero")

  test("bucketSums folds exactly the rows of the per-(part, bucket) aggregate") {
    // Each partition's map is keyed by values read from a reused row buffer;
    // a key kept without a copy would merge the string parts of many rows
    val rnd = new scala.util.Random(11)
    for (trial <- 0 until 16) {
      val rows = randomBatch(rnd, trial)
        .select(col("part"), substring(md5(col("idc").cast("string")), 1, 2).as("b"), col("v"))
      val want = rows.groupBy(col("part"), col("b"))
        .agg(coalesce(sum(col("v")), lit(0L)), count(col("v")), count(lit(1)), min(col("v")))
        .collect().map(r => Curate.BucketSum(r.get(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4), if (r.isNullAt(5)) None else Some(r.getLong(5))))
      val got = Curate.bucketSums(rows)
      assert(got.size == want.length && got.toSet == want.toSet,
        s"trial $trial: ${got.toSet.diff(want.toSet).take(3)} vs ${want.toSet.diff(got.toSet).take(3)}")
    }
    // a sum past Long.MaxValue fails, as ANSI sum does: inside one task
    // (one partition), in the driver's merge (two), and across buckets
    // (ids 1 and 2 fall in different md5 buckets)
    def overflow(ids: Seq[Long], slices: Int) = {
      val big = ids.zipWithIndex.map { case (id, i) => (i.toLong, "en", id, Long.MaxValue / 2 + 1) }
      val df = spark.createDataFrame(spark.sparkContext.parallelize(big, slices))
        .toDF("rid", "part", "idc", "v")
      val e = intercept[Exception](Curate.budgetCut(df, "part", "idc", col("v"), 10L))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException]), s"ids $ids over $slices: $e")
    }
    overflow(Seq(5L, 5L), 1)
    overflow(Seq(5L, 5L), 2)
    overflow(Seq(1L, 2L), 1)
    val negative = Seq((1L, "en", 1L, 3L), (2L, "en", 2L, -1L)).toDF("rid", "part", "idc", "v")
    val e = intercept[IllegalArgumentException](
      Curate.budgetCut(negative, "part", "idc", col("v"), 10L))
    assert(e.getMessage == "budgetCut needs non-negative values; part = en holds -1", e.getMessage)
  }

  test("budgetCut keeps exactly the rows the running-sum window keeps") {
    // Random batches at 1-8 partitions: null parts, null ids (the null
    // bucket), duplicate ids (RANGE-frame peers), null and zero values, and
    // a part whose values are mostly null, so that nulls precede its first
    // value inside the bucket holding that value. Budgets: 0, exactly a
    // bucket's end sum, exactly a row's sum, and above everything. Each
    // batch is cut on every part column: the fold's keys must group as
    // Spark groups them, so a binary part compares by content, every NaN
    // is one part, and 0.0 and -0.0 are one (a key compared by reference,
    // or a boxed NaN by ==, makes each of its rows a part of its own).
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 10) {
      val df = randomBatch(rnd, trial)
      // (part, bucket, running sum) of every row
      val all = Curate.bucketedRunningSum(df, "part", "idc", col("v"), "c")
        .select(col("part"), substring(md5(col("idc").cast("string")), 1, 2), col("c"))
        .collect()
      def cum(r: org.apache.spark.sql.Row) = if (r.isNullAt(2)) None else Some(r.getLong(2))
      val rowSums = all.flatMap(cum).toSeq
      val bucketEnds = all.groupBy(r => (r.get(0), r.get(1))).values
        .flatMap(_.flatMap(cum).maxOption).toSeq
      val budgets = Seq(0L, rowSums.maxOption.getOrElse(0L) + 1) ++
        Seq(rowSums, bucketEnds).filter(_.nonEmpty).map(xs => xs(rnd.nextInt(xs.size)))
      for (partCol <- partCols) {
        val sums = Curate.bucketedRunningSum(df, partCol, "idc", col("v"), "c")
          .select("rid", "c").collect()
        for (budget <- budgets) {
          val want = sums.filter(r => !r.isNullAt(1) && r.getLong(1) <= budget)
            .map(_.getLong(0)).sorted.toSeq
          val cut = Curate.budgetCut(df, partCol, "idc", col("v"), budget)
          assert(cut.columns.toSeq == df.columns.toSeq)
          val got = cut.select("rid").collect().map(_.getLong(0)).sorted.toSeq
          assert(got == want,
            s"trial $trial, $partCol, budget $budget: ${got.size} rows vs ${want.size}")
        }
      }
    }
    val negative = Seq((1L, "en", 1L, 3L), (2L, "en", 2L, -1L)).toDF("rid", "part", "idc", "v")
    val e = intercept[IllegalArgumentException](
      Curate.budgetCut(negative, "part", "idc", col("v"), 10L))
    assert(e.getMessage.contains("non-negative"), e.getMessage)
  }

  /** `groupBy(lang).agg(count(lit(1)) as n_docs, sum(q_n_tokens as long) as
    * n_tokens)`: what [[Curate.curationSummary]] returns. */
  private def groupBySummary(df: DataFrame, lang: String): DataFrame =
    df.groupBy(col(lang)).agg(count(lit(1)).as("n_docs"),
      sum(col("q_n_tokens").cast("long")).as("n_tokens"))

  /** A frame's rows as a sorted multiset, binary as bytes and NaN as "NaN". */
  private def multiset(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case d: Double if d.isNaN => "NaN"
      case x => x
    }).toSeq.sortBy(_.toString)

  test("curationSummary is the groupBy summary: rows, schema and empty input") {
    // Random batches with v as the int token count; on even trials sparse's
    // counts (and the null language's) are all null, so their n_tokens is
    // null. Languages: strings with a null, and part's binary and double
    // copies (NaN, 0.0 and -0.0).
    val rnd = new scala.util.Random(5)
    for (trial <- 0 until 6) {
      val tokens = if (trial % 2 == 0) when(col("part") =!= "sparse", col("v")) else col("v")
      val df = randomBatch(rnd, trial).withColumn("q_n_tokens", tokens.cast("int"))
      for (lang <- partCols; d <- Seq(df, df.filter(lit(false)))) {
        val want = groupBySummary(d, lang)
        val got = Curate.curationSummary(d, lang)
        assert(got.schema == want.schema, s"trial $trial, $lang: ${got.schema} vs ${want.schema}")
        assert(multiset(got) == multiset(want), s"trial $trial, $lang")
      }
    }
  }

  test("curationSummary: one job that shuffles nothing, a collect that runs none") {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(("en", 3), ("fr", 4), ("en", 5), (null, 6)), 3)).toDF("lang", "q_n_tokens")
    val grouped = FinalPlans.jobSitesDuring(spark)(groupBySummary(df, "lang").collect())
    assert(grouped.map(_.shuffleBytes).sum > 0, s"the groupBy form shuffles: $grouped")
    var summary: DataFrame = null
    val built = FinalPlans.jobSitesDuring(spark) { summary = Curate.curationSummary(df, "lang") }
    assert(built.size == 1 && built.head.shuffleBytes == 0L, built.mkString("\n"))
    var rows = Seq.empty[Seq[Any]]
    val read = FinalPlans.jobSitesDuring(spark) { rows = multiset(summary) }
    assert(read.isEmpty, read.mkString("\n"))
    assert(rows == Seq(Seq("en", 2L, 8L), Seq("fr", 1L, 4L), Seq(null, 1L, 6L)), s"got $rows")
    // a token sum past Long.MaxValue fails, as ANSI sum does
    val big = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(("en", Long.MaxValue / 2 + 1), ("en", Long.MaxValue / 2 + 1)), 2))
      .toDF("lang", "q_n_tokens")
    val e = intercept[Exception](Curate.curationSummary(big, "lang"))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ArithmeticException]), s"$e")
  }

  test("curateCorpus and its summary do not depend on shuffle or join settings") {
    // The near-dup corpus of the anti-join specs with every tenth document
    // in fr, curated under a budget that cuts en inside a bucket. Without
    // exact copies the probe keeps the per-document path; with 80 of them
    // it takes the collapsed one. Each setting must give the same curated
    // ids and the same summary as the session's own settings.
    val rnd = new scala.util.Random(13)
    def doc() = Seq.fill(30)(s"w${rnd.nextInt(5000)}").mkString(" ")
    val base = (1 to 400).map(i => (i.toLong, doc(), if (i % 10 == 0) "fr" else "en"))
    val near = base.take(20).map { case (i, t, l) => (1000L + i, t + " tail", l) }
    val copies = base.slice(100, 180).map { case (i, t, l) => (2000L + i, t, l) }
    def run(corpus: DataFrame) = {
      Dedup.gateCacheClear()
      val curated = Curate.curateCorpus(corpus, "doc_id", "text", "lang",
        minQuality = 0.0, dupThreshold = 0.9, tokenBudget = 3000L)
      (curated.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq,
        multiset(Curate.curationSummary(curated, "lang")))
    }
    val settings = Seq("spark.sql.shuffle.partitions" -> "1",
      "spark.sql.shuffle.partitions" -> "7",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    for ((rows, collapsed) <- Seq((base ++ near, false), (base ++ near ++ copies, true))) {
      val corpus = rows.toDF("doc_id", "text", "lang")
      assert(Dedup.duplicationMaterial(corpus, col("text")) == collapsed)
      val reference = run(corpus)
      assert(reference._2.map(_.head) == Seq("en", "fr"), s"summary ${reference._2}")
      for ((k, v) <- settings) under(k, v) {
        val got = run(corpus)
        assert(got._1 == reference._1, s"$k=$v, ${rows.size} rows: curated ids differ")
        assert(got._2 == reference._2, s"$k=$v, ${rows.size} rows: ${got._2} vs ${reference._2}")
      }
    }
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
