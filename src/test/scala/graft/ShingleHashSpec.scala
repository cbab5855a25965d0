package graft

import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** Parity pins for the r21 hashed-shingle verify kernels
  * (`graft_shingle_hashes` / `graft_inter_size`): the verify joins' Jaccard
  * over hashed sets must equal the string-shingle form bit for bit on real
  * text — the optimization's whole correctness contract.
  */
class ShingleHashSpec extends SparkSpec {
  import spark.implicits._

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog and runs away fast",
    "the quick brown fox jumps over the lazy dog and walks away fast",
    "a b c d e f g h i j k l m n o p",
    "a b c d e f g h i j k l m n o q",
    "repeated repeated repeated repeated repeated repeated repeated",
    "short",           // fewer tokens than k → one whole-document shingle
    "two tokens",
    "",                // trims to one empty token → one shingle
    "   ",             // whitespace-only — same clamp
    "x y x y x y x y x y x y",       // heavy internal duplication
    "unicode tökens mïxed ïn herë with ascii ones too yes",
    "the the the the the quick quick quick brown brown fox")

  private def df = texts.zipWithIndex
    .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")

  test("shingle-hash set size equals the distinct string-shingle set size") {
    for (k <- Seq(3, 5)) {
      val rows = df.select(
        size(Dedup.shingleHashSet(col("text"), k)).as("h"),
        size(array_distinct(Dedup.shingles(col("text"), k))).as("s"),
        col("text")).collect()
      rows.foreach { r =>
        assert(r.getInt(0) == r.getInt(1),
          s"k=$k size mismatch on '${r.getString(2)}': hashed=${r.getInt(0)} string=${r.getInt(1)}")
      }
    }
  }

  test("jaccardSorted equals jaccardDistinct on every text pair") {
    for (k <- Seq(3, 5)) {
      val sets = df.select(col("id"),
        Dedup.shingleHashSet(col("text"), k).as("hh"),
        array_distinct(Dedup.shingles(col("text"), k)).as("ss"))
      val a = sets.select(col("id").as("ia"), col("hh").as("ha"), col("ss").as("sa"))
      val b = sets.select(col("id").as("ib"), col("hh").as("hb"), col("ss").as("sb"))
      val pairs = a.crossJoin(b).filter(col("ia") < col("ib"))
        .select(col("ia"), col("ib"),
          Dedup.jaccardSorted(col("ha"), col("hb")).as("jh"),
          Dedup.jaccardDistinct(col("sa"), col("sb")).as("js"))
        .collect()
      assert(pairs.nonEmpty)
      pairs.foreach { r =>
        assert(r.getDouble(2) == r.getDouble(3),
          s"k=$k jaccard mismatch on pair (${r.getLong(0)}, ${r.getLong(1)}): " +
            s"hashed=${r.getDouble(2)} string=${r.getDouble(3)}")
      }
    }
  }

  test("kernel output is sorted, distinct, and never empty") {
    val rows = df.select(Dedup.shingleHashSet(col("text"), 5).as("h")).collect()
    rows.foreach { r =>
      val h = r.getAs[scala.collection.Seq[Long]]("h")
      assert(h.nonEmpty, "shingle-hash set must never be empty")
      assert(h == h.sorted, s"not sorted: $h")
      assert(h.distinct.size == h.size, s"duplicates: $h")
    }
  }

  test("graft_inter_size is exact set intersection on sorted long arrays") {
    val rows = Seq(
      (Seq(1L, 3L, 5L, 9L), Seq(3L, 4L, 5L, 10L), 2),
      (Seq(1L, 2L), Seq(3L, 4L), 0),
      (Seq(7L), Seq(7L), 1),
      (Seq(-5L, 0L, 2L), Seq(-5L, 2L, 8L, 9L), 2))
    rows.foreach { case (a, b, want) =>
      val got = Seq((a, b)).toDF("a", "b")
        .select(call_function("graft_inter_size", col("a"), col("b")))
        .collect()(0).getInt(0)
      assert(got == want, s"interSize($a, $b) = $got, want $want")
    }
  }

  test("graft_shingle_hashes builder rejects k < 1 and takes integral literals") {
    // r21 ADVICE: k = 0 used to silently produce constant singleton sets
    // (every pair jaccard 1.0) instead of an error, and a SMALLINT/BIGINT
    // literal threw instead of being accepted.
    val d = Seq("a b c").toDF("text")
    val bad = intercept[Exception] {
      d.selectExpr("graft_shingle_hashes(split(text, ' '), 0)").collect()
    }
    assert(bad.getMessage.contains("k must be >= 1"), bad.getMessage)
    val viaLong = d.selectExpr(
      "graft_shingle_hashes(split(text, ' '), 2L)")
      .collect()(0).getAs[scala.collection.Seq[Long]](0)
    val viaInt = d.selectExpr("graft_shingle_hashes(split(text, ' '), 2)")
      .collect()(0).getAs[scala.collection.Seq[Long]](0)
    assert(viaLong == viaInt)
    // the other integer-argument builders share the same literal check:
    // each rejects an out-of-range value by name at plan time, and takes a
    // SMALLINT/BIGINT constant for the same value as the INT one
    val v = Seq((Seq(1.0, -2.0), "a b c")).toDF("vec", "text")
    Seq(
      "graft_minhash(split(text, ' '), 0, 8)" -> "shingleSize must be >= 1",
      "graft_minhash(split(text, ' '), 2, 0)" -> "numHashes must be >= 1",
      "graft_simhash(split(text, ' '), 0)" -> "bits must be in 1..32",
      "graft_simhash(split(text, ' '), 33)" -> "bits must be in 1..32",
      "graft_quant(vec, 0)" -> "levels must be >= 1",
      "graft_minhash(split(text, ' '), text, 8)" -> "shingleSize must be an integer literal"
    ).foreach { case (e, msg) =>
      val err = intercept[Exception](v.selectExpr(e))
      assert(err.getMessage.contains(msg), s"$e: ${err.getMessage}")
    }
    Seq(
      "graft_minhash(split(text, ' '), %s, 8)",
      "graft_simhash(split(text, ' '), %s)",
      "graft_quant(vec, %s)",
      "graft_shingle_hashes(split(text, ' '), %s)"
    ).foreach { e =>
      val vals = Seq("2", "2L", "2S", "CAST(2 AS BIGINT)").map(lit =>
        v.selectExpr(e.format(lit)).collect()(0).get(0))
      assert(vals.distinct.length == 1, s"$e: $vals")
    }
  }

  test("minhashCandidatePairs rejects zero sizes before any job runs") {
    // shingle size 0 gives every document the same signature, so every
    // pair would become a candidate: the builder fails while the frame is
    // built, before an action can run
    Seq("shingleSize" -> (() => Dedup.minhashCandidatePairs(df, "id", "text", shingleSize = 0)),
        "numHashes" -> (() => Dedup.minhashCandidatePairs(df, "id", "text",
          numHashes = 0, bands = 4))).foreach { case (name, build) =>
      val err = intercept[Exception](build())
      assert(err.getMessage.contains(s"$name must be >= 1"), err.getMessage)
    }
  }
}
