package graft

import graft.ops.TextAnalysis

class CollocationsSpec extends SparkSpec {
  import spark.implicits._

  test("collocations rank pure phrases above shared-word pairs by exact lift") {
    // unigrams: new/york appear 8x (in two contexts), every other word 4x.
    // N = 36 bigrams. lift(a,b) = floor(1e6 * c(ab) * N / (c(a)c(b))):
    //   (stock,exchange) etc: 1e6*4*36/(4*4)  = 9_000_000
    //   (york,stock), (brand,new): /(8*4)     = 4_500_000
    //   (new,york): /(8*8)                    = 2_250_000
    val docs = (
      Seq.fill(4)("new york stock exchange") ++
      Seq.fill(4)("brand new day today") ++
      Seq.fill(4)("york minster old town")
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val out = TextAnalysis.collocations(docs, "text", minCount = 4L, topK = 20)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2), r.getLong(3)))
    val byPair = out.map(t => t._1 -> t._3).toMap
    assert(byPair(("stock", "exchange")) == 9000000L)
    assert(byPair(("old", "town")) == 9000000L)
    assert(byPair(("york", "stock")) == 4500000L)
    assert(byPair(("new", "york")) == 2250000L)
    // ordering: lift desc, then (w1, w2) asc — the 9e6 block leads, sorted
    val top4 = out.take(4).map(_._1._1).toSeq
    assert(top4 == top4.sorted && out.take(4).forall(_._3 == 9000000L),
      s"got ${out.toSeq}")
    // minCount floors rare pairs
    assert(TextAnalysis.collocations(docs, "text", minCount = 5L, topK = 20)
      .count() == 0)
  }

  test("collocations on input with no bigram is an empty frame of the same schema") {
    // N, the sum over no bigram, is NULL; reading it as a long threw
    val some = TextAnalysis.collocations(
      Seq("new york stock exchange").toDF("text"), "text", minCount = 1L)
    val inputs = Seq(
      "an empty frame" -> Seq.empty[String].toDF("text"),
      "documents of fewer than 2 tokens" -> Seq("one", "", "two", "  three  ").toDF("text"))
    for ((what, docs) <- inputs) {
      val out = TextAnalysis.collocations(docs, "text", minCount = 1L)
      assert(out.collect().isEmpty, what)
      assert(out.schema == some.schema, s"$what: ${out.schema} vs ${some.schema}")
    }
  }
}
