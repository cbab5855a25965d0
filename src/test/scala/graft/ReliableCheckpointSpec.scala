package graft

import graft.ops.{Bpe, Curate, Dedup, Graph, Materialize, TextAnalysis}
import org.apache.spark.sql.DataFrame

/** Durability is a choice of where checkpoints live, never of what an
  * operator returns: under [[Materialize.reliable]] every operator that
  * checkpoints returns the rows of its default run, and writes checkpoint
  * files under the session's dir.
  */
class ReliableCheckpointSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def parity(what: String)(run: => DataFrame): Unit = {
    val want = rows(run)
    assert(want.nonEmpty, s"$what: the default run returned no rows")
    val before = checkpointFiles()
    val got = rows(Materialize.reliable(run))
    assert(got == want, s"$what under the reliable scope")
    assert((checkpointFiles() -- before).nonEmpty, s"$what wrote no checkpoint files")
  }

  private val rnd = new scala.util.Random(29)
  private def doc(n: Int) = Seq.fill(n)(s"w${rnd.nextInt(3000)}").mkString(" ")

  /** 300 distinct docs and 20 last-token near-dups over two languages;
    * `copies` exact copies of the first 60 docs on top. */
  private def corpus(copies: Int): DataFrame = {
    val base = (1 to 300).map(i => (i.toLong, doc(30), if (i % 3 == 0) "fr" else "en"))
    val near = base.take(20).map { case (i, t, l) => (1000L + i, t + " tail", l) }
    val dups = for (c <- 1 to copies; (i, t, l) <- base.take(60)) yield (10000L * c + i, t, l)
    (base ++ near ++ dups).toDF("doc_id", "text", "lang")
  }

  test("curateCorpus and dropNearDuplicates return the default rows") {
    for (copies <- Seq(0, 4)) {
      val df = corpus(copies)
      parity(s"curateCorpus, $copies copies")(Curate.curateCorpus(df, "doc_id", "text",
        "lang", minQuality = 0.0, dupThreshold = 0.9, tokenBudget = 3000L))
    }
    val dup = corpus(2)
    for (collapse <- Seq(false, true))
      parity(s"dropNearDuplicates, collapse = $collapse")(Dedup.dropNearDuplicates(
        dup, "doc_id", "text", 0.9, collapse = Some(collapse)))
  }

  test("pageRankInt over 0 to 3 rounds, and triangleCount") {
    val edges = Seq.fill(400)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .toDF("src", "dst")
    for (iters <- 0 to 3)
      parity(s"pageRankInt, $iters rounds")(Graph.pageRankInt(edges, iters))
    parity("triangleCount")(Graph.triangleCount(edges))
  }

  test("connectedComponents on both sides of the driver cutoff") {
    val pairs = Seq.fill(150)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .toDF("id_a", "id_b")
    parity("connectedComponents, driver union-find")(Dedup.connectedComponents(pairs))
    parity("connectedComponents, component loop")(
      Dedup.connectedComponents(pairs, driverCutoff = 0L, toFixpoint = true))
  }

  test("learnMerges and collocations return the default rows") {
    val docs = Seq.fill(40)(doc(12)).map(t => s"$t new york low lower newest")
      .toDF("text")
    parity("learnMerges")(Bpe.learnMerges(docs, "text", steps = 5))
    parity("collocations")(TextAnalysis.collocations(docs, "text", minCount = 2L))
  }
}
