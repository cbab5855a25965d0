package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Materialize, Similarity}

/** Both-branch verification of every data-gated plan choice over the REAL
  * sf0.1 parquet (r17 verdict item 4): the collapse gate (minhash family),
  * the occupancy gate (embedding family), and the Hamming dispatch choose
  * plans by data shape, so the sf0.01 correctness battery may only ever
  * exercise one branch of each. Unit specs pin row-identity on toy frames;
  * this suite forces each gate BOTH ways on the full sf0.1 tables and
  * asserts the outputs are row-identical (a distributed exceptAll compare —
  * no driver-side materialization of pair sets).
  *
  * Skipped (not failed) when the driver-generated testdata is absent, like
  * PlanSpec.
  */
class GateBranchSf01Spec extends SparkSpec {

  private val sf = "/root/testdata/sf0.1"
  private def available: Boolean = new java.io.File(sf).isDirectory

  private lazy val docs =
    spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))

  /** Row-identical under duplicate sensitivity, both directions. */
  private def assertRowEqual(name: String, a: DataFrame, b: DataFrame): Unit = {
    val extraA = a.exceptAll(b).count()
    val extraB = b.exceptAll(a).count()
    assert(extraA == 0 && extraB == 0,
      s"$name branches diverge on sf0.1: $extraA rows only in branch A, " +
        s"$extraB only in branch B")
    spark.catalog.clearCache()
  }

  test("minhash collapse gate: pair API branches row-identical on sf0.1") {
    assume(available, s"$sf missing")
    assertRowEqual("minhashNearDuplicates",
      Dedup.minhashNearDuplicates(docs, "doc_id", "text", 0.9, collapse = Some(true)),
      Dedup.minhashNearDuplicates(docs, "doc_id", "text", 0.9, collapse = Some(false)))
  }

  test("minhash collapse gate: survivor API branches row-identical on sf0.1") {
    assume(available, s"$sf missing")
    assertRowEqual("dropNearDuplicates",
      Dedup.dropNearDuplicates(docs, "doc_id", "text", 0.9, collapse = Some(true)),
      Dedup.dropNearDuplicates(docs, "doc_id", "text", 0.9, collapse = Some(false)))
  }

  test("embedding occupancy gate: pair branches row-identical on sf0.1") {
    assume(available, s"$sf missing")
    Materialize.scoped {
      assertRowEqual("embeddingNearDuplicates",
        Similarity.embeddingNearDuplicates(emb, 0.45, 4, 3, collapse = Some(true)),
        Similarity.embeddingNearDuplicates(emb, 0.45, 4, 3, collapse = Some(false)))
    }
  }

  test("hamming dispatch: collapsed and segmented branches row-identical on sf0.1") {
    assume(available, s"$sf missing")
    // The dispatch rule is static in (bits, maxDistance), but its two
    // branches are independent physical plans — pin their parity on the
    // real 16-bit simhash signature distribution, not a toy one.
    val sigs = docs.select(col("doc_id").as("id"),
      Dedup.simhashLong(col("text"), 16).as("sig"))
    Materialize.scoped {
      assertRowEqual("bandedHammingJoin",
        Dedup.collapsedHammingJoin(sigs, 16, 3).select("id_a", "id_b"),
        Dedup.segmentedHammingJoin(sigs, 16, 3).select("id_a", "id_b"))
    }
  }
}
