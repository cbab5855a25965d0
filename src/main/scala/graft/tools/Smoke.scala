package graft.tools

import graft.ops.{Dedup, InferSchema}
import org.apache.spark.sql.functions._

/** Dev smoke main: drives the engine through its public API on sf0.001 —
  * the fast local loop between full Verify runs.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.LocalSession(8)
    spark.sparkContext.setLogLevel("WARN")

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    println("== shingles (fixed slice overload) ==")
    docs.select(col("doc_id"), Dedup.shingles(col("text"), 5).as("sh"))
      .select(col("doc_id"), size(col("sh")).as("n_shingles"))
      .orderBy("doc_id").show(3)

    println("== minhash candidate pairs ==")
    val pairs = Dedup.minhashCandidatePairs(docs, "doc_id", "text")
    println(s"candidate pairs: ${pairs.count()}")

    val events = spark.read.parquet(s"$sfDir/events.parquet")
    println("== infer (parity mode) ==")
    println(InferSchema.infer(events, "props"))
    println("== infer (structured mode, fixed type probe) ==")
    println(InferSchema.infer(events, "props", parityStringify = false))

    spark.stop()
  }
}
