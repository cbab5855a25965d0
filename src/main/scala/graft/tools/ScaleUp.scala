package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev probe: synthesize an sf1-scale rehearsal dataset from sf0.1 by
  * replicating the FACT tables `copies`× with id-shifted keys (joint shifts
  * keep foreign keys consistent: lineitem↔orders on orderkey, orders↔
  * customer on custkey) over a SINGLE copy of the dimension tables — the
  * realistic shape (facts grow, dims don't). documents/embeddings copies
  * keep their text/vectors verbatim, which deliberately creates massive
  * exact-duplicate clusters — the harshest dedup/CC stress. events keep
  * their user ids, so per-user session density grows 10× — the harshest
  * sessionization-window stress.
  *
  * Perf rehearsal ONLY (VERDICT r6 #6): correctness stays pinned to the
  * driver's read-only testdata at sf0.01.
  *
  * Usage: runMain graft.tools.ScaleUp [srcDir] [dstDir] [copies] [tables]
  * `tables` (comma-separated, default all) limits output — e.g.
  * `documents` alone for the dedup-family scale curve, whose five queries
  * read nothing else (generating 30× of all nine tables would cost more
  * than the measurements).
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").toSet) else None
    def wanted(name: String): Boolean = only.forall(_.contains(name))
    val spark = graft.LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt)
    spark.sparkContext.setLogLevel("WARN")

    def tbl(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def write(df: => DataFrame, name: String): Unit = if (wanted(name)) {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }
    /** copies× union with each (column, span) shifted by i·span. Spans come
      * from the key's OWNING table so foreign keys shift in lockstep.
      */
    def replicate(df: DataFrame, shifts: Seq[(String, Long)]): DataFrame =
      (0 until copies).map { i =>
        shifts.foldLeft(df) { case (d, (c, span)) =>
          d.withColumn(c, col(c) + lit(i * span))
        }
      }.reduce(_ unionByName _)
    def span(name: String, c: String): Long =
      tbl(name).agg(max(col(c))).head().getLong(0) + 1L

    val custSpan = span("customer", "c_custkey")
    val orderSpan = span("orders", "o_orderkey")
    // dims verbatim
    Seq("region", "nation", "supplier", "part").foreach(n => write(tbl(n), n))
    // facts with consistent joint key shifts
    write(replicate(tbl("customer"), Seq("c_custkey" -> custSpan)), "customer")
    write(replicate(tbl("orders"),
      Seq("o_orderkey" -> orderSpan, "o_custkey" -> custSpan)), "orders")
    write(replicate(tbl("lineitem"), Seq("l_orderkey" -> orderSpan)), "lineitem")
    write(replicate(tbl("events"), Seq("event_id" -> span("events", "event_id"))), "events")
    write(replicate(tbl("documents"), Seq("doc_id" -> span("documents", "doc_id"))), "documents")
    write(replicate(tbl("embeddings"), Seq("vec_id" -> span("embeddings", "vec_id"))), "embeddings")
    spark.stop()
  }
}
