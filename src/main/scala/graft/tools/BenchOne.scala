package graft.tools

/** Dev probe: run a warm-up list of queries, then time one query — isolates
  * order-dependent slowdowns seen in the full bench.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    val warm = args.dropRight(1)
    val target = args.last
    // rows= rides BEFORE the seconds so bench_keep.py's `split()[-2]`
    // parse keeps working; output size separates "operator got slower"
    // from "operator emits more rows" in scale curves (ScaleUp's verbatim
    // copies grow near-dup PAIR output quadratically in the copy count).
    warm.foreach { q =>
      val t0 = System.nanoTime()
      val n = graft.Queries.queries(q)(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      graft.Scratch.drain() // deferred temp corpora — outside the timer
      spark.catalog.clearCache()
      println(f"[benchone] warm $q rows=$n $dt%.2f s")
    }
    val t0 = System.nanoTime()
    val n = graft.Queries.queries(target)(spark, sfDir).count()
    val dt = (System.nanoTime() - t0) / 1e9
    graft.Scratch.drain()
    println(f"[benchone] TARGET $target rows=$n $dt%.2f s")
    spark.stop()
  }
}
