package graft.tools

/** Dumps `explain("formatted")` for the named queries, one file per query
  * (`<outDir>/<query>_<suffix>.txt`) — the per-round optimization audit
  * trail (history/plans/r21/<query>_before.txt / _after.txt).
  *
  *   sbt "runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> q_a q_b ..."
  *
  * Same session shape as [[Plans]] (the PLANS.md generator) so the plan
  * text is comparable across rounds.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: PlanDump <sfDir> <outDir> <suffix> <query>...")
    val (sfDir, outDir, suffix) = (args(0), args(1), args(2))
    val names = args.drop(3).toSeq
    val spark = graft.LocalSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(dir)
    names.foreach { name =>
      val df = graft.Queries.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        dir.resolve(s"${name}_$suffix.txt"), plan)
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
