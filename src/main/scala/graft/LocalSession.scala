package graft

import org.apache.spark.sql.SparkSession

/** The session every runnable main drives the engine on: `local[cores]`
  * with one shuffle partition per core, UTC session time, the graft
  * Catalyst extensions and no UI. The testdata's `events.ts` is parquet
  * timestamp[ns], which Spark 4 rejects unless it is read as long
  * nanoseconds since the epoch; queries convert it explicitly.
  */
object LocalSession {
  def apply(cores: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
