package graft.ops

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.storage.StorageLevel

/** The engine's one way to keep an intermediate result in the block
  * manager, and the one place its lifetime is decided.
  *
  * Operators [[persist]] every table that several consumers read. Outside a
  * scope that is a plain MEMORY_AND_DISK persist, reclaimed at session end
  * or by `spark.catalog.clearCache()`. Inside a scope the frame is also
  * recorded, so the scope's owner releases it: [[scoped]] when the body's
  * result no longer reads it (checkpointed, collected or written), and
  * [[tracked]] when the caller releases it after consuming a lazy result.
  *
  * Scopes sit on a per-thread stack (a plain, non-inheritable
  * `ThreadLocal`), so a thread started inside a scope never registers into
  * it.
  *
  * A frame that one query reads twice through the same exchange (both
  * sides of a self-join, two joins on the same key) is persisted already
  * partitioned on that key: `persist(df.repartition(key))`. Under AQE each
  * read of a persisted frame is its own table-cache query stage, and two
  * exchanges above two such reads never canonicalize alike, so
  * `ReuseExchange` does not merge them and the frame is shuffled once per
  * read. (A self-join of an UNcached frame does reuse its exchange.) Cached
  * hash-partitioned, the frame is shuffled once, inside the cache fill,
  * and the reads need no exchange. A frame joined with such a frame on
  * its key is cached partitioned the same way, with the same partition
  * count, so the join has no exchange on either side. The minhash chain
  * keeps three caches so: the LSH bucket table on (`band`, `bkey`), the
  * candidate pairs on `id_a` and the verify shingle sets on `id`.
  *
  * An eager step fills its caches with [[fill]], never with an action such
  * as `count()`: the action adds its own aggregate jobs, and a query that
  * reads one unfilled cache twice fills it twice. Each table-cache stage
  * of such a query submits its own fill job, and the two stages start
  * together, so neither sees the other's blocks (the twin-fill rule).
  * [[fill]] runs the cache's own column-buffer RDD, once, so the stages of
  * a later query find it filled and submit nothing.
  *
  * Every checkpoint goes through [[checkpoint]], and the same holds for
  * it: an eager checkpoint is a job that only writes blocks, so a step
  * whose next job reads the whole result anyway (a fold, a broadcast, a
  * collect) checkpoints lazily, and that reader fills it.
  *
  * Durability is one per-thread scope, [[reliable]]. Outside it a
  * checkpoint is `localCheckpoint(eager)`: executor blocks, which a lost
  * executor takes with it. Inside it both forms are an eager
  * `checkpoint()` into the session's checkpoint dir, which survives
  * executor loss. A lazy reliable checkpoint would save nothing: Spark
  * writes its files in a job of its own after the first read.
  */
object Materialize {

  private val scopes = new ThreadLocal[List[ListBuffer[DataFrame]]] {
    override def initialValue(): List[ListBuffer[DataFrame]] = Nil
  }

  private val durable = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  /** `df.persist(MEMORY_AND_DISK)`, recorded in the innermost open scope. */
  def persist(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    scopes.get.headOption.foreach(_ += p)
    p
  }

  /** Fills every unfilled persisted frame in `df`'s plan, `df` itself
    * included, innermost first: one job per cache, over the column-buffer
    * RDD that AQE's table-cache stage would run (plus the jobs of any
    * exchange inside the cached plan). A filled cache is skipped, with the
    * caches inside it, so a second call runs no job.
    */
  def fill(df: DataFrame): Unit = {
    val sc = df.sparkSession.sparkContext
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    def visit(plan: SparkPlan): Unit =
      Stages.collectWithSubqueries(plan) { case s: InMemoryTableScanExec => s }.foreach { s =>
        if (seen.add(s.relation.cachedPlan) && !s.isMaterialized) {
          visit(s.relation.cachedPlan)
          sc.runJob(s.baseCacheRDD(), (_: Iterator[_]) => ())
        }
      }
    visit(df.queryExecution.executedPlan)
  }

  /** `df` checkpointed: the engine's one checkpoint call. Inside
    * [[reliable]] it is an eager `checkpoint()`, whatever `eager` says.
    * Outside it `eager` writes executor-local blocks in a job of its own,
    * and the default lazy form is the checkpoint counterpart of [[fill]]:
    * the first job that computes every partition (a fold, a broadcast, a
    * collect) writes the blocks, and Spark's `doCheckpoint` after that job
    * finds none missing and runs nothing; every later read starts at the
    * blocks. A reader that stops early (`isEmpty`, `take`) leaves
    * partitions unwritten, and `doCheckpoint` computes those in a job of
    * its own.
    *
    * Building a lazy checkpoint runs the query stages below `df`'s final
    * stage (AQE materializes exchanges and broadcasts to plan it); the
    * final stage runs in the first reader. Until then the frame reads its
    * inputs, so a cache it reads must still be persisted when that reader
    * runs: read it inside the cache's scope. Either form keeps `df`'s size
    * estimate, and a local relation's is exact, so a join against it still
    * plans a broadcast. Under AQE neither form keeps `df`'s output
    * partitioning: the checkpointed plan reports it unknown.
    */
  def checkpoint(df: DataFrame, eager: Boolean = false): DataFrame =
    if (durable.get) df.checkpoint() else df.localCheckpoint(eager)

  /** `body` with every [[checkpoint]] this thread takes in it reliable,
    * under the session's checkpoint dir: set where the session is built,
    * never by the scope, which throws before `body` runs without one.
    * Checkpoint files outlive the job unless
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true`.
    */
  def reliable[T](body: => T): T = {
    require(SparkSession.active.sparkContext.getCheckpointDir.isDefined,
      "Materialize.reliable needs a checkpoint dir: set spark.checkpoint.dir " +
        "when the session is built, or call sparkContext.setCheckpointDir")
    val outer = durable.get
    durable.set(true)
    try body finally durable.set(outer)
  }

  /** Walks AQE plans into their query stages and subqueries. */
  private object Stages extends AdaptiveSparkPlanHelper

  /** `body`'s result plus every frame persisted while it ran, nested calls
    * included. The frames stay persisted and are also reported to the
    * enclosing scope; `unpersist()` them once the result is materialized.
    */
  def tracked[T](body: => T): (T, Seq[DataFrame]) = within(body, release = false)

  /** `body`'s result; every frame persisted while it ran is unpersisted
    * (non-blocking) on the way out, also when `body` throws.
    */
  def scoped[T](body: => T): T = within(body, release = true)._1

  private def within[T](body: => T, release: Boolean): (T, Seq[DataFrame]) = {
    val outer = scopes.get
    val frames = ListBuffer.empty[DataFrame]
    scopes.set(frames :: outer)
    try (body, frames.toList)
    finally {
      scopes.set(outer)
      if (release) frames.foreach(_.unpersist(blocking = false))
      else outer.headOption.foreach(_ ++= frames)
    }
  }

  /** Best-effort release of the block-manager storage behind a checkpointed
    * Dataset (the analyzed plan of a `checkpoint`/`localCheckpoint` result is
    * a `LogicalRDD` wrapping the materialized RDD — reached reflectively
    * because the node type is `private[sql]`). Safe to call only once the
    * Dataset is no longer needed: localCheckpoint blocks ARE the data (no
    * lineage remains to recompute them).
    */
  private[ops] def releaseCheckpoint(df: DataFrame): Unit =
    scala.util.Try {
      val plan = df.queryExecution.analyzed
      if (plan.getClass.getSimpleName == "LogicalRDD") {
        val rdd = plan.getClass.getMethod("rdd").invoke(plan)
          .asInstanceOf[org.apache.spark.rdd.RDD[_]]
        // NOT rdd.unpersist(): that path warns "lineage has been truncated
        // and cannot be recomputed after unpersisting" on every locally
        // checkpointed RDD — deliberate here (the blocks ARE the data and
        // the Dataset is dead), so go straight to the SparkContext cleanup
        // RDD.unpersist delegates to (private[spark] → public in bytecode).
        val sc = rdd.sparkContext
        sc.getClass.getMethod("unpersistRDD", classOf[Int], classOf[Boolean])
          .invoke(sc, Integer.valueOf(rdd.id), java.lang.Boolean.FALSE)
      }
    }
}
