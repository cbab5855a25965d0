package graft.ops

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.DataFrame
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
  */
object Materialize {

  private val scopes = new ThreadLocal[List[ListBuffer[DataFrame]]] {
    override def initialValue(): List[ListBuffer[DataFrame]] = Nil
  }

  /** `df.persist(MEMORY_AND_DISK)`, recorded in the innermost open scope. */
  def persist(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    scopes.get.headOption.foreach(_ += p)
    p
  }

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
