package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Final (post-AQE) physical plans and job counts of what a block of code
  * runs, for specs that assert what actually ran rather than what was
  * planned.
  */
object FinalPlans extends AdaptiveSparkPlanHelper {

  /** Executed plans of every Dataset action `body` ran, in completion
    * order. The listener bus is drained before reading.
    */
  def during(spark: SparkSession)(body: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { body; drainListenerBus(spark.sparkContext) }
    finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  /** Spark jobs submitted while `body` runs. */
  def jobsDuring(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try { body; drainListenerBus(sc); n.get() }
    finally sc.removeSparkListener(l)
  }

  /** `waitUntilEmpty` is private[spark], so it is reached reflectively. */
  private def drainListenerBus(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethods.filter(_.getName == "waitUntilEmpty")
      .find(_.getParameterCount == 0).foreach(_.invoke(bus))
  }

  /** Output column names of every shuffle exchange in `plans`, descending
    * into AQE query stages and subqueries. */
  def shuffleOutputs(plans: Seq[SparkPlan]): Seq[Seq[String]] =
    plans.flatMap(p => collectWithSubqueries(p) {
      case e: ShuffleExchangeExec => e.output.map(_.name)
    })

  /** Every physical node of `plans`, descending into AQE query stages,
    * subqueries and the cached plans behind in-memory table scans. A node
    * is listed once however many plans reach it, so an exchange inside a
    * cache that several queries read counts once, as it runs once.
    */
  def nodesWithCaches(plans: Seq[SparkPlan]): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    val out = Seq.newBuilder[SparkPlan]
    def visit(p: SparkPlan): Unit =
      collectWithSubqueries(p) { case n => n }.foreach { n =>
        if (seen.add(n)) {
          out += n
          n match {
            case s: InMemoryTableScanExec => visit(s.relation.cachedPlan)
            case _ =>
          }
        }
      }
    plans.foreach(visit)
    out.result()
  }
}
