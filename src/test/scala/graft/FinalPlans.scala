package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Final (post-AQE) physical plans of the queries a block of code runs, for
  * specs that assert what actually moved rather than what was planned.
  */
object FinalPlans extends AdaptiveSparkPlanHelper {

  /** Executed plans of every Dataset action `body` ran, in completion
    * order. The listener bus is drained before reading (`waitUntilEmpty`
    * is private[spark], so it is reached reflectively, as GateSpec does).
    */
  def during(spark: SparkSession)(body: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethods.filter(_.getName == "waitUntilEmpty")
        .find(_.getParameterCount == 0).foreach(_.invoke(bus))
    } finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  /** Output column names of every shuffle exchange in `plans`, descending
    * into AQE query stages and subqueries. */
  def shuffleOutputs(plans: Seq[SparkPlan]): Seq[Seq[String]] =
    plans.flatMap(p => collectWithSubqueries(p) {
      case e: ShuffleExchangeExec => e.output.map(_.name)
    })
}
