package graft

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.storage.RDDBlockId
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
  def jobsDuring(spark: SparkSession)(body: => Unit): Int = jobSitesDuring(spark)(body).size

  /** A job as [[jobSitesDuring]] reports it: `name` is its final stage's
    * call site or, for a stage AQE submits on its own thread, the SQL
    * query's call site and the operator the stage runs; `fills` lists the
    * persisted RDDs whose first block the job wrote; `shuffleBytes` is what
    * the stages it ran wrote to shuffle files.
    */
  final case class JobSite(name: String, fills: Seq[String], shuffleBytes: Long) {
    override def toString: String =
      if (fills.isEmpty) name else s"$name, fills ${fills.mkString("; ")}"
  }

  /** Every job submitted while `body` runs, in submission order. A cache
    * read twice by one query before it is filled shows as two jobs that
    * fill the same RDD.
    */
  def jobSitesDuring(spark: SparkSession)(body: => Unit): Seq[JobSite] = {
    val sc = spark.sparkContext
    // every callback runs on the listener's one queue thread, in post order
    var seq = 0L
    val queries = mutable.Map.empty[String, String]
    val jobs = mutable.LinkedHashMap.empty[Int, (String, Map[Int, String], Long)]
    val ends = mutable.Map.empty[Int, Long]
    val firstBlock = mutable.Map.empty[Int, Long]
    val stageJob = mutable.Map.empty[Int, Int]
    val written = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case q: SparkListenerSQLExecutionStart => queries(q.executionId.toString) = q.description
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        seq += 1
        // a job over no partitions has no stages
        val last = js.stageInfos.maxByOption(_.stageId).fold("a job of no partitions")(_.name)
        val props = Option(js.properties)
        def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
        val name =
          if (!last.contains("withThreadLocalCaptured")) last
          else {
            val op = prop("spark.rdd.scope").flatMap(
              "\"name\":\"([^\"]*)\"".r.findFirstMatchIn(_)).map(_.group(1)).getOrElse("?")
            val query = prop("spark.sql.execution.id").flatMap(queries.get)
              .getOrElse("a cache fill")
            s"$op stage of $query"
          }
        // a cache's RDD is named after its plan: keep the top operator
        def top(plan: String) = plan.linesIterator.map(_.dropWhile(" +-:".contains(_)))
          .find(l => l.nonEmpty && !l.startsWith("AdaptiveSparkPlan")).getOrElse("").take(60)
        val cached = js.stageInfos.flatMap(_.rddInfos).filter(_.storageLevel.isValid)
          .map(r => r.id -> s"rdd ${r.id} ${top(r.name)}").toMap
        jobs(js.jobId) = (name, cached, seq)
        js.stageIds.foreach(stageJob(_) = js.jobId)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = e.stageInfo
        for (job <- stageJob.get(s.stageId); m <- Option(s.taskMetrics))
          written(job) += m.shuffleWriteMetrics.bytesWritten
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = { seq += 1; ends(je.jobId) = seq }
      override def onBlockUpdated(b: SparkListenerBlockUpdated): Unit = {
        seq += 1
        b.blockUpdatedInfo.blockId match {
          case RDDBlockId(rdd, _) => firstBlock.getOrElseUpdate(rdd, seq)
          case _ =>
        }
      }
    }
    sc.addSparkListener(l)
    try { body; drainListenerBus(sc) }
    finally sc.removeSparkListener(l)
    jobs.toSeq.map { case (id, (name, cached, start)) =>
      val end = ends.getOrElse(id, Long.MaxValue)
      JobSite(name, cached.toSeq.sortBy(_._1).collect {
        case (rdd, label) if firstBlock.get(rdd).exists(t => t > start && t < end) => label
      }, written(id))
    }
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
