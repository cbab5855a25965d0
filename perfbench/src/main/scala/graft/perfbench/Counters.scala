package graft.perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Task counters summed over the tasks of one job group. */
final class Counters {
  var jobs, stages, tasks = 0L
  var cpuNs, gcMs, shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  var recordsIn, recordsOut, bytesOut = 0L
  var peakTaskMem = 0L
  /** Task durations (ms) per stage, for the skew of the dominant stage. */
  val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

  def +=(o: Counters): this.type = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes
    recordsIn += o.recordsIn; recordsOut += o.recordsOut; bytesOut += o.bytesOut
    peakTaskMem = math.max(peakTaskMem, o.peakTaskMem)
    o.stageTaskMs.foreach { case (s, d) =>
      stageTaskMs.getOrElseUpdate(s, mutable.ArrayBuffer()) ++= d }
    this
  }

  def copy: Counters = new Counters += this

  /** Max over median task time in the stage that took the most task time;
    * 1.0 when there are no tasks. */
  def taskSkew: Double =
    if (stageTaskMs.isEmpty) 1.0
    else {
      val d = stageTaskMs.values.maxBy(_.sum).map(_.toDouble).toSeq
      d.max / math.max(Stats.median(d), 1.0)
    }
}

/** One aggregate listener: sums task metrics and counts jobs and stages per
  * job group (`SparkContext.setJobGroup`). Jobs without a group land under
  * the empty group. Listener events arrive asynchronously; read a group only
  * after `org.apache.spark.PerfbenchBus.drain`.
  */
final class GroupListener extends SparkListener {
  private val groups = mutable.Map[String, Counters]()
  private val stageGroup = mutable.Map[Int, String]()

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  private def acc(g: String): Counters = groups.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    acc(g).jobs += 1
    e.stageIds.foreach(s => if (!stageGroup.contains(s)) stageGroup(s) = g)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    acc(stageGroup.getOrElse(e.stageInfo.stageId, group(e.properties))).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc(stageGroup.getOrElse(e.stageId, ""))
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.recordsIn += m.inputMetrics.recordsRead
      a.recordsOut += m.outputMetrics.recordsWritten
      a.bytesOut += m.outputMetrics.bytesWritten
      a.peakTaskMem = math.max(a.peakTaskMem, m.peakExecutionMemory)
      a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
    }
  }

  /** The counters of group `g` so far (a copy; empty if it ran nothing). */
  def of(g: String): Counters = synchronized {
    groups.get(g).map(_.copy).getOrElse(new Counters)
  }
}
