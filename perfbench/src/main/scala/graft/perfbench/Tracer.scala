package graft.perfbench

import org.apache.spark.SparkContext

import scala.collection.mutable

/** A span around one call into a layer: name, start and end, the span open
  * when it started, and the run id shared by one iteration's spans. Its
  * Spark jobs run under a job group of its own, so the listener's counters
  * for that group are the span's own (children have their own groups).
  */
final class Span(val id: Int, val name: String, val parent: Option[Int],
                 val runId: String, val startNs: Long) {
  var endNs: Long = startNs
  var counters: Counters = new Counters
  /** Layer-specific counts recorded at the boundary (rows out, flagged...). */
  val extras = mutable.Map[String, Double]()
  def group: String = s"perfbench-span-$id"
  def durNs: Long = endNs - startNs
}

object Span {
  /** Self time: a span's duration minus its children's durations. */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val childNs = spans.filter(_.parent.isDefined).groupMapReduce(_.parent.get)(_.durNs)(_ + _)
    spans.map(s => s.id -> (s.durNs - childNs.getOrElse(s.id, 0L))).toMap
  }
}

/** Opens and closes spans from the driver thread. With `listener` unset the
  * spans still time calls but carry no counters (the listener-cost run).
  */
final class Tracer(sc: SparkContext, listener: Option[GroupListener]) {
  private val open = mutable.Stack[Span]()
  private var nextId = 0
  val spans = mutable.ArrayBuffer[Span]()
  var runId = ""

  def span[T](name: String)(body: Span => T): T = {
    val s = new Span(nextId, name, open.headOption.map(_.id), runId, System.nanoTime())
    nextId += 1
    open.push(s)
    sc.setJobGroup(s.group, name, interruptOnCancel = false)
    try body(s)
    finally {
      s.endNs = System.nanoTime()
      open.pop()
      open.headOption match {
        case Some(p) => sc.setJobGroup(p.group, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      listener.foreach { l =>
        org.apache.spark.PerfbenchBus.drain(sc)
        s.counters = l.of(s.group)
      }
      spans += s
    }
  }

  def ofRun(runId: String): Seq[Span] = spans.filter(_.runId == runId).toSeq
}

/** One layer's totals over an iteration: self time, own counters and
  * summed extras of every span of that name. */
final class LayerTotals(val name: String) {
  var wallNs = 0L
  val counters = new Counters
  val extras = mutable.Map[String, Double]()
}

object LayerTotals {
  def of(spans: Seq[Span]): Map[String, LayerTotals] = {
    val self = Span.selfNs(spans)
    spans.groupBy(_.name).map { case (name, ss) =>
      val t = new LayerTotals(name)
      ss.foreach { s =>
        t.wallNs += self(s.id); t.counters += s.counters
        s.extras.foreach { case (k, v) => t.extras(k) = t.extras.getOrElse(k, 0.0) + v }
      }
      name -> t
    }
  }
}
