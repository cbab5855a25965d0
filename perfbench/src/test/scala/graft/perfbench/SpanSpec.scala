package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpanSpec extends AnyFunSuite {
  private def span(id: Int, name: String, parent: Option[Int], start: Long, end: Long) = {
    val s = new Span(id, name, parent, "run-1", start)
    s.endNs = end
    s
  }

  test("self time is the span's duration minus its children's") {
    val spans = Seq(
      span(0, "Dedup.verify", None, 0, 100),
      span(1, "Dedup.candidates", Some(0), 10, 40),
      span(2, "other", Some(0), 50, 60),
      span(3, "grandchild", Some(1), 20, 25))
    val self = Span.selfNs(spans)
    assert(self == Map(0 -> 60L, 1 -> 25L, 2 -> 10L, 3 -> 5L))
    // the self times of a tree add up to its root's duration
    assert(self.values.sum == 100L)
  }

  test("layer totals sum self time, counters and extras over spans of one name") {
    val a = span(0, "Readers", None, 0, 30)
    a.counters.jobs = 2; a.counters.cpuNs = 5; a.extras("rows_out") = 10
    val b = span(1, "Readers", None, 40, 50)
    b.counters.jobs = 1; b.counters.cpuNs = 7; b.extras("rows_out") = 4
    val c = span(2, "Extract", None, 50, 60)
    val t = LayerTotals.of(Seq(a, b, c))
    assert(t.keySet == Set("Readers", "Extract"))
    assert(t("Readers").wallNs == 40L)
    assert(t("Readers").counters.jobs == 3 && t("Readers").counters.cpuNs == 12)
    assert(t("Readers").extras("rows_out") == 14.0)
  }

  test("task skew is max over median task time of the stage that took longest") {
    val c = new Counters
    c.stageTaskMs(1) = scala.collection.mutable.ArrayBuffer(10L, 10L, 10L, 100L)
    c.stageTaskMs(2) = scala.collection.mutable.ArrayBuffer(50L, 50L)
    assert(c.taskSkew == 10.0)
    assert(new Counters().taskSkew == 1.0)
  }
}
