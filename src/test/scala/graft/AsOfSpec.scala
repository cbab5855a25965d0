package graft

import graft.ops.AsOf
import org.apache.spark.sql.functions._

class AsOfSpec extends SparkSpec {
  import spark.implicits._

  private val trades = Seq(
    ("A", 10L, "t1"), ("A", 20L, "t2"), ("A", 25L, "t3"), ("B", 15L, "t4")
  ).toDF("sym", "t", "trade_id")
  private val quotes = Seq(
    ("A", 5L, 1.0), ("A", 20L, 2.0), ("A", 30L, 3.0), ("C", 1L, 9.0)
  ).toDF("sym", "t", "px")

  test("backward as-of: latest quote at or before each trade, per key") {
    val out = AsOf.joinBackward(trades, quotes, Seq("sym"), "t", "t", Seq("px"))
      .orderBy("trade_id")
      .collect().map(r => (r.getAs[String]("trade_id"), Option(r.getAs[Any]("px"))))
    assert(out.toSeq == Seq(
      ("t1", Some(1.0)), // quote@5 <= 10
      ("t2", Some(2.0)), // tie at 20 is inclusive
      ("t3", Some(2.0)), // quote@30 is in the future
      ("t4", None)       // key B has no quotes
    ))
  }

  test("left columns pass through unchanged") {
    val out = AsOf.joinBackward(trades, quotes, Seq("sym"), "t", "t", Seq("px"))
    assert(out.columns.toSet == Set("sym", "t", "trade_id", "px"))
    assert(out.count() == 4)
  }

  test("forward as-of: earliest quote at or after each trade, per key") {
    val out = AsOf.joinForward(trades, quotes, Seq("sym"), "t", "t", Seq("px"))
      .orderBy("trade_id")
      .collect().map(r => (r.getAs[String]("trade_id"), Option(r.getAs[Any]("px"))))
    assert(out.toSeq == Seq(
      ("t1", Some(2.0)), // next quote after 10 is @20
      ("t2", Some(2.0)), // tie at 20 is inclusive
      ("t3", Some(3.0)), // @30
      ("t4", None)
    ))
  }

  test("plan is a single exchange + window, no nested-loop join") {
    val plan = AsOf.joinBackward(trades, quotes, Seq("sym"), "t", "t", Seq("px"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"), s"as-of degenerated to NLJ:\n$plan")
    assert(plan.contains("Window"), s"expected window plan:\n$plan")
  }
}
