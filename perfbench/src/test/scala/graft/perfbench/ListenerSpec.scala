package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class ListenerSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()
  private lazy val listener = {
    val l = new GroupListener
    spark.sparkContext.addSparkListener(l)
    l
  }

  override def afterAll(): Unit = spark.stop()

  test("counters land in the job group the jobs ran under") {
    val sc = spark.sparkContext
    listener
    sc.setJobGroup("g-a", "a")
    // plain RDD actions: exactly one job each
    sc.parallelize(1 to 1000, 4).count()
    sc.parallelize(1 to 10, 2).count()
    sc.setJobGroup("g-b", "b")
    spark.range(0, 100, 1, 3).selectExpr("id % 7 as k").groupBy("k").count().collect()
    sc.clearJobGroup()
    org.apache.spark.PerfbenchBus.drain(sc)
    val a = listener.of("g-a")
    val b = listener.of("g-b")
    assert(a.jobs == 2 && a.tasks == 6 && a.shuffleWriteBytes == 0)
    assert(b.jobs >= 1)
    assert(b.shuffleWriteBytes > 0, "the group-by shuffles inside g-b")
    assert(a.cpuNs > 0 && b.cpuNs > 0)
    assert(listener.of("never-used").jobs == 0)
  }

  test("a nested span's jobs count for the child, not the parent") {
    val tracer = new Tracer(spark.sparkContext, Some(listener))
    tracer.runId = "nest"
    val sc = spark.sparkContext
    tracer.span("outer") { _ =>
      sc.parallelize(1 to 100, 2).count()
      tracer.span("inner") { _ =>
        sc.parallelize(1 to 100, 3).count()
        sc.parallelize(1 to 100, 3).count()
      }
      sc.parallelize(1 to 100, 2).count()
    }
    val byName = tracer.ofRun("nest").map(s => s.name -> s).toMap
    assert(byName("inner").counters.jobs == 2 && byName("inner").counters.tasks == 6)
    assert(byName("outer").counters.jobs == 2 && byName("outer").counters.tasks == 4)
    assert(byName("inner").parent.contains(byName("outer").id))
    val self = Span.selfNs(tracer.ofRun("nest"))
    assert(self(byName("outer").id) == byName("outer").durNs - byName("inner").durNs)
    // the job group is restored after the spans close
    assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") == null)
  }
}
