package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

class GenSpec extends AnyFunSuite {
  private def contents(dir: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  private def generated(workload: String, seed: Long): Map[String, Seq[Byte]] = {
    val dir = Files.createTempDirectory("perfbench-gen")
    try { Gen.generate(workload, seed, dir); contents(dir) }
    finally Main.deleteTree(dir)
  }

  for (w <- Seq("ingest_evolve", "curate_distinct", "curate_crawl")) {
    test(s"$w: the same seed gives byte-identical inputs, another seed different ones") {
      val a = generated(w, 7)
      val b = generated(w, 7)
      val c = generated(w, 8)
      assert(a.keySet == b.keySet)
      a.foreach { case (f, bytes) => assert(bytes == b(f), s"$f differs between runs") }
      assert(a.keySet.exists(f => f.startsWith("inputs") && c.get(f).forall(_ != a(f))),
        "a different seed must change the inputs")
    }
  }

  test("the ingest truth replays the planted version steps") {
    val dir = Files.createTempDirectory("perfbench-gen")
    try {
      Gen.generate("ingest_evolve", 3, dir)
      val t = Gen.readTruth(dir)
      assert(t.get("versions").asInt() == 5)
      assert(t.get("changes").size() == 4)
      val batches = t.get("batches").elements().asScala.toSeq
      assert(t.get("records").asLong() == batches.map(_.get("rows").asLong()).sum)
      assert(batches.exists(_.get("flagged").asInt() > 0))
      assert(batches.map(_.get("emails").asInt()).sum > 0)
    } finally Main.deleteTree(dir)
  }

  test("curate truth lists duplicate groups of at least two documents") {
    val dir = Files.createTempDirectory("perfbench-gen")
    try {
      Gen.generate("curate_crawl", 3, dir)
      val t = Gen.readTruth(dir)
      val groups = t.get("exact_groups").elements().asScala.toSeq
      assert(groups.nonEmpty && groups.forall(_.size() >= 2))
      assert(t.get("near_dup_chains").elements().asScala.forall(_.size() >= 3))
    } finally Main.deleteTree(dir)
  }
}
