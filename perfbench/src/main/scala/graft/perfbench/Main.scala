package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** The benchmark's JVM: generates a workload's inputs from the seed, sets up
  * one `local[N]` session, warms up, then runs closed-loop iterations from
  * this one driver thread for `--seconds`, checking every iteration's output
  * outside its timer. Writes every metric to `--out` as JSON and prints them
  * as a table. `perfbench/run.py` builds and launches it.
  *
  * Untraced (`--trace 0`): each iteration is one timed call chain; its Spark
  * jobs share one job group, so the listener's counters are per iteration.
  * Traced (`--trace 1`): untraced and traced iterations alternate; a traced
  * iteration stages each layer's call inside a span with its own job group.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, work: Path, out: Path, pins: Option[Path],
                        listener: Boolean)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cores").toInt, Paths.get(need("work")),
      Paths.get(need("out")), m.get("pins").map(Paths.get(_)),
      m.getOrElse("listener", "1") == "1")
  }

  /** Per-layer metrics: every layer reports the base six, some add extras. */
  val allLayers = Seq("Readers", "Extract", "InferSchema", "Evolution", "Validate",
    "Corpus.render", "Corpus.append", "Corpus.browse", "TextAnalysis.quality",
    "Dedup.buckets", "Dedup.candidates", "Dedup.verify", "Dedup.components",
    "Dedup.drop", "Curate.checkpoint", "Curate.budget")
  val baseLayerMetrics = Seq("wall_s" -> "s", "cpu_s" -> "s", "shuffle_mb" -> "MB",
    "rows_out" -> "count", "jobs" -> "count", "cores_busy" -> "ratio")
  val extraLayerMetrics: Map[String, Seq[(String, String)]] = Map(
    "Readers" -> Seq("task_skew" -> "ratio"),
    "Validate" -> Seq("flagged" -> "count"),
    "Corpus.render" -> Seq("gc_s" -> "s"),
    "Corpus.append" -> Seq("task_skew" -> "ratio", "written_mb" -> "MB", "files" -> "count"),
    "TextAnalysis.quality" -> Seq("pass_frac" -> "ratio", "gc_s" -> "s"),
    "Dedup.candidates" -> Seq("per_doc" -> "ratio"),
    "Dedup.verify" -> Seq("yield" -> "ratio", "gc_s" -> "s"),
    "Dedup.components" -> Seq("rounds" -> "count"),
    "Dedup.drop" -> Seq("spill_mb" -> "MB"),
    "Curate.checkpoint" -> Seq("cached_mb" -> "MB"),
    "Curate.budget" -> Seq("task_skew" -> "ratio"))

  def layerMetricNames: Seq[(String, String)] =
    allLayers.flatMap(l => (baseLayerMetrics ++ extraLayerMetrics.getOrElse(l, Nil))
      .map { case (m, u) => s"$l.$m" -> u }) :+ ("trace.gap_s" -> "s")

  /** One layer's metric values over one traced iteration. */
  def layerValues(t: LayerTotals, cores: Int): Map[String, Double] = {
    val c = t.counters
    val wall = t.wallNs / 1e9
    val cpu = c.cpuNs / 1e9
    Map(
      "wall_s" -> wall, "cpu_s" -> cpu, "shuffle_mb" -> c.shuffleWriteBytes / 1e6,
      "rows_out" -> t.extras.getOrElse("rows_out", c.recordsOut.toDouble),
      "jobs" -> c.jobs.toDouble,
      "cores_busy" -> (if (wall > 0) cpu / (wall * cores) else 0.0),
      "task_skew" -> c.taskSkew, "gc_s" -> c.gcMs / 1e3,
      "written_mb" -> c.bytesOut / 1e6, "spill_mb" -> c.spillBytes / 1e6) ++
      (t.extras - "rows_out")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    RoundsTap.install()
    val listener = if (a.listener) Some(new GroupListener) else None
    listener.foreach(sc.addSparkListener)
    val tracer = new Tracer(sc, listener)

    // input generation is set-up work the set-up time excludes
    val genStart = System.nanoTime()
    val gen = a.work.resolve("gen")
    Gen.generate(a.workload, a.seed, gen)
    val genSeconds = (System.nanoTime() - genStart) / 1e9
    val truth = Gen.readTruth(gen)
    val pinned = a.pins.filter(Files.exists(_)).flatMap { p =>
      val j = Gen.mapper.readTree(p.toFile)
      if (j.get("seed").asLong() == a.seed) Option(j.get("digests").get(a.workload)).map(_.asText())
      else None
    }
    val w = Workload(a.workload, spark, truth, pinned)

    var iteration = 0
    /** Runs one iteration on a fresh copy of the inputs. */
    def once(traced: Boolean): Iter = {
      iteration += 1
      val dir = a.work.resolve(s"iter-$iteration")
      copyTree(gen.resolve("inputs"), dir.resolve("inputs"))
      tracer.runId = s"run-$iteration"
      val it = new Iter(traced)
      try {
        val out =
          if (traced) {
            val t0 = System.nanoTime()
            val o = w.runTraced(dir, tracer)
            it.seconds = (System.nanoTime() - t0) / 1e9
            it.spans = tracer.ofRun(tracer.runId)
            o
          } else tracer.span("iteration") { s =>
            val o = w.run(dir)
            it.seconds = (System.nanoTime() - s.startNs) / 1e9
            o
          }
        if (!traced) it.counters = tracer.spans.last.counters
        it.cachedMbAfter = Workload.storedBytes(spark) / 1e6
        it.batchSeconds = out.batchSeconds
        it.stored = out.storedPerInputByte
        it.failures = w.check(out)
      } catch {
        case e: Exception =>
          it.failures = Seq(s"iteration threw ${e.getClass.getSimpleName}: ${e.getMessage}")
          e.printStackTrace()
      }
      it.failures.foreach(f => println(s"[perfbench] CHECK FAILED (${w.name} iteration $iteration): $f"))
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      deleteTree(dir)
      it
    }

    // warm-up: JIT, codegen and reader caches, on the same path kinds the
    // timed iterations take; counts toward set-up, not toward the metrics
    once(traced = false)
    if (a.trace) once(traced = true)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setupSeconds = (System.currentTimeMillis() - jvmStart) / 1e3 - genSeconds

    // the window counts timed work only; checks and input copies between
    // iterations do not use it up
    val iters = mutable.ArrayBuffer[Iter]()
    def elapsed = iters.map(_.seconds).sum
    while (iters.isEmpty || elapsed < a.seconds) {
      iters += once(traced = false)
      if (a.trace) iters += once(traced = true)
    }

    val plain = iters.filterNot(_.traced).toSeq
    val med = (f: Iter => Double) => Stats.median(plain.map(f))
    val jobP50 = med(_.seconds)
    val metrics = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupSeconds, "s"),
      "rec_per_s" -> (w.inputRecords / jobP50, "records/s"),
      "job_s_p50" -> (jobP50, "s"),
      "cpu_s" -> (med(_.counters.cpuNs / 1e9), "s"),
      "shuffle_mb" -> (med(_.counters.shuffleWriteBytes / 1e6), "MB"),
      "spill_mb" -> (med(_.counters.spillBytes / 1e6), "MB"),
      "spark_jobs" -> (med(_.counters.jobs.toDouble), "count"),
      "peak_task_mem_mb" -> (med(_.counters.peakTaskMem / 1e6), "MB"),
      "cached_mb_after" -> (med(_.cachedMbAfter), "MB"),
      "ok_frac" -> (iters.count(_.failures.isEmpty).toDouble / iters.size, "ratio"))
    if (plain.exists(_.batchSeconds.nonEmpty)) { // ingest; a failed iteration has neither
      metrics("batch_s_p50") = (Stats.median(plain.flatMap(_.batchSeconds)), "s")
      metrics("stored_bytes_per_input_byte") = (Stats.median(plain.flatMap(_.stored)), "ratio")
    }
    if (a.trace) {
      val traced = iters.filter(_.traced).toSeq
      val perIter = traced.map { it =>
        val totals = LayerTotals.of(it.spans)
        val vals = mutable.Map[String, Double]()
        for ((name, _) <- layerMetricNames if name != "trace.gap_s") {
          val layer = allLayers.find(l => name.startsWith(l + ".")).get
          vals(name) = totals.get(layer)
            .flatMap(t => layerValues(t, a.cores).get(name.stripPrefix(layer + ".")))
            .getOrElse(0.0)
        }
        vals("trace.gap_s") = Span.selfNs(it.spans).values.sum / 1e9 - jobP50
        vals
      }
      for ((name, unit) <- layerMetricNames)
        metrics(name) = (Stats.median(perIter.map(_(name))), unit)
    }

    val info = Map(
      "workload" -> a.workload, "seed" -> a.seed.toString,
      "iterations" -> plain.size.toString,
      "iteration_s" -> plain.map(i => f"${i.seconds}%.3f").mkString(" "),
      "batch_s" -> plain.last.batchSeconds.map(b => f"$b%.2f").mkString(" "),
      "traced_iterations" -> iters.count(_.traced).toString,
      "cores" -> a.cores.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "jvm" -> System.getProperty("java.vm.version"), "spark" -> spark.version,
      "listener" -> a.listener.toString, "input_gen_s" -> f"$genSeconds%.3f",
      "input_mb" -> f"${Workload.dirBytes(gen.resolve("inputs")) / 1e6}%.3f") ++
      (w match { case c: Curation => Map("digest" -> c.lastDigest); case _ => Map() })
    info.foreach { case (k, v) => println(f"[perfbench] $k%-28s $v") }
    metrics.foreach { case (k, (v, u)) => println(f"[perfbench] $k%-40s $v%14.6f $u") }

    val res = Gen.mapper.createObjectNode()
    val failedIters = iters.count(_.failures.nonEmpty)
    res.put("correct", failedIters == 0).put("attempted", iters.size).put("failed", failedIters)
    val mj = res.putObject("metrics")
    metrics.foreach { case (k, (v, u)) => mj.putObject(k).put("value", v).put("unit", u) }
    val ij = res.putObject("info")
    info.foreach { case (k, v) => ij.put(k, v) }
    Files.write(a.out, Gen.mapper.writeValueAsBytes(res))
    spark.stop()
  }

  final class Iter(val traced: Boolean) {
    var seconds = 0.0
    var counters = new Counters
    var spans: Seq[Span] = Nil
    var cachedMbAfter = 0.0
    var batchSeconds: Seq[Double] = Nil
    var stored: Option[Double] = None
    var failures: Seq[String] = Nil
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }
}
