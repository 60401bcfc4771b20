package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark run of one workload in one JVM: set-up, a cold pass,
  * warm-up passes, then steady passes for `--seconds`. The result (and
  * the run facts) is written as JSON to `--result`; `run.py` prints it.
  *
  * Untraced (`--trace 0`) it measures the end-to-end metrics. Traced
  * (`--trace 1`) it alternates untraced and traced passes after the
  * warm-up, reports per-layer medians over the traced passes and the
  * difference of the two medians as the tracing overhead, and writes every
  * span to `--trace-out`. */
object Main {
  /** Set-up repetitions; `setup_s` takes their median. */
  val SetupReps = 3
  /** Warm-up after the cold pass, discarded. Pass time keeps falling for
    * about five passes while the JIT compiles, so warm-up runs at least
    * `MinWarmupPasses` and then ends once the curve has stopped falling:
    * the newest pass is not faster than the best of the two before it by
    * more than `SettleTolerance`. After `WarmupCapSeconds` it ends anyway,
    * which keeps a run within its time budget. */
  val MinWarmupPasses = 3
  val SettleTolerance = 0.05
  val WarmupCapSeconds = 24.0
  val MinSteadyPasses = 3
  val MinTracedPasses = 3
  /** No new pass starts after this much time in the run. */
  val BudgetSeconds = 120.0

  /** Writes the result and trace files; Scala maps keep their order. */
  val Json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** Whether the warm-up pass times `walls` have stopped falling. */
  def settled(walls: Seq[Double]): Boolean =
    walls.length >= MinWarmupPasses &&
      walls.last >= walls.init.takeRight(2).min * (1 - SettleTolerance)

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, result: Path, traceOut: Path)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")), Paths.get(need("result")),
      Paths.get(need("trace-out")))
  }

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long): Double = (now() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def session(work: Path, slots: Int): SparkSession = {
    val s = GraftSession.builder(s"local[$slots]", slots)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // Spark's status store keeps up to 1,000 finished jobs and queries, so
      // without a small cap the heap left at the end grows with the number
      // of passes the run had time for
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftSession.tune(s)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val code =
      try run(a)
      catch { case e: Throwable => e.printStackTrace(); 2 }
    SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(code)
  }

  /** Per-pass outcome: wall seconds, executor CPU seconds, executor work
    * per span (traced passes), and the pass's spans. */
  final case class PassStats(wall: Double, total: Work, work: Map[String, Work],
                             spans: Seq[Span]) {
    def cpu: Double = total.cpuNs / 1e9
  }

  def run(a: Args): Int = {
    val t0 = now()
    def log(msg: String): Unit = System.err.println(f"[perfbench ${secs(t0)}%7.2f s] $msg")
    val slots = math.min(4, Runtime.getRuntime.availableProcessors())
    Files.createDirectories(a.work)
    val spark = session(a.work, slots)
    val sc = spark.sparkContext
    val sessionS = secs(t0)
    val listener = new SpanListener
    sc.addSparkListener(listener)

    val wl = Workload(a.workload, spark, a.work, a.seed)
    val landS = (1 to SetupReps).map { _ => val t = now(); wl.land(); secs(t) }
    val setupS = sessionS + median(landS)
    log(s"set-up: session $sessionS s, landings $landS")

    val plain = new Tracer(sc, on = false)
    val traced = new Tracer(sc, on = a.trace)
    val out = a.work.resolve("pass")
    var checks = 0
    var failedChecks = 0
    val failures = scala.collection.mutable.LinkedHashSet.empty[String]
    var passNo = 0

    def runPass(t: Tracer): PassStats = {
      Workload.deleteTree(out)
      Files.createDirectories(out)
      t.pass = passNo
      passNo += 1
      val w0 = listener.snapshot(sc)
      val p0 = now()
      if (t.on) t.span("pass")(wl.pass(t, out)) else wl.pass(t, out)
      val wall = secs(p0)
      val w1 = listener.snapshot(sc)
      if (t.on) wl.probe(t)
      val w2 = listener.snapshot(sc)
      val work = (w2.keySet ++ w0.keySet).map(k =>
        k -> (w2.getOrElse(k, Work()) - w0.getOrElse(k, Work()))).toMap
      def sum(w: Map[String, Work]) = w.values.foldLeft(Work())(_ + _)
      wl.check(out).foreach { case (name, ok) =>
        checks += 1
        if (!ok) { failedChecks += 1; failures += name }
      }
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val stats = PassStats(wall, sum(w1) - sum(w0), work, t.spans.filter(_.pass == t.pass))
      log(f"pass ${t.pass}%d${if (t.on) " traced" else ""}: wall ${stats.wall}%.3f s, " +
        f"executor cpu ${stats.cpu}%.3f s")
      stats
    }

    val first = runPass(plain)
    val warm0 = now()
    val warmWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (warmWalls.length < MinWarmupPasses ||
      (!settled(warmWalls.toSeq) && secs(warm0) < WarmupCapSeconds))
      warmWalls += runPass(plain).wall
    val steady = scala.collection.mutable.ArrayBuffer.empty[PassStats]
    val tracedPasses = scala.collection.mutable.ArrayBuffer.empty[PassStats]
    val s0 = now()
    def more(n: Int, min: Int) =
      n < min || (secs(s0) < a.seconds && secs(t0) < BudgetSeconds)
    if (!a.trace) {
      while (more(steady.length, MinSteadyPasses)) steady += runPass(plain)
    } else {
      while (more(tracedPasses.length, MinTracedPasses)) {
        steady += runPass(plain)
        tracedPasses += runPass(traced)
      }
    }
    val atRest = wl.atRestBytes(out)
    val counts = if (a.trace) wl.counts(out) else Map.empty[String, Double]
    if (a.trace) wl.countChecks(counts).foreach { case (name, ok) =>
      checks += 1
      if (!ok) { failedChecks += 1; failures += name }
    }
    val wlFacts = wl.facts
    // the benchmark's own inputs and oracles are not the program's heap
    wl.release()

    val metrics: Map[String, Double] =
      if (!a.trace) {
        val heapMb = retainedHeapMb(sc)
        Map("setup_s" -> setupS,
          "first_pass_s" -> first.wall,
          "wall_s" -> median(steady.map(_.wall).toSeq),
          "items_per_s" -> wl.items * steady.length / steady.map(_.wall).sum,
          "cpu_s" -> median(steady.map(_.cpu).toSeq),
          "retained_heap_mb" -> heapMb,
          "at_rest_bytes_per_item" -> atRest.toDouble / wl.items)
      } else {
        val layers = perLayer(tracedPasses.toSeq, slots)
        val overhead = median(tracedPasses.map(_.wall).toSeq) - median(steady.map(_.wall).toSeq)
        layers ++ Metrics.Counts.map(d => d.name -> counts.getOrElse(d.name, 0.0)) ++
          Map("tracing_overhead_s" -> overhead)
      }
    val declared = (if (a.trace) Metrics.PerLayer else Metrics.EndToEnd).map(_.name)
    require(metrics.keySet == declared.toSet,
      s"metric names differ from the declared ones: ${metrics.keySet.diff(declared.toSet)} " +
        s"${declared.toSet.diff(metrics.keySet)}")

    val calls = plain.calls + traced.calls
    val attempted = calls + checks
    val failed = failedChecks
    val facts: Map[String, Any] = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "nproc" -> Runtime.getRuntime.availableProcessors(), "task_slots" -> slots,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version, "items" -> wl.items,
      "setup_runs_s" -> landS, "session_start_s" -> sessionS,
      "warmup_walls_s" -> warmWalls.toSeq, "warmup_settled" -> settled(warmWalls.toSeq),
      "steady_passes" -> steady.length,
      "traced_passes" -> tracedPasses.length,
      "steady_walls_s" -> steady.map(_.wall).toSeq,
      "failed_ratio" -> failed.toDouble / attempted,
      "failed_checks" -> failures.toSeq) ++ wlFacts

    if (a.trace) writeTrace(a.traceOut, a, tracedPasses.toSeq, t0)
    log("done")
    val result = ListMap(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> ListMap(declared.map(n => n -> ListMap("value" -> metrics(n),
        "unit" -> Metrics.unitOf(n))): _*),
      "facts" -> ListMap(facts.toSeq.sortBy(_._1): _*))
    Files.createDirectories(a.result.getParent)
    Files.write(a.result, Json.writeValueAsBytes(result))
    if (failed == 0) 0 else 1
  }

  /** Heap still reachable at the end of the run: the least heap in use
    * after each of a few full collections, once the listener bus is idle. */
  def retainedHeapMb(sc: org.apache.spark.SparkContext): Double = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** Median over traced passes of each span's counters; spans a workload
    * does not run report 0. A span entered several times in a pass (the
    * store writes, the three NetCDF sinks) sums within the pass. */
  def perLayer(passes: Seq[PassStats], slots: Int): Map[String, Double] = {
    def perPass(p: PassStats, name: String): Map[String, Double] = {
      val ss = p.spans.filter(_.name == name)
      val w = if (name == "pass") p.total else p.work.getOrElse(name, Work())
      val wall = ss.map(_.seconds).sum
      val cpu = w.cpuNs / 1e9
      Map("wall_s" -> wall, "jobs" -> w.jobs.toDouble, "tasks" -> w.tasks.toDouble,
        "exec_cpu_s" -> cpu, "util" -> (if (wall > 0) cpu / (wall * slots) else 0.0),
        "shuffle_mb" -> w.shuffleBytes / 1e6, "spill_mb" -> w.spillBytes / 1e6,
        "gc_s" -> ss.map(_.gcMs).sum / 1e3)
    }
    val spans = for (name <- Metrics.Spans; (c, _, _) <- Metrics.Counters) yield
      s"$name.$c" -> median(passes.map(p => perPass(p, name)(c)))
    val self = median(passes.flatMap { p =>
      p.spans.find(_.name == "pass").map(root =>
        Spans.selfSeconds(root, p.spans.filter(_.parent == "pass")))
    })
    (spans :+ ("pass.self_s" -> self)).toMap
  }

  /** Every span of the traced passes (times in seconds from the run's
    * start) and the executor work each pass attributed to each span name. */
  private def writeTrace(path: Path, a: Args, passes: Seq[PassStats], t0: Long): Unit = {
    val spans = passes.flatMap(_.spans.map(s => ListMap("pass" -> s.pass,
      "name" -> s.name, "parent" -> s.parent, "start_s" -> (s.startNs - t0) / 1e9,
      "end_s" -> (s.endNs - t0) / 1e9, "gc_s" -> s.gcMs / 1e3)))
    val work = passes.flatMap(p => p.work.toSeq.sortBy(_._1).map { case (name, w) =>
      ListMap("pass" -> p.spans.headOption.map(_.pass), "span" -> name, "jobs" -> w.jobs,
        "tasks" -> w.tasks, "exec_cpu_s" -> w.cpuNs / 1e9,
        "shuffle_mb" -> w.shuffleBytes / 1e6, "spill_mb" -> w.spillBytes / 1e6)
    })
    Files.createDirectories(path.getParent)
    Files.write(path, Json.writeValueAsBytes(ListMap("workload" -> a.workload,
      "seed" -> a.seed, "spans" -> spans, "work" -> work)))
  }
}
