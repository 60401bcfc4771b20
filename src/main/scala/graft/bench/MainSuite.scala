package graft.bench

import graft.Bench.{best, clock, effCores, faster, loadavg1, mainOutlier, parsePrevWalls, timed}
import graft.bench.Run.{rerun, short}
import graft.queries.SessionMemo

/** One calibration sample: single-thread spin t1 (a machine-speed
  * constant — the r9 forensics showed it nearly contention-INSENSITIVE),
  * the derived effective-cores anchor, 1-min loadavg, and the block
  * manager's storage footprint. */
final case class CalibSample(t1: Double, eff: Double, load: Double,
                             storMB: Long)

/** The main suite's per-query walls (None: every run failed), its
  * calibration samples — `rerunCalib` non-empty exactly when the host
  * was contended and the whole suite ran twice — and the pass walls
  * (`wall2` −1 without a re-run). */
final case class MainOutcome(results: Map[String, Option[(Double, Long)]],
                             calib: Seq[CalibSample],
                             rerunCalib: Seq[CalibSample],
                             wall: Double, wall2: Double) {
  /** The samples of the pass whose numbers are published last. */
  def finalCalib: Seq[CalibSample] = if (rerunCalib.nonEmpty) rerunCalib else calib
}

/** The main per-query suite: reps, contention extras, the decorrelated
  * second chance, the whole-suite re-run when the host is contended,
  * and the previous-artifact band re-runs that run after the post-loop
  * stages. */
object MainSuite {
  private def storageMB(r: Run): Long =
    try r.spark.sparkContext.statusTracker.getExecutorInfos
      .map(i => i.usedOnHeapStorageMemory + i.usedOffHeapStorageMemory)
      .sum / (1024 * 1024)
    catch { case _: Throwable => -1L }

  // RDD blocks only, read from the context's persistent-RDD registry
  // (updated synchronously by unpersist, unlike the executor total,
  // which is fed by the async listener bus and also counts broadcast
  // blocks) — the measure SessionStateSpec asserts is 0 after a reset
  private def rddMB(r: Run): Long = r.spark.sparkContext.getRDDStorageInfo
    .map(i => i.memSize + i.diskSize).sum / (1024 * 1024)

  /** A pass's effective-cores minimum, `expected` without samples. */
  def effMin(ss: Seq[CalibSample], expected: Double): Double =
    if (ss.isEmpty) expected else ss.map(_.eff).min

  /** The main suite, re-run whole ONCE on a contended verdict (per-query
    * minima merged — a burst only ever inflates). */
  def run(r: Run, only: Option[Seq[String]]): MainOutcome = {
    val (wall, (results1, calib)) = clock(pass(r, only))
    val eff1 = effMin(calib, r.expected)
    if (!r.contended(eff1)) MainOutcome(results1, calib, Nil, wall, -1.0)
    else {
      System.err.println(f"[bench] calibration effCores $eff1%.1f" +
        f" < ${graft.Bench.CalibEffFrac * r.expected}%.1f (of ${r.expected}%.0f expected)" +
        " — host contended; re-running the whole main suite once")
      val (wall2, (res2, calib2)) = clock(pass(r, only))
      MainOutcome(results1.map { case (k, a) => k -> faster(a, res2.getOrElse(k, None)) },
        calib, calib2, wall, wall2)
    }
  }

  /** One full pass of the main per-query loop plus its decorrelated
    * second-chance pass, bracketed by host-load calibration samples
    * (start, every ~n/6 queries, end): returns the per-query results and
    * the samples. A function, not inline code, because the calibration
    * verdict may demand the WHOLE pass re-run once (BENCH_r08's failure
    * mode: a burst long enough to swallow the in-loop reps AND the
    * second-chance re-runs — no within-pass discipline can beat a burst
    * that outlasts the pass, so the answer is a second pass, minutes of
    * wall time away, gated on the published verdict). */
  private def pass(r: Run, only: Option[Seq[String]])
      : (Map[String, Option[(Double, Long)]], Seq[CalibSample]) = {
    val samples = scala.collection.mutable.ArrayBuffer[CalibSample]()
    def sample(tag: String): Unit = {
      val (t1, eff) = effCores(r.threads)
      val c = CalibSample(t1, eff, loadavg1(), storageMB(r))
      samples += c
      System.err.println(f"[bench] calib $tag%-6s t1 ${c.t1}%5.3f s, " +
        f"eff ${c.eff}%5.1f/${r.expected}%.0f cores, " +
        f"loadavg ${c.load}%.1f, storage ${c.storMB} MB")
    }
    /** Mid-loop state barrier (VERDICT r9 task 5): the suite leaves
      * ~118 queries of block-manager state in one JVM, and a run
      * measured 2× distortion on scale10 from exactly this pressure —
      * the scale10/stores stages defend themselves with unpersist
      * barriers, the main loop had none. [[SessionMemo.reset]] drops
      * the blocks and the memos they back; each memo's rebuild lands in
      * its next consumer's rep 1; the published min-of-reps keeps the
      * warm rep, so per-query walls are unchanged — only the suite wall
      * pays. */
    def stateBarrier(): Unit = {
      val (before, rddBefore) = (storageMB(r), rddMB(r))
      SessionMemo.reset(r.spark)
      System.err.println(s"[bench] state barrier: storage $before MB" +
        s" -> ${storageMB(r)} MB, rdd blocks $rddBefore MB -> ${rddMB(r)} MB")
    }
    sample("start")
    val named = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.startsWith)))
    // sample every ~n/6 queries (r9's 3-point sampling left multi-
    // minute gaps a burst could hide inside); barriers fire after the
    // 1/3 and 2/3 samples, so each sample still sees the accumulated
    // PRE-barrier footprint
    val step = math.max(1, named.size / 6)
    val results = named.zipWithIndex.map { case (name, idx) =>
      if (idx > 0 && idx % step == 0 && idx / step <= 5) {
        sample(s"q$idx")
        if (idx / step == 2 || idx / step == 4) stateBarrier()
      }
      // Only SUCCESSFUL reps may supply the published time ([[best]]):
      // a rep that throws fast (transient OOM, analysis error) would
      // otherwise win with its time-to-failure — and its bogus
      // sub-second "min" would also suppress the contention retries.
      var bestOk = best(name, r.reps)(r.count(name))
      // Contention guard: on shared hardware a CPU spike during both
      // default reps of a multi-second query inflates its min by 5-10x
      // (observed on the CPU-bound atlas quartet: 3-4 s clean vs 14-30 s
      // contended). Cheap sub-second queries shrug this off; for slow
      // ones, extra reps make a clean window far more likely. Bounded so
      // a genuinely slow (or persistently failing) query costs at most 2
      // extra runs.
      var extra = 0
      while (extra < 2 && bestOk.forall(_._1 > 1.0)) {
        bestOk = faster(bestOk, timed(name)(r.count(name)))
        extra += 1
      }
      // A query whose every rep failed gets NO time: publishing its
      // fastest time-to-failure would make a broken suite look FASTER
      // than a healthy one in the machine-parsed JSON (rows=-1 is only
      // visible on stderr). It is carried as None and surfaces in the
      // "failed" list instead.
      bestOk match {
        case Some((dt, rows)) =>
          System.err.println(f"[bench] $name%-24s $dt%8.2f s ($rows rows)")
        case None =>
          System.err.println(f"[bench] $name%-24s   FAILED (all ${r.reps + extra} reps)")
      }
      name -> bestOk
    }.toMap
    // Second-chance pass, decorrelated in time: a sustained host-level CPU
    // burst can span every rep of one query (minutes apart from its
    // in-loop retries, which all sit inside the burst). Queries that still
    // look slow get ONE more run after the whole suite has finished —
    // typically several minutes later, far outside the original window.
    // BENCH_r02 measured the atlas trio at 14-30 s under such a burst;
    // the same queries re-run clean at 2-3 s. Threshold history: 2.5 →
    // 1.0 (BENCH_r03 published q70 at 1.24 s vs 0.71 s clean) → 0.4:
    // BENCH_r05 published q33 at 0.998 s and q32 at 0.820 s — 6-7x their
    // clean ~0.13 s, diff-identical code — because the burst spanned both
    // in-loop reps and both numbers sat just UNDER the 1.0 s line, so
    // neither got its decorrelated re-run (a clean full-suite re-run
    // reproduced 0.11/0.14 s). BENCH_r06 repeated the pattern on a whole
    // CONTIGUOUS block (q75/q80/q90-q96 published 0.40-0.77 s, all under
    // 1.0; a diff-identical full-suite re-run reproduced 0.10-0.24 s and
    // the isolated block ruled suite-state pressure out) — a multi-minute
    // burst covers many consecutive sub-second queries at once, so the
    // line must sit BELOW the distorted values it needs to catch. At 0.4
    // the ~30 affected queries re-running once cost ~25 s of bench wall
    // time, cheap next to publishing a phantom 2-4x block regression; a
    // burst value still under 0.4 distorts the total by < 0.3 s/query.
    val RerunThresholdSec = 0.4
    val results2 = results.map { case (name, b) =>
      // all-reps-failed queries get one decorrelated chance too: a
      // transient condition (full /tmp, OOM burst) that cleared since
      // should not mark the whole suite broken
      name -> (if (!b.forall(_._1 > RerunThresholdSec)) b
               else rerun(name, f"$name%-24s", b)(r.count(name)))
    }
    sample("end")
    (results2, samples.toSeq)
  }

  /** Per-query band re-runs (VERDICT r13 task 2), run AFTER the post-loop
    * stages — deliberately: each published wall is checked against the
    * PREVIOUS round's artifact (BENCH_FULL.json, in-repo) and >3×
    * outliers (above a 0.3 s floor) get ONE more run a full
    * scale10+atlas+stores pipeline later than their in-loop reps and
    * 0.4 s second-chance runs — minutes of decorrelation no within-loop
    * retry can buy (r13's phantom 13×, q119 0.93 vs 0.10, sat entirely
    * inside one burst that swallowed every in-loop retry). The previous
    * artifact is the one anchor a same-session burst cannot touch.
    * Returns the final walls and the re-run short names, published under
    * `rerun`. */
  def bandRerun(r: Run, results: Map[String, Option[(Double, Long)]])
      : (Map[String, Option[(Double, Long)]], Seq[String]) = {
    val prevWalls: Map[String, Double] = try {
      parsePrevWalls(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("BENCH_FULL.json")),
        java.nio.charset.StandardCharsets.UTF_8), r.sfDir)
    } catch { case _: Throwable => Map.empty }
    val reruns = scala.collection.mutable.ArrayBuffer[String]()
    val walls = results.map { case (name, b) =>
      val prev = prevWalls.getOrElse(short(name), -1.0)
      if (!b.exists { case (dt, _) => mainOutlier(dt, prev) }) name -> b
      else {
        reruns += short(name)
        val again = timed(name)(r.count(name))
        again.foreach { case (dt2, _) =>
          System.err.println(f"[bench] $name%-24s $dt2%8.2f s (band re-run; " +
            f"prev round $prev%.2f s)")
        }
        name -> faster(b, again)
      }
    }
    if (reruns.nonEmpty)
      System.err.println(s"[bench] band re-runs: ${reruns.sorted.mkString(", ")}")
    (walls, reruns.sorted.toSeq)
  }
}
