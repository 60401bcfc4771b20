package graft
import org.apache.spark.sql.SparkSession

import graft.queries.SessionMemo

object Bench {
  /** Land the ~10× blown-up rehearsal corpus (documents + embeddings)
    * in a fresh temp dir and return it. Replicas are near-dup PERTURBED,
    * not bit-identical: each doc replica gets a per-replica suffix token
    * (shifted ids), and each vector replica a per-replica norm-preserving
    * DIMENSION ROTATION — keeps every replica's internal near-dup
    * structure (a≈b stays a≈b under the same rotation) while
    * decorrelating replicas from each other; bit-identical copies would
    * give every vector 9 exact dups and grow the near-dup pair set
    * quadratically (measured 25× wall on q67 at 10×), an artifact of the
    * fixture, not the plan. */
  private[graft] def buildScale10(spark: SparkSession, sfDir: String): String = {
    import org.apache.spark.sql.functions._
    val dir = graft.TempDirs.create("graft-scale10").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val nd = docs.agg(max("doc_id")).head.getLong(0) + 1
    val nv = emb.agg(max("vec_id")).head.getLong(0) + 1
    val reps10 = spark.range(10).select(col("id").as("__rep"))
    docs.crossJoin(reps10)
      .withColumn("doc_id", col("doc_id") + col("__rep") * nd)
      .withColumn("text", when(col("__rep") === 0, col("text"))
        .otherwise(concat(col("text"), lit(" v"), col("__rep"))))
      .drop("__rep")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    emb.crossJoin(reps10)
      .withColumn("vec_id", col("vec_id") + col("__rep") * nv)
      .withColumn("embedding", transform(sequence(lit(0), lit(dim - 1)),
        i => element_at(col("embedding"),
          (pmod(i + col("__rep") * 7, lit(dim)) + 1).cast("int"))))
      .drop("__rep")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  /** Prompt recursive delete of a bench-created temp tree — the
    * checkpoint-hygiene lesson applied to the corpus-sized stage dirs:
    * without it every bench run leaks a ~corpus of parquet into tmp for
    * the host's lifetime (DROP TABLE on a path-backed table removes only
    * metadata). private[graft] so specs that build corpora can clean up
    * after themselves. Delegates to [[TempDirs.deleteRec]] (one delete
    * implementation). */
  private[graft] def deleteRec(root: String): Unit = TempDirs.deleteRec(root)

  /** Wall seconds of `body` and its result; a throw propagates. */
  private def clock[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** THE timing point of every measured query run: wall seconds and the
    * result, or None when the body threw. A failure is logged once, here,
    * and never yields a time — a fast time-to-failure published as a
    * measurement would make a broken run look FASTER than a healthy one. */
  private[graft] def timed[T](tag: String)(body: => T): Option[(Double, T)] =
    try Some(clock(body))
    catch { case e: Throwable =>
      System.err.println(s"[bench] $tag FAILED: " +
        s"${e.getClass.getSimpleName} ${String.valueOf(e.getMessage).take(200)}")
      None
    }

  /** The re-run rule: a later run replaces the published result only when
    * it succeeded and is strictly faster, or when every earlier run
    * failed (a burst only ever inflates a wall, so the minimum of the
    * successful runs is the honest one). */
  private[graft] def faster[T](published: Option[(Double, T)],
                               next: Option[(Double, T)]): Option[(Double, T)] =
    (published ++ next).minByOption(_._1)

  /** Fastest SUCCESSFUL run of `reps` (None when every run failed) — the
    * warm-number discipline of every published wall. `before` runs ahead
    * of each rep, outside the timed window (the stores stage's per-rep
    * cold reset). */
  private[graft] def best[T](tag: String, reps: Int, before: => Unit = ())
                            (body: => T): Option[(Double, T)] =
    (1 to reps).foldLeft(Option.empty[(Double, T)]) { (acc, _) =>
      before
      faster(acc, timed(tag)(body))
    }

  /** Run `body` with each key set (Some) or unset (None), restoring every
    * key's prior value — or its absence — afterwards, also when the body
    * throws: unset alone would clobber a pre-existing session override. */
  private[graft] def withConfs[T](spark: SparkSession,
                                  confs: Seq[(String, Option[String])])
                                 (body: => T): T = {
    def put(kvs: Seq[(String, Option[String])]): Unit = kvs.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    put(confs)
    try body finally put(prior)
  }

  /** Sink keeping the calibration spin loop's result alive (a dead loop
    * would JIT away and calibrate nothing). */
  @volatile private var spinSink = 0L

  /** Host-load calibration: a FIXED single-thread spin workload, timed.
    * On an idle core this runs in a constant ~0.3 s. Pure integer mixing
    * (no allocation, no memory traffic) so the number measures CPU
    * speed, not cache state. NOTE (r9 lesson): this single-thread time
    * is nearly contention-INSENSITIVE and is therefore only the
    * machine-speed numerator of the verdict — the contention signal
    * lives in [[calibSpinPar]]'s gang wall. */
  private[graft] def calibSpin(): Double = clock {
    var h = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 150000000) {
      h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h += i; i += 1
    }
    spinSink = h
  }._1

  /** N-thread gang of the fixed spin workload, timed together (wall
    * seconds until ALL threads finish). The single-thread spin is nearly
    * contention-INSENSITIVE — BENCH_r09's published samples
    * (0.299/0.293/0.354) were indistinguishable from the judge's
    * idle-host ones (0.289/0.288/0.363) while the 32-way stages ran 2–7×
    * slow, because a burst that steals cores rarely deschedules any ONE
    * runnable thread for long. An N-thread gang sees exactly what a
    * 32-way Spark stage sees: with C cores actually available it takes
    * ~N/C single-thread units, so `effCores = N·t1/tN` measures the cores
    * available to an N-way stage — an ABSOLUTE anchor (expected value =
    * min(N, cores, cgroup quota), no within-run baseline needed), which
    * is the property the r9 within-run-drift verdict was blind to
    * (uniform whole-run load leaves drift ≈ 1.0). */
  private[graft] def calibSpinPar(n: Int): Double = clock {
    val ts = (1 to n).map { _ =>
      val t = new Thread(() => calibSpin())
      t.setDaemon(true)
      t.start()
      t
    }
    ts.foreach(_.join())
  }._1

  /** Effective CPU quota in cores from the cgroup (v2 `cpu.max`, v1
    * `cpu.cfs_quota_us`), −1 when unlimited or unreadable. Published in
    * the bench JSON so cross-environment comparisons are mechanical: the
    * round-9 forensics hinged on noticing the judge JVM ran under a
    * 4-core quota on a 32-core host. */
  private[graft] def cgroupQuota(): Double = {
    def read(p: String): Option[String] =
      try {
        val src = scala.io.Source.fromFile(p)
        try Some(src.mkString.trim) finally src.close()
      } catch { case _: Throwable => None }
    read("/sys/fs/cgroup/cpu.max").flatMap { s =>
      s.split("\\s+") match {
        case Array("max", _) => None
        case Array(q, p) => Some(q.toDouble / p.toDouble)
        case _ => None
      }
    }.orElse {
      for {
        q <- read("/sys/fs/cgroup/cpu/cpu.cfs_quota_us").map(_.toLong)
        if q > 0
        p <- read("/sys/fs/cgroup/cpu/cpu.cfs_period_us").map(_.toLong)
      } yield q.toDouble / p.toDouble
    }.getOrElse(-1.0)
  }

  /** First field of /proc/loadavg (1-min load), −1 when unreadable —
    * published beside the spin samples as the host-side witness. */
  private[graft] def loadavg1(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** Fraction of the round's OWN calibration band below which a stage
    * window is flagged `slow` (VERDICT r12 task 4). */
  private[graft] val SlowBandFrac = 0.75

  /** Slow-window verdict: the stage's in-window effective-core minimum
    * against the round's own calibration band (the main suite's median
    * eff sample). The absolute `CalibEffFrac` floor catches hard bursts;
    * this RELATIVE verdict catches the r12 blind spot — a host running
    * 25% under its own in-suite band (effmin 17.6 vs band ~24) read
    * `cont: 0` while the window's multi-second members (q43/q67) ran
    * ~1.7× slow, leaving the regression unattributable from the
    * artifact. A flagged window re-runs once like a contended one, and
    * the final pass publishes `slow: 1` so readers discount it. */
  private[graft] def slowWindow(effMin: Double, band: Double,
                                frac: Double = SlowBandFrac): Boolean =
    effMin < frac * band

  /** The round's own band anchor: the MEDIAN of the main suite's
    * calibration samples — robust to the one-sample bursts the median
    * of five shrugs off, and exactly the number a human reads from the
    * artifact's `eff` array when judging a stage window. */
  private[graft] def calibBand(effs: Seq[Double], fallback: Double): Double = {
    val es = effs.sorted
    if (es.isEmpty) fallback else es(es.size / 2)
  }

  /** Per-QUERY relative band for the scale10 stage (VERDICT r13 task 1):
    * the window-level effmin verdict is too coarse for multi-second
    * queries — r13's closing window read CLEAN (effmin 0.82× band) while
    * q43/q67 ran ~35% over their proven-clean walls, leaving the round's
    * longest queries unattributable. Each scale query therefore carries
    * a band = its best KNOWN clean wall (the SCALING.md exoneration runs
    * / cleanest committed artifacts); a member finishing above
    * [[Scale10BandRatio]] × band re-runs ONCE (the query, not the
    * stage), and one that stays over publishes its own `<q>slow` marker
    * so the artifact names the exact slow member. Bands are maintained
    * like BASELINE numbers: update when a faster clean wall is measured
    * AT THIS SF (sf0.1 blowup, 32 cores); they gate nothing at other
    * scales ([[queryOverBand]] is a no-op without a band). */
  private[graft] val Scale10Bands: Map[String, Double] = Map(
    // r14 optimization round: clean-verdict walls after the fan-out
    // partition fix + checkpointed candidate frames (see
    // OPTIMIZATION_r14.md; previous bands: q36 6.55, q38 5.21, q41 2.37,
    // q43 7.90, q67 8.53, q97 2.06, q102 3.44, q118 0.65, q122 2.24,
    // q125 2.64, q128 0.58, q134 5.97)
    "q36" -> 2.46, "q38" -> 2.76, "q41" -> 1.74, "q43" -> 0.64,
    "q67" -> 1.00, "q97" -> 1.04, "q102" -> 2.62, "q118" -> 0.56,
    "q122" -> 1.75, "q125" -> 1.19, "q128" -> 0.31, "q134" -> 1.26)

  private[graft] val Scale10BandRatio = 1.25

  /** Absolute excess floor for [[queryOverBand]] — the [[mainOutlier]]
    * floor's scale10 twin, needed once the r14 optimization round pulled
    * most members under ~2 s: at a 0.31 s band, 1.25× is 80 ms of
    * jitter, and an average (not contended, not stage-slow) window
    * flagged NINE members whose combined excess was under 2 s — noise
    * flags that cost re-runs and read as regressions. A real per-query
    * regression of the kind the flag exists for (r13's q43: 11.0 vs its
    * 7.90 band, 3.1 s of excess) clears any sub-second floor trivially;
    * sub-second members cannot accumulate half a second of excess from
    * scheduler jitter.
    *
    * ACCEPTED BLIND SPOT (r14 advice, documented rather than "fixed"):
    * a member whose band sits under ~0.7 s (q43 0.33, q118 0.47,
    * q128 0.35 this round) can regress up to band + 0.5 s — 2-3× —
    * without flagging. Deliberate: those members' walls are dominated by
    * fixed job latency whose window-to-window swing IS the 0.5 s the
    * floor absorbs, and the round-over-round driver comparison (PERF
    * diff at 1×) still catches any real plan regression on them; scaling
    * the floor with the band instead would weaken the flag exactly on
    * the multi-second members it exists for. */
  private[graft] val Scale10BandFloorSec = 0.5

  /** True when a scale10 wall exceeds its per-query band — the trigger
    * for the single-query re-run and, if it persists, the `<q>slow`
    * marker. No band (band ≤ 0) → never flags; an over-ratio wall whose
    * absolute excess is under [[Scale10BandFloorSec]] doesn't either. */
  private[graft] def queryOverBand(wall: Double, band: Double,
                                   ratio: Double = Scale10BandRatio,
                                   floor: Double = Scale10BandFloorSec): Boolean =
    band > 0 && wall > ratio * band && wall - band > floor

  /** Main-loop per-query outlier verdict (VERDICT r13 task 2): r13
    * published q119 at 0.93 s against 0.10 at the same HEAD — a 13×
    * phantom — because both reps AND the 0.4 s second-chance re-run all
    * landed inside one sustained burst. Each query's published wall is
    * therefore checked against the PREVIOUS round's artifact
    * (BENCH_FULL.json, in-repo) and a >3× outlier gets one more
    * deferred run AFTER the post-loop stages — minutes of decorrelation
    * the in-loop retries cannot buy — with the re-run names published
    * under `rerun`. The absolute floor keeps sub-0.3 s jitter (a 0.05 →
    * 0.16 s wiggle) from buying re-runs that prove nothing. */
  private[graft] def mainOutlier(wall: Double, prevWall: Double,
                                 ratio: Double = 3.0,
                                 floor: Double = 0.3): Boolean =
    prevWall > 0 && wall > ratio * prevWall && wall > floor

  /** The previous round's per-query walls from an artifact line —
    * `"queries":{"q01":0.35,…}` — guarded by the sf tag so a bench at a
    * different scale never compares against sf0.1 numbers. */
  private[graft] def parsePrevWalls(artifact: String,
                                    sfDir: String): Map[String, Double] =
    if (!artifact.contains(s""""sf":"$sfDir"""")) Map.empty
    else """"queries":\{([^}]*)\}""".r.findFirstMatchIn(artifact)
      .map(_.group(1).split(",").toSeq.flatMap { kv =>
        kv.split(":") match {
          case Array(k, v) =>
            try Some(k.replace("\"", "") -> v.toDouble)
            catch { case _: Throwable => None }
          case _ => None
        }
      }.toMap).getOrElse(Map.empty)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.tune(
      GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    // warm the session (codegen, shuffle machinery, AQE, parquet decode,
    // broadcast) so the first timed query measures its plan, not session
    // startup: a bare count() skips the shuffle + wholestage-agg paths,
    // which q01 (alphabetically first) was observed to absorb at ~0.5 s
    try {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      li.count()
      li.limit(100000).groupBy("l_returnflag").count().collect()
      li.limit(1000).join(
        org.apache.spark.sql.functions.broadcast(li.limit(10).select("l_orderkey")),
        "l_orderkey").count()
    } catch { case _: Throwable => }
    Warmup.run() // C2-compile the numeric kernels (shared JVM in local mode)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val scale10On = sys.env.getOrElse("SPARK_GRAFT_SCALE10", "1") != "0"
    val storesOn = sys.env.getOrElse("SPARK_GRAFT_STORES", "1") != "0"
    def short(name: String): String = name.takeWhile(_ != '_')
    // a re-run that replaced the published wall is logged with what it beat
    def lateBeat(label: String, now: Option[(Double, Long)],
                 was: Option[(Double, Long)]): Unit =
      System.err.println(f"[bench] $label ${now.fold(0.0)(_._1)}%8.2f s (late re-run beat " +
        was.fold("FAILED")(w => f"${w._1}%.2f") + ")")
    // repeats: report the fastest — steady-state timing. The default
    // of 2 absorbs per-query codegen compilation and host-level CPU
    // noise (observed 2x run-to-run on shared hardware); the first
    // run's cost is real but measures the JIT, not the plan.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "2").toInt
    /** One full pass of the main per-query loop plus its decorrelated
      * second-chance pass, bracketed by host-load calibration samples
      * (start / mid-loop / end — see [[calibSpin]]): returns the
      * per-query results and the (spin, loadavg) sample pairs. A
      * function, not inline code, because the calibration verdict may
      * demand the WHOLE pass re-run once (BENCH_r08's failure mode: a
      * burst long enough to swallow the in-loop reps AND the
      * second-chance re-runs — no within-pass discipline can beat a
      * burst that outlasts the pass, so the answer is a second pass,
      * minutes of wall time away, gated on the published drift). */
    val nThreads = cpus.toInt
    val procs = Runtime.getRuntime.availableProcessors()
    val quota = cgroupQuota()
    // what an uncontended N-way gang should achieve: bounded by the
    // session's parallelism, the machine, and any cgroup carve-out.
    // (SMT halves make the achievable value sit below this on
    // hyperthreaded hosts — measured 20.7–28.1 of expected 32 idle —
    // which the 0.5 verdict fraction absorbs.)
    val calibExpected = Seq(nThreads.toDouble, procs.toDouble,
      if (quota > 0) quota else Double.MaxValue).min
    /** One calibration sample: single-thread spin t1 (a machine-speed
      * constant — the r9 forensics showed it nearly contention-
      * INSENSITIVE), the N-thread gang wall (best of 2 so one unlucky
      * descheduling can't fake contention), the derived effective-cores
      * anchor, 1-min loadavg, and the block manager's storage footprint. */
    case class CalibSample(t1: Double, eff: Double, load: Double,
                           storMB: Long)
    def storageMB(): Long =
      try spark.sparkContext.statusTracker.getExecutorInfos
        .map(i => i.usedOnHeapStorageMemory + i.usedOffHeapStorageMemory)
        .sum / (1024 * 1024)
      catch { case _: Throwable => -1L }
    // RDD blocks only, read from the context's persistent-RDD registry
    // (updated synchronously by unpersist, unlike the executor total,
    // which is fed by the async listener bus and also counts broadcast
    // blocks) — the measure SessionStateSpec asserts is 0 after a reset
    def rddMB(): Long = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / (1024 * 1024)
    // discarded JIT warm-up: the first execution of the spin loop
    // C2-compiles it, so an undiscarded "start" sample reads high and a
    // relative check would false-positive on an idle host
    calibSpin(); calibSpinPar(nThreads)
    def runMainSuite(): (Map[String, Option[(Double, Long)]], Seq[CalibSample]) = {
      val samples = scala.collection.mutable.ArrayBuffer[CalibSample]()
      def sample(tag: String): Unit = {
        val t1 = calibSpin()
        val gang1 = calibSpinPar(nThreads)
        val gang2 = calibSpinPar(nThreads)
        val eff = nThreads * t1 / math.min(gang1, gang2)
        val c = CalibSample(t1, eff, loadavg1(), storageMB())
        samples += c
        System.err.println(f"[bench] calib $tag%-6s t1 ${c.t1}%5.3f s, " +
          f"eff ${c.eff}%5.1f/$calibExpected%.0f cores, " +
          f"loadavg ${c.load}%.1f, storage ${c.storMB} MB")
      }
      /** Mid-loop state barrier (VERDICT r9 task 5): the suite leaves
        * ~118 queries of block-manager state in one JVM and the builder
        * measured 2× distortion on scale10 from exactly this pressure —
        * the scale10/stores stages defend themselves with unpersist
        * barriers, the main loop had none. [[SessionMemo.reset]] drops
        * the blocks and the memos they back; each memo's rebuild lands in
        * its next consumer's rep 1; the published min-of-reps keeps the
        * warm rep, so per-query walls are unchanged — only the suite wall
        * pays. */
      def stateBarrier(): Unit = {
        val (before, rddBefore) = (storageMB(), rddMB())
        SessionMemo.reset(spark)
        System.err.println(s"[bench] state barrier: storage $before MB" +
          s" -> ${storageMB()} MB, rdd blocks $rddBefore MB -> ${rddMB()} MB")
      }
      sample("start")
      val named = SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
      // sample every ~n/6 queries (r9's 3-point sampling left multi-
      // minute gaps a burst could hide inside); barriers fire after the
      // 1/3 and 2/3 samples, so each sample still sees the accumulated
      // PRE-barrier footprint
      val step = math.max(1, named.size / 6)
      val results = named.zipWithIndex.map { case ((name, fn), idx) =>
        if (idx > 0 && idx % step == 0 && idx / step <= 5) {
          sample(s"q$idx")
          if (idx / step == 2 || idx / step == 4) stateBarrier()
        }
        // Only SUCCESSFUL reps may supply the published time ([[best]]):
        // a rep that throws fast (transient OOM, analysis error) would
        // otherwise win with its time-to-failure — and its bogus
        // sub-second "min" would also suppress the contention retries.
        var bestOk = best(name, reps)(fn(spark, sfDir).count())
        // Contention guard: on shared hardware a CPU spike during both
        // default reps of a multi-second query inflates its min by 5-10x
        // (observed on the CPU-bound atlas quartet: 3-4 s clean vs 14-30 s
        // contended). Cheap sub-second queries shrug this off; for slow
        // ones, extra reps make a clean window far more likely. Bounded so
        // a genuinely slow (or persistently failing) query costs at most 2
        // extra runs.
        var extra = 0
        while (extra < 2 && bestOk.forall(_._1 > 1.0)) {
          bestOk = faster(bestOk, timed(name)(fn(spark, sfDir).count()))
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
            System.err.println(f"[bench] $name%-24s   FAILED (all ${reps + extra} reps)")
        }
        name -> ((bestOk, fn))
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
      val results2 = results.map { case (name, (b, fn)) =>
        // all-reps-failed queries get one decorrelated chance too: a
        // transient condition (full /tmp, OOM burst) that cleared since
        // should not mark the whole suite broken
        val dtF = if (b.forall(_._1 > RerunThresholdSec)) {
          val b2 = faster(b, timed(name)(fn(spark, sfDir).count()))
          if (b2 != b) lateBeat(f"$name%-24s", b2, b)
          b2
        } else b
        name -> dtF
      }
      sample("end")
      (results2, samples.toSeq)
    }
    // THE calibration verdict (VERDICT r9 task 1, replacing the r8
    // within-run-drift rule): a pass is contended when ANY sample's
    // effective-cores anchor falls below half of what this environment
    // should deliver. The anchor is ABSOLUTE (expected = min(threads,
    // processors, cgroup quota)), so it sees both failure modes the
    // drift rule was blind to — a burst spanning the whole pass
    // (uniform samples, drift ≈ 1.0) and contention that steals cores
    // without slowing any single thread (BENCH_r09 published the argo
    // family at 2.5–9× real cost with spin samples indistinguishable
    // from idle). The 0.5 fraction sits below the SMT floor (32 threads
    // on a 16-physical-core host measured eff 20.7–28.1 idle, i.e.
    // 0.65× expected) and above the r9 burst (2–7× slow ⇒ eff
    // 0.14–0.5× expected). On a contended verdict the whole main suite
    // re-runs ONCE (per-query minima merged — a burst only ever
    // inflates) and the published flag reports the FINAL pass.
    val CalibEffFrac = 0.5
    def effMin(ss: Seq[CalibSample]): Double =
      if (ss.isEmpty) calibExpected else ss.map(_.eff).min
    def isContended(ss: Seq[CalibSample]): Boolean =
      effMin(ss) < CalibEffFrac * calibExpected
    val (suiteWall, (results1, calibMain)) = clock(runMainSuite())
    val suiteRerun = if (!isContended(calibMain)) None else {
      System.err.println(f"[bench] calibration effCores ${effMin(calibMain)}%.1f" +
        f" < ${CalibEffFrac * calibExpected}%.1f (of $calibExpected%.0f expected)" +
        " — host contended; re-running the whole main suite once")
      Some(clock(runMainSuite()))
    }
    val suiteWall2 = suiteRerun.fold(-1.0)(_._1)
    val calibRerun = suiteRerun.fold(Seq.empty[CalibSample])(_._2._2)
    val results2 = suiteRerun.fold(results1) { case (_, (res2, _)) =>
      results1.map { case (k, a) => k -> faster(a, res2.getOrElse(k, None)) }
    }
    val contended = isContended(if (suiteRerun.isEmpty) calibMain else calibRerun)
    // ONE compact JSON line, printed LAST: the driver keeps only the final
    // ~2000 chars of stdout (BENCH_r03 measured tail=2000), and sbt appends
    // a ~70-char "[success]" line after us. Full query names alone are
    // ~2 KB for 77 queries, so the r03 line was truncated mid-key and the
    // driver recorded parsed:null. Keys are therefore the unambiguous
    // "qNN" prefix (every query name starts with a unique qNN; the contract
    // example uses {"q1":sec} short keys), which keeps the whole line
    // ~1.2 KB — fully inside the tail window with room to spare.
    // per-query seconds at TWO decimals: 104 queries × 1 saved char buys
    // ~100 chars of tail-window margin (the full line measured 1642 of
    // the driver's 2000-char tail; r03 was lost to exactly this), and
    // 10 ms resolution still resolves any regression worth chasing
    def r2(x: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, x)
    // trailing-zero trim for the per-query map only ("0.50"→"0.5",
    // "1.00"→"1") — ~50 more chars of tail-window margin across ~116
    // queries at zero resolution cost (the trimmed form is the same
    // number). Stage keys keep the fixed 2-decimal form for grep-ability.
    def r2t(x: Double): String = {
      val s = r2(x)
      if (s.contains('.')) {
        val t = s.reverse.dropWhile(_ == '0').reverse
        if (t.endsWith(".")) t.dropRight(1) else t
      } else s
    }
    // fail CLOSED on the headline: a failed query must never make the
    // published total SMALLER than a healthy run's (dropping its seconds
    // would record the breakage as a speedup in any parser that compares
    // "value" across runs and ignores the new "failed" key), so each
    // failure bills a penalty far above any real query's time
    // (defined before the stage closures — the scale10/stores bodies
    // bill it for their own failures; the headline totals are assembled
    // AFTER the band re-runs below)
    val FailPenaltySec = 3600.0
    // Scale probe: the atlas pair join's NON-broadcast branch — the plan a
    // global 1/4° grid runs (the exploded grid side exceeds any broadcast
    // budget and falls back to a shuffle hash join on bin keys). The cap
    // forced to 0 makes the fallback run at bench scale, so the branch a
    // 100 TB deployment lives in carries a measured number, not just a
    // plan assertion (ArgoPipelineSpec pins shape and results).
    // (a crash in the forced-fallback branch is logged by [[timed]], not
    // a silently absent stages key)
    val fallbackSec: Option[Double] =
      withConfs(spark, Seq("spark.graft.atlasBroadcastMaxRows" -> Some("0"))) {
        timed("atlas_fallback")(
          SparkEntry.queries("q71_argo_atlas")(spark, sfDir).count())
      }.flatMap { case (dt, n) =>
        System.err.println(f"[bench] atlas_fallback          $dt%8.2f s ($n rows)")
        if (n > 0) Some(dt) else None
      }
    // Scale rehearsal: the heaviest corpus queries on a ~10× blowup of
    // documents + embeddings — a PERF gate, not a correctness one (the
    // driver's DuckDB gate owns values): each query must COMPLETE and its
    // wall time lands in the JSON, so a superlinear plan (quadratic
    // candidate generation, a collapsed join key space, a driver-bounded
    // collect that grew with the corpus) surfaces empirically instead of
    // by plan reading. Replicas are near-dup PERTURBED (a per-replica
    // suffix token; shifted ids) so the dedup family sees realistic
    // near-dup structure, not 10 bit-identical corpus copies.
    // q41/q43 joined in round 7: they run the same centered multi-table
    // LSH whose degenerate ancestor this stage caught empirically — the
    // whole family now rehearses at 10×, not just q67's cluster pass
    // q122 joined in round 10: the family's INGEST member — the
    // frozen-quantizer update must stay O(delta × cells) + bounded
    // probe fan-out as the at-rest corpus grows, which is exactly what
    // a 10× blowup falsifies empirically
    // q118/q125 joined in round 11: the media tier's df-cap and
    // chunk-join scale claims were argued in comments but never
    // rehearsed at 10× — now the candidate-generating media families
    // carry measured 10× walls + counts like every other family (the
    // fixtures keep cluster size ~constant as the corpus grows, so the
    // ratio measures the PLAN, not a fixture artifact)
    // q134 joined in round 14: the anchor-join substring dedup is the
    // family member whose candidate volume depends on CROSS-document
    // duplicate structure — exactly what the perturbed replicas model
    val Scale10Queries = Seq("q36_ngram_jaccard", "q38_dedup_clusters",
      "q41_ann_lsh", "q43_embedding_neardup",
      "q67_semantic_clusters", "q97_sparse_cosine", "q102_hybrid_rank",
      "q118_image_neardup", "q122_ivf_ingest", "q125_video_neardup",
      "q128_bloom_ingest", "q134_substring_dedup")
    /** One quick effective-cores reading (no storage/load) — the
      * gang-probe anchor sampled INSIDE the post-loop stage windows via
      * [[stagePass]]: the main loop's calib samples stop at its "end",
      * and r10's eff_post brackets SAT OUTSIDE the stage windows, so a
      * mid-stage burst contaminated the published store/scale10 numbers
      * (stores.q97 2.13 vs cold 1.89; scale10 q41 at 2.5× r9) in a way
      * the artifact could not discount — the judge's isolated run
      * disproved both. */
    def effQuick(): Double = {
      val t1 = calibSpin()
      // best-of-2 gangs, the main loop's sample() discipline: a single
      // unlucky descheduling between stage members must not fake a
      // contended stage and buy a whole-stage re-run (minutes) to save
      // one ~0.4 s probe
      nThreads * t1 / math.min(calibSpinPar(nThreads), calibSpinPar(nThreads))
    }
    /** Run one post-loop stage with IN-WINDOW calibration and its own
      * contended verdict (VERDICT r10 task 1): the stage body calls
      * `sample()` between members, every reading lands in the stage's
      * witness list, and a below-floor minimum (same absolute anchor ×
      * fraction as the main loop's verdict) re-runs the WHOLE stage once
      * — per-key minima merged, since a burst only ever inflates; count
      * keys (…cand/…out) are deterministic and keep their first value.
      * A window that clears the absolute floor but falls below the
      * round's OWN calibration band gets the same re-run and publishes
      * `slow: 1` ([[slowWindow]] — VERDICT r12 task 4: the 25%-under
      * window the absolute floor called clean cost the round its q43/q67
      * attribution). Each stage's block then carries its own
      * `wall`/`effmin`/`cont`/`slow` (plus `wall1`/`effmin1` when a
      * re-run fired), so burst forensics read off the artifact alone
      * instead of an isolated judge re-run. */
    val bandMedian = calibBand(
      (calibMain ++ calibRerun).map(_.eff), calibExpected)
    def stagePass(tag: String)
                 (body: (() => Unit) => Seq[(String, Double)])
        : Seq[(String, Double)] = {
      def onePass(): (Seq[(String, Double)], Seq[Double], Double) = {
        val effs = scala.collection.mutable.ArrayBuffer[Double]()
        val (wall, keys) = clock {
          // a stage body that throws is logged and yields no keys
          val keys = timed(s"$tag stage")(body(() => effs += effQuick()))
            .fold(Seq.empty[(String, Double)])(_._2)
          // closing witness even for a body that never sampled (failed
          // early) so the verdict always has at least one reading
          effs += effQuick()
          keys
        }
        System.err.println(f"[bench] $tag%-11s wall $wall%8.2f s, in-window eff " +
          effs.map(v => f"$v%.1f").mkString("[", ", ", "]") +
          f" / $calibExpected%.0f (band $bandMedian%.1f)")
        (keys, effs.toSeq, wall)
      }
      val isCount = (k: String) => k.endsWith("cand") || k.endsWith("out")
      def flags(effmin: Double): Seq[(String, Double)] = Seq(
        "cont" -> (if (effmin < CalibEffFrac * calibExpected) 1.0 else 0.0),
        "slow" -> (if (slowWindow(effmin, bandMedian)) 1.0 else 0.0))
      // the band anchor is published per stage block (full artifact;
      // stdout drops it like the other forensics inputs) so the slow
      // verdict is auditable from the artifact alone — including its
      // one known caveat: a UNIFORMLY slow suite depresses its own band,
      // and a reader comparing `band` against the previous round's calib
      // sees exactly that
      val (k1, e1, w1) = onePass()
      val cont1 = e1.min < CalibEffFrac * calibExpected
      val slow1 = slowWindow(e1.min, bandMedian)
      if (!cont1 && !slow1) {
        if (k1.isEmpty) Nil // disabled/failed stage: no block, as before
        else k1 ++ Seq("wall" -> w1, "effmin" -> e1.min,
          "cont" -> 0.0, "slow" -> 0.0, "band" -> bandMedian)
      } else {
        System.err.println(f"[bench] $tag stage effCores ${e1.min}%.1f — " +
          (if (cont1) f"contended (< ${CalibEffFrac * calibExpected}%.1f)"
           else f"slow (< ${SlowBandFrac * bandMedian}%.1f of the round's band)") +
          "; re-running the stage once")
        val (k2, e2, w2) = onePass()
        if (k2.isEmpty) {
          // a FAILED re-run must not certify burst-inflated pass-1
          // numbers as clean: keep pass 1 with its own verdict, and
          // surface the failure in the log
          System.err.println(s"[bench] $tag re-run produced no keys; " +
            "keeping pass-1 numbers with its flags")
          if (k1.isEmpty) Nil
          else k1 ++ Seq("wall" -> w1, "effmin" -> e1.min) ++
            flags(e1.min) ++ Seq("band" -> bandMedian)
        } else {
          val k2m = k2.toMap
          val merged = k1.map { case (k, v) =>
            k -> (if (isCount(k)) v
                  else k2m.get(k).map(math.min(v, _)).getOrElse(v))
          } ++ k2.filterNot { case (k, _) => k1.exists(_._1 == k) }
          merged ++ Seq("wall" -> w2, "effmin" -> e2.min) ++ flags(e2.min) ++
            Seq("band" -> bandMedian, "wall1" -> w1, "effmin1" -> e1.min)
        }
      }
    }
    // the scale10 bands are CALIBRATED at sf0.1 / 32 cores and gate
    // nothing elsewhere (a 4-core dev run would flag every member
    // against 32-core walls)
    def scale10Band(name: String): Double =
      if (sfDir.endsWith("sf0.1") && nThreads == 32)
        Scale10Bands.getOrElse(short(name), -1.0)
      else -1.0
    val scale10: Seq[(String, Double)] =
      if (!scale10On) Nil
      else stagePass("scale10") { sample =>
        // drop the suite's leftover cached/checkpointed blocks first: a
        // full run leaves ~100 queries of block-manager state (memoized
        // pipelines, forward-index checkpoints, CC passes), and the
        // memory pressure measured ~2x on the scale10 stage (q67 19.8 s
        // after the full suite vs 9.1 s isolated). Safe here: this stage
        // reads only the scale10 dir (its memos build fresh), and the
        // LATER stores stage — which does revisit sfDir — runs its own
        // reset first, by design, not by trusting this one to have run.
        SessionMemo.reset(spark)
        val (buildSec, dir) = clock(buildScale10(spark, sfDir))
        System.err.println(f"[bench] scale10 build           $buildSec%8.2f s")
        sample() // witness between the build and the first member
        // density-scaled LSH: at 10× the corpus a deployment raises the
        // bits-per-table so candidates-per-bucket stay bounded (the knob
        // the near-dup family documents; 4 bits at 20k vectors measured
        // 170 s of quadratic candidates, 8 bits ~7 s). The gate verifies
        // the default; this stage measures the config a 10× corpus runs.
        try withConfs(spark, Seq("spark.graft.nearDupBits" -> Some("8"))) {
          def run(name: String): Long = SparkEntry.queries(name)(spark, dir).count()
          val firstPass = Scale10Queries.map { name =>
            // min of `reps` runs, same warm-number discipline as the main
            // loop: single-rep scale10 times were observed to swing 5x on
            // shared hardware (q102: 6.2 s vs 31.6 s run to run)
            val b = best(s"scale10 $name", reps)(run(name))
            System.err.println(f"[bench] scale10 ${short(name)}%-16s " +
              f"${b.fold(0.0)(_._1)}%8.2f s (${b.fold(-1L)(_._2)} rows)")
            sample() // in-window witness after every member
            name -> b
          }
          // Attribution counts for EVERY scale10 query (the q43cand/q43out
          // discipline, extended family-wide per VERDICT r8): candidates
          // from the split-out intermediate frames (LSH candidates, edge
          // sets, scored fan-outs), survivors from the measured run's row
          // count. Candidate density explains a superlinear wall (buckets
          // collapsing, join fan-out growing); survivor count explains a
          // legitimately larger output — published together, any ratio is
          // attributable from the artifact alone. Runs BEFORE the
          // second-chance pass below, deliberately: the count jobs are
          // the only work separating the tail queries' first runs from
          // their re-runs.
          val candFrames = graft.queries.TextQueries.scale10Candidates ++
            graft.queries.EmbeddingQueries.scale10Candidates ++
            graft.queries.StreamMultimodalQueries.scale10Candidates
          // each count is also TIMED (VERDICT r12 task 1 — per-stage
          // attribution): <q>candsec is the wall of the candidate-tier
          // subplan alone, so a regressed member splits mechanically
          // from the artifact (q43: candidates vs scoring = q43 −
          // q43candsec; q67: its cand frame is the SCORED pair set, so
          // CC = q67 − q67candsec)
          val s10Counts: Seq[(String, Double)] = firstPass.flatMap { case (name, b) =>
            val q = short(name)
            val cand = candFrames.get(name).flatMap(f =>
              timed(s"scale10 $q cand count")(f(spark, dir).count()))
            val out = b.map(_._2)
            System.err.println(f"[bench] scale10 $q candidates=${cand.fold(-1L)(_._2)}%d " +
              f"(${cand.fold(0.0)(_._1)}%.2f s) survivors=${out.getOrElse(-1L)}%d")
            cand.toSeq.flatMap { case (sec, n) =>
              Seq(s"${q}cand" -> n.toDouble, s"${q}candsec" -> sec)
            } ++ out.map(n => s"${q}out" -> n.toDouble)
          }
          // Second chance, scale10 edition (BENCH_r07 published q43 at
          // 31.6 s — 31x its 1x time — with both in-loop reps inside one
          // host burst; the clean ratio is ~9x). The main loop's 0.4 s
          // line is meaningless here (these queries are legitimately
          // multi-second), so the alarm is the RATIO against the same
          // query's 1x main-suite time: the rehearsal corpus is 10x rows,
          // every plan in this stage is documented ≲10x (SCALING.md), so
          // > 12x means either a superlinear plan or a burst — one more
          // run tells them apart (a burst re-runs clean; a superlinear
          // plan reproduces). Decorrelation is honest-but-bounded: an
          // EARLY query's re-run lands minutes after its first runs (the
          // rest of the stage ran in between); a TAIL query's only the
          // count job plus any earlier re-runs later — enough to dodge a
          // short burst, not a sustained one, in which case the 1x
          // main-suite number (fully decorrelated) is the tell.
          val Scale10AlarmRatio = 12.0
          val secondPass = firstPass.map { case (name, b) =>
            val mainDt = results2.get(name).flatten.map(_._1)
            // all-reps-failed gets the decorrelated retry too (the main
            // loop's rule at its second-chance pass): a transient
            // condition that cleared since must not bill the 3600 s
            // fail-closed penalty without one more look.
            // PER-QUERY band alarm (VERDICT r13 task 1): a member over
            // 1.25× its best known clean wall re-runs alone — the r13
            // gap was a window the effmin verdict called clean while
            // q43/q67 ran 1.35× their bands, under the 12× main-ratio
            // line by two orders.
            val alarm = b.forall { case (dt, _) =>
              mainDt.exists(m => dt > Scale10AlarmRatio * m) ||
                queryOverBand(dt, scale10Band(name))
            }
            if (!alarm) name -> b
            else {
              val b2 = faster(b, timed(s"scale10 $name")(run(name)))
              if (b2 != b) lateBeat(f"scale10 ${short(name)}%-16s", b2, b)
              name -> b2
            }
          }
          // a failed scale10 query bills the same closed-fail penalty as
          // the main suite so breakage can't read as a speedup.
          // A member STILL over its band after the re-run publishes its
          // own `<q>slow` marker (fired-verdict-only, the stdout-budget
          // discipline) — the artifact then NAMES the slow member
          // instead of certifying the window by effmin alone.
          secondPass.flatMap { case (name, b) =>
            val q = short(name)
            val band = scale10Band(name)
            val slowKey = b.filter { case (dt, _) => queryOverBand(dt, band) }
              .map { _ =>
                System.err.println(f"[bench] scale10 $q STILL over its " +
                  f"band $band%.2f s after re-run — flagged ${q}slow")
                s"${q}slow" -> 1.0
              }
            Seq(q -> b.fold(FailPenaltySec)(_._1)) ++ slowKey
          } ++ s10Counts
        } finally deleteRec(dir)
      }
    // Atlas rehearsal at 10× PROFILES: the reference's core aggregation
    // over 150k profiles (same grid — pair fan-out and aggregation work
    // scale with the profile side, state stays grid-bounded). Both the 1×
    // and 10× walls are published so the ratio is mechanical; replicas
    // keep their positions (WMO-shifted), which is the worst case for
    // per-cell contention and the honest one for a denser ocean.
    val atlasScale: Seq[(String, Double)] =
      if (!scale10On) Nil
      else stagePass("atlas-scale") { sample =>
        import org.apache.spark.sql.DataFrame
        import org.apache.spark.sql.functions._
        val prof = graft.queries.ArgoQueries.profilesProbe(spark, sfDir)
          .persist()
        val atlas = graft.queries.ArgoQueries.ExportAtlas
        val p10 = prof.crossJoin(
          spark.range(10).select(col("id").as("__rep")))
          .withColumn("WMO", col("WMO") + col("__rep").cast("int") * 1000000)
          .drop("__rep")
        // min-of-reps, same warm-number discipline as everywhere else:
        // this stage published a 13 s x1 in one round and 2.1 s the next
        // on identical code — single-run stage numbers carry the same
        // burst exposure the main loop's reps exist to absorb.
        // One timed entry per family AND per scale within a family: each
        // run publishes what it measured — a 10x failure drops only the
        // 10x entry, never the already-measured 1x; the broken run is
        // VISIBLE in the log and absent from the JSON
        def family(tag: String, f: DataFrame => DataFrame,
                   k1: String, k10: String): Seq[(String, Double)] = {
          def one(scale: String, src: DataFrame, k: String) =
            best(s"atlas-scale $tag $scale", reps) {
              require(f(src).count() > 0, "empty atlas")
            }.map(k -> _._1)
          val r1 = one("x1", prof, k1)
          sample() // in-window witness per (family, scale)
          val r10 = one("x10", p10, k10)
          sample()
          r1.toSeq ++ r10
        }
        // EAPE two-pass at the same profile scales: aggTS alone misses the
        // per-cell stats broadcast the second pass joins back in — the
        // piece whose grid-resolution breakpoint SCALING.md argues; this
        // stage carries its measured ratio
        val out = family("TS", src => atlas.climTS(spark, src)
            .filter(col("CT") =!= 0.0f), "x1", "x10") ++
          family("EAPE", src => atlas.climEAPE(spark, src, algo = "R14")
            .filter(col("SIGSTAR") =!= 0.0f), "ex1", "ex10")
        prof.unpersist(blocking = false)
        System.err.println("[bench] atlas_profiles " +
          out.map { case (k, v) => f"$k=$v%.2f s" }.mkString(", "))
        out
      }
    // At-rest store rehearsal: the layout family's registered consumers,
    // re-timed against stores actually LANDED from this corpus (the main
    // loop measures the conf-unset in-session recompute path). Build cost
    // is published too — it is the once-per-ingest price the per-session
    // savings amortize. Parity and plan shape are spec-pinned
    // (DocStoreSpec / TermStoreSpec / VecStoreSpec / ArgoPipelineSpec);
    // this stage carries the measured seconds.
    val storeTimes: Seq[(String, Double)] =
      if (!storesOn) Nil
      else stagePass("stores") { sample =>
        val dir = graft.TempDirs.create("graft-stores").toString
        // The COLD in-session numbers the stores are up against: a fresh
        // session rebuilds the interp store / forward-index checkpoint
        // before its first query answers — that rebuild is exactly what
        // an at-rest store amortizes away, and the warm main-loop numbers
        // structurally EXCLUDE it (min-of-reps keeps the rep where the
        // memo is already built). Cold state is forced the scale10 way
        // (SessionMemo.reset), and the cold runs go FIRST so the store
        // build's own leftover state never pollutes them.
        // min-of-reps like every other published number (a single cold
        // sample carries the full host-burst exposure the 0.4 s re-run
        // threshold exists for — one inflated sample would overstate the
        // advertised cold-to-store win). Each rep re-forces cold state, so
        // rep 2 is a genuine second COLD measurement, not a warm one.
        // q78 joins the pair in round 10: the PQ sidecar landed in r9 with
        // spec parity but no measured seconds — this publishes the cold
        // in-query encode against the at-rest codes read (VERDICT r9
        // task 3)
        // media trio joined in round 11 (MediaStore): the perceptual
        // queries re-decode the media column per session — exactly the
        // once-per-ingest cost the family amortizes; q118/q125/q127
        // represent the three store tables (img, vid, vidf; the audio
        // pair rides the same machinery, spec-pinned)
        // q34 joins the family in round 11 (BandStore): near-dup pair
        // generation re-hashes the whole corpus per session — the
        // once-per-ingest projection the band table at rest amortizes.
        // q128 too: its corpus side reads the DocStore fp column at rest
        // (cold = recompute every corpus fingerprint per ingest check)
        // q129 joins in round 12 (events Z-store): cold pays the full
        // per-session layout rewrite (the reset deletes it), the
        // store path scans the once-per-ingest landing
        // A failed cold baseline is logged and its key omitted, so no
        // consumer silently compares the store path against a bogus
        // baseline.
        val cold = Seq("q71_argo_atlas", "q97_sparse_cosine",
          "q78_ivfpq_ann", "q118_image_neardup", "q125_video_neardup",
          "q127_video_neardup_hamming", "q34_minhash_lsh",
          "q128_bloom_ingest", "q129_zorder_scan").flatMap { name =>
          val q = short(name)
          val b = best(s"stores $q cold", reps,
              before = SessionMemo.reset(spark))(
            SparkEntry.queries(name)(spark, sfDir).count())
          sample() // in-window witness after every cold member
          b.map { case (dt, _) =>
            System.err.println(f"[bench] stores $q%-4s cold        $dt%8.2f s")
            s"${q}_cold" -> dt
          }
        }
        // the store build below starts from the last reset's state
        // per-store build attribution (the once-per-ingest price each
        // family's per-session savings amortize — published split so a
        // total-build swing is attributable: r10's TermStore sidecars
        // land inside buildterm, not smeared over the family). A failed
        // build fails the stage: every store-path number below needs it.
        def timed1(tag: String)(body: => Unit): (String, Double) = {
          val (dt, _) = clock(body)
          System.err.println(f"[bench] stores build $tag%-10s $dt%8.2f s")
          s"build$tag" -> dt
        }
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        val buildSplit = Seq(
          timed1("doc") {
            graft.sources.DocStore.saveBucketed(docs, "bench_docstore",
              buckets = 32, path = Some(s"$dir/docs"))
          },
          timed1("term") {
            graft.sources.TermStore.saveBucketed(docs, "bench_termstore",
              buckets = 32, path = Some(s"$dir/terms"))
          },
          timed1("vec") {
            graft.queries.EmbeddingQueries.landVecStore(spark, sfDir, s"$dir/vecs")
          },
          timed1("atlas") {
            graft.argo.AtlasStore.saveBucketed(
              graft.queries.ArgoQueries.profilesProbe(spark, sfDir),
              graft.queries.ArgoQueries.ExportAtlas, "bench_atlasstore",
              buckets = 32, path = Some(s"$dir/atlas"))
          },
          timed1("media") {
            graft.queries.StreamMultimodalQueries.landMediaStore(
              spark, sfDir, "bench_mediastore", buckets = 32,
              s"$dir/media")
          },
          timed1("band") {
            graft.sources.BandStore.saveBucketed(docs, "bench_bandstore",
              buckets = 32, path = Some(s"$dir/bands"))
          },
          timed1("eventsz") {
            // landed at 3/4, then three frozen-curve syncs (VERDICT r12
            // task 3): the store enters the timed window APPEND-DEGRADED
            // — each sync's files are tight rectangles of their own
            // batch only — so the stage can publish the degraded pruning
            // ratio, compact mid-stage, and publish the restored one
            import org.apache.spark.sql.functions.col
            graft.queries.RelationalQueries.landEventsZStore(
              spark, sfDir, s"$dir/eventsz", col("event_id") % 4 =!= 3)
            (0 until 3).foreach { i =>
              graft.queries.RelationalQueries.appendEventsZStore(spark,
                graft.Tables.events(spark, sfDir)
                  .filter(col("event_id") % 12 === 3 + 4 * i),
                s"$dir/eventsz")
            }
          })
        val build = buildSplit.map(_._2).sum
        System.err.println(f"[bench] stores build           $build%8.2f s")
        sample() // witness between the build and the store-path timings
        val confs = Seq(
          "spark.graft.docStore" -> s"$sfDir=bench_docstore",
          "spark.graft.termStore" -> s"$sfDir=bench_termstore",
          "spark.graft.vecStore" -> s"$sfDir=$dir/vecs",
          "spark.graft.atlasStore" -> s"$sfDir=bench_atlasstore",
          "spark.graft.mediaStore" -> s"$sfDir=bench_mediastore",
          "spark.graft.bandStore" -> s"$sfDir=bench_bandstore",
          "spark.graft.eventsZStore" -> s"$sfDir=$dir/eventsz")
        try withConfs(spark, confs.map { case (k, v) => k -> Some(v) }) {
          import org.apache.spark.sql.functions.{col, expr, size, sum}
          // VERDICT r12 task 3 — the compaction story in three published
          // numbers: the APPEND-DEGRADED pruning ratio (here), the timed
          // compacting rewrite (buildzcmp), and the RESTORED ratio
          // (splitQ129 below, which now measures the compacted store).
          // The probe reads the PRE-AGGREGATE rectangle scan: no exchange
          // → no AQE wrapper, so the leaf scan's numOutputRows is
          // readable (the aggregated q129's AdaptiveSparkPlanExec is
          // leaf-less and reported 0 when first measured here).
          def zScanRows(tag: String): Option[Double] =
            timed(s"stores q129 prune ($tag)") {
              val q = graft.queries.RelationalQueries
                .q129RectangleScan(spark, sfDir)
              q.collect()
              q.queryExecution.executedPlan.collectLeaves()
                .map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
                .sum.toDouble
            }.map { case (_, r) =>
              System.err.println(f"[bench] stores q129 prune ($tag): ${r.toLong}%d rows")
              r
            }
          val zApp = zScanRows("append-degraded")
            .map("q129scan_app" -> _).toSeq
          val zCmp = timed("stores z-compaction")(graft.queries.RelationalQueries
              .compactEventsZStore(spark, s"$dir/eventsz")).map { case (dt, _) =>
            System.err.println(f"[bench] stores build zcompact $dt%8.2f s")
            "buildzcmp" -> dt
          }.toSeq
          val storePath = Seq("q37_fingerprint", "q45_ann_ivf_kmeans",
            "q71_argo_atlas", "q78_ivfpq_ann", "q97_sparse_cosine",
            "q118_image_neardup", "q125_video_neardup",
            "q127_video_neardup_hamming", "q34_minhash_lsh",
            "q128_bloom_ingest", "q129_zorder_scan").map { name =>
            val dt = best(s"stores $name", reps)(
              SparkEntry.queries(name)(spark, sfDir).count())
              .fold(FailPenaltySec)(_._1)
            System.err.println(f"[bench] stores ${short(name)}%-17s $dt%8.2f s")
            sample() // in-window witness after every store-path member
            short(name) -> dt
          }
          def minRep(tag: String)(body: => Long): Option[Double] =
            best(s"stores $tag", reps)(body).map(_._1)
          // q71's PROFILE-SOURCE split, published so the store-vs-cold
          // comparison is attributable from the artifact (SCALING.md
          // carries the full breakdown): the store path's extra cost over
          // the in-session memo is exactly the bucketed parquet scan; the
          // cold path's is the interp recompute. Both are timed against
          // the SAME forced-materialization shape (sum over the array
          // column / a bare count of the pipeline output).
          // Each split is independent: a failure in one must neither
          // discard the other's already-measured numbers nor log under
          // the wrong label
          val splitQ71 = for {
            scan <- minRep("q71 scan")(
              graft.argo.AtlasStore.loadBucketed(spark, "bench_atlasstore")
                .agg(sum(size(col("CT")))).head().getLong(0))
            interp <- minRep("q71 interp recompute")(
              graft.queries.ArgoQueries.profilesProbe(spark, sfDir).count())
          } yield {
            System.err.println(f"[bench] stores q71 split: scan $scan%.2f s, interp recompute $interp%.2f s")
            Seq("q71scan" -> scan, "q71interp" -> interp)
          }
          // the q97 twin: TermStore postings scan vs the per-session
          // forward-index rebuild (tokenize → doc_id shuffle →
          // checkpoint). Cold state is forced before EVERY rebuild rep,
          // or rep 2 would time a memo hit. The termStore conf is SET
          // here (the store runs above need it) and forwardIndexProbe
          // consults it — unset around the rebuild reps or this would
          // time a store read
          val splitQ97 = for {
            tScan <- minRep("q97 scan")(
              graft.sources.TermStore.loadBucketed(spark, "bench_termstore")
                .agg(sum(col("tf"))).head().getLong(0))
            fwd <- withConfs(spark, Seq("spark.graft.termStore" -> None)) {
              best("stores q97 index rebuild", reps,
                  before = SessionMemo.reset(spark))(
                graft.queries.TextQueries.forwardIndexProbe(spark, sfDir).count())
            }.map(_._1)
          } yield {
            System.err.println(f"[bench] stores q97 split: scan $tScan%.2f s, index rebuild $fwd%.2f s")
            Seq("q97scan" -> tScan, "q97fwd" -> fwd)
          }
          // the q129 pruning ratio: rows the z-clustered scan EMITTED
          // (post row-group pruning) vs the table — the ZOrderSpec
          // measurement, published in the artifact so the store's win is
          // attributable to pruning, not caching
          // the RESTORED pruning ratio — same probe as the append-degraded
          // reading above (zScanRows, ONE copy of the AQE-leaf caveat),
          // taken after the compacting rewrite
          val splitQ129 = zScanRows("restored").map { scanned =>
            val total = spark.read.parquet(s"$sfDir/events.parquet").count()
            Seq("q129scan" -> scanned, "q129rows" -> total.toDouble)
          }
          // media pair splits (VERDICT r12 task 4) — decode vs scan, the
          // q71interp/q71scan discipline: a losing media pair is then
          // attributable from the artifact (per-session decode saved vs
          // hash-table scan paid). bit_xor forces the hash computation
          // without the ANSI overflow a plain sum of 64-bit hashes risks.
          def probe(tag: String, df: => org.apache.spark.sql.DataFrame,
                    c: String): Option[Double] =
            minRep(s"media $tag")(df.agg(expr(s"bit_xor($c)")).head().getLong(0))
          val splitMedia = for {
            iScan <- probe("img scan", spark.table("bench_mediastore_img"), "ph_hi")
            iDec <- probe("img decode", graft.queries.StreamMultimodalQueries
              .imageDecodeProbe(spark, sfDir), "ph_hi")
            vScan <- probe("vid scan", spark.table("bench_mediastore_vid"), "fh_hi")
            vDec <- probe("vid decode", graft.queries.StreamMultimodalQueries
              .videoDecodeProbe(spark, sfDir), "fh_hi")
          } yield {
            System.err.println(f"[bench] stores media split: img scan $iScan%.2f" +
              f" / decode $iDec%.2f, vid scan $vScan%.2f / decode $vDec%.2f s")
            Seq("q118scan" -> iScan, "q118dec" -> iDec,
              "q125scan" -> vScan, "q125dec" -> vDec)
          }
          val split = Seq(splitQ71, splitQ97, splitQ129).flatten.flatten ++
            zApp ++ zCmp ++ splitMedia.toSeq.flatten
          (("build" -> build) +: cold) ++ storePath ++ split ++ buildSplit
        } finally {
          (Seq("bench_docstore", "bench_atlasstore", "bench_bandstore") ++
            graft.sources.TermStore.tablesOf("bench_termstore") ++
            graft.queries.StreamMultimodalQueries
              .mediaStoreTables("bench_mediastore"))
            .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
          deleteRec(dir)
        }
      }
    // Per-query band re-runs (VERDICT r13 task 2), placed HERE — after
    // the post-loop stages — deliberately: each published wall is
    // checked against the PREVIOUS round's artifact (BENCH_FULL.json,
    // in-repo) and >3× outliers (above a 0.3 s floor) get ONE more run
    // a full scale10+atlas+stores pipeline later than their in-loop
    // reps and 0.4 s second-chance runs — minutes of decorrelation no
    // within-loop retry can buy (r13's phantom 13×, q119 0.93 vs 0.10,
    // sat entirely inside one burst that swallowed every in-loop
    // retry). Re-run names publish under `rerun`. The previous artifact
    // is the one anchor a same-session burst cannot touch.
    val prevWalls: Map[String, Double] = try {
      parsePrevWalls(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("BENCH_FULL.json")),
        java.nio.charset.StandardCharsets.UTF_8), sfDir)
    } catch { case _: Throwable => Map.empty }
    val bandReruns = scala.collection.mutable.ArrayBuffer[String]()
    val resultsFinal = results2.map { case (name, b) =>
      val prev = prevWalls.getOrElse(short(name), -1.0)
      if (!b.exists { case (dt, _) => mainOutlier(dt, prev) }) name -> b
      else {
        bandReruns += short(name)
        val again = timed(name)(SparkEntry.queries(name)(spark, sfDir).count())
        again.foreach { case (dt2, _) =>
          System.err.println(f"[bench] $name%-24s $dt2%8.2f s (band re-run; " +
            f"prev round $prev%.2f s)")
        }
        name -> faster(b, again)
      }
    }
    if (bandReruns.nonEmpty)
      System.err.println(s"[bench] band re-runs: ${bandReruns.sorted.mkString(", ")}")
    val qs = resultsFinal.toSeq.sortBy(_._1)
      .collect { case (k, Some((v, _))) => s"\"" + short(k) + "\":" + r2t(v) }
      .mkString("{", ",", "}")
    // failed queries are OMITTED from "queries" (no bogus seconds) and
    // named here so the driver-parsed line itself shows the breakage
    val failed = resultsFinal.toSeq.sortBy(_._1)
      .collect { case (k, None) => s"\"" + short(k) + "\"" }
    val total = resultsFinal.values.flatten.map(_._1).sum + FailPenaltySec * failed.size
    // Per-stage throughput, so the BASELINE.md comparison is mechanical:
    // the reference publishes pipeline throughput (profiles interpolated
    // per second per core), not per-query seconds. q70's row count IS the
    // number of interpolated profiles; q71's is atlas (cell, level) rows.
    def tput(q: String): Option[(Double, Long)] =
      resultsFinal.get(q).flatten.collect { case (dt, rows) if dt > 0 && rows > 0 =>
        (rows / dt, rows)
      }
    val nCores = cpus.toDouble
    def r1(x: Double): String = "%.1f".formatLocal(java.util.Locale.ROOT, x)
    // Stage blocks, rendered once each. TWO artifacts are built from
    // them: the COMPLETE line (stderr + BENCH_FULL.json beside the repo —
    // every block, full stores splits, calibration arrays) and the stdout
    // line the driver tails. The r08 line already measured 1930 chars
    // against the driver's 2000-char window (its HEAD was truncated);
    // adding calibration + family-wide counts unconditionally would cut
    // ~300 chars off the front — so the stdout line takes blocks in
    // priority order under an explicit budget and the full artifact
    // carries the rest. Priority: calibration (the burst verdict — r8's
    // top fix), scale10 walls+counts (attribution), interp throughput
    // (the BASELINE comparison), the stores cold-vs-store headline,
    // atlas throughput, the 10x atlas profile ratios, the forced
    // fallback, cores/reps, then the raw row counts.
    val interpT = tput("q70_argo_interp")
    val atlasT = tput("q71_argo_atlas")
    val (calibFragFull, calibFragCompact): (String, String) = {
      def arr(ss: Seq[CalibSample], f: CalibSample => Double,
              fmt: Double => String): String =
        ss.map(x => fmt(f(x))).mkString("[", ",", "]")
      val finalPass = if (calibRerun.nonEmpty) calibRerun else calibMain
      // t1 (machine-speed witness), eff (THE anchor), load (host
      // witness), stor (block-manager MB at each sample — the peak
      // exposes cached-state pressure, and the barriers after samples 2
      // and 4 show up as growth RESETS in the following samples; the
      // absolute level includes broadcast blocks whose reaping is
      // async); procs + quota make the r9 cgroup-forensics mechanical;
      // wall anchors against the previous round's artifact (r9's
      // 1255 s vs r8's 875 s was the readable tell the drift verdict
      // missed).
      val tail = (if (calibRerun.nonEmpty) Seq(
        s""""wall2":${r1(suiteWall2)}""") else Nil) ++
        Seq(s""""procs":$procs""",
          s""""quota":${if (quota > 0) r1(quota) else "-1"}""",
          s""""expected":${r1(calibExpected)}""",
          s""""effmin":${r1(effMin(finalPass))}""",
          s""""wall":${r1(suiteWall)}""",
          s""""contended":$contended""")
      // procs/quota/expected are forensics INPUTS, not verdict outputs
      // (expected = the core count, a constant) — at 129 queries they
      // are the difference between the stores headline and the atlas
      // throughput landing on the driver-parsed line or not; the full
      // artifact keeps all of them
      val tailCompact = tail.filterNot(t =>
        t == "\"contended\":false" ||
        t.startsWith("\"procs\"") || t.startsWith("\"quota\"") ||
          t.startsWith("\"expected\""))
      // the verdict's threshold fraction is an INPUT like every other
      // calibration input: the artifact carries the fraction its flag
      // was computed with — full artifact only, per the r10 advice
      val full = (Seq(
        s""""t1":${arr(calibMain, _.t1, r2)}""",
        s""""eff":${arr(calibMain, _.eff, r1)}""",
        s""""load":${arr(calibMain, _.load, r1)}""",
        s""""stor":${calibMain.map(_.storMB).mkString("[", ",", "]")}""",
        s""""frac":${r2(CalibEffFrac)}""") ++
        (if (calibRerun.nonEmpty)
          Seq(s""""eff2":${arr(calibRerun, _.eff, r1)}""",
            s""""load2":${arr(calibRerun, _.load, r1)}""") else Nil) ++
        tail).mkString("\"calib\":{", ",", "}")
      // stdout form keeps the VERDICT OUTPUTS (effmin, the absolute
      // anchor keys, the wall, the flag) and leaves the per-sample
      // arrays and frac to the full artifact: with 123 queries on the
      // line, the eff array alone was the difference between the stores
      // block landing on the driver-parsed line or being evicted
      val compact = tailCompact.mkString("\"calib\":{", ",", "}")
      (full, compact)
    }
    // one stage-key renderer: count keys and the contended flag are
    // integers, everything else seconds at two decimals with trailing
    // zeros trimmed (the r2t rule: the 123-query line leaves the stage
    // blocks ~100 chars of headroom, and "6.9" is the same number)
    def stageKV(k: String, v: Double): String =
      if (k.endsWith("cand") || k.endsWith("out") || k.startsWith("cont") ||
          k.endsWith("slow")) // incl. the per-query q43slow-style markers
        s"\"$k\":${v.toLong}"
      else s"\"$k\":${r2t(v)}"
    // the stdout (walls-only) form also drops the …candsec attribution
    // timings and the re-run forensics (wall1/effmin1) — deterministic-
    // shape / justification detail that lives in BENCH_FULL; on the r13
    // closing run those ~30 extra chars were exactly what evicted the
    // stores headline from the driver-parsed line. CLEAN verdict flags
    // (cont/slow at 0) are implicit on the stdout copy for the same
    // reason — a flag earns its line space when it fires; the full
    // artifact always carries both explicitly.
    val implicitClean = (t: (String, Double)) =>
      (t._1 == "cont" || t._1 == "slow") && t._2 == 0.0
    // effmin joined the stdout-dropped forensics INPUTS in round 14: the
    // verdict's OUTPUTS are the cont/slow flags (and since r14 the
    // per-query qNNslow markers), effmin is what they were computed FROM
    // — and its ~14 chars/block were exactly what evicted the stores
    // headline once the r14 queries joined the map
    def scale10FragOf(withCounts: Boolean): Option[String] =
      scale10.filter(t => withCounts ||
        !(t._1.endsWith("cand") || t._1.endsWith("out") ||
          t._1.endsWith("candsec") ||
          t._1 == "wall1" || t._1 == "effmin1" || t._1 == "band" ||
          t._1 == "effmin" || implicitClean(t))) match {
        case Seq() => None
        case ts => Some(ts.map { case (k, v) => stageKV(k, v) }
          .mkString("\"scale10\":{", ",", "}"))
      }
    val interpFrag: Option[String] = interpT.map { case (ps, _) =>
      s""""interp_profiles_per_sec":${r1(ps)},"interp_profiles_per_sec_per_core":${r1(ps / nCores)}"""
    }
    // stdout form drops the per-core figure: it divides a constant by
    // the core count (the flat-wall corollary, SCALING.md) so cross-
    // core-count readers misread it, and the ~45 chars buy the stores
    // block its place on the driver-parsed line
    val interpFragCompact: Option[String] = interpT.map { case (ps, _) =>
      s""""interp_profiles_per_sec":${r1(ps)}"""
    }
    // stdout keeps THE ROUND'S representative store pair (q129 = the
    // round-12 Z-store member) plus the stage's own in-window verdict
    // (VERDICT r10 task 1) — the q97/q118/q71/q78/q125/q127 pairs, the
    // build splits and the pruning counts live in BENCH_FULL, which is
    // where stores detail is read from; at 129 queries the base line
    // leaves no room for more than one pair
    val StoresHeadline = Set("q129_cold", "q129",
      "wall", "cont", "slow")
    def storesFrag(keys: String => Boolean, full: Boolean): Option[String] =
      storeTimes.filter(t => keys(t._1) && (full || !implicitClean(t))) match {
        case Seq() => None
        case ts => Some(ts.map { case (k, v) => stageKV(k, v) }
          .mkString("\"stores\":{", ",", "}"))
      }
    val atlasFrag: Option[String] = atlasT.map { case (cs, _) =>
      s""""atlas_cell_levels_per_sec":${r1(cs)}"""
    }
    def apFragOf(full: Boolean): Option[String] = {
      // the compact form applies the same forensics filter as the other
      // stage frags (band / wall1 / effmin1 / implicit-clean flags stay
      // in BENCH_FULL) — this block is last-priority on the line, so
      // every spare char decides whether it lands at all
      val ts = atlasScale.filter(t => full ||
        !(t._1 == "band" || t._1 == "wall1" || t._1 == "effmin1" ||
          implicitClean(t)))
      if (ts.isEmpty) None
      else Some(ts.map { case (k, v) => stageKV(k, v) }
        .mkString("\"atlas_profiles\":{", ",", "}"))
    }
    val apFrag: Option[String] = apFragOf(full = true)
    val fallbackFrag: Option[String] =
      fallbackSec.map(dt => s""""atlas_fallback_sec":${r2(dt)}""")
    val coresFrag: Option[String] =
      Some(s""""cores":${cpus.toInt},"reps":$reps""")
    val countsFrag: Option[String] =
      (interpT.map { case (_, n) => s""""interp_profiles":$n""" }.toSeq ++
        atlasT.map { case (_, n) => s""""atlas_cell_levels":$n""" }.toSeq) match {
        case Seq() => None
        case xs => Some(xs.mkString(","))
      }
    val failedPart =
      if (failed.isEmpty) "" else failed.mkString(""","failed":[""", ",", "]")
    // fired-verdict-only (the stdout-budget discipline): the key appears
    // exactly when a wall needed its previous-artifact band re-run
    val rerunPart =
      if (bandReruns.isEmpty) ""
      else bandReruns.sorted.map("\"" + _ + "\"")
        .mkString(""","rerun":[""", ",", "]")
    def lineOf(blocks: Seq[String]): String =
      s"""{"metric":"total","value":${r2(total)},"unit":"sec","queries":$qs$failedPart$rerunPart,"stages":${blocks.mkString("{", ",", "}")},"sf":"$sfDir"}"""
    val fullLine = lineOf(Seq(Some(calibFragFull), scale10FragOf(true),
      interpFrag, storesFrag(_ => true, full = true), atlasFrag, apFrag,
      fallbackFrag,
      coresFrag, countsFrag).flatten)
    // stdout budget: the driver keeps the final 2000 chars and sbt
    // appends a ~75-char "[success]" line — 1880 leaves real margin.
    // Greedy by priority: a block that does not fit is skipped (it still
    // lives in the full artifact), later smaller blocks may still land.
    // driver tails 2000 chars and sbt appends a ~66-char "[success]"
    // line; 1900 leaves real margin while fitting the stores block
    // beside 123 queries
    val LineBudget = 1920
    val included = scala.collection.mutable.ArrayBuffer[String]()
    // stdout priority uses the COMPACT calib + walls-only scale10 (the
    // counts are deterministic and live in the full artifact; the walls
    // are what the driver-parsed line must carry). An evicted block is
    // NAMED in the log (r10: the full calib block silently pushed the
    // scale10 walls off the parsed line — eviction must be visible in
    // the log, not discovered by diffing artifacts).
    // interp BEFORE stores (the stated priority: the BASELINE throughput
    // must never lose its place to a store pair — r12 caught the code
    // order contradicting this comment's order)
    Seq("calib" -> Some(calibFragCompact), "scale10" -> scale10FragOf(false),
      "interp" -> interpFragCompact,
      "stores" -> storesFrag(StoresHeadline, full = false),
      "atlas" -> atlasFrag, "atlas_profiles" -> apFragOf(full = false),
      "fallback" -> fallbackFrag, "cores" -> coresFrag,
      "counts" -> countsFrag)
      .collect { case (name, Some(b)) => (name, b) }
      .foreach { case (name, b) =>
        if (lineOf((included :+ b).toSeq).length <= LineBudget) included += b
        else System.err.println(s"[bench] stdout evicted: $name (${b.length} chars)")
      }
    val line = lineOf(included.toSeq)
    // The COMPLETE artifact goes beside the repo for readers who want the
    // stores splits / calibration detail the budgeted line may drop; the
    // stderr mirror carries it too for humans tailing the log. stdout
    // gets exactly one copy of the budgeted line, LAST, so the driver's
    // bounded tail always holds it complete (printing it twice would push
    // the first copy past the 2000-char window, and a head-truncated copy
    // is what broke r03 — and silently clipped r08).
    // a SCOPED run (SPARK_GRAFT_ONLY / disabled stages) must never
    // clobber the committed full-run artifact — it happened twice across
    // rounds during query-level verification; partial runs land beside
    // it under a name no reader confuses with the closing artifact
    val fullRun = only.isEmpty && scale10On && storesOn
    val artifact = if (fullRun) "BENCH_FULL.json" else "BENCH_FULL.partial.json"
    timed(s"$artifact write")(java.nio.file.Files.write(
      java.nio.file.Paths.get(artifact),
      (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    System.err.println(s"[bench] full ${fullLine.length} chars: $fullLine")
    System.err.println(s"[bench] stdout ${line.length} chars")
    println(line)
    spark.stop()
  }
}

