package graft
import org.apache.spark.sql.SparkSession

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
  private[graft] def clock[T](body: => T): (Double, T) = {
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

  /** One gang reading: the single-thread spin t1 and the effective cores
    * `n·t1/gang` it anchors, over the best of two N-thread gangs — a
    * single unlucky descheduling must not fake contention (and, inside a
    * stage window, buy a whole-stage re-run of minutes to save one
    * ~0.4 s probe). The one reading behind every calibration sample and
    * every in-window stage witness. */
  private[graft] def effCores(n: Int): (Double, Double) = {
    val t1 = calibSpin()
    (t1, n * t1 / math.min(calibSpinPar(n), calibSpinPar(n)))
  }

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

  /** THE calibration verdict (VERDICT r9 task 1, replacing the r8
    * within-run-drift rule): a pass is contended when ANY sample's
    * effective-cores anchor falls below this fraction of what the
    * environment should deliver. The anchor is ABSOLUTE (expected =
    * min(threads, processors, cgroup quota)), so it sees both failure
    * modes the drift rule was blind to — a burst spanning the whole pass
    * (uniform samples, drift ≈ 1.0) and contention that steals cores
    * without slowing any single thread (BENCH_r09 published the argo
    * family at 2.5–9× real cost with spin samples indistinguishable from
    * idle). 0.5 sits below the SMT floor (32 threads on a
    * 16-physical-core host measured eff 20.7–28.1 idle, i.e. 0.65×
    * expected) and above the r9 burst (2–7× slow ⇒ eff 0.14–0.5×
    * expected). On a contended verdict the whole main suite re-runs ONCE
    * and the published flag reports the FINAL pass; a post-loop stage
    * re-runs itself ([[graft.bench.Run.stagePass]]). */
  private[graft] val CalibEffFrac = 0.5

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

  /** The bench orchestrator: session warm-up, host calibration anchors,
    * the main suite, the post-loop stages (each a plain function in
    * `graft.bench` that [[graft.bench.Run.stagePass]] runs), the band
    * re-runs, then ONE compact JSON line on stdout
    * ([[graft.bench.BenchJson]]). */
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
    // repeats: report the fastest — steady-state timing. The default
    // of 2 absorbs per-query codegen compilation and host-level CPU
    // noise (observed 2x run-to-run on shared hardware); the first
    // run's cost is real but measures the JIT, not the plan.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "2").toInt
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
    val run = bench.Run(spark, sfDir, reps, nThreads, calibExpected)
    // discarded JIT warm-up: the first execution of the spin loop
    // C2-compiles it, so an undiscarded "start" sample reads high and a
    // relative check would false-positive on an idle host
    calibSpin(); calibSpinPar(nThreads)
    val suite = bench.MainSuite.run(run, only)
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
        timed("atlas_fallback")(run.count("q71_argo_atlas"))
      }.flatMap { case (dt, n) =>
        System.err.println(f"[bench] atlas_fallback          $dt%8.2f s ($n rows)")
        if (n > 0) Some(dt) else None
      }
    // the round's own band anchor for every stage's slow verdict
    val band = calibBand((suite.calib ++ suite.rerunCalib).map(_.eff), calibExpected)
    val scale10 = if (!scale10On) Nil
      else run.stagePass("scale10", band)(bench.Scale10Stage.run(run, suite.results))
    val atlasScale = if (!scale10On) Nil
      else run.stagePass("atlas-scale", band)(bench.AtlasScaleStage.run(run))
    val storeTimes = if (!storesOn) Nil
      else run.stagePass("stores", band)(bench.StoresStage.run(run))
    val (walls, reruns) = bench.MainSuite.bandRerun(run, suite.results)
    val failed = walls.toSeq.sortBy(_._1).collect { case (k, None) => bench.Run.short(k) }
    val total = walls.values.flatten.map(_._1).sum + run.failPenalty * failed.size
    // Per-stage throughput, so the BASELINE.md comparison is mechanical:
    // the reference publishes pipeline throughput (profiles interpolated
    // per second per core), not per-query seconds. q70's row count IS the
    // number of interpolated profiles; q71's is atlas (cell, level) rows.
    def tput(q: String): Option[(Double, Long)] = walls.get(q).flatten
      .collect { case (dt, rows) if dt > 0 && rows > 0 => (rows / dt, rows) }
    val interpT = tput("q70_argo_interp")
    val atlasT = tput("q71_argo_atlas")
    import bench.BenchJson._
    import suite.{calib, rerunCalib}
    val effMin = bench.MainSuite.effMin(suite.finalCalib, calibExpected)
    // t1 (machine-speed witness), eff (THE anchor), load (host witness),
    // stor (block-manager MB at each sample — the peak exposes cached-
    // state pressure, and the barriers after samples 2 and 4 show up as
    // growth RESETS in the following samples; the absolute level includes
    // broadcast blocks whose reaping is async), frac (the verdict's
    // threshold fraction, an INPUT like every other); procs + quota make
    // the r9 cgroup-forensics mechanical; wall anchors against the
    // previous round's artifact (r9's 1255 s vs r8's 875 s was the
    // readable tell the drift verdict missed).
    val calibKVs = Seq(KV("t1", calib.map(_.t1), r2, array = true),
      KV("eff", calib.map(_.eff), r1, array = true),
      KV("load", calib.map(_.load), r1, array = true),
      KV("stor", calib.map(_.storMB.toDouble), r2t, array = true),
      kv("frac", CalibEffFrac, r2)) ++ (if (rerunCalib.isEmpty) Nil else Seq(
        KV("eff2", rerunCalib.map(_.eff), r1, array = true),
        KV("load2", rerunCalib.map(_.load), r1, array = true), kv("wall2", suite.wall2, r1))) ++
      Seq(kv("procs", procs, r2t), kv("quota", quota, if (quota > 0) r1 else r2t),
        kv("expected", calibExpected, r1), kv("effmin", effMin, r1), kv("wall", suite.wall, r1),
        kv("contended", if (run.contended(effMin)) 1.0 else 0.0, bool))
    val blocks = Seq(Block("calib", calibKVs),
      stage("scale10", scale10),
      Block("interp", interpT.toSeq.flatMap { case (ps, _) =>
        Seq(kv("interp_profiles_per_sec", ps, r1),
          kv("interp_profiles_per_sec_per_core", ps / nThreads, r1))
      }, nested = false),
      stage("stores", storeTimes),
      Block("atlas", atlasT.toSeq.map { case (cs, _) =>
        kv("atlas_cell_levels_per_sec", cs, r1) }, nested = false),
      stage("atlas_profiles", atlasScale),
      Block("fallback", fallbackSec.toSeq.map(kv("atlas_fallback_sec", _, r2)),
        nested = false),
      Block("cores", Seq(kv("cores", nThreads, r2t), kv("reps", reps, r2t)),
        nested = false),
      Block("counts", interpT.toSeq.map(t => kv("interp_profiles", t._2, r2t)) ++
        atlasT.toSeq.map(t => kv("atlas_cell_levels", t._2, r2t)), nested = false))
    val queries = walls.toSeq.sortBy(_._1)
      .collect { case (k, Some((v, _))) => bench.Run.short(k) -> v }
    val (fullLine, line) = lines(Head(total, queries, failed, reruns, sfDir), blocks)
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
    val artifact = if (only.isEmpty && scale10On && storesOn) "BENCH_FULL.json"
      else "BENCH_FULL.partial.json"
    timed(s"$artifact write")(java.nio.file.Files.write(
      java.nio.file.Paths.get(artifact),
      (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    System.err.println(s"[bench] full ${fullLine.length} chars: $fullLine")
    System.err.println(s"[bench] stdout ${line.length} chars")
    println(line)
    spark.stop()
  }
}
