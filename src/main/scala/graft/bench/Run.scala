package graft.bench

import org.apache.spark.sql.SparkSession

import graft.Bench.{CalibEffFrac, SlowBandFrac, clock, effCores, slowWindow, timed}

/** The values every bench stage shares. `expected` is what an
  * uncontended N-way gang should achieve — the absolute anchor of every
  * contended verdict. `failPenalty` keeps the headline fail-CLOSED: a
  * failed query must never make the published total SMALLER than a
  * healthy run's (dropping its seconds would record the breakage as a
  * speedup in any parser that compares "value" across runs and ignores
  * the "failed" key), so each failure — main suite, scale10 or store
  * path — bills a penalty far above any real query's time. */
final case class Run(spark: SparkSession, sfDir: String, reps: Int,
                     threads: Int, expected: Double,
                     failPenalty: Double = 3600.0) {
  /** Row count of one registered query over `dir`. */
  def count(name: String, dir: String = sfDir): Long =
    graft.SparkEntry.queries(name)(spark, dir).count()

  /** The absolute contended verdict on a window's effective-cores minimum. */
  def contended(effMin: Double): Boolean = effMin < CalibEffFrac * expected

  /** Run one post-loop stage with IN-WINDOW calibration and its own
    * contended verdict (VERDICT r10 task 1): the stage body calls
    * `sample()` between members — one quick effective-cores reading
    * ([[graft.Bench.effCores]]; the main loop's calib samples stop at its
    * "end", and r10's eff_post brackets SAT OUTSIDE the stage windows, so
    * a mid-stage burst contaminated the published store/scale10 numbers
    * in a way the artifact could not discount) — every reading lands in
    * the stage's witness list, and a below-floor minimum (same absolute
    * anchor × fraction as the main loop's verdict) re-runs the WHOLE
    * stage once — per-key minima merged, since a burst only ever
    * inflates; count keys (…cand/…out) are deterministic and keep their
    * first value. A window that clears the absolute floor but falls
    * below the round's OWN calibration band `band` gets the same re-run
    * and publishes `slow: 1` ([[slowWindow]] — VERDICT r12 task 4: the
    * 25%-under window the absolute floor called clean cost the round its
    * q43/q67 attribution). Each stage's block then carries its own
    * `wall`/`effmin`/`cont`/`slow` (plus `wall1`/`effmin1` when a re-run
    * fired), so burst forensics read off the artifact alone instead of an
    * isolated judge re-run. */
  def stagePass(tag: String, band: Double)
               (body: (() => Unit) => Seq[(String, Double)])
      : Seq[(String, Double)] = {
    def onePass(): (Seq[(String, Double)], Seq[Double], Double) = {
      val effs = scala.collection.mutable.ArrayBuffer[Double]()
      val (wall, keys) = clock {
        // a stage body that throws is logged and yields no keys
        val keys = timed(s"$tag stage")(body(() => effs += effCores(threads)._2))
          .fold(Seq.empty[(String, Double)])(_._2)
        // closing witness even for a body that never sampled (failed
        // early) so the verdict always has at least one reading
        effs += effCores(threads)._2
        keys
      }
      System.err.println(f"[bench] $tag%-11s wall $wall%8.2f s, in-window eff " +
        effs.map(v => f"$v%.1f").mkString("[", ", ", "]") +
        f" / $expected%.0f (band $band%.1f)")
      (keys, effs.toSeq, wall)
    }
    // the band anchor is published per stage block (full artifact;
    // stdout drops it like the other forensics inputs) so the slow
    // verdict is auditable from the artifact alone — including its
    // one known caveat: a UNIFORMLY slow suite depresses its own band,
    // and a reader comparing `band` against the previous round's calib
    // sees exactly that
    def block(keys: Seq[(String, Double)], wall: Double, effs: Seq[Double]) =
      if (keys.isEmpty) Nil // disabled/failed stage: no block, as before
      else keys ++ Seq("wall" -> wall, "effmin" -> effs.min,
        "cont" -> (if (contended(effs.min)) 1.0 else 0.0),
        "slow" -> (if (slowWindow(effs.min, band)) 1.0 else 0.0), "band" -> band)
    val (k1, e1, w1) = onePass()
    val cont1 = contended(e1.min)
    if (!cont1 && !slowWindow(e1.min, band)) block(k1, w1, e1)
    else {
      System.err.println(f"[bench] $tag stage effCores ${e1.min}%.1f — " +
        (if (cont1) f"contended (< ${CalibEffFrac * expected}%.1f)"
         else f"slow (< ${SlowBandFrac * band}%.1f of the round's band)") +
        "; re-running the stage once")
      val (k2, e2, w2) = onePass()
      if (k2.isEmpty) {
        // a FAILED re-run must not certify burst-inflated pass-1
        // numbers as clean: keep pass 1 with its own verdict, and
        // surface the failure in the log
        System.err.println(s"[bench] $tag re-run produced no keys; " +
          "keeping pass-1 numbers with its flags")
        block(k1, w1, e1)
      } else {
        val k2m = k2.toMap
        val merged = k1.map { case (k, v) =>
          k -> (if (BenchJson.isCount(k)) v
                else k2m.get(k).map(math.min(v, _)).getOrElse(v))
        } ++ k2.filterNot { case (k, _) => k1.exists(_._1 == k) }
        block(merged, w2, e2) ++ Seq("wall1" -> w1, "effmin1" -> e1.min)
      }
    }
  }
}

object Run {
  /** The "qNN" prefix every query name starts with — the published key. */
  def short(name: String): String = name.takeWhile(_ != '_')

  /** One more decorrelated run of a published result under the re-run
    * rule ([[graft.Bench.faster]]); a run that replaced the published wall
    * is logged under `label` with what it beat. */
  def rerun(tag: String, label: String, was: Option[(Double, Long)])
           (body: => Long): Option[(Double, Long)] = {
    val now = graft.Bench.faster(was, graft.Bench.timed(tag)(body))
    if (now != was)
      System.err.println(f"[bench] $label ${now.fold(0.0)(_._1)}%8.2f s (late re-run beat " +
        was.fold("FAILED")(w => f"${w._1}%.2f") + ")")
    now
  }
}
