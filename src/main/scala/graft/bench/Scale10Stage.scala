package graft.bench

import graft.Bench.{Scale10Bands, best, buildScale10, clock, deleteRec, queryOverBand, timed, withConfs}
import graft.bench.Run.{rerun, short}
import graft.queries.SessionMemo

/** Scale rehearsal: the heaviest corpus queries on a ~10× blowup of
  * documents + embeddings — a PERF gate, not a correctness one (the
  * driver's DuckDB gate owns values): each query must COMPLETE and its
  * wall time lands in the JSON, so a superlinear plan (quadratic
  * candidate generation, a collapsed join key space, a driver-bounded
  * collect that grew with the corpus) surfaces empirically instead of by
  * plan reading. Replicas are near-dup PERTURBED (a per-replica suffix
  * token; shifted ids) so the dedup family sees realistic near-dup
  * structure, not 10 bit-identical corpus copies. */
object Scale10Stage {
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
  val Queries = Seq("q36_ngram_jaccard", "q38_dedup_clusters",
    "q41_ann_lsh", "q43_embedding_neardup",
    "q67_semantic_clusters", "q97_sparse_cosine", "q102_hybrid_rank",
    "q118_image_neardup", "q122_ivf_ingest", "q125_video_neardup",
    "q128_bloom_ingest", "q134_substring_dedup")

  // Second chance, scale10 edition (BENCH_r07 published q43 at 31.6 s —
  // 31x its 1x time — with both in-loop reps inside one host burst; the
  // clean ratio is ~9x). The main loop's 0.4 s line is meaningless here
  // (these queries are legitimately multi-second), so the alarm is the
  // RATIO against the same query's 1x main-suite time: the rehearsal
  // corpus is 10x rows, every plan in this stage is documented ≲10x
  // (SCALING.md), so > 12x means either a superlinear plan or a burst —
  // one more run tells them apart (a burst re-runs clean; a superlinear
  // plan reproduces). Decorrelation is honest-but-bounded: an EARLY
  // query's re-run lands minutes after its first runs (the rest of the
  // stage ran in between); a TAIL query's only the count job plus any
  // earlier re-runs later — enough to dodge a short burst, not a
  // sustained one, in which case the 1x main-suite number (fully
  // decorrelated) is the tell.
  private val AlarmRatio = 12.0

  /** The per-query band of `name`: the scale10 bands are CALIBRATED at
    * sf0.1 / 32 cores and gate nothing elsewhere (a 4-core dev run would
    * flag every member against 32-core walls). */
  private def band(r: Run, name: String): Double =
    if (r.sfDir.endsWith("sf0.1") && r.threads == 32)
      Scale10Bands.getOrElse(short(name), -1.0)
    else -1.0

  /** The stage body: walls, `<q>slow` markers and candidate/survivor
    * counts; `main` is the main suite's walls (the alarm's 1× anchor). */
  def run(r: Run, main: Map[String, Option[(Double, Long)]])
         (sample: () => Unit): Seq[(String, Double)] = {
    // drop the suite's leftover cached/checkpointed blocks first: a
    // full run leaves ~100 queries of block-manager state (memoized
    // pipelines, forward-index checkpoints, CC passes), and the
    // memory pressure measured ~2x on the scale10 stage (q67 19.8 s
    // after the full suite vs 9.1 s isolated). Safe here: this stage
    // reads only the scale10 dir (its memos build fresh), and the
    // LATER stores stage — which does revisit sfDir — runs its own
    // reset first, by design, not by trusting this one to have run.
    SessionMemo.reset(r.spark)
    val (buildSec, dir) = clock(buildScale10(r.spark, r.sfDir))
    System.err.println(f"[bench] scale10 build           $buildSec%8.2f s")
    sample() // witness between the build and the first member
    // density-scaled LSH: at 10× the corpus a deployment raises the
    // bits-per-table so candidates-per-bucket stay bounded (the knob
    // the near-dup family documents; 4 bits at 20k vectors measured
    // 170 s of quadratic candidates, 8 bits ~7 s). The gate verifies
    // the default; this stage measures the config a 10× corpus runs.
    try withConfs(r.spark, Seq("spark.graft.nearDupBits" -> Some("8"))) {
      val firstPass = Queries.map { name =>
        // min of `reps` runs, same warm-number discipline as the main
        // loop: single-rep scale10 times were observed to swing 5x on
        // shared hardware (q102: 6.2 s vs 31.6 s run to run)
        val b = best(s"scale10 $name", r.reps)(r.count(name, dir))
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
      val counts: Seq[(String, Double)] = firstPass.flatMap { case (name, b) =>
        val q = short(name)
        val cand = candFrames.get(name).flatMap(f =>
          timed(s"scale10 $q cand count")(f(r.spark, dir).count()))
        val out = b.map(_._2)
        System.err.println(f"[bench] scale10 $q candidates=${cand.fold(-1L)(_._2)}%d " +
          f"(${cand.fold(0.0)(_._1)}%.2f s) survivors=${out.getOrElse(-1L)}%d")
        cand.toSeq.flatMap { case (sec, n) =>
          Seq(s"${q}cand" -> n.toDouble, s"${q}candsec" -> sec)
        } ++ out.map(n => s"${q}out" -> n.toDouble)
      }
      val secondPass = firstPass.map { case (name, b) =>
        val mainDt = main.get(name).flatten.map(_._1)
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
          mainDt.exists(m => dt > AlarmRatio * m) ||
            queryOverBand(dt, band(r, name))
        }
        name -> (if (!alarm) b
                 else rerun(s"scale10 $name", f"scale10 ${short(name)}%-16s", b)(
                   r.count(name, dir)))
      }
      // a failed scale10 query bills the same closed-fail penalty as
      // the main suite so breakage can't read as a speedup.
      // A member STILL over its band after the re-run publishes its
      // own `<q>slow` marker (fired-verdict-only, the stdout-budget
      // discipline) — the artifact then NAMES the slow member
      // instead of certifying the window by effmin alone.
      secondPass.flatMap { case (name, b) =>
        val q = short(name)
        val qBand = band(r, name)
        val slowKey = b.filter { case (dt, _) => queryOverBand(dt, qBand) }
          .map { _ =>
            System.err.println(f"[bench] scale10 $q STILL over its " +
              f"band $qBand%.2f s after re-run — flagged ${q}slow")
            s"${q}slow" -> 1.0
          }
        Seq(q -> b.fold(r.failPenalty)(_._1)) ++ slowKey
      } ++ counts
    } finally deleteRec(dir)
  }
}
