package graft.bench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Bench.best

/** Atlas rehearsal at 10× PROFILES: the reference's core aggregation
  * over 150k profiles (same grid — pair fan-out and aggregation work
  * scale with the profile side, state stays grid-bounded). Both the 1×
  * and 10× walls are published so the ratio is mechanical; replicas keep
  * their positions (WMO-shifted), which is the worst case for per-cell
  * contention and the honest one for a denser ocean. */
object AtlasScaleStage {
  def run(r: Run)(sample: () => Unit): Seq[(String, Double)] = {
    val prof = graft.queries.ArgoQueries.profilesProbe(r.spark, r.sfDir)
      .persist()
    val atlas = graft.queries.ArgoQueries.ExportAtlas
    val p10 = prof.crossJoin(
      r.spark.range(10).select(col("id").as("__rep")))
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
        best(s"atlas-scale $tag $scale", r.reps) {
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
    val out = family("TS", src => atlas.climTS(r.spark, src)
        .filter(col("CT") =!= 0.0f), "x1", "x10") ++
      family("EAPE", src => atlas.climEAPE(r.spark, src, algo = "R14")
        .filter(col("SIGSTAR") =!= 0.0f), "ex1", "ex10")
    prof.unpersist(blocking = false)
    System.err.println("[bench] atlas_profiles " +
      out.map { case (k, v) => f"$k=$v%.2f s" }.mkString(", "))
    out
  }
}
