package graft.argo

import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.functions.{FP, Geo, Interp, Seawater, SeawaterEos, Teos10}

/** Stage 3: gridded climatology (SURVEY.md §3.3; reference atlas.py).
  *
  * The reference walks every grid point of every tile and scans the
  * cropped profile array per point (atlas.py:256-308) — O(cells ×
  * profiles) with hand-rolled tiles/halos for memory. Here the
  * neighborhood search is an equi-join:
  *
  *  - profiles are assigned ONE (lonBin, latBin) spatial bin;
  *  - grid cells explode to every bin within the kernel cutoff (3×… in
  *    latitude, widening with 1/cos φ in longitude, wrapping at ±180°);
  *  - pairs meet in a shuffle hash join on the bin key, then the exact
  *    `haversine_arg < dcritical` filter (F5) and `exp(−arg)` weight (X3)
  *    — weight on the ARG, not the distance (atlas.py:104-108).
  *
  * Shuffle volume is O(profiles + cells·neighborhood); tiles, halos and
  * subdomain stitching (atlas.py:327-371,497-514) have no equivalent —
  * partitioning does that job.
  *
  * Per-cell statistics aggregate whole 64-level arrays in a typed
  * [[Aggregator]] (A1): map-side partial aggregation shuffles one buffer
  * per (partition × cell), not one row per (profile × level).
  */
class Atlas(
    val box: (Double, Double, Double, Double), // lon1, lon2, lat1, lat2
    val reso: Double,
    val smoothingFactor: Double = 4.0,
    val eos: SeawaterEos = Teos10,
    val landMask: (Double, Double) => Boolean = (_, _) => false) extends Serializable {

  import ArgoSchemas.{NLevels, Pref}

  /** Grid dimensions — the ONE definition of how box + reso discretize
    * (grid generation, the NetCDF export and the PPM writer must agree
    * on these or edge cells silently drop). */
  val nLon: Int = ((box._2 - box._1) / reso).toInt
  val nLat: Int = ((box._4 - box._3) / reso).toInt

  /** X4: sin²(deg2rad(sf·reso)/2) — the cutoff lives in haversine-ARG
    * space (atlas.py:311-313). */
  val dCritical: Double = {
    val d0 = math.toRadians(smoothingFactor * reso)
    val s = math.sin(d0 / 2)
    s * s
  }

  /** Angular search radius in degrees (arg < dcritical ⟺ separation
    * < sf·reso degrees of arc). */
  val radiusDeg: Double = smoothingFactor * reso

  /** Spatial bins are a FRACTION of the search radius (radius/4): with
    * bin = radius the whole domain collapses into a handful of join keys
    * (all the work lands on ≤6 tasks) and the candidate window overshoots
    * the disc by 4×. Finer bins cost more exploded grid rows — but the
    * grid side is cells × neighborhood, orders of magnitude smaller than
    * the profile side, which stays one row per profile. `binW` is also the
    * bucketing key contract for [[AtlasStore]]: a profile store bucketed
    * on these bins joins co-located, with no profile-side shuffle at all. */
  val nSub = 4
  val binW: Double = radiusDeg / nSub

  /** Longitude bin count; profile AND grid bins live in [0, nBi) (both
    * sides pmod-wrap, so a position reported at exactly +180° lands in
    * the −180° bin instead of an unjoinable phantom bin). */
  val nBi: Int = math.ceil(360.0 / binW).toInt

  // ---- grid (X11: mylinspace ≡ sequence arithmetic, atlas.py:83-90) ------
  def grid(s: SparkSession): DataFrame = {
    val (lon1, _, lat1, _) = box
    val (nlon, nlat) = (nLon, nLat)
    val maskUdf = udf(landMask)
    s.range(nlon.toLong * nlat)
      .select((col("id") % nlon).cast("int").as("gi"),
        (col("id") / nlon).cast("int").as("gj"))
      .select(col("gi"), col("gj"),
        (lit(lon1) + col("gi") * reso).as("glon"),
        (lit(lat1) + col("gj") * reso).as("glat"))
      // F8/S10: land-mask prune BEFORE any join work (atlas.py:266-270)
      .filter(!maskUdf(col("glon"), col("glat")))
  }

  // ---- F4: crop_data — prune profiles to box + margin (atlas.py:234-253)
  def crop(profiles: DataFrame): DataFrame = {
    val (lon1, lon2, lat1, lat2) = box
    val m = radiusDeg
    // Longitude margin widens toward the poles. The EXACT bound for two
    // points at latitude φ within m degrees of arc is
    // Δλ ≤ 2·asin(sin(m/2)/cos φ) (from hav(arc) = cos²φ·hav(Δλ)) — the
    // linearized m/cos φ slightly UNDER-covers at high latitude, so the
    // exact form is used, evaluated at the box's worst-case |lat| edge
    // (incl. the lat margin). If that edge reaches the pole or the asin
    // argument saturates, every longitude can be in range → keep all.
    // The exact haversine distance is re-checked in the join, so the only
    // requirement here is to never under-crop.
    val latEdge = math.max(math.abs(lat1 - m), math.abs(lat2 + m))
    val sinHalf = math.sin(math.toRadians(m) / 2)
    val cosEdge = math.cos(math.toRadians(math.min(90.0, latEdge)))
    val mLon =
      if (latEdge >= 89.0 || sinHalf >= cosEdge) 180.0
      else math.min(180.0, math.toDegrees(2.0 * math.asin(sinHalf / cosEdge)))
    // Cyclic distance from the box's longitude center handles both the
    // ±180° wrap and a box that nearly closes the circle.
    val lonC = 0.5 * (lon1 + lon2)
    val halfW = 0.5 * (lon2 - lon1) + mLon
    val cyc = abs(pmod(col("LONGITUDE") - lonC + 180.0, lit(360.0)) - 180.0)
    profiles
      .filter(col("FLAG") === 1 && col("DATA_MODE") === 1)
      .filter(col("LATITUDE").between(lat1 - m, lat2 + m))
      .filter(cyc <= halfW || lit(halfW >= 180.0))
  }

  // ---- J1: the binned neighborhood join ----------------------------------
  /** (cell × profile) pairs with weight `w = exp(−haversine_arg)`.
    * Cached by callers that aggregate twice (TS then EAPE — the
    * reference's kdx/coef/N reuse, atlas.py:289-306). */
  def pairs(s: SparkSession, profiles: DataFrame,
            aux: Option[Column] = None): DataFrame = {
    // CT/SR/IDX packed into ONE binary column ONCE per profile, before the
    // join fans each profile out to many cells: every downstream pair row
    // then carries (and every aggregator input decodes) a single flat byte
    // array instead of three boxed Seq columns — at 1M+ pairs the boxed
    // tuple decode dominated the whole atlas wall-time.
    //
    // If the store already carries THIS atlas's bin columns
    // (AtlasStore.bucketize stamps binW into the column metadata), reuse
    // the stored attributes instead of recomputing the floor: a recomputed
    // expression would erase the scan's bucketed output partitioning, and
    // with it the whole point of the bucketed layout — the shuffle-free
    // profile side of the pair join.
    val storedBins = Seq("bi", "bj").forall { c =>
      profiles.columns.contains(c) && {
        val m = profiles.schema(c).metadata
        m.contains(AtlasStore.BinWKey) && m.getDouble(AtlasStore.BinWKey) == binW
      }
    }
    val cropped = crop(profiles)
      .select(Seq(col("LONGITUDE").as("plon"), col("LATITUDE").as("plat"),
        Atlas.pack3(col("CT"), col("SR"), col("IDX")).as("prof")) ++
        aux.map(_.as("aux")).toSeq ++
        (if (storedBins) Seq(col("bi"), col("bj")) else Nil): _*)
    val p =
      if (storedBins) cropped
      else cropped
        .withColumn("bi",
          pmod(floor((col("plon") + 180.0) / binW).cast("int"), lit(nBi)))
        .withColumn("bj", floor((col("plat") + 90.0) / binW).cast("int"))
    // Longitude neighborhood: the exact in-radius bound at latitude φ is
    // Δλ ≤ 2·asin(sin(radius/2)/cos φ) (see crop) — the linearized
    // radius/cos φ slightly under-covers at high latitude. Evaluate at the
    // cell's worst-case |lat| edge; a saturated asin argument (pole) caps
    // at half the bins = the full ring.
    val latEdge = least(lit(89.9), greatest(abs(col("glat") - reso), abs(col("glat") + reso)))
    val dLonMax = degrees(lit(2.0) * asin(
      least(lit(1.0), lit(math.sin(math.toRadians(radiusDeg) / 2)) / cos(radians(latEdge)))))
    val kLon = least(lit(nBi / 2), ceil(dLonMax / binW)).cast("int")
    val g = grid(s)
      .withColumn("ki", explode(sequence(-kLon, kLon)))
      .withColumn("kj", explode(sequence(lit(-nSub), lit(nSub))))
      .select(col("gi"), col("gj"), col("glon"), col("glat"),
        pmod(floor((col("glon") + 180.0) / binW).cast("int") + col("ki"), lit(nBi)).as("bi"),
        (floor((col("glat") + 90.0) / binW).cast("int") + col("kj")).as("bj"))
    // The exploded grid is cells × O(nSub²) rows. When that is small —
    // every regional atlas, and a global 1/4° grid only at ~10⁸ — broadcast
    // it: the huge profile side is never shuffled at all, and the only
    // exchange left in the whole atlas is the partial-agg buffer shuffle
    // (partitions × cells rows). Past the threshold, fall back to a
    // SHUFFLE HASH join on the (well-distributed, radius/4) bin keys —
    // hinted explicitly, because on this branch we KNOW the grid side
    // exceeds the broadcast budget (Catalyst's size estimate cannot see
    // that through the explode) and a sort-merge would pay a useless sort
    // on throwaway bin keys. Cap overridable per session
    // (spark.graft.atlasBroadcastMaxRows) so tests and memory-constrained
    // deployments can exercise/force the shuffle path.
    val gridRows = nLon.toLong * nLat.toLong * (2 * nSub + 1) * (2 * nSub + 1)
    val maxBroadcastRows = s.conf.getOption("spark.graft.atlasBroadcastMaxRows")
      .map(_.toLong).getOrElse(2000000L)
    val gSide = if (gridRows <= maxBroadcastRows) broadcast(g) else g.hint("shuffle_hash")
    p.join(gSide, Seq("bi", "bj"))
      .withColumn("arg", Geo.haversineArg(col("plon"), col("plat"),
        col("glon"), col("glat")))
      .filter(col("arg") < dCritical) // F5
      .withColumn("w", exp(-col("arg"))) // X3: weight on the arg
      .drop("bi", "bj", "ki", "kj", "arg")
  }

  // ---- A1: per-cell weighted profile mean --------------------------------
  def climTS(s: SparkSession, profiles: DataFrame): DataFrame = {
    val pr = pairs(s, profiles)
    val cellMeans = Atlas.aggTS(pr)
    finalizeTS(cellMeans)
  }

  /** The cell-frame → long-format finalization climTS applies to
    * [[Atlas.aggTS]]'s output — public so the STREAMING form of the same
    * aggregation (aggTS as a complete-mode streaming query; the state IS
    * the cell frame) can finalize its state table identically (q108). */
  def finalizeTS(cells: DataFrame): DataFrame =
    explodeLevels(cells, Seq("CT_m" -> "CT", "SR_m" -> "SR"))

  /** A2 (R14) / A3 (T25): two chained aggregations sharing one pair set.
    * @param algo "R14" or "T25"
    * @param tsCells optional precomputed pass-1 cell means — [[Atlas.aggTS]]
    *   over THIS atlas's pairs on THESE profiles (the caller's contract).
    *   The reference computes the per-cell stats once and every EAPE pass
    *   reuses them (atlas.py:289-306, the kdx/coef/N reuse); a caller
    *   serving several EAPE queries from one session passes its memoized
    *   cell frame here so pass 1 is not re-aggregated per algo. Values are
    *   identical by construction: the aggregation is fixed-point and
    *   partition-invariant. */
  def climEAPE(s: SparkSession, profiles: DataFrame, algo: String = "R14",
               tsCells: Option[DataFrame] = None): DataFrame = {
    require(algo == "R14" || algo == "T25", s"unknown EAPE algo $algo")
    // Per-profile precompute, BEFORE the ~(cells-in-radius)× pair fan-out:
    // the parcel density ρ(sr,ct,PREF) (both algos) and the gammat
    // reference pressure (T25 — a 30-iteration bisection per level) depend
    // only on the profile's own values, never the cell. Hoisting them out
    // of the pair aggregation cuts the kernel invocations by the fan-out
    // factor — the difference between the EAPE pass costing ~the TS pass
    // and costing 2-4x more.
    val eosA = eos
    val auxCol = algo match {
      case "R14" =>
        val rhoArr = udf((sr: Seq[Float], ct: Seq[Float]) =>
          Atlas.packFloats(Array.tabulate(NLevels)(k =>
            eosA.rho(sr(k), ct(k), Pref(k)).toFloat)))
        rhoArr(col("SR"), col("CT"))
      case "T25" =>
        val rhoPArr = udf((sr: Seq[Float], ct: Seq[Float]) => {
          val out = new Array[Float](2 * NLevels)
          var k = 0
          while (k < NLevels) {
            out(k) = eosA.rho(sr(k), ct(k), Pref(k)).toFloat
            out(NLevels + k) = Seawater.gammatAnalytic(sr(k), ct(k), eosA)._3.toFloat
            k += 1
          }
          Atlas.packFloats(out)
        })
        rhoPArr(col("SR"), col("CT"))
    }
    // Persist the PROFILES (one 600 B row each), not the pairs: the pair
    // fan-out multiplies rows by the cells-in-radius factor, so caching it
    // costs fan-out x more memory than re-running the (broadcast-join +
    // filter) that produces it from cached profiles. If the caller handed
    // us an already-persisted frame (e.g. the memoized interpolated
    // store), it owns the lifecycle — persisting again would just warn,
    // and the finally-unpersist would evict the SHARED cache out from
    // under every later query.
    val preCached = profiles.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val prof = if (preCached) profiles else profiles.persist()
    // Two pair sets over the same cached profiles: pass-1 (cell means)
    // never reads the aux payload, so it gets the BARE pairs — the per-
    // profile kernel precompute (64 rho evals for R14, 64 gammat
    // bisections for T25) then runs exactly once, in pass-2, instead of
    // being re-executed by both aggregation passes. A caller-supplied
    // tsCells frame replaces pass 1 outright (no bare pair set is built
    // at all — the fan-out join runs once, in pass 2).
    val pr = pairs(s, prof, aux = Some(auxCol))
    try {
      val eosB = eos
      // pass 1: cell means → RHO (+ CF for R14, GAMMAT for T25)
      val rhoUdf = udf((srm: Seq[Float], ctm: Seq[Float]) =>
        Pref.indices.map(k => eosB.rho(srm(k), ctm(k), Pref(k)).toFloat))
      val cfUdf = udf((srm: Seq[Float], ctm: Seq[Float], rho: Seq[Float]) =>
        Atlas.computeCF(srm.toArray.map(_.toDouble),
          ctm.toArray.map(_.toDouble), rho.toArray.map(_.toDouble), eosB)
          .map(_.toFloat).toSeq)
      val gammatArr = udf((sr: Seq[Float], ct: Seq[Float]) =>
        Pref.indices.map { k =>
          Seawater.gammatAnalytic(sr(k), ct(k), eosB)._1.toFloat
        })
      val means0 = tsCells.getOrElse(Atlas.aggTS(pairs(s, prof)))
      val means = algo match {
        case "R14" =>
          val m = means0.withColumn("RHO", rhoUdf(col("SR_m"), col("CT_m")))
            .withColumn("CF", cfUdf(col("SR_m"), col("CT_m"), col("RHO")))
          // SIGSTAR = RHO·CF − 1000 (atlas.py:296)
          m.withColumn("SIG", zip_with(col("RHO"), col("CF"),
            (r, c) => (r * c - 1000.0).cast("float")))
        case "T25" =>
          means0.withColumn("RHO", rhoUdf(col("SR_m"), col("CT_m")))
            .withColumn("CF", array_repeat(lit(1.0f), NLevels))
            .withColumn("SIG", gammatArr(col("SR_m"), col("CT_m")))
      }
      // pass 2: per-pair EAPE against the cell stats, weighted mean again.
      // Cell stats are packed per CELL (tiny table) so each of the 1M+ pair
      // rows decodes two flat byte arrays; the EAPE kernel runs inside the
      // aggregator — no intermediate 64-float column ever materializes.
      val withEape = pr
        .join(broadcast(means.select(col("gi"), col("gj"), col("glon"),
          col("glat"), Atlas.packCell(col("RHO"), col("CF")).as("cell"),
          col("SIG"))), Seq("gi", "gj", "glon", "glat"))
      val agg = withEape.groupBy(col("gi"), col("gj"), col("glon"), col("glat"))
        .agg(Atlas.eapeMeanPacked(algo)(
          col("w"), col("prof"), col("aux"), col("cell")).as("EAPE_m"),
          first(col("SIG")).as("SIG_m"))
      explodeLevels(agg, Seq("EAPE_m" -> "EAPE", "SIG_m" -> "SIGSTAR"))
    } finally if (!preCached) prof.unpersist(blocking = false)
  }

  /** Dense (cell, level) long-format output (S9: the atlas "NetCDF" sink is
    * any Spark sink over this frame). */
  private def explodeLevels(cells: DataFrame, cols0: Seq[(String, String)]): DataFrame = {
    val prefCol = lit(Pref.map(_.toFloat))
    cells
      .withColumn("lev", explode(sequence(lit(0), lit(NLevels - 1))))
      .select(Seq(col("glon").cast("float").as("lon"),
        col("glat").cast("float").as("lat"),
        element_at(prefCol, col("lev") + 1).as("pres")) ++
        cols0.map { case (src, dst) =>
          element_at(col(src), col("lev") + 1).as(dst)
        }: _*)
  }
}

object Atlas {
  import ArgoSchemas.{NLevels, Pref}

  // ---- packed-profile layout ----------------------------------------------
  // One flat byte array per profile: CT floats [0, 4·64), SR floats
  // [4·64, 8·64), IDX bytes [8·64, 9·64). Pair rows in the atlas join carry
  // this instead of three array columns: the aggregators read it with
  // ByteBuffer primitives (no per-element boxing), which is what makes the
  // O(cells × neighborhood) aggregation CPU-bound on the actual arithmetic.
  private val CtOff = 0
  private val SrOff = 4 * NLevels
  private val IdxOff = 8 * NLevels

  /** (CT, SR, IDX) → one flat byte array; applied once per profile. */
  val pack3: (Column, Column, Column) => Column = {
    val u = udf((ct: Seq[Float], sr: Seq[Float], idx: Seq[Byte]) => {
      val bb = java.nio.ByteBuffer.allocate(9 * NLevels)
      var k = 0
      while (k < NLevels) { bb.putFloat(ct(k)); k += 1 }
      k = 0
      while (k < NLevels) { bb.putFloat(sr(k)); k += 1 }
      k = 0
      while (k < NLevels) { bb.put(idx(k)); k += 1 }
      bb.array()
    })
    u(_, _, _)
  }

  /** (RHO, CF) cell stats → flat bytes, with the compensated-density
    * ladder RHO·CF precomputed as doubles (a float×float product is exact
    * in double). Applied once per grid CELL, so the per-PAIR aggregation
    * never rebuilds the 64-element ladder — it binary-searches the packed
    * doubles in place. Layout: RHO f32 ×64 | CF f32 ×64 | RHO·CF f64 ×64. */
  val packCell: (Column, Column) => Column = {
    val u = udf((rho: Seq[Float], cf: Seq[Float]) => {
      val bb = java.nio.ByteBuffer.allocate(16 * NLevels)
      var k = 0
      while (k < NLevels) { bb.putFloat(rho(k)); k += 1 }
      k = 0
      while (k < NLevels) { bb.putFloat(cf(k)); k += 1 }
      k = 0
      while (k < NLevels) { bb.putDouble(rho(k).toDouble * cf(k)); k += 1 }
      bb.array()
    })
    u(_, _)
  }
  private val RhoCfOff = 8 * NLevels // byte offset of the f64 ladder

  /** CT and SR aggregated in ONE pass over the packed profile (they share
    * weights and the idx mask). Buffer packs [Σc·CT ×64, Σc·SR ×64, Σc ×64].
    *
    * Contributions are rounded to fixed-point longs (values at 1e-9, weights
    * at 1e-9) before summing, so the per-cell means are PARTITION-INVARIANT:
    * any merge order — map-side combine, AQE re-splits, a re-run with
    * different parallelism — yields bit-identical output, which is what lets
    * the atlas queries carry golden-fixture oracles. The 1e-9 quantization
    * is ~1e-8 relative on oceanic CT/SR, far below the f32 output precision. */
  class ProfileMeanPacked2 extends Aggregator[(Double, Array[Byte]), Array[Long], (Seq[Float], Seq[Float])] {
    def zero: Array[Long] = new Array[Long](3 * NLevels)
    def reduce(b: Array[Long], a: (Double, Array[Byte])): Array[Long] = {
      val (w, p) = a
      if (p != null) {
        val bb = java.nio.ByteBuffer.wrap(p)
        var k = 0
        while (k < NLevels) {
          if (p(IdxOff + k) == 1) {
            b(k) += FP.roundHalfAway(w * bb.getFloat(CtOff + 4 * k) * 1e9)
            b(NLevels + k) += FP.roundHalfAway(w * bb.getFloat(SrOff + 4 * k) * 1e9)
            b(2 * NLevels + k) += FP.roundHalfAway(w * 1e9)
          }
          k += 1
        }
      }
      b
    }
    def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
      var k = 0
      while (k < 3 * NLevels) { b1(k) += b2(k); k += 1 }
      b1
    }
    def finish(b: Array[Long]): (Seq[Float], Seq[Float]) = {
      def m(off: Int) = (0 until NLevels).map { k =>
        if (b(2 * NLevels + k) > 0)
          (b(off + k).toDouble / b(2 * NLevels + k)).toFloat
        else 0.0f
      }
      (m(0), m(NLevels))
    }
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[(Seq[Float], Seq[Float])] =
      ExpressionEncoder[(Seq[Float], Seq[Float])]()
  }

  /** Floats → flat bytes (the aux payload of [[Atlas.pairs]]). */
  private[argo] def packFloats(arr: Array[Float]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 * arr.length)
    var i = 0
    while (i < arr.length) { bb.putFloat(arr(i)); i += 1 }
    bb.array()
  }

  /** Pass-2 EAPE (atlas.py:152-231): ½·unit·(ρ−RHO)(p−PREF), accumulated
    * as a masked weighted mean. Everything per-profile (parcel ρ; gammat p
    * for T25) arrives precomputed in `aux`; everything per-cell — including
    * the RHO·CF compensated-density ladder — arrives packed in `cell`, so
    * the only per-pair work is the in-place binary-search lookup (J6) and
    * the products.
    *
    * Fixed-point accumulation (EAPE at 1e-6, weights at 1e-9) makes the
    * result partition-invariant — see [[ProfileMeanPacked2]]. */
  class EapeMeanPacked(algo: String)
      extends Aggregator[(Double, Array[Byte], Array[Byte], Array[Byte]), Array[Long], Seq[Float]] {
    // Per-task scratch for the unpacked RHO·CF ladder (R14): reduce() runs
    // ~64 probes per pair row against the same 64 doubles — unpacking once
    // costs 64 buffer reads and turns ~384 ByteBuffer accesses per row
    // into primitive array loads. One aggregator instance per task, so the
    // scratch is never shared across threads.
    @transient private lazy val ladderScratch = new Array[Double](NLevels)
    def zero: Array[Long] = new Array[Long](2 * NLevels)
    def reduce(b: Array[Long], a: (Double, Array[Byte], Array[Byte], Array[Byte])): Array[Long] = {
      val (w, p, aux, cell) = a
      if (p != null && aux != null && cell != null) {
        val ab = java.nio.ByteBuffer.wrap(aux)
        val cb = java.nio.ByteBuffer.wrap(cell)
        val prefD = Pref
        val isR14 = algo == "R14"
        val ladder = ladderScratch
        if (isR14) {
          var j = 0
          while (j < NLevels) { ladder(j) = cb.getDouble(RhoCfOff + 8 * j); j += 1 }
        }
        var k = 0
        while (k < NLevels) {
          if (p(IdxOff + k) == 1) {
            val rhoM = cb.getFloat(4 * k)
            val cf = cb.getFloat(4 * NLevels + 4 * k)
            // f4 parcel density (README.md:173-174) precomputed per profile
            val rho = ab.getFloat(4 * k).toDouble
            val disp =
              if (isR14) Interp.linearLadder(ladder, prefD, rho * cf)
              else ab.getFloat(4 * NLevels + 4 * k).toDouble
            val eape = 0.5 * EapeUnit * (rho - rhoM) * (disp - prefD(k))
            b(k) += FP.roundHalfAway(w * eape * 1e6)
            b(NLevels + k) += FP.roundHalfAway(w * 1e9)
          }
          k += 1
        }
      }
      b
    }
    def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
      var k = 0
      while (k < 2 * NLevels) { b1(k) += b2(k); k += 1 }
      b1
    }
    def finish(b: Array[Long]): Seq[Float] =
      (0 until NLevels).map { k =>
        if (b(NLevels + k) > 0)
          (b(k).toDouble * 1e3 / b(NLevels + k)).toFloat
        else 0.0f
      }
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Seq[Float]] = ExpressionEncoder[Seq[Float]]()
  }

  def eapeMeanPacked(algo: String): (Column, Column, Column, Column) => Column = {
    val u = udaf(new EapeMeanPacked(algo),
      ExpressionEncoder[(Double, Array[Byte], Array[Byte], Array[Byte])]())
    u(_, _, _, _)
  }

  /** Per-cell weighted CT/SR means over a pair set (A1). Public because it
    * is also the INCREMENTAL form: `pairs` may be a streaming DataFrame —
    * the fixed-point packed buffers become streaming aggregation state and
    * the maintained result is bit-identical to a batch recompute
    * (StreamingSpec), which the reference's rescan-the-world atlas
    * (atlas.py:531-563) has no analog of. */
  /** ONE shared UDAF instance for the TS cell-mean: Catalyst compares the
    * typed-Aggregator expression by the wrapped objects, so a per-call
    * `new` would defeat even object-identity plan comparison. (Note this
    * alone does NOT make fresh aggTS builds `sameResult`: the buffer
    * encoder is re-resolved per analysis with fresh LambdaVariable ids —
    * see ArgoQueries.climCache — so CacheManager reuse of memoized atlas
    * frames works through the shared DataFrame object, never through
    * plan substitution.) Sharing is safe: the aggregator is stateless
    * (all state lives in the passed-in buffer) and is serialized per
    * task anyway. */
  private val profileMeanUdaf =
    udaf(new ProfileMeanPacked2, ExpressionEncoder[(Double, Array[Byte])]())

  def aggTS(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("gi"), col("gj"), col("glon"), col("glat"))
      .agg(profileMeanUdaf(col("w"), col("prof")).as("ts"))
      .select(col("gi"), col("gj"), col("glon"), col("glat"),
        col("ts._1").as("CT_m"), col("ts._2").as("SR_m"))

  /** Compressibility factor CF (atlas.py:320-324): midpoint sound speed,
    * cumulative integral, exp(−·) — the reference's W2/W3 window/scan as
    * an intra-row array kernel. */
  private[argo] def computeCF(sr: Array[Double], ct: Array[Double],
                              rho: Array[Double], eos: SeawaterEos): Array[Double] = {
    val dbar = 1e4
    val cf = new Array[Double](NLevels)
    var acc = 0.0
    cf(0) = 1.0
    var k = 1
    while (k < NLevels) {
      val sm = 0.5 * (sr(k - 1) + sr(k))
      val tm = 0.5 * (ct(k - 1) + ct(k))
      val pm = 0.5 * (Pref(k - 1) + Pref(k))
      val rm = 0.5 * (rho(k - 1) + rho(k))
      val c = eos.soundSpeed(sm, tm, pm)
      acc += dbar * (Pref(k) - Pref(k - 1)) / (rm * c * c)
      cf(k) = math.exp(-acc)
      k += 1
    }
    cf
  }

  /** EAPE unit factor (atlas.py:145-149): dbar/ρ₀²·cm² = 100. */
  val EapeUnit: Double = 1e4 / (1e3 * 1e3) * 1e4

}
