package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Tables
import graft.functions.{FP, Interp, Seawater}

/** The reference's per-profile numeric pipeline (SURVEY.md §3.2) over
  * testdata: intra-row sample filtering (F6), the validity gate (F7),
  * interpolation onto fixed levels (X6/J6), and the gammat thermodynamic
  * kernel (X7).
  *
  * Profiles are synthesized per order from lineitem: x = line number,
  * y = quantity — the OPERATORS (array collect → intra-row filter → gate →
  * interp kernel → explode to long format) are exactly the production
  * pipeline shape: one groupBy shuffle, then narrow per-row kernels.
  *
  * q60 (linear = `np.interp`, the reference's J6) carries a full DuckDB
  * oracle — the kernel fixes its evaluation association so SQL reproduces
  * it bit-for-bit. The cubic spline and gammat kernels are not reasonably
  * SQL-expressible (tridiagonal solve; 30-iteration bisection with
  * `pow`): they carry golden-fixture oracles ([[FixtureOracle]]) and
  * exhaustive analytic/property tests in the ScalaTest suite.
  */
object KernelQueries extends QueryModule {
  private val Targets = Array(1.5, 2.5, 4.5)
  private val TaxMin = 0.02
  private val MinSamples = 3

  // Kernels dedup duplicate sample depths keep-first-in-sort-order — the
  // reference's `np.unique(PRES, return_index=True)` semantics
  // (interpolation.py:239).
  private val linearUdf = udf((xs: Seq[Double], ys: Seq[Double], t: Double) => {
    val (dx, dy) = Interp.sortDedup(xs.toArray, ys.toArray)
    Interp.linear(dx, dy, t)
  })

  private val cubicUdf = udf((xs: Seq[Double], ys: Seq[Double]) => {
    val (dx, dy) = Interp.sortDedup(xs.toArray, ys.toArray)
    Interp.cubicOnto(dx, dy, Targets)
  })

  private val pchipUdf = udf((xs: Seq[Double], ys: Seq[Double]) => {
    val (dx, dy) = Interp.sortDedup(xs.toArray, ys.toArray)
    Interp.pchipOnto(dx, dy, Targets)
  })

  private val mrPchipUdf = udf((xs: Seq[Double], ct: Seq[Double], sa: Seq[Double]) => {
    val (dx, dct) = Interp.sortDedup(xs.toArray, ct.toArray)
    val (_, dsa) = Interp.sortDedup(xs.toArray, sa.toArray)
    val (ci, si) = Interp.mrPchipOnto(dx, dct, dsa, Targets)
    (ci.toSeq, si.toSeq)
  })

  private val gammatUdf = udf((sr: Double, ct: Double) => {
    val (g, z, p, s) = Seawater.gammatAnalytic(sr, ct)
    Seq(g, z, p, s)
  })

  /** (orderkey, xs, ys) profiles: collect → intra-row filter → gate.
    * Checkpointed per (session, corpus) — r14, the fwdMemo discipline:
    * four registered kernel queries (q60/q61/q63/q64) consume this one
    * frame, and each invocation otherwise re-runs the collect shuffle +
    * array filters. ~100 B/profile. */
  private def profiles(s: SparkSession, d: String): DataFrame =
    profilesMemo.getOrElseUpdate(s, d)(buildProfiles(s, d).localCheckpoint())

  private val profilesMemo = new SessionMemo[DataFrame]

  private def buildProfiles(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(struct(
        col("l_linenumber").as("ln"), col("l_quantity").as("q"),
        col("l_tax").as("tax")))).as("samples"))
      // F6: intra-row sample filter (bad-QC analog: low tax)
      .withColumn("kept", filter(col("samples"), x => x("tax") > TaxMin))
      // F7: validity gate on DISTINCT sample depths (dedup happens in the
      // kernel; the gate must count what survives it)
      .filter(size(array_distinct(transform(col("kept"), x => x("ln"))))
        >= MinSamples)
      .select(col("l_orderkey"),
        transform(col("kept"), x => x("ln").cast("double")).as("xs"),
        transform(col("kept"), x => x("q")).as("ys"),
        // a second coupled series for the JOINT (pair) methods: affine in
        // the sample value plus a depth-dependent bend
        transform(col("kept"), x =>
          x("q") * 0.1 + x("tax") * 20.0 + lit(30.0)).as("ys2"))

  // keep-first-in-sort-order dedup ≡ min(q) per depth (q is the sort
  // tiebreaker after ln in the Spark-side sorted struct array)
  private val sqlProfiles =
    s"""SELECT l_orderkey,
       |  list(CAST(ln AS DOUBLE) ORDER BY ln) AS xs,
       |  list(q ORDER BY ln) AS ys
       |FROM (
       |  SELECT l_orderkey, l_linenumber AS ln, min(l_quantity) AS q
       |  FROM lineitem WHERE l_tax > $TaxMin GROUP BY 1, 2)
       |GROUP BY 1 HAVING count(*) >= $MinSamples""".stripMargin

  // ---- q60: filter + gate + linear interp (F6+F7+J6), full oracle --------
  private def q60(s: SparkSession, d: String): DataFrame =
    profiles(s, d)
      .select(col("l_orderkey"), col("xs"), col("ys"),
        explode(lit(Targets)).as("t"))
      .select(col("l_orderkey"), FP.micro(col("t")).as("t_u"),
        FP.micro(linearUdf(col("xs"), col("ys"), col("t"))).as("y_u"))
      .orderBy("l_orderkey", "t_u")

  private val q60Sql = {
    // same association as Interp.linear: y0 + (y1-y0) * ((t-x0)/(x1-x0));
    // i = #{x < t} works because targets are never sample points.
    val interp =
      """CASE WHEN t <= xs[1] THEN ys[1]
        |     WHEN t >= xs[len(xs)] THEN ys[len(ys)]
        |     ELSE ys[i] + (ys[i+1] - ys[i]) * ((t - xs[i]) / (xs[i+1] - xs[i]))
        |END""".stripMargin
    s"""WITH prof AS ($sqlProfiles),
       |tgt AS (SELECT unnest([${Targets.mkString(", ")}]) AS t),
       |j AS (
       |  SELECT l_orderkey, xs, ys, t, len(list_filter(xs, v -> v < t)) AS i
       |  FROM prof CROSS JOIN tgt)
       |SELECT l_orderkey, ${FP.sqlMicro("t")} AS t_u,
       |  ${FP.sqlMicro(s"($interp)")} AS y_u
       |FROM j ORDER BY 1, 2""".stripMargin
  }

  // ---- q61: cubic-spline interpolation (X6), rows-only check -------------
  private def q61(s: SparkSession, d: String): DataFrame =
    profiles(s, d)
      .filter(size(array_distinct(col("xs"))) >= 4)
      .select(col("l_orderkey"),
        posexplode(cubicUdf(col("xs"), col("ys"))).as(Seq("pos", "y")))
      .select(col("l_orderkey"), col("pos").cast(LongType).as("level"),
        FP.micro(col("y")).as("y_u"))
      .orderBy("l_orderkey", "level")

  // ---- q63: PCHIP interpolation (the reference METHODS[1] family) --------
  private def q63(s: SparkSession, d: String): DataFrame =
    profiles(s, d)
      .filter(size(array_distinct(col("xs"))) >= 4)
      .select(col("l_orderkey"),
        posexplode(pchipUdf(col("xs"), col("ys"))).as(Seq("pos", "y")))
      .select(col("l_orderkey"), col("pos").cast(LongType).as("level"),
        FP.micro(col("y")).as("y_u"))
      .orderBy("l_orderkey", "level")

  // ---- q64: joint MR-PCHIP — the gsw.sa_ct_interp method (X6 alt) --------
  // The (ys, ys2) pair plays (CT, SA): interpolated JOINTLY in 16 rotated
  // frames of the (CT, 9·SA) plane (Interp.mrPchipOnto), not per-variable.
  private def q64(s: SparkSession, d: String): DataFrame =
    profiles(s, d)
      .filter(size(array_distinct(col("xs"))) >= 4)
      .withColumn("r", mrPchipUdf(col("xs"), col("ys"), col("ys2")))
      .select(col("l_orderkey"), col("r"),
        explode(lit(Targets.indices.toArray)).as("pos"))
      .select(col("l_orderkey"), col("pos").cast(LongType).as("level"),
        FP.micro(element_at(col("r._1"), col("pos") + 1)).as("ct_u"),
        FP.micro(element_at(col("r._2"), col("pos") + 1)).as("sa_u"))
      .orderBy("l_orderkey", "level")

  // ---- q62: gammat thermodynamic neutral density (X7), rows-only ---------
  private def q62(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") % 10 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        (lit(34.0) + col("l_discount") * 10.0).as("sr"),
        (col("l_quantity") * 0.4).as("ct"))
      .withColumn("g", gammatUdf(col("sr"), col("ct")))
      .select(col("l_orderkey"), col("l_linenumber"),
        FP.micro(col("g")(0)).as("gammat_u"),
        FP.micro(col("g")(1)).as("zref_u"),
        FP.micro(col("g")(2)).as("pref_u"),
        FP.micro(col("g")(3)).as("sigref_u"))
      .orderBy("l_orderkey", "l_linenumber")

  def defs: Map[String, QueryDef] = Map(
    "q60_interp_pipeline" -> QueryDef(q60, Some(q60Sql)),
    "q61_cubic_spline" ->
      QueryDef(q61, Some(FixtureOracle.sql("q61_cubic_spline"))),
    "q62_gammat" -> QueryDef(q62, Some(FixtureOracle.sql("q62_gammat"))),
    "q63_pchip_interp" ->
      QueryDef(q63, Some(FixtureOracle.sql("q63_pchip_interp"))),
    "q64_mr_pchip" ->
      QueryDef(q64, Some(FixtureOracle.sql("q64_mr_pchip"))))
}
