package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Tables
import graft.argo.ArgoSchemas
import graft.sources.{ArgoNetCDF, Nc3}

/** q75: the NetCDF profile source (S2) under the driver's DuckDB gate.
  *
  * The [[Nc3]] classic-format reader/writer is 400+ lines of hand-rolled
  * binary layout code — exactly where bugs hide — and until this query its
  * only verification was ScalaTest. Here the driver's hash-compare covers
  * the full write → GDAC scan → parse path: a small GDAC tree
  * (`<dac>/<wmo>/<wmo>_prof.nc`, reference toctools.py:117-118) is
  * authored from a DETERMINISTIC projection of the orders table, read back
  * through the production [[ArgoNetCDF.read]] scan (binaryFile +
  * mapPartitions parse, the same path a real GDAC ingest takes,
  * toctools.py:190-192 / interpolation.py:182-197), and the extracted rows
  * are oracle-checked against DuckDB computing the same projection straight
  * from the parquet. Any drift in the writer's offsets/padding/vsize or the
  * reader's slab walk breaks the hash.
  *
  * Every value is rational arithmetic on integers (+,-,*,/ — IEEE
  * correctly rounded, bit-identical cross-engine), so the oracle needs no
  * fixtures. The JULD round-trip (integral days since 1950 → ms-exact
  * Timestamp) and the float32 LONGITUDE/LATITUDE narrowing are mirrored in
  * SQL (`to_milliseconds`, `CAST(.. AS REAL)`).
  *
  * Scale note: file AUTHORING collects 1% of orders to the driver — it is
  * fixture construction, bounded and deliberate, not an engine operator.
  * The part under test, the SCAN, is fully distributed (one file = one
  * task's row, parsed executor-side).
  */
object NetcdfQueries extends QueryModule {

  private val NLev = 16
  /** Probe level (0-based) for the array round-trip columns. */
  private val K = 5
  /** Fixture-tree id cap: profiles are the orderkeys that are multiples
    * of 100 BELOW this, so the authored GDAC is O(100 files) at any
    * corpus size (the driver collect in [[writeGdac]] is bounded by
    * construction — see the comment there). */
  private val GdacMaxKey = 10000L

  private def wmoOf(custkey: Long): Long = 2910000L + custkey % 20
  private def dacOf(wmo: Long): String =
    ArgoSchemas.Dacs((wmo % 11).toInt)

  /** Per-profile deterministic fields, shared by the writer and (as SQL)
    * the oracle. */
  private final case class Prof(orderkey: Long, custkey: Long) {
    val wmo: Long = wmoOf(custkey)
    val juldDays: Double = 25567.0 + (orderkey % 3650).toDouble
    val lon: Double = ((orderkey * 7919) % 7000).toDouble / 100.0 - 20.0
    val lat: Double = ((orderkey * 104729) % 3000).toDouble / 100.0 - 50.0
    val dataMode: Char = if (orderkey % 2 == 0) 'D' else 'R'
    val platform: String = if (wmo % 2 == 0) "APEX" else "NOVA"
    val qcDigit: Int = (1 + orderkey % 3).toInt
    def pres(k: Int): Double = k * 125.0
    def temp(k: Int): Double =
      (wmo % 7).toDouble + k * 0.25 + (orderkey % 50).toDouble * 0.01
    def psal(k: Int): Double = 34.0 + k * 0.0625
  }

  /** Author the GDAC tree for scale dir `d` under a deterministic temp
    * root; rewritten from scratch each call (same bytes — idempotent, and
    * a stale tree from an older data generation can never leak in). */
  private def writeGdac(s: SparkSession, d: String): String = {
    import s.implicits._
    val root = Paths.get(sys.props("java.io.tmpdir"),
      // per-process root: a concurrent JVM's delete-and-rewrite must not
      // race this process's executors mid-scan
      "graft-gdac-" + ProcessHandle.current().pid() + "-" +
        d.replaceAll("[^A-Za-z0-9.]", "_"))
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
      finally walk.close()
    }
    // The authored tree is test scaffolding (a real GDAC already exists
    // at rest; the PRODUCTION path is the distributed ArgoNetCDF scan
    // below), but its driver collect must still be bounded by
    // CONSTRUCTION, not by hope — the q87 SemEvalMax discipline: a bare
    // modulus collects corpus/100 rows, growing with the scale factor,
    // while the id cap keeps the fixture at ≤ GdacMaxKey/100 profiles at
    // ANY corpus size (binds at sf0.01 already: 150 → 100 profiles, so
    // the driver gate verifies the bounded tree itself). Both predicates
    // are scan-side pushdowns in both engines.
    val profs = Tables.orders(s, d)
      .filter(col("o_orderkey") % 100 === 0 && col("o_orderkey") < GdacMaxKey)
      .select(col("o_orderkey"), col("o_custkey"))
      .as[(Long, Long)].collect()
      .map { case (o, c) => Prof(o, c) }
    // the tree must outlive this method — the returned scan reads it
    // lazily at collect time — so cleanup is deleteOnExit, parents
    // registered FIRST (the JVM deletes in reverse registration order,
    // children before their directories); without it every bench/verify
    // JVM leaks a per-PID GDAC tree into tmpdir for the host's lifetime
    root.toFile.deleteOnExit()
    profs.groupBy(_.wmo).foreach { case (wmo, ps) =>
      // IPROF is file order: sort by orderkey (unique) so the oracle can
      // reproduce it as row_number() over the same ordering
      val sorted = ps.sortBy(_.orderkey)
      val dacDir = root.resolve(dacOf(wmo))
      val dir = dacDir.resolve(wmo.toString)
      val preDac = Files.exists(dacDir)
      val preDir = Files.exists(dir)
      Files.createDirectories(dir)
      if (!preDac) dacDir.toFile.deleteOnExit()
      if (!preDir) dir.toFile.deleteOnExit()
      val f = dir.resolve(s"${wmo}_prof.nc")
      Files.write(f, profFile(sorted))
      f.toFile.deleteOnExit()
    }
    root.toString
  }

  /** One classic `_prof.nc`: header vars on (N_PROF), science + QC vars on
    * (N_PROF, N_LEVELS), adjusted twins included so the reader's
    * `_ADJUSTED` path is exercised too. */
  private def profFile(ps: Array[Prof]): Array[Byte] = {
    val n = ps.length
    def grid(f: (Prof, Int) => Double): Array[Double] =
      Array.tabulate(n * NLev)(i => f(ps(i / NLev), i % NLev))
    def qcGrid(f: Prof => Int): Array[Byte] =
      Array.tabulate(n * NLev)(i => ('0' + f(ps(i / NLev))).toByte)
    def d2(name: String, data: Array[Double]) =
      Nc3.VarSpec(name, Seq("N_PROF", "N_LEVELS"), Nil, Nc3.NcDouble, data)
    def c2(name: String, data: Array[Byte]) =
      Nc3.VarSpec(name, Seq("N_PROF", "N_LEVELS"), Nil, Nc3.NcChar, data)
    Nc3.write(
      dims = Seq(Nc3.Dim("N_PROF", n), Nc3.Dim("N_LEVELS", NLev),
        Nc3.Dim("STRING8", 8)),
      gatts = Seq(Nc3.Att("title", Nc3.NcChar, "graft roundtrip fixture")),
      vars = Seq(
        Nc3.VarSpec("JULD", Seq("N_PROF"), Nil, Nc3.NcDouble,
          ps.map(_.juldDays)),
        Nc3.VarSpec("LONGITUDE", Seq("N_PROF"), Nil, Nc3.NcDouble,
          ps.map(_.lon)),
        Nc3.VarSpec("LATITUDE", Seq("N_PROF"), Nil, Nc3.NcDouble,
          ps.map(_.lat)),
        Nc3.VarSpec("DATA_MODE", Seq("N_PROF"), Nil, Nc3.NcChar,
          ps.map(_.dataMode.toByte)),
        Nc3.VarSpec("PLATFORM_TYPE", Seq("N_PROF", "STRING8"), Nil,
          Nc3.NcChar, ps.flatMap(_.platform.padTo(8, ' ').getBytes("UTF-8"))),
        Nc3.VarSpec("POSITION_QC", Seq("N_PROF"), Nil, Nc3.NcChar,
          Array.fill(n)('1'.toByte)),
        Nc3.VarSpec("JULD_QC", Seq("N_PROF"), Nil, Nc3.NcChar,
          Array.fill(n)('1'.toByte)),
        d2("PRES", grid((p, k) => p.pres(k))),
        d2("TEMP", grid((p, k) => p.temp(k))),
        d2("PSAL", grid((p, k) => p.psal(k))),
        d2("PRES_ADJUSTED", grid((p, k) => p.pres(k))),
        d2("TEMP_ADJUSTED", grid((p, k) => p.temp(k) + 0.125)),
        d2("PSAL_ADJUSTED", grid((p, k) => p.psal(k) + 0.0625)),
        c2("PRES_QC", qcGrid(_ => 1)),
        c2("TEMP_QC", qcGrid(_.qcDigit)),
        c2("PSAL_QC", qcGrid(_ => 1)),
        c2("PRES_ADJUSTED_QC", qcGrid(_ => 1)),
        c2("TEMP_ADJUSTED_QC", qcGrid(_ => 1)),
        c2("PSAL_ADJUSTED_QC", qcGrid(_ => 1))))
  }

  private def q75(s: SparkSession, d: String): DataFrame = {
    val root = writeGdac(s, d)
    ArgoNetCDF.read(s, root).select(
      col("dac"),
      col("WMO").cast(LongType).as("wmo"),
      col("IPROF").cast(LongType).as("iprof"),
      col("JULD").as("juld"),
      col("LONGITUDE").cast("double").as("lon"),
      col("LATITUDE").cast("double").as("lat"),
      col("data_mode"), col("platform_type"),
      col("position_qc").cast(LongType).as("position_qc"),
      col("juld_qc").cast(LongType).as("juld_qc"),
      col("N_LEVELS").cast(LongType).as("n_levels"),
      element_at(col("PRES"), K + 1).as("pres_k"),
      element_at(col("TEMP"), K + 1).as("temp_k"),
      element_at(col("PSAL"), K + 1).as("psal_k"),
      element_at(col("TEMP_ADJUSTED"), K + 1).as("temp_adj_k"),
      element_at(col("QC"), K + 1).as("qc_k"),
      element_at(col("QC_ADJUSTED"), K + 1).as("qc_adj_k"))
      .orderBy("wmo", "iprof")
  }

  /** DuckDB recomputes the projection straight from orders; the Spark side
    * must reproduce it THROUGH the binary format. Expressions are
    * parenthesized to match the Scala evaluation order exactly (left-to-
    * right adds), so every double is bit-identical. */
  private val q75Sql = {
    val dacList = ArgoSchemas.Dacs.map(x => s"'$x'").mkString("[", ", ", "]")
    s"""WITH h AS (
       |  SELECT o_orderkey, o_custkey,
       |    CAST(2910000 + o_custkey % 20 AS BIGINT) AS wmo
       |  FROM orders WHERE o_orderkey % 100 = 0 AND o_orderkey < $GdacMaxKey),
       |p AS (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY wmo ORDER BY o_orderkey) - 1 AS iprof,
       |    (wmo % 7) + $K * 0.25 + (o_orderkey % 50) * 0.01 AS temp_k0
       |  FROM h)
       |SELECT
       |  $dacList[CAST(wmo % 11 AS INT) + 1] AS dac,
       |  wmo,
       |  CAST(iprof AS BIGINT) AS iprof,
       |  TIMESTAMP '1950-01-01 00:00:00'
       |    + to_milliseconds(CAST(25567 + o_orderkey % 3650 AS BIGINT) * 86400000) AS juld,
       |  CAST(CAST(((o_orderkey * 7919) % 7000) / 100.0 - 20.0 AS REAL) AS DOUBLE) AS lon,
       |  CAST(CAST(((o_orderkey * 104729) % 3000) / 100.0 - 50.0 AS REAL) AS DOUBLE) AS lat,
       |  CASE WHEN o_orderkey % 2 = 0 THEN 'D' ELSE 'R' END AS data_mode,
       |  CASE WHEN wmo % 2 = 0 THEN 'APEX' ELSE 'NOVA' END AS platform_type,
       |  CAST(1 AS BIGINT) AS position_qc,
       |  CAST(1 AS BIGINT) AS juld_qc,
       |  CAST($NLev AS BIGINT) AS n_levels,
       |  $K * 125.0 AS pres_k,
       |  temp_k0 AS temp_k,
       |  34.0 + $K * 0.0625 AS psal_k,
       |  temp_k0 + 0.125 AS temp_adj_k,
       |  CAST(1 + o_orderkey % 3 AS DOUBLE) AS qc_k,
       |  CAST(1 AS DOUBLE) AS qc_adj_k
       |FROM p ORDER BY wmo, iprof""".stripMargin
  }

  def defs: Map[String, QueryDef] = Map(
    "q75_netcdf_roundtrip" -> QueryDef(q75, Some(q75Sql)))
}
