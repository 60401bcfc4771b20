package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{ArgoNcV2, ArgoNetCDF, Nc3}

/** The DataSource V2 GDAC scan (`format("argonc")`) against the
  * binaryFile + mapPartitions baseline: identical schema, identical rows
  * across every variant the decode distinguishes (adjusted twins
  * present/absent, float widening, per-profile char vars), decoded values
  * checked against the fixture's own arrays, record variables refused
  * only when a required column needs one, and — the point of the
  * source — a PLAN-LEVEL pin that a header-shaped projection never
  * reads the science grids' bytes. */
class ArgoNcV2Spec extends SparkSuite {

  private val nProf = 4
  private val nLev = 12

  /** `recordDim` = Some(d): `d` is declared unlimited with nProf records —
    * "N_HISTORY" carries JULD alone on it, "N_PROF" turns every
    * per-profile variable into a record variable. */
  private def prof(wmo: Int, adjusted: Boolean, withPres: Boolean = true,
                   recordDim: Option[String] = None): Array[Byte] = {
    val pres = Array.tabulate(nProf * nLev)(i => (i % nLev) * 50.0f)
    val temp = pres.map(p => 20.0f - p / 100.0f)
    val psal = pres.map(_ => 35.0f)
    val qc = Array.tabulate(nProf * nLev)(i => ('1' + i % 3).toByte)
    def f2(name: String, data: Array[Float]) =
      Nc3.VarSpec(name, Seq("N_PROF", "N_LEVELS"), Nil, Nc3.NcFloat, data)
    def c2(name: String, data: Array[Byte]) =
      Nc3.VarSpec(name, Seq("N_PROF", "N_LEVELS"), Nil, Nc3.NcChar, data)
    val base = Seq(
      Nc3.VarSpec("JULD",
        Seq(if (recordDim.contains("N_HISTORY")) "N_HISTORY" else "N_PROF"),
        Nil, Nc3.NcDouble,
        Array.tabulate(nProf)(i => 25567.0 + i * 10.5)),
      Nc3.VarSpec("LONGITUDE", Seq("N_PROF"), Nil, Nc3.NcDouble,
        Array.tabulate(nProf)(i => 10.0 + i)),
      Nc3.VarSpec("LATITUDE", Seq("N_PROF"), Nil, Nc3.NcDouble,
        Array.tabulate(nProf)(i => -40.0 - i)),
      Nc3.VarSpec("DATA_MODE", Seq("N_PROF"), Nil, Nc3.NcChar,
        "RDAR".take(nProf).getBytes("UTF-8")),
      Nc3.VarSpec("PLATFORM_TYPE", Seq("N_PROF", "STRING8"), Nil, Nc3.NcChar,
        ("APEX    " * nProf).getBytes("UTF-8")),
      Nc3.VarSpec("POSITION_QC", Seq("N_PROF"), Nil, Nc3.NcChar,
        "1122".take(nProf).getBytes("UTF-8")),
      Nc3.VarSpec("JULD_QC", Seq("N_PROF"), Nil, Nc3.NcChar,
        "1111".take(nProf).getBytes("UTF-8"))) ++
      (if (withPres) Seq(f2("PRES", pres)) else Nil) ++
      Seq(f2("TEMP", temp), f2("PSAL", psal),
        c2("PRES_QC", qc), c2("TEMP_QC", qc), c2("PSAL_QC", qc)) ++
      (if (adjusted) Seq(
        f2("PRES_ADJUSTED", pres.map(_ + 1.0f)),
        f2("TEMP_ADJUSTED", temp.map(_ + 0.5f)),
        f2("PSAL_ADJUSTED", psal.map(_ + 0.25f)),
        c2("PRES_ADJUSTED_QC", qc), c2("TEMP_ADJUSTED_QC", qc),
        c2("PSAL_ADJUSTED_QC", qc)) else Nil)
    val profDim = Nc3.Dim("N_PROF", if (recordDim.contains("N_PROF")) 0 else nProf)
    Nc3.write(
      dims = recordDim.filter(_ == "N_HISTORY").map(Nc3.Dim(_, 0)).toSeq ++
        Seq(profDim, Nc3.Dim("N_LEVELS", nLev), Nc3.Dim("STRING8", 8)),
      gatts = Seq(Nc3.Att("title", Nc3.NcChar, "v2 spec fixture")),
      vars = base,
      numRecs = if (recordDim.isDefined) nProf else 0)
  }

  private lazy val gdac: String = {
    val root = graft.TempDirs.create("gdac-v2")
    def write(dac: String, wmo: Int, bytes: Array[Byte]): Unit = {
      val dir = root.resolve(s"$dac/$wmo")
      Files.createDirectories(dir)
      Files.write(dir.resolve(s"${wmo}_prof.nc"), bytes)
    }
    write("aoml", 2901001, prof(2901001, adjusted = true))
    write("coriolis", 2901002, prof(2901002, adjusted = false))
    // missing PRES: the existence gate must drop the whole file
    write("aoml", 2901003, prof(2901003, adjusted = false, withPres = false))
    root.toString
  }

  private def v2 = spark.read.format("argonc").load(gdac)
  private def v1 = ArgoNetCDF.readV1(spark, gdac)

  test("schema is field-for-field the binaryFile path's") {
    assert(ArgoNcV2.Schema == v1.schema,
      s"\nV2: ${ArgoNcV2.Schema.treeString}\nV1: ${v1.schema.treeString}")
    assert(v2.schema == v1.schema)
  }

  test("full-schema rows are identical to the binaryFile path (adjusted present AND absent; missing-PRES file dropped)") {
    val a = v2.orderBy("WMO", "IPROF").collect().toSeq
    val b = v1.orderBy("WMO", "IPROF").collect().toSeq
    assert(a.size == 2 * nProf, s"expected ${2 * nProf} rows, got ${a.size}")
    assert(a == b)
    // both fixture variants really exercised
    assert(a.count(_.getAs[Any]("TEMP_ADJUSTED") == null) == nProf)
    assert(a.count(_.getAs[Any]("TEMP_ADJUSTED") != null) == nProf)
    // both scans share one decode, so check it against the fixture's own
    // arrays too
    val epoch1950 = java.time.Instant.parse("1950-01-01T00:00:00Z")
    a.foreach { r =>
      val i = r.getAs[Short]("IPROF").toInt
      def grid(n: String) = r.getAs[scala.collection.Seq[Double]](n).toSeq
      val pres = Seq.tabulate(nLev)(k => k * 50.0f)
      val temp = pres.map(p => 20.0f - p / 100.0f)
      assert(grid("PRES") == pres.map(_.toDouble))
      assert(grid("TEMP") == temp.map(_.toDouble))
      assert(grid("PSAL") == Seq.fill(nLev)(35.0))
      // QC = product of the three *_QC digits, each 1 + (cell % 3)
      val qc = Seq.tabulate(nLev)(k => math.pow(1 + (i * nLev + k) % 3, 3))
      assert(grid("QC") == qc)
      assert(qc.toSet == Set(1.0, 8.0, 27.0))
      if (r.getAs[Int]("WMO") == 2901001) {
        assert(grid("PRES_ADJUSTED") == grid("PRES").map(_ + 1.0))
        assert(grid("TEMP_ADJUSTED") == grid("TEMP").map(_ + 0.5))
        assert(grid("PSAL_ADJUSTED") == grid("PSAL").map(_ + 0.25))
        assert(grid("QC_ADJUSTED") == qc)
      } else assert(r.getAs[Any]("QC_ADJUSTED") == null)
      assert(r.getAs[String]("platform_type") == "APEX")
      assert(r.getAs[String]("data_mode") == "RDAR".substring(i, i + 1))
      assert(r.getAs[Int]("position_qc") == "1122"(i) - '0')
      assert(r.getAs[Int]("N_LEVELS") == nLev)
      assert(r.getAs[Float]("LONGITUDE") == (10.0 + i).toFloat)
      assert(r.getAs[java.sql.Timestamp]("JULD").toInstant ==
        epoch1950.plusMillis(math.round((25567.0 + i * 10.5) * 86400000.0)))
    }
  }

  private def witnessed(): Set[String] = {
    import scala.jdk.CollectionConverters._
    ArgoNcV2.readVarsWitness.asScala.toSet
  }

  test("pruning pin: a header projection never reads the science grids' bytes") {
    // the witness is OFF in production (unbounded queue otherwise) —
    // enabled only around these assertions
    ArgoNcV2.witnessEnabled = true
    ArgoNcV2.readVarsWitness.clear()
    val n = v2.select(col("dac"), col("WMO"), col("JULD")).collect().length
    assert(n == 2 * nProf)
    // the existence gate is a HEADER check: PRES/TEMP/PSAL declared, data
    // untouched — only JULD's bytes may be read for this projection
    val got = witnessed()
    assert(got == Set("JULD"),
      s"header projection read unexpected variable data: $got")
    // and the registered consumers' own projections stay grid-free too:
    // the summary shape reads header vars only
    ArgoNcV2.readVarsWitness.clear()
    ArgoNetCDF.rawHeader(v2).collect()
    val got2 = witnessed()
    ArgoNcV2.witnessEnabled = false
    assert(got2.nonEmpty && !Set("PRES", "TEMP", "PSAL").exists(got2.contains),
      s"summary projection read science grids: $got2")
  }

  private def opened(): Set[String] = {
    import scala.jdk.CollectionConverters._
    ArgoNcV2.openedFilesWitness.asScala.toSet
  }

  test("filter pushdown: a single-WMO query opens exactly ONE file") {
    // the reference's own per-float access pattern (interpolation.py:106)
    // — dac/WMO are fully determined by the path, so the file list is
    // pruned before partition planning and the other files never open
    ArgoNcV2.witnessEnabled = true
    ArgoNcV2.openedFilesWitness.clear()
    val rows = v2.filter(col("WMO") === 2901002)
      .orderBy("IPROF").collect().toSeq
    val got = opened()
    ArgoNcV2.witnessEnabled = false
    assert(rows.size == nProf && rows.forall(_.getAs[Int]("WMO") == 2901002))
    assert(got.size == 1 && got.head.endsWith("2901002_prof.nc"),
      s"single-WMO query opened: $got")
    // results unchanged vs the unpruned path post-filtered
    assert(rows == v1.filter(col("WMO") === 2901002)
      .orderBy("IPROF").collect().toSeq)
  }

  test("filter pushdown: dac equality prunes to the dac; non-path filters never prune") {
    ArgoNcV2.witnessEnabled = true
    ArgoNcV2.openedFilesWitness.clear()
    val n = v2.filter(col("dac") === "aoml").collect().length
    val aomlOpened = opened()
    assert(n == nProf) // 2901003 opens (same dac) but its rows are gated
    assert(aomlOpened.forall(_.contains("/aoml/")) && aomlOpened.size == 2,
      s"dac filter must open exactly aoml's two files: $aomlOpened")
    // a filter the path cannot answer must leave the listing intact
    ArgoNcV2.openedFilesWitness.clear()
    v2.filter(col("LATITUDE") < -30.0).collect()
    val all = opened()
    ArgoNcV2.witnessEnabled = false
    assert(all.size == 3, s"non-path filter must not prune files: $all")
  }

  private def gdacOf(name: String, bytes: Array[Byte]): String = {
    val root = graft.TempDirs.create(name)
    val dir = root.resolve("aoml/2901009")
    Files.createDirectories(dir)
    Files.write(dir.resolve("2901009_prof.nc"), bytes)
    root.toString
  }

  private def causes(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(c => String.valueOf(c.getMessage)).toSeq

  test("a required record variable fails both scans; a projection without one still reads") {
    val root = gdacOf("gdac-rec-juld",
      prof(2901009, adjusted = false, recordDim = Some("N_HISTORY")))
    def refused(df: => org.apache.spark.sql.DataFrame): Unit = {
      val e = intercept[Exception](df.collect())
      assert(causes(e).exists(_.contains("JULD is a record variable")),
        causes(e).mkString(" <- "))
    }
    refused(ArgoNetCDF.read(spark, root))
    refused(ArgoNetCDF.readV1(spark, root))
    val rows = ArgoNetCDF.read(spark, root).select("WMO", "PRES").collect()
    assert(rows.length == nProf && rows.forall(_.getInt(0) == 2901009))
  }

  test("N_PROF as the record dimension: both scans return 0 rows, silently") {
    val root = gdacOf("gdac-rec-prof",
      prof(2901009, adjusted = false, recordDim = Some("N_PROF")))
    assert(ArgoNetCDF.read(spark, root).count() == 0)
    assert(ArgoNetCDF.readV1(spark, root).count() == 0)
  }

  test("glob paths keep working on the V2 default (binaryFile .load(glob) parity)") {
    import java.nio.file.Paths
    val sub = Paths.get(gdac)
    val globbed = spark.read.format("argonc")
      .load(s"${sub}/{aoml,coriolis}")
      .orderBy("WMO", "IPROF").collect().toSeq
    // aoml holds the adjusted fixture AND the dropped missing-PRES file;
    // coriolis the unadjusted one — the glob must see both dacs
    assert(globbed == v2.orderBy("WMO", "IPROF").collect().toSeq)
  }

  test("read() plans the V2 scan and matches readV1 row for row") {
    val a = ArgoNetCDF.read(spark, gdac)
    assert(a.queryExecution.logical.toString.contains("argonc") ||
      a.queryExecution.executedPlan.toString.contains("ArgoNcV2"),
      s"read() must plan the V2 scan:\n${a.queryExecution.executedPlan.toString.take(800)}")
    val b = ArgoNetCDF.readV1(spark, gdac)
    assert(b.queryExecution.executedPlan.toString.contains("MapPartitions"),
      "readV1 must plan the binaryFile parse")
    assert(a.orderBy("WMO", "IPROF").collect().toSeq ==
      b.orderBy("WMO", "IPROF").collect().toSeq)
  }
}
