package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{ArgoNcV2, ArgoNetCDF, Nc3}

/** The DataSource V2 GDAC scan (`format("argonc")`) against the
  * binaryFile + mapPartitions baseline: identical schema, identical rows
  * across every variant the parse path distinguishes (adjusted twins
  * present/absent, float widening, per-profile char vars, record-var
  * HISTORY block present but unrequested), and — the point of the
  * source — a PLAN-LEVEL pin that a header-shaped projection never
  * reads the science grids' bytes. */
class ArgoNcV2Spec extends SparkSuite {

  private val nProf = 4
  private val nLev = 12

  private def prof(wmo: Int, adjusted: Boolean,
                   withPres: Boolean = true): Array[Byte] = {
    val pres = Array.tabulate(nProf * nLev)(i => (i % nLev) * 50.0f)
    val temp = pres.map(p => 20.0f - p / 100.0f)
    val psal = pres.map(_ => 35.0f)
    val qc = Array.tabulate(nProf * nLev)(i => ('1' + i % 3).toByte)
    def f2(name: String, data: Array[Float]) =
      Nc3.VarSpec(name, Seq("N_PROF", "N_LEVELS"), Nil, Nc3.NcFloat, data)
    def c2(name: String, data: Array[Byte]) =
      Nc3.VarSpec(name, Seq("N_PROF", "N_LEVELS"), Nil, Nc3.NcChar, data)
    val base = Seq(
      Nc3.VarSpec("JULD", Seq("N_PROF"), Nil, Nc3.NcDouble,
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
    Nc3.write(
      dims = Seq(Nc3.Dim("N_PROF", nProf), Nc3.Dim("N_LEVELS", nLev),
        Nc3.Dim("STRING8", 8)),
      gatts = Seq(Nc3.Att("title", Nc3.NcChar, "v2 spec fixture")),
      vars = base)
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

  test("record fallback >2 GiB guard: actionable failure, not array overflow") {
    ArgoNcV2.requireJvmReadable(1024L, "small_prof.nc") // no-op
    ArgoNcV2.requireJvmReadable(Int.MaxValue - 16L, "edge_prof.nc")
    val e = intercept[UnsupportedOperationException](
      ArgoNcV2.requireJvmReadable(3L << 30, "/gdac/aoml/big/big_prof.nc"))
    assert(e.getMessage.contains("big_prof.nc") && e.getMessage.contains("2 GiB"))
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
