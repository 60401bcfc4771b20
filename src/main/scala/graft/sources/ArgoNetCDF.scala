package graft.sources

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S2: the Argo GDAC NetCDF profile source (reference toctools.py:117-118
  * `<dac>/<wmo>/<wmo>_prof.nc`, read via xarray at toctools.py:190-192 and
  * interpolation.py:182-197).
  *
  * Spark shape: `binaryFile` lists and reads the files distributed — one
  * `_prof.nc` is one row (whole-file, the files are MB-scale) — and a typed
  * `mapPartitions` parses each with the self-contained [[Nc3]] reader and
  * fans out one row per profile. File listing IS catalog discovery (S1) on
  * the GDAC's directory layout; at 100 TB the listing parallelizes over the
  * driver's file index, the parse over executors, and no single process
  * ever holds more than one file's bytes (the reference's process pool +
  * pd.concat, re-expressed as a scan).
  *
  * Per profile the source emits exactly what the downstream pipeline
  * consumes: the summary header fields for [[graft.argo.SummaryBuilder]]
  * and the sample arrays (with the reference's QC product semantics,
  * interpolation.py:195-196: QC = ∏ *_QC digits) for
  * [[graft.argo.Interpolator]]. Adjusted-variable resolution (S3) stays in
  * the Interpolator — the source emits both raw and `_ADJUSTED` arrays when
  * the file carries them.
  */
object ArgoNetCDF {

  /** One profile row, flat: header + sample arrays. */
  final case class ProfileRow(
      dac: String, WMO: Int, IPROF: Short, JULD: Timestamp,
      LONGITUDE: Float, LATITUDE: Float,
      data_mode: String, platform_type: String,
      position_qc: Int, juld_qc: Int, N_LEVELS: Int,
      PRES: Seq[Double], TEMP: Seq[Double], PSAL: Seq[Double],
      PRES_ADJUSTED: Option[Seq[Double]], TEMP_ADJUSTED: Option[Seq[Double]],
      PSAL_ADJUSTED: Option[Seq[Double]], QC: Seq[Double],
      QC_ADJUSTED: Option[Seq[Double]])

  /** Argo JULD epoch: days since 1950-01-01T00:00:00Z. */
  private val Epoch1950Ms = -631152000000L

  private def juldToTs(days: Double): Timestamp =
    new Timestamp(Epoch1950Ms + math.round(days * 86400000.0))

  /** `.../<dac>/<wmo>/<wmo>_prof.nc` → (dac, wmo). Returns None (caller
    * skips the file) when the name carries no leading WMO digits — one
    * stray file must not kill a whole GDAC ingest. The dac is the
    * grandparent directory when it looks like one; URI schemes and flat
    * layouts fall back to "unknown" instead of picking up "file:". */
  private[sources] def dacWmoFromPath(path: String): Option[(String, Int)] = {
    val parts = path.split('/')
    val file = parts.last
    val digits = file.takeWhile(_.isDigit)
    if (digits.isEmpty || digits.length > 9) None
    else {
      val dac = if (parts.length >= 3) parts(parts.length - 3) else ""
      val dacOk = dac.nonEmpty && !dac.contains(':')
      Some((if (dacOk) dac else "unknown", digits.toInt))
    }
  }

  /** Parse one `_prof.nc` into per-profile rows. */
  private[sources] def parseFile(path: String, bytes: Array[Byte]): Seq[ProfileRow] = {
    val (dac, wmo) = dacWmoFromPath(path) match {
      case Some(dw) => dw
      case None => return Seq.empty
    }
    val nc = new Nc3.NcFile(bytes)
    val nProf = nc.dims.find(_.name == "N_PROF").map(_.length).getOrElse(0)
    val nLev = nc.dims.find(_.name == "N_LEVELS").map(_.length).getOrElse(0)
    if (nProf == 0 || nLev == 0) return Seq.empty

    val juld = nc.readDoubles("JULD")
    val lon = nc.readDoubles("LONGITUDE")
    val lat = nc.readDoubles("LATITUDE")
    val dataMode = nc.readChars("DATA_MODE").map(_.toChar.toString)
    def charPerProf(name: String, default: String): Array[String] =
      if (nc.has(name)) {
        val v = nc.variable(name)
        if (v.shape.length == 1) nc.readChars(name).map(_.toChar.toString)
        else { // (N_PROF, STRINGnn) fixed-width strings
          val w = v.shape(1)
          val raw = nc.readChars(name)
          Array.tabulate(nProf)(i =>
            new String(raw, i * w, w, java.nio.charset.StandardCharsets.UTF_8).trim)
        }
      } else Array.fill(nProf)(default)
    val platform = charPerProf("PLATFORM_TYPE", "")
    val posQc = charPerProf("POSITION_QC", "1")
    val juldQc = charPerProf("JULD_QC", "1")

    def grid(name: String): Option[Array[Double]] =
      if (nc.has(name)) Some(nc.readDoubles(name)) else None
    // QC chars '0'..'9' → digits, multiplied across variables
    // (interpolation.py:195-196); non-digit (blank fill) → 0.
    def qcGrid(names: Seq[String]): Option[Array[Double]] =
      if (!names.forall(nc.has)) None
      else {
        val parts = names.map(n => nc.readChars(n)
          .map(c => if (c >= '0' && c <= '9') (c - '0').toDouble else 0.0))
        Some(Array.tabulate(nProf * nLev)(i => parts.map(_(i)).product))
      }

    (grid("PRES"), grid("TEMP"), grid("PSAL")) match {
      case (Some(pres), Some(temp), Some(psal)) =>
        val qc = qcGrid(Seq("PRES_QC", "TEMP_QC", "PSAL_QC"))
          .getOrElse(Array.fill(nProf * nLev)(1.0))
        val presA = grid("PRES_ADJUSTED")
        val tempA = grid("TEMP_ADJUSTED")
        val psalA = grid("PSAL_ADJUSTED")
        val qcA = qcGrid(
          Seq("PRES_ADJUSTED_QC", "TEMP_ADJUSTED_QC", "PSAL_ADJUSTED_QC"))

        def row(a: Array[Double], i: Int): Seq[Double] =
          a.slice(i * nLev, (i + 1) * nLev).toSeq

        (0 until nProf).map { i =>
          ProfileRow(dac, wmo, i.toShort, juldToTs(juld(i)),
            lon(i).toFloat, lat(i).toFloat,
            dataMode(i), platform(i),
            posQc(i).headOption.filter(_.isDigit).map(_ - '0').getOrElse(0),
            juldQc(i).headOption.filter(_.isDigit).map(_ - '0').getOrElse(0),
            nLev,
            row(pres, i), row(temp, i), row(psal, i),
            presA.map(row(_, i)), tempA.map(row(_, i)), psalA.map(row(_, i)),
            row(qc, i), qcA.map(row(_, i)))
        }
      case _ => Seq.empty
    }
  }

  /** One row of the Argo HISTORY block (the file's processing audit
    * trail): record `step` of profile `IPROF`. Fields are the manual's
    * fixed-width strings, trimmed; absent variables read as "". */
  final case class HistoryRow(
      dac: String, WMO: Int, IPROF: Short, step: Int,
      institution: String, histStep: String, software: String,
      date: String, action: String)

  /** Parse the record-structured HISTORY block (dims (N_HISTORY, N_PROF,
    * STRINGn) with N_HISTORY unlimited) of one `_prof.nc`. */
  private[sources] def parseHistory(path: String, bytes: Array[Byte]): Seq[HistoryRow] = {
    val (dac, wmo) = dacWmoFromPath(path) match {
      case Some(dw) => dw
      case None => return Seq.empty
    }
    val nc = new Nc3.NcFile(bytes)
    val nProf = nc.dims.find(_.name == "N_PROF").map(_.length).getOrElse(0)
    if (nc.numRecs == 0 || nProf == 0) return Seq.empty
    // (N_HISTORY, N_PROF, STRINGn) NC_CHAR → (rec, prof) → trimmed string
    def field(name: String): (Int, Int) => String =
      if (!nc.has(name)) (_, _) => ""
      else {
        val v = nc.variable(name)
        if (v.isRecord && v.ncType == Nc3.NcChar && v.shape.length == 3 &&
          v.shape(1) == nProf) {
          val w = v.shape(2)
          val raw = nc.readCharsRec(name)
          (r, i) => new String(raw, (r * nProf + i) * w, w,
            java.nio.charset.StandardCharsets.UTF_8).trim
        } else (_, _) => ""
      }
    val inst = field("HISTORY_INSTITUTION")
    val step = field("HISTORY_STEP")
    val soft = field("HISTORY_SOFTWARE")
    val date = field("HISTORY_DATE")
    val action = field("HISTORY_ACTION")
    for (r <- 0 until nc.numRecs; i <- 0 until nProf)
      yield HistoryRow(dac, wmo, i.toShort, r,
        inst(r, i), step(r, i), soft(r, i), date(r, i), action(r, i))
  }

  /** The HISTORY audit block of every `_prof.nc` under `path`, one row per
    * (history record × profile) — same distributed scan shape as [[read]]. */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*_prof.nc")
      .option("recursiveFileLookup", "true")
      .load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (p, b) => parseHistory(p, b) })
      .toDF()
  }

  /** All profiles under `path` (glob over the GDAC layout), one row each.
    *
    * The scan is the DataSource V2 source ([[ArgoNcV2]],
    * `format("argonc")`): column pruning reaches the FILE level — a
    * header-shaped query reads only the header probe plus the header
    * variables' byte ranges, never the (N_PROF, N_LEVELS) science grids
    * that dominate a GDAC's bytes. Row semantics are parseFile's
    * verbatim (ArgoNcV2Spec pins schema + full-row parity, and q75 runs
    * the V2 path under the DuckDB oracle gate). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format("argonc").load(path)

  /** The pre-V2 scan: binaryFile + typed mapPartitions (whole-file
    * reads; parse prunes nothing). Kept as the parity baseline. */
  private[graft] def readV1(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*_prof.nc")
      .option("recursiveFileLookup", "true")
      .load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (p, b) => parseFile(p, b) })
      .toDF()
  }

  /** Incremental re-ingest (SURVEY.md §2.9): the GDAC as a STREAMING file
    * source — Structured Streaming's file tracker discovers newly landed
    * `_prof.nc` files per micro-batch and each is parsed exactly once, so
    * keeping a profiles table current is `argoStream(...).writeStream` in
    * append mode instead of a full rescan. Identical parse path to
    * [[read]] (one file per row, executor-side [[Nc3]]).
    * @param maxFilesPerTrigger bound files per micro-batch (backfill of a
    *                           large GDAC arrives in steady chunks) */
  def readStream(spark: SparkSession, path: String,
                 maxFilesPerTrigger: Int = 1000): DataFrame = {
    import spark.implicits._
    spark.readStream.format("binaryFile")
      // streaming sources require the schema up front; binaryFile's is fixed
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY"))
      .option("pathGlobFilter", "*_prof.nc")
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (p, b) => parseFile(p, b) })
      .toDF()
  }

  /** Projection matching [[graft.argo.SummaryBuilder]]'s raw-header input. */
  def rawHeader(profiles: DataFrame): DataFrame =
    profiles.select(col("dac"), col("WMO"), col("JULD"),
      col("LONGITUDE"), col("LATITUDE"), col("N_LEVELS"),
      col("data_mode"), col("platform_type"),
      col("position_qc"), col("juld_qc"))

  /** Projection matching [[graft.argo.Interpolator]]'s samples input
    * (DATA_MODE as the dictionary code so adjusted resolution works). */
  def samples(profiles: DataFrame): DataFrame = {
    val withCode = profiles.withColumn("DATA_MODE",
      when(col("data_mode") === "D", 1).when(col("data_mode") === "A", 2)
        .otherwise(0))
    val base = Seq("WMO", "IPROF", "PRES", "TEMP", "PSAL", "QC", "DATA_MODE")
    val adj = Seq("PRES_ADJUSTED", "TEMP_ADJUSTED", "PSAL_ADJUSTED",
      "QC_ADJUSTED").filter(withCode.columns.contains)
    withCode.select((base ++ adj).map(col): _*)
  }
}
