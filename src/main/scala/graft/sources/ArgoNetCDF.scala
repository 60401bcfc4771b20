package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** S2: the Argo GDAC NetCDF profile source (reference toctools.py:117-118
  * `<dac>/<wmo>/<wmo>_prof.nc`, read via xarray at toctools.py:190-192 and
  * interpolation.py:182-197).
  *
  * Spark shape: the files are listed and read distributed, and each is
  * decoded by [[decode]] over an [[Nc3.NcFile]], one row per profile. The
  * byte source is the only thing that differs between the scans: the
  * default [[read]] ([[ArgoNcV2]]) reads only the variables a query needs
  * with positioned reads, while [[readV1]] and [[readStream]] hand decode
  * whole files from `binaryFile`. File listing IS catalog discovery (S1) on
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

  /** Argo JULD epoch: days since 1950-01-01T00:00:00Z. */
  private val Epoch1950Ms = -631152000000L

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

  /** The one profile decode: the rows of the `_prof.nc` at `path`, one
    * per profile, holding `columns` (names of [[ArgoNcV2.Schema]]) in the
    * order given. Rows exist only when the path names a WMO and the file
    * has N_PROF/N_LEVELS and declares the PRES/TEMP/PSAL grids — a header
    * check, no data is read for it. Each column reads only the variables
    * it needs, once, before this returns: the caller may close `nc`'s
    * source as soon as it has the iterator. QC is the product of the
    * per-variable `*_QC` digits (interpolation.py:195-196; a non-digit
    * counts 0), and an `_ADJUSTED` column is null when the file lacks it. */
  def decode(path: String, nc: Nc3.NcFile, columns: Seq[String]): Iterator[InternalRow] = {
    val (dac, wmo) = dacWmoFromPath(path) match {
      case Some(dw) => dw
      case None => return Iterator.empty
    }
    val nProf = nc.dims.find(_.name == "N_PROF").map(_.length).getOrElse(0)
    val nLev = nc.dims.find(_.name == "N_LEVELS").map(_.length).getOrElse(0)
    if (nProf == 0 || nLev == 0 || !Seq("PRES", "TEMP", "PSAL").forall(nc.has))
      return Iterator.empty

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
    def qcHead(name: String): Int => Any = {
      val p = charPerProf(name, "1")
      i => p(i).headOption.filter(_.isDigit).map(_ - '0').getOrElse(0)
    }
    def qcGrid(names: Seq[String]): Option[Array[Double]] =
      if (!names.forall(nc.has)) None
      else {
        val parts = names.map(n => nc.readChars(n)
          .map(c => if (c >= '0' && c <= '9') (c - '0').toDouble else 0.0))
        Some(Array.tabulate(nProf * nLev)(i => parts.map(_(i)).product))
      }
    def perProf(a: Array[Double]): Int => Any = i =>
      ArrayData.toArrayData(java.util.Arrays.copyOfRange(a, i * nLev, (i + 1) * nLev))
    def orNull(a: Option[Array[Double]]): Int => Any =
      a.map(perProf).getOrElse(_ => null)
    def str(a: Array[String]): Int => Any = i => UTF8String.fromString(a(i))

    val cells: Array[Int => Any] = columns.map {
      case "dac" => (_: Int) => UTF8String.fromString(dac)
      case "WMO" => (_: Int) => wmo
      case "IPROF" => (i: Int) => i.toShort
      case "N_LEVELS" => (_: Int) => nLev
      case "JULD" =>
        val juld = nc.readDoubles("JULD")
        (i: Int) => (Epoch1950Ms + math.round(juld(i) * 86400000.0)) * 1000L
      case n @ ("LONGITUDE" | "LATITUDE") =>
        val a = nc.readDoubles(n); (i: Int) => a(i).toFloat
      case "data_mode" => str(nc.readChars("DATA_MODE").map(_.toChar.toString))
      case "platform_type" => str(charPerProf("PLATFORM_TYPE", ""))
      case "position_qc" => qcHead("POSITION_QC")
      case "juld_qc" => qcHead("JULD_QC")
      case n @ ("PRES" | "TEMP" | "PSAL") => perProf(nc.readDoubles(n))
      case n @ ("PRES_ADJUSTED" | "TEMP_ADJUSTED" | "PSAL_ADJUSTED") =>
        orNull(Option.when(nc.has(n))(nc.readDoubles(n)))
      case "QC" =>
        perProf(qcGrid(Seq("PRES_QC", "TEMP_QC", "PSAL_QC"))
          .getOrElse(Array.fill(nProf * nLev)(1.0)))
      case "QC_ADJUSTED" =>
        orNull(qcGrid(Seq("PRES_ADJUSTED_QC", "TEMP_ADJUSTED_QC", "PSAL_ADJUSTED_QC")))
      case other => throw new IllegalArgumentException(s"unknown column $other")
    }.toArray

    Iterator.tabulate(nProf)(i => new GenericInternalRow(cells.map(_(i))))
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
    * that dominate a GDAC's bytes. Row semantics are [[decode]]'s
    * (ArgoNcV2Spec pins the decoded values, and q75 runs the V2 path under
    * the DuckDB oracle gate). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format("argonc").load(path)

  /** The pre-V2 scan: binaryFile + [[decode]] over whole-file bytes
    * (prunes nothing). Kept as the parity baseline. */
  private[graft] def readV1(spark: SparkSession, path: String): DataFrame =
    decodeFiles(spark.read.format("binaryFile")
      .option("pathGlobFilter", "*_prof.nc")
      .option("recursiveFileLookup", "true")
      .load(path))

  /** Incremental re-ingest (SURVEY.md §2.9): the GDAC as a STREAMING file
    * source — Structured Streaming's file tracker discovers newly landed
    * `_prof.nc` files per micro-batch and each is parsed exactly once, so
    * keeping a profiles table current is `argoStream(...).writeStream` in
    * append mode instead of a full rescan. Same [[decode]] as [[read]]
    * (one file per row, executor-side [[Nc3]]).
    * @param maxFilesPerTrigger bound files per micro-batch (backfill of a
    *                           large GDAC arrives in steady chunks) */
  def readStream(spark: SparkSession, path: String,
                 maxFilesPerTrigger: Int = 1000): DataFrame =
    decodeFiles(spark.readStream.format("binaryFile")
      // streaming sources require the schema up front; binaryFile's is fixed
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY"))
      .option("pathGlobFilter", "*_prof.nc")
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(path))

  /** binaryFile rows (path, content) → every [[ArgoNcV2.Schema]] column. */
  private def decodeFiles(files: DataFrame): DataFrame = {
    import files.sparkSession.implicits._
    // resolved on the driver: the analyzer cannot run inside a task
    val bound = ArgoNcV2.RowEncoder.resolveAndBind()
    val columns = ArgoNcV2.Schema.fieldNames.toSeq
    files.select(col("path"), col("content")).as[(String, Array[Byte])]
      .mapPartitions { it =>
        val toRow = bound.createDeserializer()
        it.flatMap { case (p, b) => decode(p, new Nc3.NcFile(b), columns).map(toRow) }
      }(ArgoNcV2.RowEncoder)
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
