package graft.sources

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{And, DataSourceRegister, EqualNullSafe, EqualTo, Filter, In, IsNotNull, Or}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 GDAC profile scan (`format("argonc")`) — the
  * column-pruning upgrade of [[ArgoNetCDF.read]]'s binaryFile path.
  *
  * The binaryFile + typed-mapPartitions scan is correct and distributed,
  * but column pruning and predicate pushdown stop at the parse boundary:
  * every summary-shaped query (header columns only) still reads and
  * parses the full science grids — at 100 TB of GDAC, ~90% of the bytes
  * are (N_PROF, N_LEVELS) grids a header query never looks at. The NC3
  * header makes columnar reads cheap (every fixed variable carries its
  * contiguous `begin`/extent), so this source implements
  * `SupportsPushDownRequiredColumns`: Catalyst hands the scan the
  * required columns, the reader parses only the file HEADER (a bounded
  * probe, grown on demand) plus the byte ranges of the variables those
  * columns need, and everything else is never read off storage.
  *
  * Semantics mirror [[ArgoNetCDF.parseFile]] exactly (ArgoNcV2Spec pins
  * full-schema row parity and schema equality against the binaryFile
  * path): one row per profile, rows exist only when the file has
  * N_PROF/N_LEVELS and the PRES/TEMP/PSAL grids (a HEADER property —
  * checked without reading data), `_ADJUSTED` columns null when absent,
  * QC digits multiplied across variables, dac/WMO from the path. A file
  * whose needed variables include a RECORD variable falls back to a
  * whole-file read through the verbatim parse path (correct, unpruned —
  * GDAC `_prof.nc` fixtures here are fixed-dim).
  */
object ArgoNcV2 {
  /** Output schema — field-for-field the encoder schema of
    * [[ArgoNetCDF.ProfileRow]] (ArgoNcV2Spec asserts equality). */
  val Schema: StructType = {
    def arr(nullable: Boolean) =
      (n: String) => StructField(n, ArrayType(DoubleType, containsNull = false), nullable)
    StructType(Seq(
      StructField("dac", StringType, nullable = true),
      StructField("WMO", IntegerType, nullable = false),
      StructField("IPROF", ShortType, nullable = false),
      StructField("JULD", TimestampType, nullable = true),
      StructField("LONGITUDE", FloatType, nullable = false),
      StructField("LATITUDE", FloatType, nullable = false),
      StructField("data_mode", StringType, nullable = true),
      StructField("platform_type", StringType, nullable = true),
      StructField("position_qc", IntegerType, nullable = false),
      StructField("juld_qc", IntegerType, nullable = false),
      StructField("N_LEVELS", IntegerType, nullable = false)) ++
      Seq("PRES", "TEMP", "PSAL").map(arr(nullable = true)) ++
      Seq("PRES_ADJUSTED", "TEMP_ADJUSTED", "PSAL_ADJUSTED").map(arr(nullable = true)) ++
      Seq(arr(nullable = true)("QC"), arr(nullable = true)("QC_ADJUSTED")))
  }

  /** NC3 variables each output column needs — the pruning map. Columns
    * absent here (dac/WMO/IPROF/N_LEVELS) come from the path and the
    * header dims alone. */
  private[sources] val VarsFor: Map[String, Seq[String]] = Map(
    "JULD" -> Seq("JULD"),
    "LONGITUDE" -> Seq("LONGITUDE"),
    "LATITUDE" -> Seq("LATITUDE"),
    "data_mode" -> Seq("DATA_MODE"),
    "platform_type" -> Seq("PLATFORM_TYPE"),
    "position_qc" -> Seq("POSITION_QC"),
    "juld_qc" -> Seq("JULD_QC"),
    "PRES" -> Seq("PRES"), "TEMP" -> Seq("TEMP"), "PSAL" -> Seq("PSAL"),
    "PRES_ADJUSTED" -> Seq("PRES_ADJUSTED"),
    "TEMP_ADJUSTED" -> Seq("TEMP_ADJUSTED"),
    "PSAL_ADJUSTED" -> Seq("PSAL_ADJUSTED"),
    "QC" -> Seq("PRES_QC", "TEMP_QC", "PSAL_QC"),
    "QC_ADJUSTED" -> Seq("PRES_ADJUSTED_QC", "TEMP_ADJUSTED_QC", "PSAL_ADJUSTED_QC"))

  /** Local-mode pruning witness: every variable the range reader actually
    * reads data bytes for is recorded here, so ArgoNcV2Spec can assert
    * that a header-only projection never touches the science grids —
    * executors share the JVM under local[*], which is exactly where the
    * spec runs. OFF in production (a JVM-lifetime queue appended per
    * (file × variable) would grow without bound on a real scan): the
    * spec flips `witnessEnabled` around its assertions. */
  private[graft] val readVarsWitness = new ConcurrentLinkedQueue[String]()
  /** Same discipline for file OPENS: the filter-pushdown witness — a
    * single-WMO query must open exactly its one file. */
  private[graft] val openedFilesWitness = new ConcurrentLinkedQueue[String]()
  @volatile private[graft] var witnessEnabled = false

  private val Epoch1950Ms = -631152000000L

  /** Guard for the whole-file paths: a JVM byte array caps at ~2³¹, and
    * without this a >2 GiB NC3 file (CDF-2/64-bit-offset allows them)
    * would surface as a bare NegativeArraySizeException from `len.toInt`
    * overflow. The pruned range path handles such files FINE (per-variable
    * ranges are far smaller than the file); only the record-variable
    * fallback needs the full image, so fail it with an actionable message
    * instead of an arithmetic artifact. */
  private[graft] def requireJvmReadable(len: Long, path: String): Unit =
    if (len > Int.MaxValue - 16L)
      throw new UnsupportedOperationException(
        s"$path is $len bytes: the record-variable fallback materializes " +
          "the whole file and a JVM array caps at 2 GiB. Split the file, " +
          "or restructure it with fixed dimensions so the pruned range " +
          "reader (which has no such limit) serves it.")

  /** The session Hadoop configuration entries that DIFFER from a
    * default `Configuration` — the overlay a reader needs to resolve a
    * session-configured filesystem (s3a credentials, custom schemes) on
    * executors. Shipping only the diff keeps the per-task payload small
    * (Spark's own SerializableConfiguration is private[spark]). */
  private def confOverlay(c: Configuration): Map[String, String] = {
    val base = new Configuration()
    c.iterator().asScala
      .map(e => e.getKey -> e.getValue)
      .filter { case (k, v) => base.get(k) != v }
      .toMap
  }
  private def rebuild(overlay: Map[String, String]): Configuration = {
    val c = new Configuration()
    overlay.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** One input partition = a BIN-PACKED group of `_prof.nc` files:
    * MB-scale GDAC files one-per-task would pay per-task overhead the
    * binaryFile path amortizes via maxPartitionBytes, so the planner
    * packs files up to a byte target instead. */
  private final case class NcPartition(paths: Seq[String]) extends InputPartition

  private final class NcScan(files: Seq[(String, Long)], required: StructType,
                             overlay: Map[String, String])
      extends Scan with Batch {
    override def readSchema(): StructType = required
    override def toBatch: Batch = this
    override def planInputPartitions(): Array[InputPartition] = {
      // greedy byte-target packing over the sorted listing, the file
      // source's maxSplitBytes discipline: cap at 128 MB, floor at an
      // even spread over the session's parallelism (a 20-file fixture
      // must not collapse to one task), and bill each file a 4 MB open
      // cost so a million tiny files still pack instead of one-per-task
      val openCost = 4L * 1024 * 1024
      val totalBytes = files.map(_._2 + openCost).sum
      val par = math.max(1,
        org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism)
      val target = math.max(openCost,
        math.min(128L * 1024 * 1024, totalBytes / par + 1))
      val out = scala.collection.mutable.ArrayBuffer[InputPartition]()
      var cur = scala.collection.mutable.ArrayBuffer[String]()
      var acc = 0L
      files.foreach { case (path, len) =>
        if (cur.nonEmpty && acc + len + openCost > target) {
          out += NcPartition(cur.toSeq)
          cur = scala.collection.mutable.ArrayBuffer[String]()
          acc = 0L
        }
        cur += path
        acc += len + openCost
      }
      if (cur.nonEmpty) out += NcPartition(cur.toSeq)
      out.toArray
    }
    override def createReaderFactory(): PartitionReaderFactory =
      new NcReaderFactory(required, overlay)
    override def description(): String =
      s"ArgoNcV2 ReadSchema: ${required.fieldNames.mkString(",")}"
  }

  private final class NcReaderFactory(required: StructType,
                                      overlay: Map[String, String])
      extends PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] =
      new NcReader(p.asInstanceOf[NcPartition].paths, required, overlay)
  }

  /** Range-reading reader over one file group: per file, header probe
    * first, then one seek + contiguous read per NEEDED fixed variable. */
  private final class NcReader(paths: Seq[String], required: StructType,
                               overlay: Map[String, String])
      extends PartitionReader[InternalRow] {
    private val conf = rebuild(overlay)
    private val files = paths.iterator
    private var rows: Iterator[InternalRow] = Iterator.empty
    private var cur: InternalRow = _

    override def next(): Boolean = {
      while (!rows.hasNext && files.hasNext) rows = parse(files.next())
      if (rows.hasNext) { cur = rows.next(); true } else false
    }
    override def get(): InternalRow = cur
    override def close(): Unit = ()

    private def parse(path: String): Iterator[InternalRow] = {
      if (witnessEnabled) openedFilesWitness.add(path)
      val hp = new HPath(path)
      val fs = hp.getFileSystem(conf)
      val len = fs.getFileStatus(hp).getLen
      val in = fs.open(hp)
      try {
        // header probe, grown on demand: Argo headers are a few KB, but a
        // file with a huge attribute block must not defeat the parse
        var probeLen = math.min(len, 64L * 1024).toInt
        var nc: Nc3.NcFile = null
        while (nc == null) {
          val probe = new Array[Byte](probeLen)
          in.readFully(0L, probe, 0, probeLen)
          try nc = new Nc3.NcFile(probe)
          catch {
            // NonFatal only: an OOM or interrupt must fail the task, not
            // retry with a 4x larger allocation
            case scala.util.control.NonFatal(_) if probeLen < len =>
              probeLen = math.min(len, probeLen * 4L).toInt
          }
        }
        val (dac, wmo) = ArgoNetCDF.dacWmoFromPath(path) match {
          case Some(dw) => dw
          case None => return Iterator.empty
        }
        val nProf = nc.dims.find(_.name == "N_PROF").map(_.length).getOrElse(0)
        val nLev = nc.dims.find(_.name == "N_LEVELS").map(_.length).getOrElse(0)
        // row existence mirrors parseFile: dims present AND the science
        // grids DECLARED (a header check — no data bytes read for it)
        if (nProf == 0 || nLev == 0 ||
            !Seq("PRES", "TEMP", "PSAL").forall(nc.has)) return Iterator.empty

        val neededCols = required.fieldNames.toSeq
        val neededVars = neededCols.flatMap(VarsFor.getOrElse(_, Nil))
          .distinct.filter(nc.has)
        if (neededVars.exists(n => nc.variable(n).isRecord)) {
          // record-variable fallback: whole file through the verbatim
          // parse path, then project — correct, just unpruned
          requireJvmReadable(len, path)
          val all = new Array[Byte](len.toInt)
          in.readFully(0L, all, 0, len.toInt)
          return ArgoNetCDF.parseFile(path, all).iterator.map(projectRow)
        }

        // one seek + contiguous read per needed variable (the pruning)
        val data: Map[String, Array[Byte]] = neededVars.map { name =>
          val v = nc.variable(name)
          val dataLen = v.shape.foldLeft(1L)(_ * _) * Nc3.typeSize(v.ncType)
          val buf = new Array[Byte](dataLen.toInt)
          in.readFully(v.begin, buf, 0, dataLen.toInt)
          if (witnessEnabled) readVarsWitness.add(name)
          name -> buf
        }.toMap

        def doubles(name: String): Array[Double] = {
          val v = nc.variable(name)
          val bb = java.nio.ByteBuffer.wrap(data(name))
          val n = v.shape.foldLeft(1L)(_ * _).toInt
          val out = new Array[Double](n)
          var i = 0
          v.ncType match {
            case Nc3.NcByte => while (i < n) { out(i) = bb.get(); i += 1 }
            case Nc3.NcShort => while (i < n) { out(i) = bb.getShort(); i += 1 }
            case Nc3.NcInt => while (i < n) { out(i) = bb.getInt(); i += 1 }
            case Nc3.NcFloat => while (i < n) { out(i) = bb.getFloat(); i += 1 }
            case Nc3.NcDouble => while (i < n) { out(i) = bb.getDouble(); i += 1 }
            case Nc3.NcChar => throw new IllegalArgumentException(s"$name is NC_CHAR")
          }
          out
        }
        def chars(name: String): Array[Byte] = data(name)

        // the parseFile constructions, evaluated LAZILY per needed column
        def charPerProf(name: String, default: String): Array[String] =
          if (nc.has(name)) {
            val v = nc.variable(name)
            if (v.shape.length == 1) chars(name).map(_.toChar.toString)
            else {
              val w = v.shape(1)
              val raw = chars(name)
              Array.tabulate(nProf)(i =>
                new String(raw, i * w, w,
                  java.nio.charset.StandardCharsets.UTF_8).trim)
            }
          } else Array.fill(nProf)(default)
        def qcGrid(names: Seq[String]): Option[Array[Double]] =
          if (!names.forall(nc.has)) None
          else {
            val parts = names.map(n => chars(n)
              .map(c => if (c >= '0' && c <= '9') (c - '0').toDouble else 0.0))
            Some(Array.tabulate(nProf * nLev)(i => parts.map(_(i)).product))
          }
        def sliceArr(a: Array[Double], i: Int): ArrayData =
          ArrayData.toArrayData(java.util.Arrays.copyOfRange(a, i * nLev, (i + 1) * nLev))
        def qcHead(a: Array[String], i: Int): Int =
          a(i).headOption.filter(_.isDigit).map(_ - '0').getOrElse(0)

        // per-column cell producers, built once per file (absent optional
        // variables resolve to null producers, matching parseFile's None)
        val producers: Array[Int => Any] = neededCols.map {
          case "dac" => (_: Int) => UTF8String.fromString(dac)
          case "WMO" => (_: Int) => wmo
          case "IPROF" => (i: Int) => i.toShort
          case "N_LEVELS" => (_: Int) => nLev
          case "JULD" =>
            val juld = doubles("JULD")
            (i: Int) => Epoch1950Ms * 1000L + math.round(juld(i) * 86400000.0) * 1000L
          case "LONGITUDE" =>
            val lon = doubles("LONGITUDE"); (i: Int) => lon(i).toFloat
          case "LATITUDE" =>
            val lat = doubles("LATITUDE"); (i: Int) => lat(i).toFloat
          case "data_mode" =>
            val dm = chars("DATA_MODE").map(_.toChar.toString)
            (i: Int) => UTF8String.fromString(dm(i))
          case "platform_type" =>
            val p = charPerProf("PLATFORM_TYPE", "")
            (i: Int) => UTF8String.fromString(p(i))
          case "position_qc" =>
            val p = charPerProf("POSITION_QC", "1"); (i: Int) => qcHead(p, i)
          case "juld_qc" =>
            val p = charPerProf("JULD_QC", "1"); (i: Int) => qcHead(p, i)
          case n @ ("PRES" | "TEMP" | "PSAL") =>
            val a = doubles(n); (i: Int) => sliceArr(a, i)
          case n @ ("PRES_ADJUSTED" | "TEMP_ADJUSTED" | "PSAL_ADJUSTED") =>
            if (nc.has(n)) { val a = doubles(n); (i: Int) => sliceArr(a, i) }
            else (_: Int) => null
          case "QC" =>
            val a = qcGrid(Seq("PRES_QC", "TEMP_QC", "PSAL_QC"))
              .getOrElse(Array.fill(nProf * nLev)(1.0))
            (i: Int) => sliceArr(a, i)
          case "QC_ADJUSTED" =>
            qcGrid(Seq("PRES_ADJUSTED_QC", "TEMP_ADJUSTED_QC",
              "PSAL_ADJUSTED_QC")) match {
              case Some(a) => (i: Int) => sliceArr(a, i)
              case None => (_: Int) => null
            }
          case other => throw new IllegalArgumentException(s"unknown column $other")
        }.toArray

        (0 until nProf).iterator.map { i =>
          new GenericInternalRow(producers.map(_(i)).asInstanceOf[Array[Any]])
        }
      } finally in.close()
    }

    /** Record-fallback projection: a full [[ArgoNetCDF.ProfileRow]] down
      * to the required columns as an InternalRow. */
    private def projectRow(r: ArgoNetCDF.ProfileRow): InternalRow = {
      def arr(a: Seq[Double]): ArrayData = ArrayData.toArrayData(a.toArray)
      val cells: Array[Any] = required.fieldNames.map {
        case "dac" => UTF8String.fromString(r.dac)
        case "WMO" => r.WMO
        case "IPROF" => r.IPROF
        case "JULD" => r.JULD.getTime * 1000L
        case "LONGITUDE" => r.LONGITUDE
        case "LATITUDE" => r.LATITUDE
        case "data_mode" => UTF8String.fromString(r.data_mode)
        case "platform_type" => UTF8String.fromString(r.platform_type)
        case "position_qc" => r.position_qc
        case "juld_qc" => r.juld_qc
        case "N_LEVELS" => r.N_LEVELS
        case "PRES" => arr(r.PRES)
        case "TEMP" => arr(r.TEMP)
        case "PSAL" => arr(r.PSAL)
        case "PRES_ADJUSTED" => r.PRES_ADJUSTED.map(arr).orNull
        case "TEMP_ADJUSTED" => r.TEMP_ADJUSTED.map(arr).orNull
        case "PSAL_ADJUSTED" => r.PSAL_ADJUSTED.map(arr).orNull
        case "QC" => arr(r.QC)
        case "QC_ADJUSTED" => r.QC_ADJUSTED.map(arr).orNull
        case other => throw new IllegalArgumentException(s"unknown column $other")
      }.toArray
      new GenericInternalRow(cells)
    }
  }

  /** File-level predicate pushdown: dac and WMO are fully determined by
    * the PATH ([[ArgoNetCDF.dacWmoFromPath]]), so an equality/IN filter
    * on them — the reference's own per-float access pattern
    * (`interpolation.py:106,154`) — prunes the driver-side FILE LIST
    * before partition planning: a single-WMO query opens one file instead
    * of header-probing the whole GDAC. Evaluation is exact on the path
    * pair, and every filter is still RETURNED as residual so Spark
    * re-applies it post-scan — the prune is an I/O optimization,
    * correctness never depends on it (the Parquet source's discipline). */
  private[graft] def evalPathFilter(f: Filter, dac: String, wmo: Int): Boolean =
    f match {
      case EqualTo("WMO", v: Number)       => wmo == v.intValue
      case EqualNullSafe("WMO", v: Number) => wmo == v.intValue
      case EqualTo("dac", v)               => dac == String.valueOf(v)
      case EqualNullSafe("dac", v)         => dac == String.valueOf(v)
      case In("WMO", vs) =>
        vs.exists { case v: Number => wmo == v.intValue; case _ => false }
      case In("dac", vs) => vs.exists(v => dac == String.valueOf(v))
      case IsNotNull("WMO") | IsNotNull("dac") => true // path-derived: never null
      case And(l, r) => evalPathFilter(l, dac, wmo) && evalPathFilter(r, dac, wmo)
      case Or(l, r)  => evalPathFilter(l, dac, wmo) || evalPathFilter(r, dac, wmo)
      case _ => true // not a path predicate: cannot prune on it
    }

  /** Does the prune understand every leaf of this filter? (An Or with an
    * un-understood side must not prune at all — `evalPathFilter`'s `true`
    * default is only safe under And.) */
  private def prunable(f: Filter): Boolean = f match {
    case EqualTo("WMO", _: Number) | EqualNullSafe("WMO", _: Number) => true
    case EqualTo("dac", _) | EqualNullSafe("dac", _)                 => true
    case In("WMO", _) | In("dac", _)                                 => true
    case IsNotNull("WMO") | IsNotNull("dac")                         => true
    case And(l, r) => prunable(l) && prunable(r)
    case Or(l, r)  => prunable(l) && prunable(r)
    case _ => false
  }

  private final class NcScanBuilder(files: Seq[(String, Long)],
                                    overlay: Map[String, String])
      extends ScanBuilder with SupportsPushDownRequiredColumns
      with SupportsPushDownFilters {
    private var required: StructType = Schema
    private var pushed: Array[Filter] = Array.empty
    override def pruneColumns(requiredSchema: StructType): Unit =
      // Catalyst hands a subset of Schema (possibly reordered); empty
      // projections (bare count) keep zero columns — rows still emit
      required = requiredSchema
    override def pushFilters(filters: Array[Filter]): Array[Filter] = {
      pushed = filters.filter(prunable)
      filters // ALL filters stay residual; the prune is I/O-only
    }
    override def pushedFilters(): Array[Filter] = pushed
    override def build(): Scan = {
      val pruned = if (pushed.isEmpty) files
      else files.filter { case (path, _) =>
        ArgoNetCDF.dacWmoFromPath(path) match {
          case Some((dac, wmo)) => pushed.forall(evalPathFilter(_, dac, wmo))
          // an unparseable path emits no rows anyway — with a dac/WMO
          // predicate present it can never match, so skip the open
          case None => false
        }
      }
      new NcScan(pruned, required, overlay)
    }
  }

  private final class NcTable(root: String) extends Table with SupportsRead {
    override def name(): String = s"argonc($root)"
    override def schema(): StructType = Schema
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
      // driver-side listing with the SESSION's Hadoop configuration,
      // whose non-default overlay then travels with the scan so
      // executors resolve the same filesystem the driver listed
      val hconf = org.apache.spark.sql.SparkSession.active
        .sessionState.newHadoopConf()
      val hp = new HPath(root)
      val fs = hp.getFileSystem(hconf)
      val files = scala.collection.mutable.ArrayBuffer[(String, Long)]()
      // glob expansion first (parity with binaryFile's .load(glob) —
      // "/gdac/{aoml,coriolis}" must keep working on the V2 default),
      // then a recursive walk under each expanded root
      val roots =
        if (root.exists("{}[]*?".contains(_)))
          Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Seq.empty)
            .map(_.getPath)
        else Seq(hp)
      roots.foreach { r =>
        val it = fs.listFiles(r, true)
        while (it.hasNext) {
          val f = it.next()
          if (f.isFile && f.getPath.getName.endsWith("_prof.nc"))
            // full URI string, scheme and authority included:
            // toUri.getPath would strip "s3a://bucket" and the reader
            // would resolve the bare path against the DEFAULT filesystem
            files += ((f.getPath.toString, f.getLen))
        }
      }
      new NcScanBuilder(files.sortBy(_._1).toSeq, confOverlay(hconf))
    }
  }
}

/** The `format("argonc")` provider (registered via
  * META-INF/services/org.apache.spark.sql.sources.DataSourceRegister). */
final class ArgoNcV2 extends TableProvider with DataSourceRegister {
  override def shortName(): String = "argonc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ArgoNcV2.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("argonc requires a single path"))
    new ArgoNcV2.NcTable(path)
  }
}
