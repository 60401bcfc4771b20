package graft.sources

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{And, DataSourceRegister, EqualNullSafe, EqualTo, Filter, In, IsNotNull, Or}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 GDAC profile scan (`format("argonc")`, behind
  * [[ArgoNetCDF.read]]) — the column-pruning upgrade of the binaryFile
  * path ([[ArgoNetCDF.readV1]]).
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
  * Row semantics are [[ArgoNetCDF.decode]]'s, the same function the
  * binaryFile paths run: this reader only gives it an [[Nc3.NcFile]] whose
  * variable data comes from positioned reads, so the columns a query does
  * not require cost no I/O. A required RECORD variable fails the read with
  * the reader's "is a record variable" message.
  */
object ArgoNcV2 {
  /** Output schema: one row per profile, header fields then the
    * (N_LEVELS) sample arrays. */
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

  /** Row encoder for [[Schema]]: the binaryFile paths map decoded rows
    * through it. */
  val RowEncoder: ExpressionEncoder[Row] = ExpressionEncoder(Schema)

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
    * first, then one positioned read per variable a required column needs. */
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
      val source = new Nc3.Source {
        def length: Long = len
        def read(name: String, pos: Long, n: Int): java.nio.ByteBuffer = {
          val buf = new Array[Byte](n)
          in.readFully(pos, buf, 0, n)
          if (witnessEnabled) readVarsWitness.add(name)
          java.nio.ByteBuffer.wrap(buf)
        }
      }
      try {
        // header probe, grown on demand: Argo headers are a few KB, but a
        // file with a huge attribute block must not defeat the parse
        var probeLen = math.min(len, 64L * 1024).toInt
        var nc: Nc3.NcFile = null
        while (nc == null) {
          val probe = new Array[Byte](probeLen)
          in.readFully(0L, probe, 0, probeLen)
          try nc = new Nc3.NcFile(probe, source)
          catch {
            // NonFatal only: an OOM or interrupt must fail the task, not
            // retry with a 4x larger allocation
            case scala.util.control.NonFatal(_) if probeLen < len =>
              probeLen = math.min(len, probeLen * 4L).toInt
          }
        }
        // decode reads every variable it needs before it returns
        ArgoNetCDF.decode(path, nc, required.fieldNames.toSeq)
      } finally in.close()
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
