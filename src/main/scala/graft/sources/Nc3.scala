package graft.sources

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

/** NetCDF-3 "classic" container format, pure Scala, from the public file
  * format specification (the CDL/CDF-1 and CDF-2 layouts published in the
  * NetCDF User's Guide appendix: big-endian header of dim/gatt/var lists,
  * then 4-byte-aligned fixed variable slabs, then record blocks).
  *
  * This is S2's wire format: the reference's only real input path is the
  * GDAC's `<dac>/<wmo>/<wmo>_prof.nc` files (toctools.py:117-118,
  * interpolation.py:182-197 via xarray), and its atlas sink writes NetCDF
  * too (atlas.py:611-636). Implementing the classic format directly — no
  * native library exists for the JVM classpath here — gives the engine a
  * self-contained reader for executors ([[ArgoNetCDF]]) and a writer for
  * the atlas export ([[graft.argo.AtlasSink]].writeNetcdf).
  *
  * Scope: CDF-1 and CDF-2 (64-bit offset) headers, all six classic types,
  * fixed-size AND record (unlimited-dimension) variables, read and write.
  * Record slabs interleave per record in variable order, each padded to 4
  * bytes except when there is exactly one record variable (the spec's
  * special case) — that is how the Argo `_prof.nc` HISTORY block is laid
  * out. Reads parse the header from bytes in memory and take variable data
  * from a [[Nc3.Source]]: the whole file, or positioned reads on an open
  * stream. The in-memory writer caps one file at 2 GiB, and
  * [[writeStreaming]] lifts that cap (CDF-2 offsets) by serializing one
  * variable at a time — the atlas sink streams through it. NetCDF-4/HDF5
  * is out of scope (the GDAC distributes classic).
  */
object Nc3 {
  val NcByte = 1; val NcChar = 2; val NcShort = 3
  val NcInt = 4; val NcFloat = 5; val NcDouble = 6

  private val TagDimension = 0x0A
  private val TagVariable = 0x0B
  private val TagAttribute = 0x0C

  def typeSize(t: Int): Int = t match {
    case NcByte | NcChar => 1
    case NcShort => 2
    case NcInt | NcFloat => 4
    case NcDouble => 8
    case _ => throw new IllegalArgumentException(s"bad nc_type $t")
  }

  private def pad4(n: Long): Long = (n + 3L) & ~3L

  final case class Dim(name: String, length: Int) {
    def isRecord: Boolean = length == 0
  }

  /** Attribute value: a String (NC_CHAR) or an Array of a numeric type. */
  final case class Att(name: String, ncType: Int, value: Any)

  final class Var(
      val name: String,
      val dimIds: Array[Int],
      val atts: Seq[Att],
      val ncType: Int,
      val vsize: Long,
      val begin: Long,
      val shape: Array[Int],
      val isRecord: Boolean)

  // ---- reader -------------------------------------------------------------

  /** Where an [[NcFile]]'s variable data comes from: the whole file in
    * memory ([[ArraySource]]), or positioned reads on an open stream (the
    * pruned GDAC scan reads only the variables a query needs). */
  trait Source {
    /** File length in bytes: resolves the streaming numrecs sentinel. */
    def length: Long
    /** The `len` bytes at file offset `pos`, which belong to variable
      * `name`, as a big-endian buffer positioned at the first of them. */
    def read(name: String, pos: Long, len: Int): ByteBuffer
  }

  private final class ArraySource(bytes: Array[Byte]) extends Source {
    def length: Long = bytes.length.toLong
    def read(name: String, pos: Long, len: Int): ByteBuffer =
      ByteBuffer.wrap(bytes, pos.toInt, len)
  }

  /** A classic file: the header is parsed from `header` (the whole file, or
    * a prefix that holds the header), variable data is read from `data`. */
  final class NcFile(header: Array[Byte], data: Source) {
    def this(bytes: Array[Byte]) = this(bytes, new ArraySource(bytes))

    private val bb = ByteBuffer.wrap(header) // big-endian by default

    require(bb.get() == 'C'.toByte && bb.get() == 'D'.toByte &&
      bb.get() == 'F'.toByte, "not a NetCDF classic file (bad magic)")
    val version: Int = bb.get().toInt
    require(version == 1 || version == 2,
      s"unsupported NetCDF version byte $version (classic CDF-1/2 only)")

    // May be the STREAMING sentinel 0xFFFFFFFF (numrecs unknown at write
    // time); the actual count is derived from the file length below, after
    // the record stride is known — use [[numRecs]], never this.
    private val numRecsRaw: Int = bb.getInt()

    private def readName(): String = {
      val n = bb.getInt()
      val b = new Array[Byte](n)
      bb.get(b)
      bb.position((pad4(bb.position().toLong) ).toInt)
      new String(b, StandardCharsets.UTF_8)
    }

    private def readTagList(expected: Int): Int = {
      val tag = bb.getInt()
      val n = bb.getInt()
      require((tag == expected && n >= 0) || (tag == 0 && n == 0),
        s"bad tag list: tag=$tag n=$n expected=$expected")
      n
    }

    private def readAtts(): Seq[Att] =
      (0 until readTagList(TagAttribute)).map { _ =>
        val name = readName()
        val t = bb.getInt()
        val n = bb.getInt()
        val value: Any = t match {
          case NcChar =>
            val b = new Array[Byte](n)
            bb.get(b)
            new String(b, StandardCharsets.UTF_8)
          case NcByte => Array.fill(n)(bb.get())
          case NcShort => Array.fill(n)(bb.getShort())
          case NcInt => Array.fill(n)(bb.getInt())
          case NcFloat => Array.fill(n)(bb.getFloat())
          case NcDouble => Array.fill(n)(bb.getDouble())
          case other => throw new IllegalArgumentException(
            s"attribute $name has bad nc_type $other (corrupt header?)")
        }
        bb.position(pad4(bb.position().toLong).toInt)
        Att(name, t, value)
      }

    val dims: IndexedSeq[Dim] =
      (0 until readTagList(TagDimension)).map { _ =>
        Dim(readName(), bb.getInt())
      }

    val gatts: Seq[Att] = readAtts()

    val vars: IndexedSeq[Var] =
      (0 until readTagList(TagVariable)).map { _ =>
        val name = readName()
        val nd = bb.getInt()
        val dimIds = Array.fill(nd)(bb.getInt())
        val atts = readAtts()
        val t = bb.getInt()
        val vsize = bb.getInt().toLong & 0xffffffffL
        val begin = if (version == 2) bb.getLong()
          else bb.getInt().toLong & 0xffffffffL
        val isRec = dimIds.nonEmpty && dims(dimIds(0)).isRecord
        // record-dim extent is patched to the resolved numRecs below
        val shape = dimIds.map(i =>
          if (dims(i).isRecord) numRecsRaw else dims(i).length)
        new Var(name, dimIds, atts, t, vsize, begin, shape, isRec)
      }

    private val byName: Map[String, Var] = vars.map(v => v.name -> v).toMap

    /** Bytes one record advances the file position by: Σ padded per-record
      * slabs over the record variables — except a SINGLE record variable,
      * which the spec packs unpadded. Computed from shapes, not the header
      * vsize field (some writers disagree on the special case). */
    val recSize: Long = {
      val rv = vars.filter(_.isRecord)
      def slab(v: Var): Long =
        v.shape.drop(1).foldLeft(1L)(_ * _) * typeSize(v.ncType)
      if (rv.length == 1) slab(rv.head) else rv.map(v => pad4(slab(v))).sum
    }

    /** Record count. A STREAMING-mode writer stores 0xFFFFFFFF and readers
      * must derive the count from the bytes past the first record's start
      * (the spec's rule); negative-size allocations otherwise. */
    val numRecs: Int =
      if (numRecsRaw >= 0) numRecsRaw
      else {
        val rv = vars.filter(_.isRecord)
        if (rv.isEmpty || recSize == 0L) 0
        else ((data.length - rv.map(_.begin).min) / recSize).toInt
      }
    // patch the record-dim extent now that the count is resolved
    if (numRecs != numRecsRaw)
      vars.filter(_.isRecord).foreach(v => v.shape(0) = numRecs)

    def has(name: String): Boolean = byName.contains(name)
    def variable(name: String): Var =
      byName.getOrElse(name, throw new NoSuchElementException(
        s"no variable $name (have ${vars.map(_.name).mkString(", ")})"))
    def gatt(name: String): Option[Any] =
      gatts.find(_.name == name).map(_.value)

    /** Fixed variable → flattened row-major numeric array (widened to
      * Double; NC_CHAR refused — use [[readChars]]). */
    def readDoubles(name: String): Array[Double] = {
      val v = fixed(name)
      require(v.ncType != NcChar, s"$name is NC_CHAR; use readChars")
      val n = v.shape.foldLeft(1L)(_ * _).toInt
      val out = new Array[Double](n)
      widen(v, data.read(name, v.begin, n * typeSize(v.ncType)), out, 0, n)
      out
    }

    /** Fixed NC_CHAR variable → raw bytes, row-major. */
    def readChars(name: String): Array[Byte] = {
      val v = fixed(name)
      require(v.ncType == NcChar, s"$name is not NC_CHAR")
      val n = v.shape.foldLeft(1L)(_ * _).toInt
      val out = new Array[Byte](n)
      data.read(name, v.begin, n).get(out)
      out
    }

    /** `n` values of `v`'s numeric type from `src` into `out` at `at`. */
    private def widen(v: Var, src: ByteBuffer, out: Array[Double],
                      at: Int, n: Int): Unit = {
      var i = at
      val end = at + n
      v.ncType match {
        case NcByte => while (i < end) { out(i) = src.get(); i += 1 }
        case NcShort => while (i < end) { out(i) = src.getShort(); i += 1 }
        case NcInt => while (i < end) { out(i) = src.getInt(); i += 1 }
        case NcFloat => while (i < end) { out(i) = src.getFloat(); i += 1 }
        case NcDouble => while (i < end) { out(i) = src.getDouble(); i += 1 }
      }
    }

    private def fixed(name: String): Var = {
      val v = variable(name)
      require(!v.isRecord,
        s"$name is a record variable; use readDoublesRec/readCharsRec")
      v
    }

    /** Record variable → flattened row-major numeric array across ALL
      * records (record dim outermost, numRecs × per-record shape), widened
      * to Double. The per-record slabs are strided by [[recSize]]. */
    def readDoublesRec(name: String): Array[Double] = {
      val v = record(name)
      require(v.ncType != NcChar, s"$name is NC_CHAR; use readCharsRec")
      val per = v.shape.drop(1).foldLeft(1L)(_ * _).toInt
      val out = new Array[Double](numRecs * per)
      var r = 0
      while (r < numRecs) {
        widen(v, data.read(name, v.begin + r * recSize, per * typeSize(v.ncType)),
          out, r * per, per)
        r += 1
      }
      out
    }

    /** Record NC_CHAR variable → raw bytes across all records, row-major
      * (the Argo HISTORY block's layout). */
    def readCharsRec(name: String): Array[Byte] = {
      val v = record(name)
      require(v.ncType == NcChar, s"$name is not NC_CHAR")
      val per = v.shape.drop(1).foldLeft(1L)(_ * _).toInt
      val out = new Array[Byte](numRecs * per)
      var r = 0
      while (r < numRecs) {
        data.read(name, v.begin + r * recSize, per).get(out, r * per, per)
        r += 1
      }
      out
    }

    private def record(name: String): Var = {
      val v = variable(name)
      require(v.isRecord, s"$name is a fixed variable; use readDoubles/readChars")
      v
    }
  }

  // ---- writer -------------------------------------------------------------

  /** Variable declaration without its data — enough to lay the whole file
    * out (header, vsize, begin offsets), which is what lets the streaming
    * writer serialize variable-by-variable. */
  final case class VarDecl(name: String, dimNames: Seq[String],
                           atts: Seq[Att], ncType: Int)

  /** One variable to write: `data` is an Array of the JVM type matching
    * `ncType` (NC_CHAR = Array[Byte]). Fixed variable: length = dim
    * product. Record variable (first dim is the record dim): length =
    * numRecs × per-record dim product, record-major. */
  final case class VarSpec(name: String, dimNames: Seq[String],
                           atts: Seq[Att], ncType: Int, data: AnyRef) {
    def decl: VarDecl = VarDecl(name, dimNames, atts, ncType)
  }

  /** File layout from declarations alone: header bytes, per-variable vsize
    * and begin offsets, total size. Shared by the in-memory and streaming
    * writers so the two can never disagree on the format. */
  private final class Layout(dims: Seq[Dim], gatts: Seq[Att],
                             decls: Seq[VarDecl], version: Int, numRecs: Int) {
    require(version == 1 || version == 2, s"bad CDF version $version")
    require(dims.count(_.isRecord) <= 1, "at most one record dimension")
    private val dimIdx = dims.map(_.name).zipWithIndex.toMap

    private def nameLen(s: String) = 4 + pad4(s.getBytes(StandardCharsets.UTF_8).length.toLong)
    private def attLen(a: Att): Long = {
      val n = a.value match {
        case s: String => s.getBytes(StandardCharsets.UTF_8).length
        case arr: Array[_] => arr.length
      }
      nameLen(a.name) + 8 + pad4(n.toLong * typeSize(a.ncType))
    }
    private def attListLen(as: Seq[Att]): Long = 8 + as.map(attLen).sum

    def isRec(v: VarDecl): Boolean =
      v.dimNames.nonEmpty && dims(dimIdx(v.dimNames.head)).isRecord
    // the spec requires the unlimited dim to be OUTERMOST; a record dim in
    // any later position would be written as a fixed slab while the header
    // declares the record shape — a silently corrupt file. Fail fast.
    decls.foreach { v =>
      require(!v.dimNames.drop(1).exists(d => dims(dimIdx(d)).isRecord),
        s"variable ${v.name}: the record dimension must be the first dimension")
    }
    // per-record slab for record vars, full slab for fixed vars
    def slabOf(v: VarDecl): Long =
      v.dimNames.filterNot(d => dims(dimIdx(d)).isRecord)
        .map(d => dims(dimIdx(d)).length.toLong).product * typeSize(v.ncType)
    val recVars: Seq[VarDecl] = decls.filter(isRec)
    // the spec's single-record-variable special case: unpadded stride
    val recSize: Long =
      if (recVars.length == 1) slabOf(recVars.head)
      else recVars.map(v => pad4(slabOf(v))).sum
    def vsizeOf(v: VarDecl): Long =
      if (isRec(v) && recVars.length == 1) slabOf(v) else pad4(slabOf(v))
    // the header's vsize field is a 32-bit int in BOTH classic variants
    // (CDF-2 widens only the begin offsets) — a larger variable would
    // silently truncate in putInt and corrupt external readers
    decls.foreach { v =>
      require(vsizeOf(v) <= Int.MaxValue,
        s"variable ${v.name}: ${vsizeOf(v)} B exceeds the classic-format " +
          "per-variable limit — split the variable (e.g. per-level slabs)")
    }

    private val beginBytes = if (version == 2) 8 else 4
    val headerLen: Long = 4 + 4 + // magic + numrecs
      8 + dims.map(d => nameLen(d.name) + 4).sum + // dim list
      attListLen(gatts) +
      8 + decls.map(v => nameLen(v.name) + 4 + 4L * v.dimNames.length +
        attListLen(v.atts) + 4 + 4 + beginBytes).sum

    // fixed variables first (file order), then the record block
    val fixedVars: Seq[VarDecl] = decls.filterNot(isRec)
    private val fixedBegins =
      fixedVars.scanLeft(pad4(headerLen))((off, v) => off + vsizeOf(v))
    val recStart: Long = fixedBegins.last
    private val recOffsets = recVars.scanLeft(0L)((off, v) => off + vsizeOf(v))
    val beginOf: Map[String, Long] =
      (fixedVars.map(_.name) zip fixedBegins).toMap ++
        (recVars.map(_.name) zip recOffsets.map(recStart + _)).toMap
    val total: Long = recStart + numRecs.toLong * recSize

    /** The serialized header, zero-padded out to the first variable's
      * begin offset (pad4(headerLen)). */
    def headerBytes(): Array[Byte] = {
      val bb = ByteBuffer.allocate(pad4(headerLen).toInt)
      def putName(s: String): Unit = {
        val b = s.getBytes(StandardCharsets.UTF_8)
        bb.putInt(b.length)
        bb.put(b)
        while ((bb.position() & 3) != 0) bb.put(0.toByte)
      }
      def putAttValue(value: Any): Unit = {
        value match {
          case s: String => bb.put(s.getBytes(StandardCharsets.UTF_8))
          case a: Array[Byte] => bb.put(a)
          case a: Array[Short] => a.foreach(bb.putShort)
          case a: Array[Int] => a.foreach(bb.putInt)
          case a: Array[Float] => a.foreach(bb.putFloat)
          case a: Array[Double] => a.foreach(bb.putDouble)
        }
        while ((bb.position() & 3) != 0) bb.put(0.toByte)
      }
      def putAttList(as: Seq[Att]): Unit = {
        bb.putInt(if (as.isEmpty) 0 else TagAttribute)
        bb.putInt(as.length)
        as.foreach { a =>
          putName(a.name)
          bb.putInt(a.ncType)
          val n = a.value match {
            case s: String => s.getBytes(StandardCharsets.UTF_8).length
            case arr: Array[_] => arr.length
          }
          bb.putInt(n)
          putAttValue(a.value)
        }
      }
      bb.put('C'.toByte).put('D'.toByte).put('F'.toByte).put(version.toByte)
      bb.putInt(numRecs)
      bb.putInt(if (dims.isEmpty) 0 else TagDimension)
      bb.putInt(dims.length)
      dims.foreach { d => putName(d.name); bb.putInt(d.length) }
      putAttList(gatts)
      bb.putInt(if (decls.isEmpty) 0 else TagVariable)
      bb.putInt(decls.length)
      decls.foreach { v =>
        putName(v.name)
        bb.putInt(v.dimNames.length)
        v.dimNames.foreach(d => bb.putInt(dimIdx(d)))
        putAttList(v.atts)
        bb.putInt(v.ncType)
        bb.putInt(vsizeOf(v).toInt)
        if (version == 2) bb.putLong(beginOf(v.name)) else bb.putInt(beginOf(v.name).toInt)
      }
      bb.array()
    }
  }

  private def sliceInto(bb: ByteBuffer, data: AnyRef, from: Int, count: Int): Unit =
    data match {
      case a: Array[Byte] => bb.put(a, from, count)
      case a: Array[Short] => (from until from + count).foreach(i => bb.putShort(a(i)))
      case a: Array[Int] => (from until from + count).foreach(i => bb.putInt(a(i)))
      case a: Array[Float] => (from until from + count).foreach(i => bb.putFloat(a(i)))
      case a: Array[Double] => (from until from + count).foreach(i => bb.putDouble(a(i)))
    }

  /** Serialize a classic file in memory.
    * @param version 1 = CDF-1 (32-bit offsets), 2 = CDF-2 (64-bit offsets,
    *                the classic large-file format)
    * @param numRecs record count for variables on the record dim (a dim
    *                with length 0). In-memory writer: one file ≤ 2 GiB —
    *                shard across files, or use [[writeStreaming]], before
    *                that (CDF-2 raises the FORMAT's per-variable limit;
    *                the 2 GiB cap here is the byte-array backing). */
  def write(dims: Seq[Dim], gatts: Seq[Att], vars: Seq[VarSpec],
            version: Int = 1, numRecs: Int = 0): Array[Byte] = {
    val lay = new Layout(dims, gatts, vars.map(_.decl), version, numRecs)
    // a mismatched array would silently overflow into the next variable's
    // slab (or read back zero padding as data) — fail fast instead
    vars.foreach { v =>
      val per = lay.slabOf(v.decl) / typeSize(v.ncType)
      val want = if (lay.isRec(v.decl)) per * numRecs else per
      val got = v.data match { case a: Array[_] => a.length.toLong }
      require(got == want,
        s"variable ${v.name}: data length $got != expected $want")
    }
    require(lay.total <= Int.MaxValue,
      "in-memory writer limited to one <2 GiB file — shard across files " +
        "or use writeStreaming")
    val bb = ByteBuffer.allocate(lay.total.toInt)
    bb.put(lay.headerBytes())
    val byName = vars.map(v => v.name -> v).toMap
    lay.fixedVars.foreach { d =>
      bb.position(lay.beginOf(d.name).toInt)
      sliceInto(bb, byName(d.name).data, 0, lay.slabOf(d).toInt / typeSize(d.ncType))
    }
    // record block: records outermost, per-record slabs in variable order
    var r = 0
    while (r < numRecs) {
      lay.recVars.foreach { d =>
        val per = (lay.slabOf(d) / typeSize(d.ncType)).toInt
        bb.position((lay.beginOf(d.name) + r * lay.recSize).toInt)
        sliceInto(bb, byName(d.name).data, r * per, per)
      }
      r += 1
    }
    bb.array()
  }

  /** Stream a classic file variable-by-variable: the layout comes from the
    * declarations alone, then each fixed variable's data is `fetch`ed,
    * serialized through a bounded chunk buffer, and dropped before the
    * next one is materialized. Peak memory = ONE variable's array + an
    * 8 MB chunk — NOT #vars × grid + a whole-file buffer, which is what
    * the in-memory [[write]] costs and what breaks a driver exporting a
    * global atlas (a 1/4°×64-level grid is ~0.25 GB PER variable).
    * Fixed-size variables only (record slabs interleave per record, so
    * they cannot be fetched one variable at a time). File size is
    * unbounded with version 2 (64-bit offsets). */
  def writeStreaming(os: java.io.OutputStream, dims: Seq[Dim],
                     gatts: Seq[Att], decls: Seq[VarDecl],
                     version: Int = 1)(fetch: VarDecl => AnyRef): Unit = {
    val lay = new Layout(dims, gatts, decls, version, numRecs = 0)
    require(lay.recVars.isEmpty,
      "writeStreaming supports fixed-size variables only")
    require(version == 2 || lay.total <= Int.MaxValue,
      "CDF-1 offsets are 32-bit — use version = 2 past 2 GiB")
    os.write(lay.headerBytes())
    val chunk = ByteBuffer.allocate(8 << 20)
    def flush(): Unit = { os.write(chunk.array(), 0, chunk.position()); chunk.clear() }
    lay.fixedVars.foreach { d =>
      val data = fetch(d)
      val elems = (lay.slabOf(d) / typeSize(d.ncType)).toInt
      val got = data match { case a: Array[_] => a.length }
      require(got == elems,
        s"variable ${d.name}: data length $got != expected $elems")
      val elemSize = typeSize(d.ncType)
      val perChunk = chunk.capacity() / elemSize
      var from = 0
      while (from < elems) {
        val n = math.min(perChunk, elems - from)
        sliceInto(chunk, data, from, n)
        flush()
        from += n
      }
      // slab padding out to the next variable's begin offset
      var pad = (lay.vsizeOf(d) - lay.slabOf(d)).toInt
      while (pad > 0) { chunk.put(0.toByte); pad -= 1 }
      flush()
    }
  }
}
