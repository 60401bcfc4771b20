package perfbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded synthetic Argo GDAC tree: `<dac>/<wmo>/<wmo>_prof.nc`, one
  * classic (CDF-1) NetCDF file per float with NC_FLOAT science grids.
  *
  * Every profile has its own number of irregular pressure levels, padded
  * to the file's N_LEVELS with fill values and blank QC, as real `_prof.nc`
  * files are. Floats carry `*_ADJUSTED` twins; every fourth one ends
  * in real-time (R-mode) profiles, whose adjusted values are fill. A fixed
  * share of profiles is built to fail the engine's gates, one edge case
  * each:
  *
  *  - `Short`: 4 levels, under the 5-sample QC gate;
  *  - `BadQc`: every PSAL_QC is '4', so no sample is QC-good;
  *  - `DeepInversion`: the deepest sample is shallower than the one above
  *    it, which fails the contiguity gate;
  *  - `BadPosition`: POSITION_QC '4', so the profile's FLAG is not 1 and
  *    interpolation skips it.
  *
  * `Swapped` profiles exchange two mid-column samples: unsorted, yet they
  * pass every gate. The expected counts follow from the kinds alone, so a
  * run checks the engine against the generator, not against itself.
  *
  * The same seed gives byte-identical files; the writer below is the
  * benchmark's own, so the inputs do not move when the engine's NetCDF
  * code does.
  */
object Gdac {
  sealed trait Kind
  case object Normal extends Kind
  case object Swapped extends Kind
  case object Short extends Kind
  case object BadQc extends Kind
  case object DeepInversion extends Kind
  case object BadPosition extends Kind

  /** Profiles the interpolation gates accept. */
  def isValid(k: Kind): Boolean = k == Normal || k == Swapped

  /** Profiles interpolation sees at all (FLAG == 1). */
  def isFlagged(k: Kind): Boolean = k != BadPosition

  final case class Box(lon1: Double, lon2: Double, lat1: Double, lat2: Double)

  final case class Spec(profiles: Int, box: Box, minLevels: Int, maxLevels: Int,
                        profilesPerFloat: Int = 40)

  final case class Profile(kind: Kind, mode: Char, juld: Double,
                           lon: Double, lat: Double, pres: Array[Float])

  final case class FloatFile(dac: String, wmo: Int, platform: String,
                             profiles: IndexedSeq[Profile]) {
    def relPath: String = s"$dac/$wmo/${wmo}_prof.nc"
  }

  /** What a tree holds, for the output checks and the run facts. */
  final case class Counts(files: Int, profiles: Long, flagged: Long, valid: Long,
                          delayed: Long, bytes: Long)

  private val Dacs = Seq("aoml", "coriolis", "csiro", "jma", "bodc", "incois")
  private val Platforms = Seq("APEX", "ARVOR", "SOLO_II", "NAVIS_A", "PROVOR_III")
  val FillValue = 99999.0f

  private def mix(seed: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + salt
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def kindOf(r: SplittableRandom): Kind = {
    val u = r.nextInt(100)
    if (u < 2) Short else if (u < 4) BadQc else if (u < 6) DeepInversion
    else if (u < 8) BadPosition else if (u < 13) Swapped else Normal
  }

  private def pressures(r: SplittableRandom, kind: Kind, spec: Spec): Array[Float] = {
    val n = if (kind == Short) 4
      else spec.minLevels + r.nextInt(spec.maxLevels - spec.minLevels + 1)
    // irregular spacing from the surface to ~2000 dbar, finer near the top
    val top = 3.0 + 4.0 * r.nextDouble()
    val bottom = 1950.0 + 100.0 * r.nextDouble()
    val p = Array.tabulate(n) { i =>
      val x = i.toDouble / (n - 1)
      val jitter = if (i == 0 || i == n - 1) 0.0 else (r.nextDouble() - 0.5) * 0.4 / n
      (top + (bottom - top) * math.pow(x + jitter, 1.6)).toFloat
    }
    kind match {
      case Swapped =>
        val i = n / 3; val t = p(i); p(i) = p(i + 1); p(i + 1) = t
      case DeepInversion =>
        p(n - 1) = (p(n - 2) + p(n - 3)) / 2
      case _ =>
    }
    p
  }

  /** The floats of a tree, in file order. Each float draws from its own
    * stream, so a float's bytes depend on (seed, float index) only. Floats
    * start in their own cell of a grid over the box, and every fourth one
    * ends in R-mode. The seed moves them and draws their dates, levels and
    * values, but float ids, R-mode floats and profile counts do not depend
    * on it: every seed puts about as many profiles in any part of the box
    * and the same keys in every hash partition, so the work a pass does
    * varies little from seed to seed. */
  def floats(seed: Long, spec: Spec): IndexedSeq[FloatFile] = {
    val nFloats = math.max(1, spec.profiles / spec.profilesPerFloat)
    val cols = math.ceil(math.sqrt(nFloats.toDouble)).toInt
    val rows = (nFloats + cols - 1) / cols
    val b = spec.box
    (0 until nFloats).map { f =>
      val r = new SplittableRandom(mix(seed, f))
      val nProf = spec.profiles / nFloats + (if (f < spec.profiles % nFloats) 1 else 0)
      val firstR = if (f % 4 == 0) (nProf * 0.6).toInt else nProf
      var lon = b.lon1 + (b.lon2 - b.lon1) * (f % cols + r.nextDouble()) / cols
      var lat = b.lat1 + (b.lat2 - b.lat1) * (f / cols + r.nextDouble()) / rows
      val juld0 = 21915.0 + 3000.0 * r.nextDouble() // 2010-01-01 + up to ~8 y
      val profs = (0 until nProf).map { i =>
        lon = math.min(b.lon2, math.max(b.lon1, lon + (r.nextDouble() - 0.5) * 0.6))
        lat = math.min(b.lat2, math.max(b.lat1, lat + (r.nextDouble() - 0.5) * 0.4))
        val kind = kindOf(r)
        Profile(kind, if (i >= firstR) 'R' else 'D', juld0 + 10.0 * i + r.nextDouble(),
          lon, lat, pressures(r, kind, spec))
      }
      FloatFile(Dacs(f % Dacs.length), 1900000 + 37 * f,
        Platforms(r.nextInt(Platforms.length)), profs)
    }
  }

  /** One float's `_prof.nc` bytes. */
  def encode(ff: FloatFile, seed: Long): Array[Byte] = {
    val profs = ff.profiles
    val nProf = profs.length
    val nLev = profs.map(_.pres.length).max
    val r = new SplittableRandom(mix(seed, ff.wmo.toLong << 8))
    def grid(f: (Profile, Int) => Float): Array[Float] = {
      val out = Array.fill(nProf * nLev)(FillValue)
      for (i <- 0 until nProf; k <- profs(i).pres.indices) out(i * nLev + k) = f(profs(i), k)
      out
    }
    def qcGrid(f: (Profile, Int) => Char): Array[Byte] = {
      val out = Array.fill(nProf * nLev)(' '.toByte)
      for (i <- 0 until nProf; k <- profs(i).pres.indices) out(i * nLev + k) = f(profs(i), k).toByte
      out
    }
    val pres = grid((p, k) => p.pres(k))
    // smooth thermocline and halocline plus small per-sample noise
    val temp = grid { (p, k) =>
      val z = p.pres(k)
      (2.0 + 18.0 * math.exp(-z / 450.0) + 0.05 * (r.nextDouble() - 0.5) +
        0.02 * (p.lat - 30.0)).toFloat
    }
    val psal = grid { (p, k) =>
      val z = p.pres(k)
      (34.6 + 0.9 * math.exp(-z / 300.0) + 0.01 * (r.nextDouble() - 0.5)).toFloat
    }
    def adjusted(raw: Array[Float], delta: Float): Array[Float] =
      Array.tabulate(raw.length) { j =>
        val p = profs(j / nLev)
        if (p.mode == 'R' || raw(j) == FillValue) FillValue else raw(j) + delta
      }
    val goodQc = qcGrid((_, _) => '1')
    val psalQc = qcGrid((p, _) => if (p.kind == BadQc) '4' else '1')
    def adjQc(raw: Array[Byte]): Array[Byte] =
      Array.tabulate(raw.length)(j => if (profs(j / nLev).mode == 'R') ' '.toByte else raw(j))
    def chars(f: Profile => Char) = profs.map(p => f(p).toByte).toArray
    val platform = profs.flatMap(_ => ff.platform.padTo(32, ' ')).mkString.getBytes(US_ASCII)

    val d2 = Seq("N_PROF", "N_LEVELS")
    Nc.write(
      dims = Seq("N_PROF" -> nProf, "N_LEVELS" -> nLev, "STRING32" -> 32),
      title = s"Argo float ${ff.wmo} (synthetic)",
      vars = Seq(
        Nc.Var("PLATFORM_TYPE", Seq("N_PROF", "STRING32"), platform),
        Nc.Var("DATA_MODE", Seq("N_PROF"), chars(_.mode)),
        Nc.Var("JULD", Seq("N_PROF"), profs.map(_.juld).toArray),
        Nc.Var("JULD_QC", Seq("N_PROF"), chars(_ => '1')),
        Nc.Var("LATITUDE", Seq("N_PROF"), profs.map(_.lat).toArray),
        Nc.Var("LONGITUDE", Seq("N_PROF"), profs.map(_.lon).toArray),
        Nc.Var("POSITION_QC", Seq("N_PROF"), chars(p => if (p.kind == BadPosition) '4' else '1')),
        Nc.Var("PRES", d2, pres), Nc.Var("PRES_QC", d2, goodQc),
        Nc.Var("TEMP", d2, temp), Nc.Var("TEMP_QC", d2, goodQc),
        Nc.Var("PSAL", d2, psal), Nc.Var("PSAL_QC", d2, psalQc),
        Nc.Var("PRES_ADJUSTED", d2, adjusted(pres, -0.5f)),
        Nc.Var("PRES_ADJUSTED_QC", d2, adjQc(goodQc)),
        Nc.Var("TEMP_ADJUSTED", d2, adjusted(temp, 0.0f)),
        Nc.Var("TEMP_ADJUSTED_QC", d2, adjQc(goodQc)),
        Nc.Var("PSAL_ADJUSTED", d2, adjusted(psal, 0.01f)),
        Nc.Var("PSAL_ADJUSTED_QC", d2, adjQc(psalQc))))
  }

  /** Write the tree under `root` (which must not exist yet). */
  def land(root: Path, seed: Long, spec: Spec): Counts = {
    val fs = floats(seed, spec)
    var bytes = 0L
    fs.foreach { ff =>
      val f = root.resolve(ff.relPath)
      Files.createDirectories(f.getParent)
      val b = encode(ff, seed)
      Files.write(f, b)
      bytes += b.length
    }
    val all = fs.flatMap(_.profiles)
    Counts(fs.length, all.length, all.count(p => isFlagged(p.kind)),
      all.count(p => isValid(p.kind)), all.count(p => p.mode == 'D' && isFlagged(p.kind)),
      bytes)
  }
}

/** Minimal classic NetCDF (CDF-1) writer: fixed-size variables only, big
  * endian, every slab padded to four bytes, as the format specification
  * lays them out. */
object Nc {
  final case class Var(name: String, dims: Seq[String], data: AnyRef)

  private def typeOf(data: AnyRef): (Int, Int) = data match {
    case _: Array[Byte] => (2, 1) // NC_CHAR
    case _: Array[Float] => (5, 4) // NC_FLOAT
    case _: Array[Double] => (6, 8) // NC_DOUBLE
  }

  private def pad4(n: Int): Int = (n + 3) & ~3

  def write(dims: Seq[(String, Int)], title: String, vars: Seq[Var]): Array[Byte] = {
    val dimIdx = dims.map(_._1).zipWithIndex.toMap
    val dimLen = dims.toMap
    def nameBytes(s: String) = 4 + pad4(s.length)
    val attBytes = 4 + 4 + nameBytes("title") + 4 + 4 + pad4(title.length)
    val header = 4 + 4 +
      8 + dims.map { case (n, _) => nameBytes(n) + 4 }.sum +
      attBytes +
      8 + vars.map(v => nameBytes(v.name) + 4 + 4 * v.dims.length + 8 + 4 + 4 + 4).sum
    val sizes = vars.map { v =>
      val n = v.dims.map(dimLen).product
      val (_, w) = typeOf(v.data)
      require(v.data match { case a: Array[_] => a.length == n },
        s"variable ${v.name}: wrong data length")
      pad4(n * w)
    }
    val bb = ByteBuffer.allocate(header + sizes.sum)
    def putName(s: String): Unit = {
      bb.putInt(s.length); bb.put(s.getBytes(US_ASCII))
      (s.length until pad4(s.length)).foreach(_ => bb.put(0.toByte))
    }
    bb.put("CDF".getBytes(US_ASCII)).put(1.toByte).putInt(0)
    bb.putInt(0x0A).putInt(dims.length)
    dims.foreach { case (n, l) => putName(n); bb.putInt(l) }
    bb.putInt(0x0C).putInt(1)
    putName("title"); bb.putInt(2); putName(title)
    bb.putInt(0x0B).putInt(vars.length)
    var begin = header
    vars.zip(sizes).foreach { case (v, size) =>
      putName(v.name)
      bb.putInt(v.dims.length); v.dims.foreach(d => bb.putInt(dimIdx(d)))
      bb.putInt(0).putInt(0) // no variable attributes
      bb.putInt(typeOf(v.data)._1).putInt(size).putInt(begin)
      begin += size
    }
    require(bb.position() == header)
    vars.zip(sizes).foreach { case (v, size) =>
      val start = bb.position()
      v.data match {
        case a: Array[Byte] => bb.put(a)
        case a: Array[Float] => a.foreach(bb.putFloat)
        case a: Array[Double] => a.foreach(bb.putDouble)
      }
      bb.position(start + size)
    }
    bb.array()
  }
}
