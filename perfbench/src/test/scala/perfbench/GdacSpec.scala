package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Nc3

class GdacSpec extends AnyFunSuite {
  private val spec = Gdac.Spec(profiles = 120, box = Gdac.Box(-40, -30, 30, 40),
    minLevels = 20, maxLevels = 40, profilesPerFloat = 30)

  /** Relative path → bytes of every file under `root`. */
  private def tree(root: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  private def landed(seed: Long): (Gdac.Counts, Map[String, Seq[Byte]]) = {
    val root = Files.createTempDirectory("gdac").resolve("tree")
    try {
      val counts = Gdac.land(root, seed, spec)
      (counts, tree(root))
    } finally Workload.deleteTree(root.getParent)
  }

  test("the same seed gives byte-identical trees") {
    val (c1, t1) = landed(7)
    val (c2, t2) = landed(7)
    assert(c1 == c2)
    assert(t1.keySet == t2.keySet && t1.keySet.size == c1.files)
    t1.foreach { case (k, v) => assert(t2(k) == v, k) }
  }

  test("a different seed gives different bytes and the same profile count") {
    val (c1, t1) = landed(7)
    val (c2, t2) = landed(8)
    assert(c1.profiles == spec.profiles && c2.profiles == spec.profiles)
    assert(t1 != t2)
    assert(t1.values.toSet.intersect(t2.values.toSet).isEmpty)
  }

  test("every edge case is generated and the expected counts follow from the kinds") {
    val all = (1L to 5L).flatMap(s => Gdac.floats(s, spec).flatMap(_.profiles))
    Seq(Gdac.Normal, Gdac.Swapped, Gdac.Short, Gdac.BadQc, Gdac.DeepInversion,
      Gdac.BadPosition).foreach(k => assert(all.exists(_.kind == k), k))
    assert(all.exists(_.mode == 'R') && all.exists(_.mode == 'D'))
    val ff = Gdac.floats(3, spec)
    val c = landed(3)._1
    val ps = ff.flatMap(_.profiles)
    assert(c.valid == ps.count(p => Gdac.isValid(p.kind)))
    assert(c.flagged == ps.count(p => Gdac.isFlagged(p.kind)))
    // irregular, strictly increasing pressures except where a kind says not
    ps.filter(_.kind == Gdac.Normal).foreach { p =>
      assert(p.pres.sliding(2).forall { case Array(a, b) => a < b })
    }
    assert(ps.map(_.pres.length).distinct.size > 5)
  }

  test("the files are classic NetCDF the engine's reader parses") {
    val ff = Gdac.floats(5, spec).head
    val nc = new Nc3.NcFile(Gdac.encode(ff, 5))
    val nLev = ff.profiles.map(_.pres.length).max
    assert(nc.dims.map(d => d.name -> d.length).toMap ==
      Map("N_PROF" -> ff.profiles.length, "N_LEVELS" -> nLev, "STRING32" -> 32))
    val pres = nc.readDoubles("PRES")
    ff.profiles.zipWithIndex.foreach { case (p, i) =>
      assert(pres.slice(i * nLev, i * nLev + p.pres.length).toSeq ==
        p.pres.toSeq.map(_.toDouble))
    }
    assert(nc.readChars("DATA_MODE").map(_.toChar).toSeq == ff.profiles.map(_.mode))
    assert(nc.readDoubles("JULD").toSeq == ff.profiles.map(_.juld))
  }
}
