package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.bench.BenchJson._

/** The bench's one JSON writer, pinned without Spark: one value rule
  * (integers for counts and flags, trimmed two decimals for stage
  * seconds), one detail classification that only the stdout line
  * applies, and the greedy stdout budget that names what it evicts. */
class BenchJsonSpec extends AnyFunSuite {
  private def errLines(body: => Unit): Seq[String] = {
    val buf = new java.io.ByteArrayOutputStream
    val prev = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try body finally System.setErr(prev)
    buf.toString("UTF-8").split("\n").toSeq.filter(_.nonEmpty)
  }

  private val head = Head(12.3, Seq("q01" -> 0.5, "q02" -> 1.0, "q03" -> 0.123),
    failed = Seq("q09"), rerun = Nil, sf = "/data/sf0.01")

  private val calib = Block("calib", Seq(
    KV("eff", Seq(3.94, 4.0), r1, array = true),
    KV("stor", Seq(0.0, 35.0), r2t, array = true),
    kv("frac", 0.5, r2), kv("procs", 4, r2t), kv("quota", -1, r2t),
    kv("expected", 4, r1), kv("effmin", 3.94, r1), kv("wall", 191.42, r1),
    kv("contended", 0, bool)))

  private val scale10 = stage("scale10", Seq("q36" -> 0.60, "q43slow" -> 1.0,
    "q36cand" -> 42848.0, "q36candsec" -> 1.24, "q36out" -> 20575.0,
    "wall" -> 50.8, "effmin" -> 3.77, "cont" -> 0.0, "slow" -> 1.0,
    "band" -> 3.95, "wall1" -> 60.0, "effmin1" -> 1.9))

  private val stores = stage("stores", Seq("build" -> 13.78, "q129_cold" -> 0.7,
    "q129" -> 0.29, "q129scan" -> 4968.0, "wall" -> 89.1, "cont" -> 0.0,
    "slow" -> 0.0))

  private val interp = Block("interp", Seq(kv("interp_profiles_per_sec", 5461.04, r1),
    kv("interp_profiles_per_sec_per_core", 1365.26, r1)), nested = false)

  private val cores = Block("cores", Seq(kv("cores", 4, r2t), kv("reps", 2, r2t)),
    nested = false)

  test("counts and flags render as integers; stage seconds in trimmed two-decimal form") {
    val b = stage("s", Seq("q36cand" -> 42848.0, "q43out" -> 1.0e7, "cont" -> 1.0,
      "slow" -> 0.0, "q43slow" -> 1.0, "q36" -> 0.60, "q97_cold" -> 1.0,
      "wall" -> 50.834, "q36candsec" -> 1.2, "x10" -> 10.0, "q60" -> 0.004))
    assert(b.json(_ => true).contains("\"s\":{\"q36cand\":42848,\"q43out\":10000000," +
      "\"cont\":1,\"slow\":0,\"q43slow\":1,\"q36\":0.6,\"q97_cold\":1," +
      "\"wall\":50.83,\"q36candsec\":1.2,\"x10\":10,\"q60\":0}"))
    assert(kv("frac", 0.5, r2).json == "\"frac\":0.50")
    assert(kv("quota", -1, r2t).json == "\"quota\":-1")
    assert(kv("contended", 1, bool).json == "\"contended\":true")
    assert(KV("eff", Seq(3.94, 4.0), r1, array = true).json == "\"eff\":[3.9,4.0]")
  }

  test("every deterministic count is a count, so a stage re-run keeps it; seconds are not") {
    Seq("q36cand", "q43out", "q129rows", "q129scan", "q129scan_app").foreach(k =>
      assert(isCount(k), k))
    Seq("q129", "q129_cold", "q71scan", "q97scan", "wall", "q36candsec").foreach(k =>
      assert(!isCount(k), k))
  }

  test("the full line keeps every key; stdout drops detail keys and clean flags only") {
    val (full, out) = lines(head, Seq(calib, scale10, interp, stores, cores))
    assert(full == """{"metric":"total","value":12.30,"unit":"sec",""" +
      """"queries":{"q01":0.5,"q02":1,"q03":0.12},"failed":["q09"],"stages":{""" +
      """"calib":{"eff":[3.9,4.0],"stor":[0,35],"frac":0.50,"procs":4,"quota":-1,""" +
      """"expected":4.0,"effmin":3.9,"wall":191.4,"contended":false},""" +
      """"scale10":{"q36":0.6,"q43slow":1,"q36cand":42848,"q36candsec":1.24,""" +
      """"q36out":20575,"wall":50.8,"effmin":3.77,"cont":0,"slow":1,"band":3.95,""" +
      """"wall1":60,"effmin1":1.9},""" +
      """"interp_profiles_per_sec":5461.0,"interp_profiles_per_sec_per_core":1365.3,""" +
      """"stores":{"build":13.78,"q129_cold":0.7,"q129":0.29,"q129scan":4968,""" +
      """"wall":89.1,"cont":0,"slow":0},"cores":4,"reps":2},"sf":"/data/sf0.01"}""")
    assert(out == """{"metric":"total","value":12.30,"unit":"sec",""" +
      """"queries":{"q01":0.5,"q02":1,"q03":0.12},"failed":["q09"],"stages":{""" +
      """"calib":{"effmin":3.9,"wall":191.4},""" +
      """"scale10":{"q36":0.6,"q43slow":1,"wall":50.8,"slow":1},""" +
      """"interp_profiles_per_sec":5461.0,""" +
      """"stores":{"q129_cold":0.7,"q129":0.29,"wall":89.1},""" +
      """"cores":4,"reps":2},"sf":"/data/sf0.01"}""")
    // a fired verdict stays on the stdout line
    val fired = Block("calib", Seq(kv("wall", 1.0, r1), kv("contended", 1, bool)))
    assert(lines(head, Seq(fired))._2.contains("\"calib\":{\"wall\":1.0,\"contended\":true}"))
    // a block whose every key is detail is absent from stdout, present in full
    val counts = stage("atlas_profiles", Seq("band" -> 3.9))
    val (f2, o2) = lines(head, Seq(counts))
    assert(f2.contains("\"atlas_profiles\":{\"band\":3.9}"))
    assert(o2.contains("\"stages\":{}"))
  }

  test("a block that does not fit is evicted and named; a later smaller block still lands") {
    val blocks = Seq(calib, scale10, cores)
    val base = lines(head, Seq(calib, cores))._2.length
    var out = ""
    val log = errLines { out = lines(head, blocks, budget = base)._2 }
    val scale10Stdout = scale10.json(kv => !detail("scale10", kv)).get
    assert(log == Seq(s"[bench] stdout evicted: scale10 (${scale10Stdout.length} chars)"))
    assert(!out.contains("scale10") && out.contains("\"cores\":4,\"reps\":2"))
    assert(out.length <= base)
    // with room for everything nothing is evicted
    assert(errLines(lines(head, blocks)).isEmpty)
  }
}
