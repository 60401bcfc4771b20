package graft

/** The bench's fail-closed timing rules, pinned on its one timing
  * harness ([[Bench.timed]], [[Bench.best]], [[Bench.faster]],
  * [[Bench.withConfs]]): a run that threw never publishes a time, a fast
  * failure never beats a slow success, a re-run only ever improves the
  * published wall, and a conf override never outlives its body. */
class BenchHarnessSpec extends SparkSuite {
  private def boom(): Long = throw new IllegalStateException("boom")
  private def slow(v: Long): Long = { Thread.sleep(60); v }

  /** Lines `body` writes to System.err that mention `tag`. */
  private def errLines(tag: String)(body: => Unit): Seq[String] = {
    val buf = new java.io.ByteArrayOutputStream
    val prev = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try body finally System.setErr(prev)
    buf.toString("UTF-8").split("\n").toSeq.filter(_.contains(tag))
  }

  test("a throwing body yields no time, and its failure is logged once") {
    var r: Option[(Double, Long)] = Some((0.0, 0L))
    val log = errLines("harness-tag-1") { r = Bench.timed("harness-tag-1")(boom()) }
    assert(r.isEmpty)
    assert(log == Seq("[bench] harness-tag-1 FAILED: IllegalStateException boom"))
    val ok = Bench.timed("harness-tag-2")(slow(42L))
    assert(ok.map(_._2).contains(42L))
    assert(ok.exists(_._1 >= 0.05), s"$ok must carry the body's wall")
  }

  test("best ignores failed reps and returns None when every rep fails") {
    // a fast failure, a slow success, a fast success: the fast success wins
    val script = Iterator[() => Long](() => boom(), () => slow(1L), () => 2L)
    assert(Bench.best("expected failure", 3)(script.next()()).map(_._2).contains(2L))
    // a fast failure ahead of the only success must not supply the time
    val failFirst = Iterator[() => Long](() => boom(), () => slow(7L))
    val b = Bench.best("expected failure", 2)(failFirst.next()())
    assert(b.map(_._2).contains(7L))
    assert(b.exists(_._1 >= 0.05))
    assert(Bench.best("expected failure", 3)(boom()).isEmpty)
    // the per-rep hook runs once ahead of every rep
    var colds = 0
    var seen = Seq.empty[Int]
    Bench.best("hook", 3, before = colds += 1) { seen :+= colds; 0L }
    assert(seen == Seq(1, 2, 3))
  }

  test("a re-run replaces a published result only when it succeeds and is " +
       "faster, or when every earlier run failed") {
    val pub = Some((2.0, 10L))
    assert(Bench.faster(pub, Some((1.0, 11L))) == Some((1.0, 11L)))
    assert(Bench.faster(pub, Some((3.0, 11L))) == pub)
    assert(Bench.faster(pub, Some((2.0, 11L))) == pub, "a tie keeps the published run")
    assert(Bench.faster(pub, Bench.timed("expected failure")(boom())) == pub)
    assert(Bench.faster(None, Some((30.0, 11L))) == Some((30.0, 11L)))
    assert(Bench.faster[Long](None, None).isEmpty)
  }

  test("withConfs restores a set key and unsets an absent key, also when " +
       "the body throws") {
    val set = "spark.graft.harnessSpec.set"
    val absent = "spark.graft.harnessSpec.absent"
    def get(k: String) = spark.conf.getOption(k)
    spark.conf.set(set, "prior")
    spark.conf.unset(absent)
    try {
      val r = Bench.withConfs(spark, Seq(set -> Some("in"), absent -> Some("in"))) {
        assert(get(set).contains("in") && get(absent).contains("in"))
        5
      }
      assert(r == 5)
      assert(get(set).contains("prior") && get(absent).isEmpty)
      intercept[IllegalStateException] {
        Bench.withConfs(spark, Seq(set -> None, absent -> Some("in"))) {
          assert(get(set).isEmpty && get(absent).contains("in"))
          boom()
        }
      }
      assert(get(set).contains("prior") && get(absent).isEmpty)
    } finally spark.conf.unset(set)
  }
}
