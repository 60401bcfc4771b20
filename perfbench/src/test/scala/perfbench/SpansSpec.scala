package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {
  private val s = 1000000000L
  private def span(name: String, a: Double, b: Double, parent: String = "pass") =
    Span(0, name, parent, (a * s).toLong, (b * s).toLong, 0)

  test("self time is the parent's duration less the union of its children") {
    val root = span("pass", 0, 10, "")
    // [1,3] and [2,5] overlap; [9,12] sticks out of the parent
    val kids = Seq(span("a", 1, 3), span("b", 2, 5), span("c", 7, 8), span("d", 9, 12))
    assert(math.abs(Spans.selfSeconds(root, kids) - 4.0) < 1e-9)
  }

  test("self time without children is the whole span, and never negative") {
    val root = span("pass", 2, 5, "")
    assert(math.abs(Spans.selfSeconds(root, Nil) - 3.0) < 1e-9)
    assert(Spans.selfSeconds(root, Seq(span("x", 0, 10))) == 0.0)
    assert(math.abs(Spans.selfSeconds(root, Seq(span("x", 6, 7))) - 3.0) < 1e-9)
  }

  test("the root's self time in a traced pass matches its spans") {
    val sc = null // a tracer that is off never touches the context
    val t = new Tracer(sc, on = false)
    assert(t.span("x")(41 + 1) == 42 && t.calls == 1 && t.spans.isEmpty)
    val layers = Map("pass" -> Seq(span("pass", 0, 6, "")),
      "argo.interp" -> Seq(span("argo.interp", 1, 2)),
      "store.write" -> Seq(span("store.write", 2, 3), span("store.write", 4, 4.5)))
    val stats = Main.PassStats(6.0, Work(), Map.empty, layers.values.flatten.toSeq)
    val m = Main.perLayer(Seq(stats), slots = 4)
    assert(math.abs(m("pass.self_s") - 3.5) < 1e-9)
    assert(math.abs(m("store.write.wall_s") - 1.5) < 1e-9)
    assert(m("atlas.ts.wall_s") == 0.0)
    assert(m.keySet ==
      (Metrics.PerLayer.map(_.name).toSet -- Metrics.Counts.map(_.name) - "tracing_overhead_s"))
  }
}
