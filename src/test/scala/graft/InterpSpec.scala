package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Interp

class InterpSpec extends AnyFunSuite {
  private val xs = Array(0.0, 1.0, 2.5, 4.0, 6.0)
  private val ys = Array(1.0, 3.0, 2.0, 5.0, 4.0)

  test("linear reproduces nodes") {
    xs.indices.foreach { i =>
      assert(Interp.linear(xs, ys, xs(i)) === ys(i))
    }
  }

  test("linear interpolates midpoints and clamps ends (np.interp semantics)") {
    assert(Interp.linear(xs, ys, 0.5) === 2.0)
    assert(Interp.linear(xs, ys, -10.0) === 1.0) // clamp left
    assert(Interp.linear(xs, ys, 100.0) === 4.0) // clamp right
  }

  test("linearLadder equals linear bit for bit (exact hits, interior, both end clamps)") {
    val ladder = for {
      n <- Gen.choose(1, 80)
      x0 <- Gen.choose(-1e4, 1e4)
      gaps <- Gen.listOfN(n - 1, Gen.choose(1e-3, 50.0))
      ys <- Gen.listOfN(n, Gen.choose(-1e6, 1e6))
    } yield (gaps.scanLeft(x0)(_ + _).toArray, ys.toArray)
    val prop = Prop.forAll(ladder.suchThat { case (xs, _) =>
      xs.indices.drop(1).forall(i => xs(i - 1) < xs(i))
    }) { case (xs, ys) =>
      val lo = xs.head
      val hi = xs.last
      val probes = xs.toSeq ++ Seq(lo - 1.0, lo - 1e9, hi + 1.0, hi + 1e9) ++
        xs.indices.drop(1).flatMap { i =>
          val (a, b) = (xs(i - 1), xs(i))
          Seq(a + (b - a) * 0.5, a + (b - a) * 0.123, b - (b - a) * 1e-7)
        }
      probes.forall { t =>
        java.lang.Double.doubleToLongBits(Interp.linearLadder(xs, ys, t)) ==
          java.lang.Double.doubleToLongBits(Interp.linear(xs, ys, t))
      }
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(r.passed, r.status.toString)
  }

  test("spline reproduces nodes") {
    val m = Interp.splineMoments(xs, ys)
    xs.indices.foreach { i =>
      assert(math.abs(Interp.splineEval(xs, ys, m, xs(i)) - ys(i)) < 1e-12)
    }
  }

  test("not-a-knot spline reproduces cubic polynomials exactly (incl. extrapolation)") {
    // A single cubic satisfies all not-a-knot constraints, so the spline
    // must BE that cubic — this distinguishes not-a-knot (scipy
    // interp1d(kind="cubic")) from a natural spline, which would fail.
    def p(x: Double) = 2.0 * x * x * x - 3.0 * x * x + 0.5 * x - 7.0
    val px = Array(-2.0, -0.5, 1.0, 2.0, 4.5, 7.0)
    val py = px.map(p)
    val m = Interp.splineMoments(px, py)
    Seq(-5.0, -1.9, 0.0, 1.7, 3.3, 6.9, 12.0).foreach { t =>
      assert(math.abs(Interp.splineEval(px, py, m, t) - p(t)) < 1e-8,
        s"at t=$t")
    }
  }

  test("spline degenerate sizes: n=2 linear, n=3 parabola") {
    val x2 = Array(0.0, 2.0); val y2 = Array(1.0, 5.0)
    val m2 = Interp.splineMoments(x2, y2)
    assert(Interp.splineEval(x2, y2, m2, 1.0) === 3.0)
    def q(x: Double) = x * x - 2 * x + 3
    val x3 = Array(0.0, 1.0, 3.0); val y3 = x3.map(q)
    val m3 = Interp.splineMoments(x3, y3)
    Seq(0.5, 2.0, -1.0, 4.0).foreach { t =>
      assert(math.abs(Interp.splineEval(x3, y3, m3, t) - q(t)) < 1e-10)
    }
  }

  test("spline is C2: moments equation implies continuous 1st derivative at knots") {
    val m = Interp.splineMoments(xs, ys)
    // numeric derivative from both sides of an interior knot
    val eps = 1e-7
    (1 until xs.length - 1).foreach { i =>
      val dl = (Interp.splineEval(xs, ys, m, xs(i)) -
        Interp.splineEval(xs, ys, m, xs(i) - eps)) / eps
      val dr = (Interp.splineEval(xs, ys, m, xs(i) + eps) -
        Interp.splineEval(xs, ys, m, xs(i))) / eps
      assert(math.abs(dl - dr) < 1e-5, s"kink at knot $i")
    }
  }

  test("pchip reproduces nodes and linear data exactly") {
    val got = Interp.pchipOnto(xs, ys, xs)
    xs.indices.foreach(i => assert(math.abs(got(i) - ys(i)) < 1e-12))
    // all secants equal → every derivative is that slope → the line
    val lx = Array(0.0, 1.0, 3.0, 4.5)
    val ly = lx.map(x => 2.0 * x - 1.0)
    Seq(-1.0, 0.5, 2.0, 4.0, 6.0).foreach { t =>
      val v = Interp.pchipOnto(lx, ly, Array(t))(0)
      assert(math.abs(v - (2.0 * t - 1.0)) < 1e-12, s"at t=$t")
    }
  }

  test("pchip matches the Fritsch-Carlson hand computation at a local max") {
    // xs=[0,1,2], ys=[0,1,0]: interior secants +1/-1 → d1=0;
    // edge d0 = ((2+1)*1 - 1*(-1))/2 = 2 (kept: |2| <= 3|m0|).
    // Segment 0 Hermite: y(0.5) = 2*0.5 + (3*1-2*2-0)*0.25 = 0.75.
    val v = Interp.pchipOnto(Array(0.0, 1.0, 2.0), Array(0.0, 1.0, 0.0),
      Array(0.5))(0)
    assert(math.abs(v - 0.75) < 1e-12)
  }

  test("pchip is shape-preserving: no overshoot on monotone data") {
    // the not-a-knot spline DOES overshoot this step-like data; pchip must not
    val sx = Array(0.0, 1.0, 2.0, 3.0, 4.0, 5.0)
    val sy = Array(0.0, 0.0, 0.1, 9.9, 10.0, 10.0)
    val ts = (0 to 500).map(i => i * 0.01).toArray
    val vals = Interp.pchipOnto(sx, sy, ts)
    assert(vals.forall(v => v >= -1e-12 && v <= 10.0 + 1e-12),
      s"overshoot: min=${vals.min} max=${vals.max}")
    // and monotone between nodes
    ts.indices.drop(1).foreach { i =>
      assert(vals(i) >= vals(i - 1) - 1e-12, s"non-monotone at ${ts(i)}")
    }
  }

  test("sortDedup sorts by x and keeps first occurrence") {
    val (dx, dy) = Interp.sortDedup(
      Array(3.0, 1.0, 3.0, 2.0), Array(30.0, 10.0, 31.0, 20.0))
    assert(dx.toSeq == Seq(1.0, 2.0, 3.0))
    assert(dy.toSeq == Seq(10.0, 20.0, 30.0))
  }

  // ---- MR-PCHIP (the gsw.sa_ct_interp algorithm family) -------------------

  test("mr-pchip reproduces nodes exactly for both variables") {
    val sa = Array(35.0, 35.2, 34.9, 35.5, 35.1)
    val (ct, sa2) = Interp.mrPchipOnto(xs, ys, sa, xs)
    xs.indices.foreach { i =>
      assert(math.abs(ct(i) - ys(i)) < 1e-10, s"ct at node $i")
      assert(math.abs(sa2(i) - sa(i)) < 1e-10, s"sa at node $i")
    }
  }

  test("mr-pchip with one variable constant degenerates to plain pchip") {
    // PCHIP is affine-equivariant, so every rotated frame interpolates
    // cos θ·CT + const the same way and the least-squares inversion
    // recovers exactly the per-variable PCHIP of CT and the constant SA.
    val saConst = Array.fill(xs.length)(35.0)
    val ts = Array(0.3, 1.7, 3.2, 5.5)
    val (ct, sa) = Interp.mrPchipOnto(xs, ys, saConst, ts)
    val plain = Interp.pchipOnto(xs, ys, ts)
    ts.indices.foreach { j =>
      assert(math.abs(ct(j) - plain(j)) < 1e-9, s"ct at ${ts(j)}")
      assert(math.abs(sa(j) - 35.0) < 1e-9, s"sa at ${ts(j)}")
    }
  }

  test("mr-pchip recovers affinely coupled variables exactly") {
    // SA = a·CT + b lies on one line in the (CT, 9·SA) plane: every
    // rotated interpolant is an affine image of the same 1-D profile, so
    // the reconstruction keeps the coupling at every target.
    val a = 0.05; val b = 34.0
    val sa = ys.map(y => a * y + b)
    val ts = Array(0.5, 2.0, 3.7, 5.2)
    val (ct, saI) = Interp.mrPchipOnto(xs, ys, sa, ts)
    ts.indices.foreach { j =>
      assert(math.abs(saI(j) - (a * ct(j) + b)) < 1e-9, s"coupling at ${ts(j)}")
    }
  }

  test("mr-pchip keeps monotone pairs within the envelope up to rotation residue") {
    // Monotone CT and SA: each ROTATED frame is shape-preserving, but the
    // least-squares reconstruction mixes frames whose monotone regions
    // differ, so the per-variable envelope can be exceeded by a small
    // rotation residue (a property of the published method, not a bug).
    // Bound it at 0.1% of the variable's node range — the not-a-knot
    // spline overshoots this data by ~10x more.
    val px = Array(0.0, 1.0, 2.0, 3.0, 4.0)
    val pct = Array(20.0, 18.0, 10.0, 9.5, 9.0)
    val psa = Array(34.0, 34.5, 35.2, 35.3, 35.4)
    val ts = (0 to 40).map(_ * 0.1).toArray
    val (ct, sa) = Interp.mrPchipOnto(px, pct, psa, ts)
    val ctTol = (20.0 - 9.0) * 1e-3
    val saTol = (35.4 - 34.0) * 1e-3
    ts.indices.foreach { j =>
      assert(ct(j) <= 20.0 + ctTol && ct(j) >= 9.0 - ctTol, s"ct at ${ts(j)}")
      assert(sa(j) <= 35.4 + saTol && sa(j) >= 34.0 - saTol, s"sa at ${ts(j)}")
    }
  }

  test("mr-pchip differs from per-variable pchip on a curved (CT, SA) hook") {
    // A thermocline-like hook in (CT, SA) space — the case the method
    // exists for. The joint result must be a DIFFERENT interpolant than
    // the independent per-variable one (else the rotation did nothing).
    val px = Array(0.0, 1.0, 2.0, 3.0, 4.0)
    val pct = Array(20.0, 12.0, 6.0, 4.0, 3.5)
    val psa = Array(34.0, 35.5, 34.6, 34.5, 34.6)
    val ts = Array(0.5, 1.5, 2.5, 3.5)
    val (ct, sa) = Interp.mrPchipOnto(px, pct, psa, ts)
    val ctP = Interp.pchipOnto(px, pct, ts)
    val saP = Interp.pchipOnto(px, psa, ts)
    val dev = ts.indices.map(j =>
      math.abs(ct(j) - ctP(j)) + math.abs(sa(j) - saP(j))).max
    assert(dev > 1e-3, s"joint and per-variable should differ, max dev $dev")
    // but remain close: rotation redistributes, it does not distort
    ts.indices.foreach { j =>
      assert(math.abs(ct(j) - ctP(j)) < 1.5, s"ct sane at ${ts(j)}")
      assert(math.abs(sa(j) - saP(j)) < 1.5, s"sa sane at ${ts(j)}")
    }
  }
}
