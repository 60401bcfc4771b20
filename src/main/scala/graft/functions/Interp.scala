package graft.functions

/** 1-D interpolation kernels over per-profile sample arrays.
  *
  * Re-expresses the reference's two interpolation primitives
  * (/root/reference/src/argostats/interpolation.py:13-21 — scipy
  * `interp1d(kind="cubic", fill_value="extrapolate")` — and the `np.interp`
  * value-as-of lookup, /root/reference/src/argostats/atlas.py:187) as pure
  * Scala kernels on primitive arrays. They run inside UDFs over array
  * columns: per-row, no shuffle, and the arrays they see are profile-sized
  * (tens to hundreds of samples), so O(n) per row with small constants.
  *
  * Both kernels require xs strictly increasing (callers dedup/sort first —
  * the reference enforces the same via `np.unique`,
  * interpolation.py:234-249).
  */
object Interp {

  /** Piecewise-linear interpolation with end-clamping — `np.interp`
    * semantics. Association is fixed as
    * `y0 + (y1-y0) * ((t-x0)/(x1-x0))` so SQL oracles can reproduce the
    * result bit-for-bit. */
  def linear(xs: Array[Double], ys: Array[Double], t: Double): Double = {
    val n = xs.length
    require(n >= 1 && ys.length == n)
    if (t <= xs(0)) return ys(0)
    if (t >= xs(n - 1)) return ys(n - 1)
    var i = java.util.Arrays.binarySearch(xs, t)
    if (i >= 0) return ys(i)
    i = -i - 2 // last index with xs(i) < t
    val frac = (t - xs(i)) / (xs(i + 1) - xs(i))
    ys(i) + (ys(i + 1) - ys(i)) * frac
  }

  /** [[linear]] for the R14 displacement lookup's inner loop (a cell's
    * 64-entry ladder probed 64× per pair row): an inline binary search,
    * without [[linear]]'s argument check. Same result as [[linear]] bit
    * for bit on a strictly increasing finite ladder, exact hits and both
    * end clamps included (InterpSpec pins it). */
  def linearLadder(xs: Array[Double], ys: Array[Double], t: Double): Double = {
    val n = xs.length
    if (t <= xs(0)) return ys(0)
    if (t >= xs(n - 1)) return ys(n - 1)
    var lo = 0
    var hi = n - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val v = xs(mid)
      if (v < t) lo = mid + 1
      else if (v > t) hi = mid - 1
      else return ys(mid)
    }
    val i = lo - 1
    val frac = (t - xs(i)) / (xs(i + 1) - xs(i))
    ys(i) + (ys(i + 1) - ys(i)) * frac
  }

  /** Cubic-spline coefficients with not-a-knot boundary conditions (what
    * scipy's `interp1d(kind="cubic")` uses). Returns the second-derivative
    * array M; evaluation is Hermite-form from (xs, ys, M).
    *
    * n == 2 degenerates to linear, n == 3 to the unique parabola (M is
    * constant). Solved by Thomas elimination with the two not-a-knot end
    * relations folded into the first/last interior rows — O(n), no
    * allocation beyond the coefficient arrays.
    */
  def splineMoments(xs: Array[Double], ys: Array[Double]): Array[Double] = {
    val n = xs.length
    require(n >= 2 && ys.length == n)
    val m = new Array[Double](n)
    if (n == 2) return m // zeros → linear
    val h = new Array[Double](n - 1)
    var i = 0
    while (i < n - 1) { h(i) = xs(i + 1) - xs(i); i += 1 }
    if (n == 3) {
      // unique parabola: constant second derivative
      val d2 = 2.0 * (((ys(2) - ys(1)) / h(1)) - ((ys(1) - ys(0)) / h(0))) / (h(0) + h(1))
      m(0) = d2; m(1) = d2; m(2) = d2
      return m
    }
    // Interior unknowns M_1..M_{n-2}; not-a-knot expresses M_0 and M_{n-1}
    // as linear combinations of their neighbors:
    //   M_0 = ((h0+h1) M_1 - h0 M_2) / h1
    //   M_{n-1} = ((h_{n-2}+h_{n-3}) M_{n-2} - h_{n-2} M_{n-3}) / h_{n-3}
    val k = n - 2 // number of interior unknowns
    val a = new Array[Double](k) // sub-diagonal
    val b = new Array[Double](k) // diagonal
    val c = new Array[Double](k) // super-diagonal
    val d = new Array[Double](k) // rhs
    i = 1
    while (i <= n - 2) {
      val j = i - 1
      a(j) = h(i - 1)
      b(j) = 2.0 * (h(i - 1) + h(i))
      c(j) = h(i)
      d(j) = 6.0 * ((ys(i + 1) - ys(i)) / h(i) - (ys(i) - ys(i - 1)) / h(i - 1))
      i += 1
    }
    // fold M_0 into row 0: coefficient of M_0 was a(0)=h0
    b(0) += h(0) * (h(0) + h(1)) / h(1)
    c(0) -= h(0) * h(0) / h(1)
    // fold M_{n-1} into last row: coefficient of M_{n-1} was c(k-1)=h(n-2)
    b(k - 1) += h(n - 2) * (h(n - 2) + h(n - 3)) / h(n - 3)
    a(k - 1) -= h(n - 2) * h(n - 2) / h(n - 3)
    // Thomas elimination
    i = 1
    while (i < k) {
      val w = a(i) / b(i - 1)
      b(i) -= w * c(i - 1)
      d(i) -= w * d(i - 1)
      i += 1
    }
    m(k) = d(k - 1) / b(k - 1)
    i = k - 2
    while (i >= 0) {
      m(i + 1) = (d(i) - c(i) * m(i + 2)) / b(i)
      i -= 1
    }
    m(0) = ((h(0) + h(1)) * m(1) - h(0) * m(2)) / h(1)
    m(n - 1) = ((h(n - 2) + h(n - 3)) * m(n - 2) - h(n - 2) * m(n - 3)) / h(n - 3)
    m
  }

  /** Evaluate the spline at `t`, extrapolating with the end cubics
    * (scipy `fill_value="extrapolate"`). */
  def splineEval(xs: Array[Double], ys: Array[Double], m: Array[Double],
                 t: Double): Double = {
    val n = xs.length
    if (n == 2) return linear(xs, ys, t)
    var i = java.util.Arrays.binarySearch(xs, t)
    if (i >= 0 && i < n) return ys(i)
    if (i < 0) i = -i - 2
    if (i < 0) i = 0 // extrapolate left with first cubic
    if (i > n - 2) i = n - 2 // extrapolate right with last cubic
    val h = xs(i + 1) - xs(i)
    val u = t - xs(i)
    val v = xs(i + 1) - t
    // Hermite/moment form of the interval cubic
    (m(i) * v * v * v + m(i + 1) * u * u * u) / (6.0 * h) +
      (ys(i) / h - m(i) * h / 6.0) * v +
      (ys(i + 1) / h - m(i + 1) * h / 6.0) * u
  }

  /** Convenience: cubic-interpolate samples (xs, ys) onto `targets`. */
  def cubicOnto(xs: Array[Double], ys: Array[Double],
                targets: Array[Double]): Array[Double] = {
    val m = splineMoments(xs, ys)
    targets.map(t => splineEval(xs, ys, m, t))
  }

  /** PCHIP derivatives (Fritsch–Carlson 1980, the shape-preserving
    * monotone scheme scipy's `PchipInterpolator` implements and the family
    * `gsw.sa_ct_interp` — the reference's METHODS[1],
    * interpolation.py:20-21 — builds on): weighted harmonic mean of the
    * adjacent secants, zero at local extrema, one-sided three-point edge
    * formula with sign clamping. */
  def pchipDerivs(xs: Array[Double], ys: Array[Double]): Array[Double] = {
    val n = xs.length
    require(n >= 2 && ys.length == n)
    val d = new Array[Double](n)
    if (n == 2) {
      val m = (ys(1) - ys(0)) / (xs(1) - xs(0))
      d(0) = m; d(1) = m
      return d
    }
    val h = new Array[Double](n - 1)
    val mk = new Array[Double](n - 1)
    var i = 0
    while (i < n - 1) {
      h(i) = xs(i + 1) - xs(i)
      mk(i) = (ys(i + 1) - ys(i)) / h(i)
      i += 1
    }
    i = 1
    while (i < n - 1) {
      if (mk(i - 1) * mk(i) <= 0) d(i) = 0.0
      else {
        val w1 = 2 * h(i) + h(i - 1)
        val w2 = h(i) + 2 * h(i - 1)
        d(i) = (w1 + w2) / (w1 / mk(i - 1) + w2 / mk(i))
      }
      i += 1
    }
    def edge(h0: Double, h1: Double, m0: Double, m1: Double): Double = {
      var e = ((2 * h0 + h1) * m0 - h0 * m1) / (h0 + h1)
      if (e * m0 <= 0 && m0 != 0) e = 0.0
      else if (m0 == 0) e = 0.0
      else if (m0 * m1 < 0 && math.abs(e) > 3 * math.abs(m0)) e = 3 * m0
      e
    }
    d(0) = edge(h(0), h(1), mk(0), mk(1))
    d(n - 1) = edge(h(n - 2), h(n - 3), mk(n - 2), mk(n - 3))
    d
  }

  /** Shape-preserving cubic Hermite interpolation onto `targets`,
    * extrapolating with the end segment's cubic (scipy `PchipInterpolator`
    * with `extrapolate=True`). */
  def pchipOnto(xs: Array[Double], ys: Array[Double],
                targets: Array[Double]): Array[Double] = {
    val n = xs.length
    if (n == 2) return targets.map { t =>
      // linear continuation (pchip on 2 points is the line, incl. outside)
      ys(0) + (ys(1) - ys(0)) * ((t - xs(0)) / (xs(1) - xs(0)))
    }
    val d = pchipDerivs(xs, ys)
    targets.map { t =>
      var i = java.util.Arrays.binarySearch(xs, t)
      if (i >= 0 && i < n) ys(i)
      else {
        if (i < 0) i = -i - 2
        if (i < 0) i = 0
        if (i > n - 2) i = n - 2
        val h = xs(i + 1) - xs(i)
        val m = (ys(i + 1) - ys(i)) / h
        val u = t - xs(i)
        val c2 = (3 * m - 2 * d(i) - d(i + 1)) / h
        val c3 = (d(i) + d(i + 1) - 2 * m) / (h * h)
        ys(i) + d(i) * u + c2 * u * u + c3 * u * u * u
      }
    }
  }

  /** Multiply-rotated PCHIP: JOINT shape-preserving interpolation of the
    * (CT, SA) pair — the published MR-PCHIP algorithm (Barker & McDougall
    * 2020, "Two interpolation methods using multiply-rotated piecewise
    * cubic hermite interpolating polynomials", J. Atmos. Oceanic Tech.),
    * which is what the reference's `gsw.sa_ct_interp` METHODS entry runs
    * (interpolation.py:20-21,74-81).
    *
    * Interpolating CT and SA independently lets the interpolants drift
    * apart in (SA, CT) space, producing unstable (density-inverting)
    * artificial water masses. MR-PCHIP instead interpolates the profile in
    * many ROTATED frames of the (CT, scaled-SA) plane and averages:
    *
    *  - vₖ(p) = CT(p)·cos θₖ + F·SA(p)·sin θₖ for 16 equally spaced angles
    *    θₖ = kπ/16 (F = 9 puts SA on the dynamically comparable scale, the
    *    published CT:SA weighting);
    *  - each vₖ is PCHIP-interpolated in p (shape-preserving in every
    *    frame);
    *  - (CT, SA) at a target is the least-squares inversion of the 16
    *    rotated samples, which collapses to CT = (2/16)·Σ vₖ·cos θₖ and
    *    SA = (2/16F)·Σ vₖ·sin θₖ because Σcos² = Σsin² = 8 and
    *    Σ sin·cos = 0 over the uniform half-circle.
    *
    * Affine equivariance of PCHIP gives the exact recovery property: if
    * either variable is constant (or the two are affinely related), the
    * result equals plain per-variable PCHIP (asserted in InterpSpec).
    *
    * @return (ct at targets, sa at targets) */
  def mrPchipOnto(xs: Array[Double], ct: Array[Double], sa: Array[Double],
                  targets: Array[Double]): (Array[Double], Array[Double]) = {
    val nAngles = 16
    val factor = 9.0
    val n = xs.length
    val nt = targets.length
    val ctOut = new Array[Double](nt)
    val saOut = new Array[Double](nt)
    val v = new Array[Double](n)
    var k = 0
    while (k < nAngles) {
      val th = k * math.Pi / nAngles
      val c = math.cos(th)
      val s = math.sin(th)
      var i = 0
      while (i < n) { v(i) = ct(i) * c + factor * sa(i) * s; i += 1 }
      val vi = pchipOnto(xs, v, targets)
      var j = 0
      while (j < nt) {
        ctOut(j) += vi(j) * c
        saOut(j) += vi(j) * s
        j += 1
      }
      k += 1
    }
    val wc = 2.0 / nAngles // 1/Σcos²
    val ws = 2.0 / (nAngles * factor)
    var j = 0
    while (j < nt) { ctOut(j) *= wc; saOut(j) *= ws; j += 1 }
    (ctOut, saOut)
  }

  /** Sort by x and drop duplicate x (keep first occurrence, matching the
    * reference's `np.unique(PRES, return_index=True)`,
    * interpolation.py:239). Returns (xs, ys) as parallel arrays. */
  def sortDedup(xs: Array[Double], ys: Array[Double]): (Array[Double], Array[Double]) = {
    val idx = xs.indices.sortBy(xs(_)).toArray
    val ox = new scala.collection.mutable.ArrayBuffer[Double](xs.length)
    val oy = new scala.collection.mutable.ArrayBuffer[Double](xs.length)
    var i = 0
    while (i < idx.length) {
      val j = idx(i)
      if (ox.isEmpty || xs(j) != ox.last) { ox += xs(j); oy += ys(j) }
      i += 1
    }
    (ox.toArray, oy.toArray)
  }
}
