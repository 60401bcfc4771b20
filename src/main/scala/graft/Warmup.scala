package graft

import graft.argo.Interpolator
import graft.functions.{Interp, Seawater, Teos10}

/** Drives the hot numeric kernels enough for HotSpot to C2-compile them
  * BEFORE queries are timed. In local mode executors share the driver JVM,
  * so compiled code carries straight into query execution; without this a
  * single-shot query pays interpreter/C1 cost for the spline and TEOS-10
  * polynomials (observed 2-3x on the atlas pipeline's first run, and a
  * measured cold-vs-warm gap of 15.7 s vs 3.6 s on climEAPE T25).
  *
  * Must exercise the PRODUCTION EOS ([[Teos10]]) — warming the gammat
  * bisection through SimplifiedEos compiles a different rhoInP closure and
  * leaves the 75-term z-block fold interpreted in the first timed query.
  */
object Warmup {
  def run(): Unit = {
    val pres = Array.tabulate(120)(_ * 17.0)
    val qc = Array.fill(120)(1.0)
    val prefD = graft.argo.ArgoSchemas.Pref
    // a rho*cf-like ascending ladder for the R14 displacement lookup
    val ladder = Array.tabulate(64)(k => 1025.0 + k * 0.05)
    var sink = 0.0
    var it = 0
    while (it < 4000) {
      val amp = 16.0 + (it % 7)
      val temp = pres.map(p => 2.0 + amp * math.exp(-p / 500.0))
      val psal = pres.map(p => 34.5 + 0.5 * math.exp(-p / 300.0))
      // cycle through ALL registered methods (cubic, PCHIP, MR-PCHIP) —
      // each gets ~1/3 of the iterations, still far past the C2 threshold
      sink += Interpolator.warmKernel(pres, temp, psal, qc,
        algo = it % Interpolator.Methods.size)
      sink += Seawater.gammatAnalytic(35.5, 2.0 + (it % 25), Teos10)._1
      sink += Teos10.rho(35.5, 10.0 + (it % 20), 500.0)
      sink += Teos10.rhoInP(35.5, 10.0 + (it % 20))((it % 64) * 30.0)
      sink += Teos10.soundSpeed(35.5, 10.0, (it % 64) * 30.0)
      sink += Interp.linear(pres, temp, 100.0 + (it % 1900))
      sink += Interp.linearLadder(ladder, prefD, 1025.0 + (it % 32) * 0.1)
      it += 1
    }
    // sink is never MinValue; the check defeats dead-code elimination
    if (sink == Double.MinValue) println(sink)
  }
}
