package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector primitives over `array<float>` embedding columns.
  *
  * All arithmetic is done in Double after an explicit element cast (float →
  * double is exact), with left-to-right fold order, so Spark and the DuckDB
  * oracles produce bit-identical results. Built from codegen'd higher-order
  * functions — no UDFs in the hot path.
  */
object VecFns {
  /** Dot product of two array<double> columns (left-to-right fold). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** DuckDB twin: `a`,`b` are list expressions of the same length `n`. */
  def sqlDot(a: String, b: String, n: Int): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(range(1, ${n + 1}), i -> " +
      s"CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (acc, x) -> acc + x)"

  /** L2 norm — compiled sum-of-squares kernel ([[VecSumSqExpr]], r15):
    * the HOF form `sqrt(dot(a, a))` evaluated one interpreted lambda per
    * ELEMENT on every corpus-wide scan (norm is computed per row in every
    * ANN/near-dup payload projection). Bit-identical: the same
    * left-to-right double fold over the same widened elements — the HOF
    * remains the executable spec, VecFnsSpec pins native ≡ HOF. */
  def norm(a: Column): Column = sqrt(sumSq(a))

  /** Compiled Σx² over an array<float>/array<double> column — the
    * validity-gate / norm kernel. Same fold (and NULL-element semantics)
    * as `aggregate(cast(a as array<double>), 0.0, (acc, x) -> acc + x*x)`. */
  def sumSq(a: Column): Column = VecSumSqExpr.sumSqNative(a)

  def sqlNorm(a: String, n: Int): String = s"sqrt(${sqlDot(a, a, n)})"

  /** Deterministic ±1 sign vector of pseudo-random hyperplane `p` over
    * dims 1..n — a STRONG splitmix-style mix, precomputed on the driver
    * and inlined as LITERALS into both engines' expressions (the planes
    * are data-independent constants, so literal tables cost nothing and
    * make mixing quality a free choice).
    *
    * Why not hash inline in the expression: the previous affine-parity
    * family `((i·(2p+3) + 97p+13) % HashMod) % 2` was degenerate — for
    * realistic (p, i) the affine value never reaches HashMod, so the
    * outer parity collapses to parity(i + p + 1): every plane was one of
    * exactly TWO complementary sign patterns, and sign-LSH produced 2
    * occupied buckets on ANY data — quadratic candidate generation that
    * the scale10 bench stage caught at 10× (measured: 16 nominal buckets,
    * 2 occupied, 100M candidate pairs at 20k vectors). */
  def planeSignsJvm(p: Int, n: Int): IndexedSeq[Double] =
    (1 to n).map { i =>
      var h = p.toLong * 0x9E3779B97F4A7C15L + i.toLong * 0xC2B2AE3D27D4EB4FL
      h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
      if ((h & 1L) == 1L) 1.0 else -1.0
    }

  /** The dims (1-based) where plane `p` is +1 — for consumers that fold
    * ±x by sign (the centered-bucket thresholds). */
  def posDims(p: Int, n: Int): Seq[Int] = {
    val s = planeSignsJvm(p, n)
    (1 to n).filter(i => s(i - 1) > 0)
  }

  /** Projection of the vector onto pseudo-random hyperplane `p` —
    * compiled kernel ([[PlaneProjExpr]], r15): the HOF form below ran an
    * interpreted lambda per element × plane × row on every LSH band
    * build. Bit-identical (same left-to-right double fold over the same
    * sign literals); [[planeProjHof]] remains the executable spec,
    * VecFnsSpec pins native ≡ HOF. */
  def planeProj(vec: Column, p: Int, n: Int): Column =
    PlaneProjExpr.planeProjNative(vec, planeSignsJvm(p, n))

  /** The HOF executable spec of [[planeProj]] (kept for the spec pin). */
  private[graft] def planeProjHof(vec: Column, p: Int, n: Int): Column = {
    val signs = lit(planeSignsJvm(p, n).toArray)
    aggregate(sequence(lit(1), lit(n)), lit(0.0),
      (acc, i) => acc + element_at(vec, i) * element_at(signs, i))
  }

  def sqlPlaneProj(vec: String, p: Int, n: Int): String = {
    val signs = planeSignsJvm(p, n)
      .map(s => if (s > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(range(1, ${n + 1}), i -> " +
      s"CAST($vec[i] AS DOUBLE) * ($signs)[i])), (acc, x) -> acc + x)"
  }

  /** Identity over a bucket value, marked non-deterministic — which it is
    * NOT (it forwards its argument bit-for-bit; fixtures and oracles are
    * unaffected). The marker exists purely to stop constraint propagation
    * from recording `bucketAttr <=> <whole bucket expression>` at the
    * projection: on a bucket self-join (both sides derived from the same
    * table), Spark 4.1's InferFiltersFromConstraints substitutes the join
    * key through that constraint and pushes a filter containing ONE
    * side's `vec` reference into the OTHER side's branch — an unresolvable
    * plan that fails at runtime with INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND
    * (surfaces under aggressive pruning, e.g. count() over the pairs).
    * A single cached instance so repeated builds stay `sameResult`. */
  val opaqueBucket: Column => Column = {
    val u = udf((b: Long) => b).asNondeterministic()
    u(_)
  }

  /** CENTERED sign-LSH: bit p is sign(h_p·v − h_p·μ) — the hyperplanes
    * pass through the corpus mean, not the origin. Uncentered sign-LSH
    * collapses whenever the vectors share a dominant common component
    * (sign(h·v) ≈ sign(h·μ) for every v): on the synthetic corpus FOUR
    * uncentered bits yielded exactly TWO occupied buckets — quadratic
    * candidate generation, caught empirically by the scale10 bench stage.
    * `thresh(p)` must be the identical exact value in both engines: the
    * per-plane h_p·μ built from the nano fixed-point per-dimension mean
    * (see EmbeddingQueries.planeThresholds); the comparison is then one
    * deterministic double compare per plane. */
  def lshBucketCentered(vec: Column, bits: Int, n: Int,
      thresh: Seq[Double], p0: Int = 0): Column =
    (0 until bits).map(j =>
      when(planeProj(vec, p0 + j, n) > lit(thresh(p0 + j)), lit(1L << j))
        .otherwise(lit(0L)))
      .reduce(_ + _)

  /** DuckDB twin; `thresh` is a SQL list expression (1-based) of the
    * per-plane thresholds, indexed by GLOBAL plane id `p0 + j`.
    * `p0` selects the plane block — a multi-TABLE LSH (OR-amplification:
    * a pair is a candidate if it collides in ANY table) gives table `t`
    * the planes [t·bits, (t+1)·bits). */
  def sqlLshBucketCentered(vec: String, bits: Int, n: Int,
      thresh: String, p0: Int = 0): String =
    (0 until bits).map(j =>
      s"CASE WHEN ${sqlPlaneProj(vec, p0 + j, n)} > $thresh[${p0 + j + 1}] " +
        s"THEN ${1L << j} ELSE 0 END")
      .mkString("(", " + ", ")")

  // ---- compiled kernel (hot path) -----------------------------------------
  /** Compiled twin of [[dot]]: the same left-to-right double fold, so the
    * result is BIT-IDENTICAL to the HOF form (and the DuckDB oracle) — but
    * a tight JVM loop instead of a per-element interpreted lambda. Use in
    * per-PAIR similarity paths (joins), where candidate count × dimension
    * dominates; the HOF form remains the executable spec. */
  val dotJvm: (Column, Column) => Column = {
    val u = udf((a: Seq[Double], b: Seq[Double]) => {
      var acc = 0.0
      var i = 0
      val n = a.length
      while (i < n) { acc += a(i) * b(i); i += 1 }
      acc
    })
    u(_, _)
  }

  /** Vector packed to flat bytes (64-bit big-endian doubles — ByteBuffer's
    * default order, which [[DotPackedExpr.dot]] decodes) ONCE per row: per-PAIR
    * paths then decode a single binary value instead of a boxed
    * Seq[Double] — the array-element boxing is what dominates pairwise
    * similarity once candidates × dimension reach the tens of millions. */
  val packVec: Column => Column = {
    // null-safe by hand: Spark passes a null Seq straight into the lambda
    // (only primitive-typed UDF args get the automatic null short-circuit)
    val u = udf((a: Seq[Double]) =>
      if (a == null) null
      else {
        val bb = java.nio.ByteBuffer.allocate(8 * a.length)
        var i = 0
        while (i < a.length) { bb.putDouble(a(i)); i += 1 }
        bb.array()
      })
    u(_)
  }

  /** Dot over two packed vectors; same left-to-right fold → bit-identical
    * to [[dot]]/[[sqlDot]]. Native codegen expression (not a UDF): the
    * per-pair dispatch cost is what dominates once candidates × dimension
    * reach the tens of millions — see [[DotPackedExpr]]. */
  val dotPacked: (Column, Column) => Column =
    DotPackedExpr.dotPackedNative(_, _)
}
