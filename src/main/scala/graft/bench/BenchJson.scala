package graft.bench

/** The bench's one JSON writer. The `stages` object is built from ordered
  * [[Block]]s of keys; every value renders by one rule ([[KV.json]]: the
  * r1/r2/r2t formats; r2t prints counts and flags as integers), and one per-key
  * classification ([[detail]]) decides what the stdout line leaves to the
  * full artifact.
  *
  * TWO artifacts are built from the same blocks: the COMPLETE line
  * (stderr + BENCH_FULL.json beside the repo — every block, full stores
  * splits, calibration arrays) and the stdout line the driver tails. The
  * r08 line already measured 1930 chars against the driver's 2000-char
  * window (its HEAD was truncated); adding calibration + family-wide
  * counts unconditionally would cut ~300 chars off the front — so the
  * stdout line takes blocks in priority order under an explicit budget
  * and the full artifact carries the rest. Priority is the block order:
  * calibration (the burst verdict — r8's top fix), scale10 walls
  * (attribution), interp throughput (the BASELINE comparison — it must
  * never lose its place to a store pair), the stores cold-vs-store
  * headline, atlas throughput, the 10x atlas profile ratios, the forced
  * fallback, cores/reps, then the raw row counts. */
object BenchJson {
  /** How one number renders. */
  type Fmt = Double => String

  def r1(x: Double): String = "%.1f".formatLocal(java.util.Locale.ROOT, x)

  // seconds at TWO decimals: 104 queries × 1 saved char buys ~100 chars
  // of tail-window margin (the full line measured 1642 of the driver's
  // 2000-char tail; r03 was lost to exactly this), and 10 ms resolution
  // still resolves any regression worth chasing
  def r2(x: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, x)

  // trailing-zero trim for query and stage seconds ("0.50"→"0.5",
  // "1.00"→"1") — ~50 more chars of tail-window margin across ~116
  // queries at zero resolution cost (the trimmed form is the same
  // number); an integral value — a count, a flag, a core count — renders
  // as an integer
  def r2t(x: Double): String =
    new java.math.BigDecimal(r2(x)).stripTrailingZeros.toPlainString

  val bool: Fmt = x => (x != 0.0).toString

  /** One key with one number, or an array of them. */
  final case class KV(key: String, xs: Seq[Double], fmt: Fmt,
                      array: Boolean = false) {
    def json: String = "\"" + key + "\":" +
      (if (array) xs.map(fmt).mkString("[", ",", "]") else fmt(xs.head))
  }

  def kv(key: String, x: Double, fmt: Fmt): KV = KV(key, Seq(x), fmt)

  /** Deterministic counts, never min-merged: candidate and survivor
    * counts, and the stores stage's q129 row and pruning counts (its
    * other `…scan` keys are seconds). */
  def isCount(k: String): Boolean = k.endsWith("cand") || k.endsWith("out") ||
    StoreCounts(k)

  private val StoreCounts = Set("q129rows", "q129scan", "q129scan_app")

  /** Verdict flags (`cont`/`contended`, `slow`, the per-query `q43slow`). */
  def isFlag(k: String): Boolean = k.startsWith("cont") || k.endsWith("slow")

  /** A named block of the `stages` object: nested under its name, or
    * spliced flat into `stages`. An empty block renders nothing. */
  final case class Block(name: String, kvs: Seq[KV], nested: Boolean = true) {
    def json(keep: KV => Boolean): Option[String] = kvs.filter(keep) match {
      case Seq() => None
      case ks => Some(ks.map(_.json).mkString(
        if (nested) "\"" + name + "\":{" else "", ",", if (nested) "}" else ""))
    }
  }

  /** A stage's block: every value in the trimmed form (the 123-query
    * line leaves the stage blocks ~100 chars of headroom, and "6.9" is
    * the same number); counts and flags come out as integers. */
  def stage(name: String, keys: Seq[(String, Double)]): Block =
    Block(name, keys.map { case (k, v) => kv(k, v, r2t) })

  private val StageForensics = Set("band", "wall1", "effmin1")

  /** True for a key the stdout line drops; the full artifact keeps every
    * key. A CLEAN verdict flag (0) is implicit on the stdout copy — a
    * flag earns its line space when it fires. Otherwise, per block:
    *  - calib keeps the verdict OUTPUTS (effmin, the wall, the flag) and
    *    leaves the per-sample arrays and the inputs (procs, quota,
    *    expected — a constant — and frac) to the full artifact: at 123
    *    queries on the line, the eff array alone decided whether the
    *    stores block landed or was evicted;
    *  - scale10 drops the deterministic counts, the …candsec attribution
    *    timings, the re-run forensics (wall1/effmin1), the band anchor
    *    and effmin (what the flags were computed FROM) — on the r13
    *    closing run ~30 such chars were exactly what evicted the stores
    *    headline;
    *  - stores keeps THE ROUND'S representative store pair (q129, the
    *    Z-store member) plus the stage's own verdict; the other pairs,
    *    the build splits and the pruning counts live in BENCH_FULL;
    *  - atlas_profiles, last-priority on the line, drops the band and the
    *    re-run forensics;
    *  - interp drops the per-core figure: it divides a constant by the
    *    core count (the flat-wall corollary, SCALING.md), so
    *    cross-core-count readers misread it. */
  def detail(block: String, kv: KV): Boolean = {
    val k = kv.key
    (isFlag(k) && kv.xs == Seq(0.0)) || (block match {
      case "calib" => !Set("wall2", "effmin", "wall", "contended")(k)
      case "scale10" => isCount(k) || k.endsWith("candsec") || k == "effmin" ||
        StageForensics(k)
      case "stores" => !Set("q129_cold", "q129", "wall", "cont", "slow")(k)
      case "atlas_profiles" => StageForensics(k)
      case "interp" => k.endsWith("_per_core")
      case _ => false
    })
  }

  /** Everything on the line outside `stages`. Failed queries are OMITTED
    * from `queries` (no bogus seconds) and named under `failed`; `rerun`
    * appears exactly when a wall needed its previous-artifact band
    * re-run. Keys are the unambiguous "qNN" prefix: full query names
    * alone are ~2 KB, and the r03 line was truncated mid-key. */
  final case class Head(total: Double, queries: Seq[(String, Double)],
                        failed: Seq[String], rerun: Seq[String], sf: String) {
    def line(blocks: Seq[String]): String = {
      def names(key: String, ns: Seq[String]): String =
        if (ns.isEmpty) ""
        else ns.map("\"" + _ + "\"").mkString(",\"" + key + "\":[", ",", "]")
      "{\"metric\":\"total\",\"value\":" + r2(total) + ",\"unit\":\"sec\"," +
        "\"queries\":" + queries.map { case (q, v) => kv(q, v, r2t).json }
          .mkString("{", ",", "}") + names("failed", failed) +
        names("rerun", rerun) + ",\"stages\":" + blocks.mkString("{", ",", "}") +
        ",\"sf\":\"" + sf + "\"}"
    }
  }

  /** stdout budget: the driver tails 2000 chars and sbt appends a ~66-char
    * "[success]" line; 1920 leaves real margin while fitting the stores
    * block beside 123 queries. */
  val LineBudget = 1920

  /** The full line and the stdout line. The stdout line is greedy by
    * block priority: a block that does not fit is skipped (it still
    * lives in the full artifact) and NAMED on stderr (r10: the full
    * calib block silently pushed the scale10 walls off the parsed line),
    * and later, smaller blocks may still land. */
  def lines(head: Head, blocks: Seq[Block],
            budget: Int = LineBudget): (String, String) = {
    var kept = Seq.empty[String]
    blocks.foreach { b =>
      b.json(kv => !detail(b.name, kv)).foreach { s =>
        if (head.line(kept :+ s).length <= budget) kept :+= s
        else System.err.println(s"[bench] stdout evicted: ${b.name} (${s.length} chars)")
      }
    }
    (head.line(blocks.flatMap(_.json(_ => true))), head.line(kept))
  }
}
