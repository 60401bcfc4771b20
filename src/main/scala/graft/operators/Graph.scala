package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Iterative graph primitives for the dedup family. */
object Graph {

  /** Estimated IN-MEMORY bytes per collected edge for the driver fast
    * paths: two boxed longs + Row overhead + the union-find / dense-index
    * map entries built from them — what the byte-aware cap
    * ([[Joins.maxRowsSized]]) multiplies the edge count by. */
  private[graft] val EdgeRowBytes = 64L

  /** Drop a superseded localCheckpoint's storage blocks. Only call on a
    * frame that will never be scanned again — its lineage is truncated,
    * so the blocks cannot be recomputed. Without this, every propagation
    * pass would leave two dead checkpointed label frames in executor
    * storage for the life of the job. (Spark logs a WARN for every
    * unpersist of a locally-checkpointed RDD by design; here it is the
    * intended effect, not a recompute hazard.) */
  private[graft] def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
    case _              => () // not a checkpoint frame; nothing to drop
  }

  /** Connected components by min-label propagation over an undirected edge
    * list: every vertex converges to the smallest id reachable from it —
    * the canonical document of its near-duplicate cluster.
    *
    * Each iteration is one join (current labels onto the symmetric edge
    * list) plus one groupBy-min plus one pointer-jumping self-join, all
    * shuffling on well-distributed vertex ids; the driver sees only the
    * label-sum. The jump makes label reach DOUBLE per pass, so iteration
    * count is O(log component diameter): dense near-dup cliques converge
    * in 2-3 passes, and even a path/chain-shaped component (chained
    * borderline near-dups) of length L needs only ~log₂ L passes, far
    * under maxIters where plain propagation is O(L) and would throw.
    * `localCheckpoint` truncates the growing lineage each pass.
    *
    * Deterministic: the fixpoint (min reachable id per vertex) is unique
    * regardless of execution schedule, so converged output is
    * partition-invariant even though intermediate labels are not.
    *
    * @param edges    (src, dst) pairs, undirected (one direction given).
    *                 Every endpoint must also appear in `vertices` (both
    *                 callers satisfy this: pairs are generated from the
    *                 corpus the vertex list scans) — for dangling
    *                 endpoints the two size paths legitimately disagree
    *                 (the loop emits rows for them, the fast path does
    *                 not), so that input is out of contract.
    * @param vertices (id) — every vertex, including isolated ones; same
    *                 id type as the edge endpoints
    * @param maxIters hard cap on passes; if the fixpoint is NOT reached
    *                 (a component of diameter > ~2^maxIters) the labels
    *                 would be silently wrong, so this THROWS instead of
    *                 returning unconverged output
    * @param allowDriverFastPath false pins the distributed loop even for
    *                 graphs under the broadcast cap (q38 does, so the
    *                 loop keeps a driver-verified oracle row)
    * @return (id, comp) with comp = min id in the component
    */
  def connectedComponents(edges: DataFrame, vertices: DataFrame,
                          maxIters: Int = 50,
                          allowDriverFastPath: Boolean = true): DataFrame = {
    // Materialize the edge list ONCE: every iteration joins against it
    // (and the fast-path decision below counts it), and without a
    // checkpoint each pass re-executes the whole upstream candidate-
    // generation pipeline (for near-dup edges: shingling + MinHash + the
    // LSH bucket join over the full corpus). Null endpoints are dropped
    // up front: the loop's joins would drop them anyway, and the fast
    // path's collect must never NPE on what the loop silently tolerates.
    val es = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .localCheckpoint()
    // Size-conditional, like Joins.blockJoin: a pair graph under the
    // broadcast row cap is solved by union-find ON THE DRIVER — the edge
    // list is by construction orders smaller than the corpus, and a
    // ~log(diameter) ladder of tiny shuffle jobs (observed: 12 passes ≈
    // 4 s for a 2,607-edge graph) is pure orchestration overhead for a
    // microsecond problem. VERTICES are never collected (they scale with
    // the corpus, not the graph): only edge-touched ids enter the
    // broadcast label map; isolated vertices keep their own id via the
    // left join below. Same unique fixpoint (min id per component), so
    // the choice of path is invisible in the output. The cap is the
    // shared one from Joins (spark.graft.broadcastMaxRows): at its 2M
    // default the one-direction collect is a few hundred MB of transient
    // boxed rows on the driver — size the cap to the driver, same as for
    // the broadcast pair joins. The id-type gate keeps exotic callers
    // (non-long ids) on the loop, whose joins are type-generic.
    val idsAreLong = (es.schema ++ vertices.schema).forall(_.dataType ==
      org.apache.spark.sql.types.LongType)
    // BYTE-AWARE cap (r15): rows × estimated in-memory row width (two
    // boxed longs + Row + union-find map-entry overhead) against the
    // shared byte budget, min'd with the row cap — see Joins.maxRowsSized
    if (allowDriverFastPath && idsAreLong &&
        es.count() <= Joins.maxRowsSized(es, Graph.EdgeRowBytes)) {
      val out = driverComponents(es, vertices)
      release(es)
      return out
    }
    val sym = es
      .union(es.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint()
    release(es) // superseded: the loop only ever joins against sym
    var labels = vertices.select(col("id"), col("id").as("comp"))
      .localCheckpoint()
    // Convergence witness: min-propagation is MONOTONE — a label only ever
    // decreases, and ids are non-negative — so Σcomp strictly decreases on
    // any change and convergence ⟺ the sum is unchanged. One cheap scan of
    // the checkpointed labels per pass, instead of a labels⋈labels join.
    def labelSum(df: DataFrame): Long = // coalesce: sum of zero rows is NULL
      df.agg(coalesce(sum(col("comp")), lit(0L))).head().getLong(0)
    var prevSum = labelSum(labels)
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val prev = labels
      val viaNeighbors = sym.join(labels, sym("src") === labels("id"))
        .select(sym("dst").as("id"), col("comp"))
      // checkpointing BEFORE the self-join below matters twice over: it
      // truncates lineage, and it gives the join two leaf scans (a self-
      // join over fresh union lineage trips Catalyst's union constraint
      // rewrite on Spark 4.1: "key not found" during optimization)
      val propagated = labels.union(viaNeighbors)
        .groupBy("id").agg(min("comp").as("comp"))
        .localCheckpoint()
      val pSum = labelSum(propagated)
      if (pSum == prevSum) {
        // sum unchanged across a propagation AND the previous jump — both
        // monotone, so nothing moved: the propagation fixpoint is reached,
        // where labels are constant per component and a jump is identity.
        converged = true
        labels = propagated
      } else {
        prevSum = pSum
        // Pointer jumping: follow each label one hop (comp ← comp's comp)
        // so reach DOUBLES per pass instead of growing by one —
        // convergence in O(log diameter), which is what makes path-shaped
        // components (chained near-dups A~B~C~…) converge long before
        // maxIters where plain propagation is O(diameter) and throws.
        // Safe: every label IS the id of a reachable vertex and
        // labels(x) ≤ x, so a jump only lowers labels and never leaves
        // the component — same unique fixpoint. Inner join is total:
        // every comp value is a vertex id present in `propagated`.
        val right = propagated
          .select(col("id").as("jid"), col("comp").as("jcomp"))
        labels = propagated.join(right, col("comp") === col("jid"))
          .select(col("id"), col("jcomp").as("comp"))
          .localCheckpoint()
        release(propagated) // consumed by the jump's eager checkpoint above
      }
      release(prev) // superseded by this pass's labels
      it += 1
    }
    release(sym)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters iterations — " +
          "component diameter exceeds the cap; raise maxIters")
    labels
  }

  /** Small-graph fast path: union-find with path compression over the
    * collected (capped — see caller) ONE-direction edge list, then a
    * broadcast join labels the distributed vertices. Result is the
    * identical unique fixpoint: min id per component for edge-touched
    * vertices, own id for isolated ones. */
  private def driverComponents(es: DataFrame, vertices: DataFrame): DataFrame = {
    // LongMap: open-addressed on primitive keys — no per-entry boxing, a
    // third of HashMap[Long, Long]'s footprint at the 2M-edge cap
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression: point every node on the walk at the root
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    // bind src/dst BY NAME, as driverPageRank does
    es.select(col("src"), col("dst")).collect().foreach { row =>
      val a = row.getLong(0); val b = row.getLong(1)
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(ra) = rb
    }
    val minOf = scala.collection.mutable.LongMap.empty[Long]
    parent.keysIterator.foreach { v =>
      val r = find(v)
      minOf(r) = math.min(minOf.getOrElse(r, Long.MaxValue), v)
    }
    val s = vertices.sparkSession
    import s.implicits._
    val labelMap = parent.keysIterator.map(v => (v, minOf(find(v)))).toSeq
      .toDF("id", "comp_m")
    vertices.select(col("id"))
      .join(broadcast(labelMap), Seq("id"), "left")
      .select(col("id"), coalesce(col("comp_m"), col("id")).as("comp"))
  }

  /** PageRank in exact integer micro-units — the authority score of a
    * crawl/host graph (the Common Crawl host-rank quality signal a
    * training-data pipeline feeds its source weighting), and the second
    * iterative pattern beside [[connectedComponents]]: CC propagates a
    * MIN (order-free, converges to a unique fixpoint), PageRank iterates
    * a weighted SUM — which is only engine-exact because every step is
    * integer arithmetic: ranks live in micro-units, each contribution is
    * the truncating quotient `r * dampingPm div 1000 div out_deg`, and
    * the per-node update adds a constant base. Integer sums are
    * associative, so the result is partition-invariant and a SQL oracle
    * with the same truncation matches bit-for-bit (floating-point
    * PageRank would drift by summation order on every shuffle).
    *
    * Scale shape per iteration: one join of the rank vector onto the
    * edge list (edges carry their out_deg and are partitioned by src
    * ONCE, checkpointed, and reused — only the rank vector, one row per
    * node, moves per pass) and one groupBy(dst) with map-side partial
    * sums. The driver holds nothing; lineage is truncated per pass and
    * superseded checkpoints are released ([[release]]).
    *
    * Dangling nodes (no out-edges — real crawl graphs are directed and
    * full of them) are handled per iteration the standard way: their
    * damped rank mass is redistributed evenly over ALL nodes instead of
    * leaking. Integer-exact like everything else: the dangling sum is one
    * scalar agg over the rank vector (the dangling node SET is static and
    * computed once), the per-node share is the truncating quotient by the
    * node count, and the division remainder goes to the deterministic
    * min-id node, so total mass is conserved to within per-op truncation
    * and a SQL oracle with the same arithmetic matches bit-for-bit
    * (PageRankSpec pins both). A graph with no dangling nodes skips the
    * per-iteration agg entirely and computes exactly what it always did
    * (q130's symmetric trade graph).
    *
    * @param edges     (src, dst) DIRECTED pairs; pass both directions for
    *                  an undirected graph.
    * @param iters     fixed iteration count (the oracle unrolls it)
    * @param dampingPm damping in per-mille (850 = the canonical 0.85)
    * @return (id, r) with r the final rank in micro-units; initial rank
    *         is 1e6 per node, per-node base is 1000·(1000−dampingPm)
    */
  def pageRank(edges: DataFrame, iters: Int, dampingPm: Int = 850,
               allowDriverFastPath: Boolean = true): DataFrame = {
    // materialize the caller's edge pipeline ONCE (the connectedComponents
    // discipline): deg/nodes/e below each launch their own jobs, and an
    // unmaterialized `edges` (a join → distinct → union in q130) would
    // re-execute per derivation
    val es = edges.localCheckpoint()
    // Size-conditional driver fast path — the [[connectedComponents]]
    // discipline applied to the second iterative operator: a rank graph
    // under the broadcast row cap is 5 integer passes over an in-memory
    // edge array (microseconds), while the distributed loop pays
    // (join + groupBy + left-join + checkpoint) × iters of orchestration
    // for it — measured ~2 s per query at sf0.1 on a ~0.5M-edge graph.
    // Every step below is the SAME truncating integer arithmetic as the
    // loop, and integer sums are order-free, so the fast path computes the
    // identical unique result (PageRankSpec pins driver ≡ distributed on
    // both graph shapes). Vertices are edge-endpoints by construction
    // (PageRank has no isolated-vertex contract — nodes are derived FROM
    // the edge list in both paths). q133 pins the loop off this path so
    // the distributed dangling branch keeps its oracle-verified row
    // (the q38/q67 branch-coverage discipline); q130 takes the adaptive
    // default. The cap is the shared Joins one (spark.graft.
    // broadcastMaxRows): past it — any graph that could strain the
    // driver — the distributed loop below runs unchanged.
    val idsAreLong = es.schema.forall(_.dataType ==
      org.apache.spark.sql.types.LongType)
    // same byte-aware cap as connectedComponents (r15)
    if (allowDriverFastPath && idsAreLong &&
        es.count() <= Joins.maxRowsSized(es, Graph.EdgeRowBytes)) {
      val out = driverPageRank(es, iters, dampingPm)
      release(es)
      return out
    }
    val deg = es.groupBy(col("src")).agg(count(lit(1)).as("out_deg"))
    val nodes = es.select(col("src").as("id"))
      .union(es.select(col("dst").as("id"))).distinct()
      .localCheckpoint()
    // the dangling node set is STATIC (out-degree never changes): one
    // anti-join at setup, consulted by one scalar agg per iteration
    val dangling = nodes
      .join(deg.select(col("src").as("id")), Seq("id"), "left_anti")
      .localCheckpoint()
    // (src, dst, out_deg) clustered by src once — every pass joins the
    // rank vector against this layout without moving the edges again
    val e = es.join(deg, Seq("src"))
      .transform(graft.operators.Joins.keyRepartition(_, col("src"))).localCheckpoint()
    release(es) // e and dangling carry everything the loop needs
    val hasDangling = dangling.limit(1).count() > 0
    val nNodes = if (hasDangling) nodes.count() else 0L
    val minId = if (hasDangling)
      nodes.agg(min(col("id"))).head.getLong(0) else 0L
    var ranks = nodes.withColumn("r", lit(1000000L)).localCheckpoint()
    val base = 1000L * (1000 - dampingPm)
    for (_ <- 1 to iters) {
      val contrib = e.join(ranks, e("src") === ranks("id"))
        .select(col("dst").as("id"),
          expr(s"r * $dampingPm div 1000 div out_deg").as("c"))
      val summed = nodes
        .join(contrib.groupBy(col("id")).agg(sum(col("c")).as("s")),
          Seq("id"), "left")
      // damped dangling mass, split evenly; remainder to the min-id node
      // (sum FIRST, one truncating damp — the oracle mirrors the order).
      // FOLDED into the iteration plan as a cross-joined 1-row aggregate
      // (r15, VERDICT r14 item 5): the per-iteration `.head` collect was
      // a synchronous driver job per pass — iters extra job round-trips
      // on the only multi-second distributed loop. The broadcast
      // nested-loop join against one row replays the IDENTICAL integer
      // arithmetic inside the plan (truncating `div`, non-negative `%`),
      // so ranks are bit-identical (PageRankSpec pins the ladder).
      val next = (if (hasDangling) {
        val dm = ranks.join(dangling, Seq("id"), "left_semi")
          .agg(expr(s"coalesce(sum(r), CAST(0 AS BIGINT)) * $dampingPm " +
            "div 1000").as("__dmass"))
          .select(expr(s"__dmass div $nNodes").as("__share"),
            expr(s"__dmass % $nNodes").as("__rem"))
        summed.crossJoin(broadcast(dm)).select(col("id"),
          (lit(base) + col("__share") + coalesce(col("s"), lit(0L)) +
            when(col("id") === lit(minId), col("__rem")).otherwise(lit(0L)))
            .as("r"))
      } else
        summed.select(col("id"),
          (lit(base) + coalesce(col("s"), lit(0L))).as("r")))
        .localCheckpoint()
      release(ranks)
      ranks = next
    }
    // the final ranks checkpoint is the return value; its inputs are done
    release(e)
    release(nodes)
    release(dangling)
    ranks
  }

  /** Small-graph PageRank: the distributed loop's exact integer recurrence
    * over a collected (capped — see caller) edge array. Contributions,
    * dangling redistribution and the min-id remainder follow the loop's
    * arithmetic operation for operation, so the result is bit-identical —
    * integer sums are associative, so neither path depends on iteration
    * order. Primitive arrays throughout: no per-edge boxing at the 2M cap. */
  private def driverPageRank(es: DataFrame, iters: Int,
                             dampingPm: Int): DataFrame = {
    // bind src/dst BY NAME like the distributed loop does (r14 advice):
    // the fast-path guard only checks that all columns are Long, so a
    // frame with an extra Long column or (dst, src) order would
    // otherwise silently rank the transposed graph
    val rows = es.select(col("src"), col("dst")).collect()
    val m = rows.length
    val src = new Array[Int](m)
    val dst = new Array[Int](m)
    // dense node indexing in first-seen order; ids kept for the output
    val idx = scala.collection.mutable.LongMap.empty[Int]
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    def nodeOf(x: Long): Int = idx.getOrElse(x, {
      val i = ids.length
      idx(x) = i
      ids += x
      i
    })
    var i = 0
    while (i < m) {
      val r = rows(i)
      src(i) = nodeOf(r.getLong(0))
      dst(i) = nodeOf(r.getLong(1))
      i += 1
    }
    val n = ids.length
    val outDeg = new Array[Long](n)
    i = 0
    while (i < m) { outDeg(src(i)) += 1L; i += 1 }
    var hasDangling = false
    var minId = Long.MaxValue
    var j = 0
    while (j < n) {
      if (outDeg(j) == 0L) hasDangling = true
      if (ids(j) < minId) minId = ids(j)
      j += 1
    }
    val base = 1000L * (1000 - dampingPm)
    var ranks = Array.fill(n)(1000000L)
    var it = 0
    while (it < iters) {
      // damped dangling mass, split evenly; remainder to the min-id node
      // (sum FIRST, one truncating damp — the loop and oracle's order)
      var dmass = 0L
      if (hasDangling) {
        var k = 0
        while (k < n) { if (outDeg(k) == 0L) dmass += ranks(k); k += 1 }
        dmass = dmass * dampingPm / 1000L
      }
      val share = if (hasDangling) dmass / n else 0L
      val rem = if (hasDangling) dmass % n else 0L
      val next = Array.fill(n)(base + share)
      if (hasDangling) {
        var k = 0
        while (k < n) { if (ids(k) == minId) next(k) += rem; k += 1 }
      }
      var e = 0
      while (e < m) {
        next(dst(e)) += ranks(src(e)) * dampingPm / 1000L / outDeg(src(e))
        e += 1
      }
      ranks = next
      it += 1
    }
    val s = es.sparkSession
    import s.implicits._
    (0 until n).map(k => (ids(k), ranks(k))).toDF("id", "r")
  }
}
