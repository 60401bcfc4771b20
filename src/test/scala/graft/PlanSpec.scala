package graft

/** Physical-plan quality gates: these assert the SHAPE Catalyst picks, not
  * results — a correct query whose scan reads every column, whose filter
  * runs post-scan, or whose small-dim join shuffles both sides would pass
  * every oracle and still fall over at 100 TB. Run against the smallest
  * test data (plans don't change with SF; scans are cheap).
  */
class PlanSpec extends SparkSuite {
  private val d = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, d).queryExecution.executedPlan.toString

  import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
  import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

  /** Every node of a physical plan: collect() alone stops at AQE roots
    * (no children) and never descends into expression subqueries — unwrap
    * both, or shapes hiding in a scalar subquery escape every assertion. */
  private def flattenPlan(n: SparkPlan): Seq[SparkPlan] = n match {
    case a: AdaptiveSparkPlanExec => flattenPlan(a.executedPlan)
    case other =>
      (other +: other.children.flatMap(flattenPlan)) ++
        other.subqueries.flatMap(flattenPlan)
  }

  /** First partitioning boundary walking down from `n`: "topk"
    * (TakeOrderedAndProject), "exchange", or "none". */
  private def firstBoundary(n: SparkPlan): String = n match {
    case _: TakeOrderedAndProjectExec => "topk"
    case _: ShuffleExchangeLike       => "exchange"
    case a: AdaptiveSparkPlanExec     => firstBoundary(a.executedPlan)
    case other =>
      other.children.map(firstBoundary).find(_ != "none").getOrElse("none")
  }

  test("q02: predicate pushdown and column pruning reach the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: ["), s"no pushed filters:\n$p")
    assert(!p.contains("PushedFilters: []"), s"empty pushed filters:\n$p")
    // lineitem is 16 columns; the query touches 7 — a full-width read
    // means pruning broke
    val scanCols = "FileScan parquet \\[([^\\]]*)\\]".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(scanCols.nonEmpty && scanCols.split(",").length <= 8,
      s"scan reads too many columns: $scanCols")
  }

  test("q13: small dimension joins broadcast, not shuffle") {
    val p = plan("q13_join_agg")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("q01: aggregation is partial (map-side combine before the exchange)") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("partial_"), s"no partial aggregation:\n$p")
  }

  test("q40: corpus side of the kNN is never shuffled (broadcast probes)") {
    val p = plan("q40_knn_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probe set should broadcast:\n$p")
  }

  test("q71: atlas pipeline joins broadcast and aggregates partially") {
    val p = plan("q71_argo_atlas")
    assert(p.contains("BroadcastHashJoin"), s"grid side should broadcast:\n$p")
    assert(p.contains("partial_"), s"profile-mean must pre-aggregate map-side:\n$p")
  }

  test("blockJoin: broadcast under the cap, salted shuffle (no broadcast) above it") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = (0 until 200).map(i => (i, i % 3)).toDF("id", "block")
    val l = base.select(col("block"), col("id").as("d1"))
    val r = base.select(col("block"), col("id").as("d2"))
    def run(buildRows: Long) = graft.operators.Joins
      .blockJoin(l, r, Seq("block"), hash(col("d1")), buildRows)
      .filter(col("d1") < col("d2"))
    val small = run(buildRows = 200)
    assert(small.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "under the cap the build side must broadcast")
    val big = run(buildRows = graft.operators.Joins.BroadcastMaxRows + 1)
    val bigPlan = big.queryExecution.executedPlan.toString
    assert(!bigPlan.contains("Broadcast"),
      s"above the cap the build side must NOT broadcast:\n$bigPlan")
    // the salted fallback computes the identical pair set
    val expect = small.select("d1", "d2").as[(Int, Int)].collect().toSet
    val got = big.select("d1", "d2").as[(Int, Int)].collect().toSet
    assert(got === expect)
  }

  test("q46: quantized kNN keeps the q40 shape — probes broadcast, no sort-merge") {
    val p = plan("q46_quantized_knn")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probe set should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not sort-merge:\n$p")
  }

  test("q45: trained-IVF query broadcasts the centroid table") {
    val p = plan("q45_ann_ivf_kmeans")
    assert(p.contains("BroadcastExchange"), s"centroids should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not sort-merge:\n$p")
  }

  test("q90: media decode stays inside the SQL engine (no RDD scan barrier)") {
    val p = plan("q90_multimodal_decode")
    assert(!p.contains("ExistingRDD"),
      s"df.rdd round-trip re-entered the plan as an RDD scan:\n$p")
    assert(p.contains("MapPartitions"), s"expected typed mapPartitions:\n$p")
  }

  test("q47: the Count-Min sketch aggregates partially (one matrix per partition)") {
    val p = plan("q47_countmin_hh")
    // the whole point of the sketch at scale: each partition reduces into
    // a local counter matrix and only matrices cross the exchange
    assert(p.contains("partial_"), s"sketch must pre-aggregate map-side:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row sketch should broadcast to the probe side:\n$p")
  }

  test("q48: the sample predicate is evaluated scan-side, before any shuffle") {
    val p = plan("q48_hash_sample")
    // hash-mod arithmetic isn't a parquet-pushable predicate, but it must
    // run in the scan stage (Filter directly over FileScan), so 90% of
    // rows die before the groupBy exchange
    val scanStage = p.split("Exchange").last // text after the last exchange = leaf stage
    assert(scanStage.contains("Filter") && scanStage.contains("FileScan"),
      s"sample filter must sit on the scan stage:\n$p")
  }

  test("q59: the quantile histogram aggregates partially (one array per partition)") {
    val p = plan("q59_dd_quantiles")
    assert(p.contains("partial_"), s"sketch must pre-aggregate map-side:\n$p")
  }

  test("q54: repetition signals are a narrow map — no aggregation shuffle") {
    // the run-length top-bigram trick exists precisely to avoid a
    // per-bigram groupBy; only the final presentation sort may exchange
    val p = plan("q54_repetition_signals")
    assert(!p.contains("HashAggregate") && !p.contains("ObjectHashAggregate"),
      s"quality pass must not aggregate:\n$p")
  }

  test("q53: the naive distance theta-join is rewritten to an equi-join") {
    val p = plan("q53_spatial_theta_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"SpatialJoinRewrite did not fire:\n$p")
    assert(p.contains("HashJoin"), s"expected a hash equi-join:\n$p")
  }

  test("q25: explicit pivot values compile to one conditional-aggregate pass") {
    val p = plan("q25_pivot")
    // `.pivot(col, values)` with a literal value list must not spawn a
    // distinct-values job: exactly one aggregate (partial+final) and no
    // extra scan of the events table
    assert(p.contains("partial_"), s"pivot must pre-aggregate map-side:\n$p")
    assert("FileScan parquet".r.findAllIn(p).length == 1,
      s"pivot should scan events exactly once:\n$p")
  }

  test("q65: BM25 corpus stats broadcast; the corpus itself is never shuffled") {
    val p = plan("q65_bm25_rank")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row stats side should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not sort-merge:\n$p")
    // Top-k must be distributive: per-partition heaps merged by
    // TakeOrderedAndProject, not a global sort into one partition. The rank
    // window may only ever see the 50 post-limit rows: walking down from
    // each Window, the first partitioning boundary must be the
    // TakeOrderedAndProject — an Exchange first would mean the window
    // ranks the corpus, not the top-k. (The SinglePartition exchange under
    // the global-stats aggregate is fine: it carries one partial row per
    // partition, not corpus rows.)
    assert(p.contains("TakeOrderedAndProject"), s"top-k must be TakeOrderedAndProject:\n$p")
    import org.apache.spark.sql.execution.window.WindowExec
    val exec = SparkEntry.queries("q65_bm25_rank")(spark, d).queryExecution.executedPlan
    val windows = flattenPlan(exec).collect { case w: WindowExec => w }
    assert(windows.nonEmpty, s"expected the rank window in the plan:\n$p")
    windows.foreach { w =>
      assert(firstBoundary(w.child) == "topk",
        s"rank window must sit directly on the 50-row top-k, found ${firstBoundary(w.child)}:\n$p")
    }
  }

  test("q36: exact Jaccard runs on LSH candidates, not all pairs per source") {
    // The quadratic failure mode is a self-join keyed on bare `source`
    // (a handful of giant blocks → O(n²/block) pairs regardless of how the
    // work is salted). Candidate generation must join on the (band,
    // minhash, source) bucket key, so every equi-join in the plan carries
    // more than one key; and nothing may degrade to a nested-loop/cartesian
    // pair enumeration.
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
    val exec = SparkEntry.queries("q36_ngram_jaccard")(spark, d)
      .queryExecution.executedPlan
    val nodes = flattenPlan(exec)
    assert(!nodes.exists(n => n.isInstanceOf[BroadcastNestedLoopJoinExec]
        || n.isInstanceOf[CartesianProductExec]),
      s"pair generation must not enumerate all pairs:\n$exec")
    val joins = nodes.collect { case j: BaseJoinExec => j }
    assert(joins.nonEmpty, s"expected the candidate bucket join:\n$exec")
    // the multi-key bucket join generates candidates; the single-key
    // payload joins rehydrate shingle arrays by unique doc id (linear).
    // What must never exist is a join keyed on the source block alone.
    assert(joins.exists(_.leftKeys.length >= 3),
      s"expected the (band, key, source) candidate join:\n$exec")
    joins.filter(_.leftKeys.length == 1).foreach { j =>
      assert(!j.leftKeys.head.references.exists(_.name == "source"),
        s"join on bare block key is the quadratic shape: ${j.leftKeys}\n$exec")
    }
  }

  test("q36: the corpus is shingled once — all four consumers reuse one exchange") {
    // r14: the one-shingle-pass guarantee moved from exchange reuse to a
    // checkpointed (session, corpus) memo — exchange reuse only protected
    // the STREAM subtrees, while every broadcast BUILD side still
    // re-executed the shingle pass single-threaded on the driver. The pin
    // is now direct: the query's executed plan must read the
    // materialized frames (ExistingRDD scans) and never rescan the
    // corpus parquet — a pruning change that re-introduced a documents
    // scan would re-shingle per consumer with every oracle still green.
    val df = SparkEntry.queries("q36_ngram_jaccard")(spark, d)
    df.collect()
    val fp = df.queryExecution.executedPlan.toString
    assert(!fp.contains("documents.parquet"),
      s"q36 must read the checkpointed shingle/band frames, not rescan the corpus:\n$fp")
    assert(fp.contains("ExistingRDD"),
      s"expected checkpointed-frame scans in the plan:\n$fp")
  }

  /** [[flattenPlan]] plus descent into AQE query-stage wrappers, so
    * broadcast/shuffle EXCHANGES (which hide inside stages once AQE has
    * materialized them) are reachable too. */
  private def deepFlatten(n: SparkPlan): Seq[SparkPlan] = n match {
    case a: AdaptiveSparkPlanExec => deepFlatten(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      q +: deepFlatten(q.plan)
    case other =>
      (other +: other.children.flatMap(deepFlatten)) ++
        other.subqueries.flatMap(deepFlatten)
  }

  /** The two-tier df-join contract (see TextQueries.joinDfreq). Round 5
    * broadcast the WHOLE vocabulary-sized dfreq — multi-GB at 100 TB by
    * Heaps' law; the round-4 alternative (shuffle postings by term)
    * collapses onto stopword keys. The two-tier plan must hold BOTH ends:
    *  (a) a term-keyed shuffle join may exist ONLY as the tail tier —
    *      recognizable by the `df*100 <= n_docs*headPct` bound on its
    *      dfreq side, which caps every join key at headPct% of documents
    *      (skew-free by construction);
    *  (b) every broadcast whose subtree derives from dfreq must carry a
    *      bound — a tier split (`*100`), an explicit term list (IN), or a
    *      probe-mod filter (%). An UNfiltered dfreq broadcast is the
    *      vocabulary-scale regression this pin exists to catch. */
  private def assertTwoTierTermContract(name: String): Unit = {
    val df = SparkEntry.queries(name)(spark, d)
    df.collect()
    val exec = deepFlatten(df.queryExecution.executedPlan)
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    exec.foreach {
      case j: SortMergeJoinExec
          if j.leftKeys.exists(_.references.exists(_.name == "w")) =>
        assert(j.toString.contains("* 100) <= "),
          s"term-keyed sort-merge join outside the tail tier:\n$j")
      case j: ShuffledHashJoinExec
          if j.leftKeys.exists(_.references.exists(_.name == "w")) =>
        assert(j.toString.contains("* 100) <= "),
          s"term-keyed shuffled-hash join outside the tail tier:\n$j")
      case b: BroadcastExchangeExec =>
        val s = b.child.treeString
        // a grouping-free aggregate at the broadcast root is ONE row
        // (q102's qn scalar) — bounded however deep its inputs are
        val scalarRoot = b.child.toString.linesIterator.next().contains("keys=[]")
        if (s.contains("dfreq#") && !scalarRoot)
          assert(s.contains("* 100)") || s.contains(" IN ") || s.contains("% "),
            s"vocabulary-scale dfreq broadcast without a tier/term/probe bound:\n$s")
      case _ =>
    }
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "expected the broadcast posting join")
  }

  test("q97: two-tier df join — no vocab broadcast, no skewed term shuffle") {
    assertTwoTierTermContract("q97_sparse_cosine")
  }

  test("q102: the hybrid fusion keeps q97's two-tier df-join contract") {
    assertTwoTierTermContract("q102_hybrid_rank")
  }

  test("q97/q102 tier-branch parity: forced all-head ≡ forced all-tail ≡ default") {
    // At gate scale the synthetic vocabulary is all-head (31 common
    // terms), so the tail shuffle branch would ship no rows through the
    // driver gate — force each tier to carry the WHOLE vocabulary and pin
    // result equality, the same both-branches discipline as the atlas
    // broadcast fallback (ArgoPipelineSpec).
    def run(q: String): Seq[org.apache.spark.sql.Row] =
      SparkEntry.queries(q)(spark, d).collect().toSeq
    val base = Seq("q97_sparse_cosine", "q102_hybrid_rank").map(q => q -> run(q))
    for (pct <- Seq("-1", "101")) { // -1: every term head; 101: every term tail
      spark.conf.set("spark.graft.dfHeadPct", pct)
      try base.foreach { case (q, want) =>
        assert(run(q) == want, s"$q diverged at dfHeadPct=$pct")
      } finally spark.conf.unset("spark.graft.dfHeadPct")
    }
  }

  test("embedding bucket self-joins survive count()-style pruning") {
    // Regression: with a deterministic bucket alias, Spark 4.1's constraint
    // inference pushes a filter carrying one side's `vec` into the other
    // side's branch of the bucket self-join; the plan is unresolvable and
    // only surfaces under aggressive column pruning — an eager count() over
    // the bare pair frame, exactly what a library user writes first.
    // (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND; dodged by VecFns.opaqueBucket.)
    assert(graft.queries.EmbeddingQueries.nearDupPairs(spark, d).count() >= 0)
    assert(SparkEntry.queries("q41_ann_lsh")(spark, d).count() >= 0)
    // q45's cell key is the same shape (UDF-derived join key, probe side
    // derived from the corpus frame) — empirically green today; pinned so
    // a Spark upgrade that extends the inference to it is caught here
    assert(SparkEntry.queries("q45_ann_ivf_kmeans")(spark, d).count() >= 0)
  }

  test("q41: multiprobe fans out only the BROADCAST probe side") {
    // the recall knob must stay query-time-only: the Hamming-1 flip
    // explode rides the probe branch (broadcast), never the corpus —
    // a regression that exploded the corpus side ×(b+1) would still
    // pass the oracle (same candidates ∪ more) but 5× the scan at scale
    val p = plan("q41_ann_lsh")
    assert(p.contains("BroadcastHashJoin [bucket"),
      s"candidates must come from a broadcast of the probe bands:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus side must never sort/shuffle for the band join:\n$p")
  }

  test("q43: near-dup candidates come from the bucket equi-join; scoring is native") {
    val p = plan("q43_embedding_neardup")
    assert(p.contains("BroadcastHashJoin [bucket") || p.contains("ShuffledHashJoin [bucket"),
      s"pair generation must equi-join on the LSH bucket:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the bucket join must stay hash-family (no sort of the corpus):\n$p")
    // r14: under the broadcast cap scoring is the driver-model lookup
    // (two map probes + the same DotPackedExpr.dot kernel inside one
    // compiled closure — no payload join at all); past the cap the
    // payload-join path must still score through the native dot_packed
    // expression. Pin both branches (NearDupScoreSpec pins value parity).
    val prior = spark.conf.getOption("spark.graft.broadcastMaxRows")
    spark.conf.set("spark.graft.broadcastMaxRows", "0")
    val joinPath = try plan("q43_embedding_neardup")
    finally prior match {
      case Some(v) => spark.conf.set("spark.graft.broadcastMaxRows", v)
      case None => spark.conf.unset("spark.graft.broadcastMaxRows")
    }
    assert(joinPath.contains("dot_packed"),
      s"the at-scale payload-join path must score via dot_packed:\n$joinPath")
    assert(joinPath.contains("ShuffledHashJoin"),
      s"past the cap the bucket join must salt into a shuffled hash join:\n$joinPath")
  }

  test("q66: chunking is a narrow map + generator — no aggregation shuffle") {
    val p = plan("q66_doc_chunking")
    assert(p.contains("Generate"), s"expected an explode generator:\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("ObjectHashAggregate"),
      s"chunking must not aggregate:\n$p")
  }

  test("q77: colormap raster reads the checkpointed pairs; cells aggregate partially") {
    val p = plan("q77_atlas_colormap")
    // r15: the binned profile×grid broadcast join runs ONCE inside the
    // shared pairs checkpoint (GeoQueries.pairsMemo — q50/q51/q77 each
    // re-built it, and q51's broadcast build re-ran it on the driver), so
    // q77's own plan must read the materialized rows, never re-scan
    // orders.parquet; the cells×min/max-stats join stays a 1-row
    // broadcast nested loop, and nothing may shuffle the fact side.
    assert(p.contains("Scan ExistingRDD"),
      s"q77 must read the checkpointed pairs frame:\n$p")
    assert(!p.contains("orders.parquet"),
      s"q77 must not re-run the binned join off the raw profiles:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"1-row stats side should broadcast-nested-loop (it has no equi-key):\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"nothing here warrants a sort-merge or cartesian:\n$p")
    assert(p.contains("partial_"), s"cell means must pre-aggregate map-side:\n$p")
  }

  test("two builds of the interpolation stage are sameResult (stable UDF)") {
    // ScalaUDF compares its closure by reference; if the interp kernel UDF
    // were re-created per call, a memoized frame rebuilt after GC would
    // fail CacheManager dedup and silently re-run the interpolation.
    val a = graft.queries.ArgoQueries.profilesProbe(spark, d).queryExecution.analyzed
    val b = graft.queries.ArgoQueries.profilesProbe(spark, d).queryExecution.analyzed
    assert(a.sameResult(b),
      "independently built interpolation plans must be sameResult")
  }

  test("q70 bypasses the memoized interp store; the atlas family hits it") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    // materialize the atlas family's persisted interpolated frame, the
    // way a bench/verify run would before q70's late re-run
    SparkEntry.queries("q71_argo_atlas")(spark, d).collect()
    def interpCached(name: String): Boolean =
      SparkEntry.queries(name)(spark, d).queryExecution.withCachedData.collect {
        case r: InMemoryRelation => r
      }.exists(_.output.exists(_.name == "CT")) // CT exists only post-interp
    // CacheManager substitutes any subtree sameResult to a persisted plan,
    // so this FAILS if the memoized frame is ever the bare pipeline plan:
    // q70 would silently benchmark a cache read instead of the kernel.
    assert(!interpCached("q70_argo_interp"),
      "q70 must recompute interpolation, not read the memoized store")
    assert(interpCached("q72_argo_eape_r14"),
      "atlas family should reuse the memoized interpolated store")
  }

  test("q71 bypasses the memoized atlas cells; the NetCDF export reuses them") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    // constructing q76 runs the sink eagerly and materializes the cells
    SparkEntry.queries("q76_atlas_netcdf_roundtrip")(spark, d).collect()
    def climCached(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.withCachedData.collect {
        case r: InMemoryRelation => r
      }.exists(_.output.exists(_.name == "pres")) // lowercase pres = cells
    // climPeek is READ-ONLY: it can only see a memo entry that the q76
    // run above registered — reverting q76 to a bare climTS fails here
    // (the old probe persisted on a memo miss, so it passed vacuously)
    val memoed = graft.queries.ArgoQueries.climCache.peek(spark, d)
    assert(memoed.isDefined,
      "q76 must register the memoized cells frame")
    assert(memoed.get.storageLevel.useMemory,
      "the memoized cells frame must be persisted")
    assert(climCached(memoed.get),
      "the export path must read the cached cells")
    assert(!climCached(SparkEntry.queries("q71_argo_atlas")(spark, d)),
      "q71 must aggregate the atlas, not read the memoized cells")
  }

  test("whole-stage codegen spans cover the relational hot path") {
    // AQE finalizes the plan only on execution; codegen markers appear then
    val df = SparkEntry.queries("q01_pricing_summary")(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WholeStageCodegen") || p.contains("*("),
      s"no codegen spans:\n$p")
  }

  test("q87: semantic decontamination is one narrow map — no joins, one sort exchange") {
    // The eval set rides inside the scoring kernel, so the corpus pass
    // must plan NO join of any kind and NO aggregation exchange; the only
    // partitioning boundary allowed is the final orderBy's range exchange.
    val nodes = flattenPlan(
      SparkEntry.queries("q87_semantic_decontam")(spark, d)
        .queryExecution.executedPlan)
    val joins = nodes.filter(_.nodeName.toLowerCase.contains("join"))
    assert(joins.isEmpty, s"expected a join-free plan, found: ${joins.map(_.nodeName)}")
    val shuffles = nodes.collect { case e: ShuffleExchangeLike => e }
    assert(shuffles.size <= 1,
      s"expected at most the orderBy exchange, found ${shuffles.size}")
  }

  test("q86: corpus merge anti-joins on the hash and reuses its partitioning") {
    // The in-batch dedup groupBy keys on the SAME content_hash the anti
    // join distributed on, so no exchange may sit between them: 2 join
    // inputs + 1 final sort is the ceiling however AQE sizes the sides
    // (broadcast anti at tiny SF trades a join-input exchange for the
    // groupBy's own — the count bound holds either way).
    val nodes = flattenPlan(
      SparkEntry.queries("q86_corpus_merge")(spark, d)
        .queryExecution.executedPlan)
    assert(nodes.exists(_.toString.contains("LeftAnti")),
      "expected a left-anti join against the store")
    val shuffles = nodes.collect { case e: ShuffleExchangeLike => e }
    assert(shuffles.size <= 3,
      s"batch dedup must reuse the anti join's hash partitioning, " +
        s"found ${shuffles.size} exchanges")
  }

  test("q88: source mixing joins only broadcasts; stats aggregate partially") {
    val p = plan("q88_source_mixing")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the O(sources) stats side must broadcast:\n$p")
    assert(p.contains("partial_"), s"per-source stats must pre-aggregate:\n$p")
  }

  test("sweep: no registered query plans a cartesian product or an exchange-fed global window") {
    // Blanket guard over EVERY SparkEntry query, complementing the
    // targeted pins above: the two shapes that are never right at 100 TB
    // are (a) CartesianProduct — an unbounded N×M enumeration (1-row stat
    // frames compile to BroadcastNestedLoopJoin, which this does not ban),
    // and (b) a partition-less Window whose input arrives through an
    // exchange — every corpus row moved into ONE partition to rank (the
    // q65 shape is fine: its rank window sits on a 50-row
    // TakeOrderedAndProject, no exchange below it).
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    import org.apache.spark.sql.execution.window.WindowExec
    val bad = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val nodes = flattenPlan(
        SparkEntry.queries(name)(spark, d).queryExecution.executedPlan)
      nodes.collect { case _: CartesianProductExec =>
        s"$name: CartesianProduct"
      } ++ nodes.collect {
        case w: WindowExec
            if w.partitionSpec.isEmpty && firstBoundary(w.child) == "exchange" =>
          s"$name: partition-less window fed by an exchange"
      }
    }
    assert(bad.isEmpty, s"scale-killer shapes found:\n${bad.mkString("\n")}")
  }
}
