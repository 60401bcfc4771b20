package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.argo.{Atlas, AtlasSink, Interpolator, SummaryBuilder}

/** The full Argo pipeline (summary → interpolation → atlas) driven from
  * the deterministic testdata tables: orders become profile headers,
  * synthetic-but-deterministic sample arrays are generated per profile
  * with pure column expressions, then the PRODUCTION pipeline runs
  * unmodified. The kernels are not SQL-expressible, so these carry
  * golden-fixture oracles ([[FixtureOracle]]) — bit-reproducible because
  * the kernels are per-row deterministic and the atlas aggregation is
  * fixed-point — while the numeric SEMANTICS are covered by
  * ArgoPipelineSpec's analytic-field oracle.
  */
object ArgoQueries extends QueryModule {
  private[graft] def profilesProbe(s: SparkSession, d: String): DataFrame = pipeline(s, d)

  /** One persisted summary per (session, dir). */
  private val summaryCache = new SessionMemo[DataFrame]

  /** Stage-2 profiles over the MEMOIZED stage-1 summary. The summary is
    * persisted and shared: within one query both the sample generator and
    * the header join consume it (without a materialization Spark
    * recomputes the scan→window→dict-join subtree twice), and across the
    * atlas query family every query needs the same frame — the reference
    * stores stage 1's output on disk for exactly this reason
    * (toctools.py:72-83). Memoizing bounds the cached footprint to one
    * ~1 MB frame per (session, scale dir) instead of one per invocation. */
  private def pipeline(s: SparkSession, d: String): DataFrame = {
    val summary = summaryCache.getOrElseUpdate(s, d)(
      SummaryBuilder.build(s, rawHeader(s, d)).persist())
    // Repartition the ~30 B header rows BEFORE the generator fans each out
    // to ~4 KB of sample arrays: the kernel stage still gets its pinned
    // (WMO, IPROF) distribution, but the exchange moves headers, not
    // arrays (~60 MB less shuffle at sf0.1; the same ordering any at-scale
    // ingest should use — shuffle first, widen after).
    val nPart = s.sessionState.conf.numShufflePartitions
    val headers = summary.select(col("WMO"), col("IPROF"), col("DATA_MODE"))
      .repartition(nPart, col("WMO"), col("IPROF"))
    Interpolator.interpolate(samples(headers), summary,
      repartitionSamples = false)
  }
  /** Stage-2 memoization for the ATLAS family: one persisted interpolated
    * frame per (session, dir) — the Spark analog of the reference's
    * on-disk interpolated store (README.md:146-158), which its atlas
    * stage reads instead of re-interpolating. ~600 B per profile, so the
    * cache is MBs at test scale and ~2 GB at the full-corpus scale the
    * reference quotes for the same artifact. q70 deliberately BYPASSES
    * this cache: it is the benchmark's interpolation-throughput probe and
    * must measure the kernel, not a cache read.
    *
    * The bypass must be STRUCTURAL: Spark's CacheManager serves any query
    * whose analyzed plan contains a subtree `sameResult` to a persisted
    * plan, so persisting the bare `pipeline(...)` frame would silently
    * turn q70 into a cache read the moment an atlas query materializes
    * (observed: a 0.25 s "interpolation" pass that interpolated nothing).
    * The persisted frame therefore wraps the pipeline in a filter(true)
    * whose root no plan ever builds independently — the atlas family gets
    * it via this method and hits the cache; q70's bare pipeline plan has
    * no matching subtree and always recomputes. PlanSpec pins this. */
  private val interpCache = new SessionMemo[DataFrame]

  private def pipelineCached(s: SparkSession, d: String): DataFrame =
    interpCache.getOrElseUpdate(s, d)(
      pipeline(s, d).filter(lit(true)).persist())

  /** THE atlas parameterization of the q71/q76 export family — one
    * definition so the memo key below can be the dir alone (a per-atlas
    * key would have to encode box, reso, smoothingFactor, eos AND the
    * landMask closure; q74's masked atlas shares box/reso and must NEVER
    * be served these unmasked cells). */
  private[graft] val ExportAtlas =
    new Atlas(box = (-20.0, 50.0, -50.0, -20.0), reso = 5.0)

  /** Atlas-cell memoization for the EXPORT consumers: the reference
    * computes an atlas once and exports/plots it many times (to_netcdf,
    * map_atlas), so the NetCDF round-trip (q76) reuses the cells instead
    * of re-running q71's whole aggregation just to gate the sink. q71
    * itself stays the atlas-throughput measurement: its bare `climTS`
    * plan has no subtree matching this wrapped frame (same structural
    * bypass as q70 vs the interp store — PlanSpec pins it).
    *
    * Two layers since round 14: [[tsCellsCached]] is the RAW pass-1 cell
    * frame (gi/gj/CT_m/SR_m — the reference's per-cell kdx/coef/N stats,
    * atlas.py:289-306), shared by the EAPE family (q72/q73 pass their
    * memoized cells into climEAPE so pass 1 aggregates once per session,
    * not once per algo) AND by the finalized export frame below (q76),
    * which is just finalizeTS over it. One aggregation now feeds three
    * registered queries the way the reference's stored atlas feeds its
    * exports; the frames are fixed-point partition-invariant, so every
    * consumer sees bit-identical cells. */
  private val cellCache = new SessionMemo[DataFrame]

  /** The finalized export cells. The PlanSpec guard reads this memo with
    * `peek`, which never builds — so a test can only see a persisted
    * frame that a q76 run actually registered, not one the probe itself
    * created.
    *
    * Why not assert cache substitution on a fresh `climTS` build instead:
    * it can never happen. `ScalaAggregator`'s buffer encoder is
    * re-resolved by `ResolveEncodersInUDF` at every analysis, minting
    * fresh `LambdaVariable` ids that canonicalization does not normalize,
    * so two builds of any UDAF-bearing plan are never `sameResult` — the
    * memoized OBJECT is the only handle to the cached cells (which is
    * also why q71/q74 structurally cannot be served stale cells). */
  private[graft] val climCache = new SessionMemo[DataFrame]

  private def tsCellsCached(s: SparkSession, d: String): DataFrame =
    cellCache.getOrElseUpdate(s, d)(
      graft.argo.Atlas.aggTS(ExportAtlas.pairs(s, pipelineCached(s, d)))
        .filter(lit(true)).persist())

  private def climTSCached(s: SparkSession, d: String): DataFrame =
    climCache.getOrElseUpdate(s, d)(
      ExportAtlas.finalizeTS(tsCellsCached(s, d)).filter(lit(true)).persist())

  /** Deterministic raw per-profile metadata from orders. */
  private def rawHeader(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderkey") % 10 === 0)
      .select(
        element_at(lit(graft.argo.ArgoSchemas.Dacs.toArray),
          (col("o_custkey") % 11 + 1).cast("int")).as("dac"),
        (lit(2900000) + col("o_custkey") % 200).cast("int").as("WMO"),
        col("o_orderdate").as("JULD"),
        (((col("o_orderkey") * 7919) % 7000).cast("double") / 100.0 - 20.0).as("LONGITUDE"),
        (((col("o_orderkey") * 104729) % 3000).cast("double") / 100.0 - 50.0).as("LATITUDE"),
        lit(120).as("N_LEVELS"),
        lit("D").as("data_mode"), lit("1").as("platform_type"),
        lit(1).as("position_qc"), lit(1).as("juld_qc"))

  /** Deterministic sample arrays: a smooth exponential T/S profile whose
    * amplitude varies with the float id. ONE compiled UDF call per profile
    * rather than four Catalyst `transform` lambdas: higher-order functions
    * evaluate interpreted per ELEMENT (~480 boxed lambda evals per row),
    * which alone cost ~0.5 s of the sf0.1 bench. The arithmetic is
    * bit-identical (same `java.lang.Math.exp`, same operation order), so
    * the golden fixtures are unchanged. A stable UDF instance keeps plans
    * `sameResult`-equal across builds (same reason as Interpolator's UDF
    * cache). */
  private val genArraysUdf = udf { (wmo: Int) =>
    val pres = new Array[Double](120)
    val temp = new Array[Double](120)
    val psal = new Array[Double](120)
    val qcA = new Array[Double](120)
    val amp = 16.0 + (wmo % 7).toDouble
    var k = 0
    while (k < 120) {
      val p = k.toDouble * 17.0
      pres(k) = p
      temp(k) = 2.0 + amp * math.exp(-p / 500.0)
      psal(k) = 34.5 + math.exp(-p / 300.0) * 0.5
      qcA(k) = 1.0
      k += 1
    }
    (pres, temp, psal, qcA)
  }

  private def samples(summary: DataFrame): DataFrame =
    summary
      .select(col("WMO"), col("IPROF"), col("DATA_MODE"))
      .withColumn("g", genArraysUdf(col("WMO")))
      .select(col("WMO"), col("IPROF"), col("DATA_MODE"),
        col("g._1").as("PRES"), col("g._2").as("TEMP"),
        col("g._3").as("PSAL"), col("g._4").as("QC"))

  // ---- q70: summary + interpolation end-to-end ---------------------------
  private def q70(s: SparkSession, d: String): DataFrame = {
    pipeline(s, d)
      .select(col("WMO"), col("IPROF"), col("NVALUES"),
        col("LATITUDE"), col("LONGITUDE"),
        element_at(col("CT"), 1).as("ct_surf"),
        element_at(col("SR"), 33).as("sr_500"))
  }

  // ---- q71: the full three-stage pipeline into an atlas ------------------
  /** Profile source for the atlas family: the at-rest [[AtlasStore]] when
    *   spark.graft.atlasStore = "<corpusDir>=<tableName>"
    * names one landed from the same corpus (the q97/TermStore
    * discipline) — its bin buckets make the pair join's profile side a
    * co-located scan (Atlas.pairs reuses the stamped bin columns, so the
    * shuffle-fallback branch exchanges ONLY the exploded grid; at 100 TB
    * the profile side is the corpus). Otherwise the per-session
    * interpolated memo. ArgoPipelineSpec pins plan + parity on the
    * registered query. */
  private def atlasProfiles(s: SparkSession, d: String): DataFrame =
    graft.sources.Stores.boundTo(s, "spark.graft.atlasStore", d)
      .filter(s.catalog.tableExists(_))
      .fold(pipelineCached(s, d))(graft.argo.AtlasStore.loadBucketed(s, _))

  private def q71(s: SparkSession, d: String): DataFrame = {
    val profiles = atlasProfiles(s, d)
    val atlas = ExportAtlas
    // no orderBy: rows-only check, and a global sort's range-sampling pass
    // would re-execute the whole aggregation subtree just to pick splits
    atlas.climTS(s, profiles)
      .filter(col("CT") =!= 0.0f)
  }

  // ---- q76: the atlas NetCDF sink (S9) under the driver's gate -----------
  // Round-trips q71's atlas THROUGH the dense NetCDF export: climTS →
  // AtlasSink.writeNetcdf (streaming classic-format writer, reference
  // atlas.py:576-636) → Nc3 read-back → long-format rows. The oracle is
  // q71's OWN fixture, so the sink must reproduce the verified atlas
  // bit-for-bit (float32 survives the f4 variable exactly); any drift in
  // the (pres, lat, lon) scatter order, the coordinate variables, or the
  // writer's layout breaks the hash against a fixture the sink never
  // touched. The read-back is driver-side by construction — the file IS a
  // single-node artifact bounded by the atlas grid; the at-scale sink
  // path remains the long-format parquet (AtlasSink.write).
  private def q76(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val profiles = pipelineCached(s, d)
    val out = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      // per-process name: two JVMs sharing /tmp (bench + verify on one
      // host) must not overwrite each other's export mid-read-back
      "graft-atlas-" + ProcessHandle.current().pid() + "-" +
        d.replaceAll("[^A-Za-z0-9.]", "_") + ".nc")
    AtlasSink.writeNetcdf(out.toString, ExportAtlas, climTSCached(s, d), profiles)
    val bytes = java.nio.file.Files.readAllBytes(out)
    // the export is fully in memory now — delete, or every bench/verify
    // invocation leaks one per-PID file into tmpdir for the host's
    // lifetime. Deletion goes through the SAME Hadoop FileSystem the sink
    // wrote with: the local scheme is a ChecksumFileSystem, so a bare NIO
    // delete of the .nc would strand the hidden sibling .crc it also wrote
    val hp = new org.apache.hadoop.fs.Path(out.toString)
    hp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(hp, false)
    val nc = new graft.sources.Nc3.NcFile(bytes)
    val lon = nc.readDoubles("lon").map(_.toFloat)
    val lat = nc.readDoubles("lat").map(_.toFloat)
    val pres = nc.readDoubles("pres").map(_.toFloat)
    val ct = nc.readDoubles("CT")
    val sr = nc.readDoubles("SR")
    val rows = for {
      k <- pres.indices; j <- lat.indices; i <- lon.indices
      idx = (k * lat.length + j) * lon.length + i
      if ct(idx) != 0.0 // mirror q71's CT =!= 0 gate (absent cells scatter as 0)
    } yield (lon(i), lat(j), pres(k), ct(idx).toFloat, sr(idx).toFloat)
    rows.toDF("lon", "lat", "pres", "CT", "SR")
  }

  // ---- q108: the INCREMENTAL atlas under the driver's gate ---------------
  // q71's aggregation executed AS a Structured Streaming query: the
  // pipeline profiles land as parquet files, the FILE SOURCE replays them
  // in several micro-batches (maxFilesPerTrigger=1 — exactly the shape of
  // an incremental GDAC sync, where new profile files appear and the
  // atlas state updates without a full rescan), Atlas.aggTS maintains the
  // per-cell packed buffers as complete-mode streaming state, and the
  // finalized state table must hash-match q71's OWN fixture oracle —
  // bit-identical to the batch atlas, because every contribution is
  // fixed-point and order-independent. StreamingSpec proved this on
  // synthetic rows since round 5; this row puts the streaming execution
  // itself under the hard gate on the production pipeline's profiles.
  // Scale: the only driver-resident artifact is the memory-sink cell
  // frame, bounded by the atlas grid (same argument as the NetCDF sink);
  // the profiles stream through executors.
  private val streamQn = new java.util.concurrent.atomic.AtomicInteger
  // the landed profile FILES are fixture setup (a real deployment's
  // profiles are already at rest) — memoized per (session, dir) so bench
  // reps measure the streaming maintenance, not repeated parquet writes;
  // the checkpoint below stays fresh per invocation (a reused checkpoint
  // would replay offsets and skip the maintenance under test); a session
  // reset deletes the landed dir with the entry
  private val streamSrcMemo = new SessionMemo[java.nio.file.Path]
  /** Physical plan of the most recent q108 STREAMING execution. The
    * blanket PlanSpec sweep only ever sees the memory-sink table q108
    * returns — the streaming plan executes inside the query body and is
    * gone by the time the sweep looks — so the execution captures its own
    * `explain` here and StreamingSpec pins the shape (stateful agg
    * present, state partitions = the pinned 8, no cartesian below the
    * sink). Test-observability only; never read by the query itself, and
    * only captured when `spark.graft.captureStreamPlan=true` (the spec
    * sets it): the capture re-runs incremental planning and measured
    * ~0.3-0.6 s per invocation — bench reps must not pay for a
    * test-only artifact. */
  private[graft] val lastStreamPlan =
    new java.util.concurrent.atomic.AtomicReference[String]("")
  private def q108(s: SparkSession, d: String): DataFrame = {
    val profiles = pipelineCached(s, d)
    val pdir = streamSrcMemo.getOrElseUpdate(s, d) {
      val dir = graft.TempDirs.create("graft-stream-atlas")
      // repartition (NOT coalesce — coalesce cannot raise a 1-2-partition
      // frame) to 64 part files, 32 per trigger → TWO micro-batches:
      // multi-batch state maintenance is what's under test (one batch
      // would degenerate to a single fold), while each extra batch costs
      // ~0.5 s of streaming machinery at bench time — two is the minimum
      // that still proves incremental maintenance. WHY 64 and not 4: a
      // batch's map-side parallelism is its FILE count (the file source
      // packs ~one small file per task under the 4 MB open-cost rule), and
      // the map side carries the whole pair fan-out + partial aggregation
      // — with 2 files/batch those ran on 2 of 32 cores and addBatch
      // measured ~2.5 s/batch (SCALING.md); at 32 files/batch the same
      // work spreads across the machine, the exact shape an incremental
      // GDAC sync has at scale (a sync lands many files, not two).
      profiles.repartition(64).write.mode("overwrite")
        .parquet(dir.resolve("profiles").toString)
      dir
    }
    val sdf = s.readStream.schema(profiles.schema)
      .option("maxFilesPerTrigger", "32")
      .parquet(pdir.resolve("profiles").toString)
    // per-invocation name so a rep can never collide with a live table;
    // PREVIOUS invocations' memory-sink views are dropped here (the
    // returned frame reads the CURRENT table lazily, so the current one
    // can only be released by the next invocation — bounded at one
    // driver-resident cell frame per session, the q76 hygiene standard)
    val qn = s"graft_atlas_stream_${streamQn.incrementAndGet()}"
    s.catalog.listTables().collect()
      .map(_.name)
      .filter(n => n.startsWith("graft_atlas_stream_") && n != qn)
      .foreach(s.catalog.dropTempView)
    // streaming STATE partitioning is fixed at query start from
    // spark.sql.shuffle.partitions; the state here is grid-bounded
    // (~5k cells), so 32 partitions just multiply the per-batch state
    // store commit overhead ×4 for no parallelism gain — 8 for the
    // stream, restore the session's setting after (state partitioning is
    // FROZEN into the checkpoint at first start).
    val ckpt = graft.TempDirs.create("graft-stream-ckpt")
    val prior = s.conf.get("spark.sql.shuffle.partitions")
    val q = try {
      s.conf.set("spark.sql.shuffle.partitions", "8")
      Atlas.aggTS(ExportAtlas.pairs(s, sdf))
        .writeStream.format("memory").queryName(qn).outputMode("complete")
        .option("checkpointLocation", ckpt.toString)
        .start()
    } finally s.conf.set("spark.sql.shuffle.partitions", prior)
    try {
      q.processAllAvailable()
      if (s.conf.get("spark.graft.captureStreamPlan", "false").toBoolean) {
        // StreamingQuery.explain prints (no string-returning public API);
        // capture via Console so the spec can assert on the LAST
        // execution's physical plan — before stop(), which drops
        // lastExecution
        val bos = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(bos, true, "UTF-8")) {
          q.explain()
        }
        lastStreamPlan.set(bos.toString("UTF-8"))
      }
    } finally q.stop()
    // the checkpoint is dead weight once the stream is stopped (the
    // memory sink holds the result; a rerun gets a FRESH checkpoint by
    // design) — delete it, or every invocation leaks a directory for the
    // host's lifetime (the q76 lesson)
    try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(java.nio.file.Files.deleteIfExists(_))
    } catch { case _: java.io.IOException => () }
    ExportAtlas.finalizeTS(s.table(qn))
      .filter(col("CT") =!= 0.0f)
  }

  // ---- q72/q73: the two-pass EAPE aggregation (A2 R14 / A3 T25) ----------
  private def eape(algo: String)(s: SparkSession, d: String): DataFrame = {
    val profiles = pipelineCached(s, d)
    val atlas = ExportAtlas
    // pass-1 cell means from the session's memoized atlas cells: R14 and
    // T25 share them (and q76's export frame derives from the same memo),
    // so the TS aggregation runs once per (session, corpus) instead of
    // once per EAPE query — the reference's stored per-cell stats reuse
    atlas.climEAPE(s, profiles, algo = algo,
      tsCells = Some(tsCellsCached(s, d)))
      .filter(col("SIGSTAR") =!= 0.0f)
  }

  // ---- q74: land-masked atlas (F8/S10) -----------------------------------
  // The packaged 1/10° bit-grid mask (reference bathy.py:29-50,67-82):
  // loaded once from the jar, nearest-index lookup, evaluated per grid
  // cell BEFORE the neighbor explode and join, so land cells never
  // produce join work at all.
  private def q74(s: SparkSession, d: String): DataFrame = {
    val profiles = pipelineCached(s, d)
    val mask = graft.argo.Bathy.default
    val atlas = new Atlas(box = ExportAtlas.box, reso = ExportAtlas.reso,
      landMask = mask.isLand)
    atlas.climTS(s, profiles)
      .filter(col("CT") =!= 0.0f)
  }

  // ---- q83: JSON property extraction + aggregation (X10) -----------------
  private def q83(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k").cast("long")).as("sum_k"),
        min(col("k").cast("long")).as("min_k"),
        max(col("k").cast("long")).as("max_k"))
      .orderBy("event_type")

  private val q83Sql =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
      |  CAST(min(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS min_k,
      |  CAST(max(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS max_k
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  def defs: Map[String, QueryDef] = Map(
    "q70_argo_interp" ->
      QueryDef(q70, Some(FixtureOracle.sql("q70_argo_interp"))),
    "q71_argo_atlas" ->
      QueryDef(q71, Some(FixtureOracle.sql("q71_argo_atlas"))),
    "q72_argo_eape_r14" ->
      QueryDef(eape("R14"), Some(FixtureOracle.sql("q72_argo_eape_r14"))),
    // oracle = q71's fixture on purpose: the sink round-trip must
    // reproduce the independently verified atlas exactly
    "q76_atlas_netcdf_roundtrip" ->
      QueryDef(q76, Some(FixtureOracle.sql("q71_argo_atlas"))),
    "q74_argo_atlas_masked" ->
      QueryDef(q74, Some(FixtureOracle.sql("q74_argo_atlas_masked"))),
    "q73_argo_eape_t25" ->
      QueryDef(eape("T25"), Some(FixtureOracle.sql("q73_argo_eape_t25"))),
    // oracle = q71's fixture on purpose: the incrementally maintained
    // atlas must be BIT-identical to the batch one
    "q108_atlas_stream" ->
      QueryDef(q108, Some(FixtureOracle.sql("q71_argo_atlas"))),
    "q83_json_props" -> QueryDef(q83, Some(q83Sql)))
}
