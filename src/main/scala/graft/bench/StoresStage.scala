package graft.bench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr, size, sum}

import graft.Bench.{best, clock, deleteRec, timed, withConfs}
import graft.bench.Run.short
import graft.queries.SessionMemo

/** At-rest store rehearsal: the layout family's registered consumers,
  * re-timed against stores actually LANDED from this corpus (the main
  * loop measures the conf-unset in-session recompute path). Build cost
  * is published too — it is the once-per-ingest price the per-session
  * savings amortize. Parity and plan shape are spec-pinned
  * (DocStoreSpec / TermStoreSpec / VecStoreSpec / ArgoPipelineSpec);
  * this stage carries the measured seconds. */
object StoresStage {
  def run(r: Run)(sample: () => Unit): Seq[(String, Double)] = {
    val (spark, sfDir) = (r.spark, r.sfDir)
    val dir = graft.TempDirs.create("graft-stores").toString
    // The COLD in-session numbers the stores are up against: a fresh
    // session rebuilds the interp store / forward-index checkpoint
    // before its first query answers — that rebuild is exactly what
    // an at-rest store amortizes away, and the warm main-loop numbers
    // structurally EXCLUDE it (min-of-reps keeps the rep where the
    // memo is already built). Cold state is forced the scale10 way
    // (SessionMemo.reset), and the cold runs go FIRST so the store
    // build's own leftover state never pollutes them.
    // min-of-reps like every other published number (a single cold
    // sample carries the full host-burst exposure the 0.4 s re-run
    // threshold exists for — one inflated sample would overstate the
    // advertised cold-to-store win). Each rep re-forces cold state, so
    // rep 2 is a genuine second COLD measurement, not a warm one.
    // q78 joins the pair in round 10: the PQ sidecar landed in r9 with
    // spec parity but no measured seconds — this publishes the cold
    // in-query encode against the at-rest codes read (VERDICT r9
    // task 3)
    // media trio joined in round 11 (MediaStore): the perceptual
    // queries re-decode the media column per session — exactly the
    // once-per-ingest cost the family amortizes; q118/q125/q127
    // represent the three store tables (img, vid, vidf; the audio
    // pair rides the same machinery, spec-pinned)
    // q34 joins the family in round 11 (BandStore): near-dup pair
    // generation re-hashes the whole corpus per session — the
    // once-per-ingest projection the band table at rest amortizes.
    // q128 too: its corpus side reads the DocStore fp column at rest
    // (cold = recompute every corpus fingerprint per ingest check)
    // q129 joins in round 12 (events Z-store): cold pays the full
    // per-session layout rewrite (the reset deletes it), the
    // store path scans the once-per-ingest landing
    // A failed cold baseline is logged and its key omitted, so no
    // consumer silently compares the store path against a bogus
    // baseline.
    val cold = Seq("q71_argo_atlas", "q97_sparse_cosine",
      "q78_ivfpq_ann", "q118_image_neardup", "q125_video_neardup",
      "q127_video_neardup_hamming", "q34_minhash_lsh",
      "q128_bloom_ingest", "q129_zorder_scan").flatMap { name =>
      val q = short(name)
      val b = best(s"stores $q cold", r.reps,
          before = SessionMemo.reset(spark))(r.count(name))
      sample() // in-window witness after every cold member
      b.map { case (dt, _) =>
        System.err.println(f"[bench] stores $q%-4s cold        $dt%8.2f s")
        s"${q}_cold" -> dt
      }
    }
    // the store build below starts from the last reset's state
    // per-store build attribution (the once-per-ingest price each
    // family's per-session savings amortize — published split so a
    // total-build swing is attributable: r10's TermStore sidecars
    // land inside buildterm, not smeared over the family). A failed
    // build fails the stage: every store-path number below needs it.
    def timed1(tag: String)(body: => Unit): (String, Double) = {
      val (dt, _) = clock(body)
      System.err.println(f"[bench] stores build $tag%-10s $dt%8.2f s")
      s"build$tag" -> dt
    }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val buildSplit = Seq(
      timed1("doc") {
        graft.sources.DocStore.saveBucketed(docs, "bench_docstore",
          buckets = 32, path = Some(s"$dir/docs"))
      },
      timed1("term") {
        graft.sources.TermStore.saveBucketed(docs, "bench_termstore",
          buckets = 32, path = Some(s"$dir/terms"))
      },
      timed1("vec") {
        graft.queries.EmbeddingQueries.landVecStore(spark, sfDir, s"$dir/vecs")
      },
      timed1("atlas") {
        graft.argo.AtlasStore.saveBucketed(
          graft.queries.ArgoQueries.profilesProbe(spark, sfDir),
          graft.queries.ArgoQueries.ExportAtlas, "bench_atlasstore",
          buckets = 32, path = Some(s"$dir/atlas"))
      },
      timed1("media") {
        graft.queries.StreamMultimodalQueries.landMediaStore(
          spark, sfDir, "bench_mediastore", buckets = 32,
          s"$dir/media")
      },
      timed1("band") {
        graft.sources.BandStore.saveBucketed(docs, "bench_bandstore",
          buckets = 32, path = Some(s"$dir/bands"))
      },
      timed1("eventsz") {
        // landed at 3/4, then three frozen-curve syncs (VERDICT r12
        // task 3): the store enters the timed window APPEND-DEGRADED
        // — each sync's files are tight rectangles of their own
        // batch only — so the stage can publish the degraded pruning
        // ratio, compact mid-stage, and publish the restored one
        graft.queries.RelationalQueries.landEventsZStore(
          spark, sfDir, s"$dir/eventsz", col("event_id") % 4 =!= 3)
        (0 until 3).foreach { i =>
          graft.queries.RelationalQueries.appendEventsZStore(spark,
            graft.Tables.events(spark, sfDir)
              .filter(col("event_id") % 12 === 3 + 4 * i),
            s"$dir/eventsz")
        }
      })
    val build = buildSplit.map(_._2).sum
    System.err.println(f"[bench] stores build           $build%8.2f s")
    sample() // witness between the build and the store-path timings
    val confs = Seq(
      "spark.graft.docStore" -> s"$sfDir=bench_docstore",
      "spark.graft.termStore" -> s"$sfDir=bench_termstore",
      "spark.graft.vecStore" -> s"$sfDir=$dir/vecs",
      "spark.graft.atlasStore" -> s"$sfDir=bench_atlasstore",
      "spark.graft.mediaStore" -> s"$sfDir=bench_mediastore",
      "spark.graft.bandStore" -> s"$sfDir=bench_bandstore",
      "spark.graft.eventsZStore" -> s"$sfDir=$dir/eventsz")
    try withConfs(spark, confs.map { case (k, v) => k -> Some(v) }) {
      // VERDICT r12 task 3 — the compaction story in three published
      // numbers: the APPEND-DEGRADED pruning ratio (here), the timed
      // compacting rewrite (buildzcmp), and the RESTORED ratio
      // (splitQ129 below, which now measures the compacted store).
      // The probe reads the PRE-AGGREGATE rectangle scan: no exchange
      // → no AQE wrapper, so the leaf scan's numOutputRows is
      // readable (the aggregated q129's AdaptiveSparkPlanExec is
      // leaf-less and reported 0 when first measured here).
      def zScanRows(tag: String): Option[Double] =
        timed(s"stores q129 prune ($tag)") {
          val q = graft.queries.RelationalQueries
            .q129RectangleScan(spark, sfDir)
          q.collect()
          q.queryExecution.executedPlan.collectLeaves()
            .map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
            .sum.toDouble
        }.map { case (_, rows) =>
          System.err.println(f"[bench] stores q129 prune ($tag): ${rows.toLong}%d rows")
          rows
        }
      val zApp = zScanRows("append-degraded")
        .map("q129scan_app" -> _).toSeq
      val zCmp = timed("stores z-compaction")(graft.queries.RelationalQueries
          .compactEventsZStore(spark, s"$dir/eventsz")).map { case (dt, _) =>
        System.err.println(f"[bench] stores build zcompact $dt%8.2f s")
        "buildzcmp" -> dt
      }.toSeq
      val storePath = Seq("q37_fingerprint", "q45_ann_ivf_kmeans",
        "q71_argo_atlas", "q78_ivfpq_ann", "q97_sparse_cosine",
        "q118_image_neardup", "q125_video_neardup",
        "q127_video_neardup_hamming", "q34_minhash_lsh",
        "q128_bloom_ingest", "q129_zorder_scan").map { name =>
        val dt = best(s"stores $name", r.reps)(r.count(name))
          .fold(r.failPenalty)(_._1)
        System.err.println(f"[bench] stores ${short(name)}%-17s $dt%8.2f s")
        sample() // in-window witness after every store-path member
        short(name) -> dt
      }
      def minRep(tag: String)(body: => Long): Option[Double] =
        best(s"stores $tag", r.reps)(body).map(_._1)
      // q71's PROFILE-SOURCE split, published so the store-vs-cold
      // comparison is attributable from the artifact (SCALING.md
      // carries the full breakdown): the store path's extra cost over
      // the in-session memo is exactly the bucketed parquet scan; the
      // cold path's is the interp recompute. Both are timed against
      // the SAME forced-materialization shape (sum over the array
      // column / a bare count of the pipeline output).
      // Each split is independent: a failure in one must neither
      // discard the other's already-measured numbers nor log under
      // the wrong label
      val splitQ71 = for {
        scan <- minRep("q71 scan")(
          graft.argo.AtlasStore.loadBucketed(spark, "bench_atlasstore")
            .agg(sum(size(col("CT")))).head().getLong(0))
        interp <- minRep("q71 interp recompute")(
          graft.queries.ArgoQueries.profilesProbe(spark, sfDir).count())
      } yield {
        System.err.println(f"[bench] stores q71 split: scan $scan%.2f s, interp recompute $interp%.2f s")
        Seq("q71scan" -> scan, "q71interp" -> interp)
      }
      // the q97 twin: TermStore postings scan vs the per-session
      // forward-index rebuild (tokenize → doc_id shuffle →
      // checkpoint). Cold state is forced before EVERY rebuild rep,
      // or rep 2 would time a memo hit. The termStore conf is SET
      // here (the store runs above need it) and forwardIndexProbe
      // consults it — unset around the rebuild reps or this would
      // time a store read
      val splitQ97 = for {
        tScan <- minRep("q97 scan")(
          graft.sources.TermStore.loadBucketed(spark, "bench_termstore")
            .agg(sum(col("tf"))).head().getLong(0))
        fwd <- withConfs(spark, Seq("spark.graft.termStore" -> None)) {
          best("stores q97 index rebuild", r.reps,
              before = SessionMemo.reset(spark))(
            graft.queries.TextQueries.forwardIndexProbe(spark, sfDir).count())
        }.map(_._1)
      } yield {
        System.err.println(f"[bench] stores q97 split: scan $tScan%.2f s, index rebuild $fwd%.2f s")
        Seq("q97scan" -> tScan, "q97fwd" -> fwd)
      }
      // the q129 pruning ratio: rows the z-clustered scan EMITTED
      // (post row-group pruning) vs the table — the ZOrderSpec
      // measurement, published in the artifact so the store's win is
      // attributable to pruning, not caching; the RESTORED ratio, taken
      // after the compacting rewrite
      val splitQ129 = zScanRows("restored").map { scanned =>
        val total = spark.read.parquet(s"$sfDir/events.parquet").count()
        Seq("q129scan" -> scanned, "q129rows" -> total.toDouble)
      }
      // media pair splits (VERDICT r12 task 4) — decode vs scan, the
      // q71interp/q71scan discipline: a losing media pair is then
      // attributable from the artifact (per-session decode saved vs
      // hash-table scan paid). bit_xor forces the hash computation
      // without the ANSI overflow a plain sum of 64-bit hashes risks.
      def probe(tag: String, df: => DataFrame, c: String): Option[Double] =
        minRep(s"media $tag")(df.agg(expr(s"bit_xor($c)")).head().getLong(0))
      val splitMedia = for {
        iScan <- probe("img scan", spark.table("bench_mediastore_img"), "ph_hi")
        iDec <- probe("img decode", graft.queries.StreamMultimodalQueries
          .imageDecodeProbe(spark, sfDir), "ph_hi")
        vScan <- probe("vid scan", spark.table("bench_mediastore_vid"), "fh_hi")
        vDec <- probe("vid decode", graft.queries.StreamMultimodalQueries
          .videoDecodeProbe(spark, sfDir), "fh_hi")
      } yield {
        System.err.println(f"[bench] stores media split: img scan $iScan%.2f" +
          f" / decode $iDec%.2f, vid scan $vScan%.2f / decode $vDec%.2f s")
        Seq("q118scan" -> iScan, "q118dec" -> iDec,
          "q125scan" -> vScan, "q125dec" -> vDec)
      }
      val split = Seq(splitQ71, splitQ97, splitQ129).flatten.flatten ++
        zApp ++ zCmp ++ splitMedia.toSeq.flatten
      (("build" -> build) +: cold) ++ storePath ++ split ++ buildSplit
    } finally {
      (Seq("bench_docstore", "bench_atlasstore", "bench_bandstore") ++
        graft.sources.TermStore.tablesOf("bench_termstore") ++
        graft.queries.StreamMultimodalQueries
          .mediaStoreTables("bench_mediastore"))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      deleteRec(dir)
    }
  }
}
