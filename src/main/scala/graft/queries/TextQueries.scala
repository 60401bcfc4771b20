package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Tables
import graft.functions.{BloomProbeExpr, FP, TextFns => T}
import graft.operators.{Bpe, Logit, Sketches}
import graft.sources.{DocStore, Stores}

/** Training-data text pipeline over the `documents` table: exact and
  * near deduplication (MinHash+LSH, SimHash, n-gram Jaccard), language ID,
  * quality scoring, token counting, document fingerprinting.
  *
  * Scale design: every per-document computation is a narrow map built from
  * codegen'd higher-order array functions (no UDFs, no shuffle). Pairwise
  * similarity NEVER does an unblocked self-join: candidates come from LSH
  * band buckets (MinHash) or fingerprint chunks (SimHash), so the shuffle
  * volume is O(docs × bands), not O(docs²) — at 100 TB the difference
  * between a job and an outage.
  */
object TextQueries extends QueryModule {

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)

  // ---- q30: exact dedup by content hash (hash-groupBy) -------------------
  private def q30(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_id")

  private val q30Sql =
    """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
      | count(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY 2""".stripMargin

  // ---- q31: token counting (whitespace + BPE-ish regex) ------------------
  private val BpePat = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  private def q31(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(
      col("doc_id"),
      size(T.tokens(col("text"))).cast(LongType).as("n_ws_tokens"),
      size(regexp_extract_all(lower(col("text")), lit(BpePat), lit(0)))
        .cast(LongType).as("n_bpe_tokens"),
      length(col("text")).cast(LongType).as("n_chars_measured"))
      .orderBy("doc_id")

  private val q31Sql =
    s"""SELECT doc_id,
       | len(${T.sqlTokens("text")}) AS n_ws_tokens,
       | len(regexp_extract_all(lower(text), '$BpePat')) AS n_bpe_tokens,
       | length(text) AS n_chars_measured
       |FROM documents ORDER BY 1""".stripMargin

  // ---- q39: per-source corpus balance stats (exact percentiles) ----------
  // Data-curation reporting: token-length distribution per source drives
  // sampling weights and length filters. Percentiles are EXACT (Spark
  // `percentile` ≡ DuckDB `quantile_cont`, both the R-7 linear
  // interpolation) — approx_percentile sketches are not cross-engine
  // reproducible, and per-source groups easily fit the exact path; at
  // 100 TB the groupBy still shuffles only (source, n_tokens) pairs.
  private def q39(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("source"),
        size(T.tokens(col("text"))).cast(LongType).as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_tok")).as("min_tokens"),
        FP.micro(expr("percentile(n_tok, 0.5)")).as("median_tokens_u"),
        FP.micro(expr("percentile(n_tok, 0.95)")).as("p95_tokens_u"),
        max(col("n_tok")).as("max_tokens"))
      .orderBy("source")

  private val q39Sql =
    s"""SELECT source, count(*) AS n_docs,
       | min(len(${T.sqlTokens("text")})) AS min_tokens,
       | ${FP.sqlMicro(s"quantile_cont(len(${T.sqlTokens("text")}), 0.5)")} AS median_tokens_u,
       | ${FP.sqlMicro(s"quantile_cont(len(${T.sqlTokens("text")}), 0.95)")} AS p95_tokens_u,
       | max(len(${T.sqlTokens("text")})) AS max_tokens
       |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q32: quality scoring (length / punct / stopword ratios) -----------
  private val Stopwords = Seq("the", "a", "of", "to", "and", "in", "is")

  /** The q32 quality heuristic as reusable pieces — q100's calibration must
    * rank the SAME score q32 publishes (a drifted copy would calibrate a
    * different metric than the one the gate verifies). */
  private def qualityPieces: (Column, Column, Column, Column) = {
    val toks = T.tokens(col("text"))
    val nTok = size(toks).cast("double")
    val stopRatio =
      size(filter(toks, w => w.isInCollection(Stopwords))).cast("double") / nTok
    // nullif on the divisor: a zero-length text would otherwise ABORT the
    // job under ANSI (double division by zero throws in Spark 4), while
    // the DuckDB twin returns NULL — nullif makes Spark return the same
    // NULL. (The token-count divisors below cannot be zero: split always
    // yields at least [""].)
    val alphaRatio =
      length(regexp_replace(lower(col("text")), "[^a-z]", "")).cast("double") /
        nullif(length(col("text")).cast("double"), lit(0.0))
    val meanTokLen =
      aggregate(toks, lit(0L), (acc, w) => acc + length(w)).cast("double") / nTok
    // Monotone quality heuristic: long docs, mostly-alpha, moderate stopword
    // density, plausible word lengths score high.
    val quality = least(nTok / 100.0, lit(1.0)) * 0.4 +
      alphaRatio * 0.3 + stopRatio * 0.2 + least(meanTokLen / 8.0, lit(1.0)) * 0.1
    (stopRatio, alphaRatio, meanTokLen, quality)
  }

  private def q32(s: SparkSession, d: String): DataFrame = {
    val (stopRatio, alphaRatio, meanTokLen, quality) = qualityPieces
    docs(s, d).select(
      col("doc_id"),
      FP.micro(stopRatio).as("stop_ratio_u"),
      FP.micro(alphaRatio).as("alpha_ratio_u"),
      FP.micro(meanTokLen).as("mean_tok_len_u"),
      FP.micro(quality).as("quality_u"))
      .orderBy("doc_id")
  }

  /** DuckDB twins of [[qualityPieces]] (stop, alpha, mtl, quality). */
  private def sqlQualityPieces: (String, String, String, String) = {
    val toks = T.sqlTokens("text")
    val inList = Stopwords.map(w => s"'$w'").mkString(", ")
    val stop = s"len(list_filter($toks, w -> w IN ($inList)))::DOUBLE / len($toks)"
    val alpha = "length(regexp_replace(lower(text), '[^a-z]', '', 'g'))::DOUBLE / length(text)"
    val mtl = s"list_sum(list_transform($toks, w -> length(w)))::DOUBLE / len($toks)"
    val quality = s"least(len($toks)/100.0, 1.0)*0.4 + ($alpha)*0.3 + ($stop)*0.2 + least(($mtl)/8.0, 1.0)*0.1"
    (stop, alpha, mtl, quality)
  }

  private val q32Sql = {
    val (stop, alpha, mtl, quality) = sqlQualityPieces
    s"""SELECT doc_id,
       | ${FP.sqlMicro(stop)} AS stop_ratio_u,
       | ${FP.sqlMicro(alpha)} AS alpha_ratio_u,
       | ${FP.sqlMicro(mtl)} AS mean_tok_len_u,
       | ${FP.sqlMicro(quality)} AS quality_u
       |FROM documents ORDER BY 1""".stripMargin
  }

  // ---- q33: language ID by function-word markers -------------------------
  // A real corpus would use char-n-gram profiles (same plan shape: narrow
  // map + argmax over per-language scores); the marker sets keep the oracle
  // engine-portable.
  private val Markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ein", "zu"),
    "en" -> Seq("the", "and", "of", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "que", "los", "y"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un"))

  private def q33(s: SparkSession, d: String): DataFrame = {
    val toks = T.tokens(col("text"))
    val scores = Markers.map { case (lang, ws) =>
      lang -> size(filter(toks, w => w.isInCollection(ws))).cast(LongType)
    }
    // Deterministic argmax: first language (alphabetical) achieving the max.
    val maxScore = greatest(scores.map(_._2): _*)
    val predOrdered = scores.reverse.foldLeft(lit("und")) { case (acc, (lang, sc)) =>
      when(sc === maxScore && maxScore > 0, lang).otherwise(acc)
    }
    docs(s, d).select(
      (col("doc_id") +: scores.map { case (l, c) => c.as(s"score_$l") } :+
        predOrdered.as("pred_lang") :+ col("lang").as("labeled_lang")): _*)
      .orderBy("doc_id")
  }

  private val q33Sql = {
    val toks = T.sqlTokens("text")
    def sc(ws: Seq[String]) =
      s"len(list_filter($toks, w -> w IN (${ws.map(w => s"'$w'").mkString(", ")})))"
    val cols = Markers.map { case (l, ws) => s"${sc(ws)} AS score_$l" }
    val maxE = s"greatest(${Markers.map(m => s"score_${m._1}").mkString(", ")})"
    val caseE = Markers.map { case (l, _) =>
      s"WHEN score_$l = $maxE AND $maxE > 0 THEN '$l'"
    }.mkString(" ")
    s"""SELECT doc_id, ${Markers.map(m => s"score_${m._1}").mkString(", ")},
       | CASE $caseE ELSE 'und' END AS pred_lang, lang AS labeled_lang
       |FROM (SELECT doc_id, lang, ${cols.mkString(", ")} FROM documents)
       |ORDER BY 1""".stripMargin
  }

  // ---- q34: MinHash + LSH near-duplicate pairs ---------------------------
  private val JaccardThreshold = 0.5

  /** The verified MinHash pair set (d1 < d2, jaccard_u ≥ threshold) —
    * shared by q34 (pairs) and q38 (cluster resolution). */
  private def minhashPairs(s: SparkSession, d: String): DataFrame = q34Body(s, d)

  private def q34(s: SparkSession, d: String): DataFrame =
    q34Body(s, d).orderBy("d1", "d2")

  /** (doc_id, hs, band, key) LSH band buckets for a documents frame —
    * a delegating alias of [[graft.functions.TextFns.minhashBandFrame]],
    * THE single band construction (q34 pair join, q110 ingest tiers,
    * q101 streaming first-seen dedup, StreamingSpec replay). Kept public
    * here for the existing consumers; the one definition lives with the
    * other text primitives so a second copy can never drift and bucket
    * one consumer's docs differently from another's. */
  def minhashBandFrame(docsDf: DataFrame): DataFrame =
    T.minhashBandFrame(docsDf)

  /** The at-rest BandStore this session points at for corpus `d`, if
    * any: spark.graft.bandStore = "<corpusDir>=<tableName>" (the
    * termStore/docStore conf discipline, corpusDir guard included). */
  private def bandStoreTable(s: SparkSession, d: String): Option[String] =
    Stores.boundTo(s, "spark.graft.bandStore", d).filter(s.catalog.tableExists(_))

  /** The corpus band table every near-dup pass starts from: the at-rest
    * BandStore when wired — a (band, key)-bucketed scan replaces the
    * whole-corpus shingle-hash + minhash projection, which is THE
    * dominant per-session cost of the q34/q38/q101/q110 family and is
    * once-per-ingest by nature — otherwise the in-session construction
    * (repartitioned BEFORE the hash projection so a small parquet file
    * doesn't hash single-threaded, and so CollapseProject can't inline
    * the kernels into every downstream reference). */
  private def corpusBands(s: SparkSession, d: String): DataFrame =
    bandStoreTable(s, d) match {
      case Some(table) => graft.sources.BandStore.loadBucketed(s, table)
      case None =>
        // memoized per (session, corpus) — the fwdMemo discipline applied
        // to the MinHash family: q34, q38 and q109 are three registered
        // queries over the SAME band table (the BandStore is its at-rest
        // twin), and without the memo each invocation re-tokenizes,
        // re-shingles and re-minhashes the corpus into its own plan.
        // ~(docs × bands) rows of (ids + packed signature) — orders
        // smaller than the text it indexes, the same footprint argument
        // as the forward index.
        bandMemo.getOrElseUpdate(s, d)(
          minhashBandFrame(graft.operators.Joins.keyRepartition(
            docs(s, d), col("doc_id")))
            .localCheckpoint())
    }

  private val bandMemo = new SessionMemo[DataFrame]

  private def q34Body(s: SparkSession, d: String): DataFrame = {
    // Kernels are the compiled twins of the HOF spec in TextFns —
    // bit-identical to the DuckDB oracle. On the store path the
    // candidate self-join below runs bucketed-scan × bucketed-scan on
    // its exact join keys (band, key): zero exchange on either side.
    val bands = corpusBands(s, d)
    val l = bands.select(col("band"), col("key"),
      col("doc_id").as("d1"), col("hs").as("hs1"))
    val r = bands.select(col("band"), col("key"),
      col("doc_id").as("d2"), col("hs").as("hs2"))
    val cand = l.join(r, Seq("band", "key")).filter(col("d1") < col("d2"))
      .select("d1", "d2", "hs1", "hs2").distinct()
    cand.select(
      col("d1"), col("d2"),
      T.jaccardMicroPacked(col("hs1"), col("hs2")).as("jaccard_u"))
      .filter(col("jaccard_u") >= (JaccardThreshold * 1e6).toLong)
  }

  /** CTE chain through the thresholded pair set — the shared body of the
    * q34 oracle and the recursive q38 oracle. */
  private val pairCtes = {
    val sigExprs = (0 until T.MinHashK)
      .map(j => s"${T.sqlMinhash("hs", j)} AS sig$j").mkString(",\n    ")
    val bandSelects = (0 until T.MinHashBands).map { b =>
      val key = (0 until T.MinHashRows)
        .map(r => s"sig${b * T.MinHashRows + r}").mkString(" || ':' || ")
      s"SELECT doc_id, hs, $b AS band, $key AS key FROM sigs"
    }.mkString("\n  UNION ALL\n  ")
    val jac = FP.sqlMicro("len(list_intersect(hs1, hs2))::DOUBLE / len(list_distinct(list_concat(hs1, hs2)))")
    s"""base AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(
       |      ${T.sqlShingles(s"(${T.sqlTokens("text")})", 3)},
       |      sh -> ${T.sqlCharHash("sh")})) AS hs
       |  FROM documents),
       |sigs AS (SELECT doc_id, hs, $sigExprs FROM base),
       |bands AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, a.hs AS hs1, b.hs AS hs2
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
       |  WHERE a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT d1, d2, $jac AS jaccard_u FROM cand
       |  WHERE $jac >= ${(JaccardThreshold * 1e6).toLong})""".stripMargin
  }

  private val q34Sql =
    s"""WITH $pairCtes
       |SELECT d1, d2, jaccard_u FROM pairs ORDER BY 1, 2""".stripMargin

  // ---- q38: near-dup CLUSTER resolution (connected components) -----------
  // Pair generation is only half of dedup: keeping one document per
  // near-dup group needs the transitive closure of the pair graph. Min-
  // label propagation (operators/Graph.scala) resolves every document to
  // the smallest doc_id reachable through MinHash pairs — the cluster's
  // canonical representative. The oracle computes the same closure with a
  // recursive CTE, so this is a full SQL-verified check of an iterative
  // distributed graph algorithm. The driver fast path is PINNED OFF here,
  // deliberately: at test scale every pair graph fits the cap, so without
  // the pin no oracle row would ever exercise the distributed propagation
  // loop — the branch a 100 TB pair graph runs. q67 keeps the adaptive
  // default, so BOTH branches carry a green CORRECTNESS row.
  /** The MinHash cluster resolution shared by q38 and q109. The branch
    * choice is invisible in the output (same unique fixpoint — min
    * reachable id); only who exercises which branch under the gate
    * differs, so the pin is the CALLER's decision. */
  private def dedupClusters(s: SparkSession, d: String,
                            allowDriverFastPath: Boolean): DataFrame = {
    val pairs = minhashPairs(s, d)
      .select(col("d1").as("src"), col("d2").as("dst"))
    val verts = docs(s, d).select(col("doc_id").as("id"))
    graft.operators.Graph.connectedComponents(pairs, verts,
      allowDriverFastPath = allowDriverFastPath)
      .select(col("id").as("doc_id"), col("comp").as("cluster"),
        (col("id") === col("comp")).as("is_canonical"))
  }

  private def q38(s: SparkSession, d: String): DataFrame =
    dedupClusters(s, d, allowDriverFastPath = false)
      .orderBy("doc_id")

  // ---- q109: best-quality cluster representative -------------------------
  // What dedup actually KEEPS: production pipelines retain the
  // best-QUALITY copy per near-dup cluster, not the lowest id (the
  // min-id canonical of q38 is a graph artifact, not an editorial
  // choice). Composition of two verified components — the q38 cluster
  // resolution and the q32 quality score — joined and reduced to one row
  // per cluster by a cluster-partitioned window (highest quality wins,
  // doc_id breaks ties; quality_u DESC NULLS LAST EXPLICITLY — the NULL
  // quality of an empty doc must lose in both engines, the q100 lesson).
  // Scale shape: the clusters frame is corpus-sized but narrow (two
  // longs), the quality frame is a narrow map, the join keys on doc_id,
  // and the window spreads over clusters. The cluster resolution keeps
  // the ADAPTIVE branch default (driver union-find under the cap) —
  // q38's pin exists so ITS oracle row exercises the distributed loop;
  // inheriting the pin here would re-run the ~12-pass shuffle ladder per
  // invocation for no extra verified surface (both branches already
  // carry green rows via q38/q67, and the fixpoint is branch-invariant).
  private def q109(s: SparkSession, d: String): DataFrame = {
    val (_, _, _, quality) = qualityPieces
    val q = docs(s, d).select(col("doc_id"), FP.micro(quality).as("quality_u"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("quality_u").desc_nulls_last, col("doc_id"))
    dedupClusters(s, d, allowDriverFastPath = true)
      .select(col("doc_id"), col("cluster"))
      .join(q, Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_docs", count(lit(1)).over(Window.partitionBy(col("cluster"))))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("doc_id").as("keep_id"),
        col("quality_u"), col("n_docs"))
      .orderBy("cluster")
  }

  private lazy val q109Sql = {
    val (_, _, _, quality) = sqlQualityPieces
    s"""WITH q AS (
       |  SELECT doc_id, ${FP.sqlMicro(quality)} AS quality_u FROM documents),
       |cl AS (SELECT doc_id, cluster FROM ($q38Sql) c),
       |r AS (
       |  SELECT cl.cluster, cl.doc_id, q.quality_u,
       |    row_number() OVER (PARTITION BY cl.cluster
       |      ORDER BY q.quality_u DESC NULLS LAST, cl.doc_id) AS rn,
       |    count(*) OVER (PARTITION BY cl.cluster) AS n_docs
       |  FROM cl JOIN q USING (doc_id))
       |SELECT cluster, doc_id AS keep_id, quality_u, n_docs
       |FROM r WHERE rn = 1 ORDER BY cluster""".stripMargin
  }

  private val q38Sql =
    s"""WITH RECURSIVE $pairCtes,
       |edges AS (
       |  SELECT d1 AS s, d2 AS t FROM pairs
       |  UNION ALL SELECT d2 AS s, d1 AS t FROM pairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT reach.id, e.t FROM reach JOIN edges e ON e.s = reach.r)
       |SELECT id AS doc_id, min(r) AS cluster,
       |  (id = min(r)) AS is_canonical
       |FROM reach GROUP BY id ORDER BY 1""".stripMargin

  // ---- q110: incremental ingest dedup (batch vs at-rest corpus) ----------
  // The per-ingest-BATCH shape of production dedup: a new batch of
  // documents arrives and every doc gets a verdict against the EXISTING
  // corpus — 'exact' (a corpus doc, or an earlier batch doc, carries the
  // same content fingerprint), 'near' (a corpus doc passes the MinHash
  // band filter AND exact n-gram Jaccard ≥ threshold), or 'kept' — plus
  // the matched doc and its similarity as evidence. q34/q38 dedup the
  // corpus against ITSELF; this is the batch×corpus composition an
  // ingest pipeline actually runs per sync, built from the same verified
  // pieces (contentFingerprint, minhashBandFrame, jaccardMicroPacked) so
  // the two dedup surfaces cannot drift.
  //
  // Scale shape: the batch is the small side by construction (one
  // ingest); the exact tier is one fp equi-join — with
  // spark.graft.docStore wired the corpus side carries its precomputed
  // fp and its buckets feed the join's clustering (the q37 discipline),
  // so the per-ingest corpus reshuffle disappears. The near tier is
  // q34's blocking join with one side restricted to the surviving batch
  // docs: candidates exist only via shared band buckets (never
  // all-pairs), each scored once after id-level dedup, and the best
  // match per batch doc is a batch-partitioned window (bounded by the
  // ingest, not the corpus). With spark.graft.bandStore wired the corpus
  // band table is read at rest (sources/BandStore): the per-ingest corpus
  // re-hash disappears and the batch probes a (band, key)-bucketed scan.
  // The exact tier's batch-side Bloom prune is q128.
  private val IngestMod = 10L
  private val IngestRem = 7L

  /** The DocStore table bound to `d` by spark.graft.docStore, if landed. */
  private def docStoreTable(s: SparkSession, d: String): Option[String] =
    Stores.boundTo(s, "spark.graft.docStore", d).filter(s.catalog.tableExists(_))

  /** The non-batch corpus side's (doc_id, fp) frame — the at-rest
    * DocStore when wired (the store carries the verified fp expression
    * via DocStore.fingerprint), else computed in-session. ONE resolver
    * shared by the q110 exact tier and q128's Bloom prune, so the two
    * ingest surfaces can never diverge on the corpus side (the
    * corpusBands discipline applied to the fingerprint frame). */
  private def corpusFp(s: SparkSession, d: String): DataFrame =
    docStoreTable(s, d) match {
      case Some(table) =>
        graft.sources.DocStore.loadBucketed(s, table)
          .filter(col("doc_id") % IngestMod =!= IngestRem)
          .select(col("doc_id"), col("fp"))
      case None => docs(s, d).filter(col("doc_id") % IngestMod =!= IngestRem)
        .select(col("doc_id"), DocStore.fpExpr(col("text")).as("fp"))
    }

  private def q110(s: SparkSession, d: String): DataFrame = {
    val isBatch = col("doc_id") % IngestMod === IngestRem
    val batch = docs(s, d).filter(isBatch)
    // the probe fingerprint is the SHARED nfc-aware builder
    // (DocStore.fpExpr): a raw probe against a store whose identical
    // content landed an NFC key would miss every mixed-form exact dup
    val batchFp = batch
      .select(col("doc_id"), DocStore.fpExpr(col("text")).as("fp"))
    // exact tier: smallest prior holder of the fingerprint — min corpus
    // doc, or min EARLIER batch doc (ingest order = doc_id; the first
    // batch copy of a new fingerprint is 'kept', later copies are exact
    // dups of it). least() skips NULLs in both engines.
    val corpusMin = corpusFp(s, d).groupBy(col("fp"))
      .agg(min(col("doc_id")).as("c_min"))
    val wPrev = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val exact = batchFp
      .withColumn("b_prev", min(col("doc_id")).over(wPrev))
      .join(corpusMin, Seq("fp"), "left")
      .select(col("doc_id"), least(col("c_min"), col("b_prev")).as("exact_id"))
    // near tier, only for batch docs the exact tier did not resolve.
    val survivors = exact.filter(col("exact_id").isNull).select("doc_id")
    val bBands = minhashBandFrame(
      graft.operators.Joins.keyRepartition(batch.join(survivors, Seq("doc_id")), col("doc_id")))
      .select(col("band"), col("key"), col("doc_id").as("bd"), col("hs").as("bhs"))
    // no runtime Bloom on the corpus band scan here (q128 keeps one): the
    // batch is a fixed tenth of the corpus, and the probe is a per-sync
    // constant (~0.3 s at sf0.1) that pays only when the corpus dwarfs
    // the batch; a checkpoint of bBands would be pure cost as well, since
    // the candidate join is its one consumer
    val cBands = corpusBands(s, d)
      .filter(col("doc_id") % IngestMod =!= IngestRem)
      .select(col("band"), col("key"), col("doc_id").as("cd"), col("hs").as("chs"))
    val scored = bBands.join(cBands, Seq("band", "key"))
      .select(col("bd"), col("cd"), col("bhs"), col("chs")).distinct()
      .select(col("bd"), col("cd"),
        T.jaccardMicroPacked(col("bhs"), col("chs")).as("j_u"))
      .filter(col("j_u") >= (JaccardThreshold * 1e6).toLong)
    val wBest = Window.partitionBy(col("bd"))
      .orderBy(col("j_u").desc, col("cd"))
    val near = scored
      .withColumn("rn", row_number().over(wBest)).filter(col("rn") === 1)
      .select(col("bd").as("doc_id"), col("cd").as("near_id"), col("j_u"))
    exact.join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_id").isNotNull, lit("exact"))
          .when(col("near_id").isNotNull, lit("near"))
          .otherwise(lit("kept")).as("verdict"),
        coalesce(col("exact_id"), col("near_id")).as("match_id"),
        when(col("exact_id").isNull, col("j_u")).as("jaccard_u"))
      .orderBy("doc_id")
  }

  private val q110Sql = {
    val sigExprs = (0 until T.MinHashK)
      .map(j => s"${T.sqlMinhash("hs", j)} AS sig$j").mkString(",\n    ")
    val bandSelects = (0 until T.MinHashBands).map { b =>
      val key = (0 until T.MinHashRows)
        .map(r => s"sig${b * T.MinHashRows + r}").mkString(" || ':' || ")
      s"SELECT doc_id, is_batch, hs, $b AS band, $key AS key FROM sigs"
    }.mkString("\n  UNION ALL\n  ")
    val jac = FP.sqlMicro("len(list_intersect(bhs, chs))::DOUBLE / len(list_distinct(list_concat(bhs, chs)))")
    s"""WITH fp AS (
       |  SELECT doc_id, ${DocStore.sqlFp("text")} AS fp,
       |    (doc_id % $IngestMod = $IngestRem) AS is_batch
       |  FROM documents),
       |cmin AS (
       |  SELECT fp, min(doc_id) AS c_min FROM fp WHERE NOT is_batch GROUP BY 1),
       |bfp AS (
       |  SELECT doc_id, fp,
       |    min(doc_id) OVER (PARTITION BY fp ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS b_prev
       |  FROM fp WHERE is_batch),
       |ex AS (
       |  SELECT b.doc_id, least(c.c_min, b.b_prev) AS exact_id
       |  FROM bfp b LEFT JOIN cmin c USING (fp)),
       |hb AS (
       |  SELECT doc_id, (doc_id % $IngestMod = $IngestRem) AS is_batch,
       |    list_distinct(list_transform(
       |      ${T.sqlShingles(s"(${T.sqlTokens("text")})", 3)},
       |      sh -> ${T.sqlCharHash("sh")})) AS hs
       |  FROM documents
       |  WHERE doc_id % $IngestMod <> $IngestRem
       |     OR doc_id IN (SELECT doc_id FROM ex WHERE exact_id IS NULL)),
       |sigs AS (SELECT doc_id, is_batch, hs, $sigExprs FROM hb),
       |bands AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS bd, b.doc_id AS cd, a.hs AS bhs, b.hs AS chs
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
       |  WHERE a.is_batch AND NOT b.is_batch),
       |scored AS (
       |  SELECT bd, cd, $jac AS j_u FROM cand
       |  WHERE $jac >= ${(JaccardThreshold * 1e6).toLong}),
       |near AS (
       |  SELECT bd AS doc_id, cd AS near_id, j_u, row_number() OVER (
       |    PARTITION BY bd ORDER BY j_u DESC, cd) AS rn
       |  FROM scored)
       |SELECT e.doc_id,
       |  CASE WHEN e.exact_id IS NOT NULL THEN 'exact'
       |       WHEN n.near_id IS NOT NULL THEN 'near'
       |       ELSE 'kept' END AS verdict,
       |  coalesce(e.exact_id, n.near_id) AS match_id,
       |  CASE WHEN e.exact_id IS NULL THEN n.j_u END AS jaccard_u
       |FROM ex e LEFT JOIN (SELECT * FROM near WHERE rn = 1) n USING (doc_id)
       |ORDER BY 1""".stripMargin
  }

  // ---- q128: Bloom-pruned ingest dedup (runtime semi-join filter) --------
  // The exact tier of q110 reshaped for the 100 TB asymmetry: the ingest
  // BATCH is tiny, the corpus is the whole lake, and a per-ingest
  // batch⋈corpus equi-join shuffles corpus fingerprints that can never
  // match. Instead the batch's fingerprints build ONE Bloom filter
  // (Sketches.BloomFilter: OR-merged bitset, m/8 bytes total, no false
  // negatives) in a job over the SMALL side; the filter lands on the
  // corpus scan as a codegen'd literal probe (BloomProbeExpr) that drops
  // non-matching corpus rows BEFORE any exchange — the explicit form of
  // Spark's InjectRuntimeFilter, reaching a DERIVED key (the content
  // fingerprint) the optimizer cannot see through. Survivors (true dups
  // plus a ~2^-k sliver of false positives) are the only corpus rows that
  // reach the exact min-per-fp aggregate, which then BROADCASTS back to
  // the batch: the corpus is never shuffled and the batch never leaves
  // its ingest partitioning. False positives are eliminated by the exact
  // join, so the result is bit-equal to the unpruned plan and the oracle
  // is plain SQL (BloomSpec pins no-false-negatives, the measured prune
  // ratio, and result-equality against the unpruned path). Intra-batch
  // copies are q110's job; this is the batch-vs-corpus verdict.
  //
  // Sizing: m = 2^20 bits (128 KB literal) ≈ 16 bits/element up to a
  // 65k-doc batch — fp rate ~1e-3 at k=5. With spark.graft.docStore
  // wired the corpus side reads its precomputed fp at rest (the q110/q37
  // discipline), so the prune scans one long column.
  private val BloomBits = 1 << 20
  private val BloomK = 5

  private def ingestBatchFp(s: SparkSession, d: String): DataFrame =
    docs(s, d).filter(col("doc_id") % IngestMod === IngestRem)
      .select(col("doc_id"), DocStore.fpExpr(col("text")).as("fp"))

  /** Corpus rows surviving the batch's Bloom prune — q128's candidate
    * frame (true dups plus the ~1e-3 false-positive sliver; published as
    * `q128cand` by the scale10 stage so the prune ratio is attributable
    * from the artifact). */
  private[graft] def bloomSurvivors(s: SparkSession, d: String): DataFrame = {
    // one tiny job over the batch; the filter is a bounded driver model
    // (m/8 bytes, 128 KB) — the runtime-filter shape of Spark's own
    // InSubqueryExec results
    val bloom = ingestBatchFp(s, d)
      .agg(Sketches.bloomFilter(BloomBits, BloomK)(col("fp")))
      .head.getAs[Array[Byte]](0)
    corpusFp(s, d).filter(
      BloomProbeExpr.bloomMightContain(lit(bloom), col("fp"), BloomK))
  }

  private def q128(s: SparkSession, d: String): DataFrame = {
    val corpusMin = bloomSurvivors(s, d)
      .groupBy(col("fp")).agg(min(col("doc_id")).as("c_min"))
    ingestBatchFp(s, d).join(broadcast(corpusMin), Seq("fp"), "left")
      .select(col("doc_id"),
        when(col("c_min").isNotNull, lit("dup")).otherwise(lit("new"))
          .as("verdict"),
        col("c_min").as("match_id"))
      .orderBy("doc_id")
  }

  private val q128Sql =
    s"""WITH fp AS (
       |  SELECT doc_id, ${DocStore.sqlFp("text")} AS fp,
       |    (doc_id % $IngestMod = $IngestRem) AS is_batch
       |  FROM documents),
       |cmin AS (
       |  SELECT fp, min(doc_id) AS c_min FROM fp WHERE NOT is_batch GROUP BY 1)
       |SELECT b.doc_id,
       |  CASE WHEN c.c_min IS NOT NULL THEN 'dup' ELSE 'new' END AS verdict,
       |  c.c_min AS match_id
       |FROM fp b LEFT JOIN cmin c USING (fp)
       |WHERE b.is_batch ORDER BY 1""".stripMargin

  // ---- q132: MinHash-LSH recall harness (the lexical q106) ---------------
  // The measurement a banding config is tuned against: of the pairs that
  // are TRULY similar (exact n-gram Jaccard ≥ threshold), what fraction
  // does the band join actually surface as candidates? With 4 bands × 2
  // rows, P(collide) = 1 − (1 − j²)⁴ — 0.68 at j = 0.5 — so recall < 1
  // is the honest expected output, and a deployment raising bands/rows
  // re-runs THIS query to see the trade. Ground truth is probe-bounded
  // (a fixed ≤40-doc probe set × corpus via broadcast, the q40/q106
  // discipline — never corpus²); the found set is the verified band
  // construction (corpusBands — BandStore-served when wired). Per-probe
  // and exact integer per-mille, so the oracle matches bit-for-bit.
  private val RecallProbeMod = 25L
  private val RecallProbeMax = 40L

  private def q132(s: SparkSession, d: String): DataFrame = {
    val isProbe = (id: Column) =>
      id % RecallProbeMod === 0 && id < RecallProbeMod * RecallProbeMax
    val base = graft.operators.Joins.keyRepartition(docs(s, d), col("doc_id"))
      .select(col("doc_id"), T.shingleHashesPacked(3)(col("text")).as("hs"))
      .filter(length(col("hs")) > 0) // degenerate docs have no shingles
    val probes = base.filter(isProbe(col("doc_id")))
      .select(col("doc_id").as("p_id"), col("hs").as("phs"))
    val truth = base.crossJoin(broadcast(probes))
      .filter(col("doc_id") =!= col("p_id"))
      .select(col("p_id"), col("doc_id"),
        T.jaccardMicroPacked(col("phs"), col("hs")).as("j_u"))
      .filter(col("j_u") >= (JaccardThreshold * 1e6).toLong)
    val bands = corpusBands(s, d)
      .filter(length(col("hs")) > 0)
      .select(col("doc_id"), col("band"), col("key"))
    val found = bands.filter(isProbe(col("doc_id")))
      .select(col("doc_id").as("p_id"), col("band"), col("key"))
      .join(bands, Seq("band", "key"))
      .filter(col("doc_id") =!= col("p_id"))
      .select(col("p_id"), col("doc_id")).distinct()
    truth
      .join(found.withColumn("hit", lit(1)), Seq("p_id", "doc_id"), "left")
      .groupBy(col("p_id"))
      .agg(count(lit(1)).as("n_true"), count(col("hit")).as("n_found"))
      .select(col("p_id"), col("n_true"), col("n_found"),
        expr("n_found * 1000 div n_true").as("recall_pm"))
      .orderBy("p_id")
  }

  private val q132Sql = {
    val pred = (id: String) =>
      s"$id % $RecallProbeMod = 0 AND $id < ${RecallProbeMod * RecallProbeMax}"
    val sigExprs = (0 until T.MinHashK)
      .map(j => s"${T.sqlMinhash("hs", j)} AS sig$j").mkString(",\n    ")
    val bandSelects = (0 until T.MinHashBands).map { b =>
      val key = (0 until T.MinHashRows)
        .map(r => s"sig${b * T.MinHashRows + r}").mkString(" || ':' || ")
      s"SELECT doc_id, $b AS band, $key AS key FROM sigs"
    }.mkString("\n  UNION ALL\n  ")
    val jac = FP.sqlMicro(
      "len(list_intersect(p.phs, b.hs))::DOUBLE / len(list_distinct(list_concat(p.phs, b.hs)))")
    s"""WITH base AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(
       |      ${T.sqlShingles(s"(${T.sqlTokens("text")})", 3)},
       |      sh -> ${T.sqlCharHash("sh")})) AS hs
       |  FROM documents),
       |nz AS (SELECT * FROM base WHERE len(hs) > 0),
       |p AS (SELECT doc_id AS p_id, hs AS phs FROM nz WHERE ${pred("doc_id")}),
       |truth AS (
       |  SELECT p.p_id, b.doc_id FROM p, nz b
       |  WHERE b.doc_id <> p.p_id
       |    AND $jac >= ${(JaccardThreshold * 1e6).toLong}),
       |sigs AS (SELECT doc_id, hs, $sigExprs FROM nz),
       |bands AS (
       |  $bandSelects),
       |found AS (
       |  SELECT DISTINCT a.doc_id AS p_id, b.doc_id
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
       |  WHERE ${pred("a.doc_id")} AND b.doc_id <> a.doc_id),
       |j AS (
       |  SELECT t.p_id, t.doc_id, f.p_id IS NOT NULL AS hit
       |  FROM truth t LEFT JOIN found f
       |    ON f.p_id = t.p_id AND f.doc_id = t.doc_id)
       |SELECT p_id, count(*) AS n_true,
       |  count(*) FILTER (hit) AS n_found,
       |  (count(*) FILTER (hit) * 1000) // count(*) AS recall_pm
       |FROM j GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- q131: Unicode-NFC-normalized dedup (form-invariant fingerprints) --
  // Byte-level dedup keys split documents that RENDER identically: the
  // same "café" arrives precomposed (U+00E9) from web crawls and
  // decomposed ("e" + combining U+0301) from macOS-origin sources, and
  // md5/charHash see two documents. Pipeline hygiene normalizes to NFC
  // BEFORE fingerprinting (functions/NormalizeExpr — Spark has no
  // built-in; codegen'd static call, isNormalized fast path for the
  // all-ASCII common case). The fixture renders each of 20 content
  // groups in the form picked by doc_id parity (the q117 fixture
  // discipline: the oracle rebuilds the text with chr() arithmetic), and
  // dedup is q30's shape on the NORMALIZED hash — the raw hash rides
  // along so the artifact shows exactly which rows only normalization
  // could group. Both engines hash per BMP code point (Spark charAt ≡
  // DuckDB ascii over string_split), so the cross-engine hash match IS
  // the NFC-equivalence proof.
  //
  // Scale shape: a narrow codegen'd map (normalize + two hashes), then
  // one 16-byte-per-doc window — O(docs), never pairwise; the same
  // normalize belongs upstream of any DocStore landing whose sources
  // mix Unicode forms.
  private def q131(s: SparkSession, d: String): DataFrame = {
    // explicit escapes: the two forms RENDER identically (the point of
    // the operator), and raw literals would be one editor-side NFC
    // normalization away from silently collapsing the fixture
    // form = (doc_id div 20) % 2, NOT doc_id % 2: the group is
    // doc_id % 20, so parity is CONSTANT inside a group — keyed on it,
    // no group would ever mix forms and the demo would be vacuous;
    // keyed on div, consecutive members of every group alternate forms
    val accent = when((col("doc_id") / 20).cast("long") % 2 === 0,
      lit("\u00e9")).otherwise(lit("e\u0301"))
    val t = concat(lit("doc "), (col("doc_id") % 20).cast("string"),
      lit(" caf"), accent)
    val keyed = docs(s, d).select(col("doc_id"),
      graft.functions.CharHashExpr.charHashNative(t).as("raw_h"),
      graft.functions.CharHashExpr.charHashNative(
        graft.functions.NormalizeExpr.nfcNormalize(t)).as("norm_h"),
      (graft.functions.NormalizeExpr.nfcNormalize(t) =!= t).as("recomposed"))
    val w = Window.partitionBy(col("norm_h"))
    keyed.withColumn("dup_of", min(col("doc_id")).over(w))
      .select(col("doc_id"), col("raw_h"), col("norm_h"), col("recomposed"),
        col("dup_of"), (col("dup_of") < col("doc_id")).as("is_dup"))
      .orderBy("doc_id")
  }

  private val q131Sql = {
    val t = "'doc ' || (doc_id % 20) || ' caf' || " +
      "CASE WHEN (doc_id // 20) % 2 = 0 THEN chr(233) ELSE 'e' || chr(769) END"
    s"""WITH k AS (
       |  SELECT doc_id, ${T.sqlCharHash(s"($t)")} AS raw_h,
       |    ${T.sqlCharHash(s"nfc_normalize($t)")} AS norm_h,
       |    nfc_normalize($t) <> ($t) AS recomposed
       |  FROM documents),
       |g AS (SELECT norm_h, min(doc_id) AS dup_of FROM k GROUP BY 1)
       |SELECT k.doc_id, k.raw_h, k.norm_h, k.recomposed, g.dup_of,
       |  g.dup_of < k.doc_id AS is_dup
       |FROM k JOIN g USING (norm_h) ORDER BY 1""".stripMargin
  }

  // ---- q101: streaming near-dup first-seen (ingest-side LSH dedup) -------
  // The INGEST half of near-dedup: as documents arrive, is each one a
  // near-duplicate of ANYTHING seen so far? State is the per-bucket
  // first-seen table (streaming/DocStreams.bucketFirstSeen — one row per
  // distinct LSH band bucket, min/count so arrival order cannot change the
  // converged answer; StreamingSpec replays it through a MemoryStream).
  // This batch twin IS the verified query: every doc resolves to the
  // smallest doc_id sharing any band bucket. Docs too short to shingle
  // (empty hs) are their own canonical — they get an all-sentinel
  // signature that would otherwise bucket every empty doc together (the
  // SQL side's NULL keys never join, so the filter also keeps the two
  // engines on the same candidate set).
  private def q101(s: SparkSession, d: String): DataFrame = {
    val bands = corpusBands(s, d)
      .filter(length(col("hs")) > 0) // hs is the PACKED byte set
      .select(col("doc_id"), col("band"), col("key"))
    val first = graft.streaming.DocStreams.bucketFirstSeen(bands)
    val dupOf = bands.join(first, Seq("band", "key"))
      .groupBy(col("doc_id"))
      .agg(min(col("first_id")).as("dup0"))
    docs(s, d).select(col("doc_id"))
      .join(dupOf, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("dup0"), col("doc_id")).as("dup_of"),
        (coalesce(col("dup0"), col("doc_id")) < col("doc_id")).as("is_dup"))
      .orderBy("doc_id")
  }

  private val q101Sql = {
    val sigExprs = (0 until T.MinHashK)
      .map(j => s"${T.sqlMinhash("hs", j)} AS sig$j").mkString(",\n    ")
    val bandSelects = (0 until T.MinHashBands).map { b =>
      val key = (0 until T.MinHashRows)
        .map(r => s"sig${b * T.MinHashRows + r}").mkString(" || ':' || ")
      s"SELECT doc_id, $b AS band, $key AS key FROM sigs WHERE len(hs) > 0"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH base AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(
       |      ${T.sqlShingles(s"(${T.sqlTokens("text")})", 3)},
       |      sh -> ${T.sqlCharHash("sh")})) AS hs
       |  FROM documents),
       |sigs AS (SELECT doc_id, hs, $sigExprs FROM base),
       |bands AS (
       |  $bandSelects),
       |m AS (SELECT band, key, min(doc_id) AS first_id FROM bands GROUP BY 1, 2),
       |j AS (
       |  SELECT b.doc_id, min(m.first_id) AS dup0
       |  FROM bands b JOIN m ON b.band = m.band AND b.key = m.key
       |  GROUP BY 1)
       |SELECT d.doc_id,
       |  coalesce(j.dup0, d.doc_id) AS dup_of,
       |  coalesce(j.dup0, d.doc_id) < d.doc_id AS is_dup
       |FROM documents d LEFT JOIN j USING (doc_id) ORDER BY 1""".stripMargin
  }

  // ---- q35: SimHash near-duplicate pairs (Hamming LSH) -------------------
  private val MaxHamming = 8

  // SimHash over 3-shingles, not single tokens: with a small vocabulary,
  // token-set fingerprints collapse (every doc shares the common words);
  // shingles restore discriminative power, keeping the chunk-LSH join
  // selective — essential at scale, where a degenerate fingerprint would
  // turn the bucket join quadratic.
  private def q35(s: SparkSession, d: String): DataFrame = {
    // Exchange before the kernels (see q34); fingerprint computed once per
    // document, then a second barrier before the 4-way chunk fan-out.
    val sigs = docs(s, d)
      .transform(graft.operators.Joins.keyRepartition(_, col("doc_id")))
      .select(col("doc_id"),
        T.simhashPacked(T.shingleHashesPacked(3)(col("text"))).as("sig"))
      .transform(graft.operators.Joins.keyRepartition(_, col("doc_id")))
    val chunks = sigs.select(col("doc_id"), col("sig"),
      explode(array((0 until T.SimHashChunks).map { c =>
        struct(lit(c).as("c"), T.simhashChunk(col("sig"), c).as("v"))
      }: _*)).as("ck"))
      .select(col("doc_id"), col("sig"), col("ck.c"), col("ck.v"))
    val l = chunks.select(col("c"), col("v"), col("doc_id").as("d1"), col("sig").as("sig1"))
    val r = chunks.select(col("c"), col("v"), col("doc_id").as("d2"), col("sig").as("sig2"))
    l.join(r, Seq("c", "v")).filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"), T.hamming(col("sig1"), col("sig2")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= MaxHamming)
      .orderBy("d1", "d2")
  }

  private val q35Sql = {
    val chunkSelects = (0 until T.SimHashChunks).map { c =>
      s"SELECT doc_id, sig, $c AS c, ${T.sqlSimhashChunk("sig", c)} AS v FROM sigs"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH sigs AS (
       |  SELECT doc_id,
       |    ${T.sqlSimhash(s"list_distinct(list_transform(${T.sqlShingles(s"(${T.sqlTokens("text")})", 3)}, w -> ${T.sqlCharHash("w")}))")} AS sig
       |  FROM documents),
       |chunks AS (
       |  $chunkSelects)
       |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
       |  ${T.sqlHamming("a.sig", "b.sig")} AS hamming
       |FROM chunks a JOIN chunks b ON a.c = b.c AND a.v = b.v
       |WHERE a.doc_id < b.doc_id AND ${T.sqlHamming("a.sig", "b.sig")} <= $MaxHamming
       |ORDER BY 1, 2""".stripMargin
  }

  // ---- q36: n-gram Jaccard (exact over hashed 2-shingles, within source
  // blocks), on LSH-generated CANDIDATE pairs. Hashing the shingles
  // (mirrored in the oracle) lets each pair compare two packed long streams
  // instead of two string arrays.
  //
  // Candidate generation is the scale story: the earlier shape paired every
  // doc against every doc in its source block — salting spreads that
  // O(n²/block) work but does not shrink it, exactly the quadratic shape a
  // 100 TB corpus with a handful of large sources cannot afford. Instead,
  // MinHash signatures over the SAME 2-shingle sets feed K single-row LSH
  // bands (r=1 maximizes recall at a fixed K: P[candidate] = 1-(1-j)^K);
  // the pair join is an equi-join on (band, minhash, source) — work scales
  // with bucket occupancy, not block size² — and the exact packed-Jaccard
  // merge-walk runs only on candidates. Recall at K=32: a pair at the
  // j ≥ 0.2 output threshold is missed with probability (1-j)^32 ≤ 8e-4,
  // and real qualifying pairs are near-duplicates — measured on this
  // corpus every pair ≥ 0.2 is in fact ≥ 0.90 (bimodal: near-dup or
  // unrelated), where the miss probability is astronomically small. The
  // DuckDB oracle stays the exact all-pairs form, so the driver hash-check
  // verifies, per round, that the candidate set lost nothing.
  //
  // The bucket join moves doc IDS only: exact-duplicate cliques collide in
  // every band (K·m² join rows for an m-doc clique — the output itself is
  // m² pairs, but the K× band multiplicity is pure waste), so candidates
  // are deduped to distinct (source, d1, d2) BEFORE the packed shingle
  // payloads join in by id. Hot buckets thus stream 16-byte rows, not
  // shingle arrays, and each surviving pair decodes its payloads once.
  private val JaccardBands = 32

  /** q36's shared shingled+hashed base — the shingle projection runs
    * BELOW the repartition: the exchange is then the common subtree all
    * four consumers (band l/r, payload d1/d2) reuse, so the corpus is
    * shingled+hashed ONCE and its shuffle files are re-read — projecting
    * above the exchange instead recomputes the projection per consumer
    * (4 full-corpus hash passes, observed), and shuffles raw text rather
    * than the smaller packed hashes. */
  private def jaccardBase(s: SparkSession, d: String): DataFrame =
    // checkpointed per (session, corpus) — r14: the exchange-reuse
    // argument above holds for the STREAM subtrees, but every BROADCAST
    // build side of the four-way consumption re-executes its subtree
    // single-threaded on the driver (the same disease the q43 candidate
    // tier measured at ~4 s of its 10× wall). The checkpoint makes all
    // four consumers read materialized rows; ~(docs × packed shingles),
    // the same footprint the exchange already carried.
    jaccardBaseMemo.getOrElseUpdate(s, d)(
      docs(s, d)
        .select(col("doc_id"), col("source"),
          T.shingleHashesPacked(2)(col("text")).as("gs"))
        .transform(graft.operators.Joins.keyRepartition(_, col("doc_id")))
        .localCheckpoint())

  private val jaccardBaseMemo = new SessionMemo[DataFrame]
  private val jaccardBandMemo = new SessionMemo[DataFrame]

  /** q36's deduped LSH candidate pairs (src_cand, d1, d2), BEFORE the
    * exact packed-Jaccard scoring — built FROM the shared base so the
    * registered query and the bench's scale10 count probe can never
    * bucket differently (the nearDupCandidates discipline: candidate and
    * survivor counts attribute any superlinear scale10 wall from the
    * artifact alone). */
  private def jaccardCandFrom(s: SparkSession, d: String): DataFrame = {
    // base derived HERE, not taken as a parameter (r14 advice): the band
    // memo below is keyed only by (session, corpus), so a caller passing
    // any OTHER base would silently receive bands built from
    // jaccardBase(s, d) — deriving it closes the latent wrong-result trap
    val base = jaccardBase(s, d)
    // band-id frame checkpointed too (r14): the 32 per-doc minhash
    // signatures are computed above the base checkpoint, so without this
    // the broadcast build of the self-join's right side re-runs the
    // whole signature pass on the driver. Ids only, the q36 discipline.
    val bands = jaccardBandMemo.getOrElseUpdate(s, d)(base
      .withColumn("sigs", T.minhashSigsPackedK(JaccardBands)(col("gs")))
      .select(col("doc_id"), col("source"),
        explode(array((0 until JaccardBands).map { j =>
          struct(lit(j).as("band"), element_at(col("sigs"), j + 1).as("key"))
        }: _*)).as("bk"))
      .select(col("doc_id"), col("source"), col("bk.band"), col("bk.key"))
      .localCheckpoint())
    val l = bands.select(col("band"), col("key"), col("source"), col("doc_id").as("d1"))
    val r = bands.select(col("band"), col("key"), col("source"), col("doc_id").as("d2"))
    l.join(r, Seq("band", "key", "source"))
      .filter(col("d1") < col("d2"))
      .select(col("source").as("src_cand"), col("d1"), col("d2"))
      .distinct()
  }

  private[graft] def jaccardCandidates(s: SparkSession, d: String): DataFrame =
    jaccardCandFrom(s, d)

  private def q36(s: SparkSession, d: String): DataFrame = {
    val base = jaccardBase(s, d)
    val cand = jaccardCandFrom(s, d)
    // the payloads keep ALL of base's columns and the output `source`
    // comes from the d1 payload (identical value — the pair is same-source
    // by the band join): pruning `source` out of the payload branch would
    // give it a narrower scan subtree than the bands', and the four-way
    // exchange reuse above only fires on identical subtrees. The
    // `s1 === s2` filter is semantically free (always true for band-join
    // candidates) but load-bearing for the plan: it keeps s2 alive against
    // column pruning AND infers IsNotNull on both payload scans, matching
    // the not-null filter the band join key already pushes to the bands'
    // scan — without it the three scan subtrees differ and reuse dies
    cand
      .join(base.select(col("doc_id").as("d1"), col("source").as("s1"),
        col("gs").as("g1")), Seq("d1"))
      .join(base.select(col("doc_id").as("d2"), col("source").as("s2"),
        col("gs").as("g2")), Seq("d2"))
      .filter(col("s1") === col("s2"))
      .select(col("s1").as("source"), col("d1"), col("d2"),
        T.jaccardMicroPacked(col("g1"), col("g2")).as("jaccard_u"))
      .filter(col("jaccard_u") >= 200000L)
      .orderBy("source", "d1", "d2")
  }

  private val q36Sql = {
    val j = "len(list_intersect(g1, g2))::DOUBLE / len(list_distinct(list_concat(g1, g2)))"
    s"""WITH base AS (
       |  SELECT doc_id, source,
       |    list_distinct(list_transform(
       |      ${T.sqlShingles(s"(${T.sqlTokens("text")})", 2)},
       |      sh -> ${T.sqlCharHash("sh")})) AS gs
       |  FROM documents)
       |SELECT a.source, a.doc_id AS d1, b.doc_id AS d2,
       |  ${FP.sqlMicro(j.replace("g1", "a.gs").replace("g2", "b.gs"))} AS jaccard_u
       |FROM base a JOIN base b ON a.source = b.source AND a.doc_id < b.doc_id
       |WHERE ${FP.sqlMicro(j.replace("g1", "a.gs").replace("g2", "b.gs"))} >= 200000
       |ORDER BY 1, 2, 3""".stripMargin
  }

  // ---- q37: document fingerprint (rolling hash) + dedup groups -----------
  private def q37(s: SparkSession, d: String): DataFrame = {
    // At-rest fast path (the q97/TermStore discipline): point
    //   spark.graft.docStore = "<corpusDir>=<tableName>"
    // at a fingerprint-bucketed DocStore and the scan already carries
    // `fp` (the SAME nfc-aware expression — DocStore.fpExpr, the one
    // builder every probe surface shares, so the stored key cannot
    // drift from the cold branch's) and the dedup groupBy rides the buckets with
    // NO exchange at all (DocStoreSpec pins plan + parity on this
    // registered query). At 100 TB that is the difference between a
    // per-ingest corpus reshuffle and a co-located scan.
    val withFp = docStoreTable(s, d) match {
      case Some(table) =>
        graft.sources.DocStore.loadBucketed(s, table)
          .select(col("doc_id"), col("fp"))
      case None => docs(s, d)
        .select(col("doc_id"), DocStore.fpExpr(col("text")).as("fp"))
    }
    withFp
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
      .orderBy("keep_id")
  }

  private val q37Sql =
    s"""SELECT ${DocStore.sqlFp("text")} AS fp,
       | min(doc_id) AS keep_id, count(*) AS n_docs
       |FROM documents GROUP BY 1 ORDER BY 2""".stripMargin

  // ---- q54: Gopher-style repetition signals (intra-row, shuffle-free) ----
  // Repeated-content quality filters for a pretraining corpus: fraction of
  // repeated words and the multiplicity of the most-repeated word bigram.
  // The whole computation is a narrow map of codegen'd array expressions —
  // the top-bigram count avoids a per-bigram groupBy (a corpus-sized
  // shuffle at 100 TB) by sorting the bigram array IN-ROW and taking the
  // longest equal-run with one aggregate() scan. The DuckDB oracle computes
  // the same statistics the straightforward unnest/groupBy way, proving
  // the run-length trick equals the count-max semantics.
  private def q54(s: SparkSession, d: String): DataFrame = {
    val ws = split(col("text"), " ")
    val bigrams = transform(sequence(lit(1), size(col("ws")) - 1),
      i => concat(element_at(col("ws"), i), lit(" "), element_at(col("ws"), i + 1)))
    val sortedBg = array_sort(col("bgs"))
    val topRun = aggregate(sortedBg,
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    docs(s, d)
      .withColumn("ws", ws)
      .filter(size(col("ws")) >= 2)
      .withColumn("bgs", bigrams)
      .select(col("doc_id"),
        size(col("ws")).cast(LongType).as("n_words"),
        size(array_distinct(col("ws"))).cast(LongType).as("n_distinct_words"),
        topRun.cast(LongType).as("top_bigram_n"))
      .withColumn("dup_word_pm",
        expr("((n_words - n_distinct_words) * 1000) div n_words"))
      .orderBy("doc_id")
  }

  private val q54Sql =
    """WITH ws AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |words AS (SELECT doc_id, unnest(w) AS word FROM ws),
      |wstats AS (
      |  SELECT doc_id, count(*) AS n_words,
      |    count(DISTINCT word) AS n_distinct_words
      |  FROM words GROUP BY 1),
      |bg AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(w)),
      |      i -> w[i] || ' ' || w[i + 1])) AS b
      |  FROM ws),
      |bgtop AS (
      |  SELECT doc_id, max(c) AS top_bigram_n
      |  FROM (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2)
      |  GROUP BY 1)
      |SELECT w.doc_id, w.n_words, w.n_distinct_words,
      |  t.top_bigram_n AS top_bigram_n,
      |  ((w.n_words - w.n_distinct_words) * 1000) // w.n_words AS dup_word_pm
      |FROM wstats w JOIN bgtop t USING (doc_id) ORDER BY 1""".stripMargin

  // ---- q55: PII / URL redaction (rule-based scrubbing) -------------------
  // The synthetic corpus carries no addresses, so deterministic emails and
  // URLs are INJECTED into a known subset of documents first; the scrub
  // then counts and replaces them, and the oracle re-derives the identical
  // redacted text — verified to the last character via the canonical char
  // hash. Patterns stay inside the regex subset Java and RE2 interpret
  // identically. One narrow map: no shuffle, no UDF.
  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val UrlRe = "https?://[^ ]+"

  private def q55(s: SparkSession, d: String): DataFrame = {
    val aug = concat(col("text"),
      when(col("doc_id") % 7 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com now"))).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        concat(lit(" see https://site"), col("doc_id").cast("string"),
          lit(".example.org/p ok"))).otherwise(lit("")))
    docs(s, d)
      .withColumn("aug", aug)
      .withColumn("redacted",
        regexp_replace(regexp_replace(col("aug"), EmailRe, "<EMAIL>"),
          UrlRe, "<URL>"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("aug"), lit(EmailRe), lit(0)))
          .cast(LongType).as("n_email"),
        size(regexp_extract_all(col("aug"), lit(UrlRe), lit(0)))
          .cast(LongType).as("n_url"),
        length(col("redacted")).cast(LongType).as("redacted_len"),
        T.charHash(col("redacted")).as("redacted_hash"))
      .orderBy("doc_id")
  }

  private val q55Sql = {
    val aug = "text || (CASE WHEN doc_id % 7 = 0 THEN ' contact user' || " +
      "CAST(doc_id AS VARCHAR) || '@mail.example.com now' ELSE '' END) || " +
      "(CASE WHEN doc_id % 5 = 0 THEN ' see https://site' || " +
      "CAST(doc_id AS VARCHAR) || '.example.org/p ok' ELSE '' END)"
    s"""WITH aug AS (SELECT doc_id, $aug AS aug FROM documents),
       |red AS (
       |  SELECT doc_id, aug,
       |    regexp_replace(regexp_replace(aug, '$EmailRe', '<EMAIL>', 'g'),
       |      '$UrlRe', '<URL>', 'g') AS redacted
       |  FROM aug)
       |SELECT doc_id,
       |  len(regexp_extract_all(aug, '$EmailRe')) AS n_email,
       |  len(regexp_extract_all(aug, '$UrlRe')) AS n_url,
       |  length(redacted) AS redacted_len,
       |  ${T.sqlCharHash("redacted")} AS redacted_hash
       |FROM red ORDER BY 1""".stripMargin
  }

  // ---- q56: stratified deterministic sampling (domain rebalancing) -------
  // Training-data mixing: each source keeps a DIFFERENT target fraction
  // (rebalance domains), decided per row by the same overflow-safe MINSTD
  // hash as q48 — membership is a pure function of doc_id, reproducible on
  // any engine, at any parallelism, and the predicate runs scan-side. The
  // id-sum column makes the oracle sensitive to exact membership, not just
  // realized counts.
  private def q56(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      // try_cast + coalesce: a source name without the numeric suffix
      // (any real-world corpus) gets the base rate instead of an ANSI
      // cast ABORT; identical values for the generator's srcN names
      // length-free substring, matching the oracle's substr(source, 4)
      // exactly — a 10-char cap would int-parse a DIFFERENT prefix than
      // DuckDB for very long numeric suffixes (both sides overflow to
      // NULL identically on the full suffix)
      .withColumn("rate",
        lit(5) + pmod(coalesce(
          expr("try_cast(substring(source, 4) AS int)"), lit(0)),
          lit(3)) * 10)
      .withColumn("keep",
        pmod(pmod(col("doc_id") * 48271L, lit(2147483647L)), lit(100)) < col("rate"))
      .groupBy(col("source"), col("rate"))
      .agg(count(lit(1)).cast(LongType).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("doc_id")).otherwise(0L)).as("kept_id_sum"))
      .orderBy("source")

  private val q56Sql =
    """SELECT source, rate, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(sum(CASE WHEN keep THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum
      |FROM (
      |  SELECT source, doc_id,
      |    5 + (coalesce(TRY_CAST(substr(source, 4) AS INT), 0) % 3) * 10 AS rate,
      |    ((doc_id * 48271) % 2147483647) % 100
      |      < 5 + (coalesce(TRY_CAST(substr(source, 4) AS INT), 0) % 3) * 10 AS keep
      |  FROM documents)
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  // ---- q57: benchmark decontamination (n-gram overlap vs an eval set) ----
  // The standard pretraining hygiene pass: flag corpus documents sharing
  // word k-shingles with a held-out evaluation set. Here the eval set is a
  // deterministic document subset (doc_id % 50 = 0); at production scale
  // it is the benchmark suite — always orders of magnitude smaller than
  // the corpus, so the eval shingle table BROADCASTS and the corpus is
  // never shuffled: the whole pass is scan → narrow shingle map →
  // broadcast semi-structured join → per-doc aggregate.
  private val DecontamK = 3
  private val EvalMod = 50

  private def q57(s: SparkSession, d: String): DataFrame = {
    val sh = docs(s, d).select(col("doc_id"),
      T.shingleHashes(DecontamK)(col("text")).as("hs"))
    val corp = sh.filter(col("doc_id") % EvalMod =!= 0)
    val ev = sh.filter(col("doc_id") % EvalMod === 0)
      .select(col("doc_id").as("eval_id"), explode(col("hs")).as("h"))
    val hits = corp.select(col("doc_id"), explode(col("hs")).as("h"))
      .join(broadcast(ev), "h")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("h")).as("hit0"),
        countDistinct(col("eval_id")).as("ev0"))
    corp.select(col("doc_id"), size(col("hs")).cast(LongType).as("n_shingles"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("hit0"), lit(0L)).as("n_hit"),
        coalesce(col("ev0"), lit(0L)).as("n_eval_docs"))
      .withColumn("contam_pm", expr("(n_hit * 1000) div n_shingles"))
      .orderBy("doc_id")
  }

  private val q57Sql = {
    val hs = s"list_distinct(list_transform(" +
      s"${T.sqlShingles(T.sqlTokens("text"), DecontamK)}, s -> ${T.sqlCharHash("s")}))"
    s"""WITH sh AS (SELECT doc_id, $hs AS hs FROM documents),
       |corp AS (SELECT doc_id, unnest(hs) AS h FROM sh WHERE doc_id % $EvalMod <> 0),
       |ev AS (SELECT doc_id AS eval_id, unnest(hs) AS h FROM sh
       |       WHERE doc_id % $EvalMod = 0),
       |hits AS (
       |  SELECT c.doc_id, count(DISTINCT c.h) AS n_hit,
       |    count(DISTINCT e.eval_id) AS n_eval_docs
       |  FROM corp c JOIN ev e USING (h) GROUP BY 1),
       |base AS (SELECT doc_id, len(hs) AS n_shingles FROM sh
       |         WHERE doc_id % $EvalMod <> 0)
       |SELECT b.doc_id, b.n_shingles,
       |  coalesce(h.n_hit, 0) AS n_hit,
       |  coalesce(h.n_eval_docs, 0) AS n_eval_docs,
       |  (coalesce(h.n_hit, 0) * 1000) // b.n_shingles AS contam_pm
       |FROM base b LEFT JOIN hits h USING (doc_id) ORDER BY 1""".stripMargin
  }

  // ---- q79: contamination SPANS (longest contiguous eval overlap) --------
  // q57 counts how many eval shingles a document shares; span detection
  // answers the question decontamination actually acts on: is the overlap
  // a few scattered phrases (benign) or one long verbatim quote of a
  // benchmark item (leak)? Positions ride the shingle explode, the eval
  // hash set broadcasts (q57's shape — the corpus is never shuffled by
  // shingle), and only MATCHED (doc, pos) rows reach the per-doc
  // aggregation, so reducer input is bounded by the contamination itself,
  // not the corpus. The longest run over the sorted matched positions is
  // one in-row aggregate() scan (q54's run-length trick); the oracle finds
  // the same islands with the classic pos − row_number() gaps-and-islands.
  private def q79(s: SparkSession, d: String): DataFrame = {
    val k = DecontamK
    val base = docs(s, d)
      .withColumn("ws", T.tokens(col("text")))
      // docs too short to shingle contribute NO rows (and land in the
      // final left join with zeros, like the oracle): the Column-form
      // T.shingles indexes element_at past the array end for size < k —
      // sequence(0, greatest(size-k, -1)) is [0, -1], not empty — so the
      // guard is load-bearing, not cosmetic
      .filter(size(col("ws")) >= k)
      .select(col("doc_id"),
        posexplode(T.shingles(col("ws"), k)).as(Seq("pos0", "sh")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"),
        T.charHash(col("sh")).as("h"))
    val ev = base.filter(col("doc_id") % EvalMod === 0).select(col("h")).distinct()
    val hits = base.filter(col("doc_id") % EvalMod =!= 0)
      .join(broadcast(ev), "h")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_set(col("pos"))).as("ps"))
    val run = aggregate(col("ps"),
      struct(lit(-2).as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val r = when(x === acc.getField("prev") + 1, acc.getField("run") + 1)
          .otherwise(lit(1L))
        struct(x.as("prev"), r.as("run"),
          greatest(acc.getField("best"), r).as("best"))
      },
      acc => acc.getField("best"))
    docs(s, d).filter(col("doc_id") % EvalMod =!= 0).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(size(col("ps")), lit(0)).cast(LongType).as("n_hit_pos"),
        coalesce(run, lit(0L)).as("max_run"),
        when(col("ps").isNull, lit(0L))
          .otherwise(run + (k - 1)).as("max_span_tokens"))
      .orderBy("doc_id")
  }

  private val q79Sql = {
    val k = DecontamK
    val shingleAt = (0 until k).map(o => s"ws[i + $o]").mkString(" || ' ' || ")
    s"""WITH base AS (SELECT doc_id, ${T.sqlTokens("text")} AS ws FROM documents),
       |sh AS (
       |  SELECT doc_id, i AS pos, ${T.sqlCharHash(s"($shingleAt)")} AS h
       |  FROM base, unnest(range(1, len(ws) - ${k - 2})) AS t(i)),
       |ev AS (SELECT DISTINCT h FROM sh WHERE doc_id % $EvalMod = 0),
       |hits AS (
       |  SELECT DISTINCT s.doc_id, s.pos FROM sh s JOIN ev USING (h)
       |  WHERE s.doc_id % $EvalMod <> 0),
       |runs AS (
       |  SELECT doc_id, pos,
       |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM hits),
       |island AS (SELECT doc_id, grp, count(*) AS run FROM runs GROUP BY 1, 2),
       |agg AS (
       |  SELECT doc_id, count(*) AS n_hit_pos, max(run) AS max_run
       |  FROM runs JOIN island USING (doc_id, grp) GROUP BY 1)
       |SELECT b.doc_id,
       |  coalesce(a.n_hit_pos, 0) AS n_hit_pos,
       |  coalesce(a.max_run, 0) AS max_run,
       |  CASE WHEN a.max_run IS NULL THEN 0
       |       ELSE a.max_run + ${k - 1} END AS max_span_tokens
       |FROM (SELECT doc_id FROM documents WHERE doc_id % $EvalMod <> 0) b
       |LEFT JOIN agg a USING (doc_id) ORDER BY 1""".stripMargin
  }

  // ---- q100: per-source quality calibration (percentile normalization) ---
  // Raw quality scores are not comparable ACROSS sources (a mid-tier web
  // page outscores a top-tier forum post on the same heuristic), so mixing
  // recipes threshold the per-source PERCENTILE, not the raw score — the
  // CCNet bucketing pattern. One window per source partition (never a
  // global sort; sources calibrate independently, so at corpus scale the
  // work spreads over sources and the skew bound is the largest single
  // source). The (quality_u, doc_id) order makes ranks unique and
  // percent_rank = (rank−1)/(n−1) an exactly-rounded IEEE quotient of
  // integers — engine-exact, so the oracle hash-matches the µ-rounded
  // percentile bit-for-bit.
  private val KeepPctU = 500000L // keep the top half of each source

  private def q100(s: SparkSession, d: String): DataFrame = {
    val (_, _, _, quality) = qualityPieces
    // NULL placement EXPLICIT on both sides: quality_u is NULL for a
    // zero-length text (the nullif divisor in qualityPieces), and Spark's
    // default ascending order puts NULLs FIRST while DuckDB's puts them
    // LAST — on any corpus with one empty document every percent_rank in
    // its source would silently diverge between the engines. NULLS FIRST
    // is the semantically right side: rank 1 ⇒ pct 0 ⇒ keep=false — a
    // quality gate must DROP a degenerate document, never crown it top
    // percentile (the same NULL-loses contract as q109's representative
    // pick). EdgeDocsSpec pins it.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("quality_u").asc_nulls_first, col("doc_id"))
    docs(s, d)
      .select(col("doc_id"), col("source"), FP.micro(quality).as("quality_u"))
      .withColumn("pct_u", FP.micro(percent_rank().over(w)))
      .withColumn("keep", col("pct_u") >= KeepPctU)
      .orderBy("doc_id")
  }

  private val q100Sql = {
    val (_, _, _, quality) = sqlQualityPieces
    s"""WITH q AS (
       |  SELECT doc_id, source, ${FP.sqlMicro(quality)} AS quality_u
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, source, quality_u,
       |    ${FP.sqlMicro("percent_rank() OVER (PARTITION BY source ORDER BY quality_u NULLS FIRST, doc_id)")} AS pct_u
       |  FROM q)
       |SELECT doc_id, source, quality_u, pct_u, pct_u >= $KeepPctU AS keep
       |FROM r ORDER BY doc_id""".stripMargin
  }

  // ---- q58: sequence packing (context-window assembly) -------------------
  // Greedy concatenation packing as used to build fixed-length training
  // sequences: within each source, documents in deterministic id order are
  // laid end to end and a document belongs to the context window its FIRST
  // token falls into. One window-function cumsum per source partition —
  // no driver-side loop, no per-document state; sources pack
  // independently, so at corpus scale the work spreads over the
  // (source, pack) grid.
  private val CtxTokens = 256

  private def q58(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    docs(s, d)
      .withColumn("n_tok", size(T.tokens(col("text"))).cast(LongType))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("pack_id", expr(s"(cum - n_tok) div $CtxTokens"))
      .groupBy(col("source"), col("pack_id"))
      .agg(count(lit(1)).cast(LongType).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("source", "pack_id")
  }

  private val q58Sql =
    s"""WITH t AS (
       |  SELECT source, doc_id, len(${T.sqlTokens("text")}) AS n_tok
       |  FROM documents),
       |c AS (
       |  SELECT source, doc_id, n_tok,
       |    sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM t)
       |SELECT source, CAST((cum - n_tok) // $CtxTokens AS BIGINT) AS pack_id,
       |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- q65: BM25 relevance ranking ---------------------------------------
  // Okapi BM25 over the corpus for a fixed query-term set: per-doc term
  // frequencies and document length are a narrow map; the corpus statistics
  // (N, avgdl, per-term document frequency) are ONE tiny aggregated row
  // cross-joined back as a broadcast — the corpus itself is never shuffled,
  // the stats side is O(terms), and the final ranking sorts only the
  // rounded scores. Every arithmetic step is rational (+,-,*,/ — each IEEE
  // correctly-rounded, hence bit-identical cross-engine on identical
  // inputs); the usual log-IDF is replaced by its rational core
  // (N - df + 0.5)/(df + 0.5) — the log's argument — which preserves the
  // BM25 ranking (log is monotone) while keeping the oracle exact.
  // Constants appear as literals in BOTH engines so the parsed doubles are
  // identical bit patterns.
  private val BmTerms = Seq("spark", "filter", "stream")

  private def q65(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
      .select(col("doc_id"), T.tokens(col("text")).as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
    // narrow (doc_id, dl, tf_*) checkpointed per invocation (r14): the
    // corpus-stats agg and the scored stream both consume it, and each
    // otherwise re-tokenizes the corpus — ~40 B/doc materialized vs a
    // second full tokenize pass
    val withTf = BmTerms.foldLeft(base) { (df, t) =>
      df.withColumn(s"tf_$t",
        size(filter(col("toks"), w => w === t)).cast("double"))
    }.drop("toks").localCheckpoint()
    val stats = withTf.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum(col("dl")).as("sum_dl") +:
        BmTerms.map(t =>
          sum(when(col(s"tf_$t") > 0, 1.0).otherwise(0.0)).as(s"df_$t"))): _*)
    val scored = withTf.crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl") / col("n_docs"))
    val score = BmTerms.map { t =>
      val idf = (col("n_docs") - col(s"df_$t") + lit(0.5)) / (col(s"df_$t") + lit(0.5))
      val tf = col(s"tf_$t")
      idf * (tf * lit(2.2)) /
        (tf + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    val rounded = scored.select(
      (col("doc_id") +: BmTerms.map(t => col(s"tf_$t").cast(LongType).as(s"tf_$t"))) :+
        FP.micro(score).as("bm25_u"): _*)
    // Top-k as orderBy().limit(): Catalyst compiles this to
    // TakeOrderedAndProject — each partition keeps a local 50-row heap and
    // only those survivors reach the driver-side merge. A global
    // row_number() window here would instead rely on Spark 4's
    // InferWindowGroupLimit to salvage the single-partition sort; the
    // explicit top-k is the plan we want at 100× without optimizer help.
    // The rank window then runs AFTER the limit, over exactly 50 rows that
    // are already single-partition and pre-sorted — no corpus-sized data
    // ever crosses a SinglePartition exchange (PlanSpec pins this).
    val w = Window.orderBy(col("bm25_u").desc, col("doc_id"))
    rounded
      .orderBy(col("bm25_u").desc, col("doc_id")).limit(50)
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .orderBy("rnk")
  }

  private val q65Sql = {
    val toks = T.sqlTokens("text")
    val tfs = BmTerms.map(t =>
      s"len(list_filter(toks, w -> w = '$t'))::DOUBLE AS tf_$t").mkString(",\n  ")
    val dfs = BmTerms.map(t =>
      s"sum(CASE WHEN tf_$t > 0 THEN 1.0 ELSE 0.0 END) AS df_$t").mkString(",\n  ")
    val score = BmTerms.map(t =>
      s"((n_docs - df_$t + 0.5)/(df_$t + 0.5)) * (tf_$t * 2.2) / " +
        s"(tf_$t + 1.2 * (0.25 + 0.75 * dl / avgdl))").mkString(" + ")
    s"""WITH d0 AS (
       |  SELECT doc_id, $toks AS toks FROM documents),
       |t AS (
       |  SELECT doc_id, len(toks)::DOUBLE AS dl,
       |  $tfs
       |  FROM d0),
       |g AS (
       |  SELECT count(*)::DOUBLE AS n_docs, sum(dl) AS sum_dl,
       |  $dfs
       |  FROM t),
       |scored AS (
       |  SELECT doc_id, ${BmTerms.map(t => s"CAST(tf_$t AS BIGINT) AS tf_$t").mkString(", ")},
       |    ${FP.sqlMicro(score)} AS bm25_u
       |  FROM t, g, (SELECT sum_dl / n_docs AS avgdl FROM g) a)
       |SELECT * FROM (
       |  SELECT *, row_number() OVER (ORDER BY bm25_u DESC, doc_id) AS rnk
       |  FROM scored)
       |WHERE rnk <= 50 ORDER BY rnk""".stripMargin
  }

  // ---- q102: hybrid retrieval — BM25 ⊕ TF-IDF cosine, RRF fusion ---------
  // Production retrieval rarely trusts one ranker: the standard hybrid
  // stack runs a lexical scorer and a vector scorer for the same query and
  // fuses the two top-k lists with reciprocal-rank fusion
  // (score = Σ 1/(k₀ + rank), k₀ = 60 — rank-based, so the two score
  // scales never need calibrating). Here both arms are already-verified
  // machinery over the same fixed query terms: the q65 BM25 top-50, and a
  // full-norm TF-IDF cosine of the query pseudo-doc (tf = 1 per term)
  // against every document — the q97 forward-index shape WITHOUT the df
  // cap (the query terms are deliberately common; dropping them would rank
  // nothing). Fusion itself touches only the two 50-row lists: a
  // full-outer join + one exactly-rounded arithmetic expression, then the
  // q65 top-k pattern (orderBy.limit → TakeOrderedAndProject; the rank
  // window runs over 20 pre-sorted rows).
  private val RrfK0 = 60

  /** q102's cosine-arm inputs: (weights, qw) — the uncapped two-tier df
    * join (the query terms are deliberately common; dropping them would
    * rank nothing — see q97's joinDfreq) and the query pseudo-doc
    * (tf = 1 per term → qu = µ(idf)).
    *
    * Norms/dots downstream widen to decimal(38,0) BEFORE the multiply:
    * without q97's df cap, a stopword-grade term in a long document can
    * push u past ~3e9, where u·u overflows a Long (ANSI abort in Spark;
    * silent HUGEINT promotion in DuckDB — the engines would diverge
    * exactly when it matters). Decimal sums are exact integers, and the
    * final decimal→double casts are correctly rounded in both engines, so
    * the µ-rounded cosine stays engine-exact. */
  private def hybridPieces(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val tf = forwardIndex(s, d)
    val (dfreq, nDocs) = dfStats(s, d, tf)
    def buildW = joinDfreq(tf, dfreq, nDocs, None)
      .select(col("doc_id"), col("w"),
        FP.micro(col("tf") * log(col("n_docs") / col("dfreq"))).as("u"))
    // the sparseWeightsMemo discipline for the UNCAPPED weights (r14):
    // q102 consumes this frame through norms + the dots arm (which builds
    // its own hybridPieces), so the non-store path re-ran the dfreq
    // aggregation + two-tier join per subtree; store path stays scan-only
    val weights =
      if (termStoreTable(s, d).isEmpty)
        hybridWeightsMemo.getOrElseUpdate(s, d)(buildW.localCheckpoint())
      else buildW
    val qw = dfreq.filter(col("w").isInCollection(BmTerms))
      .crossJoin(broadcast(nDocs))
      .select(col("w"),
        FP.micro(log(col("n_docs") / col("dfreq"))).as("qu"))
    (weights, qw)
  }

  private val hybridWeightsMemo = new SessionMemo[DataFrame]

  /** q102's cosine-arm scored docs (doc_id, dot) — every document sharing
    * at least one query term, BEFORE the top-50 cut: the frame whose row
    * count attributes the hybrid arm's scale10 wall (the
    * nearDupCandidates discipline). */
  private[graft] def hybridCosDots(s: SparkSession, d: String): DataFrame = {
    val (weights, qw) = hybridPieces(s, d)
    weights.join(broadcast(qw), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("qu").cast("decimal(38,0)") * col("u")).as("dot"))
  }

  private def q102(s: SparkSession, d: String): DataFrame = {
    // The two arms' eager materializations OVERLAP (r15, guide §2.6):
    // each arm pins a localCheckpoint during CONSTRUCTION (q65's
    // per-invocation tf frame; the shared hybrid-weights memo), and
    // built sequentially the driver ran them as serialized jobs — the
    // r14 scaling block measured q102 at ratio 0.94 (8 vs 32 cores),
    // i.e. neither arm alone fills the session. Two driver threads
    // submit both; FIFO scheduling back-fills one arm's stage tails
    // with the other's tasks. Plans and results are unchanged — only
    // WHEN the two checkpoints materialize moves. Each arm blocks on
    // Spark jobs, so it runs inside `blocking` — the global pool then
    // adds a thread rather than starving other work of one.
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val fBm = Future(blocking(
      q65(s, d).select(col("doc_id"), col("rnk").as("bm25_rnk"))))
    val fPieces = Future(blocking(hybridPieces(s, d)))
    val bm = Await.result(fBm, Duration.Inf)
    val (weights, qw) = Await.result(fPieces, Duration.Inf)
    val norms = weights.groupBy(col("doc_id"))
      .agg(sum(col("u").cast("decimal(38,0)") * col("u")).as("nrm2"))
    val qn = qw.agg(sum(col("qu").cast("decimal(38,0)") * col("qu")).as("qn2"))
    val dots = hybridCosDots(s, d)
    val cosd = dots.join(norms, Seq("doc_id")).crossJoin(broadcast(qn))
      .withColumn("cos_u", FP.micro(col("dot").cast("double") /
        (sqrt(col("qn2").cast("double")) * sqrt(col("nrm2").cast("double")))))
    val wc = Window.orderBy(col("cos_u").desc, col("doc_id"))
    val cr = cosd.orderBy(col("cos_u").desc, col("doc_id")).limit(50)
      .withColumn("cos_rnk", row_number().over(wc).cast(LongType))
      .select(col("doc_id"), col("cos_rnk"))
    val fused = bm.join(cr, Seq("doc_id"), "full_outer")
      .withColumn("rrf_u", FP.micro(
        coalesce(lit(1.0) / (lit(RrfK0) + col("bm25_rnk")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK0) + col("cos_rnk")), lit(0.0))))
    val wr = Window.orderBy(col("rrf_u").desc, col("doc_id"))
    fused.orderBy(col("rrf_u").desc, col("doc_id")).limit(20)
      .withColumn("rank", row_number().over(wr).cast(LongType))
      .select(col("doc_id"), col("bm25_rnk"), col("cos_rnk"),
        col("rrf_u"), col("rank"))
      .orderBy("rank")
  }

  private val q102Sql = {
    val toks = T.sqlTokens("text")
    val terms = BmTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH tf AS (
       |  SELECT doc_id, w, count(*) AS tf
       |  FROM (SELECT doc_id, unnest($toks) AS w FROM documents)
       |  WHERE w <> '' GROUP BY 1, 2),
       |nd AS (SELECT count(*) AS n_docs FROM documents),
       |dfreq AS (SELECT w, count(*) AS dfreq FROM tf GROUP BY 1),
       |weights AS (
       |  SELECT t.doc_id, t.w,
       |    ${FP.sqlMicro("t.tf * ln(CAST(nd.n_docs AS DOUBLE) / dfreq.dfreq)")} AS u
       |  FROM tf t JOIN dfreq USING (w) CROSS JOIN nd),
       |norms AS (
       |  SELECT doc_id, sum(CAST(u AS HUGEINT) * u) AS nrm2
       |  FROM weights GROUP BY 1),
       |qw AS (
       |  SELECT w, ${FP.sqlMicro("ln(CAST(nd.n_docs AS DOUBLE) / dfreq.dfreq)")} AS qu
       |  FROM dfreq CROSS JOIN nd WHERE w IN ($terms)),
       |qn AS (SELECT sum(CAST(qu AS HUGEINT) * qu) AS qn2 FROM qw),
       |dots AS (
       |  SELECT x.doc_id, sum(CAST(q.qu AS HUGEINT) * x.u) AS dot
       |  FROM weights x JOIN qw q USING (w) GROUP BY 1),
       |cosd AS (
       |  SELECT d.doc_id,
       |    ${FP.sqlMicro(
            "CAST(d.dot AS DOUBLE) / (sqrt(CAST(qn.qn2 AS DOUBLE)) * " +
              "sqrt(CAST(n.nrm2 AS DOUBLE)))")} AS cos_u
       |  FROM dots d JOIN norms n USING (doc_id) CROSS JOIN qn),
       |cr AS (
       |  SELECT doc_id, crnk FROM (
       |    SELECT doc_id, row_number() OVER (ORDER BY cos_u DESC, doc_id)
       |      AS crnk FROM cosd)
       |  WHERE crnk <= 50),
       |bmr AS (SELECT doc_id, rnk FROM ($q65Sql) qq),
       |f AS (
       |  SELECT coalesce(b.doc_id, c.doc_id) AS doc_id,
       |    b.rnk AS bm25_rnk, c.crnk AS cos_rnk
       |  FROM bmr b FULL JOIN cr c ON b.doc_id = c.doc_id),
       |r AS (
       |  SELECT doc_id, bm25_rnk, cos_rnk,
       |    ${FP.sqlMicro(s"coalesce(1.0 / ($RrfK0 + bm25_rnk), 0.0) + " +
            s"coalesce(1.0 / ($RrfK0 + cos_rnk), 0.0)")} AS rrf_u
       |  FROM f)
       |SELECT doc_id, bm25_rnk, cos_rnk, rrf_u, rank FROM (
       |  SELECT *, row_number() OVER (ORDER BY rrf_u DESC, doc_id) AS rank
       |  FROM r)
       |WHERE rank <= 20 ORDER BY rank""".stripMargin
  }

  // ---- q66: document chunking into overlapping context windows -----------
  // Training-data prep: split each document's token sequence into
  // fixed-size windows (64 tokens, stride 48 → 16-token overlap for
  // context continuity at the boundary). Pure narrow map + generator:
  // chunk starts come from `sequence`/`explode` inside the row, the chunk
  // content hash from an in-row slice — no shuffle anywhere, so the pass
  // scales with scan bandwidth. Emitting md5(chunk) rather than the chunk
  // text keeps the result (and the verify diff) small while still pinning
  // the exact chunk contents.
  //
  // Tail rule: a start is generated only while it adds NEW tokens — when
  // the remaining tokens at a start are <= the 16-token overlap, its whole
  // window is already contained in the previous one (n=64 would otherwise
  // yield chunk 1 = [48,64) ⊂ chunk 0 = [0,64)), and a training pipeline
  // would ingest the duplicate content twice. So starts run over
  // [0, n - overlap) at the stride — i.e. last start <= n - overlap - 1 —
  // with start 0 always emitted (greatest(..., 0)) so an under-window doc
  // still yields its single chunk.
  private val ChunkW = 64
  private val ChunkS = 48

  private def q66(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), T.tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .withColumn("start_tok",
        explode(sequence(lit(0),
          greatest(col("n") - (ChunkW - ChunkS) - 1, lit(0)), lit(ChunkS))))
      .withColumn("end_tok", least(col("start_tok") + ChunkW, col("n")))
      .select(col("doc_id"),
        (col("start_tok") / ChunkS).cast(LongType).as("chunk_id"),
        col("start_tok").cast(LongType).as("start_tok"),
        col("end_tok").cast(LongType).as("end_tok"),
        (col("end_tok") - col("start_tok")).cast(LongType).as("n_tok"),
        md5(concat_ws(" ",
          slice(col("toks"), col("start_tok") + 1, col("end_tok") - col("start_tok"))))
          .as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")

  private val q66Sql = {
    val toks = T.sqlTokens("text")
    s"""WITH t AS (SELECT doc_id, $toks AS toks, len($toks) AS n FROM documents)
       |SELECT doc_id,
       |  CAST(s // $ChunkS AS BIGINT) AS chunk_id,
       |  CAST(s AS BIGINT) AS start_tok,
       |  CAST(least(s + $ChunkW, n) AS BIGINT) AS end_tok,
       |  CAST(least(s + $ChunkW, n) - s AS BIGINT) AS n_tok,
       |  md5(array_to_string(list_slice(toks, s + 1, least(s + $ChunkW, n)), ' '))
       |    AS chunk_md5
       |FROM t, unnest(generate_series(0, greatest(n - ${ChunkW - ChunkS} - 1, 0), $ChunkS)) u(s)
       |ORDER BY 1, 2""".stripMargin
  }

  // ---- q68: span-level dedup with document reconstruction ----------------
  // The paragraph-dedup pattern of large-scale corpus prep (RefinedWeb /
  // Dolma style), at word-span granularity because the synthetic documents
  // carry no newline structure: split each document into NON-overlapping
  // 16-token spans, keep only each span's FIRST occurrence corpus-wide
  // (ordered by doc_id, then span position — the deterministic keep-first
  // rule every dedup in this engine uses), and rebuild what remains of
  // every document in order.
  //
  // Scale shape: ONE corpus-wide exchange, on the span's md5 — a
  // row_number window PARTITIONED BY the hash (well-distributed: distinct
  // spans ~ corpus size, duplicates per key are the dedup hits), so the
  // keep-first decision and the surviving text stay on the same row and no
  // second corpus shuffle is needed for reconstruction — then a per-doc
  // regroup. No self-join, nothing quadratic; dedup identity is the HASH,
  // so at 100 TB the window key is 16 bytes however long spans get. The
  // md5 of the reconstructed text pins exact content through the oracle
  // without shipping it.
  private val SpanW = 16

  private def q68(s: SparkSession, d: String): DataFrame = {
    val spans = docs(s, d)
      .select(col("doc_id"), T.tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") > 0)
      .withColumn("start", explode(sequence(lit(0), col("n") - 1, lit(SpanW))))
      .select(col("doc_id"),
        expr(s"start div $SpanW").as("span_idx"),
        concat_ws(" ", slice(col("toks"), col("start") + 1, lit(SpanW))).as("span"))
      .withColumn("h", md5(col("span")))
    val keepFirst = Window.partitionBy(col("h"))
      .orderBy(col("doc_id"), col("span_idx"))
    val kept = spans
      .withColumn("rn", row_number().over(keepFirst))
      .filter(col("rn") === 1)
    val keptAgg = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(transform(
          sort_array(collect_list(struct(col("span_idx"), col("span")))),
          x => x.getField("span")), " ")).as("kept_md5"))
    spans.groupBy(col("doc_id")).agg(count(lit(1)).as("n_spans"))
      .join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_md5"), md5(lit(""))).as("kept_md5"))
      .orderBy("doc_id")
  }

  private val q68Sql = {
    val toks = T.sqlTokens("text")
    s"""WITH t AS (SELECT doc_id, $toks AS toks, len($toks) AS n FROM documents),
       |spans AS (
       |  SELECT doc_id, CAST(s // $SpanW AS BIGINT) AS span_idx,
       |    array_to_string(list_slice(toks, s + 1, least(s + $SpanW, n)), ' ') AS span
       |  FROM t, unnest(generate_series(0, n - 1, $SpanW)) u(s)
       |  WHERE n > 0),
       |r AS (
       |  SELECT doc_id, span_idx, span,
       |    row_number() OVER (PARTITION BY md5(span)
       |                       ORDER BY doc_id, span_idx) AS rn
       |  FROM spans),
       |ka AS (
       |  SELECT doc_id, count(*) AS n_kept,
       |    md5(string_agg(span, ' ' ORDER BY span_idx)) AS kept_md5
       |  FROM r WHERE rn = 1 GROUP BY 1),
       |tot AS (SELECT doc_id, count(*) AS n_spans FROM spans GROUP BY 1)
       |SELECT tot.doc_id, tot.n_spans,
       |  COALESCE(ka.n_kept, 0) AS n_kept,
       |  COALESCE(ka.kept_md5, md5('')) AS kept_md5
       |FROM tot LEFT JOIN ka USING (doc_id) ORDER BY 1""".stripMargin
  }

  // ---- q86: incremental corpus merge (ingest-batch upsert) ---------------
  // A training corpus is not built once — crawls land in batches, and each
  // batch must be merged against the accepted catalog without re-deduping
  // the world: keep every existing entry, admit only batch documents whose
  // content hash is NOT already in the store, first-occurrence-wins within
  // the batch itself. Here the "batch" is the doc_id % 10 == 7 slice.
  //
  // Scale shape: one anti-join + one groupBy, BOTH on content_hash — the
  // anti-join's output is already hash-partitioned on the grouping key, so
  // the in-batch dedup reuses that exchange (Catalyst plans no second
  // shuffle). Only the BATCH ever moves: from a [[graft.sources.DocStore]]
  // bucketed landing the store side of the anti-join is a co-located scan
  // (zero exchange), and the batch is orders of magnitude smaller than the
  // corpus by construction. Nothing rescans or reshuffles the accepted
  // catalog's text — the store side carries 16-byte hashes only.
  private val MergeBatchMod = 10
  private val MergeBatchRem = 7

  private def q86(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
      .select(col("doc_id"), md5(col("text")).as("content_hash"))
    val store = all.filter(col("doc_id") % MergeBatchMod =!= MergeBatchRem)
    val batch = all.filter(col("doc_id") % MergeBatchMod === MergeBatchRem)
    val admitted = batch
      .join(store.select(col("content_hash")), Seq("content_hash"), "left_anti")
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("content_hash"), lit("batch").as("origin"))
    store.select(col("doc_id"), col("content_hash"), lit("store").as("origin"))
      .unionByName(admitted)
      .orderBy("doc_id")
  }

  private val q86Sql =
    s"""WITH a AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
       |store AS (SELECT * FROM a WHERE doc_id % $MergeBatchMod <> $MergeBatchRem),
       |batch AS (SELECT * FROM a WHERE doc_id % $MergeBatchMod = $MergeBatchRem),
       |admitted AS (
       |  SELECT min(doc_id) AS doc_id, content_hash FROM batch
       |  WHERE content_hash NOT IN (SELECT content_hash FROM store)
       |  GROUP BY content_hash)
       |SELECT doc_id, content_hash, 'store' AS origin FROM store
       |UNION ALL
       |SELECT doc_id, content_hash, 'batch' AS origin FROM admitted
       |ORDER BY doc_id""".stripMargin

  // ---- q115: shard-manifest corpus diff (incremental reprocessing) -------
  // The change-detection primitive behind incremental pipelines: two
  // corpus versions are summarized shard-by-shard (deterministic MINSTD
  // placement — a document lands in the SAME shard in every version, so
  // an edit localizes) into (row count, order-invariant content
  // checksum), and the manifests are joined to classify each shard
  // same/changed. Downstream artifacts (indexes, dedup stores, token
  // shards) then recompute ONLY the changed shards — at 100 TB the
  // difference between an incremental sync and reprocessing the world.
  // The checksum is bit_xor over the q37-verified content fingerprint of
  // "doc_id:text" (id-qualified so a swap of two docs' texts changes
  // it): XOR is commutative/associative → partition-invariant with NO
  // overflow hazard under ANSI, and any single-document edit flips it.
  // Version B ("the next crawl") derives deterministically: doc_id %
  // 97 == 13 documents are UPDATED (a revision suffix), doc_id %
  // 101 == 7 documents are DROPPED — sparse, so both the changed and
  // same branches carry rows at every gate scale.
  //
  // Scale shape: two narrow scans, each map-side-combined into 64
  // shard rows; the join moves 64 rows. Nothing corpus-scale crosses
  // an exchange.
  private val DiffShards = 64L
  private val DiffUpdMod = 97
  private val DiffUpdRem = 13
  private val DiffDropMod = 101
  private val DiffDropRem = 7

  private def q115(s: SparkSession, d: String): DataFrame = {
    // THE manifest construction (shared with q116 and the streaming
    // maintenance path — graft.streaming.DocStreams.shardManifest)
    def manifest(df: DataFrame): DataFrame =
      graft.streaming.DocStreams.shardManifest(df, DiffShards)
    val a = manifest(docs(s, d))
      .select(col("shard"), col("n").as("n_a"), col("x").as("x_a"))
    val b = manifest(docs(s, d)
        .filter(col("doc_id") % DiffDropMod =!= DiffDropRem)
        .withColumn("text",
          when(col("doc_id") % DiffUpdMod === DiffUpdRem,
            concat(col("text"), lit(" rev2"))).otherwise(col("text"))))
      .select(col("shard"), col("n").as("n_b"), col("x").as("x_b"))
    a.join(b, Seq("shard"), "full_outer")
      .select(col("shard"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        coalesce(col("x_a"), lit(0L)).as("x_a"),
        coalesce(col("x_b"), lit(0L)).as("x_b"))
      .withColumn("status",
        when(col("n_a") === col("n_b") && col("x_a") === col("x_b"),
          lit("same")).otherwise(lit("changed")))
      .orderBy("shard")
  }

  private val q115Sql = {
    val rh = DocStore.sqlFp("CAST(doc_id AS VARCHAR) || ':' || text")
    s"""WITH a AS (
       |  SELECT doc_id * 48271 % 2147483647 % $DiffShards AS shard,
       |    count(*) AS n, bit_xor($rh) AS x
       |  FROM documents GROUP BY 1),
       |bsrc AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % $DiffUpdMod = $DiffUpdRem
       |      THEN text || ' rev2' ELSE text END AS text
       |  FROM documents WHERE doc_id % $DiffDropMod <> $DiffDropRem),
       |b AS (
       |  SELECT doc_id * 48271 % 2147483647 % $DiffShards AS shard,
       |    count(*) AS n, bit_xor($rh) AS x
       |  FROM bsrc GROUP BY 1)
       |SELECT coalesce(a.shard, b.shard) AS shard,
       |  coalesce(a.n, 0) AS n_a, coalesce(b.n, 0) AS n_b,
       |  coalesce(a.x, 0) AS x_a, coalesce(b.x, 0) AS x_b,
       |  CASE WHEN coalesce(a.n, 0) = coalesce(b.n, 0)
       |    AND coalesce(a.x, 0) = coalesce(b.x, 0)
       |    THEN 'same' ELSE 'changed' END AS status
       |FROM a FULL OUTER JOIN b ON a.shard = b.shard
       |ORDER BY 1""".stripMargin
  }

  // ---- q116: incremental manifest maintenance (merge, never rescan) ------
  // What makes q115's manifests USABLE at 100 TB: both per-shard
  // aggregates are mergeable monoids (counts add, XOR checksums XOR), so
  // an ingest updates the at-rest manifest by scanning ONLY the new
  // batch and merging — the corpus is never rescanned per sync. The
  // query exhibits the whole contract in one verified frame: the stored
  // manifest (corpus minus the q86 ingest slice) and the batch delta
  // come from ONE conditional-aggregate scan, the merge is plain
  // arithmetic (n_stored + n_delta, x_stored XOR x_delta), and a SECOND,
  // independent full-corpus aggregation supplies the ground truth the
  // merge must reproduce — `consistent` is hash-verified TRUE on every
  // row by the gate, so the mergeability claim is itself oracle-checked,
  // not asserted in prose. (The full-recompute arm is the verification
  // harness; a deployment runs only the stored+delta halves.)
  //
  // Scale shape: two narrow scans (batch-only in deployment), map-side
  // combined to 64 shard rows each; one 64-row join. XOR's
  // associativity is what makes the maintenance exact — no overflow, no
  // order sensitivity, bit-identical under any partitioning.
  private def q116(s: SparkSession, d: String): DataFrame = {
    val rows = docs(s, d).select(
      (col("doc_id") * 48271L % 2147483647L % DiffShards).as("shard"),
      DocStore.fpExpr(
        concat(col("doc_id").cast("string"), lit(":"), col("text")))
        .as("rh"),
      (col("doc_id") % MergeBatchMod === MergeBatchRem).as("b"))
    val arms = rows.groupBy(col("shard")).agg(
      count(when(!col("b"), 1)).as("n_stored"),
      expr("bit_xor(CASE WHEN NOT b THEN rh END)").as("x0_stored"),
      count(when(col("b"), 1)).as("n_delta"),
      expr("bit_xor(CASE WHEN b THEN rh END)").as("x0_delta"))
    val full = graft.streaming.DocStreams
      .shardManifest(docs(s, d).select(col("doc_id"), col("text")),
        DiffShards)
      .select(col("shard"), col("n").as("n_full"), col("x").as("x_full"))
    arms.join(full, Seq("shard"), "full_outer")
      .select(col("shard"),
        coalesce(col("n_stored"), lit(0L)).as("n_stored"),
        coalesce(col("x0_stored"), lit(0L)).as("x_stored"),
        coalesce(col("n_delta"), lit(0L)).as("n_delta"),
        coalesce(col("x0_delta"), lit(0L)).as("x_delta"),
        coalesce(col("n_full"), lit(0L)).as("n_full"),
        coalesce(col("x_full"), lit(0L)).as("x_full"))
      .withColumn("n_merged", col("n_stored") + col("n_delta"))
      .withColumn("x_merged", expr("x_stored ^ x_delta"))
      .withColumn("consistent",
        col("n_merged") === col("n_full") && col("x_merged") === col("x_full"))
      .orderBy("shard")
  }

  private val q116Sql = {
    val rh = DocStore.sqlFp("CAST(doc_id AS VARCHAR) || ':' || text")
    s"""WITH rows_ AS (
       |  SELECT doc_id * 48271 % 2147483647 % $DiffShards AS shard,
       |    $rh AS rh,
       |    doc_id % $MergeBatchMod = $MergeBatchRem AS b
       |  FROM documents),
       |arms AS (
       |  SELECT shard,
       |    count(*) FILTER (WHERE NOT b) AS n_stored,
       |    bit_xor(rh) FILTER (WHERE NOT b) AS x_stored,
       |    count(*) FILTER (WHERE b) AS n_delta,
       |    bit_xor(rh) FILTER (WHERE b) AS x_delta
       |  FROM rows_ GROUP BY 1),
       |f AS (
       |  SELECT shard, count(*) AS n_full, bit_xor(rh) AS x_full
       |  FROM rows_ GROUP BY 1)
       |SELECT coalesce(a.shard, f.shard) AS shard,
       |  coalesce(a.n_stored, 0) AS n_stored,
       |  coalesce(a.x_stored, 0) AS x_stored,
       |  coalesce(a.n_delta, 0) AS n_delta,
       |  coalesce(a.x_delta, 0) AS x_delta,
       |  coalesce(f.n_full, 0) AS n_full,
       |  coalesce(f.x_full, 0) AS x_full,
       |  coalesce(a.n_stored, 0) + coalesce(a.n_delta, 0) AS n_merged,
       |  xor(coalesce(a.x_stored, 0), coalesce(a.x_delta, 0)) AS x_merged,
       |  coalesce(a.n_stored, 0) + coalesce(a.n_delta, 0)
       |      = coalesce(f.n_full, 0)
       |    AND xor(coalesce(a.x_stored, 0), coalesce(a.x_delta, 0))
       |      = coalesce(f.x_full, 0) AS consistent
       |FROM arms a FULL OUTER JOIN f ON a.shard = f.shard
       |ORDER BY 1""".stripMargin
  }

  // ---- q88: deterministic source mixing to a token budget ----------------
  // The data-mixing pass that turns a curated corpus into a training mix:
  // given per-source target WEIGHTS and a global token BUDGET (half the
  // corpus here), derive a per-source acceptance rate and select documents
  // with a deterministic id-hash threshold — the same MINSTD uniformizer
  // q48/q56 pin scan-side, so the selection is reproducible, shardable,
  // and needs no RNG state. Weights are a function of the source name
  // (index % 4 + 1 — a stand-in for the quality tiers a real mix encodes);
  // every rate is integer per-mille arithmetic, so both engines agree
  // exactly.
  //
  // Scale shape: two corpus scans (per-source token stats, then the
  // selection) and nothing else — the stats table is O(sources) and
  // broadcasts back; the only shuffles move per-source partial aggregates.
  private def q88(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("source"),
      size(T.tokens(col("text"))).cast(LongType).as("n_tok"),
      (col("doc_id") * 48271L % 2147483647L % 1000L).as("u"))
    val perSrc = base.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_total"))
      .withColumn("w", expr("coalesce(try_cast(substring(source, 4) as bigint), 0) % 4 + 1"))
    val tot = perSrc.agg(sum(col("tok_total")).as("gt"), sum(col("w")).as("gw"))
    val rates = perSrc.crossJoin(broadcast(tot))
      .withColumn("target_tok", expr("(gt div 2) * w div gw"))
      .withColumn("rate_pm",
        least(lit(1000L), expr("1000 * target_tok div tok_total")))
      .select(col("source"), col("n_docs"), col("tok_total"), col("w"),
        col("rate_pm"))
    val kept = base.join(broadcast(rates.select(col("source"), col("rate_pm"))),
        Seq("source"))
      .filter(col("u") < col("rate_pm"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_tok")).as("tok_kept"))
    rates.join(broadcast(kept), Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("tok_total"), col("w"),
        col("rate_pm"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("tok_kept"), lit(0L)).as("tok_kept"))
      .orderBy("source")
  }

  private val q88Sql = {
    val nTok = s"len(${T.sqlTokens("text")})"
    s"""WITH base AS (
       |  SELECT source, CAST($nTok AS BIGINT) AS n_tok,
       |    doc_id * 48271 % 2147483647 % 1000 AS u
       |  FROM documents),
       |per_src AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(n_tok) AS BIGINT) AS tok_total,
       |    coalesce(TRY_CAST(substr(source, 4) AS BIGINT), 0) % 4 + 1 AS w
       |  FROM base GROUP BY source),
       |tot AS (
       |  SELECT CAST(sum(tok_total) AS BIGINT) AS gt,
       |    CAST(sum(w) AS BIGINT) AS gw FROM per_src),
       |rates AS (
       |  SELECT source, n_docs, tok_total, w,
       |    least(1000, 1000 * ((gt // 2) * w // gw) // tok_total) AS rate_pm
       |  FROM per_src CROSS JOIN tot),
       |kept AS (
       |  SELECT b.source, count(*) AS n_kept,
       |    CAST(sum(b.n_tok) AS BIGINT) AS tok_kept
       |  FROM base b JOIN rates r ON b.source = r.source
       |  WHERE b.u < r.rate_pm GROUP BY b.source)
       |SELECT r.source, r.n_docs, r.tok_total, r.w, r.rate_pm,
       |  coalesce(k.n_kept, 0) AS n_kept,
       |  coalesce(k.tok_kept, 0) AS tok_kept
       |FROM rates r LEFT JOIN kept k ON r.source = k.source
       |ORDER BY 1""".stripMargin
  }

  // ---- q114: epoch-aware source upsampling (repetition manifest) ---------
  // q88's complement: q88 DOWN-samples sources to a token budget; real
  // training recipes also UP-sample — "2 epochs of Wikipedia, 0.25 of
  // CommonCrawl" (the Llama/GPT-3 data recipes publish exactly such
  // tables). This pass materializes the per-replica manifest: one output
  // row per (document, epoch), where a source's weight is expressed in
  // QUARTER-epochs (w_q = srcIdx % 8 + 1 → 0.25–2.0 epochs, covering
  // sub-epoch, exactly-1.0, and super-epoch cases on the test sources).
  // Full epochs repeat every document; the fractional tail selects
  // documents with the same scan-side MINSTD per-mille hash as
  // q48/q56/q88 — so replica membership is a pure function of doc_id,
  // reproducible on any engine at any parallelism, and a downstream
  // shuffle (q96) is what randomizes replica ORDER, never membership.
  //
  // Scale shape: ONE narrow scan + an in-row generator (explode of a
  // ≤3-element sequence) — no shuffle, no stats pass, no driver state;
  // output volume is the mix's token mass, which is the point.
  private def q114(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"), col("source"),
        size(T.tokens(col("text"))).cast(LongType).as("n_tok"))
      .withColumn("wq",
        expr("coalesce(try_cast(substring(source, 4) as bigint), 0) % 8 + 1"))
      .withColumn("u", col("doc_id") * 48271L % 2147483647L % 1000L)
      .withColumn("reps", expr("wq div 4") +
        when(col("u") < (col("wq") % 4) * 250L, 1L).otherwise(0L))
      // Spark's sequence(1, 0) yields [1, 0] (auto-negative step), not
      // empty — zero-replica docs must be filtered out, not exploded
      .filter(col("reps") > 0)
      .withColumn("epoch", explode(sequence(lit(1L), col("reps"))))
      .select(col("doc_id"), col("source"), col("epoch"), col("n_tok"))
      .orderBy("doc_id", "epoch")

  private val q114Sql = {
    val nTok = s"len(${T.sqlTokens("text")})"
    s"""WITH t AS (
       |  SELECT doc_id, source, CAST($nTok AS BIGINT) AS n_tok,
       |    coalesce(TRY_CAST(substr(source, 4) AS BIGINT), 0) % 8 + 1 AS wq,
       |    doc_id * 48271 % 2147483647 % 1000 AS u
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, source, n_tok,
       |    wq // 4 + CASE WHEN u < (wq % 4) * 250 THEN 1 ELSE 0 END AS reps
       |  FROM t)
       |SELECT doc_id, source, CAST(e AS BIGINT) AS epoch, n_tok
       |FROM r, unnest(generate_series(1, reps)) g(e)
       |WHERE reps > 0
       |ORDER BY 1, 3""".stripMargin
  }

  // ---- q89: n-gram LM quality scoring (the CCNet/KenLM filter) -----------
  // The perplexity-style quality gate real pretraining pipelines run: a
  // bigram LM with add-k smoothing is trained on a trusted reference
  // subset (here lang='en' — the stand-in for "Wikipedia" in CCNet), and
  // EVERY document is scored by its negative log-likelihood under that
  // model; high-NLL documents are the out-of-domain / garbled ones a
  // curation pass drops. p(w2|w1) = (c(w1,w2)+k) / (c(w1)+k·V), k=0.5.
  //
  // Determinism: each bigram's log-prob is micro-rounded PER TOKEN
  // (FP.micro) and the per-document reduction is an integer sum, so the
  // result is partition-invariant and engine-exact; the only float step
  // (ln of a ratio of exactly-representable integers+0.5) is computed on
  // bit-identical inputs in both engines.
  //
  // Scale shape: wordcount shapes only. Training is two token-stream
  // aggregations over the reference subset; scoring explodes the corpus
  // into (doc_id, bigram) rows and equi-joins the LM tables — Catalyst
  // broadcasts them while small and falls back to a shuffle hash join
  // when a 100-TB vocabulary outgrows the budget (nothing here forces
  // broadcast). The vocabulary size V travels as a broadcast 1-row table.
  private val LmK = 0.5

  private def bigramsOf(t: Column): Column =
    when(size(t) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(t) - 1),
        i => concat_ws(" ", element_at(t, i), element_at(t, i + 1))))

  private def q89(s: SparkSession, d: String): DataFrame = {
    val withT = docs(s, d)
      .select(col("doc_id"), col("lang"), T.tokens(col("text")).as("t"))
    val train = withT.filter(col("lang") === "en")
    val c2 = train.select(explode(bigramsOf(col("t"))).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    val c1 = train.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val vocab = c1.agg(count(lit(1)).as("v_sz"))
    val lp = withT
      .select(col("doc_id"), explode(bigramsOf(col("t"))).as("bg"))
      .join(c2, Seq("bg"), "left")
      .withColumn("w", substring_index(col("bg"), " ", 1))
      .join(c1, Seq("w"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("lp_u", FP.micro(log(
        (coalesce(col("c2"), lit(0L)) + lit(LmK)) /
          (coalesce(col("c1"), lit(0L)) + lit(LmK) * col("v_sz")))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), (-sum(col("lp_u"))).as("nll_u"))
    withT.select(col("doc_id"))
      .join(lp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("nll_u"), lit(0L)).as("nll_u"))
      .orderBy("doc_id")
  }

  private val q89Sql = {
    val toks = T.sqlTokens("text")
    s"""WITH toks AS (
       |  SELECT doc_id, lang, $toks AS t FROM documents),
       |bg AS (
       |  SELECT doc_id, lang,
       |    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
       |  FROM toks),
       |c2 AS (SELECT bg, count(*) AS c2 FROM bg WHERE lang = 'en' GROUP BY 1),
       |c1 AS (SELECT w, count(*) AS c1
       |       FROM (SELECT unnest(t) AS w FROM toks WHERE lang = 'en')
       |       GROUP BY 1),
       |v AS (SELECT count(*) AS v_sz FROM c1),
       |lp AS (
       |  SELECT b.doc_id,
       |    ${FP.sqlMicro(
            s"ln((coalesce(c2.c2, 0) + $LmK) / (coalesce(c1.c1, 0) + $LmK * v.v_sz))")} AS lp_u
       |  FROM bg b
       |  LEFT JOIN c2 USING (bg)
       |  LEFT JOIN c1 ON split_part(b.bg, ' ', 1) = c1.w
       |  CROSS JOIN v),
       |agg AS (
       |  SELECT doc_id, count(*) AS n_bigrams,
       |    CAST(-sum(lp_u) AS BIGINT) AS nll_u
       |  FROM lp GROUP BY 1)
       |SELECT d.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams,
       |  coalesce(a.nll_u, 0) AS nll_u
       |FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY 1""".stripMargin
  }

  // ---- q96: deterministic global shuffle → training shards ---------------
  // The last step of a curation pipeline: assign every document to an
  // output shard and fix the exact read order inside each shard, so any
  // worker can materialize its shard independently and the whole training
  // order is reproducible from doc ids alone (no RNG state, no global
  // sort). Shard and order both derive from the q48/q56 MINSTD hash;
  // `tok_offset` is the exclusive running token count, i.e. where each
  // document starts in its shard's token stream.
  //
  // Scale shape: one scan + ONE hash-partitioned window (partitioned by
  // shard — never single-partition). 16 shards here; at 100 TB you raise
  // NShards with the cluster (shards ≫ executors), which also keeps each
  // per-shard sort in one task's memory. Nothing else changes.
  private val NShards = 16

  private def q96(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(
      col("doc_id"),
      size(T.tokens(col("text"))).cast(LongType).as("n_tok"),
      (col("doc_id") * 48271L % 2147483647L).as("h"))
      .withColumn("shard", pmod(col("h"), lit(NShards.toLong)))
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    base
      .withColumn("pos", row_number().over(w).cast(LongType))
      .withColumn("tok_offset",
        coalesce(sum(col("n_tok")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("shard"), col("pos"), col("doc_id"), col("n_tok"),
        col("tok_offset"))
      .orderBy("shard", "pos")
  }

  private val q96Sql =
    s"""WITH base AS (
       |  SELECT doc_id, CAST(len(${T.sqlTokens("text")}) AS BIGINT) AS n_tok,
       |    doc_id * 48271 % 2147483647 AS h,
       |    doc_id * 48271 % 2147483647 % $NShards AS shard
       |  FROM documents)
       |SELECT shard, row_number() OVER w AS pos, doc_id, n_tok,
       |  CAST(coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY h, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS tok_offset
       |FROM base
       |WINDOW w AS (PARTITION BY shard ORDER BY h, doc_id)
       |ORDER BY 1, 2""".stripMargin

  // ---- q95: BPE tokenizer training (learned merge table) -----------------
  // The other half of "token counting": q31 counts under a FIXED BPE-ish
  // regex; this TRAINS the subword vocabulary itself — the merge table a
  // GPT/Llama-style tokenizer ships — from the corpus word histogram, with
  // operators/Bpe (driver-held model, one weighted pair-count job per
  // merge, the KMeans job pattern). Output is the training artifact:
  // (step, left, right, pair_count) in learned order.
  //
  // Oracle: golden fixture — the training loop is not SQL-expressible,
  // but every count is an integer sum and the argmax order is total
  // (count desc, pair lexicographic), so the table is bit-reproducible
  // under any parallelism; BpeSpec checks the semantics against
  // hand-derived merges and the greedy application rules.
  private val BpeMerges = 12

  private def q95(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val words = docs(s, d)
      .select(explode(T.tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
    Bpe.train(words, "w", "wc", BpeMerges)
      .map(m => (m.step.toLong, m.left, m.right, m.count))
      .toDF("step", "left", "right", "pair_count")
      .orderBy("step")
  }

  // ---- q103: corpus tokenization under the TRAINED BPE vocabulary --------
  // Closes the loop q95 opens: train the merge table, then APPLY it to
  // every document — the pass that actually produces a training corpus's
  // token stream. Application is a narrow per-row map against the
  // driver-held merge table (tokenization at corpus scale is
  // embarrassingly parallel; the model rides the closure like the k-means
  // centroids), sharing Bpe.symbolize with the trainer so the applied
  // rules are exactly the learned ones (BpeSpec pins the greedy-leftmost
  // semantics; this query gives the APPLY path a driver-gated oracle row
  // of its own). Word tokenization mirrors the training histogram's
  // (lower, \s+ split, drop empties) — a drifted copy would tokenize
  // words the vocabulary never saw.
  private def q103(s: SparkSession, d: String): DataFrame = {
    val words = docs(s, d)
      .select(explode(T.tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
    val merges = Bpe.train(words, "w", "wc", BpeMerges)
      .map(m => (m.left, m.right)).toVector
    // per-executor memo on the DISTINCT word: under a Zipf distribution
    // occurrences outnumber distinct words by orders of magnitude, so
    // replaying the merge passes per occurrence is pure waste — the same
    // histogram-not-corpus argument the trainer itself makes. The closure
    // captures the SymbolizeCached handle (just the merge table); the
    // cache itself is the JVM-singleton Bpe.symCacheFor, resolved once
    // per task by the handle, so every task on an executor shares one
    // memo and no per-row singleton lookup happens (a map captured here
    // directly would deserialize fresh per task — a per-task memo only).
    val symCached = new Bpe.SymbolizeCached(merges)
    val tokUdf = udf((text: String) => {
      val ws = T.tokensJvm(text).filter(_.nonEmpty) // the trainer's split
      var n = 0L
      val seen = scala.collection.mutable.HashSet.empty[String]
      ws.foreach { w =>
        val syms = symCached(w)
        n += syms.length
        seen ++= syms
      }
      (ws.length.toLong, n, seen.size.toLong)
    })
    docs(s, d)
      .select(col("doc_id"), tokUdf(col("text")).as("t"))
      .select(col("doc_id"), col("t._1").as("n_words"),
        col("t._2").as("n_subtok"), col("t._3").as("n_distinct_subtok"))
      .orderBy("doc_id")
  }

  // ---- q104: TRAINED quality classifier (heuristic distillation) ---------
  // The weak-supervision pattern every large curation pipeline runs: cheap
  // labels from a heuristic (or an LLM judge) on a subset, a small linear
  // model trained to generalize the gate, the cheap model scoring the
  // whole corpus (CCNet trains against Wikipedia; fastText quality
  // classifiers train against curated positives). Here the weak label is
  // the q32-verified quality score thresholded at 0.5, and the model must
  // RE-DISCOVER the gate from the raw signals — its learned weights
  // approximate the heuristic's hand-set (0.4, 0.3, 0.2, 0.1) mixture,
  // and the calibrated σ(w·x) score replaces the hard threshold.
  // Training is operators/Logit: one fixed-point gradient job per
  // iteration, driver holds only the weight vector; scoring is a narrow
  // map against the broadcast weights. Oracle: golden fixture — GD is not
  // SQL-expressible, but the quantized gradient makes the weight
  // trajectory (and the µ-rounded scores) bit-reproducible under any
  // parallelism (LogitSpec asserts it).
  private val LogitIters = 300
  private val LogitLr = 8.0

  /** Trained classifier weights per (session, corpus dir): a deployment
    * trains the quality gate once and scores with it, not one 300-job GD
    * run per query; the quantized-gradient fit is bit-deterministic, so
    * a memo hit IS the retrain. */
  private val logitMemo = new SessionMemo[Array[Double]]

  private def q104(s: SparkSession, d: String): DataFrame = {
    val (stopRatio, alphaRatio, meanTokLen, quality) = qualityPieces
    val nTok = size(T.tokens(col("text"))).cast("double")
    // degenerate docs produce NULL (zero-length text → nullif divisor) or
    // NaN ratios; both become zero features / a "not keep" label
    val f = (c: org.apache.spark.sql.Column) =>
      coalesce(nanvl(c, lit(0.0)), lit(0.0))
    val x = array(lit(1.0),
      f(least(nTok / 100.0, lit(1.0))),
      f(alphaRatio), f(stopRatio),
      f(least(meanTokLen / 8.0, lit(1.0))))
    val feats = docs(s, d).select(col("doc_id"), x.as("x"),
      (FP.micro(f(quality)) >= 500000L).cast("double").as("y"))
    val w = logitMemo.getOrElseUpdate(s, d)(
      Logit.fit(feats, "x", "y", 5, LogitIters, LogitLr))
    Logit.score(feats, w, "x", "score_u")
      .select(col("doc_id"), col("y").cast(LongType).as("label"),
        col("score_u"), (col("score_u") >= 500000L).as("pred_keep"))
      .orderBy("doc_id")
  }

  // ---- q112: token-budget corpus selection (quality-ranked knapsack) -----
  // "The best B tokens": the curation step between scoring (q32) and
  // mixing/packing (q88/q58) — keep documents, best quality first, until a
  // global token budget is spent (budget = 2/5 of corpus tokens here,
  // computed INSIDE the query so the semantics are scale-free). The
  // SELECTED SET is defined by the naive construction — order the corpus
  // by (quality desc, doc_id), take the prefix whose running token sum
  // fits — and the oracle runs exactly that; but a global ORDER BY is THE
  // sort you must not run on a 100 TB corpus per selection. The engine
  // computes the identical set by histogram refinement:
  //  * bucket quality to a BOUNDED histogram (quality_u div 1024 — at
  //    most ~1.2e6/1024 ≈ 1200 buckets by VALUE RANGE, independent of
  //    corpus size), one narrow agg → per-bucket token sums;
  //  * that ≤1200-row histogram is a DRIVER-HELD model (the
  //    centroid/threshold discipline — a bounded collect by value range,
  //    not by data): the prefix cumsum + budget line marking each bucket
  //    full / boundary / excluded is plain Long arithmetic;
  //  * FULL buckets are accepted wholesale — no per-document ordering is
  //    ever computed for them — and only the ONE boundary bucket gets a
  //    window, over ~n/1200 rows, to take its (quality desc, doc_id)
  //    prefix into the remaining budget.
  // Bucket-major order equals global order (the bucket key is monotone in
  // quality_u), so the union is EXACTLY the naive prefix, row for row —
  // the gate proves it against the naive oracle every round. The corpus
  // is scanned twice (both scans narrow: id + two derived longs); the
  // histogram exchange carries ≤1200 rows.
  // NULL quality (zero-length text) sorts LAST via sentinel -1024, a
  // multiple of the bucket step so Spark's truncating `div` and DuckDB's
  // flooring `//` agree on its bucket (-1: any non-multiple sentinel
  // would bucket differently in the two engines and split the boundary).
  private val BudgetNum = 2L
  private val BudgetDen = 5L
  private val QBucketStep = 1024L

  /** q112's bounded quality histogram per (session, corpus dir) — the
    * logitMemo discipline: a driver-held model computed once per
    * selection run, and an exact integer sum, so a memo hit IS the
    * recompute. */
  private val histMemo = new SessionMemo[Array[(Long, Long)]]

  private def q112(s: SparkSession, d: String): DataFrame = {
    val (_, _, _, quality) = qualityPieces
    // checkpointed per invocation (r14): the selection reads this narrow
    // frame through TWO branches (full buckets; the boundary window), and
    // each branch otherwise re-tokenizes and re-scores the corpus — at
    // 100 TB a second full tokenize pass costs far more than keeping
    // ~32 B/doc materialized for the query's lifetime (the forwardIndex
    // footprint argument).
    val t = docs(s, d).select(col("doc_id"),
      coalesce(FP.micro(quality), lit(-QBucketStep)).as("q_u"),
      size(T.tokens(col("text"))).cast(LongType).as("tok"))
      .withColumn("qb", expr(s"q_u div $QBucketStep"))
      .localCheckpoint()
    // the histogram is a DRIVER-HELD MODEL (the centroid/threshold
    // discipline): ≤ ~1200 rows bounded by the quality VALUE RANGE, not
    // by the corpus — the collect is fixed-size by construction. The
    // budget line (which buckets are wholly in, which ONE is the
    // boundary, how much of it fits) is then plain Long arithmetic.
    val hist = histMemo.getOrElseUpdate(s, d)(
      t.groupBy(col("qb")).agg(sum(col("tok")).as("btok"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .sortBy { case (qb, _) => -qb })
    val budget = hist.map(_._2).sum * BudgetNum / BudgetDen
    val marked = {
      var cumHi = 0L
      hist.map { case (qb, btok) =>
        val full = cumHi + btok <= budget
        val remaining = budget - cumHi
        cumHi += btok
        (qb, full, remaining)
      }.toSeq
    }
    import s.implicits._
    val joined = t.join(
      broadcast(marked.toDF("qb", "full", "remaining")), Seq("qb"))
    val fullRows = joined.filter(col("full"))
      .select(col("doc_id"), col("q_u"), col("tok"))
    val wb = Window.partitionBy(col("qb"))
      .orderBy(col("q_u").desc, col("doc_id"))
    val boundRows = joined
      .filter(!col("full") && col("remaining") > 0)
      .withColumn("wcum", sum(col("tok")).over(wb))
      .filter(col("wcum") <= col("remaining"))
      .select(col("doc_id"), col("q_u"), col("tok"))
    fullRows.unionByName(boundRows).orderBy("doc_id")
  }

  private val q112Sql = {
    val (_, _, _, quality) = sqlQualityPieces
    s"""WITH t AS (
       |  SELECT doc_id,
       |    coalesce(${FP.sqlMicro(quality)}, -$QBucketStep) AS q_u,
       |    len(${T.sqlTokens("text")}) AS tok
       |  FROM documents),
       |b AS (SELECT CAST(sum(tok) AS BIGINT) * $BudgetNum // $BudgetDen
       |        AS budget FROM t),
       |c AS (
       |  SELECT doc_id, q_u, tok,
       |    CAST(sum(tok) OVER (ORDER BY q_u DESC, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM t)
       |SELECT doc_id, q_u, tok FROM c, b WHERE cum <= budget
       |ORDER BY doc_id""".stripMargin
  }

  // ---- q97: sparse TF-IDF cosine top-k (inverted-index join) -------------
  // The SPARSE-retrieval complement to the dense ANN family (q40-q46,
  // q69/q78): documents as TF-IDF vectors, similarity computed term-at-
  // a-time through an inverted-index equi-join on the term — the shape
  // Lucene/Elasticsearch and every sparse-retrieval system use. No
  // all-pairs: a (probe, neighbor) pair is generated ONLY if the docs
  // share a surviving term, and the per-term fan-out is capped by the
  // document-frequency filter below.
  //
  // Determinism: each (doc, term) weight tf·ln(N/df) micro-rounds to an
  // integer u; dots and squared norms are then EXACT integer sums, and
  // the final cosine runs only IEEE-correctly-rounded ops (int64→double
  // conversion, sqrt, divide) on identical inputs in both engines, so the
  // micro-rounded score is engine-exact and the (cos desc, n_id) rank is
  // total.
  //
  // Scale shape: wordcount aggregations + ONE shuffle join on the term.
  // The df cap drops stopword-grade terms — exactly the terms whose
  // posting lists would otherwise create quadratic skew at 100 TB (they
  // carry no discriminative weight anyway: ln(N/df) → 0). On a real
  // corpus the cap sits near 10%; the synthetic testdata vocabulary is 31
  // terms each in ~77% of documents, so the verified setting is 90% —
  // the knob is exercised, the result stays substantive. Probes are a
  // bounded hash-selected subset, as in q40.
  // mod 250 (vs q40's 50): the synthetic vocabulary is 31 terms each in
  // ~77% of documents — zero posting selectivity, so every probe touches
  // every document on every shared term and the scored fan-out is
  // probes × docs × vocab. A real corpus's inverted index is selective;
  // here the probe subset carries the boundedness instead.
  private val SparseProbeMod = 250
  // Fixed probe-set bound (the q87 discipline): a bare modulus makes the
  // probe side a corpus FRACTION, so the probes×postings fan-out grows
  // quadratically with the corpus — real retrieval probes are a fixed
  // query workload. ids 0, 250, … 5750: non-binding at the sf0.01 gate
  // and at sf0.1 (bench continuity), binding on the scale10 blowup.
  private val SparseProbeMax = 24L
  private def sparseProbePred(id: Column): Column =
    id % SparseProbeMod === 0 && id < SparseProbeMod * SparseProbeMax
  private def sqlSparseProbePred(id: String): String =
    s"$id % $SparseProbeMod = 0 AND $id < ${SparseProbeMod * SparseProbeMax}"
  // q97's stopword cap — ONE constant with the TermStore norms sidecar's
  // landing cap, so the at-rest norms are by construction the ones this
  // query would compute (a drift would silently serve wrong cosines)
  private val SparseDfCapPct = graft.sources.TermStore.NormsCapPct

  /** The materialized forward index (doc_id, term, tf) — THE shared base
    * of the sparse-retrieval arms (q97 cosine, q102 hybrid fusion). It is
    * checkpointed ONCE and every downstream consumer — dfreq, probes,
    * norms, the dot corpus side — replays over its cached partitions.
    * Without the checkpoint, Catalyst plans each consumer its own
    * tokenize → explode → groupBy subtree (consumer-specific column
    * pruning defeats exchange reuse), and the corpus gets re-scanned per
    * consumer: observed 6 s vs 1 s at sf0.1. At 100 TB this table is the
    * standard materialized forward index — orders smaller than the text it
    * indexes (distinct terms per doc, two longs wide) — and an at-rest
    * version of it replaces the checkpoint the way DocStore/VecStore
    * replace their recomputes.
    *
    * Partitioned by doc_id BEFORE the checkpoint: a document's whole
    * posting row set then lives in one partition, so per-doc aggregations
    * downstream (norms; the (q_id, doc_id) dots) need NO exchange at all
    * (hash(doc_id) already clusters their grouping keys) and map-side
    * combine collapses the probes×terms fan-out in place — partitioned by
    * (doc_id, w) instead, each partition saw ~one row per (probe, doc)
    * group and the partial aggregate shipped the full fan-out (~15M rows
    * at sf0.1, measured 2.4 s for the dots stage alone). */
  private def forwardIndex(s: SparkSession, d: String): DataFrame = {
    // At-rest fast path: a deployment lands the forward index ONCE
    // (TermStore.saveBucketed) and points retrieval at it with
    //   spark.graft.termStore = "<corpusDir>=<tableName>"
    // — the session then neither re-tokenizes the corpus nor reshuffles
    // the postings by doc_id (the doc_id BUCKETS of the store give the
    // same clustering the repartition+checkpoint builds per session, which
    // at 100 TB is a full postings shuffle on every session start). The
    // corpusDir guard keeps a store from silently serving a different
    // corpus than the one the query names (TermStoreSpec pins plan shape
    // and result parity on the registered queries).
    termStoreTable(s, d) match {
      case Some(table) =>
        // NO session materialization — each consumer subtree plans its
        // own bucketed scan. Measured against both cache forms on the
        // REGISTERED queries (SCALING.md, sf0.1): scan-only
        // q97 min 1.78 s vs persist(table) 3.64 s, bucket-pinned persist
        // 3.00 s, cold rebuild 2.48 s. The round-9 persist LOST to the
        // cold rebuild because every one of the ~16 consumer references
        // pays an InMemoryTableScan decompression of the whole columnar
        // cache, while the plain path hands each consumer a
        // column-PRUNED parquet scan fused into its own codegen stage
        // (a consumer needing (doc_id, tf) reads two columns of a store
        // orders smaller than the corpus). It is also the only form
        // that is honest at 100 TB: zero session state, the bucket
        // layout carries the doc_id clustering (TermStoreSpec pins
        // exchange-free per-doc aggregation and result parity), and
        // nothing holds references to dropped tables across a re-land.
        graft.sources.TermStore.loadBucketed(s, table)
      case None =>
        // memoized per (session, corpus): q97 and q102 are separate
        // registered queries over the SAME index — without the memo each
        // invocation re-tokenizes and re-shuffles the corpus into its own
        // checkpoint (the pipelineCached discipline; the reference builds
        // its index artifacts once per session too)
        fwdMemo.getOrElseUpdate(s, d)(
          graft.sources.TermStore.forwardIndex(docs(s, d))
            .transform(graft.operators.Joins.keyRepartition(_, col("doc_id")))
            .localCheckpoint())
    }
  }

  /** The at-rest TermStore this session points at for corpus `d`, if
    * any: spark.graft.termStore = "<corpusDir>=<tableName>". */
  private def termStoreTable(s: SparkSession, d: String): Option[String] =
    Stores.boundTo(s, "spark.graft.termStore", d).filter(s.catalog.tableExists(_))

  /** df statistics for the sparse arms — (dfreq(w, dfreq), meta(n_docs)).
    * At-rest sidecars when the session's TermStore carries them
    * (TermStore.saveBucketed lands them at ingest: a vocabulary-sized
    * scan instead of a full postings re-aggregation PER CONSUMER SUBTREE
    * — the store-path q97 plan otherwise recomputes dfreq three times);
    * recomputed from the index when not. Values are identical by
    * construction (the sidecar is the same aggregation landed once). */
  private def dfStats(s: SparkSession, d: String, tf: DataFrame)
      : (DataFrame, DataFrame) =
    termStoreTable(s, d) match {
      case Some(t) if s.catalog.tableExists(s"${t}_df") &&
          s.catalog.tableExists(s"${t}_meta") =>
        (s.table(s"${t}_df"), s.table(s"${t}_meta"))
      case _ =>
        (tf.groupBy(col("w")).agg(count(lit(1)).as("dfreq")),
          docs(s, d).agg(count(lit(1)).as("n_docs")))
    }

  private val fwdMemo = new SessionMemo[DataFrame]

  /** Measurement access to [[forwardIndex]] for the bench's stores-stage
    * split (store scan vs in-session rebuild) — the probe must time the
    * REAL build (tokenize → shuffle by doc_id → checkpoint), not a
    * reconstruction that could drift from it. */
  private[graft] def forwardIndexProbe(s: SparkSession, d: String): DataFrame =
    forwardIndex(s, d)

  /** Attribution frames for the bench's scale10 stage — one per text
    * member of the rehearsal family, each the intermediate whose row
    * count explains the query's wall (the q43cand/q43out discipline
    * extended to the whole family): q36's deduped LSH candidates, q38's
    * thresholded MinHash edge set (the CC loop's input), q97's scored
    * probe×doc dots, q102's cosine-arm scored docs. Counted ONCE per
    * bench run, published beside the walls so a superlinear ratio is
    * attributable from the artifact alone. */
  private[graft] val scale10Candidates
      : Map[String, (SparkSession, String) => DataFrame] = Map(
    "q36_ngram_jaccard" -> (jaccardCandidates(_, _)),
    "q38_dedup_clusters" -> (minhashPairs(_, _)),
    "q134_substring_dedup" -> (substringCandidates(_, _)),
    "q97_sparse_cosine" -> (sparseDots(_, _)),
    "q102_hybrid_rank" -> (hybridCosDots(_, _)),
    "q128_bloom_ingest" -> (bloomSurvivors(_, _)))

  /** Default head threshold of [[joinDfreq]]: a term in more than this
    * percent of documents is "head". */
  private val DfHeadPctDefault = 2

  /** The document-frequency join of the sparse-retrieval arms — TWO-TIER.
    *
    * `dfreq` is vocabulary-sized: by Heaps' law a 100 TB corpus holds
    * 10⁸–10⁹ distinct terms — multi-GB, past any broadcast budget — so
    * broadcasting it whole (the round-5 plan) dies at scale; but shuffling
    * the postings by term instead collapses onto the stopword keys (a
    * handful of reducers take most of the corpus). The dichotomy is false —
    * the two failure modes live at opposite ends of the df spectrum:
    *
    *  - HEAD (df > headPct% of docs): the skew makers. Σdf over the
    *    vocabulary = n_docs · avgDistinctTermsPerDoc, so at most
    *    avgDistinctTermsPerDoc · 100 / headPct terms can clear the
    *    threshold — the head relation is bounded by the AVERAGE DOCUMENT,
    *    not the corpus (≈25k terms for 500-term docs at 2%): a
    *    kilobyte-scale broadcast at any corpus size, and the corpus-scale
    *    head postings (the bulk, by Zipf) stay put on tf's partitioning.
    *  - TAIL (df ≤ headPct%): skew-free by construction — no key matches
    *    more than headPct% of documents — so the standard shuffle
    *    equi-join on `w` is safe; AQE's skew handling covers the residual
    *    spread. (At gate scale AQE usually converts this join to a
    *    broadcast from the MEASURED tail size — exactly the adaptivity a
    *    10⁹-term vocabulary needs in the other direction.)
    *
    * PlanSpec pins both properties on the registered queries: no
    * term-keyed shuffle outside the tail tier, no dfreq-derived broadcast
    * without a tier/probe bound; a branch-parity spec forces all-head and
    * all-tail via spark.graft.dfHeadPct and asserts identical results.
    *
    * @param capPct drop terms in more than capPct% of documents (q97's
    *               stopword cap) BEFORE the split — the inner join then
    *               drops their postings by never matching them.
    * @return tf's columns plus (dfreq, n_docs). */
  private def joinDfreq(tf: DataFrame, dfreq: DataFrame, nDocs: DataFrame,
      capPct: Option[Int]): DataFrame = {
    val headPct = tf.sparkSession.conf
      .get("spark.graft.dfHeadPct", DfHeadPctDefault.toString).toInt
    val d0 = dfreq.crossJoin(broadcast(nDocs))
    val d = capPct.map(c => d0.filter(col("dfreq") * 100 <= col("n_docs") * c))
      .getOrElse(d0)
    val head = d.filter(col("dfreq") * 100 > col("n_docs") * headPct)
    val tail = d.filter(col("dfreq") * 100 <= col("n_docs") * headPct)
    tf.join(broadcast(head), Seq("w"))
      .unionByName(tf.join(tail, Seq("w")))
  }

  /** q97's per-(doc, term) TF-IDF weights — the two-tier df join (see
    * joinDfreq): head terms broadcast (bounded), tail terms shuffle
    * skew-free — never a vocab-scale broadcast, never a
    * stopword-collapsed term shuffle; the cap rides the dfreq side. */
  private def sparseWeights(s: SparkSession, d: String): DataFrame = {
    def build = {
      val tf = forwardIndex(s, d)
      val (dfreq, nDocs) = dfStats(s, d, tf)
      joinDfreq(tf, dfreq, nDocs, Some(SparseDfCapPct))
        .select(col("doc_id"), col("w"),
          FP.micro(col("tf") * log(col("n_docs") / col("dfreq"))).as("u"))
    }
    // Non-store path: checkpointed per (session, corpus) — r14. The
    // weights feed FOUR subtrees per q97 invocation (norms, the dots
    // stream side, the broadcast probe side, the probe-norms broadcast),
    // and every BROADCAST build re-executed the dfreq aggregation +
    // two-tier join single-threaded on the driver (the q43 candidate-tier
    // disease). Same width class as the fwdMemo checkpoint it derives
    // from. The STORE path stays scan-only by design (SCALING.md:
    // scan-only 1.78 s beat every persist form; the df sidecars already
    // make each consumer's subtree a vocabulary-sized read).
    if (termStoreTable(s, d).isEmpty)
      sparseWeightsMemo.getOrElseUpdate(s, d)(build.localCheckpoint())
    else build
  }

  private val sparseWeightsMemo = new SessionMemo[DataFrame]

  /** q97's scored (q_id, doc_id) candidate dots BEFORE the top-k rank —
    * the frame whose row count IS the sparse arm's join fan-out, split
    * out so the bench's scale10 stage publishes it beside the wall (the
    * nearDupCandidates discipline).
    *
    * Probes BROADCAST (the q40 shape): the corpus posting list is never
    * shuffled by term — a term key space this small (31 here; stopword
    * vocabularies generally) would collapse a shuffle join onto a handful
    * of reducers. With the bounded probe side replicated, the join is
    * map-side and the only exchange is the (q_id, doc_id) partial-agg,
    * already collapsed by map-side combine. */
  private[graft] def sparseDots(s: SparkSession, d: String): DataFrame = {
    val weights = sparseWeights(s, d)
    val probes = weights.filter(sparseProbePred(col("doc_id")))
      .select(col("doc_id").as("q_id"), col("w"), col("u").as("qu"))
    weights.join(broadcast(probes), Seq("w"))
      .filter(col("doc_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("qu") * col("u")).as("dot_u"))
  }

  /** q97's per-doc squared norms: the `<table>_norms` sidecar when the
    * session's TermStore carries it (landed under the SAME cap constant,
    * [[graft.sources.TermStore.NormsCapPct]] — VERDICT r13 task 5: this
    * was the one subtree that still re-aggregated the full postings per
    * session on the store path, q97fwd's 0.56 s residual); recomputed
    * from the weights when not. Identical integers by construction —
    * the sidecar is [[graft.sources.TermStore.docNorms]], the same
    * µ-rounded expression over the same landed postings. */
  private def sparseNorms(s: SparkSession, d: String,
                          weights: DataFrame): DataFrame =
    termStoreTable(s, d) match {
      case Some(t) if s.catalog.tableExists(s"${t}_norms") =>
        s.table(s"${t}_norms")
      case _ =>
        weights.groupBy(col("doc_id"))
          .agg(sum(col("u") * col("u")).as("nrm2_u"))
    }

  private def q97(s: SparkSession, d: String): DataFrame = {
    val weights = sparseWeights(s, d)
    val norms = sparseNorms(s, d, weights)
    val dots = sparseDots(s, d)
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_u").desc, col("doc_id"))
    // probe norms broadcast explicitly: bounded by the probe subset at any
    // scale, and the checkpointed lineage has no stats for Catalyst to
    // discover that itself; the corpus-side norms join stays a co-located
    // doc_id equi-join (both sides ride the checkpoint's partitioning)
    dots
      .join(broadcast(norms.filter(sparseProbePred(col("doc_id")))
        .select(col("doc_id").as("q_id"), col("nrm2_u").as("qn"))),
        Seq("q_id"))
      .join(norms, Seq("doc_id"))
      .withColumn("cos_u", FP.micro(col("dot_u").cast("double") /
        (sqrt(col("qn").cast("double")) * sqrt(col("nrm2_u").cast("double")))))
      .withColumn("rank", row_number().over(wRank).cast(LongType))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("doc_id").as("n_id"),
        col("cos_u"))
      .orderBy("q_id", "rank")
  }

  private val q97Sql = {
    val toks = T.sqlTokens("text")
    s"""WITH tf AS (
       |  SELECT doc_id, w, count(*) AS tf
       |  FROM (SELECT doc_id, unnest($toks) AS w FROM documents)
       |  WHERE w <> '' GROUP BY 1, 2),
       |nd AS (SELECT count(*) AS n_docs FROM documents),
       |dfreq AS (SELECT w, count(*) AS dfreq FROM tf GROUP BY 1),
       |weights AS (
       |  SELECT t.doc_id, t.w,
       |    ${FP.sqlMicro("t.tf * ln(CAST(nd.n_docs AS DOUBLE) / dfreq.dfreq)")} AS u
       |  FROM tf t JOIN dfreq USING (w) CROSS JOIN nd
       |  WHERE dfreq.dfreq * 100 <= nd.n_docs * $SparseDfCapPct),
       |norms AS (
       |  SELECT doc_id, CAST(sum(u * u) AS BIGINT) AS nrm2_u
       |  FROM weights GROUP BY 1),
       |dots AS (
       |  SELECT p.doc_id AS q_id, x.doc_id,
       |    CAST(sum(p.u * x.u) AS BIGINT) AS dot_u
       |  FROM weights p JOIN weights x USING (w)
       |  WHERE ${sqlSparseProbePred("p.doc_id")} AND x.doc_id <> p.doc_id
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT d.q_id, d.doc_id,
       |    ${FP.sqlMicro(
            "CAST(d.dot_u AS DOUBLE) / (sqrt(CAST(nq.nrm2_u AS DOUBLE)) * " +
              "sqrt(CAST(nn.nrm2_u AS DOUBLE)))")} AS cos_u
       |  FROM dots d
       |  JOIN norms nq ON nq.doc_id = d.q_id
       |  JOIN norms nn ON nn.doc_id = d.doc_id),
       |ranked AS (
       |  SELECT q_id, doc_id, cos_u,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos_u DESC, doc_id)
       |      AS rank
       |  FROM scored)
       |SELECT q_id, rank, doc_id AS n_id, cos_u
       |FROM ranked WHERE rank <= 5 ORDER BY 1, 2""".stripMargin
  }

  // ---- q98: the curation pipeline, end to end ----------------------------
  // The verified stages composed the way a production run chains them —
  // ONE lazy plan from raw corpus to training manifest:
  //   benchmark split-off (source 'src0' plays the eval set) →
  //   quality gate (token-count band) →
  //   exact dedup, keep-first by content hash (q30's md5, q68's window) →
  //   shingle decontamination vs the eval set (q57's shape: corpus
  //     explodes 5-shingles, eval shingles broadcast, anti-join) →
  //   deterministic per-source mixing rates (q56/q88's MINSTD per-mille) →
  //   shard assignment + reproducible order (q96).
  // Each stage is individually oracle-verified elsewhere; this row proves
  // they COMPOSE — aliasing, nullability, and partitioning survive the
  // chain — and gives a user the one-call pipeline shape to copy.
  //
  // Scale shape: narrow maps + one md5-partitioned window + the broadcast
  // decontamination join + one shard-partitioned window. The corpus is
  // never shuffled except on those keys; the eval side is bounded.
  private def fiveShingles(t: Column): Column =
    when(size(t) < 5, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(t) - 4),
        i => concat_ws(" ", element_at(t, i), element_at(t, i + 1),
          element_at(t, i + 2), element_at(t, i + 3), element_at(t, i + 4))))

  private def q98(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("doc_id"), col("source"), col("text"),
      T.tokens(col("text")).as("t"))
      .withColumn("n_tok", size(col("t")).cast(LongType))
    val evalSh = base.filter(col("source") === "src0")
      .select(explode(fiveShingles(col("t"))).as("sh")).distinct()
    val gated = base.filter(col("source") =!= "src0")
      .filter(col("n_tok").between(20, 2000))
    val wDedup = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val deduped = gated.withColumn("rn", row_number().over(wDedup))
      .filter(col("rn") === 1).drop("rn")
    val contaminated = deduped
      .select(col("doc_id"), explode(fiveShingles(col("t"))).as("sh"))
      .join(broadcast(evalSh), Seq("sh"))
      .select(col("doc_id")).distinct()
    val clean = deduped.join(contaminated, Seq("doc_id"), "left_anti")
    val mixed = clean.filter(
      col("doc_id") * 48271L % 2147483647L % 1000L <
        lit(200L) + expr("coalesce(try_cast(substring(source, 4) as bigint), 0) % 4") * 200L)
    val withShard = mixed
      .withColumn("h", col("doc_id") * 48271L % 2147483647L)
      .withColumn("shard", pmod(col("h"), lit(8L)))
    val wShard = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    withShard
      .withColumn("pos", row_number().over(wShard).cast(LongType))
      .select(col("shard"), col("pos"), col("doc_id"), col("source"),
        col("n_tok"))
      .orderBy("shard", "pos")
  }

  private val q98Sql = {
    val toks = T.sqlTokens("text")
    val sh5 = "list_transform(range(1, len(t) - 3), i -> " +
      "t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])"
    s"""WITH base AS (
       |  SELECT doc_id, source, text, $toks AS t,
       |    CAST(len($toks) AS BIGINT) AS n_tok
       |  FROM documents),
       |esh AS (
       |  SELECT DISTINCT unnest($sh5) AS sh FROM base WHERE source = 'src0'),
       |gated AS (
       |  SELECT * FROM base
       |  WHERE source <> 'src0' AND n_tok BETWEEN 20 AND 2000),
       |deduped AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY md5(text)
       |      ORDER BY doc_id) AS rn
       |    FROM gated) WHERE rn = 1),
       |contam AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_id, unnest($sh5) AS sh FROM deduped) c
       |  JOIN esh USING (sh)),
       |clean AS (
       |  SELECT * FROM deduped
       |  WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
       |mixed AS (
       |  SELECT *, doc_id * 48271 % 2147483647 AS h
       |  FROM clean
       |  WHERE doc_id * 48271 % 2147483647 % 1000 <
       |    200 + (coalesce(TRY_CAST(substr(source, 4) AS BIGINT), 0) % 4) * 200)
       |SELECT h % 8 AS shard,
       |  row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS pos,
       |  doc_id, source, n_tok
       |FROM mixed ORDER BY 1, 2""".stripMargin
  }

  // ---- q134: suffix-anchored exact substring dedup -----------------------
  // The dedup family's blind spot, closed (VERDICT r13 task 3): q30 keys
  // whole documents, q68 keys 16-token spans on a FIXED grid — a verbatim
  // duplicated passage at an UNALIGNED offset (doc A at token 0, doc B at
  // token 5) matches neither. This is the public
  // deduplicate-text-datasets shape re-expressed relationally:
  //
  //  1. ANCHORS — the k-token window hash at EVERY token offset (k = 8),
  //     so alignment never matters; the md5 anchor is then SAMPLED
  //     content-defined (first hex nibble ∈ {0,4,8,c}, a fixed 1-in-4 —
  //     both copies of a passage sample the SAME windows regardless of
  //     offset, the winnowing property a positional sample lacks);
  //  2. CANDIDATES — a self-equi-join on the anchor hash under q97's
  //     df-cap discipline (anchors in > 16 docs are boilerplate and carry
  //     no alignment signal; dropping them bounds per-key fan-out at
  //     df², so the join can never go quadratic on a stopword-grade
  //     window), collapsed to DISTINCT (doc_a, doc_b, delta) — one row
  //     per proposed alignment, however many anchors proposed it;
  //  3. IN-ROW EXTENSION — [[graft.functions.SharedRunExpr]] walks each
  //     candidate's aligned token overlap once (codegen'd kernel) and
  //     returns the maximal shared run exactly, so hash collisions and
  //     sampling can propose false candidates but never a false run.
  //
  // Recall bound (documented, deterministic): a shared run of L tokens
  // carries L−7 anchors and is found iff ≥1 samples in; the fixture's
  // duplicated passages all do, and at the 16-token report threshold the
  // content-random miss rate is (3/4)^9 ≈ 7.5% of MARGINAL runs — the
  // standard winnowing trade against a 4× smaller join.
  //
  // Scale shape: the anchor exchange is hash-partitioned on a 32-char
  // md5 (well-distributed; the df cap bounds every key), candidates are
  // one row per alignment (two doc_id-keyed joins fetch token arrays),
  // and the extension is a single compiled pass per candidate. No
  // all-pairs shape exists at any stage; the scale10 rehearsal carries
  // its wall + candidate count (q134cand).
  private val SubAnchorK = 8
  private val SubMinSpan = 16
  private val SubDfCap = 16

  /** Sampled anchors (doc_id, pos, h): the md5 of each k-token window,
    * kept when the first hex nibble is 0/4/8/c (content-defined 1-in-4),
    * then deduped to each hash's FIRST position per document. The
    * per-doc dedup is the intra-document twin of the df cap: without it
    * a spam/machine-generated document repeating one window m times
    * contributes m positions under ONE join key, and two such documents
    * blow the self-join up m² — the df cap (which counts DOCUMENTS)
    * cannot see it. First-occurrence anchors bound every (h, doc) cell
    * at one row, so per-key fan-out is ≤ df² ≤ 256 ROWS, period; a
    * repeated window's other alignments are recovered by the in-row
    * extension whenever any other anchor proposes their delta. */
  /** Compiled twin of the anchor construction (the genArraysUdf/dotJvm
    * discipline, r14): ONE pass per document — sliding window string via
    * a reused builder, MessageDigest MD5, lowercase hex, the 1-in-4
    * nibble sample, and the per-doc first-position dedup in an in-row
    * hash map (it is a PER-DOCUMENT property, so no (doc_id, h) exchange
    * is needed at all). Bit-identical to the expression spec mirrored in
    * the oracle: the same UTF-8 window bytes ("tok … tok", single
    * spaces), the same MD5 hex, the same nibble set, min(pos) ≡ first
    * sampled occurrence under an ascending scan. The interpreted form
    * (explode → slice → concat_ws → md5 per window) measured 4.7 s of
    * the 10× rehearsal distributed — and re-ran SINGLE-THREADED on the
    * driver inside every broadcast build of the anchor self-join. */
  private val subAnchorsUdf = udf { (toks: Seq[String]) =>
    // null/short guard (r14 advice): T.tokens of a NULL text is a NULL
    // array, and the expression pipeline this kernel replaced silently
    // skipped such docs (size(null) = -1 < SubAnchorK) — the UDF must
    // keep that contract instead of NPEing on the first dirty document
    if (toks == null) Seq.empty[(Long, String)]
    else {
    val n = toks.length
    val md = java.security.MessageDigest.getInstance("MD5")
    val seen = new java.util.HashSet[String]()
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val sb = new java.lang.StringBuilder()
    val hexDigits = "0123456789abcdef"
    var pos = 0
    while (pos + SubAnchorK <= n) {
      sb.setLength(0)
      var i = 0
      while (i < SubAnchorK) {
        if (i > 0) sb.append(' ')
        sb.append(toks(pos + i))
        i += 1
      }
      md.reset()
      val dg = md.digest(
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if (((dg(0) >> 4) & 0x3) == 0) { // first hex nibble ∈ {0,4,8,c}
        val hx = new Array[Char](32)
        var j = 0
        while (j < 16) {
          hx(2 * j) = hexDigits((dg(j) >> 4) & 0xF)
          hx(2 * j + 1) = hexDigits(dg(j) & 0xF)
          j += 1
        }
        val h = new String(hx)
        if (seen.add(h)) out += ((pos.toLong, h))
      }
      pos += 1
    }
    out.toSeq
    }
  }

  private def substringAnchors(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), explode(subAnchorsUdf(T.tokens(col("text")))).as("a"))
      .select(col("doc_id"), col("a._1").as("pos"), col("a._2").as("h"))

  /** Candidate alignments — DISTINCT (doc_a, doc_b, delta) from the
    * df-capped anchor self-join. Split out so the bench's scale10 stage
    * publishes its row count beside the wall (the q43cand discipline). */
  /** The sampled anchor table, checkpointed per (session, corpus) — the
    * bandMemo discipline: the df-cap aggregation and BOTH sides of the
    * candidate self-join consume it, and each broadcast build would
    * otherwise re-run the anchor kernel single-threaded on the driver.
    * ~40 B/row × (sampled windows), orders smaller than the text. */
  private val subAnchorMemo = new SessionMemo[DataFrame]

  private[graft] def substringCandidates(s: SparkSession, d: String): DataFrame = {
    val anch = subAnchorMemo.getOrElseUpdate(s, d)(
      substringAnchors(s, d).localCheckpoint())
    // df cap rides the same h-partitioned exchange the join reuses;
    // anchors are already one row per (doc, h), so a plain count IS the
    // distinct-document count
    val keep = anch.groupBy(col("h"))
      .agg(count(lit(1)).as("adf"))
      .filter(col("adf") <= SubDfCap)
      .select(col("h"))
    val kept = anch.join(keep, Seq("h"))
    kept.select(col("h"), col("doc_id").as("doc_a"), col("pos").as("pos_a"))
      .join(kept.select(col("h"), col("doc_id").as("doc_b"),
        col("pos").as("pos_b")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("pos_a") - col("pos_b")).as("delta"))
      .distinct()
  }

  private def q134(s: SparkSession, d: String): DataFrame = {
    val toks = docs(s, d).select(col("doc_id"), T.tokens(col("text")).as("t"))
    import graft.functions.SharedRunExpr
    val packed = substringCandidates(s, d)
      .join(toks.select(col("doc_id").as("doc_a"), col("t").as("ta")),
        Seq("doc_a"))
      .join(toks.select(col("doc_id").as("doc_b"), col("t").as("tb")),
        Seq("doc_b"))
      .withColumn("packed",
        SharedRunExpr.sharedRun(col("ta"), col("tb"), col("delta")))
    packed
      .select(col("doc_a"), col("doc_b"),
        SharedRunExpr.bestStart(col("packed")).as("start_a"),
        (SharedRunExpr.bestStart(col("packed")) - col("delta")).as("start_b"),
        SharedRunExpr.bestSpan(col("packed")).as("span_tokens"),
        SharedRunExpr.nMatched(col("packed")).as("n_matched"))
      .filter(col("span_tokens") >= SubMinSpan)
      .orderBy("doc_a", "doc_b", "start_a", "start_b")
  }

  private val q134Sql = {
    val toks = T.sqlTokens("text")
    s"""WITH t AS (SELECT doc_id, $toks AS t, len($toks) AS n FROM documents),
       |a AS (
       |  SELECT doc_id, CAST(p AS BIGINT) AS pos,
       |    md5(array_to_string(list_slice(t, p + 1, p + $SubAnchorK), ' ')) AS h
       |  FROM t, unnest(generate_series(0, n - $SubAnchorK)) u(p)
       |  WHERE n >= $SubAnchorK),
       |sa AS (
       |  SELECT doc_id, h, min(pos) AS pos
       |  FROM a WHERE substr(h, 1, 1) IN ('0', '4', '8', 'c')
       |  GROUP BY 1, 2),
       |keep AS (
       |  SELECT h FROM (SELECT h, count(*) AS adf FROM sa GROUP BY 1)
       |  WHERE adf <= $SubDfCap),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    x.pos - y.pos AS delta
       |  FROM sa x JOIN keep USING (h) JOIN sa y USING (h)
       |  WHERE x.doc_id < y.doc_id),
       |m AS (
       |  SELECT c.doc_a, c.doc_b, c.delta, CAST(i AS BIGINT) AS i
       |  FROM cand c
       |  JOIN t ta ON ta.doc_id = c.doc_a
       |  JOIN t tb ON tb.doc_id = c.doc_b,
       |  unnest(generate_series(greatest(0, c.delta),
       |                         least(ta.n, tb.n + c.delta) - 1)) g(i)
       |  WHERE ta.t[i + 1] = tb.t[i - c.delta + 1]),
       |r AS (
       |  SELECT doc_a, doc_b, delta, i,
       |    i - row_number() OVER (PARTITION BY doc_a, doc_b, delta
       |                           ORDER BY i) AS grp
       |  FROM m),
       |runs AS (
       |  SELECT doc_a, doc_b, delta, min(i) AS start_a, count(*) AS span
       |  FROM r GROUP BY 1, 2, 3, grp),
       |tot AS (SELECT doc_a, doc_b, delta, count(*) AS n_matched
       |        FROM m GROUP BY 1, 2, 3),
       |best AS (
       |  SELECT doc_a, doc_b, delta, start_a, span,
       |    row_number() OVER (PARTITION BY doc_a, doc_b, delta
       |                       ORDER BY span DESC, start_a) AS rk
       |  FROM runs)
       |SELECT b.doc_a, b.doc_b, b.start_a,
       |  b.start_a - b.delta AS start_b, b.span AS span_tokens,
       |  tot.n_matched
       |FROM best b JOIN tot USING (doc_a, doc_b, delta)
       |WHERE b.rk = 1 AND b.span >= $SubMinSpan
       |ORDER BY 1, 2, 3, 4""".stripMargin
  }

  // ---- q135: DSIR-style importance resampling -----------------------------
  // q88 mixes BETWEEN sources by tag; this selects WITHIN a corpus toward
  // a TARGET distribution — the public Data Selection via Importance
  // Resampling recipe: hashed n-gram features, target/source
  // likelihood-ratio weights, weighted sampling. The target is the
  // lang='en' subset (q89's trusted-reference stand-in).
  //
  // Determinism (the q89 discipline end to end): features are hashed
  // bigrams (the canonical charHash, mod 64 buckets); each bucket's
  // log-ratio ln(p_target/p_source) under add-½ smoothing is micro-
  // rounded ONCE and clamped to ±4 (bounded importance weights, the
  // published recipe's stabilization), so per-doc weights are exact
  // integer sums; selection is the q48/q56 MINSTD per-mille hash against
  // a rate derived from the PER-BIGRAM average weight by pure integer
  // arithmetic (shift-then-divide keeps every division non-negative —
  // Spark `div` truncates toward zero, DuckDB `//` floors, and they only
  // agree on non-negative operands).
  //
  // Scale shape: wordcount aggregations (bucket counts are 64 rows —
  // broadcast back), one narrow rescan for scoring, no shuffle wider
  // than the per-doc weight aggregation. The bucket table is CONSTANT
  // size at any corpus scale — that is DSIR's point: the target model
  // rides along as a broadcast, never a join against the target corpus.
  private val DsirBuckets = 64
  private val DsirClampU = 4000000L // ±4.0 in micro units
  private val DsirShiftU = 4000000L
  // rate 500‰ at average log-ratio 0; ±0.05 average spans the full range
  private val DsirRateDiv = 100L
  private val DsirRateBias = DsirShiftU - 500L * DsirRateDiv

  private def q135(s: SparkSession, d: String): DataFrame = {
    val withT = docs(s, d)
      .select(col("doc_id"), col("lang"), T.tokens(col("text")).as("t"))
    val bg = withT
      .select(col("doc_id"), col("lang"),
        explode(bigramsOf(col("t"))).as("bgr"))
      // the codegen'd kernel, bit-identical to the HOF spec hash and the
      // oracle's sqlCharHash (CharHashExpr's contract)
      .withColumn("b", pmod(
        graft.functions.CharHashExpr.charHashNative(col("bgr")),
        lit(DsirBuckets.toLong)))
      .select(col("doc_id"), col("lang"), col("b"))
    val cs = bg.groupBy(col("b"))
      .agg(count(lit(1)).as("c_src"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c_tgt"))
    val tots = cs.agg(sum(col("c_src")).as("ts"), sum(col("c_tgt")).as("tt"))
    val lr = cs.crossJoin(broadcast(tots))
      .withColumn("lr_u",
        greatest(lit(-DsirClampU), least(lit(DsirClampU),
          FP.micro(log((col("c_tgt") + lit(0.5)) /
              (col("tt") + lit(0.5 * DsirBuckets))) -
            log((col("c_src") + lit(0.5)) /
              (col("ts") + lit(0.5 * DsirBuckets)))))))
      .select(col("b"), col("lr_u"))
    val w = bg.join(broadcast(lr), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bg"), sum(col("lr_u")).as("w_u"))
    withT.select(col("doc_id"))
      .join(w, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bg"), lit(0L)).as("n_bg"),
        coalesce(col("w_u"), lit(0L)).as("w_u"))
      .withColumn("rate_pm",
        when(col("n_bg") === 0, lit(500L)).otherwise(
          expr(s"least(1000, greatest(0, (w_u + n_bg * $DsirShiftU) " +
            s"div n_bg - $DsirRateBias) div $DsirRateDiv)").cast(LongType)))
      .withColumn("sel",
        when(col("doc_id") * 48271L % 2147483647L % 1000L < col("rate_pm"),
          1L).otherwise(0L))
      .orderBy("doc_id")
  }

  private val q135Sql = {
    val toks = T.sqlTokens("text")
    s"""WITH t AS (SELECT doc_id, lang, $toks AS t FROM documents),
       |bg AS (
       |  SELECT doc_id, lang, ${T.sqlCharHash("bgr")} % $DsirBuckets AS b
       |  FROM (SELECT doc_id, lang,
       |          unnest(list_transform(range(1, len(t)),
       |            i -> t[i] || ' ' || t[i+1])) AS bgr
       |        FROM t)),
       |cs AS (
       |  SELECT b, count(*) AS c_src,
       |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS c_tgt
       |  FROM bg GROUP BY 1),
       |tots AS (SELECT CAST(sum(c_src) AS BIGINT) AS ts,
       |  CAST(sum(c_tgt) AS BIGINT) AS tt FROM cs),
       |lr AS (
       |  SELECT b, greatest(-$DsirClampU, least($DsirClampU,
       |    ${FP.sqlMicro(
            s"ln((c_tgt + 0.5) / (tt + ${0.5 * DsirBuckets})) - " +
              s"ln((c_src + 0.5) / (ts + ${0.5 * DsirBuckets}))")})) AS lr_u
       |  FROM cs CROSS JOIN tots),
       |w AS (
       |  SELECT bg.doc_id, count(*) AS n_bg,
       |    CAST(sum(lr.lr_u) AS BIGINT) AS w_u
       |  FROM bg JOIN lr USING (b) GROUP BY 1),
       |scored AS (
       |  SELECT d.doc_id, coalesce(w.n_bg, 0) AS n_bg,
       |    coalesce(w.w_u, 0) AS w_u
       |  FROM documents d LEFT JOIN w USING (doc_id)),
       |rated AS (
       |  SELECT doc_id, n_bg, w_u,
       |    CASE WHEN n_bg = 0 THEN 500
       |         ELSE least(1000, greatest(0,
       |           (w_u + n_bg * $DsirShiftU) // n_bg - $DsirRateBias)
       |           // $DsirRateDiv)
       |    END AS rate_pm
       |  FROM scored)
       |SELECT doc_id, n_bg, w_u, rate_pm,
       |  CASE WHEN doc_id * 48271 % 2147483647 % 1000 < rate_pm
       |       THEN 1 ELSE 0 END AS sel
       |FROM rated ORDER BY 1""".stripMargin
  }

  // ---- q136: cross-snapshot URL dedup (crawl canonicalization) -----------
  // The corpus-merge operator (q86) keys on CONTENT fingerprints; real
  // crawl curation first collapses by canonicalized URL across snapshots,
  // keeping the newest fetch — re-fetches of one page differ in scheme,
  // host case, `www.`, tracking params and fragments long before their
  // bytes are compared. The canonicalizer is the codegen'd
  // [[graft.functions.CanonicalUrlExpr]] (SQL: `canonical_url`); the
  // snapshot rows here are derived deterministically from the documents
  // table (doc_id div 3 = the page, the three members carrying the
  // variant axes), so both engines construct bit-identical inputs.
  //
  // Scale shape: one narrow scan + ONE exchange on the canonical key
  // (the groupBy) — canonicalization is scan-side arithmetic, newest-
  // fetch is a max monoid, nothing rescans or self-joins.
  private def q136(s: SparkSession, d: String): DataFrame = {
    import graft.functions.CanonicalUrlExpr
    val u = docs(s, d).select(col("doc_id"))
      .withColumn("base_id", expr("doc_id div 3"))
      .withColumn("url", concat(
        when(col("doc_id") % 2 === 0, lit("http://")).otherwise(lit("https://")),
        when(col("doc_id") % 3 === 0, lit("www.")).otherwise(lit("")),
        when(col("doc_id") % 2 === 1,
          upper(concat(lit("site"), col("base_id") % 50, lit(".example.com"))))
          .otherwise(concat(lit("site"), col("base_id") % 50, lit(".example.com"))),
        concat(lit("/doc/"), col("base_id")),
        when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 3 === 1,
          concat(lit("?utm_source=feed&id="), col("base_id") % 7))
          .when(col("doc_id") % 3 === 2,
            concat(lit("?id="), col("base_id") % 7, lit("&gclid=g"),
              col("doc_id") % 5))
          .otherwise(concat(lit("?id="), col("base_id") % 7)),
        when(col("doc_id") % 3 === 2,
          concat(lit("#sec"), col("doc_id") % 4)).otherwise(lit(""))))
    u.groupBy(CanonicalUrlExpr.canonicalUrl(col("url")).as("curl"))
      .agg(count(lit(1)).as("n_snapshots"), max(col("doc_id")).as("keep_id"))
      .orderBy("curl")
  }

  private val q136Sql =
    """WITH u AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'http://' ELSE 'https://' END)
      |    || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
      |    || (CASE WHEN doc_id % 2 = 1
      |          THEN upper('site' || (doc_id // 3) % 50 || '.example.com')
      |          ELSE 'site' || (doc_id // 3) % 50 || '.example.com' END)
      |    || '/doc/' || doc_id // 3
      |    || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
      |    || (CASE WHEN doc_id % 3 = 1
      |          THEN '?utm_source=feed&id=' || (doc_id // 3) % 7
      |          WHEN doc_id % 3 = 2
      |          THEN '?id=' || (doc_id // 3) % 7 || '&gclid=g' || doc_id % 5
      |          ELSE '?id=' || (doc_id // 3) % 7 END)
      |    || (CASE WHEN doc_id % 3 = 2 THEN '#sec' || doc_id % 4 ELSE '' END)
      |      AS url
      |  FROM documents),
      |c0 AS (SELECT doc_id,
      |    regexp_replace(regexp_replace(url, '^https?://', ''),
      |                   '#.*$', '') AS s1 FROM u),
      |c1 AS (SELECT *,
      |    CASE WHEN position('/' IN s1) > 0
      |         THEN substr(s1, 1, position('/' IN s1) - 1) ELSE s1 END
      |      AS rawhost,
      |    CASE WHEN position('/' IN s1) > 0
      |         THEN substr(s1, position('/' IN s1)) ELSE '' END AS tail
      |  FROM c0),
      |c2 AS (SELECT *,
      |    regexp_replace(lower(rawhost), '^www\.', '') AS host,
      |    CASE WHEN position('?' IN tail) > 0
      |         THEN substr(tail, 1, position('?' IN tail) - 1) ELSE tail END
      |      AS path0,
      |    CASE WHEN position('?' IN tail) > 0
      |         THEN substr(tail, position('?' IN tail) + 1) ELSE '' END AS qs
      |  FROM c1),
      |c3 AS (SELECT *,
      |    regexp_replace(path0, '/$', '') AS path,
      |    array_to_string(list_filter(string_split(qs, '&'),
      |      p -> NOT (starts_with(p, 'utm_') OR starts_with(p, 'gclid')
      |                OR starts_with(p, 'fbclid'))), '&') AS q2
      |  FROM c2),
      |canon AS (SELECT doc_id,
      |    host || path || (CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END)
      |      AS curl
      |  FROM c3)
      |SELECT curl, count(*) AS n_snapshots, max(doc_id) AS keep_id
      |FROM canon GROUP BY 1 ORDER BY 1""".stripMargin

  def defs: Map[String, QueryDef] = Map(
    "q134_substring_dedup" -> QueryDef(q134, Some(q134Sql)),
    "q135_dsir_resample" -> QueryDef(q135, Some(q135Sql)),
    "q136_url_dedup" -> QueryDef(q136, Some(q136Sql)),
    "q98_curation_pipeline" -> QueryDef(q98, Some(q98Sql)),
    "q97_sparse_cosine" -> QueryDef(q97, Some(q97Sql)),
    "q95_bpe_train" -> QueryDef(q95, Some(FixtureOracle.sql("q95_bpe_train"))),
    "q103_bpe_tokenize" -> QueryDef(q103, Some(FixtureOracle.sql("q103_bpe_tokenize"))),
    "q104_quality_classifier" ->
      QueryDef(q104, Some(FixtureOracle.sql("q104_quality_classifier"))),
    "q89_ngram_lm_score" -> QueryDef(q89, Some(q89Sql)),
    "q96_train_shuffle" -> QueryDef(q96, Some(q96Sql)),
    "q86_corpus_merge" -> QueryDef(q86, Some(q86Sql)),
    "q88_source_mixing" -> QueryDef(q88, Some(q88Sql)),
    "q114_epoch_upsample" -> QueryDef(q114, Some(q114Sql)),
    "q115_manifest_diff" -> QueryDef(q115, Some(q115Sql)),
    "q116_manifest_merge" -> QueryDef(q116, Some(q116Sql)),
    "q68_span_dedup" -> QueryDef(q68, Some(q68Sql)),
    "q65_bm25_rank" -> QueryDef(q65, Some(q65Sql)),
    "q102_hybrid_rank" -> QueryDef(q102, Some(q102Sql)),
    "q66_doc_chunking" -> QueryDef(q66, Some(q66Sql)),
    "q57_decontamination" -> QueryDef(q57, Some(q57Sql)),
    "q79_contam_spans" -> QueryDef(q79, Some(q79Sql)),
    "q100_quality_calibrate" -> QueryDef(q100, Some(q100Sql)),
    "q58_sequence_packing" -> QueryDef(q58, Some(q58Sql)),
    "q54_repetition_signals" -> QueryDef(q54, Some(q54Sql)),
    "q55_pii_redaction" -> QueryDef(q55, Some(q55Sql)),
    "q56_stratified_sample" -> QueryDef(q56, Some(q56Sql)),
    "q30_exact_dedup" -> QueryDef(q30, Some(q30Sql)),
    "q31_token_count" -> QueryDef(q31, Some(q31Sql)),
    "q32_quality_score" -> QueryDef(q32, Some(q32Sql)),
    "q33_lang_id" -> QueryDef(q33, Some(q33Sql)),
    "q34_minhash_lsh" -> QueryDef(q34, Some(q34Sql)),
    "q35_simhash_neardup" -> QueryDef(q35, Some(q35Sql)),
    "q36_ngram_jaccard" -> QueryDef(q36, Some(q36Sql)),
    "q37_fingerprint" -> QueryDef(q37, Some(q37Sql)),
    "q38_dedup_clusters" -> QueryDef(q38, Some(q38Sql)),
    "q109_cluster_best" -> QueryDef(q109, Some(q109Sql)),
    "q110_ingest_dedup" -> QueryDef(q110, Some(q110Sql)),
    "q128_bloom_ingest" -> QueryDef(q128, Some(q128Sql)),
    "q131_unicode_dedup" -> QueryDef(q131, Some(q131Sql)),
    "q132_lsh_recall" -> QueryDef(q132, Some(q132Sql)),
    "q101_stream_neardup" -> QueryDef(q101, Some(q101Sql)),
    "q112_budget_select" -> QueryDef(q112, Some(q112Sql)),
    "q39_corpus_stats" -> QueryDef(q39, Some(q39Sql)))
}
