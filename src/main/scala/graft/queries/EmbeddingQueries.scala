package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Tables
import graft.functions.{FP, VecFns => V}
import graft.operators.{Aggregates, Joins, KMeans, Pca}

/** Similarity search and vector analytics over the `embeddings` table
  * (64-dim `array<float>`).
  *
  * Scale design: the brute-force kNN broadcasts the (small) probe set
  * against the (huge) corpus — a map-side nested loop with no shuffle of
  * the corpus. The ANN variant buckets the corpus by random-hyperplane LSH
  * and equi-joins on bucket, the scale path when the probe set is itself
  * huge. The centroid query aggregates whole arrays through a typed
  * `Aggregator` buffer, shuffling one 65-long buffer per (partition ×
  * label) instead of one row per (vector × dimension).
  */
object EmbeddingQueries extends QueryModule {
  private val Dim = 64

  private val ProbeMod = 50 // vec_id % ProbeMod == 0 → probe set
  // Fixed probe-set bound (the q97/q87 discipline): a bare modulus makes
  // every probe side a corpus FRACTION, so probes × corpus fan-outs grow
  // quadratically with the data — real ANN probes are a fixed query
  // workload. ids 0, 50, … 1950: non-binding at every gate scale factor
  // (fixtures and oracles keep their committed values), binding on any
  // larger corpus.
  private val ProbeMax = 40L
  private def probePred(id: Column): Column =
    id % ProbeMod === 0 && id < ProbeMod * ProbeMax
  private def sqlProbePred(id: String): String =
    s"$id % $ProbeMod = 0 AND $id < ${ProbeMod * ProbeMax}"

  /** Similarity-grade vectors — the embedding analog of the document
    * validity gates (F7): drop NULL embeddings, wrong-width embeddings,
    * and zero-norm vectors BEFORE any cosine math. A real corpus carries
    * all three (failed encoder runs, schema drift), and under ANSI any
    * one of them aborts the whole job — DIVIDE_BY_ZERO on the norm
    * product, INVALID_ARRAY_INDEX on a short array, an NPE inside a
    * trainer collect (all three observed on a planted dirty corpus). On
    * the driver gate's corpora every vector is valid, so this filter is
    * an IDENTITY there and the SQL oracles read the bare table;
    * EdgeVecsSpec sweeps the dirty-corpus behavior — degenerate vectors
    * simply never enter similarity results, the way QC-failed profiles
    * never enter the atlas. */
  private def vecs(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .filter(col("embedding").isNotNull && size(col("embedding")) === Dim)
      // compiled Σx² (r15): the HOF form
      // `aggregate(cast(embedding as array<double>), 0.0, (a,x) -> a+x*x)`
      // evaluated an interpreted lambda per element on EVERY embedding
      // scan in the family; V.sumSq is the bit-identical codegen kernel
      // (same fold, same NULL-element → NULL → filtered semantics —
      // VecFnsSpec pins the equivalence, EdgeVecsSpec the dirty corpus)
      .filter(V.sumSq(col("embedding")) > 0.0)

  private def base(s: SparkSession, d: String): DataFrame =
    vecs(s, d).select(
      col("vec_id"),
      col("embedding").cast("array<double>").as("vec"))
      .transform(graft.operators.Joins.keyRepartition(_, col("vec_id")))
      .select(col("vec_id"), V.packVec(col("vec")).as("pv"),
        V.norm(col("vec")).as("nrm"))

  private val sqlBase =
    s"""SELECT vec_id, embedding, ${V.sqlNorm("embedding", Dim)} AS nrm
       |FROM embeddings""".stripMargin

  // ---- q40: brute-force cosine top-k (broadcast probe set) ---------------
  private def q40(s: SparkSession, d: String): DataFrame = {
    val b = base(s, d)
    val probes = b.filter(probePred(col("vec_id"))).select(
      col("vec_id").as("q_id"), col("pv").as("q_pv"), col("nrm").as("q_nrm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_n").desc, col("vec_id"))
    b.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_n",
        FP.nano(V.dotPacked(col("q_pv"), col("pv")) / (col("q_nrm") * col("nrm"))))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("vec_id").as("n_id"), col("cos_n"))
      .orderBy("q_id", "rank")
  }

  private val q40Sql =
    s"""WITH b AS ($sqlBase),
       |p AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
       |      FROM b WHERE ${sqlProbePred("vec_id")}),
       |s AS (
       |  SELECT p.q_id, b.vec_id AS n_id,
       |    ${FP.sqlNano(s"${V.sqlDot("p.q_emb", "b.embedding", Dim)} / (p.q_nrm * b.nrm)")} AS cos_n
       |  FROM b CROSS JOIN p WHERE b.vec_id <> p.q_id),
       |r AS (
       |  SELECT q_id, n_id, cos_n, row_number() OVER (
       |    PARTITION BY q_id ORDER BY cos_n DESC, n_id) AS rank
       |  FROM s)
       |SELECT q_id, rank, n_id, cos_n FROM r WHERE rank <= 5
       |ORDER BY 1, 2""".stripMargin

  // ---- centered-LSH thresholds (shared by q41 / q43 / q67 buckets) -------
  /** Per-plane thresholds h_p·μ for [[V.lshBucketCentered]] — the
    * driver-held model of the bucketers (`bits` doubles, bounded like the
    * k-means centroids, NOT corpus-scale). μ is the per-dimension corpus
    * mean in exact nano fixed-point: per-row nano rounding, integer sum,
    * truncating integer division — every step engine-exact (DuckDB's `//`
    * and Spark's `div` both truncate toward zero), so the oracle computes
    * bit-identical thresholds and therefore identical buckets. Memoized
    * per (session, dir#bits): the three bucket consumers share one tiny
    * aggregation. */
  private[graft] val threshMemo = new SessionMemo[Seq[Double]]

  /** Driver-held TRAINED models (k-means cells, PQ codebooks, PCA
    * components) per (session, corpusDir#tag): an index's quantizer is
    * fit once per ingest and persisted beside the store, not retrained
    * per query (every fit here is deterministic — id-stride init,
    * fixed-point sums — so a memo hit IS the retrain, bit for bit).
    * Bounded like the other driver models: cells × dim doubles, KBs per
    * corpus. Tags keep deliberately distinct fits apart — q99's
    * pinned-distributed PCA fit must never be served q107's adaptive
    * one, or the pin would stop exercising the distributed branch under
    * the gate. */
  private val modelMemo = new SessionMemo[AnyRef]

  private def memoModel[T <: AnyRef](s: SparkSession, d: String, tag: String)(
      build: => T): T =
    modelMemo.getOrElseUpdate(s, s"$d#$tag")(build).asInstanceOf[T]

  private def planeThresholds(s: SparkSession, d: String, bits: Int): Seq[Double] =
    threshMemo.getOrElseUpdate(s, s"$d#$bits") {
      val mu = Tables.embeddings(s, d)
        .select(posexplode(col("embedding")))
        .select((col("pos") + 1).as("dm"),
          FP.nano(col("col").cast("double")).as("vn"))
        .groupBy("dm")
        .agg(expr("sum(vn) div count(1)").as("mu_n"))
      val cols = (0 until bits).map(p =>
        sum(when(col("dm").isInCollection(V.posDims(p, Dim)), col("mu_n"))
          .otherwise(-col("mu_n"))).as(s"t$p"))
      val row = mu.agg(cols.head, cols.tail: _*).head()
      (0 until bits).map(p =>
        if (row.isNullAt(p)) 0.0 else row.getLong(p) / 1e9)
    }

  /** Oracle twin of [[planeThresholds]]: CTEs `mu` (per-dim nano mean)
    * and `th` (the per-plane threshold list `ts`, 1-based). */
  private def sqlThresholdCtes(bits: Int): String = {
    val items = (0 until bits).map(p =>
      s"(SELECT CAST(sum(CASE WHEN dm IN (${V.posDims(p, Dim).mkString(", ")}) " +
        s"THEN mu_n ELSE -mu_n END) AS DOUBLE) / 1e9 FROM mu)")
      .mkString(",\n    ")
    s"""mu AS (
       |  SELECT d AS dm,
       |    CAST(sum(CAST(round(CAST(embedding[d] AS DOUBLE) * 1e9) AS BIGINT)) AS BIGINT) // count(*) AS mu_n
       |  FROM embeddings, range(1, ${Dim + 1}) t(d) GROUP BY d),
       |th AS (SELECT [$items] AS ts)""".stripMargin
  }

  // ---- q41: LSH-bucketed approximate nearest neighbors -------------------
  // MULTI-TABLE centered sign-LSH (see nearDupPairs) + MULTIPROBE: T
  // tables of b bits each, candidates from ANY table, deduped, scored
  // exactly once. One 6-bit table measured recall@3 ≈ 0.07 vs the q40
  // ground truth — a near-neighbor must agree on all 6 signs to be seen
  // at all; 4×4-bit tables measure ≈ 0.5. Multiprobe closes the rest: the
  // PROBE side also looks in every Hamming-distance-1 bucket (each single
  // bit flipped — the buckets a near-neighbor most likely fell into when
  // exactly one plane disagreed), which lifts per-table candidate
  // probability from s^b to s^b + b·s^(b-1)(1−s) and measured recall@3 to
  // ≈ 0.97 (AnnRecallSpec pins ≥ 0.7). The 100 TB shape is the point:
  // multiprobe fans out the BROADCAST probe rows ×(b+1) — the at-rest
  // corpus index (VecStore discipline) is untouched, so recall is a
  // query-time knob, not a re-landing of the corpus.
  private val LshTables = 4
  private val LshTableBits = 4

  /** q41's deduped multiprobe candidate set (q_id, vec_id) — split out
    * (the nearDupCandidates discipline) so the bench's scale10 stage can
    * publish the candidate count beside the wall. */
  private[graft] def annLshCandidates(s: SparkSession, d: String): DataFrame =
    q41Split(s, d)._1

  private def q41(s: SparkSession, d: String): DataFrame =
    q41Split(s, d)._2

  private def q41Split(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    // bits per table rides the same density knob as the near-dup family —
    // candidates/bucket ≈ n/2^bits per table, so a denser corpus raises it
    // (the scale10 stage runs 8). The oracle CTEs are baked at
    // LshTableBits, so another width is a PERF configuration.
    val bits = s.conf.get("spark.graft.nearDupBits", LshTableBits.toString).toInt
    val th = planeThresholds(s, d, LshTables * bits)
    val raw = vecs(s, d).select(
      col("vec_id"),
      col("embedding").cast("array<double>").as("vec"))
    // opaqueBucket dodges the self-join constraint-inference bug (see
    // nearDupPairs) at a price: deterministic filters cannot cross a
    // projection holding a nondeterministic expression. So each branch
    // filters FIRST and enriches only its surviving rows — the probe
    // branch runs the kernels over 1/ProbeMod of the corpus, not all of
    // it, without relying on optimizer pushdown at all. Buckets are
    // projected before the table explode (a nondeterministic-marked
    // expression may not sit under a Generate directly).
    // band frames carry IDS ONLY (the q36 discipline — see nearDupPairs);
    // payloads join in once per DEDUPED candidate
    def bandedIds(df: DataFrame): DataFrame = df
      .select(Seq(col("vec_id")) ++
        (0 until LshTables).map(t =>
          V.opaqueBucket(V.lshBucketCentered(col("vec"), bits, Dim, th,
            t * bits)).as(s"__b$t")): _*)
      .select(col("vec_id"),
        explode(array((0 until LshTables).map(t =>
          struct(lit(t).as("tbl"), col(s"__b$t").as("bucket"))): _*)).as("tb"))
      .select(col("vec_id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    def payload(df: DataFrame): DataFrame =
      df.select(col("vec_id"), V.packVec(col("vec")).as("pv"),
        V.norm(col("vec")).as("nrm"))
    val b = bandedIds(graft.operators.Joins.keyRepartition(raw, col("vec_id")))
    // multiprobe: each probe band row also visits its b one-bit-flipped
    // neighbor buckets (flip 0 = the original). The fan-out multiplies
    // only the BROADCAST side (probes × tables × (b+1) rows); by this
    // projection `bucket` is a plain attribute, so the explode sits above
    // the nondeterministic opaqueBucket projection, not under it
    val probeFlips = (0L +: (0 until bits).map(j => 1L << j)).map(lit(_))
    val probeBands = bandedIds(raw.filter(probePred(col("vec_id"))))
      .withColumn("__f", explode(array(probeFlips: _*)))
      .select(col("bucket").bitwiseXOR(col("__f")).as("bucket"),
        col("tbl"), col("vec_id").as("q_id"))
    val cand = b.join(broadcast(probeBands), Seq("bucket", "tbl"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id")).distinct()
    val qPay = payload(raw.filter(probePred(col("vec_id")))).select(
      col("vec_id").as("q_id"), col("pv").as("q_pv"), col("nrm").as("q_nrm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_n").desc, col("vec_id"))
    val out = cand
      .join(broadcast(qPay), Seq("q_id"))
      .join(payload(raw), Seq("vec_id"))
      .withColumn("cos_n",
        FP.nano(V.dotPacked(col("q_pv"), col("pv")) / (col("q_nrm") * col("nrm"))))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("vec_id").as("n_id"), col("cos_n"))
      .orderBy("q_id", "rank")
    (cand, out)
  }

  private val q41Sql = {
    val bits = LshTableBits
    val bands = (0 until LshTables).map(t =>
      s"  SELECT vec_id, $t AS tbl, ${V.sqlLshBucketCentered("embedding",
        bits, Dim, "ts", t * bits)} AS bucket " +
        "FROM b CROSS JOIN th")
      .mkString("\n  UNION ALL\n")
    // the engine's multiprobe flip list at the same bit width
    val flips = (0L +: (0 until bits).map(j => 1L << j))
      .mkString("[", ", ", "]")
    s"""WITH ${sqlThresholdCtes(LshTables * bits)},
       |b AS (
       |  SELECT vec_id, embedding, ${V.sqlNorm("embedding", Dim)} AS nrm
       |  FROM embeddings),
       |bands AS (
       |$bands),
       |p AS (
       |  SELECT vec_id, tbl, xor(bucket, f.f) AS bucket
       |  FROM bands CROSS JOIN (SELECT unnest($flips) AS f) f
       |  WHERE ${sqlProbePred("vec_id")}),
       |cand AS (
       |  SELECT DISTINCT p.vec_id AS q_id, x.vec_id AS n_id
       |  FROM bands x JOIN p ON x.tbl = p.tbl AND x.bucket = p.bucket
       |  WHERE x.vec_id <> p.vec_id),
       |s AS (
       |  SELECT c.q_id, c.n_id,
       |    ${FP.sqlNano(s"${V.sqlDot("q.embedding", "x.embedding", Dim)} / (q.nrm * x.nrm)")} AS cos_n
       |  FROM cand c JOIN b q ON q.vec_id = c.q_id JOIN b x ON x.vec_id = c.n_id),
       |r AS (
       |  SELECT q_id, n_id, cos_n, row_number() OVER (
       |    PARTITION BY q_id ORDER BY cos_n DESC, n_id) AS rank
       |  FROM s)
       |SELECT q_id, rank, n_id, cos_n FROM r WHERE rank <= 3
       |ORDER BY 1, 2""".stripMargin
  }

  // ---- q42: per-label centroid via whole-array Aggregator (A1 core) ------
  private def q42(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .groupBy(col("label"))
      .agg(Aggregates.weightedArrayMeanFP(Dim)(lit(1L), col("embedding"))
        .as("sums"))
      .select(col("label"),
        posexplode(slice(col("sums"), 1, Dim)).as(Seq("pos", "sum_n")),
        element_at(col("sums"), Dim + 1).as("n_vecs"))
      .select(col("label"), (col("pos") + 1).cast(LongType).as("dim"),
        round(col("sum_n").cast("double") / col("n_vecs")).cast(LongType)
          .as("mean_nano"),
        col("n_vecs"))
      .orderBy("label", "dim")

  private val q42Sql =
    s"""SELECT label, d AS dim,
       |  CAST(round(sum(CAST(round(CAST(embedding[d] AS DOUBLE) * 1e9) AS BIGINT))::DOUBLE
       |    / count(*)) AS BIGINT) AS mean_nano,
       |  count(*) AS n_vecs
       |FROM embeddings, range(1, ${Dim + 1}) t(d)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- q43: embedding-cosine near-duplicate pairs ------------------------
  // The fifth dedup family member (after exact / MinHash / SimHash /
  // n-gram): two vectors are near-dups when cosine ≥ threshold. All-pairs
  // is quadratic, so candidates are blocked by a coarse random-hyperplane
  // bucket (4 bits here; more bits at higher corpus density) and only
  // intra-bucket pairs are scored — the same LSH-blocking shape as q34's
  // MinHash bands. The bucket self-join shuffles each side once on the
  // bucket key; no row ever meets more than its own bucket.
  private[graft] val NearDupBits = 4
  private[graft] val NearDupTables = 4
  private val NearDupThreshNano = 350000000L // cosine ≥ 0.35

  /** Estimated IN-MEMORY bytes per pv-model row: 8·Dim packed doubles +
    * the boxed key, tuple, norm and HashMap-entry overhead — the width
    * the byte-aware cap multiplies rows by (guide §3.2/§5). */
  private val PvModelRowBytes = 8L * Dim + 64L

  /** DEDUPED candidate pairs (d1 < d2) from the multi-table LSH blocks,
    * BEFORE exact scoring — split out so the bench's scale10 stage can
    * publish the candidate count next to the surviving-pair count (the
    * two numbers that attribute any superlinear wall: candidates grow
    * with bucket density, survivors with true near-dup structure). */
  private[graft] def nearDupCandidates(s: SparkSession, d: String): DataFrame =
    nearDupPairsSplit(s, d)._1

  /** Embedding near-dup pairs (d1 < d2, cos_n ≥ threshold), unsorted —
    * shared by q43 (the pair listing) and q67 (cluster resolution over
    * the same graph, mirroring how q34's pairs feed q38). */
  private[graft] def nearDupPairs(s: SparkSession, d: String): DataFrame =
    nearDupPairsSplit(s, d)._2

  private def nearDupPairsSplit(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    // The bucket alias is wrapped in [[V.opaqueBucket]]: without it,
    // Spark 4.1's constraint inference records `bucket <=> <whole bucket
    // expression over vec>` at this projection, substitutes the self-join
    // key through it, and pushes a filter carrying THIS side's `vec` into
    // the OTHER side's branch — an unresolvable plan that fails at runtime
    // (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND) under count()-style pruning.
    // (Root cause verified: the original shape passes with
    // spark.sql.constraintPropagation.enabled=false; the wrapper blocks
    // only this one constraint instead of a global conf flip.)
    // CENTERED buckets (V.lshBucketCentered): with uncentered/weak planes
    // this corpus occupied exactly 2 of the 16 buckets — quadratic
    // candidates, caught by the scale10 bench stage at 10×.
    //
    // MULTI-TABLE (OR-amplification — the q34 band pattern in embedding
    // space): one b-bit table keeps only pairs agreeing on ALL b signs,
    // collision prob (1−θ/π)^b ≈ 0.66 at cosine 0.95 — a third of TRUE
    // near-dups never became candidates. T independent tables lift recall
    // to 1−(1−p)^T ≈ 0.99 at the same cosine; candidates come from ANY
    // table and are deduped before scoring, so each surviving pair is
    // scored exactly once (AnnRecallSpec pins the recall floor).
    // Bits per table from conf: bucket COUNT must grow with corpus
    // density (candidates per bucket ≈ n/2^bits per table — quadratic in
    // n at fixed bits; the scale10 stage measured 170 s at 10× on 4 bits
    // vs ~7 s on 8). A deployment raises it with the corpus the way it
    // raises IVF cells.
    // KNOB ⟂ GATE: the q43/q67 SQL oracles are baked at NearDupBits, so
    // another width is a PERF configuration — running the gate that way
    // reports spurious candidate-set mismatches.
    val bits = s.conf.get("spark.graft.nearDupBits", NearDupBits.toString).toInt
    val th = planeThresholds(s, d, NearDupTables * bits)
    val base = vecs(s, d).select(
      col("vec_id"),
      col("embedding").cast("array<double>").as("vec"))
    // buckets projected FIRST, then exploded: a nondeterministic-marked
    // expression (opaqueBucket) may not sit under a Generate directly.
    // The band frame carries IDS ONLY — the q36 discipline: candidates
    // dedup on 16-byte id pairs BEFORE any payload touches an exchange
    // (payload-through-the-bands measured 3× the whole query at 1×:
    // every candidate occurrence dragged two 512 B packed vectors through
    // the dedup shuffle).
    //
    // ... and the id frame is materialized ONCE per (session, corpus,
    // bits) — the bandMemo discipline from the lexical family (r14): the
    // candidate join consumes it twice (stream + broadcast build), and
    // without the checkpoint each consumer re-executes the bucket
    // subtree — the T·bits planeProj HOFs evaluate INTERPRETED per
    // element, and the broadcast-build copy runs single-threaded on the
    // DRIVER: measured ~4 s of the 10× rehearsal's candidate tier against
    // 0.15 s for the same work distributed. 16 B/row × corpus × tables,
    // orders smaller than the vectors it indexes (VecStore's bucketed
    // layout is the at-rest analog).
    val bandedIds = vecBandMemo.getOrElseUpdate(s, s"$d#$bits")(base
      .select(Seq(col("vec_id")) ++
        (0 until NearDupTables).map(t =>
          V.opaqueBucket(V.lshBucketCentered(col("vec"), bits, Dim, th,
            t * bits)).as(s"__b$t")): _*)
      .select(col("vec_id"),
        explode(array((0 until NearDupTables).map(t =>
          struct(lit(t).as("tbl"), col(s"__b$t").as("bucket"))): _*)).as("tb"))
      .select(col("vec_id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
      .localCheckpoint())
    // Only the STREAM side repartitions (a tiny-file corpus would
    // otherwise enumerate every candidate on the scan's one or two
    // partitions; at scale the scan is already wide and the exchange is
    // one linear pass). The build side skips it: under the broadcast cap
    // its rows go straight to the driver, and past the cap blockJoin's
    // salted join re-shuffles on (bucket, salt) anyway.
    val l = graft.operators.Joins.keyRepartition(bandedIds, col("vec_id"))
      .select(col("bucket"), col("tbl"), col("vec_id").as("d1"))
    val r = bandedIds.select(col("bucket"), col("tbl"), col("vec_id").as("d2"))
    // With few coarse buckets a shuffle join would collapse onto
    // ≤T·2^bits tasks. Size-conditional (Joins.blockJoin): broadcast the
    // build side while it fits, salted equi-join past the cap.
    val nVecs = Joins.memoCount(s, s"$d/embeddings")(Tables.embeddings(s, d))
    val cand = Joins.blockJoin(l, r, Seq("bucket", "tbl"), hash(col("d1")),
        buildRows = nVecs * NearDupTables)
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2")).distinct()
    // Scoring is size-conditional like the join above (r14). A corpus
    // under the driver-model cap scores through a DRIVER MODEL — the q69
    // codebook discipline: (vec_id → packed vector, norm) ships as a
    // Spark BROADCAST, and each candidate row pays two in-memory lookups
    // plus the compiled dot instead of dragging two 512 B payloads
    // through a pair of joins (the 10× rehearsal measured those joins at
    // ~4.6 s of pure row-materialization for 3.7M candidates — cut to a
    // narrow map). The cap is BYTE-AWARE (r15): rows × in-memory row
    // width (packed vector + norm + map-entry overhead) against the
    // shared byte budget — the row cap alone admitted a ~1 GB map at its
    // 2M default. The model itself is a session-scoped broadcast
    // ([[pvModelMemo]]), rebuilt from parquet after every bench barrier.
    // Bit-identity: the SAME packed bytes (V.packVec), the SAME fold
    // (DotPackedExpr.dot — the codegen kernel the join path calls), the
    // same (n1·n2) product order and FP.nano rounding; NearDupScoreSpec
    // pins map ≡ join path. Past the cap — the 100 TB corpus — the join
    // path below runs unchanged.
    val pairs = if (nVecs <= Joins.maxRowsSized(cand, PvModelRowBytes)) {
      val pv = pvModelMemo.getOrElseUpdate(s, s"$d#pv") {
        val model = base
          .select(col("vec_id"), V.packVec(col("vec")).as("pv"),
            V.norm(col("vec")).as("nrm"))
          .collect()
        val m = new java.util.HashMap[Long, (Array[Byte], Double)](
          model.length * 2)
        model.foreach(r => m.put(r.getLong(0),
          (r.getAs[Array[Byte]](1), r.getDouble(2))))
        s.sparkContext.broadcast(m)
      }
      val cosUdf = udf((a: Long, b: Long) => {
        val m = pv.value
        val x = m.get(a); val y = m.get(b)
        graft.functions.DotPackedExpr.dot(x._1, y._1) / (x._2 * y._2)
      })
      cand.select(col("d1"), col("d2"),
        FP.nano(cosUdf(col("d1"), col("d2"))).as("cos_n"))
        .filter(col("cos_n") >= NearDupThreshNano)
    } else {
      val packed = base.select(col("vec_id"), V.packVec(col("vec")).as("pv"),
        V.norm(col("vec")).as("nrm"))
      cand
        .join(packed.select(col("vec_id").as("d1"),
          col("pv").as("v1"), col("nrm").as("n1")), Seq("d1"))
        .join(packed.select(col("vec_id").as("d2"),
          col("pv").as("v2"), col("nrm").as("n2")), Seq("d2"))
        .select(col("d1"), col("d2"),
          FP.nano(V.dotPacked(col("v1"), col("v2")) / (col("n1") * col("n2")))
            .as("cos_n"))
        .filter(col("cos_n") >= NearDupThreshNano)
    }
    (cand, pairs)
  }

  private def q43(s: SparkSession, d: String): DataFrame =
    nearDupPairs(s, d).orderBy("d1", "d2")

  /** Bucket + scored-pair CTEs shared by the q43 and q67 oracles, at
    * the default width [[NearDupBits]]. */
  private val nearDupPairCtes = {
    val bits = NearDupBits
    val bands = (0 until NearDupTables).map(t =>
      s"  SELECT vec_id, $t AS tbl, ${V.sqlLshBucketCentered("embedding",
        bits, Dim, "ts", t * bits)} AS bucket " +
        "FROM b CROSS JOIN th")
      .mkString("\n  UNION ALL\n")
    val cos = FP.sqlNano(
      s"${V.sqlDot("x.embedding", "y.embedding", Dim)} / (x.nrm * y.nrm)")
    s"""${sqlThresholdCtes(NearDupTables * bits)},
       |b AS (
       |  SELECT vec_id, embedding, ${V.sqlNorm("embedding", Dim)} AS nrm
       |  FROM embeddings),
       |bands AS (
       |$bands),
       |cand AS (
       |  SELECT DISTINCT l.vec_id AS d1, r.vec_id AS d2
       |  FROM bands l JOIN bands r
       |    ON l.tbl = r.tbl AND l.bucket = r.bucket AND l.vec_id < r.vec_id),
       |npairs AS (
       |  SELECT c.d1, c.d2, $cos AS cos_n
       |  FROM cand c JOIN b x ON x.vec_id = c.d1 JOIN b y ON y.vec_id = c.d2
       |  WHERE $cos >= $NearDupThreshNano)""".stripMargin
  }

  private val q43Sql =
    s"""WITH $nearDupPairCtes
       |SELECT d1, d2, cos_n FROM npairs ORDER BY 1, 2""".stripMargin

  // ---- q67: SEMANTIC near-dup cluster resolution -------------------------
  // The embedding-space analog of q38: exact/MinHash/SimHash/Jaccard dedup
  // all miss paraphrases, so a training pipeline also clusters by the
  // transitive closure of the embedding-cosine pair graph and keeps one
  // canonical document per semantic cluster. Same min-label propagation
  // operator (O(log diameter) pointer-jumping passes), same recursive-CTE
  // oracle shape as q38 — the pair graph is q43's, already verified
  // independently, so this composes two green components. Unlike q38
  // (which pins the distributed loop so that branch stays oracle-
  // verified), this one keeps the adaptive default: under the broadcast
  // cap the closure is solved by driver union-find — so the fast path
  // carries its own green CORRECTNESS row too.
  private def q67(s: SparkSession, d: String): DataFrame = {
    val pairs = nearDupPairs(s, d)
      .select(col("d1").as("src"), col("d2").as("dst"))
    val verts = Tables.embeddings(s, d).select(col("vec_id").as("id"))
    graft.operators.Graph.connectedComponents(pairs, verts)
      .select(col("id").as("vec_id"), col("comp").as("cluster"),
        (col("id") === col("comp")).as("is_canonical"))
      .orderBy("vec_id")
  }

  private val q67Sql =
    s"""WITH RECURSIVE $nearDupPairCtes,
       |edges AS (
       |  SELECT d1 AS s, d2 AS t FROM npairs
       |  UNION ALL SELECT d2 AS s, d1 AS t FROM npairs),
       |reach(id, r) AS (
       |  SELECT vec_id, vec_id FROM embeddings
       |  UNION
       |  SELECT reach.id, e.t FROM reach JOIN edges e ON e.s = reach.r)
       |SELECT id AS vec_id, min(r) AS cluster,
       |  (id = min(r)) AS is_canonical
       |FROM reach GROUP BY id ORDER BY 1""".stripMargin

  // ---- q44: IVF-style ANN (coarse centroids → probe nearest lists) -------
  // The inverted-file scale path: partition the corpus into coarse cells
  // (here the label partitions; at scale, k-means cells), keep one centroid
  // per cell, and for each probe scan only the nProbe nearest cells instead
  // of the whole corpus. Centroids are per-dimension INTEGER nano-unit sums
  // — cosine is scale-invariant, so the un-normalized sum vector is the
  // centroid direction, and integer sums make it bit-reproducible under any
  // aggregation order or engine. Centroid table is tiny → broadcast; the
  // corpus is hash-partitioned by cell and only nProbe/L of it is scored.
  private val NProbe = 2

  private def q44(s: SparkSession, d: String): DataFrame = {
    val b = vecs(s, d).select(
      col("label"), col("vec_id"),
      col("embedding").cast("array<double>").as("vec"))
      .transform(graft.operators.Joins.keyRepartition(_, col("label")))
      .select(col("label"), col("vec_id"), V.packVec(col("vec")).as("pv"),
        col("vec"), V.norm(col("vec")).as("nrm"))
    val cents = vecs(s, d)
      .groupBy(col("label"))
      .agg(Aggregates.weightedArrayMeanFP(Dim)(lit(1L), col("embedding"))
        .as("sums"))
      .select(col("label"),
        slice(col("sums"), 1, Dim).cast("array<double>").as("c_vec"))
      .select(col("label"), col("c_vec"), V.norm(col("c_vec")).as("c_nrm"))
    val probes = b.filter(probePred(col("vec_id"))).select(
      col("vec_id").as("q_id"), col("pv").as("q_pv"),
      col("vec").as("q_vec"), col("nrm").as("q_nrm"))
    val wc = Window.partitionBy(col("q_id"))
      .orderBy(col("c_cos").desc, col("label"))
    val assigned = probes.crossJoin(broadcast(cents))
      .withColumn("c_cos",
        V.dotJvm(col("q_vec"), col("c_vec")) / (col("q_nrm") * col("c_nrm")))
      .withColumn("c_rank", row_number().over(wc))
      .filter(col("c_rank") <= NProbe)
      .select(col("label"), col("q_id"), col("q_pv"), col("q_nrm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_n").desc, col("vec_id"))
    b.join(assigned, Seq("label"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_n",
        FP.nano(V.dotPacked(col("q_pv"), col("pv")) / (col("q_nrm") * col("nrm"))))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("vec_id").as("n_id"), col("cos_n"))
      .orderBy("q_id", "rank")
  }

  private val q44Sql =
    s"""WITH b AS ($sqlBase),
       |bl AS (SELECT e.label, b.vec_id, b.embedding, b.nrm
       |       FROM b JOIN embeddings e ON e.vec_id = b.vec_id),
       |csum AS (
       |  SELECT label, d AS dim,
       |    sum(CAST(round(CAST(embedding[d] AS DOUBLE) * 1e9) AS BIGINT)) AS s
       |  FROM embeddings, range(1, ${Dim + 1}) t(d) GROUP BY 1, 2),
       |cent AS (
       |  SELECT label, list(CAST(s AS DOUBLE) ORDER BY dim) AS c_vec
       |  FROM csum GROUP BY label),
       |centn AS (SELECT label, c_vec, ${V.sqlNorm("c_vec", Dim)} AS c_nrm
       |          FROM cent),
       |p AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
       |      FROM b WHERE ${sqlProbePred("vec_id")}),
       |a AS (
       |  SELECT p.q_id, p.q_emb, p.q_nrm, c.label, row_number() OVER (
       |    PARTITION BY p.q_id ORDER BY
       |      ${V.sqlDot("p.q_emb", "c.c_vec", Dim)} / (p.q_nrm * c.c_nrm) DESC,
       |      c.label) AS c_rank
       |  FROM p CROSS JOIN centn c),
       |s AS (
       |  SELECT a.q_id, bl.vec_id AS n_id,
       |    ${FP.sqlNano(s"${V.sqlDot("a.q_emb", "bl.embedding", Dim)} / (a.q_nrm * bl.nrm)")} AS cos_n
       |  FROM a JOIN bl ON bl.label = a.label
       |  WHERE a.c_rank <= $NProbe AND bl.vec_id <> a.q_id),
       |r AS (
       |  SELECT q_id, n_id, cos_n, row_number() OVER (
       |    PARTITION BY q_id ORDER BY cos_n DESC, n_id) AS rank
       |  FROM s)
       |SELECT q_id, rank, n_id, cos_n FROM r WHERE rank <= 3
       |ORDER BY 1, 2""".stripMargin

  // ---- q122: incremental vector INGEST (frozen-quantizer IVF update) -----
  // The index-maintenance shape q110 gave dedup: new vectors arrive AFTER
  // the index was built, and re-training the quantizer per batch is
  // exactly what a 100 TB deployment cannot do (it re-routes the whole
  // at-rest corpus — every cell file would re-land). The production rule,
  // encoded here with both sides oracle-verified:
  //  * the quantizer is FROZEN at build time: centroids are computed over
  //    the STORED corpus only (integer nano sums — bit-reproducible), and
  //    a delta batch 10× stranger than the store cannot move them;
  //  * arrivals are routed BY the quantizer, not by their metadata: a
  //    delta vector gets argmax-cosine cell against the frozen centroids
  //    (its own label is ignored — new data has no routing rights), which
  //    is an O(delta × cells) broadcast join, never touching the store;
  //  * search spans store + delta as ONE index: probes pick nProbe cells
  //    from the same frozen centroids, then scan the union — a vector
  //    ingested this micro-batch is immediately searchable, and `src`
  //    says which tier served each hit.
  // Scale shape: the stored corpus is never re-shuffled by an ingest
  // (delta assignment broadcasts ~L centroid rows against delta rows
  // only); per-batch work is O(delta × L + probes × probed cells).
  // IvfIngestSpec pins the semantics the gate cannot see: a planted
  // near-identical delta vector is found at rank 1 (src = delta), and
  // routing follows the frozen quantizer, not the arrival's label.
  private[graft] def ivfIngestSearch(stored: DataFrame, delta: DataFrame,
      topK: Int = 3): DataFrame = {
    val (idx, assigned) = ivfIngestParts(stored, delta)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_n").desc, col("n_id"))
    ivfIngestScoredFrom(idx, assigned)
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("rank"), col("n_id"), col("cos_n"), col("src"))
      .orderBy("q_id", "rank")
  }

  /** Everything of the ingest search up to (index, probe-cell
    * assignments) — shared by the ranked search and the scale10
    * candidate attribution. */
  private def ivfIngestParts(stored: DataFrame, delta: DataFrame)
      : (DataFrame, DataFrame) = {
    // frozen quantizer: per-label integer-nano-sum centroids, STORED only
    // (the UDAF takes the parquet's float width; `vec` is the exact
    // double widening of it, so the cast back is lossless)
    val cents = stored
      .groupBy(col("label"))
      .agg(Aggregates.weightedArrayMeanFP(Dim)(
        lit(1L), col("vec").cast("array<float>")).as("sums"))
      .select(col("label"),
        slice(col("sums"), 1, Dim).cast("array<double>").as("c_vec"))
      .select(col("label"), col("c_vec"), V.norm(col("c_vec")).as("c_nrm"))
    val packed = (df: DataFrame, src: String) => df.select(
      col("label"), col("vec_id"), col("vec"),
      V.packVec(col("vec")).as("pv"), V.norm(col("vec")).as("nrm"),
      lit(src).as("src"))
    val st = packed(stored, "store")
    // arrival routing: argmax cosine against the frozen centroids; the
    // delta row's own label is dropped on the floor
    val wd = Window.partitionBy(col("vec_id"))
      .orderBy(col("c_cos").desc, col("label"))
    val dl = packed(delta, "delta").drop("label")
      .crossJoin(broadcast(cents))
      .withColumn("c_cos",
        V.dotJvm(col("vec"), col("c_vec")) / (col("nrm") * col("c_nrm")))
      .withColumn("c_rank", row_number().over(wd))
      .filter(col("c_rank") === 1)
      .select(col("label"), col("vec_id"), col("vec"), col("pv"),
        col("nrm"), col("src"))
    val idx = graft.operators.Joins.keyRepartition(st.unionByName(dl), col("label"))
    // probes route through the SAME frozen centroids (q44's shape)
    val probes = st.filter(probePred(col("vec_id"))).select(
      col("vec_id").as("q_id"), col("vec").as("q_vec"),
      col("pv").as("q_pv"), col("nrm").as("q_nrm"))
    val wc = Window.partitionBy(col("q_id"))
      .orderBy(col("c_cos").desc, col("label"))
    val assigned = probes.crossJoin(broadcast(cents))
      .withColumn("c_cos",
        V.dotJvm(col("q_vec"), col("c_vec")) / (col("q_nrm") * col("c_nrm")))
      .withColumn("c_rank", row_number().over(wc))
      .filter(col("c_rank") <= NProbe)
      .select(col("label"), col("q_id"), col("q_pv"), col("q_nrm"))
    (idx, assigned)
  }

  /** The ingest search's scored (q_id, n_id) pairs BEFORE the top-k rank
    * — the frame whose row count IS the probe-side fan-out (probes ×
    * their nProbe cells' occupancy over store + delta), split out so the
    * bench's scale10 stage publishes it beside the wall (the
    * nearDupCandidates discipline). */
  private def ivfIngestScoredFrom(idx: DataFrame, assigned: DataFrame): DataFrame =
    idx.join(assigned, Seq("label"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_n",
        FP.nano(V.dotPacked(col("q_pv"), col("pv")) / (col("q_nrm") * col("nrm"))))
      .withColumn("n_id", col("vec_id"))

  // the ingest split: ids ≡ 3 (mod 5) are "the batch that arrived after
  // the index was built" (~20%, disjoint from the probe ids ≡ 0 mod 50,
  // so every probe is a stored row querying for possibly-new neighbors)
  private val DeltaMod = 5
  private val DeltaRem = 3

  /** q122's (index, probe assignments) memoized per (session, corpus) —
    * r15: every invocation re-froze the quantizer, re-routed the delta
    * and re-packed the whole index (the scale10 candidate probe measured
    * that rebuild at 1.9 s of q122's 2.2 s 10× wall). The checkpointed
    * index is (label, vec_id, pv, nrm, src) — the IVF-partitioned
    * VecStore's in-session twin (the unread `vec` array is projected away
    * before the checkpoint); `assigned` is probes × nProbe rows.
    * [[ivfIngestSearch]] keeps taking arbitrary frames unmemoized — the
    * spec's planted-delta corpora must never collide with this key. */
  private val ivfIdxMemo = new SessionMemo[(DataFrame, DataFrame)]

  private def ivfIngestPartsFor(s: SparkSession, d: String)
      : (DataFrame, DataFrame) =
    ivfIdxMemo.getOrElseUpdate(s, d) {
      val all = vecs(s, d).select(
        col("label"), col("vec_id"),
        col("embedding").cast("array<double>").as("vec"))
      val (idx, assigned) = ivfIngestParts(
        all.filter(col("vec_id") % DeltaMod =!= DeltaRem),
        all.filter(col("vec_id") % DeltaMod === DeltaRem))
      (idx.select(col("label"), col("vec_id"), col("pv"), col("nrm"),
        col("src")).localCheckpoint(), assigned.localCheckpoint())
    }

  private def q122(s: SparkSession, d: String): DataFrame = {
    val (idx, assigned) = ivfIngestPartsFor(s, d)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_n").desc, col("n_id"))
    ivfIngestScoredFrom(idx, assigned)
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("n_id"), col("cos_n"), col("src"))
      .orderBy("q_id", "rank")
  }

  private val q122Sql =
    s"""WITH b AS ($sqlBase),
       |bl AS (SELECT e.label, b.vec_id, b.embedding, b.nrm
       |       FROM b JOIN embeddings e ON e.vec_id = b.vec_id),
       |stored AS (SELECT * FROM bl WHERE vec_id % $DeltaMod <> $DeltaRem),
       |del AS (SELECT * FROM bl WHERE vec_id % $DeltaMod = $DeltaRem),
       |csum AS (
       |  SELECT label, d AS dim,
       |    sum(CAST(round(CAST(embedding[d] AS DOUBLE) * 1e9) AS BIGINT)) AS s
       |  FROM stored, range(1, ${Dim + 1}) t(d) GROUP BY 1, 2),
       |cent AS (
       |  SELECT label, list(CAST(s AS DOUBLE) ORDER BY dim) AS c_vec
       |  FROM csum GROUP BY label),
       |centn AS (SELECT label, c_vec, ${V.sqlNorm("c_vec", Dim)} AS c_nrm
       |          FROM cent),
       |da AS (
       |  SELECT d.vec_id, d.embedding, d.nrm, c.label, row_number() OVER (
       |    PARTITION BY d.vec_id ORDER BY
       |      ${V.sqlDot("d.embedding", "c.c_vec", Dim)} / (d.nrm * c.c_nrm) DESC,
       |      c.label) AS rnk
       |  FROM del d CROSS JOIN centn c),
       |idx AS (
       |  SELECT label, vec_id, embedding, nrm, 'store' AS src FROM stored
       |  UNION ALL
       |  SELECT label, vec_id, embedding, nrm, 'delta' FROM da WHERE rnk = 1),
       |p AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
       |      FROM stored WHERE ${sqlProbePred("vec_id")}),
       |a AS (
       |  SELECT p.q_id, p.q_emb, p.q_nrm, c.label, row_number() OVER (
       |    PARTITION BY p.q_id ORDER BY
       |      ${V.sqlDot("p.q_emb", "c.c_vec", Dim)} / (p.q_nrm * c.c_nrm) DESC,
       |      c.label) AS c_rank
       |  FROM p CROSS JOIN centn c),
       |s AS (
       |  SELECT a.q_id, i.vec_id AS n_id, i.src,
       |    ${FP.sqlNano(s"${V.sqlDot("a.q_emb", "i.embedding", Dim)} / (a.q_nrm * i.nrm)")} AS cos_n
       |  FROM a JOIN idx i ON i.label = a.label
       |  WHERE a.c_rank <= $NProbe AND i.vec_id <> a.q_id),
       |r AS (
       |  SELECT q_id, n_id, src, cos_n, row_number() OVER (
       |    PARTITION BY q_id ORDER BY cos_n DESC, n_id) AS rank
       |  FROM s)
       |SELECT q_id, rank, n_id, cos_n, src FROM r WHERE rank <= 3
       |ORDER BY 1, 2""".stripMargin

  // ---- q111: metadata-filtered ANN (pre-filter IVF) ----------------------
  // Vector search under a metadata predicate ("nearest ENGLISH documents")
  // — the retrieval shape every RAG / curation stack runs, with the two
  // design points a deployment gets wrong at its peril encoded:
  //  * PRE-filter, not post-filter: the predicate restricts the corpus
  //    BEFORE any distance is scored, so every probe still receives a
  //    full top-k from the eligible set. Post-filtering an unfiltered
  //    top-k silently returns FEWER than k for any selective predicate —
  //    FilteredAnnSpec measures the loss on this corpus (63% of
  //    neighbors gone at k=3 for a 44%-selective filter).
  //  * the INDEX is built once, filters vary per query: centroids and
  //    cell routing come from the FULL corpus (bit-identical to q44's),
  //    so one index serves every predicate; only the scored rows change.
  //    Filtering the centroids too would silently re-route probes.
  // The predicate lives on the documents table and reaches vectors by the
  // shared id — ONE join at index width (the in-session equivalent of
  // storing the column beside the vector in the at-rest VecStore, where
  // it becomes a scan-side parquet predicate). The filter itself pushes
  // into the documents scan (plan-pinned: PushedFilters carries the lang
  // equality), so the join's build side is already the eligible subset —
  // never probes × corpus, never a post-hoc filter above the ranking.
  private val FilterLang = "en"

  private def q111(s: SparkSession, d: String): DataFrame = {
    val full = vecs(s, d).select(
      col("label"), col("vec_id"),
      col("embedding").cast("array<double>").as("vec"))
    // index-build-time denormalization: eligible ids from the pushed-down
    // metadata predicate, joined once at index width
    val eligible = Tables.documents(s, d)
      .filter(col("lang") === FilterLang)
      .select(col("doc_id").as("vec_id"))
    val b = full.join(eligible, Seq("vec_id"))
      .transform(graft.operators.Joins.keyRepartition(_, col("label")))
      .select(col("label"), col("vec_id"), V.packVec(col("vec")).as("pv"),
        V.norm(col("vec")).as("nrm"))
    // centroids over the FULL corpus — one index for every predicate
    val cents = vecs(s, d)
      .groupBy(col("label"))
      .agg(Aggregates.weightedArrayMeanFP(Dim)(lit(1L), col("embedding"))
        .as("sums"))
      .select(col("label"),
        slice(col("sums"), 1, Dim).cast("array<double>").as("c_vec"))
      .select(col("label"), col("c_vec"), V.norm(col("c_vec")).as("c_nrm"))
    // probes are UNfiltered — a query vector need not satisfy the
    // predicate its results must; same fixed probe workload as the family
    val probes = full.filter(probePred(col("vec_id"))).select(
      col("vec_id").as("q_id"), V.packVec(col("vec")).as("q_pv"),
      col("vec").as("q_vec"), V.norm(col("vec")).as("q_nrm"))
    val wc = Window.partitionBy(col("q_id"))
      .orderBy(col("c_cos").desc, col("label"))
    val assigned = probes.crossJoin(broadcast(cents))
      .withColumn("c_cos",
        V.dotJvm(col("q_vec"), col("c_vec")) / (col("q_nrm") * col("c_nrm")))
      .withColumn("c_rank", row_number().over(wc))
      .filter(col("c_rank") <= NProbe)
      .select(col("label"), col("q_id"), col("q_pv"), col("q_nrm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_n").desc, col("vec_id"))
    b.join(assigned, Seq("label"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_n",
        FP.nano(V.dotPacked(col("q_pv"), col("pv")) / (col("q_nrm") * col("nrm"))))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("vec_id").as("n_id"), col("cos_n"))
      .orderBy("q_id", "rank")
  }

  private val q111Sql =
    s"""WITH b AS ($sqlBase),
       |bl AS (SELECT e.label, b.vec_id, b.embedding, b.nrm
       |       FROM b JOIN embeddings e ON e.vec_id = b.vec_id
       |       JOIN documents dd ON dd.doc_id = b.vec_id
       |       WHERE dd.lang = '$FilterLang'),
       |csum AS (
       |  SELECT label, d AS dim,
       |    sum(CAST(round(CAST(embedding[d] AS DOUBLE) * 1e9) AS BIGINT)) AS s
       |  FROM embeddings, range(1, ${Dim + 1}) t(d) GROUP BY 1, 2),
       |cent AS (
       |  SELECT label, list(CAST(s AS DOUBLE) ORDER BY dim) AS c_vec
       |  FROM csum GROUP BY label),
       |centn AS (SELECT label, c_vec, ${V.sqlNorm("c_vec", Dim)} AS c_nrm
       |          FROM cent),
       |p AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
       |      FROM b WHERE ${sqlProbePred("vec_id")}),
       |a AS (
       |  SELECT p.q_id, p.q_emb, p.q_nrm, c.label, row_number() OVER (
       |    PARTITION BY p.q_id ORDER BY
       |      ${V.sqlDot("p.q_emb", "c.c_vec", Dim)} / (p.q_nrm * c.c_nrm) DESC,
       |      c.label) AS c_rank
       |  FROM p CROSS JOIN centn c),
       |s AS (
       |  SELECT a.q_id, bl.vec_id AS n_id,
       |    ${FP.sqlNano(s"${V.sqlDot("a.q_emb", "bl.embedding", Dim)} / (a.q_nrm * bl.nrm)")} AS cos_n
       |  FROM a JOIN bl ON bl.label = a.label
       |  WHERE a.c_rank <= $NProbe AND bl.vec_id <> a.q_id),
       |r AS (
       |  SELECT q_id, n_id, cos_n, row_number() OVER (
       |    PARTITION BY q_id ORDER BY cos_n DESC, n_id) AS rank
       |  FROM s)
       |SELECT q_id, rank, n_id, cos_n FROM r WHERE rank <= 3
       |ORDER BY 1, 2""".stripMargin

  // ---- q113: MMR diversified top-k (greedy re-rank of the shortlist) -----
  // Retrieval DIVERSIFICATION (Carbonell & Goldstein's Maximal Marginal
  // Relevance, SIGIR 1998) — the step every RAG/curation retrieval stack
  // runs between ANN and the consumer: a raw cosine top-k happily returns
  // k near-duplicates of one best hit (this corpus's embedding clusters
  // make that the COMMON case, not an edge — MmrSpec measures it), so the
  // final answer is re-ranked for novelty. Greedy MMR over the verified
  // q40 brute-force shortlist (top-8 by relevance): step t selects
  //   argmax_c  7·rel(q,c) − 3·max_{s∈selected} sim(c,s)
  // with rel/sim the family's nano-rounded integer cosines — both terms
  // exact Longs, so every argmax and its (score desc, n_id) tie-break is
  // engine-total, and the whole greedy trajectory is oracle-verified.
  //
  // Scale shape: the ONLY corpus-scale work is the shortlist itself (the
  // q40 scan — swap in q44/q78's index at larger corpora; MMR only needs
  // SOME verified shortlist). Everything above it operates on
  // probes × 8 rows: K=4 greedy steps UNROLLED as dataframe stages —
  // the selected set at step t is ONE row per probe, so each stage is a
  // broadcast-joined narrow map over the shortlist, never a loop on the
  // driver and never a second corpus pass. The shortlist is materialized
  // ONCE per (session, corpus) as a localCheckpoint (the forwardIndex
  // memo discipline): stage t's plan contains the shortlist subtree
  // 2^(t-1) times, and ReuseExchange does NOT dedupe across the unrolled
  // branches — the un-checkpointed plan measured 30 parquet scans (15
  // corpus passes) for K=4. The checkpoint is BOUNDED by construction:
  // fixed probe workload × 8 rows. Pairwise sims are computed only
  // candidate × selected (8 × t per probe), never shortlist².
  private val MmrShort = 8
  private val MmrRelW = 7L // λ = 0.7, scaled ×10 to stay integral
  private val MmrDivW = 3L

  /** q113's checkpointed shortlist, one per (session, corpus) — see the
    * scale-shape note above. */
  private val mmrShortMemo = new SessionMemo[DataFrame]

  /** The near-dup family's checkpointed LSH band-id frame, per (session,
    * corpus#bits) — see nearDupPairsSplit. */
  private val vecBandMemo = new SessionMemo[DataFrame]

  /** q69's checkpointed PQ codes frame, per (session, corpus) — the
    * encode pass under frozen codebooks. */
  private val pqCodeMemo = new SessionMemo[DataFrame]

  /** The near-dup scoring model — (vec_id → packed vector, norm) held in
    * a Spark BROADCAST per (session, corpus): raw corpus payload, NOT a
    * trained model, so it ships once per executor instead of riding
    * every scoring task's closure as a ~corpus-sized HashMap (r15);
    * [[SessionMemo.reset]] destroys it. */
  private val pvModelMemo =
    new SessionMemo[org.apache.spark.broadcast.Broadcast[
      java.util.HashMap[Long, (Array[Byte], Double)]]]

  /** Attribution frames for the bench's scale10 stage (the q43cand/q43out
    * discipline extended to the whole rehearsal family): q41's deduped
    * multiprobe candidates, q43's LSH candidate pairs, q67's thresholded
    * near-dup edge set (the CC input — its candidate tier is q43's). */
  private[graft] val scale10Candidates
      : Map[String, (SparkSession, String) => DataFrame] = Map(
    "q41_ann_lsh" -> (annLshCandidates(_, _)),
    "q43_embedding_neardup" -> (nearDupCandidates(_, _)),
    "q67_semantic_clusters" -> (nearDupPairs(_, _)),
    "q122_ivf_ingest" -> (ivfIngestCandidates(_, _)))

  /** q122's scored probe-side fan-out — see [[ivfIngestScoredFrom]];
    * reads the SAME memoized index as q122 so the published candidate
    * count and the measured query can never bucket differently. */
  private def ivfIngestCandidates(s: SparkSession, d: String): DataFrame = {
    val (idx, assigned) = ivfIngestPartsFor(s, d)
    ivfIngestScoredFrom(idx, assigned)
  }

  /** The verified relevance shortlist (top-`n` per probe by nano-cosine,
    * with packed payloads), checkpointed once per (session, corpus, n) —
    * shared by q113's unrolled stages and q119's in-row kernel; see the
    * scale-shape note above. */
  private def mmrShortlist(s: SparkSession, d: String, n: Int): DataFrame =
    mmrShortMemo.getOrElseUpdate(s, s"$d#short$n") {
      val b = base(s, d)
      val probes = b.filter(probePred(col("vec_id"))).select(
        col("vec_id").as("q_id"), col("pv").as("q_pv"), col("nrm").as("q_nrm"))
      val ws = Window.partitionBy(col("q_id"))
        .orderBy(col("rel_n").desc, col("n_id"))
      b.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("rel_n",
          FP.nano(V.dotPacked(col("q_pv"), col("pv")) / (col("q_nrm") * col("nrm"))))
        .select(col("q_id"), col("vec_id").as("n_id"), col("rel_n"),
          col("pv"), col("nrm"))
        .withColumn("srank", row_number().over(ws))
        .filter(col("srank") <= n)
        .localCheckpoint()
    }

  private def q113(s: SparkSession, d: String): DataFrame = {
    val short = mmrShortlist(s, d, MmrShort)
    def simN(apv: Column, anrm: Column, bpv: Column, bnrm: Column): Column =
      FP.nano(V.dotPacked(apv, bpv) / (anrm * bnrm))
    // selected frames are one row per probe (probe workload is FIXED —
    // ids 0, 50, … 1950) → broadcast by construction at any corpus size
    def selected(c: DataFrame, t: Int): DataFrame =
      c.select(col("q_id"), col("n_id").as(s"s${t}_id"),
        col("pv").as(s"s${t}_pv"), col("nrm").as(s"s${t}_nrm"),
        col("score").as(s"s${t}_score"))
    val wm = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("n_id"))
    def argmax(c: DataFrame): DataFrame =
      c.withColumn("r", row_number().over(wm)).filter(col("r") === 1)
    // step 1: no diversity term yet — the pure-relevance winner
    val sel1 = selected(argmax(
      short.withColumn("score", col("rel_n") * MmrRelW)), 1)
    val c2 = short.join(broadcast(sel1), Seq("q_id"))
      .filter(col("n_id") =!= col("s1_id"))
      .withColumn("score", col("rel_n") * MmrRelW -
        simN(col("pv"), col("nrm"), col("s1_pv"), col("s1_nrm")) * MmrDivW)
    val sel2 = selected(argmax(c2), 2)
    val c3 = short.join(broadcast(sel1), Seq("q_id"))
      .join(broadcast(sel2), Seq("q_id"))
      .filter(col("n_id") =!= col("s1_id") && col("n_id") =!= col("s2_id"))
      .withColumn("score", col("rel_n") * MmrRelW - greatest(
        simN(col("pv"), col("nrm"), col("s1_pv"), col("s1_nrm")),
        simN(col("pv"), col("nrm"), col("s2_pv"), col("s2_nrm"))) * MmrDivW)
    val sel3 = selected(argmax(c3), 3)
    val c4 = short.join(broadcast(sel1), Seq("q_id"))
      .join(broadcast(sel2), Seq("q_id"))
      .join(broadcast(sel3), Seq("q_id"))
      .filter(col("n_id") =!= col("s1_id") && col("n_id") =!= col("s2_id") &&
        col("n_id") =!= col("s3_id"))
      .withColumn("score", col("rel_n") * MmrRelW - greatest(
        simN(col("pv"), col("nrm"), col("s1_pv"), col("s1_nrm")),
        simN(col("pv"), col("nrm"), col("s2_pv"), col("s2_nrm")),
        simN(col("pv"), col("nrm"), col("s3_pv"), col("s3_nrm"))) * MmrDivW)
    val sel4 = selected(argmax(c4), 4)
    def row(sel: DataFrame, t: Int): DataFrame =
      sel.select(col("q_id"), lit(t.toLong).as("mmr_rank"),
        col(s"s${t}_id").as("n_id"), col(s"s${t}_score").as("score"))
    row(sel1, 1).unionByName(row(sel2, 2))
      .unionByName(row(sel3, 3)).unionByName(row(sel4, 4))
      .orderBy("q_id", "mmr_rank")
  }

  private val q113Sql = {
    // candidate × selected sims, by joining the shortlist's embeddings
    def sim(c: String, e: String): String =
      FP.sqlNano(s"${V.sqlDot(s"$c.emb", s"$e.emb", Dim)} / ($c.nrm * $e.nrm)")
    s"""WITH b AS ($sqlBase),
       |p AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
       |      FROM b WHERE ${sqlProbePred("vec_id")}),
       |sc AS (
       |  SELECT p.q_id, b.vec_id AS n_id, b.embedding AS emb, b.nrm,
       |    ${FP.sqlNano(s"${V.sqlDot("p.q_emb", "b.embedding", Dim)} / (p.q_nrm * b.nrm)")} AS rel_n
       |  FROM b CROSS JOIN p WHERE b.vec_id <> p.q_id),
       |sh AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY q_id ORDER BY rel_n DESC, n_id) AS srank
       |  FROM sc QUALIFY srank <= $MmrShort),
       |s1 AS (SELECT q_id, n_id, emb, nrm, rel_n * $MmrRelW AS score
       |       FROM sh WHERE srank = 1),
       |c2 AS (
       |  SELECT s.q_id, s.n_id, s.emb, s.nrm,
       |    s.rel_n * $MmrRelW - ${sim("s", "e")} * $MmrDivW AS score,
       |    row_number() OVER (PARTITION BY s.q_id ORDER BY
       |      s.rel_n * $MmrRelW - ${sim("s", "e")} * $MmrDivW DESC,
       |      s.n_id) AS r
       |  FROM sh s JOIN s1 e ON e.q_id = s.q_id AND s.n_id <> e.n_id),
       |s2 AS (SELECT q_id, n_id, emb, nrm, score FROM c2 WHERE r = 1),
       |c3 AS (
       |  SELECT s.q_id, s.n_id, s.emb, s.nrm,
       |    s.rel_n * $MmrRelW
       |      - greatest(${sim("s", "e1")}, ${sim("s", "e2")}) * $MmrDivW
       |      AS score,
       |    row_number() OVER (PARTITION BY s.q_id ORDER BY
       |      s.rel_n * $MmrRelW
       |        - greatest(${sim("s", "e1")}, ${sim("s", "e2")}) * $MmrDivW
       |        DESC, s.n_id) AS r
       |  FROM sh s
       |  JOIN s1 e1 ON e1.q_id = s.q_id AND s.n_id <> e1.n_id
       |  JOIN s2 e2 ON e2.q_id = s.q_id AND s.n_id <> e2.n_id),
       |s3 AS (SELECT q_id, n_id, emb, nrm, score FROM c3 WHERE r = 1),
       |c4 AS (
       |  SELECT s.q_id, s.n_id,
       |    s.rel_n * $MmrRelW - greatest(${sim("s", "e1")},
       |      ${sim("s", "e2")}, ${sim("s", "e3")}) * $MmrDivW AS score,
       |    row_number() OVER (PARTITION BY s.q_id ORDER BY
       |      s.rel_n * $MmrRelW - greatest(${sim("s", "e1")},
       |        ${sim("s", "e2")}, ${sim("s", "e3")}) * $MmrDivW DESC,
       |      s.n_id) AS r
       |  FROM sh s
       |  JOIN s1 e1 ON e1.q_id = s.q_id AND s.n_id <> e1.n_id
       |  JOIN s2 e2 ON e2.q_id = s.q_id AND s.n_id <> e2.n_id
       |  JOIN s3 e3 ON e3.q_id = s.q_id AND s.n_id <> e3.n_id),
       |s4 AS (SELECT q_id, n_id, score FROM c4 WHERE r = 1)
       |SELECT q_id, CAST(1 AS BIGINT) AS mmr_rank, n_id, score FROM s1
       |UNION ALL
       |SELECT q_id, CAST(2 AS BIGINT), n_id, score FROM s2
       |UNION ALL
       |SELECT q_id, CAST(3 AS BIGINT), n_id, score FROM s3
       |UNION ALL
       |SELECT q_id, CAST(4 AS BIGINT), n_id, score FROM s4
       |ORDER BY 1, 2""".stripMargin
  }

  // ---- q119: MMR at K=8 via the grouped IN-ROW kernel --------------------
  // q113's unrolled dataframe stages double their plan subtree per step —
  // workable to K≈4, conceded unusable past K≈8 (SCALING.md). This is the
  // production form for larger K: the per-probe shortlist is packed into
  // ONE row (collect_list — bounded by construction: shortN rows × ~530 B
  // per probe, whatever the corpus size) and the whole greedy trajectory
  // runs inside a single kernel invocation (the interp-kernel
  // discipline: plan size O(1) in K, one exchange on q_id — ~40 groups —
  // total). Arithmetic is IDENTICAL to the unrolled form: the same
  // left-to-right packed dot, the same nano rounding, the same integer
  // score = rel_n·7 − maxSim·3 with (score desc, n_id) tie-break — so
  // kernel ≡ unrolled is assertable bit-for-bit (MmrSpec pins K=4
  // equality against q113) and the K=8 trajectory is oracle-verified by
  // the generated 8-stage unrolled SQL below. The kernel sorts its
  // collected items by (rel_n desc, n_id) FIRST: collect_list order is
  // partition-dependent, and determinism must come from the kernel, not
  // the shuffle.
  private val MmrKernShort = 16
  private val MmrKernK = 8

  /** Greedy MMR over a collect_list-packed shortlist, K steps in-row.
    * `short` must carry (q_id, n_id, rel_n, pv, nrm) — the
    * [[mmrShortlist]] shape. */
  private[graft] def mmrKernel(short: DataFrame, k: Int): DataFrame = {
    val kern = udf((items: Seq[(Long, Long, Array[Byte], Double)]) => {
      // deterministic candidate order regardless of arrival order
      val cand = items.sortBy { case (id, rel, _, _) => (-rel, id) }.toArray
      val n = cand.length
      def simN(a: Int, b: Int): Long = {
        val (_, _, pa, na) = cand(a)
        val (_, _, pb, nb) = cand(b)
        val ba = java.nio.ByteBuffer.wrap(pa)
        val bb = java.nio.ByteBuffer.wrap(pb)
        var acc = 0.0
        var i = 0
        val m = pa.length / 8
        while (i < m) { acc += ba.getDouble(8 * i) * bb.getDouble(8 * i); i += 1 }
        FP.roundHalfAway(acc / (na * nb) * 1e9)
      }
      val isSel = new Array[Boolean](n)
      // max sim against the selected set so far, maintained incrementally
      // (the unrolled form's greatest(...) without re-scanning selected)
      val maxSim = new Array[Long](n)
      java.util.Arrays.fill(maxSim, Long.MinValue)
      val out = Seq.newBuilder[(Long, Long, Long)]
      var t = 0
      val steps = math.min(k, n)
      while (t < steps) {
        var best = -1
        var bestScore = Long.MinValue
        var bestId = Long.MaxValue
        var i = 0
        while (i < n) {
          if (!isSel(i)) {
            val rel = cand(i)._2
            val sc =
              if (t == 0) rel * MmrRelW
              else rel * MmrRelW - maxSim(i) * MmrDivW
            if (sc > bestScore || (sc == bestScore && cand(i)._1 < bestId)) {
              best = i; bestScore = sc; bestId = cand(i)._1
            }
          }
          i += 1
        }
        isSel(best) = true
        out += (((t + 1).toLong, cand(best)._1, bestScore))
        var j = 0
        while (j < n) {
          if (!isSel(j)) {
            val sn = simN(j, best)
            if (sn > maxSim(j)) maxSim(j) = sn
          }
          j += 1
        }
        t += 1
      }
      out.result()
    })
    short.groupBy(col("q_id"))
      .agg(collect_list(struct(col("n_id"), col("rel_n"), col("pv"),
        col("nrm"))).as("cands"))
      .select(col("q_id"), explode(kern(col("cands"))).as("sel"))
      .select(col("q_id"), col("sel._1").as("mmr_rank"),
        col("sel._2").as("n_id"), col("sel._3").as("score"))
      .orderBy("q_id", "mmr_rank")
  }

  private def q119(s: SparkSession, d: String): DataFrame =
    mmrKernel(mmrShortlist(s, d, MmrKernShort), MmrKernK)

  /** Spec access to the shortlist builder: MmrSpec asserts
    * kernel(short-8, K=4) ≡ the unrolled q113 bit-for-bit. */
  private[graft] def mmrShortlistProbe(s: SparkSession, d: String, n: Int): DataFrame =
    mmrShortlist(s, d, n)

  /** Generated unrolled MMR oracle: K greedy stages over a top-`shortN`
    * shortlist, pairwise sims factored into ONE `sims` CTE (so stage t
    * joins t−1 selected CTEs and t−1 sim rows instead of recomputing the
    * 64-dim dot per stage) — the q113 oracle generalized to any K. */
  private def mmrUnrolledSql(k: Int, shortN: Int): String = {
    val sim = FP.sqlNano(
      s"${V.sqlDot("a.emb", "b.emb", Dim)} / (a.nrm * b.nrm)")
    val stages = (2 to k).map { t =>
      val joins = (1 until t).map(j =>
        s"  JOIN s$j e$j ON e$j.q_id = s.q_id AND s.n_id <> e$j.n_id\n" +
          s"  JOIN sims x$j ON x$j.q_id = s.q_id AND x$j.i = s.n_id AND x$j.j = e$j.n_id")
        .mkString("\n")
      val g =
        if (t == 2) "x1.s"
        else (1 until t).map(j => s"x$j.s").mkString("greatest(", ", ", ")")
      val score = s"s.rel_n * $MmrRelW - $g * $MmrDivW"
      s"""c$t AS (
         |  SELECT s.q_id, s.n_id, $score AS score,
         |    row_number() OVER (PARTITION BY s.q_id
         |      ORDER BY $score DESC, s.n_id) AS r
         |  FROM sh s
         |$joins),
         |s$t AS (SELECT q_id, n_id, score FROM c$t WHERE r = 1)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to k).map(t =>
      s"SELECT q_id, CAST($t AS BIGINT) AS mmr_rank, n_id, score FROM s$t")
      .mkString("\nUNION ALL\n")
    s"""WITH b AS ($sqlBase),
       |p AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
       |      FROM b WHERE ${sqlProbePred("vec_id")}),
       |sc AS (
       |  SELECT p.q_id, b.vec_id AS n_id, b.embedding AS emb, b.nrm,
       |    ${FP.sqlNano(s"${V.sqlDot("p.q_emb", "b.embedding", Dim)} / (p.q_nrm * b.nrm)")} AS rel_n
       |  FROM b CROSS JOIN p WHERE b.vec_id <> p.q_id),
       |sh AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY q_id ORDER BY rel_n DESC, n_id) AS srank
       |  FROM sc QUALIFY srank <= $shortN),
       |sims AS (
       |  SELECT a.q_id, a.n_id AS i, b.n_id AS j, $sim AS s
       |  FROM sh a JOIN sh b ON b.q_id = a.q_id AND b.n_id <> a.n_id),
       |s1 AS (SELECT q_id, n_id, rel_n * $MmrRelW AS score
       |       FROM sh WHERE srank = 1),
       |$stages
       |$unions
       |ORDER BY 1, 2""".stripMargin
  }

  private val q119Sql = mmrUnrolledSql(MmrKernK, MmrKernShort)

  // ---- q45: IVF with TRAINED coarse cells (deterministic k-means) --------
  // q44's "future work" closed: instead of borrowing the label column as
  // cells, the coarse quantizer is trained — distributed Lloyd's with
  // deterministic init and fixed-point updates (operators/KMeans.scala),
  // so the whole index (and its golden fixture) is bit-reproducible under
  // any parallelism. Query shape is identical to q44: broadcast centroid
  // table, probes rank cells, only nProbe cells are scored.
  private val KCells = 8
  private val KmIters = 4

  /** Land the IVF-partitioned [[graft.sources.VecStore]] for corpus `d`
    * with the SAME trained quantizer q45 uses (the k-means fit is
    * deterministic — fixed init, fixed-point sums — so the stored cells
    * are bit-identical to q45's in-query assignment). Point
    * `spark.graft.vecStore = "<d>=<path>"` at the result and q45's corpus
    * scan prunes to the probed cells (dynamic partition pruning on the
    * cell directory key) instead of reading everything. */
  def landVecStore(s: SparkSession, d: String, path: String): Unit = {
    val corpus = vecs(s, d).select(col("vec_id"), col("embedding"))
    val model = memoModel(s, d, "ivf")(
      KMeans.fit(corpus, "vec_id", "embedding", Dim, KCells, KmIters))
    graft.sources.VecStore.savePartitioned(corpus, model, path)
    // PQ sidecar beside the vectors (VERDICT r8 task 5): q78's verified
    // construction — the one-ingest cost that lets every later session
    // search 8 B codes without re-encoding or re-fitting
    val (coarse, books, codes) = ivfPqBuild(s, d)
    graft.sources.VecStore.savePqSidecar(s, codes, coarse, books, path)
  }

  private def q45(s: SparkSession, d: String): DataFrame = {
    val corpus = vecs(s, d).select(col("vec_id"), col("embedding"))
    // the MODEL is needed either way (query-time probe→cell routing):
    // read back from the store's _ivfmodel sidecar when one is wired
    // (doubles round-trip parquet bit-exactly, so the loaded model IS
    // the fitted one — a fresh session runs zero Lloyd iterations),
    // else fitted and memoized per (session, dir#tag) like every driver
    // model
    val storePath = graft.sources.Stores.boundTo(s, "spark.graft.vecStore", d)
      .filter(graft.sources.VecStore.storeExists(s, _))
    // the sidecar load is NOT memoized: a KB-scale parquet read per
    // invocation is nothing, and a memo keyed on the path would serve a
    // STALE model after a same-session re-train + re-land at the same
    // path (the rebalance flow the store docs recommend) — probes would
    // route by old centroids against new cell assignments
    val model = storePath
      .filter(p => graft.sources.VecStore.hasIvfModel(s, p))
      .map(p => graft.sources.VecStore.loadIvfModel(s, p))
      .getOrElse(memoModel(s, d, "ivf")(
        KMeans.fit(corpus, "vec_id", "embedding", Dim, KCells, KmIters)))
    val norms = model.map(c => math.sqrt(c.map(x => x * x).sum))
    import s.implicits._
    val cents = model.zipWithIndex
      .map { case (c, i) => (i, c.toSeq, norms(i)) }.toSeq
      .toDF("cell", "c_vec", "c_nrm")
    // At-rest fast path (the TermStore/DocStore/AtlasStore discipline):
    // the cell-partitioned store already carries the assignment, and the
    // cell join below prunes its SCAN to the probed directories —
    // VecStoreSpec pins parity + pruning on this registered query.
    val withCells = storePath match {
      case Some(path) =>
        graft.sources.VecStore.load(s, path)
          .select(col("cell"), col("vec_id"), col("embedding"))
      case None => KMeans.withCell(corpus, model, "embedding")
        .transform(graft.operators.Joins.keyRepartition(_, col("cell")))
    }
    val b = withCells
      .withColumn("vec", col("embedding").cast("array<double>"))
      .select(col("cell"), col("vec_id"), V.packVec(col("vec")).as("pv"),
        col("vec"), V.norm(col("vec")).as("nrm"))
    val probes = b.filter(probePred(col("vec_id"))).select(
      col("vec_id").as("q_id"), col("pv").as("q_pv"),
      col("vec").as("q_vec"), col("nrm").as("q_nrm"))
    val wc = Window.partitionBy(col("q_id"))
      .orderBy(col("c_cos").desc, col("cell"))
    val assigned = probes.crossJoin(broadcast(cents))
      .withColumn("c_cos",
        V.dotJvm(col("q_vec"), col("c_vec")) / (col("q_nrm") * col("c_nrm")))
      .withColumn("c_rank", row_number().over(wc))
      .filter(col("c_rank") <= NProbe)
      .select(col("cell"), col("q_id"), col("q_pv"), col("q_nrm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_n").desc, col("vec_id"))
    b.join(assigned, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_n",
        FP.nano(V.dotPacked(col("q_pv"), col("pv")) / (col("q_nrm") * col("nrm"))))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("vec_id").as("n_id"), col("cos_n"))
      .orderBy("q_id", "rank")
  }

  // ---- q46: int8 scalar-quantized kNN ------------------------------------
  // The memory-scale path for brute-force search: per-dimension min/max
  // scalar quantization to 8 bits shrinks the resident corpus 8x (64 B vs
  // 512 B per vector) at a small recall cost. The (min, max) model is a
  // 64-row exact aggregate collected once (order-independent); search runs
  // on the DEQUANTIZED values with the q40 broadcast-probe shape, and the
  // oracle reproduces the quantize→dequantize arithmetic bit-for-bit, so
  // this verifies the quantization kernel itself, not just the search.
  private def q46(s: SparkSession, d: String): DataFrame = {
    val emb = vecs(s, d)
    // the (min, max) scalar-quantizer model memoized per (dir, tag) —
    // the threshMemo/modelMemo discipline (r15): a 64-row exact
    // aggregate, deterministic, the quantizer a deployment fits once
    // per ingest; re-collecting it per invocation cost one full corpus
    // aggregation job each run
    val mm = memoModel(s, d, "sq-minmax")(
      emb.select(posexplode(col("embedding")).as(Seq("dpos", "x")))
        .groupBy(col("dpos")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
        .collect().map(r => (r.getInt(0), r.getFloat(1).toDouble,
          r.getFloat(2).toDouble)).sortBy(_._1))
    val mins = mm.map(_._2)
    val maxs = mm.map(_._3)
    val dequant = udf((v: Seq[Float]) => {
      val out = new Array[Double](Dim)
      var i = 0
      while (i < Dim) {
        val mn = mins(i)
        val mx = maxs(i)
        out(i) =
          if (mx > mn) {
            val qq = FP.roundHalfAway((v(i).toDouble - mn) * 254.0 / (mx - mn))
            mn + qq * (mx - mn) / 254.0
          } else mn
        i += 1
      }
      out.toSeq
    })
    val b = emb.select(col("vec_id"), col("embedding"))
      .transform(graft.operators.Joins.keyRepartition(_, col("vec_id")))
      .withColumn("dqv", dequant(col("embedding")))
      .select(col("vec_id"), V.packVec(col("dqv")).as("pv"),
        V.norm(col("dqv")).as("nrm"))
    val probes = b.filter(probePred(col("vec_id"))).select(
      col("vec_id").as("q_id"), col("pv").as("q_pv"), col("nrm").as("q_nrm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_n").desc, col("vec_id"))
    b.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_n",
        FP.nano(V.dotPacked(col("q_pv"), col("pv")) / (col("q_nrm") * col("nrm"))))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("vec_id").as("n_id"), col("cos_n"))
      .orderBy("q_id", "rank")
  }

  private val q46Sql = {
    val x = "CAST(e.embedding[m.d] AS DOUBLE)"
    val dq = s"CASE WHEN m.mx > m.mn THEN m.mn + " +
      s"CAST(round(($x - m.mn) * 254.0 / (m.mx - m.mn)) AS BIGINT) * " +
      s"(m.mx - m.mn) / 254.0 ELSE m.mn END"
    s"""WITH mm AS (
       |  SELECT d, CAST(min(embedding[d]) AS DOUBLE) AS mn,
       |    CAST(max(embedding[d]) AS DOUBLE) AS mx
       |  FROM embeddings, range(1, ${Dim + 1}) t(d) GROUP BY 1),
       |dq AS (
       |  SELECT e.vec_id, list($dq ORDER BY m.d) AS dqv
       |  FROM embeddings e CROSS JOIN mm m GROUP BY e.vec_id),
       |b AS (SELECT vec_id, dqv, ${V.sqlNorm("dqv", Dim)} AS nrm FROM dq),
       |p AS (SELECT vec_id AS q_id, dqv AS q_dqv, nrm AS q_nrm
       |      FROM b WHERE ${sqlProbePred("vec_id")}),
       |s AS (
       |  SELECT p.q_id, b.vec_id AS n_id,
       |    ${FP.sqlNano(s"${V.sqlDot("p.q_dqv", "b.dqv", Dim)} / (p.q_nrm * b.nrm)")} AS cos_n
       |  FROM b CROSS JOIN p WHERE b.vec_id <> p.q_id),
       |r AS (
       |  SELECT q_id, n_id, cos_n, row_number() OVER (
       |    PARTITION BY q_id ORDER BY cos_n DESC, n_id) AS rank
       |  FROM s)
       |SELECT q_id, rank, n_id, cos_n FROM r WHERE rank <= 3
       |ORDER BY 1, 2""".stripMargin
  }

  // ---- q69: product-quantization ANN (asymmetric distance) ---------------
  // THE memory-scale ANN path beyond q46's scalar quantization: each
  // vector compresses to M=8 codebook bytes (32x smaller than the f32
  // corpus; 64x vs the 512 B double-packed vectors q40 actually
  // scores), and the CORPUS-WIDE pass never decompresses — each probe
  // precomputes its M×K table of subspace distances ‖q_sub − c‖² once,
  // and a corpus row scores as EIGHT table lookups (ADC, Jégou et al.
  // 2011, the layout IVF-PQ systems build on); only the probes×50
  // shortlist is then reread at full width for the exact rerank
  // ([[rerankExact]]). Codebooks are per-subspace L2 k-means with the
  // engine's determinism discipline (id-stride init, ties to lowest
  // cell, fixed-point updates — KMeans.fitPq trains all 8 jointly, one
  // job per Lloyd iteration), so the index and its golden fixture are
  // bit-reproducible under any parallelism. The exact-reconstruction
  // identity (ADC score ≡ ‖q − decode(code)‖²) is asserted in KMeansSpec.
  // Measured on the sf0.001 corpus: recall@5 vs exact L2 = 0.98 (q69)
  // and 0.78 (q78, bounded by coarse-cell recall at nProbe=4 of 8), vs ~0.35 code-only.
  //
  // Scale shape: training scans the (persisted) corpus iters times and
  // moves only m×k buffers per partition; encode is a narrow map under
  // broadcast codebooks; search is the q40 broadcast-probe shape — the
  // corpus is never shuffled, and carries 8 B/row where q40 carries 512 B.
  // At 100 TB you would train on a deterministic hash-sample (the same
  // vec_id % S predicate q48 pins scan-side) — here the corpus IS the
  // sample.
  private val PqM = 8
  private val PqSubDim = Dim / PqM
  private val PqK = 64
  private val PqIters = 4
  private val PqShortlist = 100 // ADC candidates per probe before exact rerank

  /** Exact-rerank stage shared by q69/q78 — the production PQ pattern:
    * the 8-byte codes produce a SHORTLIST (cheap, corpus-wide), and only
    * shortlist rows are scored exactly. Within-cluster neighbors sit at
    * noise-scale distances no 8-byte code can rank (measured recall@5
    * ~0.35 code-only on this corpus), while ADC@100 recall is near-total —
    * reranking 100 rows per probe recovers exact-search quality for free
    * at corpus scale: the candidate set is probes × 100 rows, broadcast
    * back against the corpus, so full vectors are only ever read for
    * candidates. Output distance is the EXACT ‖q − v‖² (micro-rounded). */
  private def rerankExact(emb: DataFrame, shortlist: DataFrame): DataFrame = {
    val l2 = udf((a: Seq[Float], b: Seq[Float]) => {
      var dsum = 0.0
      var i = 0
      while (i < Dim) {
        val x = a(i).toDouble - b(i).toDouble
        dsum += x * x
        i += 1
      }
      dsum
    })
    val probeVecs = emb.filter(probePred(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("d2_u"), col("vec_id"))
    emb.join(broadcast(shortlist), Seq("vec_id"))
      .join(broadcast(probeVecs), Seq("q_id"))
      .withColumn("d2_u", FP.micro(l2(col("q_emb"), col("embedding"))))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("vec_id").as("n_id"), col("d2_u"))
      .orderBy("q_id", "rank")
  }

  private def q69(s: SparkSession, d: String): DataFrame = {
    val emb = vecs(s, d).select(col("vec_id"), col("embedding"))
    val cb = memoModel(s, d, "pq")(
      KMeans.fitPq(emb, "vec_id", "embedding", PqM, PqSubDim, PqK, PqIters))
    val encode = udf((v: Seq[Float]) => {
      val code = new Array[Byte](PqM)
      var m = 0
      while (m < PqM) {
        val off = m * PqSubDim
        val sub = new Array[Double](PqSubDim)
        var i = 0
        while (i < PqSubDim) { sub(i) = v(off + i).toDouble; i += 1 }
        code(m) = KMeans.nearestCellL2(cb(m), sub).toByte
        m += 1
      }
      code
    })
    // per-probe ADC table, packed: double ‖q_sub − c‖² at offset m·K + j
    val tableUdf = udf((v: Seq[Float]) => {
      val bbuf = java.nio.ByteBuffer.allocate(8 * PqM * PqK)
      var m = 0
      while (m < PqM) {
        val off = m * PqSubDim
        var j = 0
        while (j < PqK) {
          val cent = cb(m)(j)
          var dsum = 0.0
          var i = 0
          while (i < PqSubDim) {
            val x = v(off + i).toDouble - cent(i)
            dsum += x * x
            i += 1
          }
          bbuf.putDouble(8 * (m * PqK + j), dsum)
          j += 1
        }
        m += 1
      }
      bbuf.array()
    })
    val adc = udf((code: Array[Byte], tab: Array[Byte]) => {
      val bbuf = java.nio.ByteBuffer.wrap(tab)
      var sum = 0.0
      var m = 0
      while (m < PqM) {
        sum += bbuf.getDouble(8 * (m * PqK + (code(m) & 0xFF)))
        m += 1
      }
      sum
    })
    // the CODES frame checkpointed per (session, corpus) — r15, closing
    // the r14 "not yet optimized" item: the codebook was memoized but the
    // per-vector encode (8 nearest-centroid searches per row) re-ran per
    // invocation, ~half of q69's wall. 8 B + id per row, orders smaller
    // than the vectors it encodes; the VecStore PQ sidecar is the at-rest
    // twin (q78 measures it). Invalidated at the bench's state barriers
    // like every session memo.
    val b = pqCodeMemo.getOrElseUpdate(s, s"$d#pq")(
      graft.operators.Joins.keyRepartition(emb, col("vec_id"))
        .select(col("vec_id"), encode(col("embedding")).as("code"))
        .localCheckpoint())
    val probes = emb.filter(probePred(col("vec_id")))
      .select(col("vec_id").as("q_id"), tableUdf(col("embedding")).as("q_tab"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adist_u"), col("vec_id"))
    val shortlist = b.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adist_u", FP.micro(adc(col("code"), col("q_tab"))))
      .withColumn("cand_rank", row_number().over(w))
      .filter(col("cand_rank") <= PqShortlist)
      .select(col("q_id"), col("vec_id"))
    rerankExact(emb, shortlist)
  }

  // ---- q78: IVF-PQ — coarse cells + PQ on RESIDUALS (the FAISS layout) ---
  // The two index structures composed the way billion-vector systems
  // deploy them: an L2 coarse quantizer prunes the search to nProbe
  // cells, and within a cell vectors are PQ codes of the RESIDUAL
  // v − coarse(cell) — residuals concentrate near zero, so the same few
  // codewords per subspace (PqK) quantize far more finely than on raw vectors.
  // ADC tables are per (probe, probed cell): the table is built on
  // q − coarse(cell), 8×PqK doubles each, nProbe of them per probe.
  //
  // Everything reuses the verified pieces: the coarse quantizer is
  // KMeans.fitPq with ONE subspace (= plain L2 k-means), the residual
  // codebooks are fitPq over the residual frame, assignment is the one
  // shared nearestCellL2 kernel. Scale shape: corpus carries
  // (cell: int, code: 8 B); probes broadcast with their per-cell tables;
  // the cell equi-join prunes scoring to nProbe/k of the corpus (with
  // the VecStore partitioned layout, to nProbe/k of the FILES).
  private val IvfPqCells = 8
  private val IvfPqNProbe = 4

  /** (vec_id, cell, resid) under a FROZEN coarse quantizer — the
    * residual half of the IVF-PQ encoding, shared by the corpus build
    * and the per-ingest delta encode so the two cannot drift.
    * `reshuffle` spreads the UDF work for the corpus-build path; the
    * delta path passes false (a sync-sized batch needs no exchange
    * before a row-wise encode). */
  private def residFrame(emb: DataFrame, coarse: Array[Array[Double]],
                         reshuffle: Boolean = true): DataFrame = {
    val residUdf = udf((v: Seq[Float]) => {
      val sub = new Array[Double](Dim)
      var i = 0
      while (i < Dim) { sub(i) = v(i).toDouble; i += 1 }
      val cell = KMeans.nearestCellL2(coarse, sub)
      val cent = coarse(cell)
      val r = new Array[Double](Dim)
      i = 0
      while (i < Dim) { r(i) = sub(i) - cent(i); i += 1 }
      (cell, r)
    })
    (if (reshuffle) graft.operators.Joins.keyRepartition(emb, col("vec_id")) else emb)
      .withColumn("cr", residUdf(col("embedding")))
      .select(col("vec_id"), col("cr._1").as("cell"), col("cr._2").as("resid"))
  }

  /** (vec_id, cell, code) from residuals under FROZEN codebooks — the
    * other shared half. */
  private def encodeResid(resid: DataFrame,
                          books: Array[Array[Array[Double]]]): DataFrame = {
    val encode = udf((r: Seq[Double]) => {
      val code = new Array[Byte](PqM)
      var m = 0
      while (m < PqM) {
        val off = m * PqSubDim
        val sub = new Array[Double](PqSubDim)
        var i = 0
        while (i < PqSubDim) { sub(i) = r(off + i); i += 1 }
        code(m) = KMeans.nearestCellL2(books(m), sub).toByte
        m += 1
      }
      code
    })
    resid.select(col("vec_id"), col("cell"), encode(col("resid")).as("code"))
  }

  /** Encode an arbitrary (vec_id, embedding) frame with FROZEN
    * quantizers — the per-ingest delta encode (q122's rule applied to
    * the PQ sidecar). */
  private[graft] def pqEncodeFrozen(emb: DataFrame,
      coarse: Array[Array[Double]],
      books: Array[Array[Array[Double]]]): DataFrame =
    encodeResid(residFrame(emb, coarse, reshuffle = false), books)

  /** THE IVF-PQ construction — (coarse quantizer, residual codebooks,
    * codes frame (vec_id, cell, code)) — shared by q78's in-query cold
    * path and [[landVecStore]]'s sidecar landing, so at-rest codes can
    * never drift from the verified encoding. */
  private def ivfPqBuild(s: SparkSession, d: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]], DataFrame) = {
    val emb = vecs(s, d).select(col("vec_id"), col("embedding"))
    // coarse quantizer: fitPq with one subspace == deterministic L2 Lloyd
    val coarse = memoModel(s, d, "ivfpq-coarse")(
      KMeans.fitPq(emb, "vec_id", "embedding", 1, Dim, IvfPqCells, PqIters))(0)
    val resid = residFrame(emb, coarse)
    // PQ codebooks on the residuals (float-exactness does not hold for
    // residuals, so fitPq's float cast quantizes at ~1e-7 relative —
    // uniform across partitionings, still bit-deterministic)
    val books = memoModel(s, d, "ivfpq-books")(
      KMeans.fitPq(resid, "vec_id", "resid", PqM, PqSubDim, PqK, PqIters))
    (coarse, books, encodeResid(resid, books))
  }

  /** Per-ingest increment for the vector store: the delta is routed into
    * the cell-partitioned vectors by the caller's frozen IVF model, and
    * — when the store carries the PQ sidecar — encoded with the FROZEN
    * coarse quantizer + residual codebooks read back from `_pqmodel` and
    * appended into `_pqcodes`. Without the codes append a delta vector
    * would be silently INVISIBLE to the at-rest IVF-PQ search (q78 reads
    * only the codes), which is the failure mode this method exists to
    * prevent; StoreAppendSpec pins codes parity and searchability. */
  def appendVecStore(s: SparkSession, embsBatch: DataFrame, path: String,
                     ivfModel: Option[Array[Array[Double]]] = None): Unit = {
    val model = ivfModel.getOrElse {
      require(graft.sources.VecStore.hasIvfModel(s, path),
        s"$path carries no _ivfmodel sidecar and no model was given")
      graft.sources.VecStore.loadIvfModel(s, path)
    }
    // projected to the store's exact schema (a batch carrying extra
    // ingest columns or double-typed vectors would otherwise land files
    // whose footer fights the store's on every later scan), and
    // checkpointed so the two appends read ONE materialization of
    // whatever pipeline produced the batch
    val batch = embsBatch
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .localCheckpoint()
    // codes FIRST, vectors second: the two appends are not atomic (the
    // lakehouse table formats' transactional commit is the production
    // answer). With this order a failure in between leaves orphan CODES
    // — harmless to q45 (scans vectors) and dropped by q78's exact
    // rerank join (no vector row to rerank against) — where the reverse
    // order leaves vectors silently INVISIBLE to q78, an undetectable
    // wrong answer. A half-applied sync must not be blindly re-run
    // (either half would duplicate): recover by anti-joining the batch
    // against the store's AND the sidecar's vec_ids first, re-appending
    // only what each half is missing.
    if (graft.sources.VecStore.hasPqSidecar(s, path)) {
      val (coarse, books) = graft.sources.VecStore.loadPqModel(s, path)
      pqEncodeFrozen(batch, coarse, books)
        .write.mode("append").partitionBy("cell").parquet(s"$path/_pqcodes")
    }
    graft.sources.VecStore.appendPartitioned(batch, model, path)
    graft.operators.Graph.release(batch)
  }

  private def q78(s: SparkSession, d: String): DataFrame = {
    val emb = vecs(s, d).select(col("vec_id"), col("embedding"))
    // At-rest fast path (the TermStore/DocStore conf discipline): when
    // spark.graft.vecStore points at a store carrying the PQ sidecar,
    // the corpus-scale work — the residual+encode pass over every vector
    // AND both quantizer trainings (fitPq scans the corpus iters times)
    // — is read back instead of recomputed: the 8 B/row codes come off a
    // cell-partitioned scan (pruned to probed cells like the vectors),
    // the KB-sized model collects once per (session, store). Results are
    // bit-identical either way (deterministic fits; doubles round-trip
    // parquet exactly) — VecStoreSpec pins parity + plan on this
    // registered query.
    val stored = graft.sources.Stores.boundTo(s, "spark.graft.vecStore", d)
      .filter(graft.sources.VecStore.hasPqSidecar(s, _))
    val (coarse, books, b) = stored match {
      case Some(p) =>
        val (c, bks) = memoModel(s, d, s"ivfpq-model@$p")(
          graft.sources.VecStore.loadPqModel(s, p))
        (c, bks, graft.sources.VecStore.loadPqCodes(s, p)
          .select(col("vec_id"), col("cell"), col("code")))
      case None =>
        // store-less path: the CODES frame checkpointed per (session,
        // corpus) — the q69 discipline (r15): quantizers were memoized
        // but the residual + encode pass re-ran over every vector per
        // invocation; 12 B/row, the _pqcodes sidecar's in-session twin
        val (c, bks, codes) = ivfPqBuild(s, d)
        (c, bks, pqCodeMemo.getOrElseUpdate(s, s"$d#ivfpq")(
          codes.localCheckpoint()))
    }
    // probes: nProbe nearest coarse cells by L2, one packed ADC table per
    // probed cell built on q − coarse(cell)
    val probeUdf = udf((v: Seq[Float]) => {
      val q = new Array[Double](Dim)
      var i = 0
      while (i < Dim) { q(i) = v(i).toDouble; i += 1 }
      val byDist = coarse.indices.map { c =>
        val cent = coarse(c)
        var dsum = 0.0
        var k = 0
        while (k < Dim) { val x = q(k) - cent(k); dsum += x * x; k += 1 }
        (dsum, c)
      }.sorted // (dist, cell): ties to the lowest cell
      byDist.take(IvfPqNProbe).map { case (_, c) =>
        val cent = coarse(c)
        val bbuf = java.nio.ByteBuffer.allocate(8 * PqM * PqK)
        var m = 0
        while (m < PqM) {
          val off = m * PqSubDim
          var j = 0
          while (j < PqK) {
            val cw = books(m)(j)
            var dsum = 0.0
            var i2 = 0
            while (i2 < PqSubDim) {
              val x = (q(off + i2) - cent(off + i2)) - cw(i2)
              dsum += x * x
              i2 += 1
            }
            bbuf.putDouble(8 * (m * PqK + j), dsum)
            j += 1
          }
          m += 1
        }
        (c, bbuf.array())
      }
    })
    val adc = udf((code: Array[Byte], tab: Array[Byte]) => {
      val bbuf = java.nio.ByteBuffer.wrap(tab)
      var sum = 0.0
      var m = 0
      while (m < PqM) {
        sum += bbuf.getDouble(8 * (m * PqK + (code(m) & 0xFF)))
        m += 1
      }
      sum
    })
    val probes = emb.filter(probePred(col("vec_id")))
      .select(col("vec_id").as("q_id"),
        explode(probeUdf(col("embedding"))).as("ct"))
      .select(col("q_id"), col("ct._1").as("cell"), col("ct._2").as("q_tab"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adist_u"), col("vec_id"))
    val shortlist = b.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adist_u", FP.micro(adc(col("code"), col("q_tab"))))
      .withColumn("cand_rank", row_number().over(w))
      .filter(col("cand_rank") <= PqShortlist)
      .select(col("q_id"), col("vec_id"))
    rerankExact(emb, shortlist)
  }

  // ---- q87: semantic decontamination (eval-set cosine containment) -------
  // The embedding-space twin of q57's n-gram decontamination: flag corpus
  // vectors whose cosine against ANY held-out eval vector reaches the
  // contamination threshold — paraphrased benchmark leakage that shares no
  // shingles but sits next to the eval set in embedding space. The eval
  // set plays a fixed-size benchmark suite, and its driver collect is
  // bounded by CONSTRUCTION, not by hope: the predicate keeps at most
  // SemEvalMax rows (id % mod = 0 AND id < mod·max — a pure scan-side
  // filter both engines push down) — O(benchmark) collected bytes at ANY
  // corpus size. (A bare modulus would collect corpus/25 rows — a driver
  // OOM at 100×; the cap already binds at the sf0.01 gate, so the oracle
  // verifies the bounded split itself.) The model ships to executors
  // inside the scoring kernel's closure — the corpus pass is ONE narrow
  // map with no join, no shuffle, and no window, and the per-(corpus,
  // eval) cosines are rounded to nano-units BEFORE the threshold test and
  // max, so the flag can't flip on the last float bit between engines.
  private val SemEvalMod = 25
  private val SemEvalMax = 10L // fixed benchmark size; binds at sf0.01+
  private val SemThreshNano = 300000000L // cosine ≥ 0.30

  /** The eval-set membership predicate — shared by the collect and the
    * corpus complement so no vector can fall in both or neither. */
  private def semEvalPred: Column =
    col("vec_id") % SemEvalMod === 0 && col("vec_id") < SemEvalMod * SemEvalMax

  private def q87(s: SparkSession, d: String): DataFrame = {
    val emb = vecs(s, d).select(col("vec_id"), col("embedding"))
    val eval = emb.filter(semEvalPred)
      .collect().map(_.getSeq[Float](1).toArray)
      // id order is irrelevant (max/count are order-free) but a fixed
      // order keeps the collected model bit-stable across runs anyway
      .map(v => v.map(_.toDouble))
    // no eval set ⇒ no (corpus, eval) cosines ⇒ ZERO rows — exactly the
    // oracle's corp CROSS JOIN ev with an empty ev. Without this the max
    // over an empty loop would publish a Long.MinValue sentinel per
    // corpus row: garbage, and an engine divergence (a corpus whose ids
    // all sit past the fixed eval-id range is realistic — id-shifted
    // replicas, partitioned id spaces)
    if (eval.isEmpty)
      return emb.filter(lit(false))
        .select(col("vec_id"), lit(0L).as("max_cos_n"), lit(0L).as("n_hits"))
    val evalNorms = eval.map { v =>
      var ss = 0.0; var i = 0
      while (i < Dim) { ss += v(i) * v(i); i += 1 }
      math.sqrt(ss)
    }
    val score = udf((vf: Seq[Float]) => {
      val q = new Array[Double](Dim)
      var i = 0
      while (i < Dim) { q(i) = vf(i).toDouble; i += 1 }
      var ss = 0.0
      i = 0
      while (i < Dim) { ss += q(i) * q(i); i += 1 }
      val qn = math.sqrt(ss)
      var maxN = Long.MinValue
      var hits = 0L
      var e = 0
      while (e < eval.length) {
        val ev = eval(e)
        var dot = 0.0
        i = 0
        while (i < Dim) { dot += q(i) * ev(i); i += 1 }
        val cosN = FP.roundHalfAway(dot / (qn * evalNorms(e)) * 1e9)
        if (cosN >= SemThreshNano) hits += 1
        if (cosN > maxN) maxN = cosN
        e += 1
      }
      (maxN, hits)
    })
    emb.filter(!semEvalPred)
      .withColumn("r", score(col("embedding")))
      .select(col("vec_id"), col("r._1").as("max_cos_n"),
        col("r._2").as("n_hits"))
      .orderBy("vec_id")
  }

  private val q87Sql = {
    val cos = s"${V.sqlDot("c.embedding", "e.e_emb", Dim)} / " +
      s"(${V.sqlNorm("c.embedding", Dim)} * ${V.sqlNorm("e.e_emb", Dim)})"
    s"""WITH ev AS (
       |  SELECT vec_id AS e_id, embedding AS e_emb FROM embeddings
       |  WHERE vec_id % $SemEvalMod = 0 AND vec_id < ${SemEvalMod * SemEvalMax}),
       |corp AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE NOT (vec_id % $SemEvalMod = 0 AND vec_id < ${SemEvalMod * SemEvalMax})),
       |s AS (
       |  SELECT c.vec_id, ${FP.sqlNano(cos)} AS cos_n
       |  FROM corp c CROSS JOIN ev e)
       |SELECT vec_id, max(cos_n) AS max_cos_n,
       |  CAST(sum(CASE WHEN cos_n >= $SemThreshNano THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_hits
       |FROM s GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- q106: ANN recall evaluation (index-quality harness) ---------------
  // The metric every ANN deployment tunes against: per-probe recall@k of
  // the approximate index vs exact brute force. Both arms are the
  // already-verified queries (q40 ground truth, q44 IVF), so this is a
  // composition — two small ranked frames joined on (probe, neighbor),
  // integer per-mille recall. A real pipeline runs exactly this after
  // every index build to pick nProbe/cells; at corpus scale the ground
  // truth comes from the same bounded probe subset, so the evaluation
  // cost is probes × corpus, never corpus².
  private def q106(s: SparkSession, d: String): DataFrame = {
    val brute = q40(s, d).filter(col("rank") <= 3)
      .select(col("q_id"), col("n_id"))
    val ivf = q44(s, d).select(col("q_id"), col("n_id")).withColumn("hit", lit(1L))
    brute.join(ivf, Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("recall_pm", expr("(n_hit * 1000) div n_true"))
      .orderBy("q_id")
  }

  private val q106Sql =
    s"""WITH brute AS (
       |  SELECT q_id, n_id FROM ($q40Sql) b WHERE rank <= 3),
       |ivf AS (SELECT q_id, n_id FROM ($q44Sql) v)
       |SELECT b.q_id, count(*) AS n_true,
       |  CAST(sum(CASE WHEN i.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_hit,
       |  (CAST(sum(CASE WHEN i.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    * 1000) // count(*) AS recall_pm
       |FROM brute b LEFT JOIN ivf i ON b.q_id = i.q_id AND b.n_id = i.n_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q107: PCA-reduced ANN (candidate generation + exact rerank) -------
  // What q99's projection is FOR in a search stack: score candidates in
  // the 16-dim PCA space (4× fewer multiplies per pair than full width;
  // OPQ's pre-rotation idea without the codebooks), keep a top-50
  // shortlist per probe, then rerank ONLY the shortlist with the exact
  // full-width cosine — the same shortlist-rerank contract as q69/q78.
  // The reduced-space scores are integer dots of µ-unit components
  // (exact, total order), so candidates — and the fixture built on the
  // result — are bit-reproducible at any parallelism. q107 keeps the
  // adaptive fit default (driver path at test scale), complementing
  // q99's pinned distributed path: both Pca.fit branches carry a
  // driver-gated oracle row.
  private val PcaAnnK = 16 // wider than q99's 8: the candidate generator
  private val PcaShortlist = 50 // needs recall, the summary needs compression

  /** Compiled integer dot over two equal-length Long arrays — exact
    * (integer ops, order-free), null-in → null-out like the HOF spec it
    * replaces (`aggregate(zip_with(a,b,_*_), 0L, _+_)`). ONE stable
    * instance so q107 plans stay `sameResult` across builds. */
  private val Q107Idot: (Column, Column) => Column = {
    val u = udf((a: Seq[Long], b: Seq[Long]) =>
      if (a == null || b == null) null
      else {
        var acc = 0L
        var i = 0
        val n = a.length
        while (i < n) { acc += a(i) * b(i); i += 1 }
        java.lang.Long.valueOf(acc)
      })
    u(_, _)
  }

  private def q107(s: SparkSession, d: String): DataFrame = {
    val emb = vecs(s, d).select(col("vec_id"), col("embedding"))
    val model = memoModel(s, d, "pca")(Pca.fit(emb, "embedding", Dim))
    // compiled twin of the integer reduced-space dot (the dotJvm
    // discipline): exact Long arithmetic, any order identical — the HOF
    // form evaluated interpreted per element, ×3 per crossJoin pair
    val idot = Q107Idot
    val red = Pca.project(emb, model, "embedding", PcaAnnK)
      .select(col("vec_id"), col("pc"))
      // self-dot hoisted out of the pair fan-out (r14): it is a per-ROW
      // property, and the crossJoin was re-deriving it per (probe, row)
      .withColumn("pn2", idot(col("pc"), col("pc")))
    val probesR = red.filter(probePred(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("pc").as("q_pc"),
        col("pn2").as("qn2"))
    val wS = Window.partitionBy(col("q_id"))
      .orderBy(col("rcos_n").desc, col("vec_id"))
    val shortlist = red.crossJoin(broadcast(probesR))
      .filter(col("vec_id") =!= col("q_id"))
      // reduced-space cosine from exact integer dots; nullif keeps an
      // all-zero projection (a vector at the mean) from dividing by zero
      .withColumn("rcos_n", FP.nano(idot(col("q_pc"), col("pc")).cast("double") /
        nullif(sqrt(col("qn2").cast("double")) *
          sqrt(col("pn2").cast("double")), lit(0.0))))
      .withColumn("srank", row_number().over(wS))
      .filter(col("srank") <= PcaShortlist)
      .select(col("q_id"), col("vec_id"))
    val b = base(s, d)
    val probesF = b.filter(probePred(col("vec_id"))).select(
      col("vec_id").as("q_id"), col("pv").as("q_pv"), col("nrm").as("q_nrm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_n").desc, col("vec_id"))
    shortlist
      .join(b, Seq("vec_id"))
      .join(broadcast(probesF), Seq("q_id"))
      .withColumn("cos_n",
        FP.nano(V.dotPacked(col("q_pv"), col("pv")) / (col("q_nrm") * col("nrm"))))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("vec_id").as("n_id"), col("cos_n"))
      .orderBy("q_id", "rank")
  }

  // ---- q99: PCA projection (embedding whitening / compression) -----------
  // The pre-rotation pass an ANN pipeline runs before indexing (FAISS
  // OPQ/PCA): one narrow aggregation reduces the corpus to a single packed
  // co-moment buffer per partition (operators/Pca.scala), the d×d
  // eigensolve happens on the driver, and the projection is a per-row map
  // against the broadcast components. Everything up to the eigensolve is
  // exact integer arithmetic, so the model — and the golden fixture built
  // on it — is bit-reproducible under any parallelism.
  private val PcaK = 8

  private def q99(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    // fast path PINNED OFF (the q38 discipline): at test scale every
    // corpus fits the driver cap, so without the pin the driver gate
    // would never exercise the distributed co-moment aggregation — the
    // branch a 100 TB fit runs. PcaSpec asserts the two paths are
    // bit-identical, so the fixture stays valid for both.
    val model = memoModel(s, d, "pca-pinned")(
      Pca.fit(emb, "embedding", Dim, allowDriverFastPath = false))
    Pca.project(emb, model, "embedding", PcaK)
      .select(col("vec_id"), posexplode(col("pc")).as(Seq("comp", "val_u")))
      .select(col("vec_id"), col("comp").cast(LongType).as("comp"),
        col("val_u"))
      .orderBy("vec_id", "comp")
  }

  def defs: Map[String, QueryDef] = Map(
    "q99_pca_project" -> QueryDef(q99, Some(FixtureOracle.sql("q99_pca_project"))),
    "q106_ann_recall" -> QueryDef(q106, Some(q106Sql)),
    "q107_pca_ann" -> QueryDef(q107, Some(FixtureOracle.sql("q107_pca_ann"))),
    "q69_pq_ann" -> QueryDef(q69, Some(FixtureOracle.sql("q69_pq_ann"))),
    "q87_semantic_decontam" -> QueryDef(q87, Some(q87Sql)),
    "q78_ivfpq_ann" -> QueryDef(q78, Some(FixtureOracle.sql("q78_ivfpq_ann"))),
    "q40_knn_bruteforce" -> QueryDef(q40, Some(q40Sql)),
    "q41_ann_lsh" -> QueryDef(q41, Some(q41Sql)),
    "q42_label_centroid" -> QueryDef(q42, Some(q42Sql)),
    "q43_embedding_neardup" -> QueryDef(q43, Some(q43Sql)),
    "q67_semantic_clusters" -> QueryDef(q67, Some(q67Sql)),
    "q44_ann_ivf" -> QueryDef(q44, Some(q44Sql)),
    "q122_ivf_ingest" -> QueryDef(q122, Some(q122Sql)),
    "q111_filtered_ann" -> QueryDef(q111, Some(q111Sql)),
    "q113_mmr_rerank" -> QueryDef(q113, Some(q113Sql)),
    "q119_mmr_kernel" -> QueryDef(q119, Some(q119Sql)),
    "q45_ann_ivf_kmeans" ->
      QueryDef(q45, Some(FixtureOracle.sql("q45_ann_ivf_kmeans"))),
    "q46_quantized_knn" -> QueryDef(q46, Some(q46Sql)))
}
