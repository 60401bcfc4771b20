package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.FP
import graft.multimodal.Media
import graft.streaming.EventStreams

/** Streaming-consistent event analytics (run here in batch; the identical
  * transformations run under Structured Streaming in StreamingSpec) and the
  * multimodal binary-column pipeline.
  */
object StreamMultimodalQueries extends QueryModule {

  // ---- q80: tumbling-window event stats (streaming-shared code) ----------
  private def q80(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .withColumn("value", FP.micro(col("value"))) // long µ-units → exact sums
    EventStreams.windowedStats(ev, "1 hour")
      .select(unix_micros(col("window_start")).as("window_us"),
        col("event_type"), col("n_events"), col("sum_value").as("sum_value_u"))
      .orderBy("window_us", "event_type")
  }

  private val q80Sql =
    s"""SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_us,
       | event_type, count(*) AS n_events,
       | CAST(sum(${FP.sqlMicro("value")}) AS BIGINT) AS sum_value_u
       |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- q81: per-user activity state (streaming-shared code) --------------
  private def q81(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .withColumn("value", FP.micro(col("value")))
    EventStreams.userActivity(ev)
      .select(col("user_id"), col("n_events"),
        unix_micros(col("last_seen")).as("last_seen_us"),
        col("total_value").as("total_value_u"))
      .orderBy("user_id")
  }

  private val q81Sql =
    s"""SELECT user_id, count(*) AS n_events,
       | max(epoch_us(ts)) AS last_seen_us,
       | CAST(sum(${FP.sqlMicro("value")}) AS BIGINT) AS total_value_u
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q82: gap-based sessionization (custom streaming state) ------------
  // Batch window-function form here (oracle-checkable); StreamingSpec
  // asserts the flatMapGroupsWithState variant over a MemoryStream emits
  // the SAME sessions — custom state with bounded size per user.
  private val SessionGapUs = 30L * 60 * 1000000 // 30 min

  private def q82(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).withColumn("value", FP.micro(col("value")))
    EventStreams.sessionizeBatch(ev, SessionGapUs)
      .orderBy("user_id", "sess_id")
  }

  private val q82Sql =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS t_us, ${FP.sqlMicro("value")} AS v
       |  FROM events),
       |m AS (
       |  SELECT user_id, t_us, v,
       |    CASE WHEN lag(t_us) OVER w IS NULL
       |           OR t_us - lag(t_us) OVER w > $SessionGapUs
       |         THEN 1 ELSE 0 END AS ns
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t_us)),
       |s AS (
       |  SELECT user_id, t_us, v, sum(ns) OVER (
       |    PARTITION BY user_id ORDER BY t_us ROWS UNBOUNDED PRECEDING) AS sess_id
       |  FROM m)
       |SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id,
       |  min(t_us) AS session_start_us,
       |  max(t_us) AS session_end_us, count(*) AS n_events,
       |  CAST(sum(v) AS BIGINT) AS total_value_u
       |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- q84: streaming exact dedup (first-seen + duplicate counts) --------
  // Batch form of EventStreams.dedupFirstSeen (StreamingSpec asserts the
  // MemoryStream run converges to this): content fingerprint via the
  // native codegen char hash, first-seen event time, duplicate count —
  // the ingest-side dedup whose streaming state is one row per DISTINCT
  // fingerprint.
  private def q84(s: SparkSession, d: String): DataFrame =
    EventStreams.dedupFirstSeen(Tables.events(s, d)).orderBy("fp")

  private val q84Sql =
    s"""SELECT ${graft.functions.TextFns.sqlCharHash(
           "event_type || ':' || COALESCE(props, '')")} AS fp,
       | min(epoch_us(ts)) AS first_seen_us, count(*) AS n_dups
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q85: interval join (purchase ← preceding clicks) ------------------
  // Batch form of EventStreams.purchaseClickJoin — the attribution join:
  // every (purchase, click-by-same-user-within-the-preceding-window)
  // pair. Under streaming the SAME transformation is a watermarked
  // stream-stream interval join whose buffered state Spark bounds by the
  // window (StreamingSpec asserts MemoryStream ≡ batch). In batch the
  // time bound makes it a range join; the (user_id, time-band) keys are
  // the scale story — never an unbounded cross of the two sides.
  private val AttributionWindowUs = 30L * 60 * 1000000 // 30 min

  private def q85(s: SparkSession, d: String): DataFrame =
    EventStreams.purchaseClickJoin(Tables.events(s, d), AttributionWindowUs)
      .orderBy("user_id", "purchase_id", "click_id")

  private val q85Sql =
    s"""SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
       |  epoch_us(p.ts) AS p_us, epoch_us(c.ts) AS c_us
       |FROM events p JOIN events c
       |  ON p.user_id = c.user_id
       | AND p.event_type = 'purchase' AND c.event_type = 'click'
       | AND epoch_us(c.ts) <= epoch_us(p.ts)
       | AND epoch_us(c.ts) >= epoch_us(p.ts) - $AttributionWindowUs
       |ORDER BY 1, 2, 3""".stripMargin

  // ---- q105: naive band theta-join, optimized by BandJoinRewrite ---------
  // q53's discipline applied to TIME: the query is written the way a user
  // would write it — crossJoin + |Δt| ≤ window filter, no keys at all
  // (burst correlation across ALL users, so q85's user_id equi-key cannot
  // help) — and relies on the Catalyst rule (graft.plans.BandJoinRewrite)
  // to turn the O(purchases × clicks) nested loop into a ⌊t/window⌋-binned
  // equi-join with a ±1-bin fan-out. The PlanSpec sweep proves no
  // CartesianProduct survives; the DuckDB oracle runs the same naive join
  // (its own optimizer handles the inequality via IEJoin), proving the
  // rewritten plan computes exactly the naive semantics. All arithmetic is
  // integral, so the oracle is exact.
  private val BandUs = 60L * 1000000 // ±1 minute

  private def q105(s: SparkSession, d: String): DataFrame = {
    graft.plans.BandJoinRewrite.ensure(s)
    val ev = Tables.events(s, d)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), unix_micros(col("ts")).as("p_us"))
    val c = ev.filter(col("event_type") === "click")
      .select(unix_micros(col("ts")).as("c_us"))
    p.crossJoin(c)
      .filter(abs(col("p_us") - col("c_us")) <= lit(BandUs))
      .groupBy(col("purchase_id"))
      .agg(count(lit(1)).as("n_nearby_clicks"),
        min(abs(col("c_us") - col("p_us"))).as("closest_us"))
      .orderBy("purchase_id")
  }

  private val q105Sql =
    s"""WITH p AS (
       |  SELECT event_id AS purchase_id, epoch_us(ts) AS p_us
       |  FROM events WHERE event_type = 'purchase'),
       |c AS (SELECT epoch_us(ts) AS c_us FROM events WHERE event_type = 'click')
       |SELECT purchase_id, count(*) AS n_nearby_clicks,
       |  min(abs(c_us - p_us)) AS closest_us
       |FROM p, c WHERE abs(p_us - c_us) <= $BandUs
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q90: multimodal binary columns + per-partition decode -------------
  private def q90(s: SparkSession, d: String): DataFrame = {
    val media = Tables.documents(s, d).select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("media"),
      struct(lit("text/plain").as("kind"), lit(0).as("width"),
        lit(0).as("height")).as("media_meta"))
    Media.decodeFeatures(media)
      .select(col("doc_id"), col("n_bytes").cast("long").as("n_bytes"),
        col("checksum"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"))
      .orderBy("doc_id")
  }

  // ASCII text ⇒ byte sum == codepoint sum; fake dims mirror the stub
  private val q90Sql =
    """WITH f AS (
      |  SELECT doc_id, octet_length(encode(text)) AS n_bytes,
      |    list_sum(list_transform(string_split(text, ''),
      |      c -> CAST(ascii(c) AS BIGINT))) AS checksum
      |  FROM documents)
      |SELECT doc_id, n_bytes, CAST(checksum AS BIGINT) AS checksum,
      |  CAST(16 + checksum % 16 AS BIGINT) AS width,
      |  CAST(16 + (checksum // 16) % 16 AS BIGINT) AS height
      |FROM f ORDER BY 1""".stripMargin

  // ---- q91: frame sampling (1 media row → n frame-feature rows) ----------
  private val NFrames = 4

  private def q91(s: SparkSession, d: String): DataFrame = {
    val media = Tables.documents(s, d).select(
      col("doc_id"), encode(col("text"), "UTF-8").as("media"))
    Media.frameSample(media, NFrames).orderBy("doc_id", "frame_idx")
  }

  // ASCII text ⇒ substring char arithmetic mirrors byte slicing
  private val q91Sql =
    s"""WITH f AS (SELECT doc_id, text, length(text) AS n FROM documents),
       |fr AS (
       |  SELECT doc_id, i AS frame_idx,
       |    CASE WHEN i < ${NFrames - 1} THEN n // $NFrames
       |         ELSE n - ${NFrames - 1} * (n // $NFrames) END AS n_bytes,
       |    COALESCE(list_sum(list_transform(
       |      string_split(substring(text, CAST(1 + i * (n // $NFrames) AS INT),
       |        CAST(CASE WHEN i < ${NFrames - 1} THEN n // $NFrames
       |             ELSE n - ${NFrames - 1} * (n // $NFrames) END AS INT)), ''),
       |      c -> CAST(ascii(c) AS BIGINT))), 0) AS checksum
       |  FROM f, range(0, $NFrames) t(i))
       |SELECT doc_id, frame_idx, CAST(n_bytes AS BIGINT) AS n_bytes,
       |  CAST(checksum AS BIGINT) AS checksum
       |FROM fr ORDER BY 1, 2""".stripMargin

  // ---- q92: resize (2x byte downsample through the decoder plumbing) -----
  private def q92(s: SparkSession, d: String): DataFrame = {
    val media = Tables.documents(s, d).select(
      col("doc_id"), encode(col("text"), "UTF-8").as("media"))
    Media.resize(media).orderBy("doc_id")
  }

  private val q92Sql =
    """SELECT doc_id, CAST(length(text) AS BIGINT) AS orig_bytes,
      |  CAST((length(text) + 1) // 2 AS BIGINT) AS resized_bytes,
      |  CAST(COALESCE(list_sum(list_transform(range(1, length(text) + 1, 2),
      |    i -> CAST(ascii(substring(text, CAST(i AS INT), 1)) AS BIGINT))), 0)
      |    AS BIGINT) AS checksum
      |FROM documents ORDER BY 1""".stripMargin

  // ---- q93: REAL image decode (netpbm P5) --------------------------------
  // The payload is a genuine binary PGM file synthesized per document
  // (header with a comment line + raw pixel bytes); the Spark side
  // round-trips it through the real parser (Media.PgmDecoder) and emits
  // true dimensions, total luminance, and a 4×4 nearest-neighbor
  // thumbnail signature. The oracle recomputes ground truth from the
  // generator's arithmetic — so a parser that misreads the header, skips
  // comments wrong, or indexes pixels off-by-one cannot match.
  private def q93(s: SparkSession, d: String): DataFrame = {
    val enc = udf((id: Long) => {
      val w = (8 + id % 9).toInt
      val h = (8 + id % 7).toInt
      Media.encodePgm(w, h, i => ((i.toLong * 31 + id) % 256).toInt)
    })
    val media = Tables.documents(s, d)
      .select(col("doc_id"), enc(col("doc_id")).as("media"))
    Media.imageFeatures(media).orderBy("doc_id")
  }

  private val q93Sql =
    """WITH dims AS (
      |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
      |  FROM documents)
      |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |  CAST(list_sum(list_transform(range(0, w * h),
      |    i -> (i * 31 + doc_id) % 256)) AS BIGINT) AS luma_sum,
      |  CAST(list_sum(list_transform(range(0, 16),
      |    t -> ((((t // 4) * h) // 4 * w + ((t % 4) * w) // 4) * 31 + doc_id)
      |           % 256 * (t + 1))) AS BIGINT) AS thumb_sum
      |FROM dims ORDER BY 1""".stripMargin

  // ---- q94: REAL audio decode (RIFF/WAVE PCM16) --------------------------
  // Genuine WAV payloads (RIFF container with a LIST chunk before fmt, so
  // the parser must walk chunks by declared size, not assume a fixed
  // layout); the oracle recomputes ground truth from the sample
  // generator's arithmetic. Sample i of doc d: ((i*7 + d*13) % 4096) −
  // 2048 — spans negative and positive amplitudes, so sum_abs and peak
  // catch sign-extension mistakes in the 16-bit decode.
  private def q94(s: SparkSession, d: String): DataFrame = {
    val enc = udf((id: Long) => {
      val n = (100 + id % 97).toInt
      Media.encodeWav(16000, i => (((i.toLong * 7 + id * 13) % 4096) - 2048).toInt, n)
    })
    val media = Tables.documents(s, d)
      .select(col("doc_id"), enc(col("doc_id")).as("media"))
    Media.audioFeatures(media).orderBy("doc_id")
  }

  private val q94Sql =
    """WITH d AS (SELECT doc_id, 100 + doc_id % 97 AS n FROM documents)
      |SELECT doc_id, CAST(16000 AS BIGINT) AS sample_rate,
      |  CAST(n AS BIGINT) AS n_samples,
      |  CAST(list_sum(list_transform(range(0, n),
      |    i -> abs((i * 7 + doc_id * 13) % 4096 - 2048))) AS BIGINT) AS sum_abs,
      |  CAST(list_max(list_transform(range(0, n),
      |    i -> abs((i * 7 + doc_id * 13) % 4096 - 2048))) AS BIGINT) AS peak
      |FROM d ORDER BY 1""".stripMargin

  // ---- q117: perceptual-hash IMAGE dedup (multimodal near-dup) -----------
  // Dedup extended to the binary media column: the corpus carries the
  // SAME image re-exposed at different brightness (scanner/exposure
  // drift, re-encodes — the multimodal analog of q34's near-dup text),
  // and a byte-exact hash (q30's md5 discipline) sees every copy as
  // unique. The average-hash (aHash) groups them: decode through the
  // REAL PGM parser, 8×8 nearest-neighbor downsample, threshold each
  // cell against the cells' integer mean — brightness shifts move cells
  // and mean together, so the 64-bit signature is invariant
  // (Media.imagePHash; PHashSpec measures the md5-vs-phash delta).
  // Dedup is then q30's shape on the hash: ONE groupBy on (ph_hi,
  // ph_lo), smallest doc_id canonical.
  //
  // Fixture: each document synthesizes a genuine binary PGM whose
  // pixels are group-patterned arithmetic plus a PER-DOC brightness
  // offset (group g = doc_id % 25 fixes pattern and dimensions; delta =
  // (doc_id div 25) % 40 ≤ 39 and base pixels < 200, so no 255 clamp
  // ever breaks the invariance). The oracle recomputes the hash from
  // the generator's arithmetic — a decoder that misindexes the
  // downsample, floors the mean differently, or packs bits off-by-one
  // cannot match.
  //
  // Scale shape: decode + hash is a narrow decoder-init-once map
  // (Tungsten rows, as q90 pins); the dedup groupBy shuffles 16 bytes
  // of hash per image — O(images), never pairwise.
  /** q117's fixture corpus — the exact-dedup images (a DIFFERENT corpus
    * than the near-dup tiers' [[neardupImageMedia]]: group-patterned
    * pixels plus per-doc brightness drift), named so the at-rest landing
    * and the in-session path share one definition. */
  private def exactImageMedia(s: SparkSession, d: String): DataFrame = {
    val enc = udf((id: Long) => {
      val g = (id % 25).toInt
      val delta = ((id / 25) % 40).toInt
      val w = 8 + g % 9
      val h = 8 + g % 7
      Media.encodePgm(w, h, i => (i * 31 + g * 17) % 200 + delta)
    })
    Tables.documents(s, d)
      .select(col("doc_id"), enc(col("doc_id")).as("media"))
  }

  private def q117(s: SparkSession, d: String): DataFrame = {
    // at-rest fast path (suffix `imgx`): the exact tier's fixture models
    // a different corpus than the near-dup tiers', so it lands as its
    // own table through the same MediaStore discipline
    val ph = mediaStoreTable(s, d, "imgx")
      .getOrElse(Media.imagePHash(exactImageMedia(s, d)))
    // ONE hash-partitioned window, not groupBy + self-join back onto ph:
    // the self-join's probe side re-runs the whole encode+decode+hash
    // subtree (a second full decode pass per invocation — and broadcast
    // of the tiny grouped side defeats exchange reuse); the window keeps
    // the decode single-pass with the same (min doc_id per hash) result
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ph_hi"), col("ph_lo"))
    ph.withColumn("dup_of", min(col("doc_id")).over(w))
      .select(col("doc_id"), col("ph_hi"), col("ph_lo"), col("dup_of"),
        (col("dup_of") < col("doc_id")).as("is_dup"))
      .orderBy("doc_id")
  }

  private val q117Sql =
    """WITH d2 AS (
      |  SELECT doc_id, doc_id % 25 AS g, (doc_id // 25) % 40 AS delta,
      |    8 + (doc_id % 25) % 9 AS w, 8 + (doc_id % 25) % 7 AS h
      |  FROM documents),
      |cells AS (
      |  SELECT doc_id, t,
      |    ((((t // 8) * h) // 8 * w + ((t % 8) * w) // 8) * 31 + g * 17)
      |      % 200 + delta AS c
      |  FROM d2, range(0, 64) r(t)),
      |m AS (SELECT doc_id, CAST(sum(c) AS BIGINT) // 64 AS mean
      |      FROM cells GROUP BY 1),
      |ph AS (
      |  SELECT c.doc_id,
      |    CAST(sum(CASE WHEN c.c > m.mean AND c.t >= 32
      |      THEN 1::BIGINT << (c.t - 32) ELSE 0 END) AS BIGINT) AS ph_hi,
      |    CAST(sum(CASE WHEN c.c > m.mean AND c.t < 32
      |      THEN 1::BIGINT << c.t ELSE 0 END) AS BIGINT) AS ph_lo
      |  FROM cells c JOIN m ON m.doc_id = c.doc_id
      |  GROUP BY 1),
      |f AS (SELECT ph_hi, ph_lo, min(doc_id) AS dup_of FROM ph GROUP BY 1, 2)
      |SELECT p.doc_id, p.ph_hi, p.ph_lo, f.dup_of, f.dup_of < p.doc_id AS is_dup
      |FROM ph p JOIN f ON f.ph_hi = p.ph_hi AND f.ph_lo = p.ph_lo
      |ORDER BY 1""".stripMargin

  // ---- q118: Hamming-tolerant image near-dup (phash chunk LSH) -----------
  // q117's exact-hash grouping misses images whose CONTENT drifted a
  // little (a changed region, a recompressed block): their aHash differs
  // in a few bits, not zero. This is q35's SimHash discipline applied to
  // the image hash — split the 64 bits into 4×16-bit chunks; by
  // pigeonhole, Hamming distance ≤ 3 guarantees at least one chunk is
  // IDENTICAL, so candidates come from a chunk equi-join (never
  // pairwise) and only candidates pay the exact popcount check. Each doc
  // resolves to the smallest doc_id within Hamming ≤ 3 (q101's
  // first-seen rule).
  //
  // Fixture: bimodal pixels (40/160 — every cell sits ~60 levels from
  // the mean, so small mean drift can never flip an unperturbed bit) in
  // a per-group pattern; replica r INVERTS the sampled pixel of
  // exactly r%4 chosen cells (those bits flip — deterministically, by
  // the margin argument) and adds a brightness offset (invariant, as
  // q117 pins). So Hamming(replica, its group base) = r%4 ∈ {0..3} BY
  // CONSTRUCTION: every replica links to its base through the chunk
  // join, exact dedup would keep the perturbed ones (PHashSpec measures
  // the delta), and the oracle recomputes every flip from the same
  // arithmetic.
  //
  // Scale shape: decode+hash is the q117 narrow map; the join is
  // O(images × 4) chunk rows equi-joined on 16-bit buckets — the chunk
  // WIDTH is the density trade (narrower chunks → fewer candidates per
  // bucket, lower guaranteed tolerance), exactly the q35 trade. The
  // 4×16 split is hard-wired in BOTH engine and oracle below — changing
  // it means changing the two forms together (and re-deriving PHamMax's
  // pigeonhole bound: tolerance ≤ chunks − 1). Popcount runs on
  // candidates only.
  private val PHamMax = 3

  /** Scale-adaptive group modulus of the near-dup media fixtures: group
    * count grows with the corpus so CLUSTER SIZE stays ~20 docs at any
    * scale — a fixed 25 groups made cluster size (and the candidate
    * join's output) grow linearly with corpus rows, which turned the
    * scale10 rehearsal quadratic through the FIXTURE, not the plan.
    * Real corpora behave like this too: more documents means more
    * distinct works, not ever-larger duplicate families. 25 at the
    * 500-doc gate corpora (unchanged structure), 250 at sf0.1, 2500 at
    * the 10× rehearsal. */
  private def mediaGroupModulus(s: SparkSession, d: String): Long = {
    val row = Tables.documents(s, d).agg(max(col("doc_id"))).head
    val maxId = if (row.isNullAt(0)) 0L else row.getLong(0) // empty corpus → 25
    math.max(25L, (maxId + 1) / 20)
  }

  /** Bimodal base pixel of the near-dup fixtures: 40 or 160 keyed on
    * (pixel, pattern key) through a squared MINSTD mix mod the Mersenne
    * prime 2^31−1. The SQUARE matters: any linear-in-key form collapses
    * at scale (a fixed 25-group multiplicative mix mod 53 had only 53
    * patterns; a linear phase walk has ≤ 2·64). Measured over the
    * sampled 8×8 cells: gate scale (25 keys) min inter-pattern Hamming
    * 20, sf0.1 (250 keys) min 10 — both above the 9-bit worst case two
    * 3-bit-perturbed replicas could bridge — and at 2500 keys only
    * 0.002% of pairs sit ≤ 9 (bounded extra candidates, never
    * quadratic). All arithmetic stays below 2^63 (z < 2^31, z² < 2^62),
    * so the DuckDB oracle reproduces it exactly in BIGINT. */
  private[graft] def bimodalBase(key: Long, i: Long): Int = {
    val P = 2147483647L
    val z = ((key + 1) * 48271L % P) * (i + 1) % P
    if (z * z % P < 1073741823L) 40 else 160
  }

  /** The SQL twin of [[bimodalBase]] — spliced into every fixture oracle
    * so the two engines' generators cannot drift. */
  private def bimodalBaseSql(key: String, i: String): String =
    s"""CASE WHEN (($key + 1) * 48271 % 2147483647) * ($i + 1) % 2147483647
       |      * ((($key + 1) * 48271 % 2147483647) * ($i + 1) % 2147483647)
       |      % 2147483647 < 1073741823 THEN 40 ELSE 160 END""".stripMargin

  /** The q118/q120 fixture: per-document genuine binary PGMs where
    * replica r of a pattern group perturbs exactly r%4 hash cells and
    * adds a brightness offset — see the q118 note below. Shared so the
    * batch near-dup, the bucket-summary twin and their oracles all hash
    * the same images. Group count scales with the corpus
    * ([[mediaGroupModulus]]); patterns come from [[bimodalBase]]. */
  private def neardupImageMedia(s: SparkSession, d: String): DataFrame = {
    val m = mediaGroupModulus(s, d)
    val enc = udf((id: Long) => {
      val g = id % m
      val r = ((id / m) % 20).toInt
      val delta = r // ≤ 19: max pixel 160 + 19 = 179, far from the 255 clamp
      val nPert = r % 4
      val pert = (0 until nPert)
        .map(j => (r * 17 + j * 29) % 64)
        .map(t => 32 * (t / 8) + 2 * (t % 8)).toSet
      Media.encodePgm(16, 16, { i =>
        val base = bimodalBase(g, i.toLong)
        val v = if (pert(i)) 200 - base else base // 40 ↔ 160 inversion
        v + delta
      })
    })
    Tables.documents(s, d)
      .select(col("doc_id"), enc(col("doc_id")).as("media"))
  }

  /** The at-rest MediaStore hash table for corpus `d` and modality
    * `suffix`, if this session points one at it:
    * `spark.graft.mediaStore = "<corpusDir>=<tablePrefix>"`
    * (MediaStoreSpec pins result parity and that the store path plans
    * NO decode). */
  private def mediaStoreTable(s: SparkSession, d: String,
                              suffix: String): Option[DataFrame] =
    graft.sources.Stores.boundTo(s, "spark.graft.mediaStore", d)
      .map(prefix => s"${prefix}_$suffix")
      .filter(s.catalog.tableExists(_))
      .map(s.table(_))

  /** Image perceptual hashes for q118/q120: the at-rest store when the
    * session points at one — plain bucketed scans, ZERO session state
    * and no barrier (the TermStore lesson: each consumer subtree plans
    * its own column-pruned scan and the bucket layout already carries
    * the doc_id clustering) — else decode + hash, behind the
    * one-exchange barrier when more than one subtree will consume it
    * (the q35 discipline: without it each plan reference re-runs the
    * whole synthesize+decode+hash subtree — measured 3 decode passes). */
  private def imageHashes(s: SparkSession, d: String,
                          barrier: Boolean): DataFrame =
    mediaStoreTable(s, d, "img").getOrElse {
      val ph = Media.imagePHash(neardupImageMedia(s, d))
      if (barrier) graft.operators.Joins.keyRepartition(ph, col("doc_id")) else ph
    }

  /** Audio envelope hashes for q123/q124 — the audio twin of
    * [[imageHashes]] (store suffix `aud`; n_samples pruned away). */
  private def audioHashes(s: SparkSession, d: String,
                          barrier: Boolean): DataFrame =
    mediaStoreTable(s, d, "aud")
      .map(_.select(col("doc_id"), col("ph_hi"), col("ph_lo")))
      .getOrElse {
        val ph = Media.audioEnvelope64(neardupAudioMedia(s, d))
          .select(col("doc_id"), col("ph_hi"), col("ph_lo"))
        if (barrier) graft.operators.Joins.keyRepartition(ph, col("doc_id")) else ph
      }

  /** Per-frame video hashes for q125/q126/q127 — the video member
    * (store suffix `vid`, or `vidf` for the flipped q127 corpus: the
    * two fixtures model DIFFERENT corpora, so they land as different
    * tables). */
  private def videoHashes(s: SparkSession, d: String, flips: Boolean,
                          barrier: Boolean): DataFrame =
    mediaStoreTable(s, d, if (flips) "vidf" else "vid").getOrElse {
      val fh = Media.videoFrameHashes(neardupVideoMedia(s, d, flips))
      if (barrier) graft.operators.Joins.keyRepartition(fh, col("doc_id")) else fh
    }

  private def q118(s: SparkSession, d: String): DataFrame = {
    // barrier ON the compute-path hash frame (the q35 discipline): the
    // plan references ph three times (both join sides + the resolution
    // join) — behind one exchange all three consumers reuse one decode
    val ph = imageHashes(s, d, barrier = true)
    // 4×16-bit chunks — Media.phashChunks, THE shared split (q120 and
    // the streaming first-seen maintenance bucket with it; the oracle's
    // UNION branches number theirs 1..4 — the two indexings never meet,
    // each engine only equi-joins on its own)
    val chunks = Media.phashChunks(ph)
    chunkNearDup(ph, chunks)
  }

  /** Chunk-LSH near-dup resolution — THE shared tail of the perceptual
    * tiers: the image hash (q118) and the audio envelope (q123) both
    * arrive as a (doc_id, ph_hi, ph_lo) frame plus its 4×16-bit chunk
    * split, and everything below that point is modality-blind.
    * Candidate pairs from ANY shared chunk, deduped, exact Hamming gate.
    * ONE orientation only (b < a): resolution is min(b_id) gated by
    * d0 < doc_id, so the b > a rows could never win — generating them
    * would double the join output and the distinct's shuffle. */
  /** Deduped candidate pairs from ANY shared chunk, PRE-popcount — split
    * out of [[chunkNearDup]] so the Hamming-tolerant video tier (q127,
    * where a "doc" row is a frame) reuses the identical join shape and
    * the bench's scale10 stage can count it (the q43cand discipline). */
  private def chunkCandidates(chunks: DataFrame): DataFrame = {
    val a = chunks.select(col("ci"), col("ck"), col("doc_id").as("a_id"),
      col("ph_hi").as("a_hi"), col("ph_lo").as("a_lo"))
    val b = chunks.select(col("ci"), col("ck"), col("doc_id").as("b_id"),
      col("ph_hi").as("b_hi"), col("ph_lo").as("b_lo"))
    a.join(b, Seq("ci", "ck"))
      .filter(col("b_id") < col("a_id"))
      .select(col("a_id"), col("b_id"), col("a_hi"), col("a_lo"),
        col("b_hi"), col("b_lo"))
      .distinct()
  }

  /** Exact Hamming gate over [[chunkCandidates]] — candidates only ever
    * pay the popcount, never the full corpus. */
  private def chunkMatched(chunks: DataFrame): DataFrame =
    chunkCandidates(chunks)
      .filter(expr("bit_count(a_hi ^ b_hi) + bit_count(a_lo ^ b_lo)") <= PHamMax)

  private def chunkNearDup(ph: DataFrame, chunks: DataFrame): DataFrame = {
    val cand = chunkMatched(chunks)
    val dup0 = cand.groupBy(col("a_id"))
      .agg(min(col("b_id")).as("d0"))
    ph.join(dup0, ph("doc_id") === dup0("a_id"), "left")
      .withColumn("dup_of",
        when(col("d0").isNotNull && col("d0") < col("doc_id"), col("d0"))
          .otherwise(col("doc_id")))
      .select(col("doc_id"), col("ph_hi"), col("ph_lo"), col("dup_of"),
        (col("dup_of") < col("doc_id")).as("is_dup"))
      .orderBy("doc_id")
  }

  // the q118/q120 fixture CTEs through `ph`, shared by both oracles (and
  // structurally mirrored by q127's video form): scale-adaptive modulus
  // mm, squared-MINSTD bimodal base, replica perturbation, floor mean,
  // unsigned-32 bit packing
  private val imagePhSqlPrefix =
    s"""WITH mm AS (
       |  SELECT GREATEST(25, (max(doc_id) + 1) // 20) AS m FROM documents),
       |d2 AS (
       |  SELECT doc_id, doc_id % mm.m AS g, (doc_id // mm.m) % 20 AS r
       |  FROM documents, mm),
       |cells AS (
       |  SELECT doc_id, t,
       |    32 * (t // 8) + 2 * (t % 8) AS p
       |  FROM d2, range(0, 64) u(t)),
       |vals AS (
       |  SELECT c.doc_id, c.t,
       |    CASE WHEN EXISTS (
       |        SELECT 1 FROM range(0, 4) jr(j)
       |        WHERE j < d.r % 4
       |          AND 32 * ((((d.r * 17 + j * 29) % 64) // 8))
       |            + 2 * (((d.r * 17 + j * 29) % 64) % 8) = c.p)
       |      THEN 200 - (${bimodalBaseSql("d.g", "c.p")})
       |      ELSE ${bimodalBaseSql("d.g", "c.p")}
       |    END + d.r AS v
       |  FROM cells c JOIN d2 d ON d.doc_id = c.doc_id),
       |m AS (SELECT doc_id, CAST(sum(v) AS BIGINT) // 64 AS mean
       |      FROM vals GROUP BY 1),
       |ph AS (
       |  SELECT v.doc_id,
       |    CAST(sum(CASE WHEN v.v > m.mean AND v.t >= 32
       |      THEN 1::BIGINT << (v.t - 32) ELSE 0 END) AS BIGINT) AS ph_hi,
       |    CAST(sum(CASE WHEN v.v > m.mean AND v.t < 32
       |      THEN 1::BIGINT << v.t ELSE 0 END) AS BIGINT) AS ph_lo
       |  FROM vals v JOIN m ON m.doc_id = v.doc_id
       |  GROUP BY 1)""".stripMargin

  private val q118Sql =
    s"""$imagePhSqlPrefix,
       |chunks AS (
       |  SELECT doc_id, ph_hi, ph_lo, 1 AS ci, ph_lo % 65536 AS ck FROM ph
       |  UNION ALL
       |  SELECT doc_id, ph_hi, ph_lo, 2, (ph_lo >> 16) % 65536 FROM ph
       |  UNION ALL
       |  SELECT doc_id, ph_hi, ph_lo, 3, ph_hi % 65536 FROM ph
       |  UNION ALL
       |  SELECT doc_id, ph_hi, ph_lo, 4, (ph_hi >> 16) % 65536 FROM ph),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |    a.ph_hi AS a_hi, a.ph_lo AS a_lo, b.ph_hi AS b_hi, b.ph_lo AS b_lo
       |  FROM chunks a JOIN chunks b
       |    ON a.ci = b.ci AND a.ck = b.ck AND b.doc_id < a.doc_id),
       |near AS (
       |  SELECT a_id, min(b_id) AS d0 FROM cand
       |  WHERE bit_count(xor(a_hi, b_hi)) + bit_count(xor(a_lo, b_lo))
       |    <= $PHamMax
       |  GROUP BY 1)
       |SELECT p.doc_id, p.ph_hi, p.ph_lo,
       |  CASE WHEN n.d0 IS NOT NULL AND n.d0 < p.doc_id
       |       THEN n.d0 ELSE p.doc_id END AS dup_of,
       |  CASE WHEN n.d0 IS NOT NULL AND n.d0 < p.doc_id
       |       THEN TRUE ELSE FALSE END AS is_dup
       |FROM ph p LEFT JOIN near n ON n.a_id = p.doc_id
       |ORDER BY 1""".stripMargin

  // ---- q120: image near-dup CHUNK BUCKETS — the streaming-maintenance twin
  // q118 answers "which images already in the corpus are near-dups";
  // a multimodal INGEST pipeline needs the incremental question — "is
  // this arriving image a near-dup of anything seen so far" — without
  // rescanning the corpus. The state that answers it is exactly q101's
  // text shape transplanted to the phash chunks: first-seen doc + count
  // per DISTINCT 16-bit chunk bucket (min and count are
  // order-independent monoids, so arrival order cannot change the
  // converged table; StreamingSpec replays a batch through MemoryStream
  // and asserts equality). An arriving image decodes, hashes, and looks
  // up its 4 chunk buckets: any hit with first_id < its own id is a
  // near-dup candidate to popcount-check — state is one row per distinct
  // bucket, bounded by content diversity (≤ 4·2^16 per chunk position at
  // ANY corpus size), never by corpus rows. This batch form is the same
  // aggregation over the same shared constructions (Media.imagePHash →
  // Media.phashChunks → DocStreams.bucketFirstSeen), so the gate's full
  // SQL oracle row verifies the exact table the stream maintains.
  private def q120(s: SparkSession, d: String): DataFrame = {
    // single consumer — no barrier on the compute path
    val chunks = Media.phashChunks(imageHashes(s, d, barrier = false))
      .select(col("doc_id"), col("ci").as("band"), col("ck").as("key"))
    graft.streaming.DocStreams.bucketFirstSeen(chunks)
      .select(col("band").as("ci"), col("key").as("ck"),
        col("first_id"), col("n_docs"))
      .orderBy("ci", "ck")
  }

  // the q118 fixture CTEs through `ph`, then the chunk split with
  // posexplode's 0-based numbering (ci is an OUTPUT column here, so —
  // unlike q118 — the two engines' indexings MUST match)
  private val q120Sql =
    s"""$imagePhSqlPrefix,
       |chunks AS (
       |  SELECT doc_id, CAST(0 AS INTEGER) AS ci, ph_lo % 65536 AS ck FROM ph
       |  UNION ALL
       |  SELECT doc_id, CAST(1 AS INTEGER), (ph_lo >> 16) % 65536 FROM ph
       |  UNION ALL
       |  SELECT doc_id, CAST(2 AS INTEGER), ph_hi % 65536 FROM ph
       |  UNION ALL
       |  SELECT doc_id, CAST(3 AS INTEGER), (ph_hi >> 16) % 65536 FROM ph)
       |SELECT ci, ck, min(doc_id) AS first_id, count(*) AS n_docs
       |FROM chunks GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- q121: perceptual AUDIO dedup (gain-invariant fingerprint) ---------
  // The audio member of the multimodal dedup tier, completing q117's
  // image case: the corpus carries the SAME recording re-mastered at
  // different gains (levels normalization, re-encodes — the audio analog
  // of brightness drift), and a byte-exact hash sees every copy as
  // unique. The energy-envelope fingerprint (Media.audioFingerprint)
  // groups them: decode through the REAL RIFF/WAVE parser, 16-window
  // |amplitude| sums, bit per strictly-increasing adjacent pair — gain
  // scales all windows together, so the pattern is invariant. Dedup is
  // q30's shape on (n_samples, afp), smallest doc_id canonical, ONE
  // hash-partitioned window (q117's single-decode-pass discipline).
  //
  // Fixture: genuine WAV payloads; group g = doc_id % 25 fixes the
  // sample pattern AND the length (n = 100 + g, so groups can never
  // collide on the dedup key), replica gain k = 1 + (doc_id div 25) % 3
  // multiplies every sample (max |6144| — far from the int16 clamp).
  // The oracle recomputes window energies and comparison bits from the
  // generator's integer arithmetic — a decoder that mis-walks chunks,
  // sign-extends wrong, or windows off-by-one cannot match.
  //
  // Scale shape: decode + fingerprint is the decoder-init-once narrow
  // map; the dedup groupBy ships 16 bytes per clip — O(clips), never
  // pairwise.
  /** q121's fixture corpus — the exact-dedup recordings (re-masters at
    * integer gains; a different corpus than [[neardupAudioMedia]]'s),
    * named so the at-rest landing and the in-session path share one
    * definition. */
  private def exactAudioMedia(s: SparkSession, d: String): DataFrame = {
    val enc = udf((id: Long) => {
      val g = (id % 25).toInt
      val k = 1 + ((id / 25) % 3).toInt
      val n = 100 + g
      Media.encodeWav(16000,
        i => (((i.toLong * 7 + g * 13) % 4096 - 2048) * k).toInt, n)
    })
    Tables.documents(s, d)
      .select(col("doc_id"), enc(col("doc_id")).as("media"))
  }

  private def q121(s: SparkSession, d: String): DataFrame = {
    // at-rest fast path (suffix `audx`): the exact tier's 16-window
    // comparison fingerprint (audioFingerprint), not the 64-window
    // envelope the near tier lands — its own construction, own table
    val af = mediaStoreTable(s, d, "audx")
      .getOrElse(Media.audioFingerprint(exactAudioMedia(s, d)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("n_samples"), col("afp"))
    af.withColumn("dup_of", min(col("doc_id")).over(w))
      .select(col("doc_id"), col("n_samples"), col("afp"), col("dup_of"),
        (col("dup_of") < col("doc_id")).as("is_dup"))
      .orderBy("doc_id")
  }

  private val q121Sql =
    """WITH d AS (
      |  SELECT doc_id, doc_id % 25 AS g, 1 + (doc_id // 25) % 3 AS k,
      |    100 + doc_id % 25 AS n
      |  FROM documents),
      |e AS (
      |  SELECT d.doc_id, w.w,
      |    CAST(sum(abs(((i.i * 7 + d.g * 13) % 4096 - 2048) * d.k)) AS BIGINT) AS en
      |  FROM d, range(0, 16) w(w), range(0, 125) i(i)
      |  WHERE i.i >= (w.w * d.n) // 16 AND i.i < ((w.w + 1) * d.n) // 16
      |  GROUP BY 1, 2),
      |fp AS (
      |  SELECT a.doc_id,
      |    CAST(sum(CASE WHEN a.en > b.en THEN 1::BIGINT << a.w ELSE 0 END)
      |      AS BIGINT) AS afp
      |  FROM e a JOIN e b ON b.doc_id = a.doc_id AND b.w = a.w + 1
      |  GROUP BY 1),
      |j AS (
      |  SELECT f.doc_id, CAST(d.n AS BIGINT) AS n_samples, f.afp
      |  FROM fp f JOIN d ON d.doc_id = f.doc_id),
      |g2 AS (SELECT n_samples, afp, min(doc_id) AS dup_of
      |       FROM j GROUP BY 1, 2)
      |SELECT j.doc_id, j.n_samples, j.afp, g2.dup_of,
      |  g2.dup_of < j.doc_id AS is_dup
      |FROM j JOIN g2 ON g2.n_samples = j.n_samples AND g2.afp = j.afp
      |ORDER BY 1""".stripMargin

  // ---- q123/q124: Hamming-tolerant AUDIO near-dup + its streaming twin --
  // q121's energy-envelope fingerprint is EXACT-match dedup: a re-master
  // that shifts one window comparison (resample, trim, EQ bump) flips a
  // bit and escapes. This pair applies the image tier's discipline to
  // audio: a FINE 64-window envelope (Media.audioEnvelope64, 63 bits in
  // the imagePHash (ph_hi, ph_lo) layout), the SHARED 4x16-bit chunk
  // split (Media.phashChunks — pigeonhole: Hamming <= 3 guarantees a
  // shared chunk), candidates from a chunk equi-join, exact popcount
  // gate, smallest-id resolution (the shared chunkNearDup tail), and the
  // first-seen bucket maintenance for ingest (q124 = q120's shape on the
  // same chunks).
  //
  // Fixture: genuine WAV payloads from a HARDCODED 25-word codebook
  // (63-bit words, pairwise Hamming >= 19, bits {0,1,10,11,20,21} forced
  // zero). Group g = doc_id % 25 takes codeword g; amplitudes follow the
  // chain a(63) = 700, a(w) = a(w+1) + (bit w ? +10 : -10), four samples
  // per window (n = 256), so window energies are exact integers and the
  // envelope comparisons reproduce the codeword bit-for-bit. Replica
  // r = (doc_id/25) % 20 re-masters its base: gain x(1 + r%3)
  // (invariant, as q121 pins) AND flips exactly r%4 envelope bits by
  // raising windows {1, 11, 21} (prefix of that list) just above their
  // right neighbor — the forced-zero codebook bits make those sites flip
  // EXACTLY one bit each (the left-neighbor comparison keeps its sign
  // because bit w-1 is also forced zero). Within a group the flip sets
  // are nested prefixes, so every replica pair sits at Hamming <= 3 and
  // the whole group resolves to its min doc; across groups the worst
  // pair sits at >= 19 - 6 = 13 > 3, so chance chunk collisions are
  // popcount-killed. The oracle recomputes amplitudes, window energies
  // and every comparison from the same integer arithmetic — a decoder
  // that mis-windows or a chunk split that drifts cannot match.
  //
  // Scale shape: decode + envelope is the decoder-init-once narrow map;
  // candidates are O(clips x 4) chunk rows equi-joined on 16-bit
  // buckets, never pairwise; q124's state is bounded by chunk-value
  // diversity (<= 4*2^16 rows at ANY corpus size), never corpus rows.
  private[graft] val AudioCodebook: Array[Long] = Array(
    0x47BF8103B2437238L, 0x53A21CE65D43E018L, 0x365DD3359CC1C090L,
    0x0861AFC12FC713C8L, 0x6972831CDB412334L, 0x5A50A0A70E0390F0L,
    0x1D0FE6C152CA829CL, 0x38002CE5ADCC433CL, 0x3F5BDF11C1C663E0L,
    0x0972253924CC10E4L, 0x4FAAB4565B4A5248L, 0x7613456D7941738CL,
    0x3C9607F0CE04026CL, 0x2852593291C0B228L, 0x18C16A8622872330L,
    0x2891ECE3E983A130L, 0x1C1502CA0D860024L, 0x36B45E277D06E398L,
    0x782936BA2483D2F4L, 0x59D900B50380D1BCL, 0x1E0D0DFDAECA7078L,
    0x10BBF0251C42F250L, 0x78064D0B1F4E53C8L, 0x548C3955DC4D82F4L,
    0x42B74DF0F4C0D1F4L)

  /** Base amplitude chain for codebook word `cw` — shared by the q123
    * fixture and PHashSpec's hand-built re-master case. */
  private[graft] def envelopeAmps(cw: Long): Array[Int] = {
    val a = new Array[Int](64)
    a(63) = 700
    var w = 62
    while (w >= 0) {
      a(w) = a(w + 1) + (if (((cw >> w) & 1L) == 1L) 10 else -10)
      w -= 1
    }
    a
  }

  /** The q123/q124 fixture: per-document genuine WAV clips — see the
    * block note above. Shared so the batch near-dup, the bucket twin and
    * their oracles all fingerprint the same audio. */
  private def neardupAudioMedia(s: SparkSession, d: String): DataFrame = {
    val cb = AudioCodebook
    val enc = udf((id: Long) => {
      val g = (id % 25).toInt
      val r = ((id / 25) % 20).toInt
      val k = 1 + r % 3
      val a = envelopeAmps(cb(g))
      val sites = Array(1, 11, 21)
      var j = 0
      while (j < r % 4) {
        // sites are >= 10 apart, so a(site+1) is always a BASE value
        a(sites(j)) = a(sites(j) + 1) + 5
        j += 1
      }
      Media.encodeWav(16000, i => a(i / 4) * k, 256)
    })
    Tables.documents(s, d)
      .select(col("doc_id"), enc(col("doc_id")).as("media"))
  }

  private def q123(s: SparkSession, d: String): DataFrame = {
    // same barrier as q118: the plan references the envelope three times
    val ph = audioHashes(s, d, barrier = true)
    chunkNearDup(ph, Media.phashChunks(ph))
  }

  // the amplitude/energy CTEs shared verbatim by the q123 and q124
  // oracles: codebook -> bit -> amplitude chain (suffix sum) -> replica
  // perturbation -> window energy (4 samples x amplitude x gain) ->
  // envelope bits packed into (ph_hi, ph_lo)
  private val audioEnvSqlPrefix =
    s"""WITH cb(g, cw) AS (VALUES
       |    (0, 5169992750120268344), (1, 6026411027107930136), (2, 3917519478098870416),
       |    (3, 603957069309481928), (4, 7598279681288250164), (5, 6507878100905464048),
       |    (6, 2094146069742650012), (7, 4035274631098942268), (8, 4565487914628572128),
       |    (9, 680647421047083236), (10, 5740598958028902984), (11, 8508220457521083276),
       |    (12, 4365685619612189292), (13, 2905482783335952936), (14, 1783824051752870704),
       |    (15, 2923378096759611696), (16, 2023526674406440996), (17, 3941879097550365592),
       |    (18, 8658511931700925172), (19, 6474206716769653180), (20, 2165402379045466232),
       |    (21, 1205821367430345296), (22, 8648684844576822216), (23, 6092307436856509172),
       |    (24, 4807396824535060980)),
       |amp AS (
       |  SELECT cb.g, w.w AS w,
       |    700 + 10 * CAST(COALESCE(SUM(CASE WHEN (cb.cw >> v.v) & 1 = 1
       |      THEN 1 ELSE -1 END), 0) AS BIGINT) AS a
       |  FROM cb CROSS JOIN range(0, 64) w(w)
       |  LEFT JOIN range(0, 63) v(v) ON v.v >= w.w
       |  GROUP BY 1, 2),
       |d2 AS (
       |  SELECT doc_id, CAST(doc_id % 25 AS INTEGER) AS g,
       |    CAST((doc_id // 25) % 20 AS INTEGER) AS r,
       |    1 + CAST((doc_id // 25) % 20 % 3 AS INTEGER) AS k
       |  FROM documents),
       |pert AS (
       |  SELECT d.doc_id, a1.w,
       |    CASE WHEN a1.w = 1  AND d.r % 4 >= 1 THEN a2.a + 5
       |         WHEN a1.w = 11 AND d.r % 4 >= 2 THEN a2.a + 5
       |         WHEN a1.w = 21 AND d.r % 4 >= 3 THEN a2.a + 5
       |         ELSE a1.a END * d.k * 4 AS en
       |  FROM d2 d
       |  JOIN amp a1 ON a1.g = d.g
       |  LEFT JOIN amp a2 ON a2.g = d.g AND a2.w = a1.w + 1),
       |ph AS (
       |  SELECT p.doc_id,
       |    CAST(sum(CASE WHEN p.en > q.en AND p.w >= 32
       |      THEN 1::BIGINT << (p.w - 32) ELSE 0 END) AS BIGINT) AS ph_hi,
       |    CAST(sum(CASE WHEN p.en > q.en AND p.w < 32
       |      THEN 1::BIGINT << p.w ELSE 0 END) AS BIGINT) AS ph_lo
       |  FROM pert p JOIN pert q ON q.doc_id = p.doc_id AND q.w = p.w + 1
       |  GROUP BY 1)""".stripMargin

  private val q123Sql =
    s"""$audioEnvSqlPrefix,
       |chunks AS (
       |  SELECT doc_id, ph_hi, ph_lo, 1 AS ci, ph_lo % 65536 AS ck FROM ph
       |  UNION ALL
       |  SELECT doc_id, ph_hi, ph_lo, 2, (ph_lo >> 16) % 65536 FROM ph
       |  UNION ALL
       |  SELECT doc_id, ph_hi, ph_lo, 3, ph_hi % 65536 FROM ph
       |  UNION ALL
       |  SELECT doc_id, ph_hi, ph_lo, 4, (ph_hi >> 16) % 65536 FROM ph),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |    a.ph_hi AS a_hi, a.ph_lo AS a_lo, b.ph_hi AS b_hi, b.ph_lo AS b_lo
       |  FROM chunks a JOIN chunks b
       |    ON a.ci = b.ci AND a.ck = b.ck AND b.doc_id < a.doc_id),
       |near AS (
       |  SELECT a_id, min(b_id) AS d0 FROM cand
       |  WHERE bit_count(xor(a_hi, b_hi)) + bit_count(xor(a_lo, b_lo))
       |    <= $PHamMax
       |  GROUP BY 1)
       |SELECT p.doc_id, p.ph_hi, p.ph_lo,
       |  CASE WHEN n.d0 IS NOT NULL AND n.d0 < p.doc_id
       |       THEN n.d0 ELSE p.doc_id END AS dup_of,
       |  CASE WHEN n.d0 IS NOT NULL AND n.d0 < p.doc_id
       |       THEN TRUE ELSE FALSE END AS is_dup
       |FROM ph p LEFT JOIN near n ON n.a_id = p.doc_id
       |ORDER BY 1""".stripMargin

  // q124: first-seen doc + count per distinct envelope chunk bucket —
  // q120's streaming-maintenance shape on the audio chunks (the SAME
  // shared constructions: Media.phashChunks -> DocStreams.bucketFirstSeen;
  // StreamingSpec replays a batch through MemoryStream and asserts
  // equality). State <= 4*2^16 rows by value range at ANY corpus size.
  private def q124(s: SparkSession, d: String): DataFrame = {
    // single consumer — no barrier on the compute path
    val chunks = Media.phashChunks(audioHashes(s, d, barrier = false))
      .select(col("doc_id"), col("ci").as("band"), col("ck").as("key"))
    graft.streaming.DocStreams.bucketFirstSeen(chunks)
      .select(col("band").as("ci"), col("key").as("ck"),
        col("first_id"), col("n_docs"))
      .orderBy("ci", "ck")
  }

  // posexplode's 0-based chunk numbering is an OUTPUT column here, so —
  // unlike q123 — the two engines' indexings must match (the q120 rule)
  private val q124Sql =
    s"""$audioEnvSqlPrefix,
       |chunks AS (
       |  SELECT doc_id, CAST(0 AS INTEGER) AS ci, ph_lo % 65536 AS ck FROM ph
       |  UNION ALL
       |  SELECT doc_id, CAST(1 AS INTEGER), (ph_lo >> 16) % 65536 FROM ph
       |  UNION ALL
       |  SELECT doc_id, CAST(2 AS INTEGER), ph_hi % 65536 FROM ph
       |  UNION ALL
       |  SELECT doc_id, CAST(3 AS INTEGER), (ph_hi >> 16) % 65536 FROM ph)
       |SELECT ci, ck, min(doc_id) AS first_id, count(*) AS n_docs
       |FROM chunks GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- q125/q126: VIDEO near-dup (frame-set matching) + its ingest twin --
  // The video member completes the perceptual triad (image q117/q118/
  // q120, audio q121/q123/q124). A "video" is a raw PGM-sequence
  // container (self-delimiting frames back-to-back — the y4m/raw-frames
  // analog for an environment without codecs), walked by the REAL
  // still-image parser; each frame goes through the SHARED aHash kernel
  // (Media.aHash64 — one implementation for stills and frames, so a
  // frame can never hash differently from the same image at rest).
  //
  // Matching is FRAME-SET overlap, q34's n-gram-Jaccard discipline
  // transplanted to time: the realistic video re-master edits the
  // TIMELINE (trims, drops, re-grades) — per-frame brightness drift is
  // absorbed by the hash, frame drops only remove rows, and two videos
  // are near-dups when they share >= VideoShareMin exact frame hashes.
  // Candidates come from an equi-join on the frame hash (videos sharing
  // zero frames never pair), with q97's stopword discipline on the
  // frame-hash document frequency: a frame in > VideoDfCapPct% of
  // videos (intro cards, black frames — the terms whose posting lists
  // go quadratic at corpus scale) is dropped from candidacy before the
  // join. Resolution is the familiar smallest-id tail.
  //
  // Fixture: group g = doc_id % m (m scale-adaptive, mediaGroupModulus)
  // owns 6 base frames (bimodalBase keyed on g*6+f — at the 500-doc gate
  // all 150 (group, frame) patterns are distinct with pairwise Hamming
  // >= 16); replica r = (doc_id/m) % 20 drops the first r%3 frames
  // (a head trim) and re-grades every pixel by +r. Within a group any
  // two replicas share >= 4 frames; across groups zero. The oracle
  // recomputes every frame hash from the generator's integer
  // arithmetic — a parser that mis-walks the container, an aHash that
  // drifts, or a cap that misfires cannot match.
  //
  // Scale shape: decode + hash is the decoder-init-once narrow map
  // emitting O(videos x frames) 16-byte rows; the candidate join blocks
  // on exact 64-bit frame hashes (never pairwise) and the df cap bounds
  // any one hash's posting list; q126's maintained state is one row per
  // DISTINCT frame hash — 16 bytes per distinct frame, orders smaller
  // than the media bytes it indexes.
  private val VideoShareMin = 4
  private val VideoDfCapPct = 90

  /** The q125/q126/q127 fixture — see the block note above. Group count
    * scales with the corpus ([[mediaGroupModulus]]); frame patterns come
    * from [[bimodalBase]] keyed on (group, frame). With `flips` (the
    * q127 corpus) each kept frame ALSO inverts exactly r%4 sampled
    * cells — the per-frame re-ENCODE drift the exact-hash tier (q125)
    * cannot see: a flipped replica shares zero exact frame hashes with
    * its base, so only Hamming-tolerant frame matching resolves it. */
  private def neardupVideoMedia(s: SparkSession, d: String,
                                flips: Boolean = false): DataFrame = {
    val m = mediaGroupModulus(s, d)
    val enc = udf((id: Long) => {
      val g = id % m
      val r = ((id / m) % 20).toInt
      (r % 3 until 6).map { f =>
        val pert: Set[Int] =
          if (flips) (0 until r % 4)
            .map(j => (r * 17 + j * 29 + f * 31) % 64)
            .map(t => 32 * (t / 8) + 2 * (t % 8)).toSet
          else Set.empty
        Media.encodePgm(16, 16, { p =>
          val base = bimodalBase(g * 6 + f, p.toLong)
          (if (pert(p)) 200 - base else base) + r
        })
      }.reduce(_ ++ _)
    })
    Tables.documents(s, d)
      .select(col("doc_id"), enc(col("doc_id")).as("media"))
  }

  /** Distinct (doc_id, frame hash) rows surviving the df cap — the q97
    * stopword discipline on frame hashes (intro cards, black frames —
    * the terms whose posting lists go quadratic at corpus scale — drop
    * from candidacy before any join). Shared by the exact tier (q125),
    * the Hamming-tolerant tier (q127) and the scale10 attribution
    * frame. The frame-hash document frequency is vocabulary-sized like
    * q97's dfreq, joined back on its own key (co-partitioned), never
    * broadcast. */
  private def videoKeptFrames(fh: DataFrame): DataFrame = {
    val fd = fh.select(col("doc_id"), col("fh_hi"), col("fh_lo")).distinct()
    val nVid = fd.agg(countDistinct(col("doc_id")).as("n_vid"))
    val hdf = fd.groupBy(col("fh_hi"), col("fh_lo"))
      .agg(count(lit(1)).as("fdf"))
    fd.join(hdf, Seq("fh_hi", "fh_lo"))
      .crossJoin(broadcast(nVid))
      .filter(col("fdf") * 100 <= col("n_vid") * VideoDfCapPct)
      .select(col("doc_id"), col("fh_hi"), col("fh_lo"))
  }

  /** Video pairs with their EXACT shared-frame count (pre-gate) — q125's
    * candidate aggregate, split out so the bench's scale10 stage can
    * publish its row count beside the wall (the q43cand discipline). */
  private def videoSharedExact(fh: DataFrame): DataFrame = {
    val kept = videoKeptFrames(fh)
    val a = kept.select(col("fh_hi"), col("fh_lo"), col("doc_id").as("a_id"))
    val b = kept.select(col("fh_hi"), col("fh_lo"), col("doc_id").as("b_id"))
    a.join(b, Seq("fh_hi", "fh_lo"))
      .filter(col("b_id") < col("a_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("shared"))
  }

  /** Resolution tail shared by q125/q127: gate the per-pair shared-frame
    * count, resolve each video to its smallest matched id, report the
    * RAW frame-walk count (pre-distinct, so repeated identical frames
    * report the true frame count — the matching sets stay distinct). */
  private def videoResolve(fh: DataFrame, shared: DataFrame): DataFrame = {
    val dup0 = shared.filter(col("shared") >= VideoShareMin)
      .groupBy(col("a_id")).agg(min(col("b_id")).as("d0"))
    val nf = fh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_frames"))
    nf.join(dup0, nf("doc_id") === dup0("a_id"), "left")
      .withColumn("dup_of",
        when(col("d0").isNotNull && col("d0") < col("doc_id"), col("d0"))
          .otherwise(col("doc_id")))
      .select(col("doc_id"), col("n_frames"), col("dup_of"),
        (col("dup_of") < col("doc_id")).as("is_dup"))
      .orderBy("doc_id")
  }

  private def q125(s: SparkSession, d: String): DataFrame = {
    // barrier (the q118 rule): the plan references the frame hashes from
    // four subtrees (distinct set, df counts, both join sides) — behind
    // one exchange all of them reuse a single decode+hash pass
    val fh = videoHashes(s, d, flips = false, barrier = true)
    videoResolve(fh, videoSharedExact(fh))
  }

  // frame hashes recomputed from generator arithmetic: frames kept by
  // the head trim, bimodal pixel values (+ the re-grade, + the optional
  // per-frame cell flips of the q127 corpus), per-frame integer mean,
  // strict threshold, unsigned-32 bit packing — exactly the q118 oracle
  // pattern per (doc, frame)
  private def videoFhSqlPrefix(flips: Boolean): String = {
    val base = bimodalBaseSql("d.g * 6 + c.f", "c.p")
    val v =
      if (flips)
        s"""CASE WHEN EXISTS (
           |        SELECT 1 FROM range(0, 4) jr(j)
           |        WHERE j < d.r % 4
           |          AND (d.r * 17 + j * 29 + c.f * 31) % 64 = c.t)
           |      THEN 200 - ($base)
           |      ELSE $base
           |    END""".stripMargin
      else base
    s"""WITH mm AS (
       |  SELECT GREATEST(25, (max(doc_id) + 1) // 20) AS m FROM documents),
       |d2 AS (
       |  SELECT doc_id, doc_id % mm.m AS g, (doc_id // mm.m) % 20 AS r
       |  FROM documents, mm),
       |cells AS (
       |  SELECT d.doc_id, f.f AS f, t.t AS t,
       |    32 * (t.t // 8) + 2 * (t.t % 8) AS p
       |  FROM d2 d, range(0, 6) f(f), range(0, 64) t(t)
       |  WHERE f.f >= d.r % 3),
       |vals AS (
       |  SELECT c.doc_id, c.f, c.t,
       |    $v + d.r AS v
       |  FROM cells c JOIN d2 d ON d.doc_id = c.doc_id),
       |m AS (SELECT doc_id, f, CAST(sum(v) AS BIGINT) // 64 AS mean
       |      FROM vals GROUP BY 1, 2),
       |fh AS (
       |  SELECT v.doc_id, v.f,
       |    CAST(sum(CASE WHEN v.v > m.mean AND v.t >= 32
       |      THEN 1::BIGINT << (v.t - 32) ELSE 0 END) AS BIGINT) AS fh_hi,
       |    CAST(sum(CASE WHEN v.v > m.mean AND v.t < 32
       |      THEN 1::BIGINT << v.t ELSE 0 END) AS BIGINT) AS fh_lo
       |  FROM vals v JOIN m ON m.doc_id = v.doc_id AND m.f = v.f
       |  GROUP BY 1, 2)""".stripMargin
  }

  private val q125Sql =
    s"""${videoFhSqlPrefix(flips = false)},
       |fd AS (SELECT DISTINCT doc_id, fh_hi, fh_lo FROM fh),
       |nv AS (SELECT count(DISTINCT doc_id) AS n_vid FROM fd),
       |hdf AS (SELECT fh_hi, fh_lo, count(*) AS fdf FROM fd GROUP BY 1, 2),
       |kept AS (
       |  SELECT fd.doc_id, fd.fh_hi, fd.fh_lo
       |  FROM fd JOIN hdf USING (fh_hi, fh_lo) CROSS JOIN nv
       |  WHERE hdf.fdf * 100 <= nv.n_vid * $VideoDfCapPct),
       |sh AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared
       |  FROM kept a JOIN kept b
       |    ON a.fh_hi = b.fh_hi AND a.fh_lo = b.fh_lo AND b.doc_id < a.doc_id
       |  GROUP BY 1, 2),
       |near AS (SELECT a_id, min(b_id) AS d0 FROM sh
       |         WHERE shared >= $VideoShareMin GROUP BY 1),
       |nf AS (SELECT doc_id, count(*) AS n_frames FROM fh GROUP BY 1)
       |SELECT nf.doc_id, nf.n_frames,
       |  CASE WHEN n.d0 IS NOT NULL AND n.d0 < nf.doc_id
       |       THEN n.d0 ELSE nf.doc_id END AS dup_of,
       |  CASE WHEN n.d0 IS NOT NULL AND n.d0 < nf.doc_id
       |       THEN TRUE ELSE FALSE END AS is_dup
       |FROM nf LEFT JOIN near n ON n.a_id = nf.doc_id
       |ORDER BY 1""".stripMargin

  // q126: first-seen video + row count per DISTINCT frame hash — the
  // ingest-maintenance twin (q120/q124's shape, state keyed by the full
  // 64-bit hash): an arriving video looks up its frame hashes; >=
  // VideoShareMin hits with first_id < its own id make it a near-dup
  // candidate without rescanning the corpus.
  private def q126(s: SparkSession, d: String): DataFrame = {
    // single consumer — no barrier on the compute path
    val fh = videoHashes(s, d, flips = false, barrier = false)
      .select(col("doc_id"), col("fh_hi").as("band"), col("fh_lo").as("key"))
    graft.streaming.DocStreams.bucketFirstSeen(fh)
      .select(col("band").as("fh_hi"), col("key").as("fh_lo"),
        col("first_id"), col("n_docs"))
      .orderBy("fh_hi", "fh_lo")
  }

  private val q126Sql =
    s"""${videoFhSqlPrefix(flips = false)}
       |SELECT fh_hi, fh_lo, min(doc_id) AS first_id, count(*) AS n_docs
       |FROM fh GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- q127: Hamming-tolerant VIDEO near-dup (the q118/q123 tier for
  // frames). q125 matches frames by EXACT 64-bit equality: a re-ENCODE
  // that drifts a few pixels past a cell-mean boundary flips 1–3 hash
  // bits per frame and the frame-set overlap silently drops to zero —
  // the same escape q123 closed for audio. Here each df-capped frame
  // hash (the q125 stopword discipline, applied BEFORE any join so a
  // ubiquitous frame can't explode candidacy) goes through the SHARED
  // Media.phashChunks split; frame PAIRS come from the chunk equi-join
  // (pigeonhole: Hamming ≤ 3 guarantees a shared chunk), pay the exact
  // popcount gate, and THEN the q125 share gate counts distinct MATCHED
  // a-frames per video pair.
  //
  // Fixture: the q125 corpus with flips = true — replica r additionally
  // inverts exactly r%4 sampled cells in EVERY kept frame (cells keyed
  // (r, j, f), so each frame drifts differently), putting replica-vs-
  // base frames at Hamming r%4 ≤ 3 (matched) while exact equality sees
  // zero shared frames for any r%4 ≠ 0 replica. Resolution still
  // reaches the base (its frames are unperturbed; min over matched ids),
  // and the oracle recomputes every flipped bit from the same integer
  // arithmetic.
  //
  // Scale shape: O(frames × 4) chunk rows equi-joined on 16-bit buckets,
  // never pairwise; the df cap bounds any one hash's posting list; the
  // popcount runs on candidates only — q118's shape with frames as the
  // unit, so the same sub-quadratic argument applies at 10×.
  private def q127(s: SparkSession, d: String): DataFrame = {
    val fh = videoHashes(s, d, flips = true, barrier = true)
    val chunks = Media.phashChunks(videoKeptFrames(fh)
      .withColumnRenamed("fh_hi", "ph_hi")
      .withColumnRenamed("fh_lo", "ph_lo"))
    // one a-frame can match several b-frames (and via several chunks):
    // distinct on (pair, a-frame) before counting so "shared" means
    // matched FRAMES, not matched frame-pairs
    val shared = chunkMatched(chunks)
      .select(col("a_id"), col("b_id"), col("a_hi"), col("a_lo"))
      .distinct()
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("shared"))
    videoResolve(fh, shared)
  }

  private val q127Sql =
    s"""${videoFhSqlPrefix(flips = true)},
       |fd AS (SELECT DISTINCT doc_id, fh_hi, fh_lo FROM fh),
       |nv AS (SELECT count(DISTINCT doc_id) AS n_vid FROM fd),
       |hdf AS (SELECT fh_hi, fh_lo, count(*) AS fdf FROM fd GROUP BY 1, 2),
       |kept AS (
       |  SELECT fd.doc_id, fd.fh_hi AS ph_hi, fd.fh_lo AS ph_lo
       |  FROM fd JOIN hdf USING (fh_hi, fh_lo) CROSS JOIN nv
       |  WHERE hdf.fdf * 100 <= nv.n_vid * $VideoDfCapPct),
       |chunks AS (
       |  SELECT doc_id, ph_hi, ph_lo, 1 AS ci, ph_lo % 65536 AS ck FROM kept
       |  UNION ALL
       |  SELECT doc_id, ph_hi, ph_lo, 2, (ph_lo >> 16) % 65536 FROM kept
       |  UNION ALL
       |  SELECT doc_id, ph_hi, ph_lo, 3, ph_hi % 65536 FROM kept
       |  UNION ALL
       |  SELECT doc_id, ph_hi, ph_lo, 4, (ph_hi >> 16) % 65536 FROM kept),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |    a.ph_hi AS a_hi, a.ph_lo AS a_lo, b.ph_hi AS b_hi, b.ph_lo AS b_lo
       |  FROM chunks a JOIN chunks b
       |    ON a.ci = b.ci AND a.ck = b.ck AND b.doc_id < a.doc_id),
       |mt AS (
       |  SELECT DISTINCT a_id, b_id, a_hi, a_lo FROM cand
       |  WHERE bit_count(xor(a_hi, b_hi)) + bit_count(xor(a_lo, b_lo))
       |    <= $PHamMax),
       |sh AS (SELECT a_id, b_id, count(*) AS shared FROM mt GROUP BY 1, 2),
       |near AS (SELECT a_id, min(b_id) AS d0 FROM sh
       |         WHERE shared >= $VideoShareMin GROUP BY 1),
       |nf AS (SELECT doc_id, count(*) AS n_frames FROM fh GROUP BY 1)
       |SELECT nf.doc_id, nf.n_frames,
       |  CASE WHEN n.d0 IS NOT NULL AND n.d0 < nf.doc_id
       |       THEN n.d0 ELSE nf.doc_id END AS dup_of,
       |  CASE WHEN n.d0 IS NOT NULL AND n.d0 < nf.doc_id
       |       THEN TRUE ELSE FALSE END AS is_dup
       |FROM nf LEFT JOIN near n ON n.a_id = nf.doc_id
       |ORDER BY 1""".stripMargin

  /** Land the per-modality MediaStore tables for corpus `d` under
    * `prefix` — the once-per-ingest decode the per-session savings
    * amortize (bench stores stage + MediaStoreSpec). The fixtures are
    * the REGISTERED queries' corpora, handed to [[graft.sources.MediaStore]]
    * which applies the shared constructions verbatim. */
  private[graft] def landMediaStore(s: SparkSession, d: String,
      prefix: String, buckets: Int, dir: String,
      docFilter: Column = lit(true)): Unit = {
    graft.sources.MediaStore.saveImage(
      neardupImageMedia(s, d).filter(docFilter),
      s"${prefix}_img", buckets, Some(s"$dir/img"))
    graft.sources.MediaStore.saveAudio(
      neardupAudioMedia(s, d).filter(docFilter),
      s"${prefix}_aud", buckets, Some(s"$dir/aud"))
    graft.sources.MediaStore.saveVideo(
      neardupVideoMedia(s, d).filter(docFilter),
      s"${prefix}_vid", buckets, Some(s"$dir/vid"))
    graft.sources.MediaStore.saveVideo(
      neardupVideoMedia(s, d, flips = true).filter(docFilter),
      s"${prefix}_vidf", buckets, Some(s"$dir/vidf"))
    // the EXACT tiers' corpora (q117/q121) — different fixtures than the
    // near-dup tiers', landed through the same discipline
    graft.sources.MediaStore.saveImage(
      exactImageMedia(s, d).filter(docFilter),
      s"${prefix}_imgx", buckets, Some(s"$dir/imgx"))
    graft.sources.MediaStore.saveAudioFingerprint(
      exactAudioMedia(s, d).filter(docFilter),
      s"${prefix}_audx", buckets, Some(s"$dir/audx"))
  }

  /** Sync an ingest batch (`batchDocs` over doc_id) into the six landed
    * tables — decode the batch only, hash through the SAME verified
    * constructions, hash-route into the existing bucket scheme
    * ([[graft.sources.MediaStore.appendImage]] family). O(batch) per
    * sync where a re-land re-decodes the corpus; StoreAppendSpec pins
    * appended ≡ full-land per modality, consumers and plans included. */
  private[graft] def appendMediaStore(s: SparkSession, d: String,
      prefix: String, buckets: Int, batchDocs: Column): Unit = {
    graft.sources.MediaStore.appendImage(
      neardupImageMedia(s, d).filter(batchDocs), s"${prefix}_img", buckets)
    graft.sources.MediaStore.appendAudio(
      neardupAudioMedia(s, d).filter(batchDocs), s"${prefix}_aud", buckets)
    graft.sources.MediaStore.appendVideo(
      neardupVideoMedia(s, d).filter(batchDocs), s"${prefix}_vid", buckets)
    graft.sources.MediaStore.appendVideo(
      neardupVideoMedia(s, d, flips = true).filter(batchDocs),
      s"${prefix}_vidf", buckets)
    graft.sources.MediaStore.appendImage(
      exactImageMedia(s, d).filter(batchDocs), s"${prefix}_imgx", buckets)
    graft.sources.MediaStore.appendAudioFingerprint(
      exactAudioMedia(s, d).filter(batchDocs), s"${prefix}_audx", buckets)
  }

  /** The tables [[landMediaStore]] creates — one list so every teardown
    * drops exactly what landing created (the TermStore.tablesOf rule). */
  private[graft] def mediaStoreTables(prefix: String): Seq[String] =
    Seq("img", "aud", "vid", "vidf", "imgx", "audx").map(sfx => s"${prefix}_$sfx")

  /** Measurement probes for the bench's stores-stage media pair splits
    * (the q71interp/q71scan discipline, VERDICT r12 task 4): the
    * per-session DECODE the store amortizes — q118's image pHash and
    * q125's per-frame video hashes over the REGISTERED corpora, the
    * exact subplans the cold paths pay — timed against the store's
    * column-pruned bucketed scan of the same hash tables, so a losing
    * pair is attributable (decode saved vs scan paid) from the
    * artifact alone. */
  private[graft] def imageDecodeProbe(s: SparkSession, d: String): DataFrame =
    Media.imagePHash(neardupImageMedia(s, d))

  private[graft] def videoDecodeProbe(s: SparkSession, d: String): DataFrame =
    Media.videoFrameHashes(neardupVideoMedia(s, d))

  /** Attribution frames for the bench's scale10 stage — the media
    * members' intermediates whose row counts explain the walls (the
    * q43cand discipline): q118's deduped chunk-join candidate pairs
    * (pre-popcount), q125's exact shared-frame video pairs (pre-gate). */
  private[graft] val scale10Candidates
      : Map[String, (SparkSession, String) => DataFrame] = Map(
    "q118_image_neardup" -> ((s, d) => chunkCandidates(Media.phashChunks(
      graft.operators.Joins.keyRepartition(
        Media.imagePHash(neardupImageMedia(s, d)), col("doc_id"))))),
    "q125_video_neardup" -> ((s, d) => videoSharedExact(
      Media.videoFrameHashes(neardupVideoMedia(s, d))
        .transform(graft.operators.Joins.keyRepartition(_, col("doc_id"))))))

  def defs: Map[String, QueryDef] = Map(
    "q121_audio_fingerprint_dedup" -> QueryDef(q121, Some(q121Sql)),
    "q123_audio_neardup" -> QueryDef(q123, Some(q123Sql)),
    "q125_video_neardup" -> QueryDef(q125, Some(q125Sql)),
    "q126_video_frame_buckets" -> QueryDef(q126, Some(q126Sql)),
    "q127_video_neardup_hamming" -> QueryDef(q127, Some(q127Sql)),
    "q124_audio_chunk_buckets" -> QueryDef(q124, Some(q124Sql)),
    "q120_image_chunk_buckets" -> QueryDef(q120, Some(q120Sql)),
    "q118_image_neardup" -> QueryDef(q118, Some(q118Sql)),
    "q117_image_phash_dedup" -> QueryDef(q117, Some(q117Sql)),
    "q93_image_decode" -> QueryDef(q93, Some(q93Sql)),
    "q94_audio_decode" -> QueryDef(q94, Some(q94Sql)),
    "q80_windowed_events" -> QueryDef(q80, Some(q80Sql)),
    "q81_user_activity" -> QueryDef(q81, Some(q81Sql)),
    "q82_sessionize" -> QueryDef(q82, Some(q82Sql)),
    "q84_stream_dedup" -> QueryDef(q84, Some(q84Sql)),
    "q85_interval_join" -> QueryDef(q85, Some(q85Sql)),
    "q105_band_join" -> QueryDef(q105, Some(q105Sql)),
    "q90_multimodal_decode" -> QueryDef(q90, Some(q90Sql)),
    "q91_frame_sample" -> QueryDef(q91, Some(q91Sql)),
    "q92_media_resize" -> QueryDef(q92, Some(q92Sql)))
}
