package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Argostats, GraftSession, PerfbenchAccess, SparkEntry}
import graft.argo.{Interpolator, SummaryBuilder}
import graft.functions.TextFns
import graft.sources.ArgoNetCDF

/** One benchmark workload: inputs landed in set-up, then passes.
  *
  * `land` must be repeatable: set-up runs it several times. `pass` runs the
  * layers once, writing its outputs under `out`, and `check` inspects
  * those outputs afterwards, untimed. Traced runs add `counts` (layer
  * counts the per-layer report needs, checked by `countChecks`) and `probe`
  * (stand-alone layer probes that are not part of a pass). `release` drops
  * the workload's own inputs and oracles before the retained heap is
  * measured. */
trait Workload {
  def land(): Unit
  /** Profiles or documents one pass processes. */
  def items: Long
  def facts: Map[String, Any]
  def pass(t: Tracer, out: Path): Unit
  /** Named outcomes of one pass's output checks. */
  def check(out: Path): Seq[(String, Boolean)]
  def atRestBytes(out: Path): Long
  def counts(out: Path): Map[String, Double] = Map.empty
  def countChecks(counts: Map[String, Double]): Seq[(String, Boolean)] = Nil
  def probe(t: Tracer): Unit = ()
  def release(): Unit = ()
}

object Workload {
  val Names = Seq("argo-pipeline", "text-neardup")

  def apply(name: String, spark: SparkSession, work: Path, seed: Long): Workload =
    name match {
      case "argo-pipeline" => new ArgoPipeline(spark, work, seed)
      case "text-neardup" => new TextNeardup(spark, work, seed)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (one of ${Names.mkString(", ")})")
    }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  def sha256(p: Path): String =
    MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p))
      .map(b => f"$b%02x").mkString
}

/** The paper's pipeline as one pass: GDAC NetCDF → summary → 64-level
  * TEOS-10 store → atlases → NetCDF. The TS atlas covers the whole 50°×30°
  * box at 1°; the EAPE atlases (R14 and T25), whose cost grows with the
  * profiles in reach, cover a 10°×10° box inside it at 1°. */
final class ArgoPipeline(spark: SparkSession, work: Path, seed: Long) extends Workload {
  import ArgoPipeline._
  private val gdac = work.resolve("gdac")
  private var landed: Gdac.Counts = _
  private val atlas = Argostats.atlas(Box, 1.0)
  private val eapeAtlas = Argostats.atlas(EapeBox, 1.0)
  /** Digest of each NetCDF file on the first pass. */
  private val firstDigest = scala.collection.mutable.Map.empty[String, String]

  def land(): Unit = {
    Workload.deleteTree(gdac)
    landed = Gdac.land(gdac, seed, Spec)
  }

  def items: Long = landed.profiles

  def facts: Map[String, Any] = Map("gdac_files" -> landed.files,
    "gdac_mb" -> landed.bytes / 1e6, "profiles" -> landed.profiles,
    "flagged_profiles" -> landed.flagged, "valid_profiles" -> landed.valid,
    "delayed_mode_profiles" -> landed.delayed)

  def pass(t: Tracer, out: Path): Unit = {
    val src = gdac.toString
    val sumPath = out.resolve("summary.parquet").toString
    val profPath = out.resolve("profiles.parquet").toString
    // untraced: the public calls as a user makes them; traced: the same
    // composition split at the source boundary
    val summary =
      if (!t.on) t.force("argo.summary")(Argostats.buildSummary(spark, src))
      else {
        val header = t.force("sources.header")(
          ArgoNetCDF.rawHeader(ArgoNetCDF.read(spark, src)))
        t.force("argo.summary")(SummaryBuilder.build(spark, header))
      }
    t.span("store.write")(Argostats.saveSummary(summary, sumPath))
    val stored = t.force("store.read")(Argostats.loadSummary(spark, sumPath))
    val interp =
      if (!t.on) t.force("argo.interp")(Argostats.interpolateAll(spark, src, stored))
      else {
        val samples = t.force("sources.samples")(
          ArgoNetCDF.samples(ArgoNetCDF.read(spark, src)))
        t.force("argo.interp")(Interpolator.interpolate(samples, stored))
      }
    t.span("store.write")(Argostats.saveProfiles(interp, profPath))
    val profiles = t.force("store.read")(Argostats.loadProfiles(spark, profPath))
    def sink(name: String, at: graft.argo.Atlas, df: DataFrame): Unit =
      t.span("sink.netcdf")(
        Argostats.toNetcdf(out.resolve(name).toString, at, df, profiles))
    sink(Atlases(0), atlas, t.force("atlas.ts")(atlas.climTS(spark, profiles)))
    sink(Atlases(1), eapeAtlas,
      t.force("atlas.eape_r14")(eapeAtlas.climEAPE(spark, profiles, "R14")))
    sink(Atlases(2), eapeAtlas,
      t.force("atlas.eape_t25")(eapeAtlas.climEAPE(spark, profiles, "T25")))
  }

  /** Counts against the generator's; atlas bytes against the first pass's. */
  def check(out: Path): Seq[(String, Boolean)] = {
    val profiles = spark.read.parquet(out.resolve("profiles.parquet").toString)
    Seq(
      "summary has one row per profile" ->
        (spark.read.parquet(out.resolve("summary.parquet").toString).count() ==
          landed.profiles),
      "store has one row per FLAG==1 profile" -> (profiles.count() == landed.flagged),
      "valid profiles match the generator" ->
        (profiles.filter(col("NVALUES") > 0).count() == landed.valid)) ++
      Atlases.map { f =>
        val d = Workload.sha256(out.resolve(f))
        s"$f identical across passes" -> (firstDigest.getOrElseUpdate(f, d) == d)
      }
  }

  def atRestBytes(out: Path): Long =
    (Seq("summary.parquet", "profiles.parquet") ++ Atlases)
      .map(f => Workload.bytesUnder(out.resolve(f))).sum

  override def counts(out: Path): Map[String, Double] = {
    val profiles = Argostats.loadProfiles(spark, out.resolve("profiles.parquet").toString)
    val stored = profiles.count().toDouble
    // (cell, profile) pairs and in-reach profiles, over the TS and EAPE grids
    val pairs = Seq(atlas, eapeAtlas).map(_.pairs(spark, profiles).count()).sum.toDouble
    val cropped = Seq(atlas, eapeAtlas).map(_.crop(profiles).count()).sum.toDouble
    Map("sources.profiles" -> landed.profiles.toDouble,
      "sources.file_mb" -> landed.bytes / 1e6,
      "argo.interp.valid_ratio" ->
        profiles.filter(col("NVALUES") > 0).count() / math.max(1.0, stored),
      "store.mb" -> (Workload.bytesUnder(out.resolve("summary.parquet")) +
        Workload.bytesUnder(out.resolve("profiles.parquet"))) / 1e6,
      "atlas.pairs" -> pairs,
      "atlas.pairs_per_profile" -> (if (cropped > 0) pairs / cropped else 0.0),
      "sink.netcdf_mb" -> Atlases.map(f => Files.size(out.resolve(f))).sum / 1e6)
  }
}

object ArgoPipeline {
  val Atlases = Seq("atlas_ts.nc", "atlas_eape_r14.nc", "atlas_eape_t25.nc")
  val Box: (Double, Double, Double, Double) = (-60.0, -10.0, 20.0, 50.0)
  val EapeBox: (Double, Double, Double, Double) = (-40.0, -30.0, 30.0, 40.0)
  val Spec = Gdac.Spec(profiles = 600, profilesPerFloat = 24,
    box = Gdac.Box(Box._1, Box._2, Box._3, Box._4), minLevels = 150, maxLevels = 350)
}

/** q36 near-duplicate pairs over a ten-fold replicated corpus, each pass
  * on a fresh session so every session memo misses. The corpus content is
  * fixed and the seed permutes its rows, so the pair counts q36 must reach
  * are known in advance. */
final class TextNeardup(spark: SparkSession, work: Path, seed: Long) extends Workload {
  import TextNeardup._
  private val corpus = work.resolve("corpus")
  private var docs: IndexedSeq[Corpus.Doc] = IndexedSeq.empty
  private var nDocs = 0L
  private var expected: Set[Corpus.Pair] = _
  /** How many pairs the last pass returned and how many of those are true
    * pairs, and the order-free digest of the first pass's pairs. */
  private var pairsOut = 0L
  private var firstDigest: Option[Int] = None
  private var found = 0L

  def land(): Unit = {
    import spark.implicits._
    Workload.deleteTree(corpus)
    docs = Corpus.generate(seed, Spec)
    nDocs = docs.length
    docs.toDF().repartition(CorpusFiles)
      .write.parquet(corpus.resolve("documents.parquet").toString)
  }

  def items: Long = nDocs

  private def oracle: Set[Corpus.Pair] = {
    if (expected == null) expected = Corpus.expectedPairs(docs)
    expected
  }

  def facts: Map[String, Any] = Map("documents" -> nDocs,
    "corpus_mb" -> Workload.bytesUnder(corpus) / 1e6, "true_pairs" -> oracle.size,
    "q36_pairs" -> pairsOut, "recall" -> recall)

  def pass(t: Tracer, out: Path): Unit = {
    val session = spark.newSession()
    GraftSession.tune(session)
    val pairs = t.force("text.q36")(
      SparkEntry.queries("q36_ngram_jaccard")(session, corpus.toString))
    t.span("store.write")(pairs.write.parquet(out.resolve("pairs.parquet").toString))
  }

  /** Every pair q36 returns is a true pair with its exact Jaccard, q36
    * finds at least the true pairs it found when the benchmark was written,
    * and every pass returns the same pairs. */
  def check(out: Path): Seq[(String, Boolean)] = {
    import spark.implicits._
    val got = spark.read.parquet(out.resolve("pairs.parquet").toString)
      .as[Corpus.Pair].collect().toSet
    val digest = scala.util.hashing.MurmurHash3.unorderedHash(got)
    pairsOut = got.size
    found = got.count(oracle.contains)
    if (firstDigest.isEmpty) firstDigest = Some(digest)
    Seq("the corpus has its known true pairs" -> (oracle.size == TruePairs),
      "every pair is a true pair with its exact Jaccard" -> (found == pairsOut),
      s"q36 finds at least $Q36Pairs true pairs" -> (found >= Q36Pairs),
      "pairs identical across passes" -> firstDigest.contains(digest))
  }

  private def recall: Double = found.toDouble / math.max(1, oracle.size)

  def atRestBytes(out: Path): Long = Workload.bytesUnder(out.resolve("pairs.parquet"))

  override def probe(t: Tracer): Unit = {
    val d = spark.read.parquet(corpus.resolve("documents.parquet").toString)
    val shingled = t.force("text.shingle")(
      d.select(col("doc_id"), TextFns.shingleHashesPacked(2)(col("text")).as("gs")))
    // 32 signatures: q36's band count
    t.force("text.minhash")(
      shingled.select(col("doc_id"), TextFns.minhashSigsPackedK(32)(col("gs")).as("sigs")))
  }

  override def counts(out: Path): Map[String, Double] = {
    val session = spark.newSession()
    GraftSession.tune(session)
    val cand = PerfbenchAccess.q36Candidates(session, corpus.toString).count().toDouble
    Map("text.candidates" -> cand, "text.pairs_out" -> pairsOut.toDouble,
      "text.yield" -> (if (cand > 0) pairsOut / cand else 0.0), "text.recall" -> recall)
  }

  override def countChecks(counts: Map[String, Double]): Seq[(String, Boolean)] =
    Seq(s"q36 has $Candidates candidate pairs" ->
      (counts("text.candidates") == Candidates.toDouble))

  override def release(): Unit = {
    docs = IndexedSeq.empty
    expected = Set.empty
  }
}

object TextNeardup {
  val Spec = Corpus.Spec(baseDocs = 1000, docsPerSource = 20)
  private val CorpusFiles = 4
  /** Same-source pairs with bigram Jaccard >= 0.2 in the corpus (the oracle). */
  val TruePairs = 47800
  /** True pairs q36 returned, and its LSH candidate pairs, on this corpus
    * when the benchmark was written. q36 misses the rest of the true pairs
    * (see README); a change may raise the first count but not lower it. */
  val Q36Pairs = 41766
  val Candidates = 75712L
}
