package graft

import org.apache.spark.SparkException
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.functions.col

import graft.operators.Joins
import graft.queries.{ArgoQueries, EmbeddingQueries, SessionMemo}

/** The session-state lifecycle: queries that memoize a checkpoint (q36's
  * jaccard bands, q60's kernel profiles), a broadcast (q43's pv model),
  * persisted Argo frames (q76's cells), driver models (q43's plane
  * thresholds and sizing count, q112's histogram) and a landed layout
  * dir (q129's z-ordered events) leave state behind;
  * [[SessionMemo.reset]] must release all of it, and a re-run must
  * rebuild its memo and return the same result. */
class SessionStateSpec extends SparkSuite {
  private val d = "/root/testdata/sf0.001"
  private val names = Seq("q36_ngram_jaccard", "q43_embedding_neardup",
    "q60_interp_pipeline", "q76_atlas_netcdf_roundtrip",
    "q112_budget_select", "q129_zorder_scan")

  /** The oracle gate's hash shape: columns sorted by name, rows sorted. */
  private def resultHash(name: String): String = {
    val df = SparkEntry.queries(name)(spark, d)
    val rows = df.select(df.columns.sorted.map(col): _*).toJSON.collect()
      .sorted.mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** q129's layout dirs on disk, found by their temp-dir prefix. */
  private def zLayouts(): Set[java.io.File] =
    new java.io.File(System.getProperty("java.io.tmpdir"))
      .listFiles((_, n) => n.startsWith("graft-zorder")).toSet

  test("reset releases every memo; re-runs rebuild them with the same results") {
    SessionMemo.reset(spark) // start from no state left by earlier suites
    val zBefore = zLayouts()
    val before = names.map(n => n -> resultHash(n)).toMap
    // held across the reset, so GC cannot free what reset must release
    val held = SessionMemo.live(spark)
    val pv = held.collect { case b: Broadcast[_] => b }
    assert(pv.nonEmpty, "q43 must memoize its pv broadcast")
    assert(ArgoQueries.climCache.peek(spark, d).isDefined,
      "q76 must memoize its cells frame")
    val q43Bits = EmbeddingQueries.NearDupTables * EmbeddingQueries.NearDupBits
    val thresholds = EmbeddingQueries.threshMemo.peek(spark, s"$d#$q43Bits")
    assert(thresholds.exists(t => held.exists(_.asInstanceOf[AnyRef] eq t)),
      "q43's plane thresholds must be a live session entry")
    val nVecs = spark.read.parquet(s"$d/embeddings.parquet").count()
    assert(Joins.counts.peek(spark, s"$d/embeddings").contains(nVecs) &&
      held.contains(nVecs), "q43's sizing count must be a live session entry")
    val layouts = zLayouts() -- zBefore
    assert(layouts.nonEmpty, "q129 must land its layout dir")

    SessionMemo.reset(spark)

    val storedBytes = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum
    assert(storedBytes == 0L, s"$storedBytes bytes of RDD blocks survive reset")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    pv.foreach(b => intercept[SparkException](b.value))
    assert(SessionMemo.live(spark).isEmpty, "reset must forget every entry")
    assert(ArgoQueries.climCache.peek(spark, d).isEmpty)
    assert(layouts.forall(!_.exists), s"reset must delete q129's layout: $layouts")

    names.foreach(n => assert(resultHash(n) == before(n), s"$n changed after reset"))
    assert(SessionMemo.live(spark).size == held.size,
      "the re-runs must rebuild every memo entry they built before")
    assert(ArgoQueries.climCache.peek(spark, d).isDefined,
      "q76 must rebuild its cells frame")
    val rebuilt = SessionMemo.live(spark).collect { case b: Broadcast[_] => b }
    assert(rebuilt.nonEmpty && rebuilt.forall(b => !pv.exists(_ eq b)),
      "q43 must rebuild its pv broadcast")
    rebuilt.foreach(_.value) // live again
  }
}
