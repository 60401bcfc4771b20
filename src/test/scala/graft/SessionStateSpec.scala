package graft

import org.apache.spark.SparkException
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.functions.col

import graft.queries.{ArgoQueries, SessionMemo}

/** The session-state lifecycle: queries that memoize a checkpoint (q36's
  * jaccard bands, q60's kernel profiles), a broadcast (q43's pv model)
  * and persisted Argo frames (q76's cells) leave state behind;
  * [[SessionMemo.reset]] must release all of it, and a re-run must
  * rebuild its memo and return the same result. */
class SessionStateSpec extends SparkSuite {
  private val d = "/root/testdata/sf0.001"
  private val names = Seq("q36_ngram_jaccard", "q43_embedding_neardup",
    "q60_interp_pipeline", "q76_atlas_netcdf_roundtrip")

  /** The oracle gate's hash shape: columns sorted by name, rows sorted. */
  private def resultHash(name: String): String = {
    val df = SparkEntry.queries(name)(spark, d)
    val rows = df.select(df.columns.sorted.map(col): _*).toJSON.collect()
      .sorted.mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  test("reset releases every memo; re-runs rebuild them with the same results") {
    SessionMemo.reset(spark) // start from no state left by earlier suites
    val before = names.map(n => n -> resultHash(n)).toMap
    // held across the reset, so GC cannot free what reset must release
    val held = SessionMemo.live(spark)
    val pv = held.collect { case b: Broadcast[_] => b }
    assert(pv.nonEmpty, "q43 must memoize its pv broadcast")
    assert(ArgoQueries.climCache.peek(spark, d).isDefined,
      "q76 must memoize its cells frame")

    SessionMemo.reset(spark)

    val storedBytes = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum
    assert(storedBytes == 0L, s"$storedBytes bytes of RDD blocks survive reset")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    pv.foreach(b => intercept[SparkException](b.value))
    assert(SessionMemo.live(spark).isEmpty, "reset must forget every entry")
    assert(ArgoQueries.climCache.peek(spark, d).isEmpty)

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
