package graft

import org.apache.spark.sql.functions._

import graft.sources.BandStore

/** The (band, key)-bucketed LSH band table at rest must serve the whole
  * near-dup family — q34 pair generation, q110's per-ingest near tier,
  * q101 first-seen maintenance — with results identical to the in-session
  * construction, and must make the q34 candidate self-join exchange-free
  * on both sides (its join keys ARE the bucket keys). */
class BandStoreSpec extends SparkSuite {

  private val d = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$d/documents.parquet")

  private def withStore[A](body: => A): A = {
    val tmp = graft.TempDirs.create("graft-bandstore")
    BandStore.saveBucketed(docs, "bands_bucketed", buckets = 8,
      path = Some(tmp.resolve("b").toString))
    spark.conf.set("spark.graft.bandStore", s"$d=bands_bucketed")
    try body
    finally {
      spark.conf.unset("spark.graft.bandStore")
      spark.sql("DROP TABLE IF EXISTS bands_bucketed")
    }
  }

  test("q34/q110/q101 over the store equal the in-session construction") {
    val names = Seq("q34_minhash_lsh", "q110_ingest_dedup", "q101_stream_neardup")
    val want = names.map(n => SparkEntry.queries(n)(spark, d).collect().toSeq)
    withStore {
      names.zip(want).foreach { case (n, w) =>
        val got = SparkEntry.queries(n)(spark, d).collect().toSeq
        assert(got == w, s"$n over the store differs from the cold path")
        assert(got.nonEmpty, s"$n degenerate")
      }
    }
  }

  test("q34 candidate self-join over the store is exchange-free on both sides") {
    withStore {
      val df = SparkEntry.queries("q34_minhash_lsh")(spark, d)
      df.collect() // force the final AQE plan
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("Bucketed: true"), s"q34 must scan the bucketed store:\n$p")
      // the (band, key) join keys are exactly the bucket keys: no exchange
      // may feed the candidate join from either scan
      assert(!p.contains("Exchange hashpartitioning(band"),
        s"the candidate self-join reshuffled a bucketed side:\n$p")
      // and the whole-corpus shingle-hash projection is gone: the store
      // path must not scan the documents parquet at all (the anonymous
      // hash UDFs print as bare "UDF", so the scan source is the
      // testable witness)
      assert(!p.contains("documents.parquet"),
        s"store path still re-hashes the corpus:\n$p")
    }
  }

  test("store scan parity: the landed rows ARE the verified construction") {
    withStore {
      val got = BandStore.loadBucketed(spark, "bands_bucketed")
        .select(col("doc_id"), col("band"), col("key"), hex(col("hs")))
        .collect().map(_.toSeq).toSet
      val want = BandStore.bandFrame(docs)
        .select(col("doc_id"), col("band"), col("key"), hex(col("hs")))
        .collect().map(_.toSeq).toSet
      assert(got == want && got.nonEmpty)
    }
  }
}
