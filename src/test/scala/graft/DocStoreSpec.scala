package graft

import org.apache.spark.sql.functions._

import graft.sources.DocStore

/** The bucketed document store must make the dedup family exchange-free
  * while producing exactly the plain-path results. */
class DocStoreSpec extends SparkSuite {
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$d/documents.parquet")

  test("dedup over the bucketed store is exchange-free and matches the plain path") {
    val tmp = graft.TempDirs.create("graft-docstore")
    DocStore.saveBucketed(docs, "docs_bucketed", buckets = 8,
      path = Some(tmp.resolve("t").toString))
    try {
      val bd = DocStore.loadBucketed(spark, "docs_bucketed")
      def dedup(src: org.apache.spark.sql.DataFrame) = src
        .groupBy("fp")
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
      val agg = dedup(bd)
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"dedup over the bucketed store must not shuffle:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"store must read as a bucketed scan:\n$plan")
      val got = agg.as[(Long, Long, Long)].collect().sorted.toSeq
      val want = dedup(DocStore.fingerprint(docs))
        .as[(Long, Long, Long)].collect().sorted.toSeq
      assert(got == want, "bucketed dedup must equal the plain-path groups")
    } finally spark.sql("DROP TABLE IF EXISTS docs_bucketed")
  }

  test("fingerprint join between two same-bucketed stores shuffles neither side") {
    // decontamination shape: training corpus × eval set, both at rest in
    // fp-bucketed stores with the same bucket count
    val tmp = graft.TempDirs.create("graft-docstore2")
    DocStore.saveBucketed(docs, "corpus_b", buckets = 8,
      path = Some(tmp.resolve("c").toString))
    DocStore.saveBucketed(docs.filter(col("doc_id") % 7 === 0), "eval_b",
      buckets = 8, path = Some(tmp.resolve("e").toString))
    try {
      // the sf0.001 tables are tiny, so without this the eval side would
      // BROADCAST and the no-exchange assertion could never fail — force
      // the shuffle-family plan the join would take at scale
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = DocStore.loadBucketed(spark, "corpus_b").as("c")
        .join(DocStore.loadBucketed(spark, "eval_b").as("e"), Seq("fp"))
        .select(col("c.doc_id"), col("e.doc_id").as("eval_id"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"with broadcast disabled the join must be shuffle-family:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"both sides are pre-bucketed on fp — nothing may shuffle:\n$plan")
      assert("Bucketed: true".r.findAllIn(plan).length == 2,
        s"both sides must read as bucketed scans:\n$plan")
      assert(joined.count() >= docs.filter(col("doc_id") % 7 === 0).count(),
        "every eval doc must find its own corpus copy")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS corpus_b")
      spark.sql("DROP TABLE IF EXISTS eval_b")
    }
  }

  test("landing key is NFC-form-stable: mixed-form corpora dedup through the store") {
    // the q131 fixture discipline: explicit escapes, because the two
    // forms RENDER identically and a raw literal is one editor-side
    // normalization away from silently collapsing the fixture
    val mixed = (0L until 40L).map { i =>
      val accent = if ((i / 20) % 2 == 0) "\u00e9" else "e\u0301"
      (i, s"doc ${i % 20} caf$accent")
    }.toDF("doc_id", "text")
    val tmp = graft.TempDirs.create("graft-docstore-nfc")
    DocStore.saveBucketed(mixed, "docs_nfc", buckets = 4,
      path = Some(tmp.resolve("n").toString))
    try {
      // through the store, each content group collapses to ONE
      // fingerprint even though its members carry different bytes —
      // exactly the dedup the same corpus gets when normalized up front
      val got = DocStore.loadBucketed(spark, "docs_nfc")
        .groupBy("fp").agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_docs"))
        .as[(Long, Long, Long)].collect().sorted.toSeq
      assert(got.size == 20, s"expected 20 form-stable groups, got ${got.size}")
      assert(got.forall(_._3 == 2), s"every group holds both forms: $got")
    } finally spark.sql("DROP TABLE IF EXISTS docs_nfc")
  }

  test("mixed-form ingest: q110/q128 store-wired ≡ cold, NFD batch finds its NFC corpus twin") {
    // THE input the NFC landing key was motivated by (ADVICE r12 high):
    // the corpus landed composed (web-crawl shape), the ingest batch
    // arrives decomposed (macOS-origin shape). Every fp surface — the
    // store's landing key, q110's batch probe, q128's ingest probe —
    // must route through the ONE nfc-aware builder (DocStore.fpExpr):
    // before that was shared, the ASCII fixtures passed while a raw
    // probe against an NFC store missed every such exact duplicate.
    // explicit escapes (the q131 fixture discipline): the two forms
    // RENDER identically, so raw literals could silently collapse
    val nfc = "caf\u00e9"   // composed
    val nfd = "cafe\u0301"  // decomposed — renders identically
    val mixed = (0L until 40L).map { i =>
      val form = if (i % 10 == 7) nfd else nfc
      // batch doc 4k+7 carries the same CONTENT as corpus doc 4k+0 —
      // an exact duplicate once forms are normalized, invisible raw
      (i, s"morning $form terrace document number ${i / 10 * 10} end")
    }.toDF("doc_id", "text")
    val tmp = graft.TempDirs.create("graft-docstore-mixed")
    val dir = tmp.resolve("corpus").toString
    mixed.write.parquet(s"$dir/documents.parquet")
    DocStore.saveBucketed(
      mixed.filter(col("doc_id") % 10 =!= 7), "docs_mixed", buckets = 4,
      path = Some(tmp.resolve("t").toString))
    try {
      for (q <- Seq("q110_ingest_dedup", "q128_bloom_ingest")) {
        val cold = SparkEntry.queries(q)(spark, dir).collect().toSeq
        // the exact tier must SEE the cross-form duplicates at all
        val verdicts = cold.map(r => r.getString(1))
        assert(verdicts.nonEmpty && verdicts.forall(v => v == "exact" || v == "dup"),
          s"$q cold: every NFD batch doc has an NFC corpus twin, got $verdicts")
        spark.conf.set("spark.graft.docStore", s"$dir=docs_mixed")
        try assert(SparkEntry.queries(q)(spark, dir).collect().toSeq == cold,
          s"$q over the NFC-keyed store diverged from the cold path on mixed forms")
        finally spark.conf.unset("spark.graft.docStore")
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS docs_mixed")
      graft.TempDirs.deleteRec(tmp.toString)
    }
  }

  test("registered q37 rides the store when spark.graft.docStore points at it") {
    // The layout proof above lives on hand-built frames; this is the
    // REGISTERED fingerprint-dedup query over the at-rest store:
    // identical results, a bucketed scan carrying the precomputed fp, and
    // NO fp exchange anywhere in the plan (the groupBy rides the buckets
    // — at 100 TB that is the per-ingest corpus reshuffle gone).
    val tmp = graft.TempDirs.create("graft-docstore-q")
    DocStore.saveBucketed(docs, "docs_q37", buckets = 8,
      path = Some(tmp.resolve("t").toString))
    try {
      val want = SparkEntry.queries("q37_fingerprint")(spark, d).collect().toSeq
      spark.conf.set("spark.graft.docStore", s"$d=docs_q37")
      try {
        val df = SparkEntry.queries("q37_fingerprint")(spark, d)
        assert(df.collect().toSeq == want,
          "q37 over the store must equal the recompute path")
        val p = df.queryExecution.executedPlan.toString
        assert(p.contains("Bucketed: true"),
          s"q37 must scan the bucketed store:\n$p")
        assert(!p.contains("Exchange hashpartitioning(fp"),
          s"the dedup groupBy must ride the fp buckets, not reshuffle:\n$p")
      } finally spark.conf.unset("spark.graft.docStore")
    } finally spark.sql("DROP TABLE IF EXISTS docs_q37")
  }
}
