package graft

import org.apache.spark.sql.functions._

import graft.operators.KMeans
import graft.sources.VecStore

/** The IVF-partitioned embedding store must prune unprobed cells at the
  * scan and preserve the corpus exactly. */
class VecStoreSpec extends SparkSuite {
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"
  private def embs = spark.read.parquet(s"$d/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  test("probing the partitioned store prunes unprobed cells at the scan") {
    val dim = embs.select(size(col("embedding"))).head().getInt(0)
    val model = KMeans.fit(embs, "vec_id", "embedding", dim, k = 8, iters = 2)
    val tmp = graft.TempDirs.create("graft-vecstore")
      .resolve("store").toString
    VecStore.savePartitioned(embs, model, tmp)

    // probe the two most populous cells of the ACTUAL assignment —
    // hard-coded ids would fail spuriously if a regenerated corpus or
    // k-means tweak left a fixed cell empty
    val assigned = VecStore.assign(embs, model)
    val cells = assigned
      .groupBy("cell").count().orderBy(desc("count"), col("cell"))
      .limit(2).select(col("cell")).as[Int].collect().toSeq
    val probed = VecStore.load(spark, tmp).filter(col("cell").isin(cells: _*))
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      "PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      s"cell filter must prune partitions at the scan:\n$plan")

    // pruned read ≡ post-hoc filter of the full assignment
    val want = assigned.filter(col("cell").isin(cells: _*))
      .select(col("vec_id")).as[Long].collect().sorted.toSeq
    val got = probed.select(col("vec_id")).as[Long].collect().sorted.toSeq
    assert(got == want && got.nonEmpty,
      s"pruned scan returned ${got.size} rows, plain filter ${want.size}")

    // the store holds the whole corpus across all cells
    assert(VecStore.load(spark, tmp).count() == embs.count())
  }

  test("registered q45 rides the store when spark.graft.vecStore points at it") {
    // The pruning proof above lives on a hand-built probe filter; this is
    // the REGISTERED trained-IVF query over the at-rest store: identical
    // results (the deterministic k-means fit makes stored cells ≡
    // in-query assignment bit-for-bit), the corpus read from the
    // cell-partitioned layout instead of being assigned + repartitioned
    // per session.
    val tmp = graft.TempDirs.create("graft-vecstore-q")
      .resolve("store").toString
    graft.queries.EmbeddingQueries.landVecStore(spark, d, tmp)
    val want = SparkEntry.queries("q45_ann_ivf_kmeans")(spark, d).collect().toSeq
    spark.conf.set("spark.graft.vecStore", s"$d=$tmp")
    try {
      val df = SparkEntry.queries("q45_ann_ivf_kmeans")(spark, d)
      assert(df.collect().toSeq == want,
        "q45 over the store must equal the in-query assignment path")
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains(tmp),
        s"q45 must scan the landed store:\n$p")
      assert(p.contains("PartitionFilters: ["),
        s"the store scan must carry a cell partition filter surface:\n$p")
    } finally spark.conf.unset("spark.graft.vecStore")
  }

  test("registered q78 reads at-rest PQ codes + quantizers instead of re-encoding") {
    // VERDICT r8 task 5: the sidecar makes the store path skip BOTH
    // corpus-scale stages (residual+encode map, the two fitPq trainings)
    // — and because the fits are deterministic and doubles round-trip
    // parquet exactly, the store path must be BIT-identical to the
    // in-query path, pinned here on the registered query.
    val tmp = graft.TempDirs.create("graft-vecstore-pq")
      .resolve("store").toString
    graft.queries.EmbeddingQueries.landVecStore(spark, d, tmp)
    val want = SparkEntry.queries("q78_ivfpq_ann")(spark, d).collect().toSeq
    spark.conf.set("spark.graft.vecStore", s"$d=$tmp")
    try {
      val df = SparkEntry.queries("q78_ivfpq_ann")(spark, d)
      assert(df.collect().toSeq == want,
        "q78 over the PQ sidecar must equal the in-query encode path")
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("_pqcodes"),
        s"q78 must scan the landed code sidecar:\n$p")
      // and the q45 vector store over the same root still ignores the
      // underscore-prefixed sidecar dirs (partition discovery unbroken)
      assert(VecStore.load(spark, tmp).count() == embs.count(),
        "sidecar dirs must stay invisible to the vector store's discovery")
    } finally spark.conf.unset("spark.graft.vecStore")
  }

  test("q78 after a same-session re-land at the same path reads the new PQ model") {
    // the rebalance flow the store docs recommend: re-train and re-land
    // at the SAME path inside one session. The next q78 must route its
    // probes by the new sidecar's quantizers — exactly what a fresh
    // session reading the re-landed store computes — not by a model
    // remembered from before the re-land
    val tmp = graft.TempDirs.create("graft-vecstore-reland")
      .resolve("store").toString
    graft.queries.EmbeddingQueries.landVecStore(spark, d, tmp)
    spark.conf.set("spark.graft.vecStore", s"$d=$tmp")
    try {
      val before = SparkEntry.queries("q78_ivfpq_ann")(spark, d).collect().toSeq
      graft.queries.EmbeddingQueries.landVecStore(spark,
        "/root/testdata/sf0.01", tmp)
      val again = SparkEntry.queries("q78_ivfpq_ann")(spark, d).collect().toSeq
      val fresh = spark.newSession()
      fresh.conf.set("spark.graft.vecStore", s"$d=$tmp")
      val want = SparkEntry.queries("q78_ivfpq_ann")(fresh, d).collect().toSeq
      assert(want.nonEmpty && want != before,
        "the re-landed store must change q78's answer, or this proves nothing")
      assert(again == want,
        "q78 after a same-path re-land must equal a fresh session's run")
    } finally {
      spark.conf.unset("spark.graft.vecStore")
      graft.TempDirs.deleteRec(tmp)
    }
  }
}
