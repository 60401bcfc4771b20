package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}
import graft.functions.{FP, TextFns => T}

// Scratch: WHERE the q97 store-vs-cold inversion lives. The r8 split
// showed the store SCAN is ~7x cheaper than the in-session rebuild, yet
// the end-to-end store path lost ~1.9x even with the round-9 persist.
// Variants: A = persist(table-read) [the r9 form], B = persist with
// autoBucketedScan disabled at cache time, C = repartition+checkpoint
// over the store scan, COLD = the full in-session rebuild.
//
// RESOLVED (round 10): the r9 partitioning hypothesis was WRONG — this
// probe measured 0 exchanges above groupBy(doc_id) for BOTH persist
// forms. The real cost was the cache itself: the registered q97 plan
// references the index from ~16 consumer subtrees and every reference
// pays an InMemoryTableScan decompression of the whole columnar cache,
// while the plain bucketed read gives each consumer a column-pruned
// parquet scan fused into its own codegen stage. The REGISTERED queries
// timed per strategy (sf0.1, local[4] minima; SCALING.md records the
// run): scan-only 1.78 s < cold 2.48 s < pinned 3.00 s < persist 3.64 s.
// The last section below times the store and cold registered paths.
// Landed: the store branch of TextQueries.forwardIndex holds NO session
// state at all.
object ProbeTermStore {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    def time[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[ts] $tag%-34s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      r
    }
    spark.read.parquet(s"$d/documents.parquet").count() // warm

    // teardown mirrors the Bench stores stage: a probe must not leave a
    // /tmp corpus or a stale catalog table for the next run to collide
    // with (saveBucketed path collision)
    val dir = graft.TempDirs.create("graft-probe-ts").toString
    try {
    time("store land") {
      graft.sources.TermStore.saveBucketed(
        Tables.documents(spark, d), "probe_termstore",
        buckets = 32, path = Some(s"$dir/terms"))
    }

    // q97's scoring pattern (the df-capped sparse cosine) over a given tf
    def score(tf: DataFrame): Long = {
      val nDocs = Tables.documents(spark, d).agg(count(lit(1)).as("n_docs"))
      val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("dfreq"))
      val weights = tf
        .join(broadcast(dfreq), Seq("w"))
        .crossJoin(broadcast(nDocs))
        .filter(col("dfreq") * 100 <= col("n_docs") * 90)
        .select(col("doc_id"), col("w"),
          FP.micro(col("tf") * log(col("n_docs") / col("dfreq"))).as("u"))
      val norms = weights.groupBy(col("doc_id"))
        .agg(sum(col("u") * col("u")).as("nrm2_u"))
      val probes = weights.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("q_id"), col("w"), col("u").as("qu"))
      val dots = weights.join(broadcast(probes), Seq("w"))
        .filter(col("doc_id") =!= col("q_id"))
        .groupBy(col("q_id"), col("doc_id"))
        .agg(sum(col("qu") * col("u")).as("dot_u"))
      dots.join(norms, Seq("doc_id")).count()
    }
    def exchanges(tf: DataFrame): Int = {
      val norms = tf.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val plan = norms.queryExecution.executedPlan.toString
      plan.linesIterator.count(_.contains("Exchange"))
    }

    val conf = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    def rebuild(): DataFrame =
      graft.sources.TermStore.forwardIndex(Tables.documents(spark, d))
        .repartition(col("doc_id"))
        .localCheckpoint()

    // COLD: rebuild per rep (memo-free replica of the cold branch)
    (1 to 2).foreach { r =>
      val tf = time(s"cold rebuild rep$r")(rebuild())
      time(s"cold score   rep$r")(score(tf))
      tf.unpersist(blocking = true)
    }

    // A: current store branch
    val tfA = spark.table("probe_termstore").persist()
    println(s"[ts] A exchanges above groupBy(doc_id): ${exchanges(tfA)}")
    (1 to 2).foreach(r => time(s"A persist(table) rep$r")(score(tfA)))
    tfA.unpersist(blocking = true)
    spark.sharedState.cacheManager.clearCache()

    // B: bucketed scan pinned at cache time
    spark.conf.set(conf, "false")
    val tfB = spark.table("probe_termstore").persist()
    spark.conf.set(conf, "true")
    println(s"[ts] B exchanges above groupBy(doc_id): ${exchanges(tfB)}")
    (1 to 2).foreach(r => time(s"B persist(bucketed) rep$r")(score(tfB)))
    tfB.unpersist(blocking = true)
    spark.sharedState.cacheManager.clearCache()

    // C: one explicit shuffle over the scan, then checkpoint (cold's shape
    // minus the tokenize)
    val tfC = time("C repartition+ckpt") {
      spark.table("probe_termstore").repartition(col("doc_id")).localCheckpoint()
    }
    println(s"[ts] C exchanges above groupBy(doc_id): ${exchanges(tfC)}")
    (1 to 2).foreach(r => time(s"C scan+shuffle rep$r")(score(tfC)))
    tfC.unpersist(blocking = true)

    // REGISTERED q97 over the store conf — the exact bench stores shape
    def planStats(tag: String): Unit = {
      val plan = graft.SparkEntry.queries("q97_sparse_cosine")(spark, d)
        .queryExecution.executedPlan.toString
      def c(k: String) = plan.linesIterator.count(_.contains(k))
      println(s"[ts] $tag plan: exch=${c("Exchange")} smj=${c("SortMergeJoin")} " +
        s"bhj=${c("BroadcastHashJoin")} imts=${c("InMemoryTableScan")} " +
        s"scans=${c("Scan parquet")} rddscan=${c("Scan ExistingRDD")} " +
        s"agg=${c("HashAggregate")}")
    }
    spark.conf.set("spark.graft.termStore", s"$d=probe_termstore")
    (1 to 3).foreach { r =>
      time(s"registered q97 store rep$r") {
        graft.SparkEntry.queries("q97_sparse_cosine")(spark, d).count()
      }
    }
    planStats("store")
    spark.conf.unset("spark.graft.termStore")
    // the registered cold path for the same consumers
    (1 to 2).foreach { r =>
      graft.queries.SessionMemo.reset(spark)
      time(s"registered q97 cold  rep$r") {
        graft.SparkEntry.queries("q97_sparse_cosine")(spark, d).count()
      }
    }
    planStats("cold ")
    } finally {
      graft.sources.TermStore.tablesOf("probe_termstore")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      graft.TempDirs.deleteRec(dir)
      spark.stop()
    }
  }
}
