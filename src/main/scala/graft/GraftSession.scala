package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's canonical configuration.
  *
  * All entry points (tests, Verify, Bench, perfbench) build their sessions
  * with [[builder]] + [[tune]] so plans are reproducible: UTC timestamps,
  * AQE on, the [[graft.plans.GraftExtensions]] rules and SQL functions,
  * shuffle parallelism sized for the
  * actual cluster (32 local threads here; on a real cluster this is set per
  * deployment, with AQE coalescing doing the fine-tuning at runtime).
  */
object GraftSession {
  /** `events.parquet` carries INT64 TIMESTAMP(NANOS) which Spark's reader
    * rejects by default; this maps it to LongType (epoch nanos). */
  val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  def builder(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config(NanosAsLong, "true")
      .config("spark.ui.enabled", "false")

  def local(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    registerUdafs(s)
    s
  }

  /** Apply the configs a session must carry beyond its builder's — also
    * to a session the engine did not build (every table read calls it,
    * [[Tables]]). */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set(NanosAsLong, "true")
    registerUdafs(spark)
    spark
  }

  private val udafDone =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Register the atlas aggregation kernels as SQL UDAFs (VERDICT r13
    * task 7): `haversine_arg` + the spatial rewrite already let a
    * SQL-only user FIND the (cell, profile) pairs — these let them
    * AGGREGATE the packed profiles too, closing the SQL-only q71 path
    * (AtlasSqlSpec pins it against the DataFrame climTS):
    *
    *  - `profile_mean_packed(w, prof)` → struct(CT[64], SR[64]) — the
    *    fixed-point weighted cell mean (A1, [[graft.argo.Atlas]]);
    *  - `eape_mean_packed_r14 / _t25 (w, prof, aux, cell)` → EAPE[64] —
    *    the pass-2 EAPE mean (A2/A3).
    *
    * `spark.udf.register` is session-scoped (UDAFs have no
    * `injectFunction` path), so every entry point routes through here;
    * the weak-map guard keeps the per-query `tune` calls from
    * re-building the Aggregator encoders each time. */
  def registerUdafs(spark: SparkSession): Unit =
    if (udafDone.put(spark, java.lang.Boolean.TRUE) == null) {
      import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
      import org.apache.spark.sql.functions.udaf
      spark.udf.register("profile_mean_packed",
        udaf(new graft.argo.Atlas.ProfileMeanPacked2,
          ExpressionEncoder[(Double, Array[Byte])]()))
      spark.udf.register("eape_mean_packed_r14",
        udaf(new graft.argo.Atlas.EapeMeanPacked("R14"),
          ExpressionEncoder[(Double, Array[Byte], Array[Byte], Array[Byte])]()))
      spark.udf.register("eape_mean_packed_t25",
        udaf(new graft.argo.Atlas.EapeMeanPacked("T25"),
          ExpressionEncoder[(Double, Array[Byte], Array[Byte], Array[Byte])]()))
    }
}
