package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Join-strategy helpers for the pair-generation joins in the dedup /
  * similarity family. */
object Joins {

  /** Default build-side row cap for broadcasting a pair-join side. At ~100
    * bytes of packed payload per row this is ~200 MB on the driver — past
    * it, a broadcast stops being a cheap optimization and becomes the OOM
    * that kills the job at scale. Overridable per session via
    * `spark.graft.broadcastMaxRows`. */
  val BroadcastMaxRows = 2000000L

  private[graft] def maxRows(df: DataFrame): Long =
    df.sparkSession.conf.getOption("spark.graft.broadcastMaxRows")
      .map(_.toLong).getOrElse(BroadcastMaxRows)

  /** Byte budget for a driver-held model (r15, VERDICT r14 item 2): the
    * row cap guards ROWS while the risk is BYTES — a 2M-row cap admits a
    * ~1 GB (vec_id → 512 B packed vector) map where it admits a 32 MB
    * edge list. Same magnitude class as a generous
    * `spark.sql.autoBroadcastJoinThreshold`; overridable per session via
    * `spark.graft.broadcastMaxBytes`. */
  val BroadcastMaxBytes = 256L * 1024 * 1024

  private[graft] def maxBytes(df: DataFrame): Long =
    df.sparkSession.conf.getOption("spark.graft.broadcastMaxBytes")
      .map(_.toLong).getOrElse(BroadcastMaxBytes)

  /** Row cap for a driver model whose rows are ~`rowBytes` wide
    * (estimated IN-MEMORY width, payload + per-entry overhead): the
    * shared row cap and the byte budget, whichever binds first. Past it
    * the caller's distributed path runs unchanged. */
  def maxRowsSized(df: DataFrame, rowBytes: Long): Long =
    math.min(maxRows(df), maxBytes(df) / math.max(1L, rowBytes))

  /** Key-repartition with the partition COUNT pinned to the session's
    * shuffle parallelism. A bare `repartition(col)` plans as
    * REPARTITION_BY_COL, whose exchange AQE is free to coalesce by input
    * BYTES — correct for data-sized stages, blind to compute FAN-OUT:
    * measured at the 10× rehearsal, the near-dup candidate enumeration
    * (2 MB of band ids in, 3.7M pairs out) collapsed onto ONE task, and
    * every kernel-feeding checkpoint (forward index, band frames) landed
    * 1–8 partitions wide on a 32-core session. The explicit count keeps
    * fan-out stages at the session's configured width at any scale
    * (deployments size `spark.sql.shuffle.partitions`; AQE still
    * coalesces every downstream data-sized exchange), and downstream
    * joins/aggregations on the same key still reuse the layout — the
    * shuffle side they meet uses the same conf count. */
  def keyRepartition(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(
      df.sparkSession.sessionState.conf.numShufflePartitions, cols: _*)

  private[graft] val counts = new graft.queries.SessionMemo[Long]

  /** Row count for a join-strategy decision, memoized per (session, key)
    * (e.g. table path): the decision needs the size BEFORE planning, but
    * it must not cost one counting job per query invocation / bench
    * repetition. `s` is the session `df` belongs to; taking it apart
    * keeps `df` unbuilt on a hit. */
  def memoCount(s: SparkSession, key: String)(df: => DataFrame): Long =
    counts.getOrElseUpdate(s, key)(df.count())

  /** Self-join on a LOW-CARDINALITY block key (LSH bucket, source block):
    * the degenerate case of a pair-generation join, where a plain shuffle
    * join collapses all work onto ≤ #blocks tasks.
    *
    * Strategy is size-conditional, like [[graft.argo.Atlas.pairs]]:
    *
    *  - `buildRows` under the broadcast cap → broadcast the build side;
    *    the stream side keeps its even partitioning and every core scores
    *    pairs.
    *  - past the cap → SALTED equi-join: the stream side gets a
    *    deterministic salt in [0, salts), the build side replicates each
    *    row to every salt, and the join key becomes (blocks…, salt). Work
    *    spreads over #blocks × salts tasks at the cost of salts× build-side
    *    shuffle volume — the distributed-memory-safe shape, no driver
    *    collect, no single-task collapse.
    *
    * `saltOn` must be a deterministic column of the STREAM side (e.g.
    * `hash(col("doc_id"))`) so plans and fixtures stay reproducible.
    */
  def blockJoin(stream: DataFrame, build: DataFrame, keys: Seq[String],
                saltOn: Column, buildRows: Long,
                salts: Int = 32): DataFrame =
    if (buildRows <= maxRows(stream)) stream.join(broadcast(build), keys)
    else {
      val ls = stream.withColumn("__salt", pmod(saltOn, lit(salts)))
      val rs = build.withColumn("__salt",
        explode(sequence(lit(0), lit(salts - 1))))
      // Pin the shuffled-hash strategy: we are on this path precisely
      // because the build side does NOT fit in memory, so Catalyst must
      // never fall back to a broadcast (its size estimate can't see that),
      // and sort-merge would pay a useless sort on throwaway pair keys.
      // The un-replicated stream side is the cheaper hash side.
      ls.hint("shuffle_hash").join(rs, keys :+ "__salt").drop("__salt")
    }
}
