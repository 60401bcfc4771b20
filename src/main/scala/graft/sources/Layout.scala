package graft.sources

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, xxhash64}

/** Multi-dimensional data layout: rewrite a table clustered along a
  * space-filling curve so that every landed file covers a tight
  * rectangle of the clustered dimensions — the `OPTIMIZE ZORDER BY`
  * operation of the lakehouse engines, as a plain Spark write.
  *
  * Mechanics: range-partition by the Morton code
  * ([[graft.functions.ZOrderExpr]]) so the code's global order is split
  * into contiguous chunks (one per output partition — a chunk of Z space
  * IS a small rectangle), sort within partitions so row groups inside a
  * file are tight too, then drop the code: pruning works off the parquet
  * min/max statistics of the ORIGINAL columns, which the clustering has
  * made locally narrow. Readers need no knowledge of the curve at all —
  * any engine's stock row-group pruning benefits.
  *
  * At 100 TB this is the difference between a second-dimension predicate
  * reading every file (a linear layout prunes only its leading sort
  * column) and reading ~√ of them (ZOrderSpec measures the ratio on a
  * real write). Like the at-rest stores, the rewrite is a once-per-ingest
  * cost amortized over every later scan.
  */
object Layout {
  /** Land `df` z-clustered by `zCode` (build it with
    * [[graft.functions.ZOrderExpr.zorder2]] over normalized bucket
    * indexes) as parquet under `path`. `partitions` sets the file count
    * floor; `maxRecordsPerFile` caps rows per file so row-group pruning
    * has granularity even on small inputs. */
  def writeZOrdered(df: DataFrame, zCode: Column, path: String,
                    partitions: Int, maxRecordsPerFile: Long = 0L): Unit =
    zWrite(df, zCode, path, partitions, maxRecordsPerFile, "overwrite")

  /** Incremental sync into an existing z-clustered layout: the BATCH is
    * z-coded (by the caller's FROZEN curve parameters — the VecStore
    * frozen-quantizer rule), range-clustered among ITSELF and appended
    * as new files. Answers never depend on the code (it is dropped), so
    * append ≡ re-land exactly; only pruning granularity pays — each
    * sync's files are tight rectangles of their OWN batch, so a scan
    * prunes per batch instead of globally. Compact by re-running the
    * full rewrite when sync counts warrant (the once-per-ingest cost
    * the append path defers, not avoids). */
  def appendZOrdered(batch: DataFrame, zCode: Column, path: String,
                     partitions: Int, maxRecordsPerFile: Long = 0L): Unit =
    zWrite(batch, zCode, path, partitions, maxRecordsPerFile, "append")

  /** Range-clusters by the code into `partitions` tasks, each sorted by
    * the code, ties broken on every column, so the same frame always
    * lands the same files with the same min/max statistics. Spark's
    * `repartitionByRange` cannot give that: its range bounds come from a
    * sample seeded by the RDD id, so two writes of one frame in one
    * session cut different ranges (ZOrderSpec pins the repeat). Here the
    * bounds are evenly spaced codes of a content-hashed sample — the 100
    * rows per range (Spark's own default sample density) with the
    * smallest hash of every column, the same rows whatever the
    * partitioning — and each row goes to its range's task by an exact
    * partitioner: an Int key k < n lands in partition k. */
  private def zWrite(df: DataFrame, zCode: Column, path: String,
                     partitions: Int, maxRecordsPerFile: Long,
                     mode: String): Unit = {
    val coded = df.withColumn("_z", zCode)
    val sample = coded.filter(col("_z").isNotNull)
      .orderBy(xxhash64(coded.columns.map(col): _*), col("_z"))
      .limit(100 * partitions).select(col("_z")).collect().map(_.getLong(0)).sorted
    val bounds = if (sample.isEmpty) Array.empty[Long]
      else (1 until partitions).map(i => sample(i * sample.length / partitions)).toArray
    val zAt = coded.schema.fieldIndex("_z")
    val ranged = coded.rdd
      // equal codes share a range; a NULL code (a NULL coordinate) sorts
      // first, as it does in the sort below
      .keyBy(r => if (r.isNullAt(zAt)) 0 else bounds.count(_ < r.getLong(zAt)))
      .partitionBy(new HashPartitioner(partitions)).values
    df.sparkSession.createDataFrame(ranged, coded.schema)
      .sortWithinPartitions(("_z" +: df.columns).map(col): _*)
      .drop("_z")
      .write.mode(mode)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(path)
  }
}
