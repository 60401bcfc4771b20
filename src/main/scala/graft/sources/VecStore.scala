package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.KMeans

/** IVF-partitioned embedding storage — the at-rest layout for ANN search
  * at 100 TB, completing the layout trio with [[graft.argo.AtlasStore]]
  * (spatial bins) and [[DocStore]] (content fingerprint).
  *
  * The q44/q45 inverted-file queries already score only the nProbe
  * nearest cells, but from a plain store the scan still READS the whole
  * corpus before the cell filter drops it. Landing vectors partitioned
  * by their trained coarse-quantizer cell turns the cell filter into
  * partition PRUNING: a probe of nProbe cells out of k reads ~nProbe/k
  * of the files — the IVF promise applied to the storage layer, where at
  * 100 TB the scan itself is the dominant cost. (Directory partitioning,
  * not bucketing: the win is skipping bytes, not skipping a shuffle —
  * cell cardinality is low and probe joins broadcast.)
  */
object VecStore {
  /** embeddings + `cell` id from a trained coarse quantizer — delegated
    * to [[KMeans.withCell]], the same assignment the q45 oracle verifies. */
  def assign(embs: DataFrame, model: Array[Array[Double]]): DataFrame =
    KMeans.withCell(embs.drop("cell"), model, "embedding")

  /** Land `embs` under `path` partitioned by quantizer cell, plus the
    * quantizer itself as the `_ivfmodel` sidecar (underscore-hidden from
    * partition discovery, doubles round-trip parquet bit-exactly): a
    * fresh session routes probes and appends deltas WITHOUT re-running a
    * single Lloyd iteration — at 100 TB the fit is a corpus-scale scan
    * per iteration, exactly the once-per-ingest cost this store exists
    * to amortize. Pick the quantizer k so one cell's vectors fit an
    * executor comfortably at the target scale (k grows with the corpus;
    * re-train and re-land to re-balance). */
  def savePartitioned(embs: DataFrame, model: Array[Array[Double]],
                      path: String): Unit = {
    assign(embs, model).write.mode("overwrite").partitionBy("cell").parquet(path)
    val s = embs.sparkSession
    import s.implicits._
    model.zipWithIndex.toSeq.map { case (c, j) => (j, c.toSeq) }
      .toDF("j", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_ivfmodel")
  }

  def hasIvfModel(s: SparkSession, path: String): Boolean =
    exists(s, s"$path/_ivfmodel")

  /** Whether a store root exists at all — the conf-guard check. */
  def storeExists(s: SparkSession, path: String): Boolean = exists(s, path)

  /** Filesystem-agnostic existence check through the session's Hadoop
    * conf — java.nio would answer false for every hdfs://s3a:// store,
    * silently re-fitting what the sidecar exists to amortize. */
  private def exists(s: SparkSession, p: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(s.sessionState.newHadoopConf()).exists(hp)
  }

  /** The landed routing quantizer — a driver-held model bounded at
    * cells×dim doubles (KBs). */
  def loadIvfModel(s: SparkSession, path: String): Array[Array[Double]] =
    s.read.parquet(s"$path/_ivfmodel").select("j", "vec").collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)

  /** Per-ingest increment: route the BATCH by the FROZEN quantizer (the
    * q122 rule — re-training per batch would re-route and re-land the
    * whole at-rest corpus) and append it into the cell directories.
    * O(batch) bytes written, the stored corpus untouched, and an
    * appended vector is partition-prunable the sync it lands. Re-train
    * and re-land to re-balance when a deployment's drift warrants, as
    * with any IVF index. */
  def appendPartitioned(embsBatch: DataFrame, model: Array[Array[Double]],
                        path: String): Unit =
    assign(embsBatch, model).write.mode("append").partitionBy("cell").parquet(path)

  /** Fails fast inside a [[Stores.compactPartitions]] window (the
    * root-level `_compact_lock`) instead of scanning half-swapped cell
    * directories. */
  def load(s: SparkSession, path: String): DataFrame = {
    Stores.assertNotCompacting(s,
      new org.apache.hadoop.fs.Path(path))
    s.read.parquet(path)
  }

  // ---- PQ sidecar --------------------------------------------------------
  // The codes ARE the search-time corpus for IVF-PQ (q78): 8 B/vector vs
  // 256 B of float32 — at 100 TB the difference between an index that
  // fits the cluster's memory and one that doesn't. Landing them (plus
  // the two trained quantizers) beside the vectors completes the
  // at-rest story: a fresh session searches without re-encoding the
  // corpus or re-running a single Lloyd iteration. Sidecar directories
  // are underscore-prefixed so the vectors' partition discovery over
  // the same root ignores them (Spark hides `_`/`.` children at
  // listing), and the codes are themselves partitioned by coarse cell —
  // the probed-cells scan prunes code FILES exactly as it prunes vector
  // files.

  /** Land the PQ sidecar: `codes` must carry (vec_id, cell: int,
    * code: binary) — the verified IVF-PQ encoding (built by the SAME
    * construction q78 runs in-query, so stored codes cannot drift). */
  def savePqSidecar(s: SparkSession, codes: DataFrame,
                    coarse: Array[Array[Double]],
                    books: Array[Array[Array[Double]]], path: String): Unit = {
    codes.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/_pqcodes")
    import s.implicits._
    // quantizer tables as rows (kind, subspace m, codeword j, vector):
    // doubles round-trip parquet bit-exactly, so a loaded model IS the
    // fitted one and store-path results stay bit-identical
    val rows =
      coarse.zipWithIndex.toSeq.map { case (c, j) => ("coarse", 0, j, c.toSeq) } ++
        books.zipWithIndex.toSeq.flatMap { case (bk, m) =>
          bk.zipWithIndex.toSeq.map { case (c, j) => ("book", m, j, c.toSeq) }
        }
    rows.toDF("kind", "m", "j", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_pqmodel")
  }

  def hasPqSidecar(s: SparkSession, path: String): Boolean =
    exists(s, s"$path/_pqcodes")

  def loadPqCodes(s: SparkSession, path: String): DataFrame =
    s.read.parquet(s"$path/_pqcodes")

  /** (coarse centroids, per-subspace codebooks) — a driver-held model,
    * bounded at cells×dim + m×k×subdim doubles (KBs). */
  def loadPqModel(s: SparkSession, path: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val rows = s.read.parquet(s"$path/_pqmodel")
      .select("kind", "m", "j", "vec").collect()
    val coarse = rows.filter(_.getString(0) == "coarse").sortBy(_.getInt(2))
      .map(_.getSeq[Double](3).toArray)
    val books = rows.filter(_.getString(0) == "book")
      .groupBy(_.getInt(1)).toSeq.sortBy(_._1)
      .map { case (_, rs) =>
        rs.sortBy(_.getInt(2)).map(_.getSeq[Double](3).toArray)
      }
      .toArray
    (coarse, books)
  }
}
