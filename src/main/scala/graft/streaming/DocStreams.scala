package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming document dedup — the near-duplicate twin of
  * [[EventStreams.dedupFirstSeen]].
  *
  * Written once against an unbounded frame: in batch it is a plain
  * aggregation; under streaming the state is ONE row per distinct LSH
  * band bucket (min + count are order-independent, so arrival order
  * cannot change the converged result — StreamingSpec replays a batch
  * through MemoryStream and asserts equality). At corpus scale bucket
  * cardinality is the state bound, tuned by the same band/row knobs as
  * the batch near-dup family; an ingest pipeline keeps this running and
  * gets "is this new document a near-dup of ANYTHING seen so far"
  * without rescanning the corpus.
  */
object DocStreams {
  /** First-seen doc per LSH band bucket. `bands` must carry
    * (doc_id, band, key) — built by the SHARED band construction
    * ([[graft.queries.TextQueries.minhashBandFrame]]); a second copy
    * drifting would bucket stream-side docs differently from the batch
    * dedup and silently miss duplicates. */
  def bucketFirstSeen(bands: DataFrame): DataFrame =
    bands.groupBy(col("band"), col("key"))
      .agg(min(col("doc_id")).as("first_id"),
        count(lit(1)).as("n_docs"))

  /** Per-shard corpus manifest: (row count, order-invariant XOR
    * checksum over the id-qualified content fingerprint) — THE manifest
    * construction shared by the batch diff (q115), the incremental
    * merge (q116) and the streaming maintenance path; a drifted copy
    * would checksum the same corpus differently and report phantom
    * changes. Written once against an unbounded frame: in batch it is a
    * plain aggregation; under streaming both aggregates are
    * order-independent monoids (count adds, XOR self-inverts nothing it
    * hasn't seen), so state is ONE row per shard — `shards` rows total,
    * whatever the corpus size — and arrival order cannot change the
    * converged manifest (StreamingSpec replays a batch through
    * MemoryStream and asserts equality). `df` must carry
    * (doc_id, text). */
  def shardManifest(df: DataFrame, shards: Long): DataFrame =
    df.select(
        (col("doc_id") * 48271L % 2147483647L % shards).as("shard"),
        // the SHARED nfc-aware fingerprint (DocStore.fpExpr, like every
        // fp-producing surface): a manifest built from raw bytes would
        // report a phantom "changed" shard when a re-crawl returns the
        // same text recomposed — the q131 form-stability rule applied to
        // change detection
        graft.sources.DocStore.fpExpr(
          concat(col("doc_id").cast("string"), lit(":"), col("text")))
          .as("rh"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(rh)").as("x"))
}
