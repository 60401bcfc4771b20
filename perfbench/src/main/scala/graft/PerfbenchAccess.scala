package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one engine-internal call the benchmark makes: q36's LSH candidate
  * pairs, the frame the engine's own bench counts as `q36cand`. */
object PerfbenchAccess {
  def q36Candidates(s: SparkSession, corpusDir: String): DataFrame =
    queries.TextQueries.scale10Candidates("q36_ngram_jaccard")(s, corpusDir)
}
