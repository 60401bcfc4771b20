package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic distributed BPE tokenizer training (Sennrich et al. 2016,
  * the subword scheme GPT/Llama-family tokenizers build on).
  *
  * Classic BPE trains on the WORD HISTOGRAM, not the raw token stream: the
  * corpus collapses to (word, count) once — a wordcount shuffle — and every
  * training iteration scans only that (persisted) table. Each iteration:
  *
  *  - symbolize every word under the merges learned so far (a narrow map;
  *    re-derived from the word each pass, so no mutable distributed state),
  *  - count adjacent symbol pairs weighted by word count (groupBy with
  *    map-side combine — reducer input is O(partitions × distinct pairs)),
  *  - take the best pair with a FULL deterministic order (count desc, then
  *    left/right lexicographic — a distributed TakeOrdered, never a global
  *    sort), and append it to the merge list on the driver.
  *
  * Mirrors the [[KMeans]] discipline: per-iteration driver traffic is the
  * MODEL (one pair), corpus-scale data never leaves the executors, integer
  * weights make every count partition-invariant, and the iteration count is
  * fixed — so the learned merge table is bit-reproducible under any
  * parallelism, at any scale. At 100 TB the word histogram is the only
  * corpus-sized job; its distinct-word output is orders of magnitude
  * smaller and iterations price on IT.
  */
object Bpe {

  /** End-of-word marker appended to every word's symbol sequence, so merges
    * can distinguish word-final from word-internal contexts. */
  val EndOfWord = "</w>"

  final case class Merge(step: Int, left: String, right: String, count: Long)

  /** Split `w` to characters + the end marker, then replay `merges` in
    * learned order, each applied greedily left-to-right (the standard BPE
    * application; overlapping occurrences consume the leftmost first). */
  def symbolize(w: String, merges: Seq[(String, String)]): Array[String] =
    applyMerges((w.map(_.toString) :+ EndOfWord).toArray, merges)

  /** Per-JVM (= per-executor) symbolization memo. A map captured in a UDF
    * closure is deserialized fresh for every task, so it can only ever be
    * a per-TASK memo; holding the caches in this JVM singleton makes the
    * Zipf amortization real — every task on an executor shares one memo.
    * Keyed by the merge table itself (structural Vector equality — an Int
    * fingerprint could collide across vocabularies and silently return
    * another vocabulary's tokenization), so concurrent queries with
    * different trained tables never share entries. Bounded two ways: at
    * most a handful of vocabularies are retained, and callers cap the
    * per-vocabulary entry count before inserting. */
  private val symCaches =
    new java.util.concurrent.ConcurrentHashMap[Vector[(String, String)],
      java.util.concurrent.ConcurrentHashMap[String, Array[String]]]()

  def symCacheFor(merges: Vector[(String, String)])
      : java.util.concurrent.ConcurrentHashMap[String, Array[String]] = {
    // evict only OTHER vocabularies: a blanket clear() also dropped the
    // entries of every vocabulary a CONCURRENT query was actively using —
    // a thundering-herd recompute for each of them (not a correctness
    // bug: the memo only amortizes). Iteration races are benign here
    // (ConcurrentHashMap weakly-consistent iterator; worst case an entry
    // survives one extra call or is recomputed once).
    if (symCaches.size > 4) {
      val it = symCaches.keySet().iterator()
      while (symCaches.size > 4 && it.hasNext) {
        if (it.next() != merges) it.remove()
      }
    }
    symCaches.computeIfAbsent(merges,
      _ => new java.util.concurrent.ConcurrentHashMap[String, Array[String]]())
  }

  /** Serializable handle to the per-JVM symbolization memo for ONE merge
    * table: a closure captures this handle (just the merge table rides
    * the wire); the cache itself is resolved from the JVM singleton ONCE
    * per task deserialization (transient lazy), not once per row —
    * resolving inside the row lambda re-hashed the entire merge Vector
    * for the [[symCacheFor]] lookup on every single row. */
  final class SymbolizeCached(merges: Vector[(String, String)])
      extends Serializable {
    @transient private lazy val cache = symCacheFor(merges)
    /** Capped so a pathological vocabulary degrades to recompute, never
      * to OOM. */
    def apply(w: String): Array[String] =
      if (cache.size < (1 << 20))
        cache.computeIfAbsent(w, symbolize(_, merges))
      else symbolize(w, merges)
  }

  /** Replay `merges` in order over a symbol sequence, each applied greedily
    * left-to-right. Shared by [[symbolize]] and the driver fast path. */
  private[graft] def applyMerges(syms0: Array[String],
                                     merges: Seq[(String, String)]): Array[String] = {
    var syms = syms0
    merges.foreach { case (l, r) =>
      val out = Array.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += syms(i); i += 1 }
      }
      syms = out.result()
    }
    syms
  }

  /** @param words (wordCol: string, countCol: long) — the corpus word
    *              histogram; persisted internally for the training loop.
    * @param allowDriverFastPath false pins the distributed loop even for
    *              histograms under the broadcast cap (so the loop can be
    *              tested on driver-sized data — same contract as
    *              [[Graph.connectedComponents]])
    * @return the learned merge table, in training order */
  def train(words0: DataFrame, wordCol: String, countCol: String,
            nMerges: Int, allowDriverFastPath: Boolean = true): Seq[Merge] = {
    val words = words0.select(col(wordCol).as("w"), col(countCol).as("wc"))
      .persist()
    try {
      // Size-conditional, like Graph.connectedComponents: a word histogram
      // under the broadcast row cap trains ON THE DRIVER — the distributed
      // loop costs ~2 jobs per merge, pure orchestration overhead for an
      // in-memory problem (this is how reference tokenizer trainers work:
      // the histogram, not the corpus, is the training set, and it is
      // orders smaller). Same counts, same total tie order, so the learned
      // table is bit-identical to the loop's (asserted in BpeSpec).
      if (allowDriverFastPath && words.count() <= Joins.maxRows(words)) {
        val rows = words.collect()
          .map(r => (r.getString(0), r.getLong(1)))
        return trainDriver(rows, nMerges)
      }
      val merges = Seq.newBuilder[Merge]
      var learned: Seq[(String, String)] = Vector.empty
      var step = 0
      var exhausted = false
      while (step < nMerges && !exhausted) {
        val cur = learned // immutable snapshot for the closure
        val symsUdf = udf((w: String) => symbolize(w, cur))
        val best = words
          .select(col("wc"), symsUdf(col("w")).as("syms"))
          .filter(size(col("syms")) >= 2)
          .select(col("wc"), explode(expr(
            "transform(sequence(1, size(syms) - 1), " +
              "i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))"))
            .as("p"))
          .groupBy(col("p.l").as("left"), col("p.r").as("right"))
          .agg(sum(col("wc")).as("cnt"))
          .orderBy(col("cnt").desc, col("left"), col("right"))
          .limit(1)
          .collect()
        if (best.isEmpty) exhausted = true // every word fully merged
        else {
          val r = best(0)
          val (l, rt, c) = (r.getString(0), r.getString(1), r.getLong(2))
          merges += Merge(step, l, rt, c)
          learned :+= (l, rt)
          step += 1
        }
      }
      merges.result()
    } finally words.unpersist(blocking = false)
  }

  /** Driver-side twin of the distributed loop: same weighted pair counts,
    * same (count desc, left, right) total order, same early stop — the
    * output must be bit-identical whichever path ran. */
  private def trainDriver(words: Array[(String, Long)],
                          nMerges: Int): Seq[Merge] = {
    val merges = Seq.newBuilder[Merge]
    var learned: Vector[(String, String)] = Vector.empty
    var step = 0
    var exhausted = false
    // symbolizations evolve incrementally: replay only the NEWEST merge
    // on each word instead of all merges from scratch every round
    val syms: Array[Array[String]] =
      words.map { case (w, _) => symbolize(w, Nil) }
    while (step < nMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      var i = 0
      while (i < syms.length) {
        val ss = syms(i)
        val wc = words(i)._2
        var j = 0
        while (j + 1 < ss.length) {
          val k = (ss(j), ss(j + 1))
          counts.update(k, counts.getOrElse(k, 0L) + wc)
          j += 1
        }
        i += 1
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        merges += Merge(step, l, r, c)
        learned :+= (l, r)
        val one = Array((l, r))
        i = 0
        while (i < syms.length) {
          syms(i) = applyMerges(syms(i), one)
          i += 1
        }
        step += 1
      }
    }
    merges.result()
  }
}
