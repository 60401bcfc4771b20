package perfbench

import java.util.SplittableRandom

/** Seeded document corpus for the q36 near-duplicate workload, plus an
  * exact all-pairs oracle that shares no code with the engine.
  *
  * The base corpus has the statistics of the project's `documents` test
  * table: a 30-word vocabulary, 10 to 100 words per document, equal-sized
  * sources, five languages, and a small share of edited copies of earlier
  * documents in the same source. The base is then blown up ten times the
  * way the engine's scale-10 tier does it: replica `r` shifts `doc_id` by
  * `r × n` and appends the token `v<r>`, so every base document becomes a
  * ten-document near-duplicate clique. The content comes from
  * `Spec.contentSeed`; the seed `generate` is given only shuffles the rows.
  */
object Corpus {
  final case class Doc(doc_id: Long, text: String, lang: String, source: String,
                       n_chars: Long)

  /** A q36 result row: same-source pair and its Jaccard in micro-units. */
  final case class Pair(source: String, d1: Long, d2: Long, jaccard_u: Long)

  private val Vocab = Array("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")
  private val Langs = Array("en", "en", "en", "zh", "es", "fr", "de")

  final case class Spec(baseDocs: Int, docsPerSource: Int, replicas: Int = 10,
                        contentSeed: Long = 36)

  def generate(seed: Long, spec: Spec): IndexedSeq[Doc] = {
    val r = new SplittableRandom(spec.contentSeed)
    val nSources = math.max(1, spec.baseDocs / spec.docsPerSource)
    val base = new Array[Doc](spec.baseDocs)
    for (i <- base.indices) {
      val source = s"src${i % nSources}"
      val words =
        if (i >= nSources && r.nextInt(100) < 3) {
          // edited copy of an earlier document of the same source
          val src = base(i - nSources * (1 + r.nextInt(i / nSources)))
          val w = src.text.split(' ').clone()
          w(r.nextInt(w.length)) = Vocab(r.nextInt(Vocab.length))
          w :+ "dup"
        } else Array.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.length)))
      val text = words.mkString(" ")
      base(i) = Doc(i, text, Langs(r.nextInt(Langs.length)), source, text.length)
    }
    val n = spec.baseDocs.toLong
    val all = for (rep <- 0 until spec.replicas; d <- base) yield
      if (rep == 0) d
      else {
        val text = s"${d.text} v$rep"
        d.copy(doc_id = d.doc_id + rep * n, text = text, n_chars = text.length)
      }
    shuffle(all.toArray, new SplittableRandom(seed)).toIndexedSeq
  }

  private def shuffle[T](a: Array[T], r: SplittableRandom): Array[T] = {
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1
    }
    a
  }

  /** FNV-1a over the UTF-16 units: the oracle's own shingle hash. */
  private def fnv(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h = (h ^ s.charAt(i)) * 0x100000001b3L; i += 1 }
    h
  }

  /** Sorted distinct word-bigram hashes, words split on whitespace after
    * lower-casing (the q36 definition of a 2-shingle). */
  def bigrams(text: String): Array[Long] = {
    val w = text.toLowerCase.split("\\s+", -1)
    if (w.length < 2) Array.empty
    else Array.tabulate(w.length - 1)(i => fnv(w(i) + " " + w(i + 1))).distinct.sorted
  }

  private def roundHalfAway(d: Double): Long =
    if (d >= 0) math.floor(d + 0.5).toLong else -math.floor(-d + 0.5).toLong

  /** Every same-source pair whose bigram Jaccard is at least 0.2, by
    * brute force over all pairs of each source. */
  def expectedPairs(docs: Seq[Doc], minMicro: Long = 200000L): Set[Pair] = {
    val out = Set.newBuilder[Pair]
    docs.groupBy(_.source).foreach { case (source, ds) =>
      val sorted = ds.sortBy(_.doc_id).toArray
      val sets = sorted.map(d => bigrams(d.text))
      for (a <- sorted.indices; b <- a + 1 until sorted.length) {
        val (x, y) = (sets(a), sets(b))
        var i = 0; var j = 0; var inter = 0
        while (i < x.length && j < y.length) {
          if (x(i) == y(j)) { inter += 1; i += 1; j += 1 }
          else if (x(i) < y(j)) i += 1 else j += 1
        }
        val union = x.length + y.length - inter
        if (union > 0) {
          val ju = roundHalfAway(inter.toDouble / union * 1e6)
          if (ju >= minMicro) out += Pair(source, sorted(a).doc_id, sorted(b).doc_id, ju)
        }
      }
    }
    out.result()
  }
}
