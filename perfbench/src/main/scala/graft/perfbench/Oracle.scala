package graft.perfbench

import scala.collection.mutable

/** Independent recomputation of the engine's answers, written against
  * the reference semantics rather than the engine's code: its own
  * tokenizer (lowercase [a-z0-9_] runs, 1-based positions counting
  * stop words, the 33-word English stop set removed), BM25 with
  * k1 = 1.2, b = 0.75 and idf = ln(1 + (N − df + 0.5)/(df + 0.5)),
  * phrase matching by in-order position chains, and results ordered by
  * (score desc, docId asc). */
object Oracle {
  val Stop: Set[String] = Set(
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if", "in", "into",
    "is", "it", "no", "not", "of", "on", "or", "such", "that", "the", "their", "then",
    "there", "these", "they", "this", "to", "was", "will", "with")

  /** Raw tokens, stop words included (position source of truth). */
  def rawTokens(text: String): Array[String] = {
    val s = text.toLowerCase(java.util.Locale.ROOT)
    val out = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < s.length) {
      while (i < s.length && !isTokenChar(s.charAt(i))) i += 1
      val start = i
      while (i < s.length && isTokenChar(s.charAt(i))) i += 1
      if (i > start) out += s.substring(start, i)
    }
    out.toArray
  }

  private def isTokenChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_'

  /** Emitted (term, 1-based position) pairs: stop words leave gaps. */
  def emitted(text: String): Iterator[(String, Int)] =
    rawTokens(text).iterator.zipWithIndex
      .collect { case (t, i) if !Stop(t) => (t, i + 1) }

  /** Distinct token 3-gram shingles (stop words included). */
  def shingles(text: String): Set[String] =
    rawTokens(text).sliding(3).collect { case Array(a, b, c) => s"$a $b $c" }.toSet

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val i = a.count(b.contains)
    i.toDouble / (a.size + b.size - i).toDouble
  }

  def bm25(tf: Double, df: Double, dl: Double, n: Double, avgdl: Double): Double =
    math.log(1.0 + (n - df + 0.5) / (df + 0.5)) * tf / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))

  /** Greedy phrase-start count: a start p0 of slot 0 matches when an
    * in-order chain p0 < p1 < ... exists within span (k − 1) + slop;
    * with slop 0 the chain must be consecutive. */
  def phraseTf(posPerSlot: Seq[Array[Int]], slop: Int): Int = {
    if (posPerSlot.exists(_.isEmpty)) return 0
    val k = posPerSlot.length
    posPerSlot.head.count { p0 =>
      if (slop == 0) (1 until k).forall(j => posPerSlot(j).contains(p0 + j))
      else {
        var prev = p0
        var ok = true
        var j = 1
        while (ok && j < k) {
          posPerSlot(j).find(_ > prev) match {
            case Some(p) => prev = p
            case None => ok = false
          }
          j += 1
        }
        ok && prev - p0 <= k - 1 + slop
      }
    }
  }

  /** A query answer: up to k (docId, score) rows in rank order. */
  type Hits = Seq[(Long, Double)]

  /** Rank identity of an engine answer with the oracle's ranking.
    * `ranked` holds the oracle's top rows plus every row tied with the
    * k-th within floating-point tolerance. Scores may differ in the
    * last bits (summation order, libm); docIds must agree position by
    * position except inside a group of near-equal (not bit-equal)
    * scores. */
  def rankIdentical(engine: Hits, ranked: Hits, k: Int): Boolean = {
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    val want = ranked.take(k)
    val oracleScore = ranked.toMap
    engine.length == want.length &&
      engine.map(_._1).distinct.length == engine.length &&
      engine.zip(want).forall { case ((ed, es), (od, os)) =>
        close(es, os) && oracleScore.get(ed).exists { s =>
          close(s, es) && (ed == od || s != os)
        }
      }
  }
}

/** The oracle's view of a corpus: N, avgdl, per-doc length and facet
  * value, and the positions of a chosen set of terms. Built by
  * tokenizing every document on the driver once; holds only the
  * positions of the terms the benchmark will ask about. */
final class OracleIndex(docs: Iterator[(Long, String, String)], keep: String => Boolean) {
  val dl = mutable.LongMap.empty[Int]
  val facet = mutable.LongMap.empty[String]
  /** term → docId → ascending positions. */
  val postings = mutable.HashMap.empty[String, mutable.LongMap[Array[Int]]]

  locally {
    docs.foreach { case (id, text, value) =>
      var n = 0
      val local = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
      Oracle.emitted(text).foreach { case (t, p) =>
        n += 1
        if (keep(t)) local.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += p
      }
      dl(id) = n
      facet(id) = value
      local.foreach { case (t, ps) =>
        postings.getOrElseUpdate(t, mutable.LongMap.empty)(id) = ps.toArray
      }
    }
  }

  val n: Double = dl.size.toDouble
  val avgdl: Double = if (dl.isEmpty) 0.0 else dl.valuesIterator.map(_.toDouble).sum / n

  def df(t: String): Double = postings.get(t).map(_.size.toDouble).getOrElse(0.0)
  def docsWith(t: String): Iterable[Long] = postings.get(t).map(_.keys).getOrElse(Nil)
  def terms: Iterable[String] = postings.keys

  private def tf(t: String, d: Long): Int =
    postings.get(t).flatMap(_.get(d)).map(_.length).getOrElse(0)

  private def contrib(t: String, d: Long): Double =
    Oracle.bm25(tf(t, d).toDouble, df(t), dl(d).toDouble, n, avgdl)

  /** Boolean BM25: docs with every `must` term, at least one scoring
    * term when there is no must, none of `mustNot`; the score sums the
    * matched terms of must ∪ should in sorted-term order. */
  def boolean(should: Seq[String], must: Seq[String], mustNot: Seq[String]): Map[Long, Double] = {
    val q = (should ++ must).distinct.sorted
    val cands: Iterable[Long] =
      if (must.nonEmpty) must.distinct.map(t => docsWith(t).toSet).reduce(_ intersect _)
      else q.flatMap(docsWith).distinct
    val excluded = mustNot.flatMap(docsWith).toSet
    cands.iterator.filterNot(excluded).map { d =>
      d -> q.iterator.filter(tf(_, d) > 0).map(contrib(_, d)).sum
    }.toMap
  }

  def or(terms: Seq[String]): Map[Long, Double] = boolean(terms, Nil, Nil)
  def and(terms: Seq[String]): Map[Long, Double] = boolean(Nil, terms, Nil)

  /** Phrase as one pseudo-term: tf = matching starts, df = docs with a
    * match. */
  def phrase(slots: Seq[String], slop: Int): Map[Long, Double] = {
    val cands = slots.distinct.map(t => docsWith(t).toSet).reduce(_ intersect _)
    val tfs = cands.iterator.map { d =>
      d -> Oracle.phraseTf(slots.map(t => postings(t)(d)), slop)
    }.filter(_._2 > 0).toMap
    val pdf = tfs.size.toDouble
    tfs.map { case (d, f) => d -> Oracle.bm25(f.toDouble, pdf, dl(d).toDouble, n, avgdl) }
  }

  /** Facet: (value, count) over docs containing any of `terms`, by
    * count desc then value asc. */
  def facetCounts(terms: Seq[String], topN: Int): Seq[(String, Long)] =
    terms.flatMap(docsWith).distinct.groupBy(facet(_)).toSeq
      .map { case (v, ds) => (v, ds.length.toLong) }
      .sortBy { case (v, c) => (-c, v) }.take(topN)
}

object OracleIndex {
  /** Rows in rank order: the top k plus every row whose score is
    * within tolerance of the k-th (so a tie at the cut is judged with
    * all its members). */
  def ranked(scores: Map[Long, Double], k: Int): Oracle.Hits = {
    val all = scores.toSeq.sortBy { case (d, s) => (-s, d) }
    if (all.length <= k) all
    else {
      val cut = all(k - 1)._2
      all.take(k) ++ all.drop(k).takeWhile { case (_, s) =>
        math.abs(s - cut) <= 1e-9 * math.max(1.0, math.abs(cut))
      }
    }
  }
}
