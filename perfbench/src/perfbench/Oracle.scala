package perfbench

import graft.core.Hit

/** Exhaustive BM25 over the generated token streams, written apart from
  * the program: Lucene's idf, the byte315 length norm, k1 = 1.2, b = 0.75,
  * all in float with BM25Similarity's operation order; conjunctions and
  * disjunctions sum clause scores in double and round once to float, as
  * Lucene's ConjunctionScorer and DisjunctionSumScorer do; ties break by
  * docId ascending.
  *
  * `docCount` and `sumTtf` default to the corpus's own; `refresh` passes
  * the figures of the index it queries (see [[Refresh]]).
  */
final class Oracle(c: Corpus, docCount0: Long = -1, sumTtf0: Long = -1) {
  private val K1 = 1.2f
  private val B = 0.75f
  private val n = c.size

  val sumTtf: Long = if (sumTtf0 >= 0) sumTtf0 else c.lens.map(_.toLong).sum
  val docCount: Long = if (docCount0 >= 0) docCount0 else n.toLong

  /** Per term: ascending docIds and their term frequencies. */
  val (postDocs, postTfs): (Array[Array[Int]], Array[Array[Int]]) = {
    val v = c.vocab.length
    val cnt = new Array[Int](v)
    val tf = new Array[Int](v)
    c.toks.foreach { t =>
      t.foreach(x => tf(x) += 1)
      t.foreach { x => if (tf(x) > 0) { cnt(x) += 1; tf(x) = 0 } }
    }
    val docs = Array.tabulate(v)(t => new Array[Int](cnt(t)))
    val tfs = Array.tabulate(v)(t => new Array[Int](cnt(t)))
    val fill = new Array[Int](v)
    var d = 0
    while (d < n) {
      val t = c.toks(d)
      t.foreach(x => tf(x) += 1)
      t.foreach { x =>
        if (tf(x) > 0) {
          docs(x)(fill(x)) = d; tfs(x)(fill(x)) = tf(x); fill(x) += 1; tf(x) = 0
        }
      }
      d += 1
    }
    (docs, tfs)
  }
  def df(t: Int): Int = postDocs(t).length
  def ttf(t: Int): Long = postTfs(t).iterator.map(_.toLong).sum

  // --- Lucene's SmallFloat.floatToByte315 / byte315ToFloat ---
  private def toByte315(f: Float): Int = {
    val bits = java.lang.Float.floatToRawIntBits(f)
    val small = bits >> (24 - 3)
    val zero = (63 - 15) << 3
    if (small <= zero) (if (bits <= 0) 0 else 1)
    else if (small >= zero + 0x100) 255
    else small - zero
  }
  private def fromByte315(b: Int): Float =
    if (b == 0) 0f
    else java.lang.Float.intBitsToFloat((b << (24 - 3)) + ((63 - 15) << 24))

  private val lengthTable: Array[Float] = {
    val t = Array.tabulate(256)(i => if (i == 0) 0f else { val f = fromByte315(i); 1f / (f * f) })
    t(0) = 1f / t(255)
    t
  }
  private val avgdl: Float = (sumTtf / docCount.toDouble).toFloat
  private val normCache: Array[Float] =
    lengthTable.map(l => K1 * ((1 - B) + B * l / avgdl))
  private val docNorm: Array[Float] =
    c.lens.map(len => normCache(toByte315((1.0 / math.sqrt(len.toDouble)).toFloat)))

  private def idf(df: Long): Float =
    math.log(1 + (docCount - df + 0.5d) / (df + 0.5d)).toFloat
  private def bm25(weight: Float, freq: Float, doc: Int): Float =
    weight * freq / (freq + docNorm(doc))
  private def termWeight(t: Int): Float = idf(df(t)) * (K1 + 1)

  /** docId → score of one term. */
  private def termScores(t: Int): Map[Int, Float] = {
    val w = termWeight(t)
    postDocs(t).indices.map(i => postDocs(t)(i) -> bm25(w, postTfs(t)(i).toFloat, postDocs(t)(i))).toMap
  }

  private def docSet(t: Int): java.util.BitSet = {
    val b = new java.util.BitSet(n)
    postDocs(t).foreach(b.set)
    b
  }

  /** Every matching doc with its score, or None for shapes whose scores
    * this oracle does not model (prefix: only the match set is modelled,
    * see [[matches]]).
    */
  def scored(q: QSpec): Option[Map[Int, Float]] = q match {
    case TermS(_, t) => Some(termScores(t))
    case AndS(ts) =>
      val per = ts.map(termScores)
      Some(per.minBy(_.size).keysIterator
        .filter(d => per.forall(_.contains(d)))
        .map(d => d -> per.map(_(d).toDouble).sum.toFloat).toMap)
    case OrS(_, ts, msm) =>
      val per = ts.map(termScores)
      Some(per.flatMap(_.keys).distinct.flatMap { d =>
        val hit = per.filter(_.contains(d))
        if (hit.size >= math.max(msm, 1)) Some(d -> hit.map(_(d).toDouble).sum.toFloat)
        else None
      }.toMap)
    case NotS(must, not) =>
      val ex = docSet(not)
      Some(termScores(must).filter { case (d, _) => !ex.get(d) })
    case PhraseS(ts) =>
      var idfSum = 0f
      ts.foreach(t => idfSum += idf(df(t)))
      val w = idfSum * (K1 + 1)
      val cand = ts.map(docSet).reduce { (a, b) => val x = a.clone().asInstanceOf[java.util.BitSet]; x.and(b); x }
      val out = Map.newBuilder[Int, Float]
      var d = cand.nextSetBit(0)
      while (d >= 0) {
        val toks = c.toks(d)
        var freq = 0
        var i = 0
        while (i + ts.length <= toks.length) {
          if (ts.indices.forall(j => toks(i + j) == ts(j))) freq += 1
          i += 1
        }
        if (freq > 0) out += d -> bm25(w, freq.toFloat, d)
        d = cand.nextSetBit(d + 1)
      }
      Some(out.result())
    case _ => None
  }

  /** The docs a prefix query matches: every doc holding a term that starts
    * with the prefix.
    */
  def matches(q: PrefixS): java.util.BitSet = {
    val b = new java.util.BitSet(n)
    c.vocab.indices.foreach(t => if (c.vocab(t).startsWith(q.prefix)) postDocs(t).foreach(b.set))
    b
  }

  /** Top-k by score descending, then docId ascending. */
  def topK(all: Map[Int, Float], k: Int): Array[(Int, Float)] =
    all.toArray.sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)).take(k)
}

object Oracle {
  /** Two floats agree "to float32 rounding": within a few ulps. */
  def near(a: Float, b: Float): Boolean =
    math.abs(a - b) <= 4 * math.max(math.ulp(a), math.ulp(b))

  /** Null when `hits` is the right answer to `q`, else why not.
    * `count` is the program's total match count, needed for prefix only;
    * a negative count skips that comparison.
    */
  def check(o: Oracle, q: QSpec, hits: Array[Hit], count: => Long): String = {
    def ordered: Boolean = hits.indices.drop(1).forall { i =>
      val a = hits(i - 1); val b = hits(i)
      a.score > b.score || (a.score == b.score && a.docId < b.docId)
    }
    o.scored(q) match {
      case Some(all) =>
        val ref = o.topK(all, q.k)
        if (hits.length != ref.length) s"${hits.length} hits, expected ${ref.length}"
        else hits.indices.collectFirst {
          case i if !all.get(hits(i).docId.toInt).exists(s => near(s, hits(i).score.toFloat)) =>
            s"hit $i: doc ${hits(i).docId} score ${hits(i).score} vs ${all.get(hits(i).docId.toInt)}"
          case i if hits(i).docId != ref(i)._1 && !near(ref(i)._2, hits(i).score.toFloat) =>
            s"rank $i: doc ${hits(i).docId} (${hits(i).score}), expected ${ref(i)._1} (${ref(i)._2})"
        }.getOrElse(if (ordered) null else "hits out of order")
      case None =>
        val m = q match { case p: PrefixS => o.matches(p); case _ => sys.error(s"no oracle for $q") }
        val total = m.cardinality()
        if (hits.exists(h => !m.get(h.docId.toInt))) "a hit does not match"
        else if (hits.length != math.min(q.k, total)) s"${hits.length} hits of $total matches"
        else if (!ordered) "hits out of order"
        else if (count >= 0 && count != total) s"count $count, expected $total"
        else null
    }
  }
}
