package perfbench

import graft.search.{BoolQ, PhraseQ, PrefixQ, Query, TermQ}

/** A query of the stream, over vocabulary ranks. */
sealed trait QSpec {
  def shape: String
  def k: Int = Queries.K
  def toQuery(vocab: Array[String]): Query
}
final case class TermS(shape: String, t: Int) extends QSpec {
  def toQuery(v: Array[String]): Query = TermQ(v(t))
}
final case class AndS(ts: Seq[Int]) extends QSpec {
  def shape = "and"
  def toQuery(v: Array[String]): Query = BoolQ(must = ts.map(t => TermQ(v(t))))
}
final case class OrS(shape: String, ts: Seq[Int], msm: Int) extends QSpec {
  def toQuery(v: Array[String]): Query =
    BoolQ(should = ts.map(t => TermQ(v(t))), minShouldMatch = msm)
}
final case class NotS(must: Int, not: Int) extends QSpec {
  def shape = "not"
  def toQuery(v: Array[String]): Query =
    BoolQ(must = Seq(TermQ(v(must))), mustNot = Seq(TermQ(v(not))))
}
final case class PhraseS(ts: Seq[Int]) extends QSpec {
  def shape = "phrase"
  def toQuery(v: Array[String]): Query = PhraseQ(ts.map(v))
}
final case class PrefixS(prefix: String) extends QSpec {
  def shape = "prefix"
  def toQuery(v: Array[String]): Query = PrefixQ(prefix)
}
/** A probe query of `refresh`: one probe path's marker term. */
final case class ProbeS(p: Int) extends QSpec {
  def shape = "probe"
  def toQuery(v: Array[String]): Query = TermQ(Gen.probeTerm(p))
}

/** The seeded query stream. Terms are picked by df bands counted here from
  * the generated token streams (never from the program):
  *
  *  - hot: df >= the salt threshold (N/2), so the list is salted;
  *  - mid: N/100 <= df < N/10;
  *  - rare: 2 <= df <= max(3, N/1000).
  *
  * The stream repeats a fixed 10-slot shape pattern, so every window sees
  * the same shape mix; within a shape, each slot draws one of
  * `PerShape` distinct queries with Zipf(0.5) popularity.
  */
final class Queries(c: Corpus, seed: Long, saltThreshold: Long) {
  import Queries._

  val df: Array[Int] = {
    val d = new Array[Int](c.vocab.length)
    val seen = new Array[Int](c.vocab.length)
    java.util.Arrays.fill(seen, -1)
    var i = 0
    while (i < c.size) {
      val t = c.toks(i)
      var j = 0
      while (j < t.length) {
        if (seen(t(j)) != i) { seen(t(j)) = i; d(t(j)) += 1 }
        j += 1
      }
      i += 1
    }
    d
  }

  private val n = c.size
  private def band(lo: Long, hi: Long): Array[Int] =
    df.indices.filter(t => df(t) >= lo && df(t) <= hi).toArray
  val hot: Array[Int] = band(saltThreshold, Long.MaxValue)
  val mid: Array[Int] = band(math.max(2, n / 100), n / 10 - 1)
  val rare: Array[Int] = band(2, math.max(3, n / 1000))
  require(hot.nonEmpty && mid.length >= 8 && rare.nonEmpty,
    s"df bands too thin: hot=${hot.length} mid=${mid.length} rare=${rare.length}")

  private val rnd = new java.util.Random(seed * 7919 + 17)
  private def pick(a: Array[Int]): Int = a(rnd.nextInt(a.length))
  private def distinct(k: Int, a: Array[Int]): Seq[Int] = {
    val s = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (s.size < k) s += pick(a)
    s.toSeq
  }

  private def phrase(): PhraseS = {
    var out: PhraseS = null
    while (out == null) {
      val d = c.toks(rnd.nextInt(n))
      val len = 2 + rnd.nextInt(2)
      if (d.length > len) {
        val i = rnd.nextInt(d.length - len)
        val ts = d.slice(i, i + len).toSeq
        if (ts.distinct.size == len && ts.forall(t => df(t) >= n / 200))
          out = PhraseS(ts)
      }
    }
    out
  }

  private lazy val present: Array[String] =
    df.indices.filter(df(_) > 0).map(c.vocab).sorted.toArray
  private def prefix(): PrefixS = {
    var out: PrefixS = null
    while (out == null) {
      val w = c.vocab(pick(mid))
      val len = 2 + rnd.nextInt(2)
      if (w.length > len) {
        val p = w.take(len)
        val terms = present.count(_.startsWith(p))
        if (terms >= 2 && terms <= 200) out = PrefixS(p)
      }
    }
    out
  }

  private def make(shape: String): QSpec = shape match {
    case "term_hot" => TermS(shape, pick(hot))
    case "term_mid" => TermS(shape, pick(mid))
    case "term_rare" => TermS(shape, pick(rare))
    case "and" => AndS(Seq(if (rnd.nextBoolean()) pick(hot) else pick(mid), pick(mid)).distinct)
    case "or" => OrS(shape, Seq(pick(hot), pick(mid), pick(rare)), 0)
    case "or_msm" => OrS(shape, distinct(4, mid), 2)
    case "not" => NotS(pick(mid), pick(hot))
    case "phrase" => phrase()
    case "prefix" => prefix()
  }

  /** shape → its distinct queries, most popular first. */
  val pool: Map[String, Array[QSpec]] = Shapes.map { s =>
    val qs = scala.collection.mutable.LinkedHashSet.empty[QSpec]
    var tries = 0
    while (qs.size < PerShape && tries < PerShape * 50) { qs += make(s); tries += 1 }
    s -> qs.toArray
  }.toMap

  /** The first `len` queries of the stream. */
  def stream(len: Int): Array[QSpec] = {
    val r = new java.util.Random(seed * 104729 + 3)
    val cdf = pool.map { case (s, qs) =>
      val w = qs.indices.map(i => 1.0 / math.sqrt(i + 1.0)).scanLeft(0.0)(_ + _).tail
      s -> w.map(_ / w.last).toArray
    }
    Array.tabulate(len) { i =>
      val shape = Pattern(i % Pattern.length)
      val j = java.util.Arrays.binarySearch(cdf(shape), r.nextDouble())
      pool(shape)(math.min(if (j >= 0) j else -j - 1, pool(shape).length - 1))
    }
  }

  def allQueries: Seq[QSpec] = Shapes.flatMap(s => pool(s).toSeq)
}

object Queries {
  val K = 10
  val PerShape = 64
  val Shapes: Seq[String] = Seq("term_hot", "term_mid", "term_rare", "and",
    "or", "or_msm", "not", "phrase", "prefix")
  /** Shares: term_mid 2 of 10, every other shape 1 of 10. */
  val Pattern: Array[String] = Array("term_hot", "term_mid", "and", "or",
    "term_rare", "phrase", "not", "term_mid", "or_msm", "prefix")
}
