package perfbench

import scala.collection.mutable

/** One input row: the `(repo, path, commit, lang, content)` table. */
final case class Doc(repo: String, path: String, commit: String, lang: String,
    content: String)

/** A generated corpus, sorted by (repo, path, commit) so that a row's index
  * is the docId graft assigns to it. `toks(i)` is row i's token stream as
  * vocabulary ranks: every identifier is a lowercase ASCII letter/digit run
  * and separators are never letters or digits, so the stream is known by
  * construction rather than by running a tokenizer. Probe rows carry their
  * two marker tokens outside the vocabulary: `toks` is empty for them and
  * `lens` holds their token count.
  */
final class Corpus(val docs: Array[Doc], val toks: Array[Array[Int]],
    val lens: Array[Int], val vocab: Array[String]) {
  def size: Int = docs.length
  lazy val contentBytes: Long =
    docs.iterator.map(_.content.getBytes("UTF-8").length.toLong).sum
}

/** Seeded input generator. Everything the program receives (rows and
  * queries) comes from here; the same seed gives the same inputs.
  *
  *  - identifiers: a long-tail vocabulary drawn with Zipf skew (s = 1.05),
  *    so a handful of terms pass the salt threshold and most are rare;
  *  - file lengths: log-normal (sigma = 1.1), rescaled so every seed has
  *    exactly `meanTokens * n` tokens;
  *  - ~10% of rows are later commits of an earlier (repo, path), with 10%
  *    of its tokens changed.
  */
final class Gen(seed: Long, vocabSize: Int = 30000) {
  import Gen._

  val vocab: Array[String] = {
    val rnd = new java.util.Random(seed * 31 + 1)
    val seen = mutable.HashSet.empty[String]
    val out = mutable.ArrayBuffer.empty[String]
    while (out.size < vocabSize) {
      val r = out.size
      val len = 2 + math.min(11, (math.log(r + 2) / math.log(4)).toInt) +
        rnd.nextInt(3)
      val sb = new StringBuilder
      sb.append(Letters(rnd.nextInt(26)))
      while (sb.length < len) sb.append(Alnum(rnd.nextInt(36)))
      val s = sb.toString
      if (seen.add(s)) out += s
    }
    out.toArray
  }

  private val zipfCdf: Array[Double] = {
    val c = new Array[Double](vocabSize)
    var acc = 0.0
    var r = 0
    while (r < vocabSize) {
      acc += 1.0 / math.pow(r + 1.0, 1.05)
      c(r) = acc
      r += 1
    }
    var i = 0
    while (i < vocabSize) { c(i) /= acc; i += 1 }
    c
  }

  def sampleRank(rnd: java.util.Random): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, vocabSize - 1)
  }

  /** Heavy-tailed lengths summing to exactly `n * meanTokens`. */
  private def lengths(rnd: java.util.Random, n: Int, meanTokens: Int): Array[Int] = {
    val sigma = 1.1
    val mu = math.log(meanTokens.toDouble) - sigma * sigma / 2
    val raw = Array.fill(n)(math.min(40.0 * meanTokens,
      math.exp(mu + sigma * rnd.nextGaussian())))
    val scale = n.toDouble * meanTokens / raw.sum
    val out = raw.map(x => math.max(4, math.round(x * scale).toInt))
    val diff = n.toLong * meanTokens - out.map(_.toLong).sum
    val big = out.indices.maxBy(out(_))
    out(big) = (out(big) + diff).toInt
    out
  }

  def render(rnd: java.util.Random, toks: Array[Int]): String = {
    val sb = new java.lang.StringBuilder(toks.length * 8)
    var i = 0
    while (i < toks.length) {
      if (i > 0) sb.append(Seps(rnd.nextInt(Seps.length)))
      sb.append(vocab(toks(i)))
      i += 1
    }
    sb.toString
  }

  private def hex40(rnd: java.util.Random): String = {
    val sb = new StringBuilder
    while (sb.length < 40) sb.append(f"${rnd.nextInt() & 0xffff}%04x")
    sb.toString
  }

  /** `n` rows with `meanTokens` tokens on average. `stream` separates
    * independent draws (the base corpus, each refresh batch) under one
    * seed; `recommits` lets rows be later commits of earlier rows.
    */
  def rows(n: Int, meanTokens: Int, stream: Int,
      recommits: Boolean = true): (Array[Doc], Array[Array[Int]]) = {
    val rnd = new java.util.Random(seed * 1000003L + stream)
    val lens = lengths(rnd, n, meanTokens)
    val docs = new Array[Doc](n)
    val toks = new Array[Array[Int]](n)
    val nRepos = math.max(4, n / 250)
    var i = 0
    while (i < n) {
      if (recommits && i > 0 && rnd.nextInt(10) == 0) {
        // a later commit of an earlier path: same length, 10% of tokens changed
        val j = rnd.nextInt(i)
        val t = toks(j).clone()
        var c = 0
        while (c < t.length / 10 + 1) { t(rnd.nextInt(t.length)) = sampleRank(rnd); c += 1 }
        toks(i) = t
        docs(i) = docs(j).copy(commit = hex40(rnd), content = render(rnd, t))
      } else {
        val t = Array.fill(lens(i))(sampleRank(rnd))
        toks(i) = t
        val lang = Langs(rnd.nextInt(Langs.length))
        docs(i) = Doc(f"org${rnd.nextInt(nRepos)}%03d/s$stream",
          f"src/m${rnd.nextInt(40)}%02d/f$i%06d.$lang", hex40(rnd), lang,
          render(rnd, t))
      }
      i += 1
    }
    (docs, toks)
  }

  /** The base table: `n` generated rows plus revision 0 of `probes` probe
    * rows, in docId order.
    */
  def corpus(n: Int, meanTokens: Int, probes: Int = 0): Corpus = {
    val (d0, t0) = rows(n, meanTokens, stream = 0)
    val extra = (0 until probes).map(p => Gen.probeDoc(p, 0))
    val docs = d0 ++ extra
    val toks = t0 ++ extra.map(_ => Array.empty[Int])
    val lensAll = t0.map(_.length) ++ extra.map(_ => 2)
    val order = docs.indices.sortWith { (a, b) =>
      val x = docs(a); val y = docs(b)
      val c1 = x.repo.compareTo(y.repo)
      if (c1 != 0) c1 < 0
      else {
        val c2 = x.path.compareTo(y.path)
        if (c2 != 0) c2 < 0 else x.commit.compareTo(y.commit) < 0
      }
    }
    new Corpus(order.map(docs).toArray, order.map(toks).toArray,
      order.map(lensAll).toArray, vocab)
  }
}

object Gen {
  val Letters = "abcdefghijklmnopqrstuvwxyz"
  val Alnum = Letters + "0123456789"
  val Seps: Array[String] = Array(" ", " ", " ", "\n", "(", ") ", ".", " = ",
    ", ", ";\n", "  ")
  val Langs: Array[String] = Array("scala", "java", "py", "go", "c")

  /** Probe rows: fixed paths whose every revision holds only two marker
    * tokens starting with a digit, which no generated identifier, query
    * term or prefix does. Their content does not depend on the seed, and
    * only the probe queries can ever return them. Their repo sorts before
    * every generated repo, so revision 0 of probe p gets docId p.
    */
  val ProbeRepo = "0probe/repo"
  def probeTerm(p: Int): String = f"0probe$p%02d"
  def probeDoc(p: Int, rev: Int): Doc =
    Doc(ProbeRepo, f"p$p%02d.txt", f"$rev%040d", "txt",
      f"${probeTerm(p)} 0rev$rev%04d")
}
