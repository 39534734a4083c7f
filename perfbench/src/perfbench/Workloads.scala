package perfbench

import scala.collection.mutable
import graft.core.Hit
import graft.search.{BoolQ, Query, SegmentSearcher, Searcher}

/** One client thread issuing queries to one Searcher. Untraced, a query
  * is exactly one `Searcher.search` call. Traced, the public calls that
  * make up a query are issued one by one, each in its own span, and the
  * `search` call then finds the rewrite, expansion and stats cached.
  */
final class Client(ctx: Ctx, val s: Searcher, vocab: Array[String]) {
  private val seenTerms = mutable.HashSet.empty[String]

  /** `Searcher.stats`, spanned as cold when this Searcher has not seen
    * every term before.
    */
  def stats(terms: Set[String]): Unit = {
    val cold = !terms.forall(seenTerms)
    seenTerms ++= terms
    ctx.trace.span(if (cold) "stats.cold" else "stats.warm") { s.stats(terms) }
  }

  def run(q: QSpec): Array[Hit] = {
    val q0 = q.toQuery(vocab)
    if (!ctx.trace.enabled) s.search(q0, q.k)
    else {
      val req = ctx.newReq()
      ctx.reqShape(req) = q.shape
      val t = ctx.trace
      t.span("query", req) {
        val rq = t.span("rewrite") { Query.rewrite(q0) }
        val eq = t.span("expand") { s.expandMultiTerm(rq) }
        stats(Query.literalTerms(Query.rewrite(eq)))
        t.span("search") { s.search(q0, q.k) }
      }
    }
  }
}

/** Distinct results of the queries run, checked after the timed window. */
final class Results {
  private val m = mutable.LinkedHashMap.empty[QSpec, mutable.LinkedHashMap[Seq[(Long, Double)], Int]]
  def add(q: QSpec, hits: Array[Hit]): Unit = {
    val r = m.getOrElseUpdate(q, mutable.LinkedHashMap.empty)
    val sig = hits.toSeq.map(h => (h.docId, h.score))
    r(sig) = r.getOrElse(sig, 0) + 1
  }
  /** One operation per query run; `check` gives null or why it is wrong. */
  def record(ctx: Ctx)(check: (QSpec, Array[Hit]) => String): Unit =
    for ((q, rs) <- m; (sig, n) <- rs) {
      val why = check(q, sig.map { case (d, s) => Hit(d, s) }.toArray)
      (1 to n).foreach(_ => ctx.op(if (why == null) null else s"${q.shape} $q: $why"))
    }
}

object Workloads {
  /** Mean tokens per file (the log-normal lengths are rescaled to it). */
  val MeanTokens = 100
  val BuildDocs = 12000
  val SearchDocs = 6000
  /** Queries answered by the fresh Searcher after each build. */
  val QueriesPerOpen = 10
  /** Rows of the untimed warm-up build that precedes every timed build. */
  val WarmDocs = 500
  /** Warm-up queries before the timed window, a count rather than a time
    * so that the window starts at the same stream offset on every host.
    */
  def warmQueries(distributed: Boolean): Int = if (distributed) 40 else 10000
  /** Fewest queries a timed window holds: a `search_dist` window is
    * usually this count rather than `--seconds`, so every run of a seed
    * times the same queries, and p75 leaves fifteen samples beyond it.
    */
  val MinQueries = 60

  /** An untimed build of the first `docs` rows, so that the timed builds
    * find the JIT, Spark's code generation and its caches warm: the first
    * build in a JVM is mostly that. Its span is the first "build".
    */
  def warmBuild(ctx: Ctx, corpus: Corpus, docs: Int, groups: Int): String = {
    val in = ctx.dir("warm-input")
    Util.writeTable(ctx.spark, corpus.docs.take(docs).toSeq, in, 8)
    val dir = ctx.dir("warm-index")
    Util.buildIndex(ctx, in, dir, "warm", Util.config(docs), ctx.newReq(), groups)
    dir
  }

  /** Opens a Searcher on `dir` and answers `first`: the cold-open cost a
    * user sees after a build or refresh.
    */
  def open(ctx: Ctx, dir: String, distributed: Boolean, vocab: Array[String],
      first: QSpec, res: Results): (Client, Double) =
    ctx.trace.span("open") {
      val ix = SegmentSearcher.load(dir)
      val s = if (distributed) new Searcher(ctx.spark, ix, maxLocalBytes = 0L)
        else new Searcher(ctx.spark, ix)
      val c = new Client(ctx, s, vocab)
      val t0 = System.nanoTime()
      res.add(first, c.run(first))
      (c, (System.nanoTime() - t0) / 1e6)
    }

  /** Program-independent checks of a built index against its input. */
  def checkBuild(ctx: Ctx, corpus: Corpus, oracle: Oracle, dir: String): String = {
    val spark = ctx.spark
    val shas = corpus.docs.map(d => sha256Hex(d.content))
    val docs = spark.read.parquet(s"$dir/docs").select("docId", "contentSha256").collect()
    if (docs.length != corpus.size) return s"docs rows ${docs.length} != input rows ${corpus.size}"
    val bad = docs.count(r => shas(r.getLong(0).toInt) != r.getString(1))
    if (bad > 0) return s"$bad rows with a wrong contentSha256"
    val chunks = spark.read.parquet(s"$dir/lineage/docs").select("chunk", "inputSha256").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = shas.indices.groupBy(_ >> 12).map { case (c, ids) =>
      c.toLong -> sha256Hex(ids.map(shas).sorted.mkString("\n"))
    }
    if (chunks != want) return "lineage chunk hashes differ"
    val stats = spark.read.parquet(s"$dir/termstats").select("term", "df", "ttf").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val wantStats = corpus.vocab.indices.filter(oracle.df(_) > 0)
      .map(t => corpus.vocab(t) -> (oracle.df(t).toLong, oracle.ttf(t))).toMap
    if (stats != wantStats) return s"term stats differ (${stats.size} terms vs ${wantStats.size})"
    null
  }

  def sha256Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  /** `build`: repeated full builds of one generated table; after each, a
    * fresh Searcher answers [[QueriesPerOpen]] queries.
    */
  def build(ctx: Ctx): Unit = {
    val gen = new Gen(ctx.seed)
    val corpus = gen.corpus(BuildDocs, MeanTokens)
    val input = ctx.dir("input")
    Util.writeTable(ctx.spark, corpus.docs.toSeq, input, 8)
    val cfg = Util.config(corpus.size)
    val queries = new Queries(corpus, ctx.seed, cfg.saltThreshold)
    val stream = queries.stream(100000)
    val res = new Results

    // warm-up: a build of a sixth of the table and its query pass
    val warmIx = warmBuild(ctx, corpus, BuildDocs / 6, groups = 4)
    val (wc, _) = open(ctx, warmIx, distributed = false, corpus.vocab, stream(0), new Results)
    (1 until QueriesPerOpen).foreach(i => wc.run(stream(i)))
    wc.s.close()
    ctx.setupDone()

    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val buildS = mutable.ArrayBuffer.empty[Double]
    val freshS = mutable.ArrayBuffer.empty[Double]
    val lat = mutable.ArrayBuffer.empty[Double]
    var qi = 0
    while (buildS.isEmpty || Util.nowS(t0) < ctx.seconds) {
      val b = buildS.size
      val tb = System.nanoTime()
      buildS += Util.buildIndex(ctx, input, ctx.dir(s"index-$b"), s"b$b", cfg, ctx.newReq(), groups = 4)
      val (c, firstMs) = open(ctx, ctx.dir(s"index-$b"), distributed = false, corpus.vocab,
        stream(qi), res)
      freshS += Util.nowS(tb)
      lat += firstMs
      qi += 1
      (1 until QueriesPerOpen).foreach { _ =>
        val q = stream(qi)
        val t = System.nanoTime()
        res.add(q, c.run(q))
        lat += (System.nanoTime() - t) / 1e6
        qi += 1
      }
      c.s.close()
    }
    val w1 = System.currentTimeMillis()
    val heap = Util.liveHeapMb()

    val oracle = new Oracle(corpus)
    buildS.indices.foreach(b => ctx.op(checkBuild(ctx, corpus, oracle, ctx.dir(s"index-$b"))))
    val counter = new Searcher(ctx.spark, SegmentSearcher.load(ctx.dir("index-0")))
    res.record(ctx)((q, hits) => Oracle.check(oracle, q, hits, counter.count(q.toQuery(corpus.vocab))))

    ctx.metric("build_docs_per_s", corpus.size / Util.median(buildS.toSeq), "docs/s")
    ctx.metric("index_bytes_per_input_byte",
      Util.dirBytes(ctx.dir("index-0")).toDouble / corpus.contentBytes, "ratio")
    reportQueries(ctx, lat.toSeq, lat.sum / 1000, tailPct = 75)
    ctx.metric("refresh_p50_s", Util.median(freshS.toSeq), "s")
    ctx.metric("live_heap_mb", heap, "MB")
    Layers.report(ctx, w0, w1, ops = buildS.size,
      measuredBuilds = ctx.trace.named("build").drop(1), codecIndex = ctx.dir("index-0"),
      content = corpus.docs.map(_.content))
  }

  def reportQueries(ctx: Ctx, latMs: Seq[Double], busyS: Double, tailPct: Double): Unit = {
    ctx.metric("query_qps", latMs.size / busyS, "1/s")
    ctx.metric("query_p50_ms", Util.median(latMs), "ms")
    ctx.metric("query_tail_ms", Util.pct(latMs, tailPct), "ms")
  }

  /** `search_local` and `search_dist`: one index built in set-up, then the
    * seeded stream through one Searcher, closed loop, one client.
    */
  def search(ctx: Ctx, distributed: Boolean): Unit = {
    val gen = new Gen(ctx.seed)
    val corpus = gen.corpus(SearchDocs, MeanTokens)
    val input = ctx.dir("input")
    Util.writeTable(ctx.spark, corpus.docs.toSeq, input, 8)
    val cfg = Util.config(corpus.size)
    val dir = ctx.dir("index")
    val queries = new Queries(corpus, ctx.seed, cfg.saltThreshold)
    val stream = queries.stream(200000)
    val res = new Results

    warmBuild(ctx, corpus, WarmDocs, groups = 1)
    val tb = System.nanoTime()
    val buildS = Util.buildIndex(ctx, input, dir, "s0", cfg, ctx.newReq())
    val (c, _) = open(ctx, dir, distributed, corpus.vocab, stream(0), res)
    val freshS = Util.nowS(tb)

    // warm-up: every term's stats in one call; on the local tier one
    // query over every term also fills the blob cache; then the stream
    val all = queries.allQueries
    val terms = all.flatMap(q => Query.literalTerms(q.toQuery(corpus.vocab))).toSet
    c.stats(terms)
    all.foreach(q => c.s.expandMultiTerm(q.toQuery(corpus.vocab)))
    if (!distributed)
      c.s.search(BoolQ(should = all.map(_.toQuery(corpus.vocab)).distinct), 1)
    var qi = 1
    while (qi < warmQueries(distributed)) { c.run(stream(qi)); qi += 1 }
    ctx.setupDone()

    // whole rounds of the shape pattern, so every window has the same mix
    val round = Queries.Pattern.length
    val lat = mutable.ArrayBuffer.empty[Double]
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    while (Util.nowS(t0) < ctx.seconds || qi % round != 0 || lat.size < MinQueries) {
      val q = stream(qi)
      val t = System.nanoTime()
      val hits = c.run(q)
      lat += (System.nanoTime() - t) / 1e6
      res.add(q, hits)
      qi += 1
    }
    val window = Util.nowS(t0)
    val w1 = System.currentTimeMillis()
    val heap = Util.liveHeapMb()

    val oracle = new Oracle(corpus)
    ctx.op(checkBuild(ctx, corpus, oracle, dir))
    res.record(ctx)((q, hits) => Oracle.check(oracle, q, hits, c.s.count(q.toQuery(corpus.vocab))))

    ctx.metric("build_docs_per_s", corpus.size / buildS, "docs/s")
    ctx.metric("index_bytes_per_input_byte", Util.dirBytes(dir).toDouble / corpus.contentBytes, "ratio")
    ctx.metric("query_qps", lat.size / window, "1/s")
    ctx.metric("query_p50_ms", Util.median(lat.toSeq), "ms")
    ctx.metric("query_tail_ms", Util.pct(lat.toSeq, if (distributed) 75 else 95), "ms")
    ctx.metric("refresh_p50_s", freshS, "s")
    ctx.metric("live_heap_mb", heap, "MB")
    Layers.report(ctx, w0, w1, ops = lat.size, measuredBuilds = ctx.trace.named("build").drop(1),
      codecIndex = dir, content = corpus.docs.map(_.content))
    c.s.close()
  }
}
