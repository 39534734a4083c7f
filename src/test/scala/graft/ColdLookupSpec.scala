package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import graft.core._
import graft.index.{Deletes, IndexBuilder}
import graft.index.IndexBuilder.BuildConfig
import graft.search._

/** The cold term-stats lookup of a `cacheSegments` Searcher: one Spark job
  * over per-bucket scans planned once per Searcher, which also prefetches
  * the terms' posting rows under a byte cap; hits stay bit-identical to the
  * pruned-read (`cacheSegments = false`) and distributed
  * (`maxLocalBytes = 0`) Searchers, and a bucket scan runs only the cached
  * partitions that hold its bucket. Also the pinning of shared tables and
  * frames, and the tier gate's docvalue-column count.
  */
class ColdLookupSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  private val tmp =
    java.nio.file.Files.createTempDirectory("graft-coldlookup").toString
  private val cfg = BuildConfig(numBuckets = 8, numDocShards = 4,
    saltThreshold = 100L)

  private def build(dir: String, seed: Long): SegmentSearcher.SegmentIndex = {
    import spark.implicits._
    val df = Corpus.generate(400, seed)
      .sortBy(f => (f.repo, f.path, f.commit)).zipWithIndex
      .map { case (f, i) => (i.toLong, f.repo, f.path, f.commit, f.lang, f.content) }
      .toDF("docId", "repo", "path", "commit", "lang", "content")
    val ix = IndexBuilder.buildLogical(df, "content", Some("docId"), Nil, cfg)
    IndexBuilder.writeIndex(ix, dir, s"snap-${dir.takeRight(8)}", numGroups = 1)
    ix.unpersistCached(); ix.postings.unpersist()
    SegmentSearcher.load(dir)
  }

  private lazy val plain = build(s"$tmp/plain", 53L)
  private lazy val deleted = {
    val ix = build(s"$tmp/deleted", 59L)
    Deletes.deleteIds(spark, ix.dir, Seq(1L, 2L, 3L, 50L, 51L, 200L, 399L))
    ix
  }

  /** (term, df) of the index, df descending then term. */
  private def termDfs(ix: SegmentSearcher.SegmentIndex): Seq[(String, Long)] =
    spark.read.parquet(s"${ix.dir}/termstats")
      .orderBy(col("df").desc, col("term")).select("term", "df")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq

  private def hitsOf(hs: Array[Hit]): Seq[(Long, Long)] =
    hs.toSeq.map(h => (h.docId, java.lang.Double.doubleToLongBits(h.score)))

  /** Spark jobs started by `f`, and the task count of each of their stages
    * (stage id order).
    */
  private def jobsOf(f: => Unit): (Int, Seq[Seq[Int]]) = {
    val sc = spark.sparkContext
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Int]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        stages.add(e.stageInfos.sortBy(_.stageId).map(_.numTasks)); ()
      }
    }
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(listener)
    try { f; org.apache.spark.TestBus.drain(sc) }
    finally sc.removeSparkListener(listener)
    val all = stages.toArray(Array.empty[Seq[Int]]).toSeq
    (all.size, all)
  }

  /** Buckets held by each cached partition of a pinned table, read apart
    * from the Searcher's own map.
    */
  private def partBuckets(df: org.apache.spark.sql.DataFrame): Array[Set[Int]] =
    df.select("bucket").rdd
      .mapPartitions(it => Iterator.single(it.map(_.getInt(0)).toSet))
      .collect()

  test("a cold search, and stats then search, are each one Spark job after open") {
    val terms = termDfs(plain).map(_._1)
    val s = new Searcher(spark, plain)
    s.search(TermQ(terms.head), 5) // open: pins both tables
    val fresh = terms.drop(1).iterator
    def t(): TermQ = TermQ(fresh.next())
    val cold: Seq[Query] = Seq(t(), Query.and(t(), t()),
      Query.orMin(2, t(), t(), t()), PhraseQ(Seq("public", "void")),
      BoolQ(must = Seq(MatchAllQ), mustNot = Seq(t())))
    for (q <- cold) assert(jobsOf(s.search(q, 10))._1 === 1, s"search q=$q")
    val next = Seq(Query.not(t(), t()), t())
    for (q <- next) {
      val n = jobsOf {
        s.stats(Query.literalTerms(Query.rewrite(q)))
        s.search(q, 10)
      }._1
      assert(n === 1, s"stats + search q=$q")
    }
    assert(jobsOf(s.count(t()))._1 === 1)
    s.close()
  }

  private def parity(ix: SegmentSearcher.SegmentIndex): Unit = {
    val dfs = termDfs(ix)
    val hot = dfs.filter(_._2 >= cfg.saltThreshold).map(_._1)
    val unsalted = dfs.filter(_._2 < cfg.saltThreshold).map(_._1)
    assert(hot.size >= 3 && unsalted.size >= 8)
    val mid = unsalted.take(6)
    val rare = unsalted.takeRight(2)
    val queries: Seq[Query] = Seq(
      TermQ(hot(0)), TermQ(mid(0)), TermQ(rare(0)), TermQ("absentterm"),
      Query.and(TermQ(hot(1)), TermQ(mid(1))),
      Query.orMin(2, TermQ(hot(2)), TermQ(mid(2)), TermQ(rare(1))),
      Query.not(TermQ(mid(3)), TermQ(hot(0))),
      PhraseQ(Seq("public", "void")),
      BoolQ(must = Seq(MatchAllQ), mustNot = Seq(TermQ(hot(1)))),
      BoolQ(must = Seq(MatchAllQ), should = Seq(TermQ(mid(4)))),
      ConstScoreQ(MatchAllQ))
    val pruned = new Searcher(spark, ix, cacheSegments = false)
    val dist = new Searcher(spark, ix, maxLocalBytes = 0L)
    // a fresh default Searcher per query: every lookup is cold
    for (q <- queries) {
      val s = new Searcher(spark, ix)
      val hits = hitsOf(s.search(q, 15))
      val (wh, wn) = s.searchWithCount(q, 15)
      for (ref <- Seq(pruned, dist)) {
        assert(hits === hitsOf(ref.search(q, 15)), s"q=$q")
        val (rh, rn) = ref.searchWithCount(q, 15)
        assert(hitsOf(wh) === hitsOf(rh), s"q=$q")
        assert(wn === rn, s"q=$q")
      }
      assert(s.count(q) === pruned.count(q), s"q=$q")
      s.close()
    }
    pruned.close(); dist.close()
  }

  test("cold lookups answer bit-identically to the pruned-read and distributed Searchers") {
    parity(plain)
  }

  test("... and over an index with deletes") {
    assert(Deletes.load(spark, deleted.dir).length === 7)
    parity(deleted)
  }

  test("a row over its byte share falls back to fetchRows with unchanged results") {
    // a term under the salt threshold with one row, and a budget that
    // admits it at the gate (df·4 + 64) while its row exceeds the share
    // budget / (1 term × numDocShards)
    val (t, df) = termDfs(plain).find { case (_, d) => d >= 20 && d < 100 }.get
    val budget = df * 4 + 64
    val share = budget / cfg.numDocShards
    val bytes = spark.read.parquet(s"${plain.dir}/segments")
      .filter(col("term") === t)
      .selectExpr("length(docBlocks) + length(skipData) + " +
        "length(posBlocks) + length(payBlocks)")
      .collect().map(_.getInt(0).toLong)
    assert(bytes.length === 1 && bytes.head > share, s"row bytes $bytes, share $share")
    val s = new Searcher(spark, plain, maxLocalBytes = budget)
    val ref = new Searcher(spark, plain, cacheSegments = false)
    s.stats(Set("score")) // open
    assert(jobsOf(s.stats(Set(t)))._1 === 1)
    var hits = Array.empty[Hit]
    // the stub keeps the term out of the blob cache: the local tier reads it
    assert(jobsOf { hits = s.search(TermQ(t), 10) }._1 === 1)
    assert(hits.nonEmpty)
    assert(hitsOf(hits) === hitsOf(ref.search(TermQ(t), 10)))
    assert(jobsOf(s.search(TermQ(t), 10))._1 === 0) // now cached
    s.close(); ref.close()
  }

  test("the blob cache counts position bytes toward its budget") {
    // the phrase terms repeat in every doc: small doc blobs, large
    // position blobs
    import spark.implicits._
    val dir = s"$tmp/positions"
    val docs = (0 until 8).map(i => (i.toLong, "alpha beta " * 400 + s"doc$i"))
      .toDF("docId", "content")
    val ix = IndexBuilder.buildLogical(docs, "content", Some("docId"), Nil, cfg)
    IndexBuilder.writeIndex(ix, dir, "snap-positions", numGroups = 1)
    ix.unpersistCached(); ix.postings.unpersist()
    val terms = Seq("alpha", "beta")
    val bytes = spark.read.parquet(s"$dir/segments")
      .filter(col("term").isin(terms: _*))
      .selectExpr("length(docBlocks) + length(skipData)",
        "length(posBlocks) + length(payBlocks)")
      .collect().map(r => (r.getInt(0).toLong, r.getInt(1).toLong))
    val docBytes = bytes.map(_._1).sum
    val allBytes = docBytes + bytes.map(_._2).sum
    val full = bytes.map { case (d, p) => d + p }
    // the gate admits the phrase (df·4 + 64 per term) and the cache's
    // 2 × maxLocalBytes holds both terms' doc blobs, or one term's doc
    // and position blobs, not both terms' doc + positions
    val budget = math.max(terms.size * (8 * 4L + 64), (full.max + 1) / 2)
    assert(2 * budget < allBytes && docBytes <= 2 * budget,
      s"doc bytes $docBytes, all bytes $allBytes, budget $budget")
    val six = SegmentSearcher.load(dir)
    val s = new Searcher(spark, six, maxLocalBytes = budget)
    val ref = new Searcher(spark, six, cacheSegments = false)
    val q = PhraseQ(terms)
    val hits = s.search(q, 10)
    assert(hits.length === 8)
    assert(hitsOf(hits) === hitsOf(ref.search(q, 10)))
    // the second term's rows overflowed the budget and evicted the first
    val st = s.cacheStats
    assert(st.entries === 1 && st.evictions === 1, s"$st")
    assert(full.contains(st.bytes), s"$st, row bytes $full")
    s.close(); ref.close()
  }

  test("two Searchers on one index share its pinned tables until the last closes") {
    val terms = termDfs(plain).map(_._1)
    val a = new Searcher(spark, plain)
    val b = new Searcher(spark, plain)
    a.search(TermQ(terms(0)), 5)
    b.search(TermQ(terms(1)), 5)
    a.close()
    assert(TestSpark.cached(b.segmentsDf))
    assert(TestSpark.cached(b.termStatsDf))
    val ref = new Searcher(spark, plain, cacheSegments = false)
    val fresh = terms.slice(2, 8).toSet
    assert(b.stats(fresh) === ref.stats(fresh))
    b.close(); ref.close()
    assert(!TestSpark.cached(b.segmentsDf))
    assert(!TestSpark.cached(b.termStatsDf))
  }

  test("a one-bucket query schedules only the cached partitions that hold its bucket") {
    val conf = spark.conf
    val keys = Seq("spark.sql.files.maxPartitionBytes",
      "spark.sql.files.openCostInBytes")
    val saved = keys.map(k => k -> conf.getOption(k))
    val terms = termDfs(plain).filter(_._2 < cfg.saltThreshold).map(_._1)
    val s = new Searcher(spark, plain, maxLocalBytes = 0L)
    // one small file per cached partition, so the tables span many
    // partitions; planned while the settings hold, then restored
    keys.foreach(conf.set(_, "1024"))
    try {
      s.search(TermQ(terms.head), 5)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
    val statParts = partBuckets(s.termStatsDf)
    val segParts = partBuckets(s.segmentsDf)
    val t = terms(1)
    val b = IndexBuilder.bucketOf(t, cfg.numBuckets)
    val statHolding = statParts.count(_(b))
    val segHolding = segParts.count(_(b))
    assert(statHolding < statParts.length && segHolding < segParts.length,
      s"every partition holds bucket $b: nothing to prune")
    // cold stats on a maxLocalBytes = 0 Searcher: termstats scan alone
    val (n1, st1) = jobsOf(s.stats(Set(t)))
    assert(n1 === 1 && st1.head === Seq(statHolding))
    // distributed search: the map stage reads the segments scan
    val (n2, st2) = jobsOf(s.search(TermQ(t), 5))
    assert(n2 === 1 && st2.head.head === segHolding)
    s.close()
  }

  test("a Searcher opened and closed with no query starts no Spark job") {
    val (n, _) = jobsOf { new Searcher(spark, plain).close() }
    assert(n === 0)
  }

  test("two logical indexes over one input share its pinned frames until both release") {
    import spark.implicits._
    val df = Corpus.generate(60, 71L)
      .map(f => (f.repo, f.path, f.commit, f.lang, f.content))
      .toDF("repo", "path", "commit", "lang", "content")
    def build() = IndexBuilder.buildLogical(df, "content", None,
      Seq("repo", "path", "commit"), cfg)
    /** Whether any part of `f`'s plan is served from Spark's cache. */
    def readsCache(f: org.apache.spark.sql.DataFrame): Boolean =
      f.select("*").queryExecution.withCachedData.find(
        _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]
      ).nonEmpty
    val (a, b) = (build(), build())
    assert(b.cached.nonEmpty && b.cached.forall(TestSpark.cached))
    a.unpersistCached()
    a.unpersistCached() // a second release of the same handle is a no-op
    assert(b.cached.forall(TestSpark.cached))
    b.unpersistCached()
    // nothing either index was built from stays cached, the docId
    // ranging pass (one plan, shared by both builds) included
    assert(!readsCache(a.docs) && !readsCache(b.docs))
  }

  test("the tier gate counts every docvalue column a sort loads") {
    // between one and two columns' worth of docvalues (16 bytes a doc):
    // a one-field sort stays driver-local, a two-field sort is distributed
    val budget = plain.manifest.docCount * 16L * 3 / 2
    val terms = termDfs(plain)
    val q = TermQ(terms(terms.size / 4)._1)
    val two = Seq("length" -> true, "normByte" -> false)
    val s = new Searcher(spark, plain, maxLocalBytes = budget)
    val ref = new Searcher(spark, plain)
    def rowsOf(r: Array[(Long, Array[Long])]) = r.toSeq.map(x => (x._1, x._2.toSeq))
    s.searchByField(q, 10, "length"); s.searchBySort(q, 10, two) // warm-up
    assert(jobsOf(s.searchByField(q, 10, "length"))._1 === 0)
    var got = Array.empty[(Long, Array[Long])]
    assert(jobsOf { got = s.searchBySort(q, 10, two) }._1 > 0)
    assert(rowsOf(got) === rowsOf(ref.searchBySort(q, 10, two)))
    s.close(); ref.close()
  }
}
