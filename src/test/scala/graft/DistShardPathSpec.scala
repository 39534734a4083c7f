package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.core._
import graft.index.{Deletes, IndexBuilder}
import graft.index.IndexBuilder.BuildConfig
import graft.search._

/** The distributed shard path (`maxLocalBytes = 0`: one RDD job per query
  * over the terms' rows keyed by shard) answers bit-identically to the
  * driver-local tier — with the per-bucket scan memo (`cacheSegments`)
  * and with the per-query pruned parquet read — over salted hot terms,
  * MatchAll-backed queries (the per-shard marker rows) and tombstones;
  * and a warm distributed search is exactly one Spark job.
  */
class DistShardPathSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  private val tmp =
    java.nio.file.Files.createTempDirectory("graft-distshard").toString
  private val cfg = BuildConfig(numBuckets = 8, numDocShards = 4,
    saltThreshold = 100L)

  private lazy val numbered: Seq[(Long, CodeFile)] =
    Corpus.generate(400, seed = 47L)
      .sortBy(f => (f.repo, f.path, f.commit)).zipWithIndex
      .map { case (f, i) => (i.toLong, f) }

  private def build(dir: String): SegmentSearcher.SegmentIndex = {
    import spark.implicits._
    val df = numbered
      .map { case (id, f) => (id, f.repo, f.path, f.commit, f.lang, f.content) }
      .toDF("docId", "repo", "path", "commit", "lang", "content")
    val ix = IndexBuilder.buildLogical(df, "content", Some("docId"), Nil, cfg)
    IndexBuilder.writeIndex(ix, dir, s"snap-${dir.takeRight(8)}", numGroups = 1)
    ix.unpersistCached(); ix.postings.unpersist()
    SegmentSearcher.load(dir)
  }

  private lazy val plain = build(s"$tmp/plain")
  private lazy val withDeletes = {
    val ix = build(s"$tmp/deleted")
    val top = new Searcher(spark, ix).search(TermQ(hot.head), 6).map(_.docId)
    Deletes.deleteIds(spark, ix.dir, top.toSeq :+ 3L)
    ix
  }

  /** Terms at or above the salt threshold: posting lists split by shard. */
  private lazy val hot: Seq[String] = {
    val ts = spark.read.parquet(s"${plain.dir}/termstats")
      .filter(org.apache.spark.sql.functions.col("df") >= cfg.saltThreshold)
      .orderBy(org.apache.spark.sql.functions.col("df").desc,
        org.apache.spark.sql.functions.col("term"))
      .select("term").collect().map(_.getString(0)).toSeq
    assert(ts.size >= 3, s"corpus has too few salted terms: $ts")
    ts
  }

  private def queries: Seq[Query] = Seq(
    TermQ(hot(0)), TermQ("getindexwriter"),
    Query.and(TermQ(hot(0)), TermQ(hot(1))),
    Query.orMin(2, TermQ(hot(1)), TermQ(hot(2)), TermQ("score")),
    Query.not(TermQ(hot(2)), TermQ(hot(0))),
    PhraseQ(Seq("public", "void")),
    // MatchAll-backed: marker rows join every shard group
    BoolQ(must = Seq(MatchAllQ), mustNot = Seq(TermQ(hot(1)))),
    BoolQ(must = Seq(MatchAllQ), should = Seq(TermQ(hot(0)))))

  private def hitsOf(hs: Array[Hit]): Seq[(Long, Long)] =
    hs.toSeq.map(h => (h.docId, java.lang.Double.doubleToLongBits(h.score)))

  private def parity(ix: SegmentSearcher.SegmentIndex): Unit = {
    val local = new Searcher(spark, ix)
    for (cached <- Seq(true, false)) {
      val dist = new Searcher(spark, ix, cacheSegments = cached,
        maxLocalBytes = 0L)
      for (q <- queries) {
        val clue = s"q=$q cacheSegments=$cached"
        assert(hitsOf(dist.search(q, 15)) === hitsOf(local.search(q, 15)), clue)
        assert(dist.count(q) === local.count(q), clue)
        val (dh, dn) = dist.searchWithCount(q, 15)
        val (lh, ln) = local.searchWithCount(q, 15)
        assert(hitsOf(dh) === hitsOf(lh), clue)
        assert(dn === ln, clue)
        // the docvalues-join caller: match stream joined to "length"
        assert(dist.searchByField(q, 15, "length", asc = false) ===
          local.searchByField(q, 15, "length", asc = false), clue)
        // rescore: first-pass hits broadcast, every shard seeded
        val first = local.search(TermQ(hot(2)), 20)
        assert(hitsOf(dist.rescore(first, q, 0.5f, 10)) ===
          hitsOf(local.rescore(first, q, 0.5f, 10)), clue)
      }
      dist.close()
    }
    local.close()
  }

  test("distributed == driver-local: salted terms and MatchAll-backed queries") {
    assert(hot.size >= 3)
    assert(new Searcher(spark, plain).count(MatchAllQ) === numbered.size)
    parity(plain)
  }

  test("distributed == driver-local over an index with deletes") {
    val del = Deletes.load(spark, withDeletes.dir).toSet
    assert(del.size >= 2)
    parity(withDeletes)
    val dist = new Searcher(spark, withDeletes, maxLocalBytes = 0L)
    assert(dist.search(TermQ(hot.head), 50).forall(h => !del(h.docId)))
    assert(dist.count(MatchAllQ) === numbered.size - del.size)
    dist.close()
  }

  test("marker rows: a shard without segment rows keeps its MatchAll matches") {
    // 'alpha' is salted (df 300 ≥ 100) and absent from shard 3 (docId % 4
    // == 3), so only the marker row forms shard 3's group on the
    // distributed path, and the driver-local tier must keep shard 3 too
    import spark.implicits._
    val dir = s"$tmp/markers"
    val df = (0L until 400L).map { i =>
      (i, "r", s"p$i", "c", "scala",
        s"common filler${i % 7}" + (if (i % 4 != 3) " alpha" else ""))
    }.toDF("docId", "repo", "path", "commit", "lang", "content")
    val ix0 = IndexBuilder.buildLogical(df, "content", Some("docId"), Nil, cfg)
    IndexBuilder.writeIndex(ix0, dir, "snap-markers", numGroups = 1)
    ix0.unpersistCached(); ix0.postings.unpersist()
    val ix = SegmentSearcher.load(dir)
    val notAlpha = BoolQ(must = Seq(MatchAllQ), mustNot = Seq(TermQ("alpha")))
    val allOrAlpha = BoolQ(must = Seq(MatchAllQ), should = Seq(TermQ("alpha")))
    val searchers = Seq(true, false).map(cached =>
      new Searcher(spark, ix, cacheSegments = cached, maxLocalBytes = 0L)) :+
      new Searcher(spark, ix)
    for (s <- searchers) {
      val hits = s.search(notAlpha, 200)
      assert(hits.map(_.docId).toSeq === (3L until 400L by 4L))
      assert(s.count(notAlpha) === 100L)
      assert(s.count(allOrAlpha) === 400L)
      assert(s.searchWithCount(notAlpha, 5)._2 === 100L)
      s.close()
    }
  }

  test("the driver-local match-score memo is capped and cleared on close") {
    val terms = spark.read.parquet(s"${plain.dir}/termstats")
      .select("term").orderBy("term").limit(40)
      .collect().map(_.getString(0)).toSeq
    assert(terms.size === 40)
    val probe = new Searcher(spark, plain)
    val size = probe.localMatchScores(TermQ(terms.head)).size
    probe.close()
    // a cache (2 × maxLocalBytes) of a few memos of the first term's size
    val s = new Searcher(spark, plain, maxLocalBytes = 4 * (64L + 32L * size))
    val first = s.localMatchScores(TermQ(terms.head))
    terms.foreach(t => s.localMatchScores(TermQ(t)))
    val st = s.cacheStats
    assert(st.evictions > 0, s"$st") // the bound binds
    assert(st.bytes <= 8 * (64L + 32L * size), s"$st")
    // the eldest entry was evicted: a new walk, equal contents
    val again = s.localMatchScores(TermQ(terms.head))
    assert(!(again eq first))
    assert(again.toMap === first.toMap)
    s.close()
    assert(s.cacheStats.entries === 0 && s.cacheStats.bytes === 0)
  }

  test("a warm distributed search is exactly one Spark job") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val dist = new Searcher(spark, plain, maxLocalBytes = 0L)
    val qs = Seq(TermQ(hot(0)),
      Query.orMin(2, TermQ(hot(1)), TermQ(hot(2)), TermQ("score")),
      BoolQ(must = Seq(MatchAllQ), mustNot = Seq(TermQ(hot(1)))))
    qs.foreach(dist.search(_, 10)) // warm: stats, segments cache
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      for (q <- qs) {
        jobs.set(0)
        dist.search(q, 10)
        org.apache.spark.TestBus.drain(sc)
        assert(jobs.get() === 1, s"q=$q")
      }
    } finally sc.removeSparkListener(listener)
    dist.close()
  }
}
