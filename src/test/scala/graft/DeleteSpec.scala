package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.index.{Deletes, IndexBuilder}
import graft.index.IndexBuilder.BuildConfig
import graft.search._

/** Tombstoned deletes: liveDocs masking at collection (stats still count
  * deleted docs — Lucene's law), delete-by-term resolution, forced-
  * distributed parity, and expunge == from-scratch build of survivors.
  */
class DeleteSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  private val tmp = java.nio.file.Files.createTempDirectory("graft-del").toString
  private val cfg = BuildConfig(numBuckets = 4, numDocShards = 2,
    saltThreshold = 150L)

  private lazy val numbered: Seq[(Long, CodeFile)] =
    Corpus.generate(300, seed = 61L)
      .sortBy(f => (f.repo, f.path, f.commit)).zipWithIndex
      .map { case (f, i) => (i.toLong, f) }

  private def build(rows: Seq[(Long, CodeFile)], dir: String): Unit = {
    import spark.implicits._
    val df = rows
      .map { case (id, f) => (id, f.repo, f.path, f.commit, f.lang, f.content) }
      .toDF("docId", "repo", "path", "commit", "lang", "content")
    val ix = IndexBuilder.buildLogical(df, "content", Some("docId"), Nil, cfg)
    IndexBuilder.writeIndex(ix, dir, s"snap-$dir".takeRight(24), numGroups = 1)
    ix.unpersistCached(); ix.postings.unpersist()
  }

  private val queries = Seq[Query](
    TermQ("def"), TermQ("index"),
    Query.and(TermQ("index"), TermQ("merge")),
    Query.orMin(2, TermQ("spark"), TermQ("val"), TermQ("score")),
    PhraseQ(Seq("public", "void")))

  private def hits(dir: String, q: Query, k: Int = 10): Seq[(Long, Double)] =
    SegmentSearcher.search(spark, SegmentSearcher.load(dir), q, k)
      .map(h => (h.docId, h.score)).toSeq

  private lazy val deleted: Seq[Long] = {
    build(numbered, s"$tmp/live")
    // baseline BEFORE tombstoning (the dir is shared by the tests below)
    baselineBig = queries.map(q => q -> hits(s"$tmp/live", q, 50)).toMap
    baselineCount = new Searcher(spark, SegmentSearcher.load(s"$tmp/live"))
      .count(TermQ("def"))
    val del = baselineBig(TermQ("def")).take(3).map(_._1)
    Deletes.deleteIds(spark, s"$tmp/live", del)
    del
  }
  private var baselineBig: Map[Query, Seq[(Long, Double)]] = _
  private var baselineCount: Long = _

  test("masking: top-k = full-stats results minus tombstones (scores unchanged)") {
    val del = deleted.toSet
    val s = new Searcher(spark, SegmentSearcher.load(s"$tmp/live"))
    for (q <- queries) {
      val expected = baselineBig(q).filterNot(h => del.contains(h._1)).take(10)
      val got = s.search(q, 10).map(h => (h.docId, h.score)).toSeq
      assert(got === expected, s"q=$q")
    }
  }

  test("count excludes tombstones; searchByField masks too") {
    val s = new Searcher(spark, SegmentSearcher.load(s"$tmp/live"))
    val delMatching = deleted.size // deleted ids were top hits of 'def'
    assert(s.count(TermQ("def")) === baselineCount - delMatching)
    val byField = s.searchByField(BoolQ(filter = Seq(TermQ("def"))), 200,
      "length", asc = true)
    assert(byField.nonEmpty)
    assert(byField.forall { case (d, _) => !deleted.contains(d) })
  }

  test("forced-distributed (maxLocalBytes = 0) masks identically") {
    deleted // force fixture
    val local = new Searcher(spark, SegmentSearcher.load(s"$tmp/live"))
    val dist = new Searcher(spark, SegmentSearcher.load(s"$tmp/live"),
      cacheSegments = false, maxLocalBytes = 0)
    for (q <- queries)
      assert(dist.search(q, 10).toSeq === local.search(q, 10).toSeq, s"q=$q")
    assert(dist.count(TermQ("def")) === local.count(TermQ("def")))
  }

  test("every match-walking entry point masks tombstones, on both tiers") {
    val del = deleted.toSet
    val ix = SegmentSearcher.load(s"$tmp/live")
    val q = TermQ("def")
    val k = numbered.size // every match, so a leaked tombstone would show
    def rows(hs: Array[Hit]): Seq[(Long, Any)] = hs.toSeq.map(h => (h.docId, h.score))
    val entryPoints: Seq[(String, Searcher => Seq[(Long, Any)])] = Seq(
      "search" -> (s => rows(s.search(q, k))),
      "searchWithCount" -> (s => rows(s.searchWithCount(q, k)._1)),
      "searchBySort" -> (s => s.searchBySort(q, k,
        Seq("length" -> true, "normByte" -> false)).toSeq
        .map { case (d, vs) => (d, vs.toSeq) }),
      "searchByField" -> (s => s.searchByField(q, k, "length").toSeq),
      "searchByExpr" -> (s => s.searchByExpr(q, k, "length").toSeq),
      "searchDiversified" -> (s => rows(s.searchDiversified(q, k, "repo", 1000))),
      "searchDvFiltered" -> (s => rows(s.searchDvFiltered(q, k, "length",
        DvPred.Range(Some(0L), None, true, true)))),
      "searchBoosted" -> (s => rows(s.searchBoosted(q, FieldV("length"), k))),
      "searchCustomScore" -> (s =>
        rows(s.searchCustomScore(q, Seq(FieldV("length")), 2f, k))),
      // every live doc of a repo holding a live match: the to side masks
      "joinScored" -> (s => rows(s.joinScored(q, "repo", "repo", "max", k))))
    val local = new Searcher(spark, ix)
    val dist = new Searcher(spark, ix, maxLocalBytes = 0L)
    val live = local.count(q)
    assert(live === baselineCount - del.size)
    val matched = local.search(q, k).map(_.docId).toSet
    val repos = numbered.collect { case (d, f) if matched(d) => f.repo }.toSet
    val sizeOf = Map[String, Long]("joinScored" ->
      numbered.count { case (d, f) => repos(f.repo) && !del(d) }.toLong)
      .withDefaultValue(live)
    assert(dist.count(q) === live)
    assert(local.searchWithCount(q, 5)._2 === live)
    assert(dist.searchWithCount(q, 5)._2 === live)
    assert(!local.localMatchScores(q).keys.exists(del))
    for ((name, run) <- entryPoints; s <- Seq(local, dist)) {
      val got = run(s)
      val tier = if (s eq dist) "maxLocalBytes = 0" else "default"
      assert(got.size === sizeOf(name), s"$name ($tier)")
      assert(!got.exists(r => del(r._1)), s"$name ($tier) returned a deleted id")
    }
    for ((name, run) <- entryPoints) assert(run(dist) === run(local), name)
    local.close(); dist.close()
  }

  test("deleteByTerm tombstones exactly the term's posting list") {
    build(numbered, s"$tmp/bt")
    val before = hits(s"$tmp/bt", TermQ("merge"), 300)
    assert(before.nonEmpty)
    val n = Deletes.deleteByTerm(spark, s"$tmp/bt", "merge")
    assert(n === before.size)
    assert(hits(s"$tmp/bt", TermQ("merge")).isEmpty)
    // docs without the term are untouched
    assert(hits(s"$tmp/bt", TermQ("def")).nonEmpty)
  }

  test("expunge == from-scratch build of the survivors (rank + score)") {
    val del = deleted.toSet
    Deletes.expunge(spark, s"$tmp/live", s"$tmp/expunged", "expunged-1")
    build(numbered.filterNot { case (id, _) => del.contains(id) }, s"$tmp/fresh")
    val em = IndexBuilder.readManifest(s"$tmp/expunged").get
    val fm = IndexBuilder.readManifest(s"$tmp/fresh").get
    assert(em.docCount === fm.docCount)
    assert(em.sumTotalTermFreq === fm.sumTotalTermFreq)
    for (q <- queries)
      assert(hits(s"$tmp/expunged", q) === hits(s"$tmp/fresh", q), s"q=$q")
    // stats corrected to the survivors
    val fs = spark.read.parquet(s"$tmp/fresh/termstats")
      .select("term", "df", "ttf").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val es = spark.read.parquet(s"$tmp/expunged/termstats")
      .select("term", "df", "ttf").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(es === fs)
    // and the expunged index carries no tombstones
    assert(Deletes.load(spark, s"$tmp/expunged").isEmpty)
  }
}
