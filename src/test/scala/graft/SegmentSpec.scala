package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core._
import graft.index.IndexBuilder
import graft.index.IndexBuilder.BuildConfig
import graft.search._

/** Segment path vs DataFrame path dual-implementation equivalence — the
  * reference's TestBoolean2 oracle style
  * (`lucene/core/src/test/.../search/TestBoolean2.java:16-19`) — plus
  * salting, resume, and CheckIndex-style invariants
  * (`index/CheckIndex.java:498,1741`).
  */
class SegmentSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  private val tmpRoot = java.nio.file.Files
    .createTempDirectory("graft-segspec").toString

  def buildAndWrite(files: Seq[CodeFile], cfg: BuildConfig,
      name: String, numGroups: Int = 2): (IndexBuilder.LogicalIndex, SegmentSearcher.SegmentIndex) = {
    import spark.implicits._
    val ix = IndexBuilder.buildLogical(
      spark.createDataset(files).repartition(4).toDF(),
      "content", None, Seq("repo", "path", "commit"), cfg)
    val dir = s"$tmpRoot/$name"
    IndexBuilder.writeIndex(ix, dir, "snap1", numGroups)
    (ix, SegmentSearcher.load(dir))
  }

  lazy val corpus: Seq[CodeFile] = Corpus.generate(400, seed = 13L)
  lazy val built = buildAndWrite(corpus, BuildConfig(numBuckets = 8,
    numDocShards = 4, saltThreshold = 1000000L), "plain")
  // low threshold forces hot terms onto the salted path
  lazy val builtSalted = buildAndWrite(corpus, BuildConfig(numBuckets = 8,
    numDocShards = 4, saltThreshold = 150L), "salted")

  def dfHits(ix: IndexBuilder.LogicalIndex, q: Query, k: Int,
      after: Option[(Double, Long)] = None): Seq[(Long, Double)] =
    DataFrameSearcher.search(ix, q, k, after).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq

  def segHits(six: SegmentSearcher.SegmentIndex, q: Query, k: Int,
      after: Option[(Double, Long)] = None): Seq[(Long, Double)] =
    SegmentSearcher.search(spark, six, q, k, after)
      .map(h => (h.docId, h.score)).toSeq

  val queries: Seq[(String, Query)] = Seq(
    "term common" -> TermQ("def"),
    "term mid" -> TermQ("index"),
    "term rare" -> TermQ("getblockmerger"),
    "term absent" -> TermQ("zzzznotaterm"),
    "and2" -> Query.and(TermQ("def"), TermQ("merge")),
    "and3" -> Query.and(TermQ("def"), TermQ("val"), TermQ("index")),
    "or2" -> Query.or(TermQ("spark"), TermQ("lucene")),
    "or3msm2" -> Query.orMin(2, TermQ("spark"), TermQ("lucene"), TermQ("segment")),
    "not" -> Query.not(TermQ("def"), TermQ("spark")),
    "must+should" -> BoolQ(must = Seq(TermQ("def")),
      should = Seq(TermQ("spark"), TermQ("merge"))),
    "must+should+msm" -> BoolQ(must = Seq(TermQ("def")),
      should = Seq(TermQ("spark"), TermQ("merge"), TermQ("index")),
      minShouldMatch = 2),
    "filter" -> BoolQ(must = Seq(TermQ("def")), filter = Seq(TermQ("merge"))),
    "dismax" -> DisMaxQ(Seq(TermQ("def"), TermQ("merge")), 0.3f),
    "synonym" -> SynonymQ(Seq("index", "merge")),
    "blended" -> BlendedQ(Seq("getblockmerger", "def"), 0.01f),
    "blended with absent" -> BlendedQ(Seq("index", "zzzznotaterm"), 0.1f),
    "blended in bool" -> BoolQ(must = Seq(TermQ("def")),
      should = Seq(BlendedQ(Seq("index", "merge")))),
    "boost" -> Query.or(BoostQ(TermQ("spark"), 2f), TermQ("lucene")),
    "const" -> ConstScoreQ(TermQ("def"), 1f),
    "nested" -> BoolQ(
      must = Seq(Query.or(TermQ("def"), TermQ("class"))),
      should = Seq(Query.and(TermQ("index"), TermQ("merge")))),
    "prefix" -> PrefixQ("get"),
    // segment-path phrases over the positions sidecar (exact + sloppy)
    "phrase exact" -> PhraseQ(Seq("def", "class")),
    "phrase exact 3" -> PhraseQ(Seq("def", "class", "val")),
    "phrase sloppy" -> PhraseQ(Seq("index", "merge"), 2),
    "phrase sloppy wide" -> PhraseQ(Seq("def", "index"), 4),
    "phrase in bool" -> BoolQ(must = Seq(TermQ("score")),
      should = Seq(PhraseQ(Seq("def", "class")))),
    "phrase sloppy repeat" -> PhraseQ(Seq("def", "class", "def"), 3),
    "multiphrase" -> MultiPhraseQ(Seq(Seq("def"), Seq("class", "val"))),
    "multiphrase sloppy" -> MultiPhraseQ(Seq(Seq("index"), Seq("merge", "score")), 2),
    // repeated term across offset SETS (hasMultiTermRpts collision path)
    "multiphrase sloppy rpt" -> MultiPhraseQ(Seq(Seq("def"), Seq("def", "class")), 2),
    "multiphrase sloppy rpt transitive" ->
      MultiPhraseQ(Seq(Seq("def", "val"), Seq("val", "class"), Seq("class")), 3),
    // MatchAll-backed trees and filter-only bools (BooleanWeight semantics)
    "must with matchall" -> BoolQ(must = Seq(TermQ("def"), MatchAllQ)),
    "not matchall" -> Query.not(MatchAllQ, TermQ("def")),
    "filter only" -> BoolQ(filter = Seq(TermQ("def"), TermQ("merge"))),
    "const all" -> ConstScoreQ(MatchAllQ, 2f))

  test("dual-path equivalence: segment == DataFrame on the query matrix") {
    val (ix, six) = built
    for ((name, q) <- queries; k <- Seq(1, 10, 50)) {
      val expected = dfHits(ix, q, k)
      val got = segHits(six, q, k)
      assert(got === expected, s"query '$name' k=$k")
    }
  }

  test("dual-path equivalence under salting (hot terms sharded)") {
    val (ix, _) = built
    val (_, sixSalted) = builtSalted
    for ((name, q) <- queries; k <- Seq(10, 50)) {
      val expected = dfHits(ix, q, k)
      val got = segHits(sixSalted, q, k)
      assert(got === expected, s"salted query '$name' k=$k")
    }
  }

  test("salted index really contains salted rows") {
    val (_, six) = builtSalted
    val seg = spark.read.option("basePath", s"${six.dir}/segments")
      .parquet(six.segmentPaths: _*)
    val saltCounts = seg.groupBy(col("salt") >= 0).count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(saltCounts.getOrElse(true, 0L) > 0, "expected salted rows")
    assert(saltCounts.getOrElse(false, 0L) > 0, "expected unsalted rows")
    // a salted hot term has numDocShards sub-lists, docId-aligned mod S
    val hot = seg.filter(col("salt") >= 0).groupBy("term")
      .count().orderBy(desc("count")).limit(1).collect()(0).getString(0)
    val rows = seg.filter(col("term") === hot).collect()
    assert(rows.map(_.getAs[Int]("salt")).sorted.toSeq === (0 until 4))
    rows.foreach { r =>
      val salt = r.getAs[Int]("salt")
      val pl = graft.index.PostingsCodec.decode(
        r.getAs[Array[Byte]]("docBlocks"), r.getAs[Array[Byte]]("skipData"))
      assert(pl.docs.forall(_ % 4 == salt))
    }
  }

  test("forced-distributed execution == DataFrame path (incl. phrases)") {
    // maxLocalBytes = 0 pushes every query onto the groupByKey shard path
    // (the 100 TB shape) — including the positions sidecar for phrases
    val (ix, _) = built
    val distQueries = Seq[Query](
      TermQ("def"),
      Query.and(TermQ("def"), TermQ("merge")),
      Query.orMin(2, TermQ("spark"), TermQ("lucene"), TermQ("segment")),
      PhraseQ(Seq("def", "class")),
      PhraseQ(Seq("index", "merge"), 2),
      MultiPhraseQ(Seq(Seq("def"), Seq("class", "val"))))
    for ((name, six) <- Seq("plain" -> built._2, "salted" -> builtSalted._2)) {
      val s = new Searcher(spark, six, cacheSegments = false, maxLocalBytes = 0)
      for (q <- distQueries) {
        assert(s.search(q, 10).map(h => (h.docId, h.score)).toSeq
          === dfHits(ix, q, 10), s"$name dist q=$q")
      }
    }
  }

  test("forced-distributed count/rescore/searchByField == driver-local") {
    // maxLocalBytes = 0 forces the groupByKey shard path AND the
    // executor-side docvalues join (the 100 TB shape: no posting list and
    // no docvalues column ever centralizes on the driver)
    for ((name, six) <- Seq("plain" -> built._2, "salted" -> builtSalted._2)) {
      val local = new Searcher(spark, six, cacheSegments = false)
      val dist = new Searcher(spark, six, cacheSegments = false, maxLocalBytes = 0)
      val countQs = Seq[Query](
        TermQ("def"),
        Query.and(TermQ("def"), TermQ("merge")),
        Query.not(MatchAllQ, TermQ("def")),
        BoolQ(filter = Seq(TermQ("def"), TermQ("merge"))))
      for (q <- countQs)
        assert(dist.count(q) === local.count(q), s"$name count q=$q")
      for (q <- Seq[Query](TermQ("def"), Query.or(TermQ("def"), TermQ("merge")));
           asc <- Seq(true, false)) {
        assert(dist.searchByField(q, 10, "length", asc).toSeq
          === local.searchByField(q, 10, "length", asc).toSeq,
          s"$name searchByField q=$q asc=$asc")
      }
      val first = local.search(TermQ("def"), 20)
      assert(dist.rescore(first, TermQ("merge"), 2f, 10).map(h => (h.docId, h.score)).toSeq
        === local.rescore(first, TermQ("merge"), 2f, 10).map(h => (h.docId, h.score)).toSeq,
        s"$name rescore")
      // rescore query with an absent term: every hit keeps firstScore
      assert(dist.rescore(first, TermQ("zzzznotaterm"), 2f, 10).map(h => (h.docId, h.score)).toSeq
        === local.rescore(first, TermQ("zzzznotaterm"), 2f, 10).map(h => (h.docId, h.score)).toSeq,
        s"$name rescore absent")
    }
  }

  test("searchAfter equivalence on segment path") {
    val (ix, six) = built
    val page1 = segHits(six, TermQ("def"), 5)
    val cursor = page1.last
    val got = segHits(six, TermQ("def"), 5, Some((cursor._2, cursor._1)))
    val expected = dfHits(ix, TermQ("def"), 5, Some((cursor._2, cursor._1)))
    assert(got === expected)
    assert((page1 ++ got) === dfHits(ix, TermQ("def"), 10))
  }

  test("verifyIndex invariants (CheckIndex analog)") {
    val (ix, six) = built
    val seg = spark.read.option("basePath", s"${six.dir}/segments")
      .parquet(six.segmentPaths: _*).collect()
    // postings sorted + df matches blob doc count
    var sumTf = 0L
    val dfByTerm = scala.collection.mutable.Map.empty[String, Long]
    seg.foreach { r =>
      val pl = graft.index.PostingsCodec.decode(
        r.getAs[Array[Byte]]("docBlocks"), r.getAs[Array[Byte]]("skipData"))
      assert(pl.docs.toSeq === pl.docs.sorted.toSeq)
      assert(pl.docs.distinct.length === pl.docs.length)
      assert(r.getAs[Int]("df") === pl.docs.length)
      assert(r.getAs[Int]("maxTf") === pl.tfs.max)
      sumTf += pl.tfs.map(_.toLong).sum
      val t = r.getAs[String]("term")
      dfByTerm(t) = dfByTerm.getOrElse(t, 0L) + pl.docs.length
      // bucket routing is consistent
      assert(r.getAs[Int]("bucket") === IndexBuilder.bucketOf(t, 8))
    }
    // Σtf across all segment rows == sumTotalTermFreq
    assert(sumTf === six.manifest.sumTotalTermFreq)
    // df per term matches the stats table
    val stats = spark.read.parquet(s"${six.dir}/termstats")
      .select("term", "df").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    dfByTerm.foreach { case (t, d) => assert(stats(t) === d, s"df of $t") }
    // per-row content sha256 equality vs source (north rule)
    import spark.implicits._
    val src = spark.createDataset(corpus).select(
      sha2(col("content"), 256).as("sha"), col("repo"), col("path"), col("commit"))
    val docs = spark.read.parquet(s"${six.dir}/docs")
    val joined = docs.join(src, Seq("repo", "path", "commit"))
    assert(joined.filter(col("sha") =!= col("contentSha256")).count() === 0)
    assert(joined.count() === 400)
    // per-chunk input sha256 lineage reproduces from the source rows
    val lin = spark.read.parquet(s"${six.dir}/lineage/docs")
      .select("chunk", "inputSha256", "docCount").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val recomputed = docs
      .groupBy(shiftright(col("docId"), 12).as("chunk"))
      .agg(count(lit(1)).as("docCount"),
        sha2(concat_ws("\n", sort_array(collect_list(col("contentSha256")))), 256)
          .as("inputSha256"))
      .collect().map(r => r.getLong(0) -> (r.getString(2), r.getLong(1))).toMap
    assert(lin === recomputed)
    assert(lin.values.map(_._2).sum === 400L)
  }

  test("termstats holds one data file per bucket") {
    val (_, six) = built
    val buckets = new java.io.File(s"${six.dir}/termstats").listFiles()
      .filter(_.getName.startsWith("bucket="))
    assert(buckets.length === 8)
    for (b <- buckets)
      assert(b.listFiles().count(_.getName.endsWith(".parquet")) === 1,
        b.getName)
  }

  test("resume: killed build restarts at segment-group granularity") {
    import spark.implicits._
    val ix = IndexBuilder.buildLogical(
      spark.createDataset(corpus).toDF(),
      "content", None, Seq("repo", "path", "commit"),
      BuildConfig(numBuckets = 8, numDocShards = 4))
    val dir = s"$tmpRoot/resume"
    // crash after 2 of 4 groups
    val err = intercept[RuntimeException] {
      IndexBuilder.writeIndex(ix, dir, "snapR", numGroups = 4, failAfterGroup = 2)
    }
    assert(err.getMessage.contains("injected failure"))
    val partial = IndexBuilder.readManifest(dir).get
    assert(partial.completedGroups.size === 2)
    // restart: completes only the missing groups
    val m2 = IndexBuilder.writeIndex(ix, dir, "snapR", numGroups = 4)
    assert(m2.completedGroups === Seq(0, 1, 2, 3))
    val six = SegmentSearcher.load(dir)
    // resumed index answers identically to a fresh one
    val (ixRef, sixRef) = built
    for ((name, q) <- queries.take(8)) {
      assert(segHits(six, q, 10) === segHits(sixRef, q, 10), s"resumed '$name'")
    }
    // lineage rows exist for every group
    val lin = spark.read.parquet((0 until 4).map(g => s"$dir/lineage/grp=$g"): _*)
    assert(lin.select("bucket").distinct().count() === 8)
    assert(lin.agg(sum("postingCount")).collect()(0).getLong(0) > 0)
  }

  test("offsets highlighting: token-bounds path == re-tokenize path, " +
      "manifest flag round-trips, merge preserves the column") {
    import spark.implicits._
    val docs = Seq(
      ("r", "p0", "c", "s", "The Quick BROWN fox; Jumps-OVER the lazy dog"),
      ("r", "p1", "c", "s", "nothing matches in here at all"),
      ("r", "p2", "c", "s", "fox FOX Fox fOx — four foxes and a dog"),
      ("r", "p3", "c", "s", "trailing Fox")).toDF(
      "repo", "path", "commit", "lang", "content")
    def build(offsets: Boolean, tag: String): Searcher = {
      val ix = IndexBuilder.buildLogical(docs, "content", None,
        Seq("repo", "path", "commit"),
        BuildConfig(numBuckets = 2, numDocShards = 1, offsets = offsets))
      val dir = s"$tmpRoot/hl-$tag"
      IndexBuilder.writeIndex(ix, dir, s"hl-$tag", 1)
      ix.unpersistCached(); ix.postings.unpersist()
      new Searcher(spark, SegmentSearcher.load(dir))
    }
    val withOff = build(offsets = true, "off")
    val without = build(offsets = false, "plain")
    assert(withOff.index.manifest.offsets && !without.index.manifest.offsets)
    assert(withOff.docsDf.columns.contains("tokenBounds"))
    assert(!without.docsDf.columns.contains("tokenBounds"))

    val terms = Set("fox", "dog")
    val hits = withOff.search(Query.or(TermQ("fox"), TermQ("dog")), 10)
    assert(hits.nonEmpty)
    // per-request path parity (mixed case exercises the lowercase law)
    val a = withOff.highlightAll(hits, terms)
    val b = without.highlightAll(hits, terms)
    assert(a == b && a.values.exists(_.contains("<em>fox</em>")))
    // batch path parity
    val hitsDf = hits.map(_.docId).toSeq.toDF("docId")
    val fa = withOff.highlightFrame(hitsDf, terms).orderBy("docId")
      .select("docId", "snippet").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val fb = without.highlightFrame(hitsDf, terms).orderBy("docId")
      .select("docId", "snippet").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(fa == fb)
    // merge (single-dir compaction) keeps the offsets column + flag
    val mdir = s"$tmpRoot/hl-merged"
    graft.index.Merge.mergeIndexes(spark, Seq(s"$tmpRoot/hl-off"), mdir,
      "hl-merged")
    val mm = IndexBuilder.readManifest(mdir).get
    assert(mm.offsets)
    assert(spark.read.parquet(s"$mdir/docs").columns.contains("tokenBounds"))
    withOff.close(); without.close()
  }

  test("top-k heap obeys the tie-break law under stress") {
    val rnd = new scala.util.Random(5L)
    for (_ <- 1 to 20) {
      val docIds = rnd.shuffle((0L until 5000L).toVector).take(500)
      val hits = docIds.map(d => (d, rnd.nextInt(20) / 4.0))
      val q = new BoundedHitQueue(10)
      hits.foreach { case (d, s) => q.insert(d, s) }
      val expected = hits
        .sortBy { case (d, s) => (-s, d) }.take(10)
        .map { case (d, s) => Hit(d, s) }
      assert(q.sortedHits.toSeq === expected)
    }
  }
}
