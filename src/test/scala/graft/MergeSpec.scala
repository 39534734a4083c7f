package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core._
import graft.index.{Deletes, IndexBuilder, Merge}
import graft.index.IndexBuilder.BuildConfig
import graft.search._
import graft.streaming.StreamingIndex

/** Segment merge + incremental streaming build: merged/compacted indexes
  * must answer rank-identically to a from-scratch build of the union
  * corpus (SegmentMerger + ExactStatsCache semantics).
  */
class MergeSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  private val tmp = java.nio.file.Files.createTempDirectory("graft-merge").toString
  private val cfg = BuildConfig(numBuckets = 8, numDocShards = 4,
    saltThreshold = 150L)

  /** Corpus with pre-assigned global docIds (rank over repo/path/commit). */
  lazy val numbered: Seq[(Long, CodeFile)] =
    Corpus.generate(400, seed = 31L)
      .sortBy(f => (f.repo, f.path, f.commit)).zipWithIndex
      .map { case (f, i) => (i.toLong, f) }

  private def toDf(rows: Seq[(Long, CodeFile)]) = {
    import spark.implicits._
    rows.map { case (id, f) => (id, f.repo, f.path, f.commit, f.lang, f.content) }
      .toDF("docId", "repo", "path", "commit", "lang", "content")
  }

  private def build(rows: Seq[(Long, CodeFile)], dir: String): Unit = {
    val ix = IndexBuilder.buildLogical(toDf(rows), "content",
      Some("docId"), Nil, cfg)
    IndexBuilder.writeIndex(ix, dir, s"snap-$dir", numGroups = 1)
    ix.postings.unpersist()
  }

  val queries = Seq[Query](
    TermQ("def"), TermQ("getindexwriter"),
    Query.and(TermQ("index"), TermQ("merge")),
    Query.orMin(2, TermQ("spark"), TermQ("val"), TermQ("score")),
    Query.not(TermQ("class"), TermQ("spark")))

  def hits(dir: String, q: Query): Seq[(Long, Double)] =
    SegmentSearcher.search(spark, SegmentSearcher.load(dir), q, 20)
      .map(h => (h.docId, h.score)).toSeq

  test("merged halves == from-scratch union build (rank + score identical)") {
    build(numbered, s"$tmp/full")
    build(numbered.take(200), s"$tmp/half1")
    build(numbered.drop(200), s"$tmp/half2")
    Merge.mergeIndexes(spark, Seq(s"$tmp/half1", s"$tmp/half2"),
      s"$tmp/merged", "merged-1")
    val mergedM = IndexBuilder.readManifest(s"$tmp/merged").get
    val fullM = IndexBuilder.readManifest(s"$tmp/full").get
    assert(mergedM.docCount === fullM.docCount)
    assert(mergedM.sumTotalTermFreq === fullM.sumTotalTermFreq)
    for (q <- queries)
      assert(hits(s"$tmp/merged", q) === hits(s"$tmp/full", q), s"q=$q")
    // df/ttf equality after re-aggregation
    val fullStats = spark.read.parquet(s"$tmp/full/termstats")
      .select("term", "df", "ttf").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val mergedStats = spark.read.parquet(s"$tmp/merged/termstats")
      .select("term", "df", "ttf").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(mergedStats === fullStats)
    // the prefix-partitioned dict survives compaction (multi-term
    // expansion would otherwise silently fall back to stats scans)
    assert(new java.io.File(s"$tmp/merged/termdict").isDirectory)
    val dictTerms = spark.read.parquet(s"$tmp/merged/termdict")
      .select("term").collect().map(_.getString(0)).toSet
    assert(dictTerms === fullStats.keySet)
  }

  test("streaming incremental build + compact == batch build") {
    val in = s"$tmp/stream-in"
    val idx = s"$tmp/stream-idx"
    val ckpt = s"$tmp/stream-ckpt"
    new java.io.File(in).mkdirs()
    // batch 1 files
    toDf(numbered.take(200)).coalesce(1).write.mode("append").parquet(in)
    val schema = "docId LONG, repo STRING, path STRING, commit STRING, " +
      "lang STRING, content STRING"
    val q1 = StreamingIndex.start(spark, in, schema, idx, ckpt, cfg)
    q1.awaitTermination(120000)
    // batch 2 files — restart picks up only the new files (checkpointed
    // offsets = the TopicStream _version_ checkpoint analog)
    toDf(numbered.drop(200)).coalesce(1).write.mode("append").parquet(in)
    val q2 = StreamingIndex.start(spark, in, schema, idx, ckpt, cfg)
    q2.awaitTermination(120000)

    val snaps = StreamingIndex.snapshots(idx)
    assert(snaps.size === 2, s"snapshots: $snaps")
    StreamingIndex.compact(spark, idx, s"$tmp/stream-compacted")
    if (!new java.io.File(s"$tmp/full/manifest.json").exists())
      build(numbered, s"$tmp/full")
    for (q <- queries)
      assert(hits(s"$tmp/stream-compacted", q) === hits(s"$tmp/full", q), s"q=$q")
  }

  test("continuous daemon stream (ProcessingTime trigger) indexes arrivals") {
    val in = s"$tmp/daemon-in"
    val idx = s"$tmp/daemon-idx"
    val ckpt = s"$tmp/daemon-ckpt"
    new java.io.File(in).mkdirs()
    val schema = "docId LONG, repo STRING, path STRING, commit STRING, " +
      "lang STRING, content STRING"
    // availableNow = false → default micro-batch trigger: the query KEEPS
    // running and picks up files as they arrive (DaemonStream semantics)
    val q = StreamingIndex.start(spark, in, schema, idx, ckpt, cfg,
      availableNow = false)
    try {
      toDf(numbered.take(150)).coalesce(1).write.mode("append").parquet(in)
      def waitSnaps(n: Int): Unit = {
        val deadline = System.currentTimeMillis() + 120000
        while (StreamingIndex.snapshots(idx).size < n &&
            System.currentTimeMillis() < deadline) Thread.sleep(500)
        assert(StreamingIndex.snapshots(idx).size >= n,
          s"expected $n snapshots, got ${StreamingIndex.snapshots(idx)}")
      }
      waitSnaps(1)
      // second arrival indexed by the SAME running query (no restart)
      toDf(numbered.slice(150, 300)).coalesce(1).write.mode("append").parquet(in)
      waitSnaps(2)
    } finally q.stop()
    StreamingIndex.compact(spark, idx, s"$tmp/daemon-compacted")
    if (!new java.io.File(s"$tmp/full/manifest.json").exists())
      build(numbered, s"$tmp/full")
    val expected = {
      build(numbered.take(300), s"$tmp/daemon-batch")
      (q: Query) => hits(s"$tmp/daemon-batch", q)
    }
    for (q <- queries)
      assert(hits(s"$tmp/daemon-compacted", q) === expected(q), s"q=$q")
  }

  test("document loaders: json and csv sources build identical indexes") {
    // loader pass-throughs (spark.read.json/csv → buildLogical): the
    // engine is source-format-agnostic as long as the input_hint columns
    // arrive; both formats must produce the parquet-built ranking
    import spark.implicits._
    val rows = numbered.take(120)
    val jsonDir = s"$tmp/loaders-json"
    val csvDir = s"$tmp/loaders-csv"
    toDf(rows).coalesce(1).write.mode("overwrite").json(jsonDir)
    toDf(rows).coalesce(1).write.mode("overwrite")
      .option("header", "true").option("quoteAll", "true").csv(csvDir)
    build(rows, s"$tmp/loaders-ref")
    val fromJson = spark.read.json(jsonDir)
      .select(col("docId").cast("long"), col("repo"), col("path"),
        col("commit"), col("lang"), col("content"))
    val fromCsv = spark.read.option("header", "true")
      .option("multiLine", "true").csv(csvDir)
      .select(col("docId").cast("long"), col("repo"), col("path"),
        col("commit"), col("lang"), col("content"))
    for ((src, name) <- Seq((fromJson, "json"), (fromCsv, "csv"))) {
      val dir = s"$tmp/loaders-$name-ix"
      val ix = IndexBuilder.buildLogical(src, "content", Some("docId"), Nil, cfg)
      IndexBuilder.writeIndex(ix, dir, s"snap-$name", numGroups = 1)
      ix.unpersistCached()
      ix.postings.unpersist()
      for (q <- queries)
        assert(hits(dir, q) === hits(s"$tmp/loaders-ref", q), s"$name q=$q")
    }
  }

  test("JDBC source (embedded Derby) builds a rank-identical index, partitioned read") {
    // JDBCStream analog (`solr/solrj/.../io/stream/JDBCStream.java`): the
    // engine is a spark.read.jdbc pass-through — proven here against an
    // embedded Derby database (ships with Spark), with the scale-correct
    // partitioned-read options (partitionColumn/bounds/numPartitions)
    sys.props("derby.system.home") = tmp // keep derby.log out of the repo
    val rows = numbered.take(120)
    val dbDir = s"$tmp/derby-docs"
    val url = s"jdbc:derby:$dbDir;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        """CREATE TABLE docs (docid BIGINT, repo VARCHAR(64),
          |path VARCHAR(128), commitid VARCHAR(16), lang VARCHAR(8),
          |content VARCHAR(4000))""".stripMargin.replace("\n", " "))
      val ps = conn.prepareStatement("INSERT INTO docs VALUES (?,?,?,?,?,?)")
      rows.foreach { case (id, f) =>
        ps.setLong(1, id); ps.setString(2, f.repo); ps.setString(3, f.path)
        ps.setString(4, f.commit); ps.setString(5, f.lang)
        ps.setString(6, f.content)
        ps.addBatch()
      }
      ps.executeBatch()
      ps.close()
    } finally conn.close()

    val fromJdbc = spark.read.format("jdbc")
      .option("url", s"jdbc:derby:$dbDir")
      .option("dbtable", "docs")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .option("partitionColumn", "docid")
      .option("lowerBound", "0")
      .option("upperBound", rows.size.toString)
      .option("numPartitions", "4")
      .load()
      .select(col("docid").as("docId"), col("repo"), col("path"),
        col("commitid").as("commit"), col("lang"), col("content"))
    assert(fromJdbc.rdd.getNumPartitions === 4, "JDBC read not partitioned")

    if (!new java.io.File(s"$tmp/loaders-ref/manifest.json").exists())
      build(rows, s"$tmp/loaders-ref")
    val dir = s"$tmp/loaders-jdbc-ix"
    val ix = IndexBuilder.buildLogical(fromJdbc, "content", Some("docId"), Nil, cfg)
    IndexBuilder.writeIndex(ix, dir, "snap-jdbc", numGroups = 1)
    ix.unpersistCached()
    ix.postings.unpersist()
    for (q <- queries)
      assert(hits(dir, q) === hits(s"$tmp/loaders-ref", q), s"jdbc q=$q")
  }

  test("tiered compaction: 12 snapshots -> <=2 rounds, rank-identical") {
    val idx = s"$tmp/tiered"
    // 12 snapshots over disjoint docId ranges, deliberately uneven sizes
    val slices = Seq(60, 20, 20, 30, 30, 30, 30, 30, 30, 40, 40, 40)
    assert(slices.sum === 400)
    var off = 0
    slices.zipWithIndex.foreach { case (n, i) =>
      build(numbered.slice(off, off + n), f"$idx/snap=$i%03d")
      off += n
    }
    assert(StreamingIndex.snapshots(idx).size === 12)
    val rounds = StreamingIndex.compactTiered(spark, idx,
      maxMergeAtOnce = 10, segsPerTier = 1)
    // 12 → (merge 10 smallest) → 3 → (merge 3) → 1: ceil(log10 12) = 2
    assert(rounds <= 2, s"took $rounds rounds")
    val snaps = StreamingIndex.snapshots(idx)
    assert(snaps.size === 1)
    if (!new java.io.File(s"$tmp/full/manifest.json").exists())
      build(numbered, s"$tmp/full")
    for (q <- queries)
      assert(hits(snaps.head, q) === hits(s"$tmp/full", q), s"q=$q")
  }

  test("realTimeGet keeps only the live snapshots' docs cached after compactTiered") {
    val idx = s"$tmp/rtg-cache"
    Seq(100, 100, 100, 100).zipWithIndex.foreach { case (n, i) =>
      build(numbered.slice(i * 100, i * 100 + n), f"$idx/snap=$i%03d")
    }
    val ids = Seq(5L, 150L, 390L)
    def rtg(): Set[Long] = StreamingIndex.realTimeGet(spark, idx, ids)
      .select("docId").collect().map(_.getLong(0)).toSet
    val dir = new java.io.File(idx).getAbsolutePath
    def cachedHere: Set[String] = StreamingIndex.cachedSnapshotPaths
      .filter(p => new java.io.File(p).getParent == dir)
    assert(rtg() === ids.toSet)
    assert(cachedHere === StreamingIndex.snapshots(idx).toSet)
    assert(cachedHere.size === 4)
    assert(StreamingIndex.compactTiered(spark, idx,
      maxMergeAtOnce = 10, segsPerTier = 1) === 1)
    assert(rtg() === ids.toSet)
    val live = StreamingIndex.snapshots(idx).toSet
    assert(live.size === 1)
    assert(cachedHere === live)
  }

  test("tiered compaction carries deletes: tombstoned docs stay deleted") {
    val idx = s"$tmp/tiered-del"
    val slices = Seq(150, 100, 150)
    var off = 0
    slices.zipWithIndex.foreach { case (n, i) =>
      build(numbered.slice(off, off + n), f"$idx/snap=$i%03d")
      off += n
    }
    // tombstone the two best 'def' hits of the first and the last snapshot
    val snaps0 = StreamingIndex.snapshots(idx)
    val del = Seq(snaps0.head, snaps0.last).flatMap { p =>
      val ids = SegmentSearcher.search(spark, SegmentSearcher.load(p),
        TermQ("def"), 2).map(_.docId).toSeq
      Deletes.deleteIds(spark, p, ids)
      ids
    }.toSet
    assert(del.size === 4)
    // 3 → (merge the 2 smallest) → 2 → 1: the first snapshot's batch
    // rides through an intermediate merge
    assert(StreamingIndex.compactTiered(spark, idx,
      maxMergeAtOnce = 2, segsPerTier = 1) === 2)
    val merged = StreamingIndex.snapshots(idx)
    assert(merged.size === 1)
    assert(Deletes.load(spark, merged.head).toSet === del)
    if (!new java.io.File(s"$tmp/full/manifest.json").exists())
      build(numbered, s"$tmp/full")
    val s = new Searcher(spark, SegmentSearcher.load(merged.head))
    val ref = new Searcher(spark, SegmentSearcher.load(s"$tmp/full"))
    for (q <- queries) {
      val got = s.search(q, 20).map(h => (h.docId, h.score)).toSeq
      assert(got.forall { case (d, _) => !del(d) }, s"q=$q")
      // merged stats still count the deleted docs (Lucene's law until
      // expunge), so scores equal the full build's minus the tombstones
      val all = ref.search(q, numbered.size).map(h => (h.docId, h.score))
      assert(got === all.filterNot(h => del(h._1)).take(20).toSeq, s"q=$q")
      assert(s.count(q) === all.count(h => !del(h._1)), s"q=$q")
    }
    s.close(); ref.close()
  }
}
