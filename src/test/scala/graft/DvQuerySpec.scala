package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core._
import graft.index.{DvUpdates, IndexBuilder}
import graft.index.IndexBuilder.BuildConfig
import graft.search._

/** Sandbox docvalues queries (`lucene/sandbox/.../search/
  * DocValuesNumbersQuery.java:46`, `DocValuesTermsQuery.java:92`,
  * `DocValuesRangeQuery.java:60`): constant-score matching BY STORED
  * VALUE. Pinned against independent brute-force recomputes over the docs
  * table; the composed FILTER form against the engine's own exhaustive
  * scores; local vs forced-distributed parity.
  */
class DvQuerySpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  private lazy val (s, sDist, dir, total) = {
    import spark.implicits._
    val files = Corpus.generate(220, seed = 91L)
    val corpus = spark.createDataset(files).toDF()
      // deterministic numeric + string docvalues columns
      .withColumn("num", pmod(xxhash64(col("path")), lit(50L)))
      .withColumn("cat", concat(lit("c"),
        pmod(xxhash64(col("path"), lit(1)), lit(5L)).cast("string")))
      // nullable docvalues column: NULL never matches any predicate
      .withColumn("numn", when(pmod(xxhash64(col("path")), lit(50L)) < 10,
        lit(null)).otherwise(pmod(xxhash64(col("path")), lit(50L))))
    val ix = IndexBuilder.buildLogical(corpus.repartition(4), "content",
      None, Seq("path"),
      BuildConfig(numBuckets = 4, numDocShards = 2,
        saltThreshold = 1000000L))
    val d = java.nio.file.Files.createTempDirectory("graft-dvq").toString
    IndexBuilder.writeIndex(ix, d, "snap", 1)
    val n = ix.docs.count()
    ix.unpersistCached(); ix.postings.unpersist()
    (new Searcher(spark, SegmentSearcher.load(d)),
      new Searcher(spark, SegmentSearcher.load(d), cacheSegments = false,
        maxLocalBytes = 0),
      d, n)
  }

  /** (docId, num, cat) rows, collected once. */
  private lazy val rows: Seq[(Long, Long, String)] =
    s.docsDf.select(col("docId"), col("num"), col("cat"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))

  test("Numbers: membership, const score, docId-asc ties") {
    val vs = Set(3L, 7L, 11L, 42L)
    val expect = rows.filter(r => vs.contains(r._2)).map(_._1).sorted.take(10)
    val hits = s.searchDocValues("num", DvPred.Numbers(vs), 10)
    assert(hits.map(_.docId).toSeq == expect)
    assert(hits.forall(_.score == 1.0))
    assert(expect.nonEmpty) // fixture has teeth
  }

  test("Terms: string membership; absent value matches nothing") {
    val vs = Set("c1", "c3")
    val expect = rows.filter(r => vs.contains(r._3)).map(_._1).sorted.take(10)
    assert(s.searchDocValues("cat", DvPred.Terms(vs), 10)
      .map(_.docId).toSeq == expect)
    assert(s.searchDocValues("cat", DvPred.Terms(Set("zz")), 10).isEmpty)
  }

  test("Range: per-bound inclusivity") {
    def expectR(p: Long => Boolean): Seq[Long] =
      rows.filter(r => p(r._2)).map(_._1).sorted.take(1000)
    assert(s.searchDocValues("num",
      DvPred.Range(Some(10L), Some(20L)), 1000).map(_.docId).toSeq ==
      expectR(v => v >= 10 && v <= 20))
    assert(s.searchDocValues("num",
      DvPred.Range(Some(10L), Some(20L), inclLower = false,
        inclUpper = false), 1000).map(_.docId).toSeq ==
      expectR(v => v > 10 && v < 20))
    // open bounds (reference null): one-sided
    assert(s.searchDocValues("num",
      DvPred.Range(None, Some(5L)), 1000).map(_.docId).toSeq ==
      expectR(_ <= 5))
    assert(s.searchDocValues("num",
      DvPred.Range(Some(45L), None), 1000).map(_.docId).toSeq ==
      expectR(_ >= 45))
  }

  test("Range both-None rewrites to field-exists (every doc here)") {
    // `DocValuesRangeQuery.java:134-139` → FieldValueQuery(field)
    assert(s.countDocValues("num", DvPred.Range(None, None)) == total)
  }

  test("DvFiltered: scores = plain search, membership intersected") {
    val pred = DvPred.Range(Some(10L), Some(35L))
    val byId = rows.map(r => r._1 -> r._2).toMap
    // independent law: exhaustive plain scores, filter, re-rank
    val all = s.search(TermQ("index"), total.toInt, useWand = false).toSeq
    val expect = all.filter(h => { val v = byId(h.docId); v >= 10 && v <= 35 })
      .sortBy(h => (-h.score, h.docId)).take(10)
    val got = s.searchDvFiltered(TermQ("index"), 10, "num", pred).toSeq
    assert(got == expect)
    assert(got.nonEmpty)
    // the filter has teeth: it removed at least one otherwise-top hit
    assert(got != all.sortBy(h => (-h.score, h.docId)).take(10))
  }

  test("DvFiltered: forced-distributed parity (bit-exact)") {
    val pred = DvPred.Range(Some(5L), Some(40L), inclLower = false)
    val l = s.searchDvFiltered(BoolQ(should = Query.terms("index", "merge"),
      minShouldMatch = 1), 12, "num", pred).toSeq
    val d = sDist.searchDvFiltered(BoolQ(should = Query.terms("index", "merge"),
      minShouldMatch = 1), 12, "num", pred).toSeq
    assert(l == d)
    assert(l.nonEmpty)
  }

  test("DvFiltered over a nullable column: local ≡ forced-distributed") {
    // NULL cells never match, on the driver tier as in the SQL filter
    val pred = DvPred.Range(Some(10L), Some(35L))
    val l = s.searchDvFiltered(TermQ("index"), 10, "numn", pred).toSeq
    assert(l == sDist.searchDvFiltered(TermQ("index"), 10, "numn", pred).toSeq)
    assert(l.size == 10)
  }

  private def bits(hs: Array[Hit]): Seq[(Long, Long)] =
    hs.toSeq.map(h => (h.docId, java.lang.Double.doubleToLongBits(h.score)))

  /** Docs whose `numn` is NULL. */
  private lazy val nullDocs: Set[Long] =
    s.docsDf.filter(col("numn").isNull).select("docId").collect()
      .map(_.getLong(0)).toSet

  test("nullable column, searchBoosted: local ≡ forced-distributed, NULL last") {
    val all = s.search(TermQ("index"), total.toInt, useWand = false)
    assert(all.exists(h => nullDocs(h.docId))) // matches hold NULLs
    val l = s.searchBoosted(TermQ("index"), FieldV("numn"), 5)
    assert(bits(l) == bits(sDist.searchBoosted(TermQ("index"), FieldV("numn"), 5)))
    assert(l.length == 5 && l.forall(h => !nullDocs(h.docId)))
  }

  test("nullable column, searchByField: local ≡ forced-distributed, both directions") {
    val desc = s.searchByField(TermQ("index"), 5, "numn", asc = false).toSeq
    assert(desc == sDist.searchByField(TermQ("index"), 5, "numn", asc = false).toSeq)
    assert(desc.size == 5 && desc.forall(h => !nullDocs(h._1)))
    // ascending: NULL keys come first on both tiers, read as Long.MinValue
    val asc = s.searchByField(TermQ("index"), 5, "numn").toSeq
    assert(asc == sDist.searchByField(TermQ("index"), 5, "numn").toSeq)
    assert(asc.size == 5 && asc.forall(h => nullDocs(h._1) && h._2 == Long.MinValue))
    assert(asc.map(_._1) == asc.map(_._1).sorted)
  }

  test("nullable column, searchByExpr: local ≡ forced-distributed, NULL last") {
    val l = s.searchByExpr(TermQ("index"), 5, "numn").toSeq
    assert(l == sDist.searchByExpr(TermQ("index"), 5, "numn").toSeq)
    assert(l.size == 5 && l.forall(h => !nullDocs(h._1)))
  }

  test("nullable column, searchFunction: local ≡ forced-distributed, exists reads the null mask") {
    val l = s.searchFunction(FieldV("numn"), 5)
    assert(bits(l) == bits(sDist.searchFunction(FieldV("numn"), 5)))
    assert(l.length == 5 && l.forall(h => !nullDocs(h.docId)))
    // exists(numn) is 0 on NULL docs and def() falls through them, on both
    // tiers: the bottom of the exists ranking is all NULL docs
    val n = total.toInt
    for (vs <- Seq(ExistsV(FieldV("numn")),
        DefV(Seq(FieldV("numn"), ConstV(-1f))))) {
      val lv = s.searchFunction(vs, n)
      assert(bits(lv) == bits(sDist.searchFunction(vs, n)), s"$vs")
      assert(lv.filter(h => nullDocs(h.docId)).map(_.score).distinct.toSeq ==
        Seq(if (vs.isInstanceOf[ExistsV]) 0.0 else -1.0), s"$vs")
    }
  }

  test("DvFiltered reads docvalue updates on both tiers, string and long views") {
    val copy = java.nio.file.Files.createTempDirectory("graft-dvq-upd").toString
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(dir),
      new java.io.File(copy))
    val victims = rows.filter(_._2 != 7L).map(_._1).sorted.take(40)
    DvUpdates.updateNumeric(spark, copy, "num", victims.map(_ -> 7L))
    val ix = SegmentSearcher.load(copy)
    val local = new Searcher(spark, ix)
    val dist = new Searcher(spark, ix, maxLocalBytes = 0L)
    val q = Query.or(TermQ("index"), TermQ("merge"), TermQ("def"))
    val all = local.search(q, total.toInt, useWand = false).map(_.docId).toSet
    val byId = rows.map(r => r._1 -> r._2).toMap
    // the independent law: matches whose value is 7 after the update
    val expect = all.filter(d => victims.contains(d) || byId(d) == 7L)
    assert(expect.exists(d => byId(d) != 7L)) // the update has teeth
    for (pred <- Seq(DvPred.Terms(Set("7")), DvPred.Numbers(Set(7L)))) {
      val l = local.searchDvFiltered(q, 300, "num", pred).toSeq
      assert(l == dist.searchDvFiltered(q, 300, "num", pred).toSeq, s"$pred")
      assert(l.map(_.docId).toSet == expect, s"$pred")
    }
    local.close(); dist.close()
  }

  test("standalone: forced-distributed parity") {
    val p = DvPred.Numbers(Set(1L, 2L, 3L, 4L, 5L))
    assert(s.searchDocValues("num", p, 25).toSeq ==
      sDist.searchDocValues("num", p, 25).toSeq)
    val preds: Seq[DvPred] = Seq(
      DvPred.Terms(Set("c0", "c3")),
      DvPred.Range(Some(10L), Some(40L), inclLower = true,
        inclUpper = false),
      DvPred.Range(None, Some(25L)),
      DvPred.Range(None, None))
    for (pr <- preds; f <- Seq("num", "numn")) {
      assert(s.searchDocValues(f, pr, 30).toSeq ==
        sDist.searchDocValues(f, pr, 30).toSeq, s"$f $pr")
      assert(s.countDocValues(f, pr) == sDist.countDocValues(f, pr),
        s"count $f $pr")
    }
    // NULLs really are excluded: the both-None rewrite (field exists)
    // counts strictly fewer docs on the nullable column
    assert(s.countDocValues("numn", DvPred.Range(None, None)) < total)
  }
}
