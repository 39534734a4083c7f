package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.core._
import graft.index.IndexBuilder
import graft.index.IndexBuilder.BuildConfig
import graft.search._

/** A Searcher's one column loader and one byte-budgeted cache: every
  * docvalue view of a field reads the same loaded column, a gate refusal
  * is remembered without re-measuring, and the LRU evicts by bytes.
  */
class ColumnCacheSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  private lazy val ix: SegmentSearcher.SegmentIndex = {
    import spark.implicits._
    val corpus = spark.createDataset(Corpus.generate(200, seed = 83L)).toDF()
      .withColumn("num", pmod(xxhash64(col("path")), lit(20L)))
    val built = IndexBuilder.buildLogical(corpus.repartition(2), "content",
      None, Seq("path"), BuildConfig(numBuckets = 4, numDocShards = 2,
        saltThreshold = 1000000L))
    val d = java.nio.file.Files.createTempDirectory("graft-colcache").toString
    IndexBuilder.writeIndex(built, d, "snap", 1)
    built.unpersistCached(); built.postings.unpersist()
    SegmentSearcher.load(d)
  }

  /** Spark jobs started by `f`. */
  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(listener)
    try { f; org.apache.spark.TestBus.drain(sc) }
    finally sc.removeSparkListener(listener)
    jobs.get()
  }

  test("two docvalue shapes of one field cost one collect job") {
    val s = new Searcher(spark, ix)
    val q = TermQ("index")
    s.search(q, 5) // stats and blobs warm
    s.docsDf.schema // the docs table opened (its parquet footer read)
    var sorted = Array.empty[(Long, Array[Long])]
    // the long view: the column's one collect
    assert(jobsOf { sorted = s.searchBySort(q, 10, Seq("num" -> true)) } === 1)
    assert(sorted.nonEmpty)
    val v = sorted.head._2.head
    // the string view of the same column: no job
    var hits = Array.empty[Hit]
    assert(jobsOf {
      hits = s.searchDvFiltered(q, 10, "num", DvPred.Terms(Set(v.toString)))
    } === 0)
    assert(hits.map(_.docId).contains(sorted.head._1))
    // charged its heap bytes: 8 per docId, 8 per value
    assert(s.cacheStats.bytes >= 16L * ix.manifest.docCount)
    s.close()
  }

  test("a refused string column is measured once, its refusal kept at 0 bytes") {
    val n = ix.manifest.docCount
    // room for the column's 16 bytes a doc, not for its text too
    val s = new Searcher(spark, ix, maxLocalBytes = 16L * n + 64)
    assert(jobsOf(assert(s.docKeysLocal("content").isEmpty)) > 0)
    assert(jobsOf(assert(s.docKeysLocal("content").isEmpty)) === 0)
    assert(s.cacheStats.bytes === 0)
    // a fixed-width column is charged 16 bytes a doc without a job
    assert(jobsOf(assert(s.docKeysLocal("num").isDefined)) === 1)
    s.close()
  }

  test("the LRU evicts least recently used entries by bytes") {
    val lru = new ByteLru(100)
    lru.put("a", 1, 40); lru.put("b", 2, 40)
    assert(lru.get[Int]("a") === Some(1)) // a is now the most recent
    lru.put("c", 3, 40)
    assert(lru.get[Int]("b") === None)
    assert(lru.stats === ByteLru.Stats(entries = 2, bytes = 80, hits = 1,
      misses = 1, evictions = 1))
    // an entry over the whole budget is returned but not kept
    assert(lru.getOrLoad("d")((4, 101L)) === 4)
    assert(lru.get[Int]("d") === None)
    assert(lru.stats.bytes === 80)
    lru.clear()
    assert(lru.stats.entries === 0 && lru.stats.bytes === 0)
  }
}
