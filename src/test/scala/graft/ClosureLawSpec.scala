package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.SparkContext
import org.apache.spark.rdd.{PairRDDFunctions, RDD}
import graft.core._
import graft.index.IndexBuilder
import graft.index.IndexBuilder.BuildConfig
import graft.search._

/** Spark's ClosureCleaner re-reads and ASM-walks the class file that
  * declares every closure it cleans, on every call. The Searcher's own
  * RDD jobs (its pins, a cold `stats` call, a warm distributed search,
  * count and rescore, and MultiField's two distributed paths) hand Spark
  * only closures declared in the small [[SearchJobs]] holder: none
  * declared in the Searcher, its companion, MultiField, or the
  * `groupByKey` / `RDD.collect` machinery of PairRDDFunctions, RDD and
  * SparkContext. Read from the `Cleaning indylambda closure` debug line
  * Spark logs for each closure it cleans.
  */
class ClosureLawSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  private val tmp =
    java.nio.file.Files.createTempDirectory("graft-closurelaw").toString
  private val cfg = BuildConfig(numBuckets = 8, numDocShards = 4,
    saltThreshold = 100L)

  private def build(dir: String, field: String): SegmentSearcher.SegmentIndex = {
    import spark.implicits._
    val df = Corpus.generate(300, seed = 61L)
      .sortBy(f => (f.repo, f.path, f.commit)).zipWithIndex
      .map { case (f, i) => (i.toLong, f.repo, f.path, f.commit, f.lang, f.content) }
      .toDF("docId", "repo", "path", "commit", "lang", "content")
    val ix = IndexBuilder.buildLogical(df, field, Some("docId"), Nil, cfg)
    IndexBuilder.writeIndex(ix, dir, s"snap-${dir.takeRight(8)}", numGroups = 1)
    ix.unpersistCached(); ix.postings.unpersist()
    SegmentSearcher.load(dir)
  }

  private lazy val content = build(s"$tmp/content", "content")
  private lazy val paths = build(s"$tmp/path", "path")

  private val CleanerLog = "org.apache.spark.util.ClosureCleaner"
  private val Cleaning = "Cleaning indylambda closure: "

  /** The impl-method names of the closures Spark cleaned during `f`. */
  private def cleanedDuring(f: => Unit): Seq[String] = {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val app = new AbstractAppender("closure-law", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        lines.add(e.getMessage.getFormattedMessage); ()
      }
    }
    app.start()
    val ctx = LoggerContext.getContext(false)
    val conf = ctx.getConfiguration
    val prior = Option(conf.getLoggers.get(CleanerLog))
    val lc = new LoggerConfig(CleanerLog, Level.DEBUG, false)
    lc.addAppender(app, Level.DEBUG, null)
    prior.foreach(_ => conf.removeLogger(CleanerLog))
    conf.addLogger(CleanerLog, lc)
    ctx.updateLoggers()
    try f
    finally {
      conf.removeLogger(CleanerLog)
      prior.foreach(conf.addLogger(CleanerLog, _))
      ctx.updateLoggers()
      app.stop()
    }
    import scala.jdk.CollectionConverters._
    lines.asScala.toSeq.filter(_.startsWith(Cleaning))
      .map(_.stripPrefix(Cleaning).trim)
  }

  private def declared(c: Class[_]): Set[String] =
    c.getDeclaredMethods.map(_.getName).toSet

  private def assertNoneOf(names: Seq[String], cs: Seq[Class[_]]): Unit =
    for (c <- cs) {
      val theirs = declared(c)
      assert(names.filter(theirs).isEmpty, s"declared by ${c.getName}: $names")
    }

  private val searchClasses =
    Seq(classOf[Searcher], SegmentSearcher.getClass, MultiField.getClass)

  /** Every cleaned closure is the holder's: none of the Searcher's, its
    * companion's, MultiField's, or groupByKey's and collect's own.
    */
  private def assertHolderOnly(names: Seq[String]): Unit = {
    assert(names.nonEmpty, "no closure was cleaned: the log capture is off")
    val holder = declared(SearchJobs.getClass)
    assert(names.filterNot(holder).isEmpty, s"cleaned: $names")
    assertNoneOf(names, searchClasses ++ Seq(classOf[PairRDDFunctions[_, _]],
      classOf[RDD[_]], classOf[SparkContext]))
  }

  /** Open a `maxLocalBytes = 0` Searcher and pin both its tables. The pins'
    * own job runs the holder's closure; the rest is Spark SQL's parquet
    * read of each table (schema inference and the scan planned once, whose
    * actions clean `RDD.collect`'s and `runJob`'s closures — the log line
    * names no class, and `Searcher.collect` shares those names).
    */
  private def open(ix: SegmentSearcher.SegmentIndex): Searcher = {
    var s: Searcher = null
    val names = cleanedDuring {
      s = new Searcher(spark, ix, maxLocalBytes = 0L)
      s.termStatsDf; s.segmentsDf
    }
    assert(names.count(_.startsWith("$anonfun$bucketBits$")) === 2,
      s"cleaned: $names")
    val sparks = declared(classOf[RDD[_]]) ++ declared(classOf[SparkContext])
    assertNoneOf(names.filterNot(sparks),
      searchClasses :+ classOf[PairRDDFunctions[_, _]])
    s
  }

  test("cold stats and warm distributed queries clean only the holder's closures") {
    val hot = spark.read.parquet(s"${content.dir}/termstats")
      .filter(org.apache.spark.sql.functions.col("df") >= cfg.saltThreshold)
      .select("term").collect().map(_.getString(0)).toSeq.sorted
    assert(hot.size >= 2, s"too few salted terms: $hot")
    val q = Query.orMin(1, TermQ(hot(0)), TermQ(hot(1)), TermQ("score"))
    val local = new Searcher(spark, content)
    val want = local.search(q, 10)
    local.close()
    val dist = open(content)
    var got: Array[Hit] = null
    val names = cleanedDuring {
      dist.stats(Set(hot(0), hot(1), "score"))
      got = dist.search(q, 10)
      dist.count(q)
      dist.rescore(want, TermQ(hot(1)), 0.5f, 5)
    }
    assert(got.toSeq === want.toSeq)
    assert(names.exists(_.startsWith("$anonfun$statRecs$")), s"cleaned: $names")
    assert(names.exists(_.startsWith("$anonfun$byShard$")), s"cleaned: $names")
    assertHolderOnly(names)
    dist.close()
  }

  test("MultiField's distributed paths clean only the holder's closures") {
    val fields = Seq(open(content), open(paths))
    val refs = fields.map(MultiField.FieldRef(_, 1f))
    val terms = Seq("score", "index", "src")
    refs.foreach(_.searcher.stats(terms.toSet))
    val names = cleanedDuring {
      MultiField.dismaxTerms(refs, terms, msm = 1, tie = 0f, k = 10)
      MultiField.searchMaskedSpan("content",
        Map("content" -> fields(0), "path" -> fields(1)),
        Span.Near(Seq(Span.Term("score"),
          Span.FieldMasked("path", Span.Term("src"))), 50, inOrder = false), 10)
    }
    assert(names.count(_.startsWith("$anonfun$byShard$")) >= 2, s"cleaned: $names")
    assertHolderOnly(names)
    fields.foreach(_.close())
  }
}
