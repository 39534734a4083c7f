package graft.gate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Hit
import graft.index.IndexBuilder
import graft.index.IndexBuilder.{BuildConfig, LogicalIndex}
import graft.search._

/** Driver-gate query set for the search engine (FIXTURES.md §4): every
  * entry runs the REAL engine (segment path — encoded blobs, sharded
  * scorer trees, treeReduce merge) over the `documents` table of the given
  * sf dir, and has a bit-exact DuckDB oracle (Oracles.scala).
  *
  * Output schema everywhere: (doc_id BIGINT, score DOUBLE, rnk INT).
  */
object SearchGate {

  val K = 10
  // sf0.01 documents: common terms have df ≈ 390/500 ⇒ threshold 200 makes
  // them salted (exercises the sharded path in the gate itself); 'dup'
  // (df 25) stays cold ⇒ mixed hot/cold queries run the mod-filter path.
  // offsets on: q_highlight / q_highlight_batch exercise the exact-offset
  // (token-bounds) path against the UNCHANGED re-tokenize-law oracles.
  // payloads "pos" on: every occurrence carries its token position as a
  // float payload — q_payload_* queries read it back through the
  // payloads sidecar while the oracle recomputes it from the text
  def gateConfig: BuildConfig = BuildConfig(
    numBuckets = 8, numDocShards = 4, saltThreshold = 200L,
    tokenizer = "simple", offsets = true, payloads = Some("pos"),
    bloom = true)

  // ---- cached per-sfDir indexes (the gate runs ~20 queries per dir) ----

  private val logicalCache =
    scala.collection.concurrent.TrieMap.empty[String, LogicalIndex]

  /** Every gate fixture (the base index, its variants, the rtg snapshots,
    * OpsGate's ANN/IVF dirs) by (sfDir, fixture key): its dir under
    * java.io.tmpdir, and the Searcher open over it when it is an index.
    * clearCaches frees them all.
    */
  private val fixtureDirs =
    scala.collection.concurrent.TrieMap.empty[(String, Any), String]
  private val fixtures =
    scala.collection.concurrent.TrieMap.empty[(String, Any), Searcher]

  /** The dir of fixture `key` over `sfDir`, filled once by `write`. The
    * key must determine the build: the dir is named by a digest of it,
    * made fresh (tmp may hold a stale one from an earlier JVM), and
    * deleted by clearCaches — or at once if `write` fails.
    */
  private[gate] def fixtureDir(sfDir: String, key: Any)(
      write: String => Unit): String =
    fixtureDirs.getOrElseUpdate((sfDir, key), {
      val dir = s"${sys.props("java.io.tmpdir")}/graft-gate-" +
        java.util.UUID.nameUUIDFromBytes(s"$sfDir#$key".getBytes("UTF-8"))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      try write(dir)
      catch { case e: Throwable =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
        throw e
      }
      dir
    })

  /** A default Searcher over fixture index `key` ([[fixtureDir]]). */
  private def fixture(spark: SparkSession, sfDir: String, key: Any)(
      write: String => Unit): Searcher =
    fixtures.getOrElseUpdate((sfDir, key),
      new Searcher(spark, SegmentSearcher.load(fixtureDir(sfDir, key)(write))))

  /** Snapshot id of the index written into fixture dir `dir`. */
  private def snapshotOf(dir: String): String = new java.io.File(dir).getName

  /** Fixture dirs built and not yet deleted, and the Searchers open
    * over them.
    */
  private[graft] def trackedDirs: Seq[String] = fixtureDirs.values.toSeq
  private[graft] def openFixtures: Seq[Searcher] = fixtures.values.toSeq

  /** Drop cached plans (needed when a new SparkSession replaces the one
    * the cached DataFrames were bound to, e.g. between bench phases):
    * closes the fixture Searchers, unpersists the cached logical indexes
    * and deletes every fixture dir.
    */
  def clearCaches(): Unit = {
    def quietly(f: => Unit): Unit =
      try f catch { case _: Exception => } // session may already be stopped
    fixtures.values.foreach(s => quietly(s.close()))
    fixtures.clear()
    freeTextCache.values.foreach(m => quietly(m.unpersist()))
    freeTextCache.clear()
    logicalCache.values.foreach(ix => quietly {
      ix.unpersistCached(); ix.postings.unpersist()
    })
    logicalCache.clear()
    docsDfCache.clear()
    // views over the fixture dirs deleted below would dangle into the
    // next gate run
    rtgDfCache.clear()
    fixtureDirs.values.foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
    fixtureDirs.clear()
  }

  /** Per-sfDir documents DataFrame HANDLE (plan, not data): re-running
    * spark.read.parquet per query repeats file listing + footer schema
    * inference as a driver-side job every time (guide §6 file-listing
    * cost). The rows are still read from parquet on every action.
    */
  private val docsDfCache =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  private[gate] def docsDf(spark: SparkSession, sfDir: String): DataFrame =
    docsDfCache.getOrElseUpdate(sfDir,
      spark.read.parquet(s"$sfDir/documents.parquet"))

  def logical(spark: SparkSession, sfDir: String): LogicalIndex =
    logicalCache.getOrElseUpdate(sfDir, {
      val docs = docsDf(spark, sfDir)
      // buildLogical caches the per-doc intermediate AND termStats; docs
      // and postings are narrow reads of the former
      IndexBuilder.buildLogical(docs, "text", Some("doc_id"), Nil, gateConfig)
    })

  /** The gate index: `logical` written as two groups. */
  def searcher(spark: SparkSession, sfDir: String): Searcher =
    fixture(spark, sfDir, "base")(dir => IndexBuilder.writeIndex(
      logical(spark, sfDir), dir, snapshotOf(dir), numGroups = 2))

  /** Analyzed-field fixture, the shared shape of every variant index:
    * `column` of `documents` (∪ `planted` rows when non-empty) under
    * `config` of the gate config with tokenizer `spec` and no offsets or
    * payloads sidecars. `project` indexes (doc_id, column) alone; false
    * indexes the whole documents frame.
    */
  def specSearcher(spark: SparkSession, sfDir: String, spec: String,
      planted: Seq[(Long, String)] = Nil,
      config: BuildConfig => BuildConfig = identity,
      column: String = "text", project: Boolean = true): Searcher = {
    val cfg = config(
      gateConfig.copy(tokenizer = spec, offsets = false, payloads = None))
    fixture(spark, sfDir, (cfg, planted, column, project)) { dir =>
      import spark.implicits._
      val all = docsDf(spark, sfDir)
      val base = if (project) all.select(col("doc_id"), col(column)) else all
      val docs = if (planted.isEmpty) base
        else base.unionByName(planted.toDF("doc_id", column))
      val ix = IndexBuilder.buildLogical(docs, column, Some("doc_id"), Nil, cfg)
      IndexBuilder.writeIndex(ix, dir, snapshotOf(dir), numGroups = 1)
      ix.unpersistCached()
      ix.postings.unpersist()
    }
  }

  /** Term-hash-resharded copy of the gate index (Reshard.reshard, the
    * IndexSplitter operation class): 8 → 5 buckets, blobs verbatim. The
    * q_reshard_* gates pin its results against the UNSHARDED oracles.
    */
  private def reshardSearcher(spark: SparkSession, sfDir: String): Searcher =
    fixture(spark, sfDir, "reshard")(dir => graft.index.Reshard.reshard(
      spark, searcher(spark, sfDir).index.dir, dir, 5, snapshotOf(dir)))

  /** Tombstoned copy of the gate index (Deletes, the liveDocs law):
    * replicated via Replicator.sync, then deleteByTerm("dup") — every
    * doc containing 'dup' is masked at collection while stats still
    * count it (Lucene: deletes influence scores until expunge). The
    * q_deleted_* oracles replay exactly that: full-corpus stats, the
    * tombstoned docs excluded from output.
    */
  private def delSearcher(spark: SparkSession, sfDir: String): Searcher =
    fixture(spark, sfDir, "del") { dir =>
      graft.index.Replicator.sync(searcher(spark, sfDir).index.dir, dir)
      graft.index.Deletes.deleteByTerm(spark, dir, "dup")
    }

  /** DV-updated copy of the gate index (DvUpdates, the
    * updateNumericDocValue law): replicated, then n_chars overridden to 1
    * for doc_ids 5/6/7 — the q_dvupdate_sort oracle replays the same
    * override with a CASE over the raw column.
    */
  val DvUpdatedIds = Seq(5L, 6L, 7L)
  private def updSearcher(spark: SparkSession, sfDir: String): Searcher =
    fixture(spark, sfDir, "upd") { dir =>
      graft.index.Replicator.sync(searcher(spark, sfDir).index.dir, dir)
      graft.index.DvUpdates.updateNumeric(spark, dir, "n_chars",
        DvUpdatedIds.map(_ -> 1L))
    }

  /** Per-(sfDir, column) field indexes for the edismax qf surface — each
    * field is its own inverted index over the SAME doc_id space, built
    * with the full gate config.
    */
  private def fieldSearcher(spark: SparkSession, sfDir: String,
      fieldCol: String): Searcher =
    specSearcher(spark, sfDir, gateConfig.tokenizer, config = _ => gateConfig,
      column = fieldCol, project = false)

  /** SweetSpot-normed index (the index-time Similarity determines the
    * stored norm byte): same corpus, norm byte = byte315(SweetSpot
    * plateau lengthNorm) — scores ONLY under SimSweetSpot.
    */
  val SweetSpotNormSim = "sweetspot:8:40:0.5"
  private def sweetSearcher(spark: SparkSession, sfDir: String): Searcher =
    specSearcher(spark, sfDir, gateConfig.tokenizer,
      config = _.copy(normSim = SweetSpotNormSim), project = false)

  /** Shingled (word-bigram) index per sfDir — ShingleFilter
    * outputUnigrams=false: phrase-as-term fields. At 100 TB this is the
    * trade that removes positions from the phrase hot path entirely.
    */
  private def shingleSearcher(spark: SparkSession, sfDir: String): Searcher =
    specSearcher(spark, sfDir, "shingle:2", project = false)

  /** CommonGrams index (CommonGramsFilter overlay, common = the
    * reference StandardAnalyzer English stop set): unigrams at their
    * positions plus `prev_cur` grams at the first word's position.
    */
  private def cgSearcher(spark: SparkSession, sfDir: String): Searcher =
    specSearcher(spark, sfDir, "commongrams", project = false)

  /** Index-time SynonymFilter field (`synonym/SynonymFilter.java`):
    * expansion group {fast, rapid} (originals kept + posInc-0 overlays)
    * and directed rule column=>col (replacement). Overlays share the
    * source token's position, so phrases match THROUGH synonyms.
    */
  val SynonymSpec = "fast,rapid;column=>col"
  val SynonymExpandPairs: Seq[(String, String)] =
    Seq("fast" -> "rapid", "rapid" -> "fast")
  val SynonymDirectedPairs: Seq[(String, String)] = Seq("column" -> "col")
  private def synSearcher(spark: SparkSession, sfDir: String): Searcher =
    specSearcher(spark, sfDir, s"synonym:$SynonymSpec", project = false)

  /** Boolean function-family value trees, shared by gate and oracle. */
  private val IfExistsVs = ValueSources.parseFunc(
    "if(exists(query($q)), 100, recip(n_chars, 1, 1000, 1))",
    Map("q" -> TermQ("spark")))
  private val BoolVs = ValueSources.parseFunc(
    "if(and(or(query($q), not(query($r))), true), sum(1, query($q)), 0.25)",
    Map("q" -> TermQ("spark"), "r" -> TermQ("batch")))
  private val DefVs = ValueSources.parseFunc(
    "def(query($q), 7)", Map("q" -> TermQ("spark")))

  /** Keep set for the KeepWordFilter gate field. */
  val KeepWords: Seq[String] =
    Seq("spark", "data", "query", "table", "row", "key", "filter", "join")
  val KeepwordSpec: String = "keepword:" + KeepWords.mkString(";")

  /** StemmerOverride rules for the gate field (ahead of Porter). */
  val StemOverrides: Seq[(String, String)] =
    Seq("querying" -> "interrogation", "tables" -> "tabulation")
  val StemOverrideSpec: String = "stemoverride:" +
    StemOverrides.map { case (w, s) => s"$w=>$s" }.mkString(";")

  /** CharFilter-chained field (`analysis/common/.../charfilter/`):
    * digits → space (PatternReplaceCharFilter), then a → 4
    * (MappingCharFilter), then the simple chain. The query term "b4tch"
    * can ONLY exist if both stages ran — a broken chain yields zero rows
    * against the oracle's ten.
    */
  val CharFilterChain = "replace=[0-9]+=> !mapping=a=>4!simple"

  /** Two-snapshot streaming index per sfDir for the RealTimeGet gate:
    * snap=0 = every document, snap=1 = docs with doc_id % 7 == 0
    * re-indexed with ' updated' appended — the /get view must return the
    * batch-1 version for those ids and batch-0 for the rest.
    */
  def rtgIndex(spark: SparkSession, sfDir: String): String =
    fixtureDir(sfDir, "rtg") { dir =>
      val docs = docsDf(spark, sfDir)
      val cfgRtg = gateConfig.copy(offsets = false, payloads = None)
      def writeSnap(batch: org.apache.spark.sql.DataFrame, id: Int): Unit = {
        val ix = IndexBuilder.buildLogical(batch, "text", Some("doc_id"),
          Nil, cfgRtg)
        IndexBuilder.writeIndex(ix, s"$dir/snap=$id", s"rtg-$id", numGroups = 1)
        ix.unpersistCached(); ix.postings.unpersist()
      }
      writeSnap(docs, 0)
      writeSnap(docs.filter(col("doc_id") % 7 === 0)
        .withColumn("text", concat(col("text"), lit(" updated"))), 1)
    }

  /** RealTimeGet view HANDLE over the (static) two-snapshot fixture —
    * the per-query snapshot listing + schema inference repeated nothing
    * but driver work. What an action then reads depends on realTimeGet's
    * branch: on the driver-local branch (every snapshot's docs store
    * under its byte gate) the view is a LocalRelation built from rows
    * already cached on the driver, so no parquet is read at action time;
    * on the distributed branch the rows come off the snapshot parquets at
    * every action. Keyed by (sfDir, ids) to stay general.
    */
  private val rtgDfCache =
    scala.collection.concurrent.TrieMap.empty[(String, Seq[Long]), DataFrame]
  private def rtgView(spark: SparkSession, sfDir: String,
      ids: Seq[Long]): DataFrame =
    rtgDfCache.getOrElseUpdate((sfDir, ids),
      graft.streaming.StreamingIndex
        .realTimeGet(spark, rtgIndex(spark, sfDir), ids))

  /** Cached FreeText 2-gram model per sfDir (built from the logical
    * index's postings — positions self-join, no re-tokenize).
    */
  private val freeTextCache =
    scala.collection.concurrent.TrieMap.empty[String, graft.ops.FreeText.Model]
  def freeTextModel(spark: SparkSession, sfDir: String): graft.ops.FreeText.Model =
    freeTextCache.getOrElseUpdate(sfDir,
      graft.ops.FreeText.build(logical(spark, sfDir).postings))


  private def hitsDf(spark: SparkSession, hits: Array[Hit]): DataFrame = {
    import spark.implicits._
    // k-sized driver-local rows → single-partition plan (guide §2.4):
    // without coalesce(1) the LocalRelation parallelizes to
    // defaultParallelism tasks and count() pays a partial-agg exchange +
    // an extra AQE stage-job — pure fixed overhead on a ≤k-row result.
    hits.zipWithIndex.toSeq
      .map { case (h, i) => (h.docId, h.score, i + 1) }
      .toDF("doc_id", "score", "rnk").coalesce(1)
  }

  /** suggestDistance runner → (suggestion, score, df) rows. */
  private def suggestDist(term: String,
      distance: String): (SparkSession, String) => DataFrame =
    (spark, sfDir) => {
      import spark.implicits._
      searcher(spark, sfDir).suggestDistance(term, 5, distance).toSeq
        .map { case (t, s, df) => (t, s.toDouble, df) }
        .toDF("suggestion", "score", "df").coalesce(1)
    }

  /** Word-break suggestions → (joined words, word count, max df) rows. */
  private def breaksDf(spark: SparkSession,
      breaks: Array[Array[(String, Long)]]): DataFrame = {
    import spark.implicits._
    breaks.toSeq
      .map(arr => (arr.map(_._1).mkString(" "), arr.length, arr.map(_._2).max))
      .toDF("suggestion", "n_words", "freq").coalesce(1)
  }

  /** Run a query through the segment engine → gate-shaped DataFrame. */
  def seg(q: Query, k: Int = K): (SparkSession, String) => DataFrame =
    (spark, sfDir) =>
      hitsDf(spark, searcher(spark, sfDir).search(q, k))

  /** Classic (Lucene-6 TF-IDF) similarity runner — same engine, same
    * index, SimClassic scoring (`ClassicSimilarity.java`).
    */
  def segClassic(q: Query, k: Int = K): (SparkSession, String) => DataFrame =
    segSim(q, SegmentSearcher.SimClassic, k)

  /** Runner under an explicit similarity (`Plan.sim`). */
  def segSim(q: Query, sim: Int, k: Int = K): (SparkSession, String) => DataFrame =
    (spark, sfDir) =>
      hitsDf(spark, searcher(spark, sfDir).search(q, k, None, true, sim))

  /** MultiSimilarity (CombSUM) runner: per-term score = float sum of
    * the component sims' scores.
    */
  def segMulti(q: Query, sims: Seq[Int], k: Int = K): (SparkSession, String) => DataFrame =
    (spark, sfDir) =>
      hitsDf(spark, searcher(spark, sfDir).search(q, k, multiSims = sims))

  /** Page 2: search k, then searchAfter from the k-th hit. */
  def segPage2(q: Query, k: Int = K): (SparkSession, String) => DataFrame =
    (spark, sfDir) => {
      val s = searcher(spark, sfDir)
      val page1 = s.search(q, k)
      val hits =
        if (page1.length < k) Array.empty[Hit]
        else {
          val c = page1.last
          s.search(q, k, Some((c.score, c.docId)))
        }
      val start = k
      import spark.implicits._
      hits.zipWithIndex.toSeq
        .map { case (h, i) => (h.docId, h.score, start + i + 1) }
        .toDF("doc_id", "score", "rnk").coalesce(1)
    }

  /** DataFrame-path runner (for operators the blob format lacks, e.g.
    * positions for phrases).
    */
  def dfPath(q: Query, k: Int = K): (SparkSession, String) => DataFrame =
    (spark, sfDir) => {
      val ix = logical(spark, sfDir)
      val hits = DataFrameSearcher.search(ix, q, k).collect()
        .map(r => Hit(r.getLong(0), r.getDouble(1)))
      hitsDf(spark, hits)
    }

  /** JoinUtil gate runner: a join needs EVERY match, not top-k.
    * `Searcher.joinScored` folds on the tier its gate picks — the full
    * match set and the join-key column driver-resident, or the
    * distributed fold + broadcast of ops.Join — under the same laws.
    */
  private def joinGate(q: Query, mode: String): (SparkSession, String) => DataFrame =
    (spark, sfDir) =>
      hitsDf(spark, searcher(spark, sfDir).joinScored(q, "source", "source", mode, K))

  // ---- the reference query set ----

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bm25_term_common" -> seg(TermQ("batch")),
    "q_bm25_term_mid" -> seg(TermQ("spark")),
    "q_bm25_term_rare" -> seg(TermQ("dup")),
    "q_bm25_term_absent" -> seg(TermQ("zzzabsent")),
    "q_bm25_term_k100" -> seg(TermQ("batch"), 100),
    "q_bm25_term_k1" -> seg(TermQ("batch"), 1),
    "q_bm25_and2" -> seg(Query.and(TermQ("dup"), TermQ("batch"))),
    "q_bm25_and3" -> seg(Query.and(TermQ("spark"), TermQ("key"), TermQ("fast"))),
    "q_bm25_or2" -> seg(Query.or(TermQ("dup"), TermQ("vector"))),
    // fused top-k + exact total count in ONE postings pass — the
    // MultiCollector(TopScoreDoc, TotalHitCount) / Solr numFound shape
    "q_multicollect" -> ((spark, sfDir) => {
      import spark.implicits._
      val (hits, total) = searcher(spark, sfDir)
        .searchWithCount(Query.or(TermQ("dup"), TermQ("vector")), K)
      hits.zipWithIndex.toSeq
        .map { case (h, i) => (h.docId, h.score, i + 1, total) }
        .toDF("doc_id", "score", "rnk", "total_hits").coalesce(1)
    }),
    "q_bm25_or3_msm2" -> seg(Query.orMin(2, TermQ("dup"), TermQ("spark"), TermQ("key"))),
    "q_bm25_not" -> seg(Query.not(TermQ("batch"), TermQ("spark"))),
    // CommonTermsQuery: df-driven high/low split (0.5 × maxDoc cutoff:
    // 'dup' df=25 and the absent term land LOW, the rest HIGH), SHOULD
    // groups with fractional msm, demoted high-freq boost. The oracle
    // recomputes the split from df in SQL — a wrong split changes rows.
    "q_common_terms" -> ((spark, sfDir) => {
      val s = searcher(spark, sfDir)
      val q = s.commonTermsQuery(Seq("batch", "dup", "spark", "zzznope"),
        maxTermFrequency = 0.5f, lowFreqMinShouldMatch = 0.5f,
        highFreqMinShouldMatch = 0.4f, highFreqBoost = 0.3f)
      hitsDf(spark, s.search(q, K))
    }),
    // BoostingQuery: matches/scores like the match side; docs also in
    // the context get score × boost (0.4 demotion here)
    "q_boosting" -> seg(BoostingQ(
      BoolQ(should = Seq(TermQ("spark"), TermQ("key"))),
      TermQ("batch"), 0.4f)),
    // TermsQuery: const-score membership in a term set
    "q_terms_set" -> seg(Query.termsSet(Seq("dup", "key"))),
    // TermsComponent: count-sorted prefix enumeration with a df floor
    "q_terms_enum" -> ((spark, sfDir) => {
      import spark.implicits._
      searcher(spark, sfDir)
        .termsEnum(limit = 15, prefix = Some("s"), minCount = 5)
        .toSeq.toDF("term", "df").coalesce(1)
    }),
    // TermsComponent: index-order walk of a term range + whole-term regexp
    "q_terms_enum_index" -> ((spark, sfDir) => {
      import spark.implicits._
      searcher(spark, sfDir)
        .termsEnum(limit = 20, lower = Some("d"), upper = Some("p"),
          regexp = Some("[a-z]+[0-9]*"), sortByCount = false)
        .toSeq.toDF("term", "df").coalesce(1)
    }),
    // QueryElevationComponent: pinned ids first (one matching, one not),
    // one excluded, organic tail intact
    "q_elevate" -> ((spark, sfDir) => hitsDf(spark,
      searcher(spark, sfDir).searchElevated(
        Query.or(TermQ("spark"), TermQ("key")), K,
        elevate = Seq(42L, 7L), exclude = Set(3L)))),
    // FunctionQuery over the docs column store: every doc, score =
    // 1000/(n_chars+1) — the recip length-prior workhorse
    "q_func_recip" -> seg(FunctionQ(RecipV(FieldV("n_chars"), 1f, 1000f, 1f))),
    // corpus-scaled value: scale(n_chars, 0, 100) — exercises the eager
    // distributed min/max stats walk
    "q_func_scale" -> seg(FunctionQ(ScaleV(FieldV("n_chars"), 0f, 100f))),
    // BoostedQuery: BM25 disjunction × per-doc length demotion (Solr
    // boost= param), one float multiply per match
    "q_func_boost" -> seg(FuncBoostedQ(
      Query.or(TermQ("spark"), TermQ("key")),
      RecipV(FieldV("n_chars"), 0.01f, 5f, 1f))),
    // CustomScoreQuery (default provider): BM25 disjunction × two value
    // sources folded in clause order, query boost applied at score time
    "q_custom_score" -> seg(CustomScoreQ(
      Query.or(TermQ("spark"), TermQ("key")),
      Seq(RecipV(FieldV("n_chars"), 0.01f, 5f, 1f),
        LinearV(SqrtV(FieldV("n_chars")), 0.1f, 1f)),
      boost = 1.3f)),
    // frange over a linear transform of a docvalue
    "q_func_range" -> seg(FunctionRangeQ(
      LinearV(FieldV("n_chars"), 0.5f, 10f), 100f, 200f)),
    // relevance mixed into arithmetic: query($q, 0) + recip(length) —
    // the QueryV bridge (Solr `query()` function)
    "q_func_query_vs" -> seg(FunctionQ(SumV(Seq(
      QueryV(TermQ("spark"), 0f),
      RecipV(FieldV("n_chars"), 1f, 500f, 1f))))),
    // boolean function family (if/exists/not/and/or/def,
    // ValueSourceParser.java:719-833): exists = matched for query
    // sources; truth = the reference's (int)floatVal != 0 law
    "q_func_if_exists" -> seg(FunctionQ(IfExistsVs)),
    "q_func_bool" -> seg(FunctionQ(BoolVs)),
    "q_func_def" -> seg(FunctionQ(DefVs)),
    // index-stat value sources: classic tf×idf assembled from the
    // tf()/idf() functions (TFValueSource × IDFValueSource) — per-doc
    // sqrt(freq) times the per-searcher idf constant
    "q_func_tfidf" -> seg(FunctionQ(ProductV(Seq(
      TfV("spark"), IdfV("spark"))))),
    // NormValueSource: the decoded byte315 index-time norm per doc
    "q_func_norm" -> seg(FunctionQ(NormV)),
    // the Solr function-parser surface over the stat zoo: docfreq +
    // 0.5·termfreq + sumtotaltermfreq/maxdoc (constants resolved once
    // per searcher, tf joined per doc)
    "q_func_stats_parsed" -> seg(FunctionQ(ValueSources.parseFunc(
      "sum(docfreq(text, spark), linear(termfreq(text, spark), 0.5, 0), " +
        "div(sumtotaltermfreq(text), maxdoc()))"))),
    "q_bm25_must_should" -> seg(BoolQ(must = Seq(TermQ("dup")),
      should = Seq(TermQ("spark"), TermQ("key")))),
    "q_bm25_must_should_msm" -> seg(BoolQ(must = Seq(TermQ("batch")),
      should = Seq(TermQ("dup"), TermQ("spark"), TermQ("key")),
      minShouldMatch = 2)),
    "q_bm25_filter" -> seg(BoolQ(must = Seq(TermQ("spark")),
      filter = Seq(TermQ("dup")))),
    "q_bm25_dismax" -> seg(DisMaxQ(Seq(TermQ("spark"), TermQ("key")), 0.3f)),
    "q_bm25_synonym" -> seg(SynonymQ(Seq("dup", "vector"))),
    // blended-statistics terms: 'dup' (rare) scored with 'batch's df
    "q_bm25_blended" -> seg(BlendedQ(Seq("dup", "batch"), 0.01f)),
    "q_bm25_boost" -> seg(Query.or(BoostQ(TermQ("spark"), 2f), TermQ("key"))),
    "q_bm25_page2" -> segPage2(TermQ("batch")),
    "q_bm25_prefix" -> seg(PrefixQ("sc")),
    // fuzzy over the dictionary: 1-edit neighborhood of a misspelling
    // (FuzzyQuery.java:53); expansion runs the length-guarded dict scan
    "q_bm25_fuzzy" -> seg(FuzzyQ("sprk", 1)),
    // SCORED fuzzy — the reference FuzzyQuery's real default rewrite
    // (TopTermsBlendedFreqScoringRewrite): scaled-Levenshtein clause
    // boosts, blended max-df, SHOULD-sum
    "q_bm25_fuzzy_scored" -> seg(FuzzyScoredQ("sprk", 2)),
    // UNanchored regexp with whole-term semantics (RegexpQuery.java:48 —
    // the automaton runs over the entire term); the sp literal prefix
    // prunes the range-partitioned on-disk dict
    "q_bm25_regexp" -> seg(RegexpQ("sp[aeiou]rk")),
    // dictionary range scan (TermRangeQuery.java:37), half-open interval
    "q_bm25_term_range" -> seg(TermRangeQ("scala", "scq", true, false)),
    // Classic (TF-IDF) similarity: idf²·queryNorm weighting, sqrt-tf,
    // byte315 fieldNorm, coord on the disjunction (§2.5 "other sims")
    "q_classic_term" -> segClassic(TermQ("spark")),
    "q_classic_or2" -> segClassic(Query.or(TermQ("dup"), TermQ("vector"))),
    "q_classic_and2" -> segClassic(Query.and(TermQ("dup"), TermQ("batch"))),
    // MUST+SHOULD composite coord (ReqMultiOptScorer): per-doc matched-
    // optional count drives coords[m + matched] over maxCoord = 3
    "q_classic_must_should" -> segClassic(BoolQ(must = Seq(TermQ("spark")),
      should = Seq(TermQ("dup"), TermQ("vector")))),
    // minShouldMatch makes the optionals required too
    // (CoordinatingConjunctionScorer)
    "q_classic_msm" -> segClassic(BoolQ(must = Seq(TermQ("batch")),
      should = Seq(TermQ("dup"), TermQ("vector")), minShouldMatch = 1)),
    // boosted clause: sumSq scales (idf²·b)·b, value = ((qn·b)·idf)·idf
    "q_classic_boost" -> segClassic(
      Query.or(BoostQ(TermQ("dup"), 2f), TermQ("vector"))),
    // DFR GB2 (geometric model, Bernoulli after-effect, H2 norm) — the
    // non-monotone tf curve keeps WAND off
    "q_dfr_term" -> segSim(TermQ("spark"), SegmentSearcher.SimDFR),
    "q_dfr_or2" -> segSim(Query.or(TermQ("dup"), TermQ("vector")),
      SegmentSearcher.SimDFR),
    // LMDirichlet (language-model) similarity, mu=2000 — WAND stays on
    "q_lm_term" -> segSim(TermQ("spark"), SegmentSearcher.SimLMDirichlet),
    "q_lm_or2" -> segSim(Query.or(TermQ("dup"), TermQ("vector")),
      SegmentSearcher.SimLMDirichlet),
    // Remaining DFR component combos on the SimilarityBase seam:
    // I(n)L2 (inverse-document-frequency model, Laplace, H2),
    // I(ne)B1 (expected-df model, Bernoulli, H1), PL2 (Poisson, Laplace,
    // H2 — the classic DFR recommendation)
    "q_dfr_inl2_term" -> segSim(TermQ("spark"), SegmentSearcher.SimDFRInL2),
    "q_dfr_inl2_or2" -> segSim(Query.or(TermQ("dup"), TermQ("vector")),
      SegmentSearcher.SimDFRInL2),
    "q_dfr_ineb1_term" -> segSim(TermQ("spark"), SegmentSearcher.SimDFRIneB1),
    "q_dfr_pl2_term" -> segSim(TermQ("spark"), SegmentSearcher.SimDFRPL2),
    "q_dfr_pl2_or2" -> segSim(Query.or(TermQ("dup"), TermQ("vector")),
      SegmentSearcher.SimDFRPL2),
    // The deprecated basic models, closing the DFR matrix: Be (limiting
    // Bose-Einstein, Bernoulli, H1) and D (binomial approximation,
    // Laplace, H2) — paired with the safe normalizations per the
    // reference's own deprecation javadoc
    "q_dfr_beb1_term" -> segSim(TermQ("spark"), SegmentSearcher.SimDFRBeB1),
    "q_dfr_beb1_or2" -> segSim(Query.or(TermQ("dup"), TermQ("vector")),
      SegmentSearcher.SimDFRBeB1),
    "q_dfr_dl2_term" -> segSim(TermQ("spark"), SegmentSearcher.SimDFRDL2),
    "q_dfr_dl2_or2" -> segSim(Query.or(TermQ("dup"), TermQ("vector")),
      SegmentSearcher.SimDFRDL2),
    // Information-based similarities: SPL distribution with λ_DF + H2,
    // log-logistic with λ_TTF + H1
    "q_ib_spl_term" -> segSim(TermQ("spark"), SegmentSearcher.SimIBSplD2),
    "q_ib_spl_or2" -> segSim(Query.or(TermQ("dup"), TermQ("vector")),
      SegmentSearcher.SimIBSplD2),
    "q_ib_ll_term" -> segSim(TermQ("spark"), SegmentSearcher.SimIBLlL1),
    // LM Jelinek-Mercer (λ=0.1) — tf-monotone, WAND on
    "q_lmjm_term" -> segSim(TermQ("spark"), SegmentSearcher.SimLMJM),
    "q_lmjm_or2" -> segSim(Query.or(TermQ("dup"), TermQ("vector")),
      SegmentSearcher.SimLMJM),
    // Divergence from independence, three measures (χ², saturated,
    // standardized); observed tf ≤ expected scores zero
    "q_dfi_chi_term" -> segSim(TermQ("spark"), SegmentSearcher.SimDFIChi),
    "q_dfi_chi_or2" -> segSim(Query.or(TermQ("dup"), TermQ("vector")),
      SegmentSearcher.SimDFIChi),
    "q_dfi_sat_term" -> segSim(TermQ("spark"), SegmentSearcher.SimDFISat),
    "q_dfi_std_term" -> segSim(TermQ("spark"), SegmentSearcher.SimDFIStd),
    // the remaining normalizations: H3 (Dirichlet-prior, μ=800) under
    // DFR I(F)B, Z (Pareto-Zipf, z=0.30) under IB SPL-D
    "q_dfr_ifb3_term" -> segSim(TermQ("spark"), SegmentSearcher.SimDFRIFB3),
    "q_dfr_ifb3_or2" -> segSim(Query.or(TermQ("dup"), TermQ("vector")),
      SegmentSearcher.SimDFRIFB3),
    "q_ib_splz_term" -> segSim(TermQ("spark"), SegmentSearcher.SimIBSplDZ),
    // MultiSimilarity — CombSUM evidence combination
    // (`similarities/MultiSimilarity.java:37`): per-term score = FLOAT
    // sum of the component sims' scores on the shared (tf, norm)
    "q_multisim_term" -> segMulti(TermQ("spark"),
      Seq(SegmentSearcher.SimBm25, SegmentSearcher.SimLMDirichlet)),
    "q_multisim_or2" -> segMulti(Query.or(TermQ("dup"), TermQ("vector")),
      Seq(SegmentSearcher.SimBm25, SegmentSearcher.SimLMDirichlet)),
    // three components incl. Classic (queryNorm = 1 under Multi) and DFR
    "q_multisim3_term" -> segMulti(TermQ("spark"),
      Seq(SegmentSearcher.SimBm25, SegmentSearcher.SimClassic,
        SegmentSearcher.SimDFR)),
    // spell suggestions for a misspelling (DirectSpellChecker / Solr
    // /spell analog): 2-edit neighborhood, scaled-Levenshtein score,
    // (score desc, df desc, term) ranking
    "q_suggest" -> ((spark, sfDir) => {
      import spark.implicits._
      searcher(spark, sfDir).suggest("sprk", 5).toSeq
        .map { case (t, s, df) => (t, s.toDouble, df) }
        .toDF("suggestion", "score", "df").coalesce(1)
    }),
    // prefix-completion suggest (AnalyzingSuggester surface, weight = df)
    "q_suggest_prefix" -> ((spark, sfDir) => {
      import spark.implicits._
      searcher(spark, sfDir).suggestPrefix("s", 4).toSeq
        .toDF("suggestion", "df").coalesce(1)
    }),
    // DirectSpellChecker.setDistance surface: the same candidate set
    // ("smal" → {small, scan}) re-scored under each pluggable distance —
    // Jaro-Winkler takes the ≥0.7 bonus branch on "small" (prefix 4) and
    // the no-bonus branch on "scan"; the lucene distance's min-length
    // divisor and the plain-Levenshtein max-length divisor rank them
    // identically but with different score values (all bit-checked)
    "q_suggest_dist_jw" -> suggestDist("smal", "jarowinkler"),
    "q_suggest_dist_lev" -> suggestDist("smal", "levenshtein"),
    "q_suggest_dist_lucene" -> suggestDist("smal", "lucene"),
    // WordBreakSpellChecker: breaks at maxChanges=1 (one split:
    // sortmerge → sort merge) and the 2-change recursion
    // (sortmergekey → sort merge key, found only through a right piece
    // that is NOT in the index); combinations re-join adjacent query
    // fragments (val+ue → value at 1 change, str+ea+m → stream at 2)
    "q_wordbreak1" -> ((spark, sfDir) => {
      import spark.implicits._
      breaksDf(spark, searcher(spark, sfDir)
        .suggestWordBreaks("sortmerge", 5, maxChanges = 1))
    }),
    "q_wordbreak2" -> ((spark, sfDir) => {
      import spark.implicits._
      breaksDf(spark, searcher(spark, sfDir)
        .suggestWordBreaks("sortmergekey", 5, maxChanges = 2))
    }),
    "q_wordcombine" -> ((spark, sfDir) => {
      import spark.implicits._
      searcher(spark, sfDir)
        .suggestWordCombinations(Seq("val", "ue", "str", "ea", "m"), 5,
          maxChanges = 2).toSeq
        .toDF("suggestion", "df", "first_idx", "last_idx").coalesce(1)
    }),
    // scored prefix rewrites (TopTermsRewrite.java:40): cap 4 < the 6
    // matching terms, so the PQ's keep-smallest selection is exercised
    "q_bm25_prefix_scored" -> seg(MultiTermScoredQ(PrefixQ("s"), 4)),
    "q_bm25_prefix_blended" ->
      seg(MultiTermScoredQ(PrefixQ("s"), 4, blended = true)),
    // phrases run the SEGMENT path: conjunction + positions-sidecar verify
    // (round 1 ran a re-tokenize-the-corpus DataFrame plan here — 10× cost)
    "q_bm25_phrase" -> seg(PhraseQ(Seq("order", "sort"))),
    // term-hash reshard (IndexSplitter/MultiPassIndexSplitter class): the
    // same queries over an 8→5-bucket re-cut of the gate index must hit
    // the UNSHARDED oracles bit-exactly (blobs move verbatim; positions
    // sidecar — the phrase — survives the re-key)
    "q_reshard_term" -> ((spark, sfDir) =>
      hitsDf(spark, reshardSearcher(spark, sfDir).search(TermQ("spark"), K))),
    "q_reshard_phrase" -> ((spark, sfDir) =>
      hitsDf(spark,
        reshardSearcher(spark, sfDir).search(PhraseQ(Seq("order", "sort")), K))),
    // numeric doc-values update (updateNumericDocValue law): n_chars of
    // docs 5/6/7 overridden to 1 — sort-by-field reads the overlay
    "q_dvupdate_sort" -> ((spark, sfDir) => {
      import spark.implicits._
      val hits = updSearcher(spark, sfDir)
        .searchByField(BoolQ(filter = Seq(TermQ("batch"))), K, "n_chars",
          asc = true)
      hits.zipWithIndex.toSeq
        .map { case ((d, v), i) => (d, v, i + 1) }
        .toDF("doc_id", "sort_val", "rnk").coalesce(1)
    }),
    // tombstoned deletes (liveDocs law): docs containing 'dup' deleted —
    // masked from output, still counted in every stat until expunge
    "q_deleted_term" -> ((spark, sfDir) =>
      hitsDf(spark, delSearcher(spark, sfDir).search(TermQ("spark"), K))),
    "q_deleted_count" -> ((spark, sfDir) => {
      import spark.implicits._
      val n = delSearcher(spark, sfDir).count(TermQ("batch"))
      Seq(n).toDF("cnt").coalesce(1)
    }),
    // CharFilter chain (PatternReplace digits→space, Mapping a→4, simple):
    // "b4tch"/"sp4rk" exist ONLY post-chain — zero rows if a stage breaks
    "q_charfilter_term" -> ((spark, sfDir) =>
      hitsDf(spark, specSearcher(spark, sfDir, CharFilterChain)
        .search(TermQ("b4tch"), K))),
    "q_charfilter_or2" -> ((spark, sfDir) =>
      hitsDf(spark, specSearcher(spark, sfDir, CharFilterChain)
        .search(Query.or(TermQ("sp4rk"), TermQ("dup")), K))),
    // search-result clustering (ClusteringComponent surface): top-20 hits
    // labeled by their max in-results RSJ-odds term, singletons to 'other'
    "q_cluster_results" -> ((spark, sfDir) => {
      import spark.implicits._
      val s = searcher(spark, sfDir)
      val hdf = s.search(TermQ("spark"), 20).map(_.docId).toSeq.toDF("docId")
      s.clusterFrame(hdf, contentCol = "text", queryTerms = Set("spark"))
        .select(col("docId").as("doc_id"), col("label"), col("csize"))
        .orderBy("doc_id")
    }),
    "q_bm25_phrase_sloppy" -> seg(PhraseQ(Seq("order", "sort"), 2)),
    // multi-phrase: "order (sort|merge)" — per-offset union of postings
    "q_span_near" -> seg(SpanNearQ(Seq("order", "sort"), 4)),
    "q_span_near3" -> seg(SpanNearQ(Seq("order", "sort", "merge"), 6)),
    // spans in the first 25 positions (SpanFirstQuery.java:30-40)
    "q_span_first" -> seg(SpanFirstQ("order", 25)),
    // union of term spans, one score per doc (SpanOrQuery.java:36)
    "q_span_or" -> seg(SpanOrQ(Seq("order", "sort"))),
    // 'order' with no 'sort' within 3 positions (SpanNotQuery.java:34)
    "q_span_not" -> seg(SpanNotQ("order", "sort", 3, 3)),
    // nested spans: near(or(order,merge), or(sort,<absent>)) — the
    // absent member must fold as +0 in the weight on both sides
    "q_span_near_or" -> seg(SpanNearOrQ(
      Seq(Seq("order", "merge"), Seq("sort", "zzznosuchterm")), 5)),
    // TermAutomatonQuery (sandbox TermAutomatonQuery.java:68): the
    // "order (sort|merge)" chain automaton — freq counts accept
    // landings (= adjacency pairs here), scored like a phrase
    "q_term_automaton" -> seg({
      val b = new TermAutomatonBuilder
      val s0 = b.createState(); val s1 = b.createState()
      val s2 = b.createState()
      b.setAccept(s2, true)
      b.addTransition(s0, s1, "order")
      b.addTransition(s1, s2, "sort")
      b.addTransition(s1, s2, "merge")
      TermAutomatonQ(b.finish())
    }),
    // union-depth automaton: accepts the single token "sort" AND the
    // two-token path "order sort" — every sort token lands an accept
    // via the start step, adjacency pairs land a second one
    "q_term_automaton_union" -> seg({
      val b = new TermAutomatonBuilder
      val s0 = b.createState(); val s1 = b.createState()
      val s2 = b.createState()
      b.setAccept(s2, true)
      b.addTransition(s0, s2, "sort")
      b.addTransition(s0, s1, "order")
      b.addTransition(s1, s2, "sort")
      TermAutomatonQ(b.finish())
    }),
    // composed span trees (Spans interval algebra — arbitrary nesting):
    // SpanFirst over a SpanNear subclause
    "q_span_tree_first" -> seg(SpanQ(Span.First(
      Span.Near(Seq(Span.Term("order"), Span.Term("sort")), 4), 50))),
    // SpanNot with a SpanNear include
    "q_span_tree_not" -> seg(SpanQ(Span.Not(
      Span.Near(Seq(Span.Term("order"), Span.Term("sort")), 4),
      Span.Term("merge"), 1, 2))),
    // SpanNear nesting another SpanNear as its first clause
    "q_span_tree_nested" -> seg(SpanQ(Span.Near(Seq(
      Span.Near(Seq(Span.Term("order"), Span.Term("sort")), 2),
      Span.Term("merge")), 8))),
    // SpanContaining: near(order,sort;6) spans that contain a merge
    // occurrence (forward-only streaming law, ContainSpans.java:24)
    "q_span_containing" -> seg(SpanQ(Span.Containing(
      Span.Near(Seq(Span.Term("order"), Span.Term("sort")), 6),
      Span.Term("merge")))),
    // SpanWithin: sort occurrences enclosed by a near(order,merge;8) span
    "q_span_within" -> seg(SpanQ(Span.Within(
      Span.Term("sort"),
      Span.Near(Seq(Span.Term("order"), Span.Term("merge")), 8)))),
    // SpanPositionRange: near spans with start ≥ 3 and end ≤ 40
    "q_span_posrange" -> seg(SpanQ(Span.PosRange(
      Span.Near(Seq(Span.Term("order"), Span.Term("sort")), 4), 3, 40))),
    // SpanMultiTermQueryWrapper: a wildcard inside a span near, expanded
    // against the dictionary into a union of term leaves
    "q_span_wildcard" -> seg(SpanQ(Span.Near(Seq(
      Span.Multi(WildcardQ("ord*")), Span.Term("sort")), 5))),
    // SpanBoostQuery (`spans/SpanBoostQuery.java`): boost folds into the
    // span weight value, ((boost·idfSum)·(k1+1))
    "q_span_boost" -> seg(BoostQ(SpanQ(Span.Near(
      Seq(Span.Term("order"), Span.Term("sort")), 4)), 1.7f)),
    // FieldMaskingSpanQuery (`spans/FieldMaskingSpanQuery.java:62`): a
    // source-field term masked into a text-field SpanNear — stats from
    // each term's own field, norms from the primary (text) field
    "q_span_masked" -> ((spark, sfDir) => {
      val text = searcher(spark, sfDir)
      val src = fieldSearcher(spark, sfDir, "source")
      val hits = MultiField.searchMaskedSpan("text",
        Map("text" -> text, "source" -> src),
        Span.Near(Seq(Span.FieldMasked("source", Span.Term("src3")),
          Span.Term("order")), 5, inOrder = true), K)
      hitsDf(spark, hits)
    }),
    // PayloadScoreQuery (queries/payloads/PayloadScoreQuery.java) under
    // the gate's "pos" policy: spanScore × Max/MinPayloadFunction fold
    "q_payload_max" -> seg(PayloadScoreQ(Span.Term("order"), "max")),
    // payload factor alone (includeSpanScore = false) — ranks by the
    // term's FIRST position, descending
    "q_payload_min" -> seg(
      PayloadScoreQ(Span.Term("order"), "min", includeSpanScore = false)),
    // avg over a composed span: leaf payloads collected per accepted
    // near-span in clause order (AveragePayloadFunction)
    "q_payload_avg_near" -> seg(PayloadScoreQ(
      Span.Near(Seq(Span.Term("order"), Span.Term("sort")), 4), "avg")),
    // SpanPayloadCheckQuery: only spans whose payload sequence matches —
    // here, 'merge' occurrences AT position 0 (doc-leading token)
    "q_payload_check" -> seg(SpanPayloadCheckQ(Span.Term("merge"), Seq(0f))),
    "q_bm25_multiphrase" -> seg(MultiPhraseQ(Seq(Seq("order"), Seq("sort", "merge")))),
    // sloppy multi-phrase with a REPEATED term across offset sets — the
    // hasMultiTermRpts collision machinery (union streams share a term)
    "q_bm25_multiphrase_rpt" -> seg(
      MultiPhraseQ(Seq(Seq("order"), Seq("order", "sort")), 2)),
    // filter-only bool: matches with score 0 (BooleanWeight semantics)
    "q_bm25_filter_only" -> seg(BoolQ(filter = Seq(TermQ("spark"), TermQ("key")))),
    // MUST MatchAll + MUST_NOT: 'all docs except…', scored 1.0
    "q_bm25_notall" -> seg(Query.not(MatchAllQ, TermQ("spark"))),
    // string-syntax surface (§2.13): parsed query ≡ programmatic ADT
    "q_bm25_parsed" -> seg(QueryParser.parse("+dup spark key^1.5 -window")),
    // MaxScoreQParser: pure-should parse regroups under ONE dismax (tie
    // 0 = only the best clause scores)…
    "q_maxscore" -> seg(QueryParser.parseMaxScore("dup spark key")),
    // …must clauses pass through and still sum with the should dismax
    "q_maxscore_must" ->
      seg(QueryParser.parseMaxScore("+batch dup spark", tie = 0.2f)),
    // XML query parser (queryparser/xml/CoreParser.java surface): the
    // same trees as existing gated queries, built from XML — proves the
    // element/attribute/occurs mapping end-to-end
    "q_xml_bool" -> seg(XmlQueryParser.parse(
      """<BooleanQuery>
           <Clause occurs="must"><TermQuery>dup</TermQuery></Clause>
           <Clause occurs="should"><TermQuery>spark</TermQuery></Clause>
           <Clause occurs="should"><TermQuery>key</TermQuery></Clause>
         </BooleanQuery>""")),
    "q_xml_dismax" -> seg(XmlQueryParser.parse(
      """<DisjunctionMaxQuery tieBreaker="0.3">
           <TermQuery>spark</TermQuery>
           <TermQuery>key</TermQuery>
         </DisjunctionMaxQuery>""")),
    "q_xml_span_near" -> seg(XmlQueryParser.parse(
      """<SpanNear slop="4" inOrder="true">
           <SpanTerm>order</SpanTerm>
           <SpanTerm>sort</SpanTerm>
         </SpanNear>""")),
    // mid-token wildcard through the parser (WildcardQuery.java:42-46)
    "q_bm25_wildcard" -> seg(QueryParser.parse("sp?rk")),
    // dismax/edismax end-user surface with Solr mm spec ("75%" of 4 ⇒ 3)
    "q_bm25_dismax_mm" -> seg(QueryParser.parseDisMax("dup spark key vector", "75%")),
    // edismax qf: per-field boosts over separate field indexes (text^1,
    // source^2), per-term cross-field dismax, mm=2 of 3 terms
    "q_bm25_edismax_qf" -> ((spark, sfDir) => {
      val hits = MultiField.searchDisMax(
        Seq(MultiField.FieldRef(searcher(spark, sfDir), 1f),
          MultiField.FieldRef(fieldSearcher(spark, sfDir, "source"), 2f)),
        "spark src3 batch", mm = "2", tie = 0.1f, k = K)
      hitsDf(spark, hits)
    }),
    // per-field similarity under edismax qf (PerFieldSimilarityWrapper
    // surface): text scored BM25, source scored LMDirichlet, one query
    "q_edismax_persim" -> ((spark, sfDir) => {
      val hits = MultiField.searchDisMax(
        Seq(MultiField.FieldRef(searcher(spark, sfDir), 1f),
          MultiField.FieldRef(fieldSearcher(spark, sfDir, "source"), 1f,
            SegmentSearcher.SimLMDirichlet)),
        "spark src3", mm = "1", tie = 0.1f, k = K)
      hitsDf(spark, hits)
    }),
    // edismax pf: the query as an exact phrase per pf field, added to
    // matching docs' scores (ReqOpt over the main dismax disjunction)
    "q_bm25_edismax_pf" -> ((spark, sfDir) => {
      val text = MultiField.FieldRef(searcher(spark, sfDir), 1f)
      val src = MultiField.FieldRef(fieldSearcher(spark, sfDir, "source"), 2f)
      val hits = MultiField.searchDisMax(Seq(text, src), "order sort",
        mm = "1", tie = 0.2f, k = K,
        pf = Seq(MultiField.FieldRef(searcher(spark, sfDir), 1.5f),
          MultiField.FieldRef(fieldSearcher(spark, sfDir, "source"), 1f)))
      hitsDf(spark, hits)
    }),
    // Query-time join with score mapping (lucene/join JoinUtil.java:92 +
    // ScoreMode.java:22): BM25 from-query scores fold per `source` value
    // (doc_id-ordered float fold, TermsWithScoreCollector.SV), every doc
    // sharing the value scores the fold — one gate per ScoreMode
    // ShingleFilter phrase-as-term field: the 2-word phrase runs as ONE
    // term lookup on the shingled index (no positions touched)
    // CommonGrams field (CommonGramsFilter + query-side reduction):
    // "the spark" reduces to the single gram term the_spark
    "q_commongrams_term" -> ((spark, sfDir) => hitsDf(spark,
      cgSearcher(spark, sfDir).search(
        Query.commonGramsPhrase(Seq("the", "spark"),
          graft.core.Analysis.EnglishStopWords), K))),
    // "part the sort" (n s n) reduces to the 2-gram phrase
    // [part_the, the_sort] — consecutive positions on the gram field
    "q_commongrams_phrase" -> ((spark, sfDir) => hitsDf(spark,
      cgSearcher(spark, sfDir).search(
        Query.commonGramsPhrase(Seq("part", "the", "sort"),
          graft.core.Analysis.EnglishStopWords), K))),
    "q_shingle_phrase" -> ((spark, sfDir) => hitsDf(spark,
      shingleSearcher(spark, sfDir).search(TermQ("order sort"), K))),
    // DiversifiedTopDocsCollector: top-10 for 'data' with at most 2 hits
    // per lang — high-scoring same-lang "filler" is forced out in favor
    // of other langs' best
    "q_diversified" -> ((spark, sfDir) => hitsDf(spark,
      searcher(spark, sfDir).searchDiversified(TermQ("data"), K, "lang", 2))),
    // sandbox docvalues queries (DocValuesNumbersQuery / TermsQuery /
    // RangeQuery): constant-score match BY STORED VALUE — one pushed
    // predicate scan of the docs column store, ties docId asc
    "q_dv_numbers" -> ((spark, sfDir) => hitsDf(spark,
      searcher(spark, sfDir).searchDocValues("n_chars",
        DvPred.Numbers((100L to 199L).toSet), K))),
    "q_dv_terms" -> ((spark, sfDir) => hitsDf(spark,
      searcher(spark, sfDir).searchDocValues("lang",
        DvPred.Terms(Set("en", "fr")), K))),
    "q_dv_range" -> ((spark, sfDir) => hitsDf(spark,
      searcher(spark, sfDir).searchDocValues("n_chars",
        DvPred.Range(Some(200L), Some(400L), inclLower = true,
          inclUpper = false), K))),
    // open lower bound (the reference's null lowerVal)
    "q_dv_range_open" -> ((spark, sfDir) => hitsDf(spark,
      searcher(spark, sfDir).searchDocValues("n_chars",
        DvPred.Range(None, Some(150L)), K))),
    // the dominant composed form: BM25 MUST + docvalues FILTER —
    // scores identical to the plain term query, membership intersected
    "q_dv_filtered" -> ((spark, sfDir) => hitsDf(spark,
      searcher(spark, sfDir).searchDvFiltered(TermQ("spark"), K,
        "n_chars", DvPred.Range(Some(100L), Some(400L))))),
    // FilteringTokenFilter family fields — survivors keep their ORIGINAL
    // positions (holes), norms count survivors only
    "q_keepword_term" -> ((spark, sfDir) => hitsDf(spark,
      specSearcher(spark, sfDir, KeepwordSpec).search(TermQ("spark"), K))),
    // exact phrase across a hole does NOT match: only raw adjacencies
    "q_keepword_phrase" -> ((spark, sfDir) => hitsDf(spark,
      specSearcher(spark, sfDir, KeepwordSpec)
        .search(PhraseQ(Seq("spark", "data")), K))),
    "q_lengthfilter_term" -> ((spark, sfDir) => hitsDf(spark,
      specSearcher(spark, sfDir, "lengthfilter:4:6")
        .search(TermQ("filter"), K))),
    // TruncateTokenFilter: the query term "batc" exists ONLY if the
    // filter ran
    "q_truncate_term" -> ((spark, sfDir) => hitsDf(spark,
      specSearcher(spark, sfDir, "truncate:4").search(TermQ("batc"), K))),
    // LimitTokenCountFilter: only each doc's first 20 tokens index —
    // df, tf and norms all shift vs the plain field
    "q_limittok_term" -> ((spark, sfDir) => hitsDf(spark,
      specSearcher(spark, sfDir, "limittok:20").search(TermQ("spark"), K))),
    // StemmerOverrideFilter ahead of Porter: the override output exists
    // only if the dictionary hit replaced the term (and kept Porter away)
    "q_stemover_term" -> ((spark, sfDir) => hitsDf(spark,
      specSearcher(spark, sfDir, StemOverrideSpec, Oracles.porterPlanted)
        .search(TermQ("interrogation"), K))),
    // the override CARVES "querying" out of the queri stem group — df
    // and scores shift vs the plain porter field
    "q_stemover_carve" -> ((spark, sfDir) => hitsDf(spark,
      specSearcher(spark, sfDir, StemOverrideSpec, Oracles.porterPlanted)
        .search(TermQ("queri"), K))),
    // ScandinavianFoldingFilter: the three documented national spellings
    // of one word conflate to one term — the query term exists only if
    // the one-pass fold ran (oracle plants javadoc-derived folded forms)
    "q_scandfold_term" -> ((spark, sfDir) => hitsDf(spark,
      specSearcher(spark, sfDir, "scandfold", Oracles.scandPlanted)
        .search(TermQ("blabarsyltetoj"), K))),
    "q_scandfold_term2" -> ((spark, sfDir) => hitsDf(spark,
      specSearcher(spark, sfDir, "scandfold", Oracles.scandPlanted)
        .search(TermQ("raksmorgas"), K))),
    // PatternKeywordMarker + Porter: quer.* tokens are keyword-marked and
    // skip the stemmer — "querying" survives raw…
    "q_porterexcept_term" -> ((spark, sfDir) => hitsDf(spark,
      specSearcher(spark, sfDir, "porterexcept:quer.*",
        Oracles.porterPlanted).search(TermQ("querying"), K))),
    // …while non-matching tokens still stem normally
    "q_porterexcept_stem" -> ((spark, sfDir) => hitsDf(spark,
      specSearcher(spark, sfDir, "porterexcept:quer.*",
        Oracles.porterPlanted).search(TermQ("merg"), K))),
    // PathHierarchyTokenizer: the field is ONE path, every prefix is a
    // term at one shared position (norm length 1) — ancestor lookup is
    // a single term probe
    "q_pathhier_prefix" -> ((spark, sfDir) => hitsDf(spark,
      specSearcher(spark, sfDir, "pathhier", Oracles.pathPlanted)
        .search(TermQ("src/main"), K))),
    "q_pathhier_leaf" -> ((spark, sfDir) => hitsDf(spark,
      specSearcher(spark, sfDir, "pathhier", Oracles.pathPlanted)
        .search(TermQ("src/main/scala/App.scala"), K))),
    // HyphenatedWordsFilter semantics (`analysis/common/.../
    // miscellaneous/HyphenatedWordsFilter.java:25-60` — OCR'd
    // linebreak-hyphenated words rejoined) via the existing CharFilter
    // chain: a hyphen followed by whitespace deletes BEFORE
    // tokenization, so "data-\nbase" indexes as database — the
    // token-stream filter and this text-level form accept the same
    // language under the engine's alnum tokenizer (a hyphen never
    // survives tokenization anyway)
    "q_hyphen_join" -> ((spark, sfDir) => hitsDf(spark,
      specSearcher(spark, sfDir, raw"replace=-\s+=>!simple",
        Oracles.hyphenPlanted).search(TermQ("database"), K))),
    // CJKBigramFilter: adjacent-CJK codepoint bigrams — 数据 matches the
    // run inside 数据库 AND the standalone pair…
    "q_cjk_bigram" -> ((spark, sfDir) => hitsDf(spark,
      specSearcher(spark, sfDir, "cjkbigram", Oracles.cjkPlanted)
        .search(TermQ("数据"), K))),
    // …while a lone codepoint emits its unigram ONLY when it has no
    // neighbor (库 does not match inside 数据库)
    "q_cjk_single" -> ((spark, sfDir) => hitsDf(spark,
      specSearcher(spark, sfDir, "cjkbigram", Oracles.cjkPlanted)
        .search(TermQ("库"), K))),
    // Core tokenizers: KeywordTokenizer (whole value = ONE verbatim
    // term — case and punctuation significant)…
    "q_keyword_term" -> ((spark, sfDir) => hitsDf(spark,
      specSearcher(spark, sfDir, "keyword", Oracles.keywordPlanted)
        .search(TermQ("status-ok"), K))),
    // …WhitespaceTokenizer (case preserved, punctuation kept — "SPARK"
    // does not match the "SPARK!" token)…
    "q_whitespace_term" -> ((spark, sfDir) => hitsDf(spark,
      specSearcher(spark, sfDir, "whitespace", Oracles.whitespacePlanted)
        .search(TermQ("SPARK"), K))),
    // …LowerCaseTokenizer (LETTER runs only — digits split tokens, so
    // "base" falls out of data9base)
    "q_letter_term" -> ((spark, sfDir) => hitsDf(spark,
      specSearcher(spark, sfDir, "letter", Oracles.letterPlanted)
        .search(TermQ("base"), K))),
    // PatternCaptureGroupTokenFilter (preserveOriginal): letter/digit
    // runs overlay mixed tokens — "123" matches both the standalone
    // token and the runs captured out of file123/file123x
    "q_capture_num" -> ((spark, sfDir) => hitsDf(spark,
      specSearcher(spark, sfDir, "capture:([a-z]+)|([0-9]+)",
        Oracles.capturePlanted).search(TermQ("123"), K))),
    "q_capture_alpha" -> ((spark, sfDir) => hitsDf(spark,
      specSearcher(spark, sfDir, "capture:([a-z]+)|([0-9]+)",
        Oracles.capturePlanted).search(TermQ("file"), K))),
    // SynonymFilter field: 'rapid' is an overlay on every 'fast'
    // occurrence (expansion group), 'col' replaces 'column' (directed),
    // and the overlay shares its source position so the exact phrase
    // "the rapid" matches docs saying "the fast"
    "q_bm25_synonym_overlay" -> ((spark, sfDir) => hitsDf(spark,
      synSearcher(spark, sfDir).search(TermQ("rapid"), K))),
    "q_bm25_synonym_replaced" -> ((spark, sfDir) => hitsDf(spark,
      synSearcher(spark, sfDir).search(TermQ("col"), K))),
    "q_synonym_phrase" -> ((spark, sfDir) => hitsDf(spark,
      synSearcher(spark, sfDir).search(PhraseQ(Seq("the", "rapid")), K))),
    // Porter-stemmed field: "queri" hits query/queries/querying docs with
    // the conflated df; the OR adds the tabl stem (table/tables)
    "q_bm25_porter" -> ((spark, sfDir) => hitsDf(spark,
      specSearcher(spark, sfDir, "porter", Oracles.porterPlanted)
        .search(TermQ("queri"), K))),
    // PhoneticFilter/Soundex fields (the factory's commons-codec
    // delegation): replace mode conflates merge/mirage/murge and
    // sort/sord/sorte under one code; inject mode keeps originals at
    // the same positions (overlay norms law) alongside the codes. Query
    // terms are analyzed engine-side; the oracle codes its query word
    // through its own recursive-CTE Soundex, never an engine value.
    // KeywordRepeat + Porter recipe: the stem OVERLAYS the original —
    // "queri" reaches every inflected doc, while the exact original
    // "queries" still matches (a pure-porter field would lose it)
    "q_porter_inject_stem" -> ((spark, sfDir) => hitsDf(spark,
      specSearcher(spark, sfDir, "porter_inject", Oracles.porterPlanted)
        .search(TermQ("queri"), K))),
    "q_porter_inject_orig" -> ((spark, sfDir) => hitsDf(spark,
      specSearcher(spark, sfDir, "porter_inject", Oracles.porterPlanted)
        .search(TermQ("queries"), K))),
    // NGramTokenFilter(2,3) field: partial-match grams
    "q_ngram_term" -> ((spark, sfDir) => hitsDf(spark,
      specSearcher(spark, sfDir, "ngram:2:3").search(TermQ("rge"), K))),
    "q_ngram_short" -> ((spark, sfDir) => hitsDf(spark,
      specSearcher(spark, sfDir, "ngram:2:3").search(TermQ("so"), K))),
    // multi-word SynonymFilter sausage: the replace rule fuses adjacent
    // "sort merge" into one token (and one POSITION — compaction shifts
    // every later norm); the expansion group stacks "primary key" onto
    // a "key" match, spilling onto the next slot (or a new end slot)
    "q_syngraph_replace" -> ((spark, sfDir) => hitsDf(spark,
      specSearcher(spark, sfDir, "syngraph:sort merge=>sortmerge")
        .search(TermQ("sortmerge"), K))),
    "q_syngraph_expand" -> ((spark, sfDir) => hitsDf(spark,
      specSearcher(spark, sfDir, "syngraph:key,primary key")
        .search(TermQ("primary"), K))),
    "q_syngraph_expand_key" -> ((spark, sfDir) => hitsDf(spark,
      specSearcher(spark, sfDir, "syngraph:key,primary key")
        .search(TermQ("key"), K))),
    "q_phonetic_term" -> ((spark, sfDir) => hitsDf(spark,
      specSearcher(spark, sfDir, "phonetic:soundex", Oracles.phoneticPlanted)
        .search(TermQ(graft.core.Phonetic.replaced("soundex", "merge")), K))),
    "q_phonetic_sort" -> ((spark, sfDir) => hitsDf(spark,
      specSearcher(spark, sfDir, "phonetic:soundex", Oracles.phoneticPlanted)
        .search(TermQ(graft.core.Phonetic.replaced("soundex", "sort")), K))),
    "q_phonetic_inject_orig" -> ((spark, sfDir) => hitsDf(spark,
      specSearcher(spark, sfDir, "phonetic_inject:soundex",
        Oracles.phoneticPlanted).search(TermQ("merge"), K))),
    "q_phonetic_inject_code" -> ((spark, sfDir) => hitsDf(spark,
      specSearcher(spark, sfDir, "phonetic_inject:soundex",
        Oracles.phoneticPlanted)
        .search(TermQ(graft.core.Phonetic.replaced("soundex", "sort")), K))),
    "q_bm25_porter_or2" -> ((spark, sfDir) => hitsDf(spark,
      specSearcher(spark, sfDir, "porter", Oracles.porterPlanted).search(
        BoolQ(should = Seq(TermQ("queri"), TermQ("tabl"))), K))),
    // ReversedWildcardFilter field: a leading '*' reverses into a
    // marker-prefixed prefix scan ("*ark" → "kra*")
    "q_wild_leading" -> ((spark, sfDir) => hitsDf(spark,
      specSearcher(spark, sfDir, "revwild", Oracles.revwildPlanted)
        .search(WildcardQ("*ark"), K))),
    // leading '?' (posQ = 0 < maxPosQuestion) also reverses
    "q_wild_leading_q" -> ((spark, sfDir) => hitsDf(spark,
      specSearcher(spark, sfDir, "revwild", Oracles.revwildPlanted)
        .search(WildcardQ("?art"), K))),
    // "*kra*" ends in a wildcard (len - lastPos = 1 < minTrailing 2)
    // -> NOT reversed; the marker-exclusion must keep it from matching
    // reversed terms (reverse("spark") = "kraps" contains "kra" - only
    // the planted "okra" doc may hit)
    "q_wild_noreverse" -> ((spark, sfDir) => hitsDf(spark,
      specSearcher(spark, sfDir, "revwild", Oracles.revwildPlanted)
        .search(WildcardQ("*kra*"), K))),
    // distributed phrase statistics: count-sorted bigram enumeration
    "q_shingle_terms" -> ((spark, sfDir) => {
      import spark.implicits._
      shingleSearcher(spark, sfDir)
        .termsEnum(limit = 10, prefix = Some("order "), minCount = 1)
        .toSeq.toDF("term", "df").coalesce(1)
    }),
    // Luke / CheckIndex statistics surface (LukeRequestHandler analog)
    "q_index_stats" -> ((spark, sfDir) => {
      import spark.implicits._
      Seq(searcher(spark, sfDir).indexStats()).toDF(
        "doc_count", "num_terms", "sum_ttf").coalesce(1)
    }),
    // Solr function-query STRING syntax (ValueSourceParser surface):
    // the parsed tree must score identically to the programmatic one —
    // incl. the query($q) local-params indirection
    "q_func_parsed" -> seg(FunctionQ(ValueSources.parseFunc(
      "sum(recip(n_chars,0.01,5,1), linear(n_chars,0.5,10))"))),
    "q_func_parsed_query" -> seg(FunctionQ(ValueSources.parseFunc(
      "sum(query($q), recip(n_chars,1,1000,1))",
      Map("q" -> TermQ("key"))))),
    // RealTimeGet (/get): newest version of each id across streaming
    // snapshots, last-write-wins by batch order, no compaction needed
    "q_realtime_get" -> ((spark, sfDir) => {
      rtgView(spark, sfDir, Seq(0L, 3L, 5L, 7L, 14L, 21L))
        .select(col("docId").as("doc_id"), col("contentSha256").as("sha"))
        .orderBy("doc_id")
    }),
    // edismax bf: additive boost function attached to a dismax main
    // query (DisMaxQParser.java:166-183 — bf joins as a SHOULD
    // FunctionQuery clause; score = main + f(doc))
    "q_edismax_bf" -> seg(FuncAddedQ(
      DisMaxQ(Seq(TermQ("spark"), TermQ("key")), 0.3f),
      RecipV(FieldV("n_chars"), 0.01f, 5f, 1f))),
    // edismax bq: additive boost QUERY — a boosted optional term over
    // the dismax main (ReqOpt attach)
    "q_edismax_bq" -> seg(BoolQ(
      must = Seq(DisMaxQ(Seq(TermQ("spark"), TermQ("key")), 0.3f)),
      should = Seq(BoostQ(TermQ("dup"), 1.5f)))),
    // IndexSearcher.explain: full factor breakdown for the top hit
    "q_explain" -> ((spark, sfDir) => {
      import spark.implicits._
      val s = searcher(spark, sfDir)
      val top = s.search(TermQ("spark"), 1).head
      val (df, tf, idf, qlen, w, score) = s.explain("spark", top.docId).get
      Seq((top.docId, "spark", df, tf, idf.toDouble, qlen.toDouble,
        w.toDouble, score.toDouble))
        .toDF("doc_id", "term", "df", "tf", "idf", "qlen", "weight", "score").coalesce(1)
    }),
    // FuzzyLikeThisQuery (sandbox): fuzzy variants of each input word,
    // sim^2*idf selection, artificial df=1 scoring context
    "q_fuzzy_like_this" -> ((spark, sfDir) => hitsDf(spark,
      searcher(spark, sfDir).fuzzyLikeThis("sprk btch", minSim = 0.5f,
        maxNumTerms = 6, k = K))),
    // SpellCheckCollator: combination re-query of per-term suggestions,
    // rank-sum order, hits>0 kept, try-order output
    "q_spell_collate" -> ((spark, sfDir) => {
      import spark.implicits._
      searcher(spark, sfDir)
        .collate(Seq("sprk", "btch"), numSug = 4, maxTries = 8,
          maxCollations = 3)
        .zipWithIndex
        .map { case ((c, h), i) => (c, h, i + 1) }
        .toDF("collation", "hits", "rnk").coalesce(1)
    }),
    // FuzzySuggester (suggest/analyzing/FuzzySuggester.java): fuzzy
    // prefix completion — first char exact, <=1 Damerau edit on the
    // prefix, EXACT_FIRST ranking; scans ONE termdict partition
    "q_suggest_fuzzy" -> ((spark, sfDir) => {
      import spark.implicits._
      searcher(spark, sfDir).suggestFuzzy("sprk", 5).toSeq
        .toDF("suggestion", "df").coalesce(1)
    }),
    // AnalyzingInfixSuggester: completions matching anywhere in the term
    "q_suggest_infix" -> ((spark, sfDir) => {
      import spark.implicits._
      searcher(spark, sfDir).suggestInfix("ort", 5).toSeq
        .toDF("suggestion", "df").coalesce(1)
    }),
    // BlendedInfixSuggester: whole-text suggestions weighted by length,
    // position-LINEAR blend; "sor" is a lone mid-token key → pure prefix
    "q_suggest_blended" -> ((spark, sfDir) => {
      import spark.implicits._
      searcher(spark, sfDir).suggestBlendedInfix("sor", 10).toSeq
        .toDF("suggestion", "score").coalesce(1)
    }),
    // reciprocal blend, two-token key: "key" is a MUST term, "val" an
    // unfinished prefix (the end-offset law)
    "q_suggest_blended_recip" -> ((spark, sfDir) => {
      import spark.implicits._
      searcher(spark, sfDir)
        .suggestBlendedInfix("key val", 10, blender = "reciprocal").toSeq
        .toDF("suggestion", "score").coalesce(1)
    }),
    // SuggestStopFilter on the blended suggester's query analyzer
    // (`suggest/analyzing/SuggestStopFilter.java:28-120`): a TRAILING
    // mid-typing stopword is kept as the prefix ("data the" still
    // requires a the-prefixed token)…
    "q_suggest_blended_stop_mid" -> ((spark, sfDir) => {
      import spark.implicits._
      searcher(spark, sfDir).suggestBlendedInfix("data the", 10,
        stopWords = graft.core.Analysis.EnglishStopWords).toSeq
        .toDF("suggestion", "score").coalesce(1)
    }),
    // …while the same stopword FOLLOWED by a separator drops entirely
    "q_suggest_blended_stop_sep" -> ((spark, sfDir) => {
      import spark.implicits._
      searcher(spark, sfDir).suggestBlendedInfix("data the ", 10,
        stopWords = graft.core.Analysis.EnglishStopWords).toSeq
        .toDF("suggestion", "score").coalesce(1)
    }),
    // FreeTextSuggester (suggest/analyzing/FreeTextSuggester.java):
    // 2-gram stupid-backoff LM — "order s" completes via the bigram
    // model first, unigram completions back off at ALPHA = 0.4
    "q_suggest_freetext" -> ((spark, sfDir) => {
      import spark.implicits._
      graft.ops.FreeText.lookup(freeTextModel(spark, sfDir), "order s", 6)
        .zipWithIndex
        .map { case ((sug, v), i) => (sug, v, i + 1) }
        .toDF("suggestion", "value", "rnk").coalesce(1)
    }),
    // Percolation (lucene/memory MemoryIndex.java:76-101 prospective
    // search): 7 registered queries stream over the documents table,
    // each doc builds its per-doc term→positions map once
    "q_percolate" -> ((spark, sfDir) => {
      import graft.ops.Percolator.PQuery
      val docs = docsDf(spark, sfDir)
      val qs = Seq(
        PQuery(1, TermQ("spark")),
        PQuery(2, Query.and(TermQ("order"), TermQ("sort"))),
        PQuery(3, PhraseQ(Seq("order", "sort"))),
        PQuery(4, PrefixQ("sc")),
        PQuery(5, BoolQ(must = Seq(TermQ("batch")),
          mustNot = Seq(TermQ("spark")))),
        PQuery(6, PhraseQ(Seq("order", "sort"), 2)),
        PQuery(7, WildcardQ("s?rt")))
      graft.ops.Percolator.percolate(docs, "text", "doc_id", qs)
        .orderBy("doc_id", "query_id")
    }),
    // TermVectorComponent (solr TermVectorComponent.java): per-doc term
    // vectors straight off the logical postings (tf, positions) joined
    // with collection df
    "q_termvectors" -> ((spark, sfDir) => {
      val ix = logical(spark, sfDir)
      ix.postings.filter(col("docId").isin(40L, 41L, 42L))
        .join(ix.termStats.select(col("term"), col("df")), Seq("term"))
        .select(col("docId").as("doc_id"), col("term"), col("tf"),
          col("df"), col("pos").as("positions"))
        .orderBy("doc_id", "term")
    }),
    // ComplexPhraseQueryParser (queryparser/complexPhrase/...java:91):
    // wildcard inside a phrase; mixed-sign phrase → SpanNot per the
    // reference's include/exclude law (:326-352)
    "q_complex_phrase" -> seg(QueryParser.parseComplexPhrase("\"ord* merge\"~4")),
    "q_complex_phrase_not" ->
      seg(QueryParser.parseComplexPhrase("\"order -sort merge\"~1")),
    // Surround query language (queryparser/surround): prefix W, an infix
    // W chain (one distance query, LAST operator's distance), prefix N
    // (unordered min-advancing walk)
    "q_surround_w" -> seg(QueryParser.parseSurround("3w(order, sort)")),
    "q_surround_infix" -> seg(QueryParser.parseSurround("order 4w sort 4w merge")),
    "q_surround_n" -> seg(QueryParser.parseSurround("4n(order, merge)")),
    // SweetSpotSimilarity (lucene/misc SweetSpotSimilarity.java:40):
    // plateau lengthNorm encoded at index time + baselineTf, Classic
    // weights/coord otherwise — runs against the sweet-normed index
    "q_sweetspot_term" -> ((spark, sfDir) => hitsDf(spark,
      sweetSearcher(spark, sfDir).search(TermQ("spark"), K, None, true,
        SegmentSearcher.SimSweetSpot))),
    "q_sweetspot_or2" -> ((spark, sfDir) => hitsDf(spark,
      sweetSearcher(spark, sfDir).search(Query.or(TermQ("dup"), TermQ("vector")),
        K, None, true, SegmentSearcher.SimSweetSpot))),
    "q_join_score_avg" -> joinGate(TermQ("spark"), "avg"),
    "q_join_score_max" -> joinGate(TermQ("batch"), "max"),
    "q_join_score_total" -> joinGate(TermQ("order"), "total"),
    "q_join_score_min" -> joinGate(TermQ("key"), "min"),
    // SimpleNaiveBayesClassifier (lucene/classification): class = lang,
    // raw log scores gated (softmax normalization is spec-pinned);
    // training stats are corpus aggregations, scoring folds driver-side
    "q_classify_nb" -> ((spark, sfDir) => {
      import spark.implicits._
      val docs = docsDf(spark, sfDir)
      graft.ops.Classify.naiveBayes(docs, "text", "lang",
          graft.core.Analysis.simpleTokens, "order sort merge fast key")
        .zipWithIndex
        .map { case (c, i) => (c.cls, c.raw, i + 1) }
        .toDF("cls", "score", "rnk").coalesce(1)
    }),
    // KNearestNeighborClassifier: MLT-from-text (boosted, classic-idf
    // selection), BM25 top-k, rank-ordered class vote
    "q_classify_knn" -> ((spark, sfDir) => {
      import spark.implicits._
      graft.ops.Classify.knn(searcher(spark, sfDir), "lang",
          "order sort merge fast key table scan row", k = K,
          maxQueryTerms = 6, minTermFreq = 1, minDocFreq = 5)
        .zipWithIndex
        .map { case (c, i) => (c.cls, c.raw, i + 1) }
        .toDF("cls", "score", "rnk").coalesce(1)
    }),
    // BooleanPerceptronClassifier: corpus-stat seeding + the sequential
    // miss-driven weight fold (batch-snapshot semantics), trained on a
    // doc_id-sampled subset (the reference's `query` arg) with the
    // boolean class "is this doc English"
    "q_classify_perceptron" -> ((spark, sfDir) => {
      import spark.implicits._
      import org.apache.spark.sql.functions.{col, lit, when}
      val docs = docsDf(spark, sfDir)
        .withColumn("boolcls",
          when(col("lang") === "en", lit("true")).otherwise(lit("false")))
      val r = graft.ops.Classify.booleanPerceptron(docs, "text", "boolcls",
        "doc_id", graft.core.Analysis.simpleTokens,
        "order sort merge fast key", batchSize = 3,
        trainFilter = col("doc_id") % 16 === 3)
      Seq((r.cls.toString, r.output, r.threshold, r.score))
        .toDF("cls", "output", "threshold", "score").coalesce(1)
    }),
    // sort-by-field through the Searcher (TopFieldCollector analog)
    "q_bm25_sort_field" -> ((spark, sfDir) => {
      import spark.implicits._
      searcher(spark, sfDir)
        .searchByField(TermQ("spark"), K, "n_chars", asc = false)
        .zipWithIndex.toSeq
        .map { case ((d, v), i) => (d, v, i + 1) }
        .toDF("doc_id", "sort_val", "rnk").coalesce(1)
    }),
    // SimpleQueryParser (queryparser/simple): '+' AND over an OR group,
    // and '-' negation — the fault-tolerant end-user syntax
    "q_simple_parsed" -> seg(QueryParser.parseSimple("dup + (spark | key)")),
    "q_simple_neg" -> seg(QueryParser.parseSimple("batch + -spark")),
    // multi-field sort (Sort with a SortField chain): token count asc,
    // char count desc, docId tie — ties on the first field fall through
    "q_sort_multi" -> ((spark, sfDir) => {
      import spark.implicits._
      searcher(spark, sfDir).searchBySort(TermQ("spark"), K,
          Seq(("length", true), ("n_chars", false)))
        .zipWithIndex.toSeq
        .map { case ((d, vs), i) => (d, vs(0), vs(1), i + 1) }
        .toDF("doc_id", "len", "n_chars", "rnk").coalesce(1)
    }),
    // expression sort (lucene/expressions ExpressionSortField): matches
    // ranked by a compiled Javascript-dialect expression over docvalues
    "q_expr_sort" -> ((spark, sfDir) => {
      import spark.implicits._
      searcher(spark, sfDir)
        .searchByExpr(TermQ("spark"), K,
          "sqrt(n_chars) + 2*ln(1.0+length) - (n_chars > 400 ? 50 : 0)")
        .zipWithIndex.toSeq
        .map { case ((d, v), i) => (d, v, i + 1) }
        .toDF("doc_id", "expr_val", "rnk").coalesce(1)
    }),
    // ExpressionRescorer: re-order first-pass hits by an expression with
    // _score bound; sort value = expression, hit score stays first-pass
    "q_expr_rescore" -> ((spark, sfDir) => {
      import spark.implicits._
      val s = searcher(spark, sfDir)
      val first = s.search(TermQ("batch"), 20)
      s.rescoreExpr(first, "_score + ln(1.0 + n_chars) / 10", K)
        .zipWithIndex.toSeq
        .map { case ((d, v, fs), i) => (d, v, fs.toFloat, i + 1) }
        .toDF("doc_id", "expr_val", "first_s", "rnk").coalesce(1)
    }),
    // total hit count without collection (TotalHitCountCollector analog)
    "q_bm25_count" -> ((spark, sfDir) => {
      import spark.implicits._
      val n = searcher(spark, sfDir)
        .count(Query.not(TermQ("batch"), TermQ("spark")))
      Seq(n).toDF("cnt").coalesce(1)
    }),
    // docvalues-style field filter (FieldValueQuery analog): matches by a
    // stored-field predicate, ranked by the docId tie-break
    "q_field_value" -> ((spark, sfDir) => {
      import spark.implicits._
      val hits = searcher(spark, sfDir)
        .searchByField(BoolQ(filter = Seq(TermQ("spark"))), K, "n_chars",
          asc = true)
      hits.zipWithIndex.toSeq
        .map { case ((d, v), i) => (d, v, i + 1) }
        .toDF("doc_id", "sort_val", "rnk").coalesce(1)
    }),
    // more-like-this: top tf×idf terms of doc 42 → BM25 disjunction
    "q_bm25_mlt" -> ((spark, sfDir) => {
      val s = searcher(spark, sfDir)
      val q = s.moreLikeThis(42L, contentCol = "text",
        maxQueryTerms = 15, minTf = 2, minDocFreq = 5)
      hitsDf(spark, s.search(q, K))
    }),
    // second-pass re-ranking (QueryRescorer analog)
    "q_bm25_rescore" -> ((spark, sfDir) => {
      val s = searcher(spark, sfDir)
      val first = s.search(TermQ("batch"), 20)
      hitsDf(spark, s.rescore(first, TermQ("spark"), 2f, K))
    }),
    // highlighting: snippets around the first match from the row store
    "q_highlight" -> ((spark, sfDir) => {
      import spark.implicits._
      val s = searcher(spark, sfDir)
      val hits = s.search(TermQ("spark"), K)
      val snips = s.highlightAll(hits, Set("spark"), contentCol = "text")
      hits.zipWithIndex.toSeq
        .map { case (h, i) => (h.docId, snips.getOrElse(h.docId, ""), i + 1) }
        .toDF("doc_id", "snippet", "rnk").coalesce(1)
    }),
    // FastVectorHighlighter multi-fragment passages (vectorhighlight/
    // BaseFragListBuilder + WeightedFieldFragList + ScoreOrder): top-3
    // boundary-adjusted tagged fragments per top-5 doc, driver form
    "q_fvh_fragments" -> ((spark, sfDir) => {
      import spark.implicits._
      val s = searcher(spark, sfDir)
      val hits = s.search(TermQ("spark"), 5)
      val fr = s.fvhHighlightAll(hits, Set("spark"), contentCol = "text",
        fragCharSize = 60, maxNumFragments = 3)
      hits.toSeq.flatMap(h => fr.getOrElse(h.docId, Nil).zipWithIndex
        .map { case ((f, sc), i) => (h.docId, f, sc.toDouble, i + 1) })
        .toDF("doc_id", "fragment", "fscore", "frank").coalesce(1)
    }),
    // same fragments through the batch DataFrame path (fragments as
    // rows, executor-side — the 10^7-hit shape); same oracle
    "q_fvh_batch" -> ((spark, sfDir) => {
      import spark.implicits._
      val s = searcher(spark, sfDir)
      val hits = s.search(TermQ("spark"), 5)
      val ids = hits.map(_.docId).toSeq.toDF("docId")
      s.fvhFrame(ids, Set("spark"), contentCol = "text",
        fragCharSize = 60, maxNumFragments = 3)
        .select(col("docId").as("doc_id"), col("fragment"),
          col("fscore").cast("double").as("fscore"), col("frank"))
    }),
    // batch highlight: the FULL q_bm25_term_k100 hit set through the
    // DataFrame path (executor-side snippets, no driver round-trip)
    "q_highlight_batch" -> ((spark, sfDir) => {
      import spark.implicits._
      val s = searcher(spark, sfDir)
      val hits = s.search(TermQ("batch"), 100)
      val hdf = hits.zipWithIndex.toSeq
        .map { case (h, i) => (h.docId, i + 1) }.toDF("docId", "rnk")
      s.highlightFrame(hdf, Set("batch"), contentCol = "text")
        .select(col("docId").as("doc_id"), col("snippet"), col("rnk"))
        .orderBy("rnk")
    }),
    // batch MLT term selection: top tf×idf terms per doc as a DataFrame
    "q_mlt_terms" -> ((spark, sfDir) => {
      import spark.implicits._
      val s = searcher(spark, sfDir)
      val ids = (40L to 44L).toDF("docId")
      s.mltTermsFrame(ids, contentCol = "text",
          maxQueryTerms = 10, minTf = 2, minDocFreq = 5)
        .select(col("docId").as("doc_id"), col("term"),
          col("mscore"), col("rank"))
        .orderBy("doc_id", "rank")
    }))

  val oracleSql: Map[String, String] = Map(
    "q_dv_numbers" -> Oracles.dvConst(
      "n_chars IN (" + (100 to 199).mkString(", ") + ")", K),
    "q_dv_terms" -> Oracles.dvConst("lang IN ('en', 'fr')", K),
    "q_dv_range" -> Oracles.dvConst("n_chars >= 200 AND n_chars < 400", K),
    "q_dv_range_open" -> Oracles.dvConst("n_chars <= 150", K),
    "q_dv_filtered" -> Oracles.termDvRange("spark", "n_chars", 100, 400, K),
    "q_keepword_term" -> Oracles.keepwordTerm("spark", KeepWords, K),
    "q_keepword_phrase" ->
      Oracles.keepwordPhrase2("spark", "data", KeepWords, K),
    "q_lengthfilter_term" -> Oracles.lengthFilterTerm("filter", 4, 6, K),
    "q_truncate_term" -> Oracles.truncateTerm("batc", 4, K),
    "q_limittok_term" -> Oracles.limitTokTerm("spark", 20, K),
    "q_stemover_term" ->
      Oracles.stemOverrideTerm("interrogation", StemOverrides, K),
    "q_stemover_carve" -> Oracles.stemOverrideTerm("queri", StemOverrides, K),
    "q_scandfold_term" -> Oracles.scandFoldTerm("blabarsyltetoj", K),
    "q_scandfold_term2" -> Oracles.scandFoldTerm("raksmorgas", K),
    "q_porterexcept_term" -> Oracles.porterExceptTerm("querying", "quer.*", K),
    "q_porterexcept_stem" -> Oracles.porterExceptTerm("merg", "quer.*", K),
    "q_pathhier_prefix" -> Oracles.pathHierTerm("src/main", K),
    "q_pathhier_leaf" -> Oracles.pathHierTerm("src/main/scala/App.scala", K),
    "q_hyphen_join" -> Oracles.customTokTerm("database",
      Oracles.hyphenPlanted,
      raw"list_filter(regexp_split_to_array(lower(regexp_replace(text, '-\s+', '', 'g')), '[^a-z0-9]+'), x -> x <> '')",
      K),
    "q_cjk_bigram" -> Oracles.cjkTerm("数据", K),
    "q_cjk_single" -> Oracles.cjkTerm("库", K),
    "q_keyword_term" -> Oracles.customTokTerm("status-ok",
      Oracles.keywordPlanted,
      "CASE WHEN length(text) > 0 THEN [text] ELSE [] END", K),
    "q_whitespace_term" -> Oracles.customTokTerm("SPARK",
      Oracles.whitespacePlanted,
      raw"list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')", K),
    "q_letter_term" -> Oracles.customTokTerm("base",
      Oracles.letterPlanted,
      "list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')",
      K),
    "q_capture_num" -> Oracles.captureTerm("123", K),
    "q_capture_alpha" -> Oracles.captureTerm("file", K),
    "q_bm25_term_common" -> Oracles.term("batch", K),
    "q_bm25_term_mid" -> Oracles.term("spark", K),
    "q_bm25_term_rare" -> Oracles.term("dup", K),
    "q_bm25_term_absent" -> Oracles.term("zzzabsent", K),
    "q_bm25_term_k100" -> Oracles.term("batch", 100),
    "q_bm25_term_k1" -> Oracles.term("batch", 1),
    "q_bm25_and2" -> Oracles.and(Seq("dup", "batch"), K),
    "q_bm25_and3" -> Oracles.and(Seq("spark", "key", "fast"), K),
    "q_bm25_or2" -> Oracles.or(Seq("dup", "vector"), 1, K),
    "q_multicollect" -> Oracles.orWithCount(Seq("dup", "vector"), 1, K),
    "q_bm25_or3_msm2" -> Oracles.or(Seq("dup", "spark", "key"), 2, K),
    "q_bm25_not" -> Oracles.not("batch", "spark", K),
    "q_bm25_must_should" -> Oracles.mustShould("dup", Seq("spark", "key"), 0, K),
    "q_xml_bool" -> Oracles.mustShould("dup", Seq("spark", "key"), 0, K),
    "q_xml_dismax" -> Oracles.dismax(Seq("spark", "key"), 0.3f, K),
    "q_xml_span_near" -> Oracles.spanNearOrdered(Seq("order", "sort"), 4, K),
    "q_bm25_must_should_msm" -> Oracles.mustShould("batch",
      Seq("dup", "spark", "key"), 2, K),
    "q_bm25_filter" -> Oracles.mustFilter("spark", "dup", K),
    "q_bm25_dismax" -> Oracles.dismax(Seq("spark", "key"), 0.3f, K),
    "q_bm25_synonym" -> Oracles.synonym(Seq("dup", "vector"), K),
    "q_bm25_blended" -> Oracles.blended(Seq("dup", "batch"), 0.01f, K),
    "q_bm25_boost" -> Oracles.or(Seq("spark", "key"), 1, K,
      boosts = Map("spark" -> 2f)),
    "q_bm25_page2" -> Oracles.term("batch", K, offset = K),
    "q_bm25_prefix" -> Oracles.prefix("sc", K),
    "q_bm25_fuzzy" -> Oracles.fuzzy("sprk", 1, K),
    "q_bm25_fuzzy_scored" -> Oracles.fuzzyScored("sprk", 2, 50, K),
    "q_bm25_regexp" -> Oracles.regexp("sp[aeiou]rk", K),
    "q_bm25_term_range" -> Oracles.termRange("scala", "scq", true, false, K),
    "q_classic_term" -> Oracles.classicTerm("spark", K),
    "q_classic_or2" -> Oracles.classicOr(Seq("dup", "vector"), K),
    "q_classic_and2" -> Oracles.classicAnd(Seq("dup", "batch"), K),
    "q_classic_must_should" ->
      Oracles.classicMustShould(Seq("spark"), Seq("dup", "vector"), 0, K),
    "q_classic_msm" ->
      Oracles.classicMustShould(Seq("batch"), Seq("dup", "vector"), 1, K),
    "q_classic_boost" ->
      Oracles.classicOrBoosted(Seq("dup" -> 2f, "vector" -> 1f), K),
    "q_dfr_term" -> Oracles.dfrTerm("spark", K),
    "q_dfr_or2" -> Oracles.dfrOr(Seq("dup", "vector"), K),
    "q_lm_term" -> Oracles.lmTerm("spark", K),
    "q_lm_or2" -> Oracles.lmOr(Seq("dup", "vector"), K),
    "q_dfr_inl2_term" ->
      Oracles.simBaseTerm(SegmentSearcher.SimDFRInL2, "spark", K),
    "q_dfr_inl2_or2" ->
      Oracles.simBaseOr(SegmentSearcher.SimDFRInL2, Seq("dup", "vector"), K),
    "q_dfr_ineb1_term" ->
      Oracles.simBaseTerm(SegmentSearcher.SimDFRIneB1, "spark", K),
    "q_dfr_pl2_term" ->
      Oracles.simBaseTerm(SegmentSearcher.SimDFRPL2, "spark", K),
    "q_dfr_pl2_or2" ->
      Oracles.simBaseOr(SegmentSearcher.SimDFRPL2, Seq("dup", "vector"), K),
    "q_dfr_beb1_term" ->
      Oracles.simBaseTerm(SegmentSearcher.SimDFRBeB1, "spark", K),
    "q_dfr_beb1_or2" ->
      Oracles.simBaseOr(SegmentSearcher.SimDFRBeB1, Seq("dup", "vector"), K),
    "q_dfr_dl2_term" ->
      Oracles.simBaseTerm(SegmentSearcher.SimDFRDL2, "spark", K),
    "q_dfr_dl2_or2" ->
      Oracles.simBaseOr(SegmentSearcher.SimDFRDL2, Seq("dup", "vector"), K),
    "q_ib_spl_term" ->
      Oracles.simBaseTerm(SegmentSearcher.SimIBSplD2, "spark", K),
    "q_ib_spl_or2" ->
      Oracles.simBaseOr(SegmentSearcher.SimIBSplD2, Seq("dup", "vector"), K),
    "q_ib_ll_term" ->
      Oracles.simBaseTerm(SegmentSearcher.SimIBLlL1, "spark", K),
    "q_lmjm_term" ->
      Oracles.simBaseTerm(SegmentSearcher.SimLMJM, "spark", K),
    "q_lmjm_or2" ->
      Oracles.simBaseOr(SegmentSearcher.SimLMJM, Seq("dup", "vector"), K),
    "q_dfi_chi_term" ->
      Oracles.simBaseTerm(SegmentSearcher.SimDFIChi, "spark", K),
    "q_dfi_chi_or2" ->
      Oracles.simBaseOr(SegmentSearcher.SimDFIChi, Seq("dup", "vector"), K),
    "q_dfi_sat_term" ->
      Oracles.simBaseTerm(SegmentSearcher.SimDFISat, "spark", K),
    "q_dfi_std_term" ->
      Oracles.simBaseTerm(SegmentSearcher.SimDFIStd, "spark", K),
    "q_dfr_ifb3_term" ->
      Oracles.simBaseTerm(SegmentSearcher.SimDFRIFB3, "spark", K),
    "q_dfr_ifb3_or2" ->
      Oracles.simBaseOr(SegmentSearcher.SimDFRIFB3, Seq("dup", "vector"), K),
    "q_ib_splz_term" ->
      Oracles.simBaseTerm(SegmentSearcher.SimIBSplDZ, "spark", K),
    "q_multisim_term" -> Oracles.multiSimTerm(
      Seq(SegmentSearcher.SimBm25, SegmentSearcher.SimLMDirichlet), "spark", K),
    "q_multisim_or2" -> Oracles.multiSimOr(
      Seq(SegmentSearcher.SimBm25, SegmentSearcher.SimLMDirichlet),
      Seq("dup", "vector"), K),
    "q_multisim3_term" -> Oracles.multiSimTerm(
      Seq(SegmentSearcher.SimBm25, SegmentSearcher.SimClassic,
        SegmentSearcher.SimDFR), "spark", K),
    "q_suggest" -> Oracles.suggest("sprk", 2, 5),
    "q_suggest_prefix" -> Oracles.suggestPrefix("s", 4),
    "q_suggest_dist_jw" -> Oracles.suggestDistance("smal", 2, 5, "jarowinkler"),
    "q_suggest_dist_lev" -> Oracles.suggestDistance("smal", 2, 5, "levenshtein"),
    "q_suggest_dist_lucene" -> Oracles.suggestDistance("smal", 2, 5, "lucene"),
    "q_wordbreak1" -> Oracles.wordBreaks("sortmerge", 5, 1),
    "q_wordbreak2" -> Oracles.wordBreaks("sortmergekey", 5, 2),
    "q_wordcombine" -> Oracles.wordCombinations(
      Seq("val", "ue", "str", "ea", "m"), 5, 2),
    "q_bm25_prefix_scored" -> Oracles.prefixScored("s", 4, K),
    "q_bm25_prefix_blended" -> Oracles.prefixBlended("s", 4, K),
    "q_term_automaton" -> Oracles.termAutomaton(
      Seq("order" -> Seq("sort", "merge")), Nil, K),
    "q_term_automaton_union" -> Oracles.termAutomaton(
      Seq("order" -> Seq("sort")), Seq("sort"), K),
    "q_span_near" -> Oracles.spanNearOrdered(Seq("order", "sort"), 4, K),
    "q_span_first" -> Oracles.spanFirst("order", 25, K),
    "q_span_or" -> Oracles.spanOr(Seq("order", "sort"), K),
    "q_span_not" -> Oracles.spanNot("order", "sort", 3, 3, K),
    "q_span_near_or" -> Oracles.spanNearOrderedOr(
      Seq(Seq("order", "merge"), Seq("sort", "zzznosuchterm")), 5, K),
    "q_span_near3" -> Oracles.spanNearOrdered(Seq("order", "sort", "merge"), 6, K),
    "q_span_tree_first" ->
      Oracles.spanTreeFirst(Seq("order", "sort"), 4, 50, K),
    "q_span_tree_not" ->
      Oracles.spanTreeNot(Seq("order", "sort"), 4, "merge", 1, 2, K),
    "q_span_tree_nested" ->
      Oracles.spanTreeNested(Seq("order", "sort"), 2, "merge", 8, K),
    "q_span_containing" ->
      Oracles.spanContaining(Seq("order", "sort"), 6, "merge", K),
    "q_span_within" ->
      Oracles.spanWithin("sort", Seq("order", "merge"), 8, K),
    "q_span_posrange" ->
      Oracles.spanPosRange(Seq("order", "sort"), 4, 3, 40, K),
    "q_span_wildcard" ->
      Oracles.spanNearWildcard("ord%", "sort", 5, K),
    "q_span_boost" -> Oracles.spanNearOrdered(Seq("order", "sort"), 4, K,
      boost = 1.7f),
    "q_span_masked" -> Oracles.spanMaskedNear("source", "src3", "order", 5, K),
    "q_payload_max" -> Oracles.payloadTerm("order", "max", true, K),
    "q_payload_min" -> Oracles.payloadTerm("order", "min", false, K),
    "q_payload_avg_near" -> Oracles.payloadAvgNear("order", "sort", 4, K),
    "q_payload_check" -> Oracles.payloadCheckTerm("merge", 0, K),
    "q_bm25_phrase" -> Oracles.phrase2("order", "sort", K),
    "q_reshard_term" -> Oracles.term("spark", K),
    "q_reshard_phrase" -> Oracles.phrase2("order", "sort", K),
    "q_cluster_results" -> Oracles.clusterResults("spark", 20),
    "q_dvupdate_sort" ->
      Oracles.sortByFieldUpdated("batch", "n_chars", K, asc = true,
        DvUpdatedIds.map(_ -> 1L)),
    "q_deleted_term" -> Oracles.deletedTerm("spark", "dup", K),
    "q_deleted_count" -> Oracles.deletedCount("batch", "dup"),
    "q_syngraph_replace" -> Oracles.syngraphReplace(K),
    "q_syngraph_expand" -> Oracles.syngraphExpand("primary", K),
    "q_syngraph_expand_key" -> Oracles.syngraphExpand("key", K),
    "q_porter_inject_stem" -> (Oracles.porterInjectPrologue +
      Oracles.termCtes("a", "queri") + Oracles.finish("sc_a", K)),
    "q_porter_inject_orig" -> (Oracles.porterInjectPrologue +
      Oracles.termCtes("a", "queries") + Oracles.finish("sc_a", K)),
    "q_ngram_term" -> (Oracles.ngramPrologue(2, 3) +
      Oracles.termCtes("a", "rge") + Oracles.finish("sc_a", K)),
    "q_ngram_short" -> (Oracles.ngramPrologue(2, 3) +
      Oracles.termCtes("a", "so") + Oracles.finish("sc_a", K)),
    "q_phonetic_term" -> Oracles.phoneticTerm("merge", inject = false, K),
    "q_phonetic_sort" -> Oracles.phoneticTerm("sort", inject = false, K),
    "q_phonetic_inject_orig" -> (Oracles.soundexPrologue(inject = true) +
      Oracles.termCtes("a", "merge") + Oracles.finish("sc_a", K)),
    "q_phonetic_inject_code" -> Oracles.phoneticTerm("sort", inject = true, K),
    "q_charfilter_term" -> Oracles.charFilterTerm("b4tch", K),
    // reversed-wildcard semantics are INVISIBLE in the results: each
    // oracle is a plain whole-term wildcard over ORIGINAL tokens of
    // corpus ∪ planted suffix docs
    "q_wild_leading" -> Oracles.revwildWildcard("^.*ark$", K),
    "q_wild_leading_q" -> Oracles.revwildWildcard("^.art$", K),
    "q_wild_noreverse" -> Oracles.revwildWildcard("^.*kra.*$", K),
    "q_charfilter_or2" -> Oracles.charFilterOr2("sp4rk", "dup", K),
    "q_bm25_phrase_sloppy" -> Oracles.phraseSloppy2("order", "sort", 2, K),
    "q_bm25_multiphrase" -> Oracles.multiPhrase2("order", Seq("sort", "merge"), K),
    "q_bm25_multiphrase_rpt" ->
      Oracles.multiPhraseSloppyRpt2("order", Seq("order", "sort"), 2, K),
    "q_bm25_filter_only" -> Oracles.filterOnly(Seq("spark", "key"), K),
    "q_bm25_notall" -> Oracles.notAll("spark", K),
    // msm values replay CommonTermsQuery.minNrShouldMatch for the
    // EXPECTED split (2 low, 2 high): round(0.5×2)=1, round(0.4×2)=1
    "q_common_terms" -> Oracles.commonTerms(
      Seq("batch", "dup", "spark", "zzznope"), mtf = 0.5f,
      lowMsm = 1, highMsm = 1, lowBoost = 1f, highBoost = 0.3f, k = K),
    "q_boosting" -> Oracles.boosting(Seq("spark", "key"), "batch", 0.4f, K),
    "q_terms_set" -> Oracles.termsSet(Seq("dup", "key"), K),
    "q_terms_enum" -> Oracles.termsEnum(15, prefix = Some("s"), minCount = 5),
    "q_terms_enum_index" -> Oracles.termsEnum(20, lower = Some("d"),
      upper = Some("p"), regexp = Some("[a-z]+[0-9]*"), sortByCount = false),
    "q_elevate" -> Oracles.elevatedOr(Seq("spark", "key"),
      Seq(42L, 7L), Set(3L), K),
    "q_func_if_exists" ->
      Oracles.functionQuery(IfExistsVs, K, Seq("spark")),
    "q_func_bool" ->
      Oracles.functionQuery(BoolVs, K, Seq("spark", "batch")),
    "q_func_def" -> Oracles.functionQuery(DefVs, K, Seq("spark")),
    "q_func_tfidf" -> Oracles.functionQuery(
      ProductV(Seq(TfV("spark"), IdfV("spark"))), K),
    "q_func_norm" -> Oracles.functionQuery(NormV, K),
    "q_func_stats_parsed" -> Oracles.functionQuery(
      SumV(Seq(DocFreqV("spark"), LinearV(TermFreqV("spark"), 0.5f, 0f),
        DivV(SumTotalTermFreqV, MaxDocV))), K),
    "q_func_recip" -> Oracles.functionQuery(
      RecipV(FieldV("n_chars"), 1f, 1000f, 1f), K),
    "q_func_scale" -> Oracles.functionQuery(
      ScaleV(FieldV("n_chars"), 0f, 100f), K),
    "q_func_boost" -> Oracles.boostedOr(Seq("spark", "key"),
      RecipV(FieldV("n_chars"), 0.01f, 5f, 1f), K),
    "q_custom_score" -> Oracles.customScore(Seq("spark", "key"),
      Seq(RecipV(FieldV("n_chars"), 0.01f, 5f, 1f),
        LinearV(SqrtV(FieldV("n_chars")), 0.1f, 1f)), 1.3f, K),
    "q_func_range" -> Oracles.functionRange(
      LinearV(FieldV("n_chars"), 0.5f, 10f), 100f, 200f, K),
    "q_func_query_vs" -> Oracles.functionQuery(SumV(Seq(
      QueryV(TermQ("spark"), 0f),
      RecipV(FieldV("n_chars"), 1f, 500f, 1f))), K, termVs = Seq("spark")),
    "q_maxscore" -> Oracles.dismax(Seq("dup", "spark", "key"), 0f, K),
    "q_maxscore_must" ->
      Oracles.mustDismax("batch", Seq("dup", "spark"), 0.2f, K),
    "q_bm25_parsed" -> Oracles.mustShouldNot("dup",
      Seq("spark" -> 1f, "key" -> 1.5f), "window", K),
    "q_bm25_wildcard" -> Oracles.wildcard("^sp.rk$", K),
    "q_bm25_dismax_mm" -> Oracles.or(Seq("dup", "spark", "key", "vector"), 3, K),
    "q_edismax_persim" ->
      Oracles.edismaxPerSim(Seq("spark", "src3"), msm = 1, tie = 0.1f, K),
    "q_bm25_edismax_qf" -> Oracles.edismaxQf(Seq("spark", "src3", "batch"),
      Seq(("text", 1f), ("source", 2f)), msm = 2, tie = 0.1f, k = K),
    "q_bm25_edismax_pf" -> Oracles.edismaxQf(Seq("order", "sort"),
      Seq(("text", 1f), ("source", 2f)), msm = 1, tie = 0.2f, k = K,
      pf = Seq(("text", 1.5f), ("source", 1f))),
    "q_commongrams_term" -> Oracles.commonGramsTerm("the_spark",
      graft.core.Analysis.EnglishStopWords.toSeq.sorted, K),
    "q_commongrams_phrase" -> Oracles.commonGramsPhrase(
      Seq("part_the", "the_sort"),
      graft.core.Analysis.EnglishStopWords.toSeq.sorted, K),
    "q_shingle_phrase" -> Oracles.shingleTerm("order sort", K),
    "q_bm25_porter" -> Oracles.porterTerm("queri", K),
    "q_bm25_porter_or2" -> Oracles.porterOr2("queri", "tabl", K),
    "q_diversified" -> Oracles.diversifiedTerm("data", "lang", 2, K),
    "q_bm25_synonym_overlay" -> Oracles.synonymTerm(
      SynonymExpandPairs, SynonymDirectedPairs, "rapid", K),
    "q_bm25_synonym_replaced" -> Oracles.synonymTerm(
      SynonymExpandPairs, SynonymDirectedPairs, "col", K),
    "q_synonym_phrase" -> Oracles.synonymPhrase2(
      SynonymExpandPairs, SynonymDirectedPairs, "the", "rapid", K),
    "q_shingle_terms" -> Oracles.shingleTermsEnum("order ", 10, 1),
    "q_index_stats" -> Oracles.indexStats,
    "q_func_parsed" -> Oracles.functionQuery(SumV(Seq(
      RecipV(FieldV("n_chars"), 0.01f, 5f, 1f),
      LinearV(FieldV("n_chars"), 0.5f, 10f))), K),
    "q_func_parsed_query" -> Oracles.functionQuery(SumV(Seq(
      QueryV(TermQ("key"), 0f),
      RecipV(FieldV("n_chars"), 1f, 1000f, 1f))), K, termVs = Seq("key")),
    "q_realtime_get" -> Oracles.realTimeGet(Seq(0L, 3L, 5L, 7L, 14L, 21L), 7),
    "q_edismax_bf" -> Oracles.dismaxAdded(Seq("spark", "key"), 0.3f,
      RecipV(FieldV("n_chars"), 0.01f, 5f, 1f), K),
    "q_edismax_bq" -> Oracles.edismaxBq(Seq("spark", "key"), 0.3f,
      "dup", 1.5f, K),
    "q_explain" -> Oracles.explain("spark"),
    "q_fuzzy_like_this" -> Oracles.fuzzyLikeThis2("sprk", "btch", 0.5f, 6, K),
    "q_spell_collate" -> Oracles.collate2("sprk", "btch", 4, 8, 3),
    "q_suggest_fuzzy" -> Oracles.suggestFuzzy("sprk", 5),
    "q_suggest_infix" -> Oracles.suggestInfix("ort", 5),
    "q_suggest_blended" ->
      Oracles.suggestBlended("sor", Nil, Some("sor"), "linear", 10, 10),
    "q_suggest_blended_recip" ->
      Oracles.suggestBlended("key val", Seq("key"), Some("val"),
        "reciprocal", 10, 10),
    // post-SuggestStopFilter plans, transcribed BY HAND from the
    // reference law: trailing mid-typing 'the' stays as the prefix…
    "q_suggest_blended_stop_mid" ->
      Oracles.suggestBlended("data the", Seq("data"), Some("the"),
        "linear", 10, 10),
    // …a separator-terminated 'the' drops, leaving the bare MUST term
    "q_suggest_blended_stop_sep" ->
      Oracles.suggestBlended("data the ", Seq("data"), None,
        "linear", 10, 10),
    "q_suggest_freetext" -> Oracles.freeText("order", "s", 6),
    "q_percolate" -> Oracles.percolate(2),
    "q_termvectors" -> Oracles.termVectors(Seq(40L, 41L, 42L)),
    "q_complex_phrase" -> Oracles.spanNearWildcard("ord%", "merge", 4, K),
    "q_complex_phrase_not" ->
      Oracles.complexPhraseNot("order", "sort", "merge", 1, K),
    "q_surround_w" -> Oracles.spanNearOrdered(Seq("order", "sort"), 2, K),
    "q_surround_infix" ->
      Oracles.spanNearOrdered(Seq("order", "sort", "merge"), 3, K),
    "q_surround_n" -> Oracles.surroundUnordered2("order", "merge", 3, K),
    "q_sweetspot_term" -> Oracles.sweetSpotTerm("spark", K),
    "q_sweetspot_or2" -> Oracles.sweetSpotOr(Seq("dup", "vector"), K),
    "q_join_score_avg" -> Oracles.joinScored("spark", "avg", K),
    "q_join_score_max" -> Oracles.joinScored("batch", "max", K),
    "q_join_score_total" -> Oracles.joinScored("order", "total", K),
    "q_join_score_min" -> Oracles.joinScored("key", "min", K),
    "q_classify_nb" -> Oracles.classifyNb("order sort merge fast key"),
    "q_classify_knn" -> Oracles.classifyKnn(
      "order sort merge fast key table scan row", K, 6, 1, 5),
    "q_classify_perceptron" -> Oracles.classifyPerceptron(
      "order sort merge fast key", batchSize = 3, modN = 16, rem = 3),
    "q_bm25_sort_field" -> Oracles.sortByField("spark", "n_chars", K, asc = false),
    "q_simple_parsed" -> Oracles.andOr("dup", Seq("spark", "key"), K),
    "q_simple_neg" -> Oracles.not("batch", "spark", K),
    "q_sort_multi" -> Oracles.sortMulti("spark", K),
    "q_expr_sort" -> Oracles.exprSort("spark", K),
    "q_expr_rescore" -> Oracles.exprRescore("batch", 20, K),
    "q_bm25_count" -> Oracles.countNot("batch", "spark"),
    "q_field_value" -> Oracles.sortByField("spark", "n_chars", K, asc = true),
    "q_bm25_mlt" -> Oracles.mlt(42L, 2, 5, 15, K),
    "q_bm25_rescore" -> Oracles.rescoreTerm("batch", "spark", 2f, 20, K),
    "q_highlight" -> Oracles.highlightTerm("spark", K),
    "q_fvh_fragments" -> Oracles.fvhFragments("spark", 5, 60, 3),
    "q_fvh_batch" -> Oracles.fvhFragments("spark", 5, 60, 3),
    "q_highlight_batch" -> Oracles.highlightTerm("batch", 100),
    "q_mlt_terms" -> Oracles.mltTermsBatch(40L, 44L, 2, 5, 10))
}
