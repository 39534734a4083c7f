package graft.search

import scala.reflect.ClassTag
import graft.core.Hit
import graft.index.PostingsCodec
import graft.search.SegmentSearcher.SegRow

/** Cross-field dismax retrieval — the edismax field-qualified surface
  * (`solr/core/src/java/org/apache/solr/search/ExtendedDismaxQParser.java:40-120`,
  * qf handling via `SolrPluginUtils.parseFieldBoosts` and
  * `DisMaxQParser.parseMinShouldMatch`):
  *
  *   - the user string is analyzed into terms
  *   - per term: a DisjunctionMaxQuery over the FIELDS' term scores, each
  *     field contributing its OWN BM25 (its own df, avgdl, norms — fields
  *     are separate inverted indexes over the SAME docId space) scaled by
  *     its qf boost
  *   - across terms: SHOULD with Solr mm
  *
  * Execution mirrors the single-field Searcher: driver-local scorer trees
  * through the blob cache when the estimated posting bytes fit, one
  * shard-task RDD job ([[SearchJobs.byShard]]) when they don't (hot
  * lists never centralize; [[perShard]] picks);
  * salted terms shard by docId mod S exactly like single-field queries, so
  * per-shard streams from different fields stay docId-aligned.
  */
object MultiField {

  /** One queryable field: a Searcher over that field's index + qf boost +
    * the similarity that field scores under — the
    * PerFieldSimilarityWrapper surface
    * (`search/similarities/PerFieldSimilarityWrapper.java:35`: `get(field)`
    * picks the Similarity per field; under edismax qf each field's
    * TermWeight is built by ITS OWN sim and the per-term DisMax combines
    * them). Supported sims: BM25 (default, the only one that accepts a qf
    * boost), LMDirichlet, LMJM, DFR GB2, and the SimilarityBase family —
    * everything whose term weight is field-local. Classic is rejected:
    * its queryNorm is a whole-query global that does not compose
    * per-field.
    */
  final case class FieldRef(searcher: Searcher, boost: Float,
      sim: Int = SegmentSearcher.SimBm25)

  /** Parse a Solr qf spec: "text^2 title" → [(text, 2.0), (title, 1.0)]
    * (`SolrPluginUtils.parseFieldBoosts`).
    */
  def parseQf(qf: String): Seq[(String, Float)] =
    qf.trim.split("\\s+").toSeq.filter(_.nonEmpty).map { part =>
      part.split("\\^") match {
        case Array(f) => (f, 1f)
        case Array(f, b) => (f, b.toFloat)
        case _ => sys.error(s"bad qf entry: $part")
      }
    }

  /** Serializable per-query plan for the shard tasks. Weight keys are
    * (fieldIdx, term); caches indexed by fieldIdx. `sims(f)` selects the
    * field's similarity; `weights` carries the folded scalar weight (BM25
    * weightValue / LM μ·cp / JM λ·cp), `rawStats` the (df, ttf) pair the
    * DFR/SimilarityBase scorers compute from, and `maxDocs`/`avgdls`/
    * `sumTtfs` the per-field collection stats those formulas need.
    */
  final case class MfPlan(terms: Seq[String], qf: Seq[Int],
      weights: Map[(Int, String), Float], salted: Set[(Int, String)],
      pf: Seq[Int], pfWeights: Map[Int, Float],
      caches: Array[Array[Float]], numShards: Int, sharded: Boolean,
      tie: Float, msm: Int, k: Int,
      sims: Seq[Int] = Nil,
      rawStats: Map[(Int, String), (Long, Long)] = Map.empty,
      maxDocs: Seq[Long] = Nil, avgdls: Seq[Float] = Nil,
      sumTtfs: Seq[Long] = Nil) {
    def simOf(f: Int): Int =
      if (sims.isEmpty) SegmentSearcher.SimBm25 else sims(f)
  }

  /** edismax main query: analyze, per-term cross-field dismax (qf), Solr
    * mm, optional phrase-boost fields (pf — the whole analyzed query as
    * an exact phrase per pf field, dismax-combined, attached as SHOULD to
    * the matched set: score = float(main + phraseBoost-if-matched), the
    * outer BooleanQuery shape of `ExtendedDismaxQParser.java:230-260`
    * addShardPhraseQueries).
    */
  def searchDisMax(fields: Seq[FieldRef], input: String, mm: String = "1",
      tie: Float = 0f, k: Int = 10, pf: Seq[FieldRef] = Nil): Array[Hit] = {
    val terms = graft.core.Analysis.simpleTokens(input).toSeq
    require(terms.nonEmpty, "empty edismax query")
    val msm = math.max(1, QueryParser.resolveMm(mm, terms.length))
    dismaxTerms(fields, terms, msm, tie, k, pf)
  }

  def dismaxTerms(qfFields: Seq[FieldRef], terms: Seq[String], msm: Int,
      tie: Float, k: Int, pfFields: Seq[FieldRef] = Nil): Array[Hit] = {
    require(qfFields.nonEmpty)
    // the working field list: qf fields, then pf-only fields (a searcher
    // can appear in both; pf indexes by position in this combined list)
    val fields: Seq[FieldRef] = qfFields ++
      pfFields.filterNot(p => qfFields.exists(_.searcher eq p.searcher))
    val S = fields.head.searcher.index.manifest.numDocShards
    require(fields.forall(_.searcher.index.manifest.numDocShards == S),
      "all field indexes must share numDocShards (docId-aligned salting)")
    val termSet = terms.toSet
    val stats: Seq[Map[String, (Long, Long)]] =
      fields.map(_.searcher.stats(termSet))
    fields.foreach { fr =>
      require(fr.sim != SegmentSearcher.SimClassic,
        "per-field Classic is unsupported: queryNorm is a whole-query " +
          "global that does not compose per-field")
      require(fr.sim == SegmentSearcher.SimBm25 || fr.boost == 1f,
        s"qf boost on a non-BM25 field is unsupported (sim=${fr.sim}): " +
          "the folded weight sits inside the sim's log/model terms")
      require(fr.searcher.deletesArr.isEmpty,
        "multi-field search over an index with pending deletes is " +
          "unsupported — expunge first (Deletes.expunge)")
    }
    val weights = (for {
      (fr, i) <- fields.zipWithIndex if i < qfFields.size
      m = fr.searcher.index.manifest
      (t, (df, ttf)) <- stats(i)
    } yield (i, t) -> (fr.sim match {
      case SegmentSearcher.SimBm25 =>
        BM25.weightValue(BM25.idf(df, m.docCount),
          fr.searcher.index.bm25, fr.boost)
      // LM collection probability (`LMSimilarity.java:154-156`): μ·cp /
      // λ·cp with cp = (ttf+1F)/(sumTTF+1F), floats exactly as single-field
      case SegmentSearcher.SimLMDirichlet =>
        SegmentSearcher.LMMu *
          ((ttf.toFloat + 1f) / (m.sumTotalTermFreq.toFloat + 1f))
      case SegmentSearcher.SimLMJM =>
        SegmentSearcher.JMLambda *
          ((ttf.toFloat + 1f) / (m.sumTotalTermFreq.toFloat + 1f))
      // DFR/SimilarityBase: scorer computes from raw (df, ttf) below
      case _ => 0f
    })).toMap
    val rawStats = (for {
      (fr, i) <- fields.zipWithIndex if i < qfFields.size
      (t, (df, ttf)) <- stats(i)
    } yield (i, t) -> ((df, ttf))).toMap
    val salted = (for {
      (fr, i) <- fields.zipWithIndex
      m = fr.searcher.index.manifest
      (t, (df, _)) <- stats(i) if df >= m.saltThreshold
    } yield (i, t)).toSet
    // pf: phrase pseudo-term weight per pf field — float-accumulated idf
    // sum over the query terms IN ORDER (PhraseWeight semantics) × boost;
    // a field missing any term can never phrase-match (dropped); phrases
    // need ≥2 terms and a positions-bearing index
    // pf bookkeeping is keyed by Searcher reference identity: two pf refs
    // wrapping the SAME instance would collapse to one pfWeights entry
    // (last boost wins) and a qf/pf pair wrapping DISTINCT instances over
    // the same index dir would silently score as different fields — both
    // must fail loudly, not change scores (round-3 advisor finding).
    // Callers: reuse ONE Searcher instance per field across qf and pf.
    require(pfFields.map(p => System.identityHashCode(p.searcher)).distinct
      .size == pfFields.size,
      "pf fields must wrap distinct Searcher instances (one per field); " +
        "to boost one field twice, adjust its single pf boost instead")
    val pfIdx: Seq[(Int, Float)] =
      if (terms.size < 2) Nil
      else pfFields.flatMap { p =>
        val i = fields.indexWhere(_.searcher eq p.searcher)
        require(fields(i).sim == SegmentSearcher.SimBm25,
          "pf (phrase boost) requires a BM25-scored field: the phrase " +
            "weight model is BM25-specific")
        val m = p.searcher.index.manifest
        if (!m.positions) sys.error("pf requires an index built with positions")
        if (terms.forall(stats(i).contains)) Some((i, p.boost)) else None
      }
    val pfWeights = pfIdx.map { case (i, boost) =>
      var idfSum = 0f
      val m = fields(i).searcher.index.manifest
      terms.foreach(t => idfSum += BM25.idf(stats(i)(t)._1, m.docCount))
      i -> BM25.weightValue(idfSum, fields(i).searcher.index.bm25, boost)
    }.toMap
    val plan = MfPlan(terms, qfFields.indices, weights, salted,
      pfIdx.map(_._1), pfWeights,
      // per-field norm cache: the BM25 freq-independent denominators for
      // BM25 fields, the SimilarityBase NORM_TABLE (decoded quantized
      // lengths) for every other sim — same per-sim choice as single-field
      fields.map(fr =>
        if (fr.sim == SegmentSearcher.SimBm25) fr.searcher.cache
        else graft.core.Norms.NORM_TABLE).toArray,
      S, salted.nonEmpty, tie, msm, k,
      sims = fields.map(_.sim),
      rawStats = rawStats,
      maxDocs = fields.map(_.searcher.index.manifest.docCount),
      avgdls = fields.map { fr =>
        val m = fr.searcher.index.manifest
        if (m.sumTotalTermFreq <= 0) 1f
        else m.sumTotalTermFreq.toFloat / m.docCount.toFloat
      },
      sumTtfs = fields.map(_.searcher.index.manifest.sumTotalTermFreq))

    val estBytes = stats.map(st =>
      st.valuesIterator.map(_._1 * 4L + 64L).sum).sum
    val budget = fields.map(_.searcher.maxLocalBytes).min
    val parts = fields.zipWithIndex.map { case (fr, i) =>
      (fr.searcher, plan.terms.filter(stats(i).contains).toSet,
        (r: SegRow) => (i, r))
    }
    TopK.merge(perShard(parts, (fr: (Int, SegRow)) => fr._2.salt,
        estBytes <= budget, plan.sharded, plan.numShards, plan) { (s, it, p) =>
      execShardMf(s, it.toSeq.groupBy(fr => (fr._1, fr._2.term))
        .view.mapValues(_.map(_._2)).toMap, p)
    }, k)
  }

  /** `exec(shard, rows, plan)` over each shard's rows (a row whose salt is
    * ≥ 0 to that shard, any other to every shard; shard -1 takes every row
    * when unsharded): on the driver through the blob cache when `local`,
    * else in ONE shard-task job ([[SearchJobs.byShard]]). `parts` are
    * (field's Searcher, its present terms, the row's tag); a shard without
    * rows runs nothing.
    */
  private def perShard[V: ClassTag, P: ClassTag](
      parts: Seq[(Searcher, Set[String], SegRow => V)], salt: V => Int,
      local: Boolean, sharded: Boolean, numShards: Int, plan: P)(
      exec: (Int, Iterator[V], P) => Array[Hit]): Seq[Array[Hit]] = {
    val live = parts.filter(_._2.nonEmpty)
    if (live.isEmpty) Nil
    else if (local) {
      val rows = live.flatMap { case (s, ts, tag) => s.fetchRows(ts).map(tag) }
      if (rows.isEmpty) Nil
      else if (!sharded) Seq(exec(-1, rows.iterator, plan))
      else (0 until numShards).flatMap { s =>
        val rs = rows.filter(r => salt(r) == s || salt(r) < 0)
        if (rs.isEmpty) None else Some(exec(s, rs.iterator, plan))
      }
    } else {
      val sc = live.head._1.spark.sparkContext
      val rows = sc.union(live.map { case (s, ts, tag) =>
        SearchJobs.mapped(s.termRows(ts), tag)
      })
      SearchJobs.gather(SearchJobs.byShard(rows, salt, None, sharded,
          numShards, sc.broadcast(plan)) { (s, it, p) =>
        Iterator.single(exec(s, it, p))
      }).toSeq
    }
  }

  /** One shard's scorer tree: per term a DisMax over qf-field TermScorers
    * (cold rows mod-filtered in sharded mode, like the single-field path),
    * terms combined with DisjunctionScorer(msm); pf fields contribute an
    * optional phrase DisMax through ReqOptScorer (score-only SHOULD);
    * bounded top-k heap.
    */
  private[search] def execShardMf(shard: Int,
      blobs: Map[(Int, String), Seq[SegRow]], plan: MfPlan): Array[Hit] = {
    def shardRowsOf(key: (Int, String)): Seq[SegRow] =
      blobs.getOrElse(key, Nil)
        .filter(r => shard < 0 || r.salt == shard || r.salt < 0)
    val termScorers: Seq[DocScorer] = plan.terms.map { t =>
      val subs: Seq[DocScorer] = plan.qf.flatMap { f =>
        shardRowsOf((f, t)).map { r =>
          val it = PostingsCodec.iterator(r.docBlocks, r.skipData)
          val sim = plan.simOf(f)
          val ts: DocScorer =
            if (sim == SegmentSearcher.SimBm25)
              new TermScorer(it, plan.weights((f, t)), plan.caches(f))
            else if (sim == SegmentSearcher.SimLMDirichlet ||
                sim == SegmentSearcher.SimLMJM)
              new TermScorer(it, plan.weights((f, t)), plan.caches(f), sim)
            else if (sim == SegmentSearcher.SimDFR) {
              val (df, ttf) = plan.rawStats((f, t))
              new DFRTermScorer(it, df, ttf, plan.maxDocs(f),
                plan.avgdls(f), plan.caches(f))
            } else if (SegmentSearcher.isSimBase(sim)) {
              val (df, ttf) = plan.rawStats((f, t))
              new SimBaseTermScorer(it, df, ttf, plan.maxDocs(f),
                plan.avgdls(f), plan.caches(f), sim, plan.sumTtfs(f))
            } else sys.error(s"per-field sim $sim unsupported")
          if (shard >= 0 && r.salt < 0)
            new ModFilterScorer(ts, shard, plan.numShards)
          else ts
        }
      }
      if (subs.isEmpty) EmptyScorer
      else new DisMaxScorer(subs.toArray, plan.tie)
    }
    val live = termScorers.filterNot(_ eq EmptyScorer)
    val queue = new BoundedHitQueue(plan.k)
    if (live.isEmpty || live.size < plan.msm) return queue.sortedHits
    val main = new DisjunctionScorer(live.toArray, plan.msm)
    // pf: exact phrase per pf field over the positions sidecar, dismax'd
    val pfSubs: Seq[DocScorer] = plan.pf.flatMap { f =>
      val rows = plan.terms.map(t => shardRowsOf((f, t)))
      if (rows.exists(_.isEmpty)) None
      else {
        val rpt = {
          val r = Array.tabulate(plan.terms.size) { i =>
            val first = plan.terms.indexOf(plan.terms(i))
            if (plan.terms.count(_ == plan.terms(i)) > 1) first else -1
          }
          if (r.exists(_ >= 0)) r else null
        }
        val its = rows.map(_.head).map(r =>
          PostingsCodec.iterator(r.docBlocks, r.skipData, r.posBlocks)).toArray
        val ps = new PhraseScorer(its, plan.terms.indices.toArray, 0,
          plan.pfWeights(f), plan.caches(f), rpt)
        Some(
          if (shard >= 0 && rows.forall(_.head.salt < 0))
            new ModFilterScorer(ps, shard, plan.numShards)
          else ps)
      }
    }
    val root: DocScorer =
      if (pfSubs.isEmpty) main
      else new ReqOptScorer(main,
        if (pfSubs.size == 1) pfSubs.head
        else new DisMaxScorer(pfSubs.toArray, plan.tie))
    var d = root.nextDoc()
    while (d != DocScorer.NO_MORE) {
      queue.insert(d, root.score.toDouble)
      d = root.nextDoc()
    }
    queue.sortedHits
  }

  // ---------- FieldMaskingSpanQuery ----------

  /** Internal field/term separator for masked blob keys — cannot occur
    * in tokens (every tokenizer splits on control chars).
    */
  private val NS = '\u0000'

  /** Serializable masked-span plan for the shard tasks. */
  final case class MaskedPlan(root: Span, w: Float, cache: Array[Float],
      numShards: Int, sharded: Boolean, k: Int)

  /** Leaves with their field context: (field, term, scoring). A
    * SpanNot exclude side reads postings but carries no weight, like
    * the single-field law.
    */
  private def maskedLeaves(s: Span, f: String,
      scoring: Boolean): Seq[(String, String, Boolean)] = s match {
    case Span.Term(t) => Seq((f, t, scoring))
    case Span.Near(cs, _, _) => cs.flatMap(maskedLeaves(_, f, scoring))
    case Span.Or(cs) => cs.flatMap(maskedLeaves(_, f, scoring))
    case Span.Not(i, e, _, _) =>
      maskedLeaves(i, f, scoring) ++ maskedLeaves(e, f, scoring = false)
    case Span.First(i, _) => maskedLeaves(i, f, scoring)
    case Span.Containing(b, l) =>
      maskedLeaves(b, f, scoring) ++ maskedLeaves(l, f, scoring)
    case Span.Within(l, b) =>
      maskedLeaves(l, f, scoring) ++ maskedLeaves(b, f, scoring)
    case Span.PosRange(i, _, _) => maskedLeaves(i, f, scoring)
    case Span.FieldMasked(f2, i) => maskedLeaves(i, f2, scoring)
    case m: Span.Multi =>
      sys.error(s"multi-term queries inside masked span trees are " +
        s"unsupported (which field's dictionary would expand $m?)")
  }

  /** Rebind term leaves to namespaced keys ("field NUL term") for
    * non-primary fields; FieldMasked wrappers dissolve.
    */
  private def rebind(s: Span, f: String, primary: String): Span = s match {
    case Span.Term(t) => if (f == primary) Span.Term(t) else Span.Term(s"$f$NS$t")
    case Span.Near(cs, sl, io) => Span.Near(cs.map(rebind(_, f, primary)), sl, io)
    case Span.Or(cs) => Span.Or(cs.map(rebind(_, f, primary)))
    case Span.Not(i, e, pre, post) =>
      Span.Not(rebind(i, f, primary), rebind(e, f, primary), pre, post)
    case Span.First(i, end) => Span.First(rebind(i, f, primary), end)
    case Span.Containing(b, l) =>
      Span.Containing(rebind(b, f, primary), rebind(l, f, primary))
    case Span.Within(l, b) =>
      Span.Within(rebind(l, f, primary), rebind(b, f, primary))
    case Span.PosRange(i, s0, e0) => Span.PosRange(rebind(i, f, primary), s0, e0)
    case Span.FieldMasked(f2, i) => rebind(i, f2, primary)
    case m: Span.Multi => sys.error(s"unexpanded $m in masked span")
  }

  /** FieldMaskingSpanQuery execution
    * (`spans/FieldMaskingSpanQuery.java:62`): a span tree whose
    * [[Span.FieldMasked]] subtrees evaluate against OTHER fields'
    * positions (separate inverted indexes over the same docId space)
    * while composing as the primary field's spans. Matching the
    * reference's weight law: term statistics come from each term's OWN
    * field (SpanWeight collects the real Terms), the idf fold runs over
    * distinct scoring terms sorted by (field, term) — Lucene's
    * Term.compareTo order — and norms/avgdl are the PRIMARY field's
    * (`SpanWeight.getSimScorer` reads query.getField()'s norms).
    *
    * Restriction (documented, loudly enforced): the root must be a
    * Span.Near with at least one all-primary clause — the conjunction
    * guarantees a primary-field leaf is aligned on every match, which
    * is where the per-doc norm byte comes from in this engine's
    * inlined-norms layout. Position comparability across fields is the
    * caller's assertion, exactly as the reference documents.
    */
  def searchMaskedSpan(primaryField: String, fields: Map[String, Searcher],
      root: Span, k: Int, boost: Float = 1f): Array[Hit] = {
    require(fields.contains(primaryField), s"unknown primary $primaryField")
    val primary = fields(primaryField)
    val S = primary.index.manifest.numDocShards
    val N = primary.index.manifest.docCount
    fields.values.foreach { s =>
      require(s.index.manifest.numDocShards == S,
        "all field indexes must share numDocShards (docId-aligned salting)")
      require(s.index.manifest.docCount == N,
        "masked fields must index the same doc set (shared docId space)")
    }
    root match {
      case Span.Near(cs, _, _) =>
        require(cs.exists(c => maskedLeaves(c, primaryField, scoring = true)
            .forall(_._1 == primaryField)),
          "masked span root needs an all-primary Near clause (norm source)")
      case other => sys.error("masked span root must be a Span.Near " +
        s"(conjunction aligns a primary norm leaf on every match): $other")
    }

    val leaves = maskedLeaves(root, primaryField, scoring = true)
    val byField: Map[String, Set[String]] =
      leaves.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val stats: Map[String, Map[String, (Long, Long)]] =
      byField.map { case (f, ts) => f -> fields(f).stats(ts) }

    // weight: distinct scoring (field, term) sorted by (field, term) —
    // absent terms fold as +0; docCount is the shared doc space's
    var idfSum = 0f
    leaves.filter(_._3).map(l => (l._1, l._2)).distinct.sorted.foreach {
      case (f, t) =>
        stats(f).get(t).foreach { case (df, _) => idfSum += BM25.idf(df, N) }
    }
    val w = BM25.weightValue(idfSum, primary.index.bm25, boost)

    // every leaf must resolve or the conjunction can't match (absent
    // EXCLUDE terms are fine — compile drops them)
    val rewritten = rebind(root, primaryField, primaryField)

    val sharded = leaves.exists { case (f, t, _) =>
      stats(f).get(t).exists(_._1 >= fields(f).index.manifest.saltThreshold)
    }
    val plan = MaskedPlan(rewritten, w, primary.cache, S, sharded, k)

    val estBytes = stats.map { case (f, st) =>
      st.valuesIterator.map(_._1 * 4L + 64L).sum
    }.sum
    val budget = fields.values.map(_.maxLocalBytes).min
    val parts = byField.toSeq.map { case (f, ts) =>
      (fields(f), ts.filter(stats(f).contains),
        (r: SegRow) => r.copy(term = nsKey(f, r.term, primaryField)))
    }
    TopK.merge(perShard(parts, (r: SegRow) => r.salt, estBytes <= budget,
        plan.sharded, plan.numShards, plan) { (s, it, p) =>
      execShardMasked(s, it.map(r => r.term -> r).toMap, p)
    }, k)
  }

  private def nsKey(f: String, t: String, primary: String): String =
    if (f == primary) t else s"$f$NS$t"

  private[search] def execShardMasked(shard: Int,
      blobs: Map[String, SegRow], plan: MaskedPlan): Array[Hit] = {
    val queue = new BoundedHitQueue(plan.k)
    Spans.compile(plan.root, blobs, normLeaf = (t: String) =>
        t.indexOf(NS.toInt) < 0) match {
      case None => queue.sortedHits
      case Some((c, incIts)) =>
        require(incIts.nonEmpty,
          "masked span compiled without a primary norm leaf")
        val ss = new SpanTreeScorer(c, incIts, plan.w, plan.cache)
        val scorer: DocScorer =
          if (shard >= 0 && !Spans.shardRestricted(plan.root, blobs))
            new ModFilterScorer(ss, shard, plan.numShards)
          else ss
        var d = scorer.nextDoc()
        while (d != DocScorer.NO_MORE) {
          queue.insert(d, scorer.score.toDouble)
          d = scorer.nextDoc()
        }
        queue.sortedHits
    }
  }
}
