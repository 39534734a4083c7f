package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._

/** Inverted-index build pipeline (the IndexWriter/DWPT/flush analog,
  * SURVEY.md §2.3, §3.4), Spark-first:
  *
  *   stage 1  tokenize + per-doc norms/sha256 (DefaultIndexingChain
  *            analog: `index/DefaultIndexingChain.java:350-417`)
  *   stage 2  (term, docId, tf) via explode + hash aggregate — Catalyst's
  *            partial/final agg replaces TermsHashPerField byte slices
  *            (`index/TermsHashPerField.java:145-183`)
  *   stage 3  term/collection stats (ExactStatsCache-by-construction,
  *            `solr/core/.../search/stats/ExactStatsCache.java:86-103`)
  *   stage 4  segment encode: shuffle by (term, salt), sort within
  *            partitions by (term, salt, docId) — the Catalyst-planned
  *            sort replacing FreqProxTermsWriter's hand sort
  *            (`index/FreqProxTermsWriter.java:82-98`) — then blob-encode
  *            per posting list (`Lucene50PostingsWriter.java:214-247`)
  *
  * Skew: terms with df ≥ saltThreshold are salted by docId into
  * numDocShards sub-lists (salt = docId mod S); cold terms keep one list
  * (salt = -1). Because the salt is a pure function of docId, salted
  * sub-lists of different hot terms stay docId-aligned, so intersection /
  * union per shard is correct (the CompositeIdRouter hash-routing analog,
  * `solr/solrj/.../common/cloud/CompositeIdRouter.java:35-69`).
  */
object IndexBuilder {

  final case class BuildConfig(
      numBuckets: Int = 32,
      numDocShards: Int = 8,
      saltThreshold: Long = 50000L,
      tokenizer: String = "simple",
      bm25: graft.search.BM25Params = graft.search.BM25.Default,
      /** Index per-occurrence positions (IndexOptions
        * DOCS_AND_FREQS_AND_POSITIONS analog) — required for segment-path
        * phrase queries; false = DOCS_AND_FREQS (smaller index).
        */
      positions: Boolean = true,
      /** Index-time sort (`IndexWriterConfig.setIndexSort` /
        * SortingMergePolicy analog): declares that docIds were assigned
        * in ASCENDING order of this field, so sort-by-field queries on it
        * can early-terminate after k matches per shard
        * (EarlyTerminatingSortingCollector,
        * `lucene/core/.../search/EarlyTerminatingSortingCollector.java:30`).
        * Enforced at build: requires docIdCol = None and sortCols to lead
        * with this field.
        */
      indexSort: Option[String] = None,
      /** Store per-doc token character bounds on the row store (the
        * `..._AND_OFFSETS` analog, doc-major: a delta-varint
        * `tokenBounds` binary column) so highlighting decodes offsets
        * instead of re-tokenizing stored content. 'simple' tokenizer
        * only.
        */
      offsets: Boolean = false,
      /** Per-occurrence payloads (the `..._AND_PAYLOADS` IndexOptions
        * analog): Some(policyName) stores one float per position in a
        * `payBlocks` sidecar aligned with the positions sidecar — see
        * [[graft.core.Analysis.Payloads]] for the policies ("pos",
        * "len", "delimited:<c>"). Requires positions = true.
        */
      payloads: Option[String] = None,
      /** Per-bucket bloom filter over the segment's terms
        * (BloomFilteringPostingsFormat analog, `lucene/codecs/.../bloom/
        * BloomFilteringPostingsFormat.java:83-120`): term-stat lookups
        * answer "definitely absent" from a few KB of bits without
        * touching the stats relation — the reference's fail-fast for
        * primary-key-style lookups.
        */
      bloom: Boolean = false,
      /** Index-time norm encoder — the Similarity that determines the
        * stored norm byte, as in Lucene. "default" = byte315(1/√length)
        * (serves BM25's quantized length AND Classic's fieldNorm);
        * "sweetspot:<min>:<max>:<steep>" = byte315 of SweetSpot's plateau
        * lengthNorm (`lucene/misc SweetSpotSimilarity.java:137-152`) —
        * such an index scores ONLY under SimSweetSpot (loudly enforced at
        * query time).
        */
      normSim: String = "default")

  /** Parse "sweetspot:min:max:steep" → (min, max, steep). */
  def sweetSpotParams(normSim: String): (Int, Int, Float) = {
    val parts = normSim.split(":")
    require(parts.length == 4 && parts(0) == "sweetspot",
      s"bad normSim '$normSim' (want sweetspot:<min>:<max>:<steep>)")
    (parts(1).toInt, parts(2).toInt, parts(3).toFloat)
  }

  /** Encode flat (start, len) token bounds as delta varints (start gaps
    * are non-negative — bounds ascend).
    */
  def encodeTokenBounds(bounds: Array[Int]): Array[Byte] = {
    val b = new PostingsCodec.ByteBuf(bounds.length + 4)
    var prevStart = 0
    var i = 0
    while (i < bounds.length) {
      b.writeVInt(bounds(i) - prevStart)
      prevStart = bounds(i)
      b.writeVInt(bounds(i + 1))
      i += 2
    }
    b.toArray
  }

  def decodeTokenBounds(blob: Array[Byte]): Array[Int] = {
    val r = new PostingsCodec.ByteReader(blob)
    val out = new scala.collection.mutable.ArrayBuilder.ofInt()
    var prevStart = 0
    while (r.pos < blob.length) {
      prevStart += r.readVInt()
      out += prevStart
      out += r.readVInt()
    }
    out.result()
  }

  /** Stable term → bucket hash (murmur3; must be identical on driver for
    * partition pruning and in executors at build time).
    */
  def bucketOf(term: String, numBuckets: Int): Int =
    (scala.util.hashing.MurmurHash3.stringHash(term, 0x12af3de) & Int.MaxValue) % numBuckets

  /** Filesystem-safe, ORDER-PRESERVING termdict partition key: the
    * term's first UTF-16 code unit as 4-digit lowercase hex ("a" →
    * "0061", 世 → "4e16"). Hex order equals code-unit order, so
    * prefix/range partition hints still prune correctly — and the
    * `pfx=` directory name never leaves ASCII (a raw CJK character
    * there is unmappable on non-UTF-8 default filesystems, which is
    * exactly how the q_cjk_* gates first failed).
    */
  def termPfx(term: String): String = f"${term.charAt(0).toInt}%04x"
  private[graft] val termPfxUdf =
    udf((t: String) => termPfx(t))

  /** CharFilter stage selector for '!'-composed tokenizer specs
    * ("htmlstrip!simple", "mapping=ph=>f!simple",
    * "replace=[0-9]+=> !simple"): stages left of the final tokenizer are
    * text→text transforms applied in order, the reference's CharFilter
    * chain (`analysis/common/.../charfilter/`). For `replace=`, the LAST
    * "=>" splits regex from replacement (regexes may contain "=>" in
    * classes; replacements may not).
    */
  def charFilterFn(spec: String): String => String = spec match {
    case "htmlstrip" => Analysis.htmlStrip
    case m if m.startsWith("mapping=") =>
      val rules = m.stripPrefix("mapping=").split(",").toSeq.map { p =>
        val i = p.indexOf("=>")
        require(i > 0, s"mapping rule needs src=>dst: $p")
        (p.substring(0, i), p.substring(i + 2))
      }
      Analysis.mappingFilter(rules)
    case r if r.startsWith("replace=") =>
      val body = r.stripPrefix("replace=")
      val i = body.lastIndexOf("=>")
      require(i > 0, s"replace needs <regex>=><repl>: $r")
      Analysis.patternReplaceFilter(body.substring(0, i), body.substring(i + 2))
    case other => sys.error(s"unknown char filter: $other")
  }

  def tokenizerFn(name: String): String => Array[String] =
    if (name.contains("!")) {
      val stages = name.split("!")
      val base = tokenizerFn(stages.last)
      val filters = stages.dropRight(1).map(charFilterFn)
      (s: String) => base(filters.foldLeft(s)((acc, f) => f(acc)))
    } else tokenizerFn0(name)

  private def tokenizerFn0(name: String): String => Array[String] = name match {
    case "simple" => Analysis.simpleTokens
    case "code" => Analysis.codeTokens
    case "standard" => Analysis.standardTokens
    // UAX#29-subset word break (CJK single-char/run semantics) — for
    // multilingual training-data corpora
    case "unicode" => Analysis.unicodeTokens
    // "pattern:<regex>" — PatternTokenizer, split on the regex
    case p if p.startsWith("pattern:") =>
      Analysis.patternTokens(p.stripPrefix("pattern:"))
    // "shingle:<n>" — word n-grams over simple tokens (ShingleFilter,
    // outputUnigrams=false): phrase-as-term fields
    case sh if sh.startsWith("shingle:") =>
      val n = sh.stripPrefix("shingle:").toInt
      (s: String) => Analysis.shingles(Analysis.simpleTokens(s), n)
    // "edge:<min>:<max>" — simple tokens expanded to edge n-grams
    // (search-as-you-type index)
    case e if e.startsWith("edge:") =>
      val Array(_, lo, hi) = e.split(":", 3)
      (s: String) => Analysis.edgeNGrams(Analysis.simpleTokens(s), lo.toInt, hi.toInt)
    // PorterStemFilter over the simple chain (the reference's
    // analysis/en — stems conflate inflected forms into one term)
    case "porter" =>
      (s: String) => Analysis.simpleTokens(s).map(graft.core.Porter.stem)
    // ASCIIFoldingFilter before the simple chain: folding precedes
    // tokenization so accented letters join their ASCII runs
    case "asciifold" =>
      (s: String) => Analysis.simpleTokens(graft.core.AsciiFold.fold(s))
    // ScandinavianFoldingFilter (åÅäæÄÆ→a, öÖøØ→o, double-vowel
    // collapse) ahead of the simple chain — see
    // graft.core.Scandinavian.fold for the transcribed one-pass law
    case "scandfold" =>
      (s: String) => Analysis.simpleTokens(graft.core.Scandinavian.fold(s))
    // ScandinavianNormalizationFilter (ä→æ, ö→ø, aa/ao→å, ae→æ,
    // oe/oo→ø): output keeps national letters, so it rides the unicode
    // tokenizer
    case "scandnorm" =>
      (s: String) =>
        Analysis.unicodeTokens(graft.core.Scandinavian.normalize(s))
    // PatternKeywordMarkerFilter + PorterStemFilter (`miscellaneous/
    // PatternKeywordMarkerFilter.java:31-55`: a whole-term pattern match
    // sets KeywordAttribute, and `en/PorterStemFilter.java:48` skips
    // keyword tokens) — "porterexcept:<regex>"
    case pe if pe.startsWith("porterexcept:") =>
      val re = pe.stripPrefix("porterexcept:").r.pattern
      (s: String) => Analysis.simpleTokens(s).map(t =>
        if (re.matcher(t).matches()) t else graft.core.Porter.stem(t))
    // "phonetic:<encoder>[:<maxCodeLen>]" — PhoneticFilter inject=false
    // (replace) over the simple chain; encoders resolve per-JVM so the
    // closure ships to executors carrying only the spec string
    case ph if ph.startsWith("phonetic:") =>
      val spec = ph.stripPrefix("phonetic:")
      graft.core.Phonetic.encoderFor(spec) // validate eagerly on the driver
      (s: String) =>
        Analysis.simpleTokens(s).map(graft.core.Phonetic.replaced(spec, _))
    // CJKBigramFilter over the standard chain (`analysis/cjk/
    // CJKBigramFilter.java:40-230`, CJKAnalyzer defaults): adjacent-CJK
    // codepoint bigrams, lone CJK unigrams, lowercase-alnum words —
    // see Analysis.cjkBigramTokens for the transcribed law
    case "cjkbigram" => Analysis.cjkBigramTokens
    // KeywordTokenizer (`analysis/core/KeywordTokenizer.java:28`): the
    // whole field value is ONE token, verbatim — string/id fields
    case "keyword" =>
      (s: String) => if (s.isEmpty) Array.empty[String] else Array(s)
    // WhitespaceTokenizer (`analysis/core/WhitespaceTokenizer.java:29`
    // via CharTokenizer: token chars = !isWhitespace): case and
    // punctuation PRESERVED, split on java whitespace
    case "whitespace" =>
      (s: String) => s.split("\\s+").filter(_.nonEmpty)
    // LowerCaseTokenizer (`analysis/core/LowerCaseTokenizer.java:31` =
    // LetterTokenizer + lowercase): LETTER runs only — digits split,
    // unlike the engine's alnum "simple" chain
    case "letter" =>
      (s: String) => {
        val out = Array.newBuilder[String]
        val sb = new StringBuilder
        var i = 0
        while (i < s.length) {
          val ch = s.charAt(i)
          if (Character.isLetter(ch)) sb.append(Character.toLowerCase(ch))
          else if (sb.nonEmpty) { out += sb.toString; sb.clear() }
          i += 1
        }
        if (sb.nonEmpty) out += sb.toString
        out.result()
      }
    // "stemoverride:<w=>repl;…>" — StemmerOverrideFilter ahead of
    // PorterStemFilter (`analysis/common/.../miscellaneous/
    // StemmerOverrideFilter.java:55-75`): a dictionary hit replaces the
    // term AND sets KeywordAttribute, so the downstream stemmer skips it
    // (`en/PorterStemFilter.java:48` stems only non-keyword tokens) —
    // in a flat chain that is exactly "override wins, else Porter".
    case so if so.startsWith("stemoverride:") =>
      val rules: Map[String, String] = so.stripPrefix("stemoverride:")
        .split(";").filter(_.nonEmpty).map { r =>
          val i = r.indexOf("=>")
          require(i > 0, s"stemoverride rule needs w=>repl: $r")
          (r.substring(0, i), r.substring(i + 2))
        }.toMap
      (s: String) => Analysis.simpleTokens(s)
        .map(t => rules.getOrElse(t, graft.core.Porter.stem(t)))
    // "truncate:<n>" — TruncateTokenFilter (`miscellaneous/
    // TruncateTokenFilter.java:38-44`: non-keyword tokens longer than n
    // are cut to their first n chars; UTF-16 units like the reference's
    // setLength). Conflates terms, so df/norms shift.
    case tr if tr.startsWith("truncate:") =>
      val n = tr.stripPrefix("truncate:").toInt
      require(n >= 1, s"truncate length must be >= 1: $tr")
      (s: String) => Analysis.simpleTokens(s)
        .map(t => if (t.length > n) t.substring(0, n) else t)
    // "limittok:<n>" — LimitTokenCountFilter (`miscellaneous/
    // LimitTokenCountFilter.java:32-60`, factory default
    // consumeAllTokens=false): only the first n tokens are indexed; the
    // norm length is the SURVIVING count (FieldInvertState sees only
    // emitted tokens).
    case lt if lt.startsWith("limittok:") =>
      val n = lt.stripPrefix("limittok:").toInt
      require(n >= 1, s"limittok count must be >= 1: $lt")
      (s: String) => Analysis.simpleTokens(s).take(n)
    case other => sys.error(s"unknown tokenizer: $other")
  }

  /** Position-aware tokenizers: (norm length, (term, position) pairs) —
    * for analyzers that emit position-increment-0 overlay tokens, which
    * a flat `String => Array[String]` (position = array index) cannot
    * express. Norm length counts REAL positions only (the reference's
    * discountOverlaps, BM25Similarity.java:146-150); sumTotalTermFreq
    * still counts every posting occurrence including overlays (it is the
    * Σtf aggregate over the postings relation).
    *
    *   "commongrams"          CommonGramsFilter over simple tokens with
    *                          the reference StandardAnalyzer stop set
    *   "commongrams:<w;w;…>"  same with an explicit common-word set
    */
  def posTokenizerFn(name: String): Option[String => (Int, Array[(String, Int)])] = {
    if (name.contains("!")) {
      val stages = name.split("!")
      val filters = stages.dropRight(1).map(charFilterFn)
      return posTokenizerFn(stages.last).map { base =>
        (s: String) => base(filters.foldLeft(s)((acc, f) => f(acc)))
      }
    }
    def cg(common: Set[String]): String => (Int, Array[(String, Int)]) =
      (s: String) => {
        val toks = Analysis.simpleTokens(s)
        (toks.length, Analysis.commonGrams(toks, common))
      }
    if (name == "commongrams") Some(cg(Analysis.EnglishStopWords))
    else if (name.startsWith("commongrams:"))
      Some(cg(name.stripPrefix("commongrams:")
        .split(";").filter(_.nonEmpty).toSet))
    else if (name.startsWith("synonym:")) {
      // "synonym:a,b;c=>d" — index-time SynonymFilter overlays
      // (expansion groups keep the original + posInc-0 synonyms;
      // directed rules replace). Parsed once, shipped in the closure.
      val rules = Analysis.parseSynonymRules(name.stripPrefix("synonym:"))
      Some((s: String) => {
        val toks = Analysis.simpleTokens(s)
        (toks.length, Analysis.synonymTokens(toks, rules))
      })
    }
    else if (name.startsWith("syngraph:")) {
      // full multi-word SynonymFilter sausage (greedy FST match,
      // stacked outputs, replace compaction) — norm length is the
      // POSITION count, which replace rules shrink and past-the-end
      // outputs grow, unlike the single-word "synonym:" overlay
      val rules = Analysis.parseSynGraphRules(name.stripPrefix("syngraph:"))
      Some((s: String) =>
        Analysis.synonymSausage(Analysis.simpleTokens(s), rules))
    }
    else if (name == "porter_inject") {
      // KeywordRepeatFilter → PorterStemFilter → RemoveDuplicates — the
      // reference's stem-plus-original recipe (`miscellaneous/
      // KeywordRepeatFilter.java:28`, `en/PorterStemFilter.java`): the
      // original token, then its stem at posInc 0 when it differs
      // (RemoveDuplicatesTokenFilter collapses the equal case).
      Some((s: String) => {
        val toks = Analysis.simpleTokens(s)
        val out = toks.zipWithIndex.flatMap { case (t, i) =>
          val st = graft.core.Porter.stem(t)
          if (st != t) Seq((t, i), (st, i)) else Seq((t, i))
        }
        (toks.length, out)
      })
    }
    else if (name.startsWith("ngram:")) {
      // NGramTokenFilter (`analysis/common/.../ngram/NGramTokenFilter
      // .java:44-84`): every code-point n-gram of each token for
      // n ∈ [min, max], position-start-major then size (all at the
      // source token's position — first gram keeps its posInc, the rest
      // are 0); tokens shorter than min are REMOVED by the wrapping
      // CodepointCountFilter, so norms count surviving tokens only.
      val Array(_, lo0, hi0) = name.split(":", 3)
      val (lo, hi) = (lo0.toInt, hi0.toInt)
      require(lo >= 1 && lo <= hi, s"bad ngram bounds in '$name'")
      Some((s: String) => {
        val toks = Analysis.simpleTokens(s)
        val kept = toks.zipWithIndex
          .filter { case (t, _) => t.codePointCount(0, t.length) >= lo }
        val out = kept.flatMap { case (t, i) =>
          val n = t.codePointCount(0, t.length)
          for {
            p <- 0 to n - lo
            g <- lo to math.min(hi, n - p)
          } yield {
            val a = t.offsetByCodePoints(0, p)
            val b = t.offsetByCodePoints(a, g)
            (t.substring(a, b), i)
          }
        }
        (kept.length, out)
      })
    }
    else if (name == "revwild" || name == "revwild_noorig") {
      // ReversedWildcardFilter (`solr/core/.../analysis/
      // ReversedWildcardFilter.java:53-79`): every token re-emitted
      // reversed with the U+0001 marker landing first; withOriginal=true
      // ("revwild", the factory default) keeps the original at the same
      // position (the reversed form carries the real posInc, the saved
      // original replays at posInc 0). Norm length counts real positions
      // (discountOverlaps); Σtf and the dictionary double — exactly the
      // reference's documented cost ("this filter doubles the number of
      // tokens", ReversedWildcardFilter.java:33-35).
      val withOriginal = name == "revwild"
      Some((s: String) => {
        val toks = Analysis.simpleTokens(s)
        val out = toks.zipWithIndex.flatMap { case (t, i) =>
          val rev = graft.core.ReversedWildcard.reverseToken(t)
          if (withOriginal) Seq((rev, i), (t, i)) else Seq((rev, i))
        }
        (toks.length, out)
      })
    }
    else if (name.startsWith("phonetic_inject:")) {
      // PhoneticFilter inject=true (`PhoneticFilter.java:57-70`): the
      // phonetic form is emitted first at the original position, then
      // the original at position-increment 0. Norm length counts real
      // positions only (discountOverlaps); Σtf counts both.
      val spec = name.stripPrefix("phonetic_inject:")
      graft.core.Phonetic.encoderFor(spec)
      Some((s: String) => {
        val toks = Analysis.simpleTokens(s)
        val out = toks.zipWithIndex.flatMap { case (t, i) =>
          graft.core.Phonetic.injectCode(spec, t) match {
            case Some(c) => Seq((c, i), (t, i))
            case None => Seq((t, i))
          }
        }
        (toks.length, out)
      })
    }
    else if (name.startsWith("pathhier")) {
      // PathHierarchyTokenizer (`analysis/common/.../path/
      // PathHierarchyTokenizer.java:110-170`, skip = 0): the WHOLE field
      // is one path; emitted tokens are every prefix ending just before
      // each delimiter plus the full value ("/a/b/c" → "/a", "/a/b",
      // "/a/b/c"; a doubled or trailing delimiter yields the "a/" form —
      // traced from the endDelimiter/resultToken loop). First token
      // posInc 1, the rest 0 (:115-118) — ALL prefixes share one
      // position, so the norm length is 1 (discountOverlaps) while Σtf
      // counts every prefix. No lowercasing, no length cap — the
      // reference tokenizer touches neither.
      val delim =
        if (name == "pathhier") '/'
        else {
          val d = name.stripPrefix("pathhier:")
          require(d.length == 1, s"pathhier wants one delimiter char: $name")
          d.charAt(0)
        }
      Some((s: String) => {
        if (s.isEmpty) (0, Array.empty[(String, Int)])
        else {
          val cuts = (1 until s.length).filter(i => s.charAt(i) == delim)
          val toks = (cuts.map(i => s.substring(0, i)) :+ s).toArray
          (1, toks.map(t => (t, 0)))
        }
      })
    }
    else if (name.startsWith("capture:")) {
      // PatternCaptureGroupTokenFilter, preserveOriginal = true
      // (`analysis/common/.../pattern/PatternCaptureGroupTokenFilter
      // .java:107-175`): the original token first, then per find() region
      // each capture group in order as a posInc-0 overlay; empty groups
      // and a group equal to the WHOLE original are skipped (:119-121 —
      // the preserveOriginal whole-token guard). Norm counts originals.
      val re = name.stripPrefix("capture:").r.pattern
      Some((s: String) => {
        val toks = Analysis.simpleTokens(s)
        val out = Array.newBuilder[(String, Int)]
        var i = 0
        while (i < toks.length) {
          val t = toks(i)
          out += ((t, i))
          val m = re.matcher(t)
          while (m.find()) {
            var g = 1
            while (g <= m.groupCount()) {
              val st = m.start(g)
              val en = m.end(g)
              if (st != en && !(st == 0 && en == t.length))
                out += ((t.substring(st, en), i))
              g += 1
            }
          }
          i += 1
        }
        (toks.length, out.result())
      })
    }
    else if (name.startsWith("keepword:")) {
      // KeepWordFilter (`miscellaneous/KeepWordFilter.java:33-44` via
      // FilteringTokenFilter): only listed words survive; position
      // increments accumulate over dropped tokens (`util/
      // FilteringTokenFilter.java:60-75`), so surviving tokens keep
      // their ORIGINAL positions and removals leave HOLES — an exact
      // phrase does not match across a removed word. Norm length counts
      // survivors only (FieldInvertState sees emitted tokens).
      val keep = name.stripPrefix("keepword:")
        .split(";").filter(_.nonEmpty).toSet
      require(keep.nonEmpty, s"keepword needs a word list: $name")
      Some((s: String) => {
        val kept = Analysis.simpleTokens(s).zipWithIndex
          .filter { case (t, _) => keep(t) }
        (kept.length, kept)
      })
    }
    else if (name.startsWith("lengthfilter:")) {
      // LengthFilter (`miscellaneous/LengthFilter.java:39-49`): keep
      // tokens whose char length (UTF-16 units, termAtt.length) lands in
      // [min, max]; same FilteringTokenFilter hole law as keepword.
      val Array(_, lo0, hi0) = name.split(":", 3)
      val (lo, hi) = (lo0.toInt, hi0.toInt)
      require(lo >= 0 && lo <= hi, s"bad lengthfilter bounds: $name")
      Some((s: String) => {
        val kept = Analysis.simpleTokens(s).zipWithIndex
          .filter { case (t, _) => t.length >= lo && t.length <= hi }
        (kept.length, kept)
      })
    }
    else None
  }

  /** Logical (pre-segment) index: the relational core every query path and
    * the DuckDB oracle share.
    */
  final case class LogicalIndex(
      docs: DataFrame,      // docId, length, normByte, contentSha256, meta…
      postings: DataFrame,  // term, docId, tf, pos[], normByte
      termStats: DataFrame, // term, df, ttf
      collStats: CollStats,
      cfg: BuildConfig,
      contentCol: String = "content",
      /** DataFrames pinned by buildLogical (for caller cleanup). */
      cached: Seq[DataFrame] = Nil) {
    def unpersistCached(): Unit = cached.foreach(CachePins.release)

    /** Memoized term → (df, ttf) lookups against `termStats` — the
      * ExactStatsCache analog for the DataFrame path (stats of an
      * immutable index never change; re-collecting the same pruned scan
      * per query is pure driver overhead). None memoizes absent terms.
      */
    private val statsMemo =
      scala.collection.concurrent.TrieMap.empty[String, Option[(Long, Long)]]
    def statsFor(terms: Set[String]): Map[String, (Long, Long)] = {
      import org.apache.spark.sql.functions.col
      val missing = terms.filterNot(statsMemo.contains)
      if (missing.nonEmpty) {
        val got = termStats
          .filter(col("term").isin(missing.toSeq: _*))
          .select("term", "df", "ttf").collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
        missing.foreach(t => statsMemo.put(t, got.get(t)))
      }
      terms.flatMap(t => statsMemo(t).map(t -> _)).toMap
    }
  }

  /** Build the logical index from a corpus.
    *
    * @param corpus     input rows
    * @param contentCol column holding the text to index
    * @param docIdCol   pre-existing unique Long id column, or None to
    *                   assign deterministic docIds from sortCols
    * @param sortCols   total order for docId assignment (input_hint:
    *                   (repo, path, commit))
    */
  /** Build the logical index with ONE tokenize pass materialized: the
    * postings Dataset is persisted and every downstream consumer (stats,
    * segment encode, collStats) reuses it. A second tokenize happens only
    * if the caller materializes `docs` (norms/sha table).
    *
    * @param persistPostings cache the postings across the downstream jobs
    *                        (true for builds; false for one-shot plans)
    */
  def buildLogical(corpus: DataFrame, contentCol: String,
      docIdCol: Option[String], sortCols: Seq[String],
      cfg: BuildConfig = BuildConfig(),
      persistPostings: Boolean = true): LogicalIndex = {
    val spark = corpus.sparkSession
    val posTok = posTokenizerFn(cfg.tokenizer)
    val tok = if (posTok.isDefined) null else tokenizerFn(cfg.tokenizer)
    val normUdf =
      if (cfg.normSim == "default") udf((len: Int) => Norms.normByte(len))
      else {
        val (mn, mx, st) = sweetSpotParams(cfg.normSim)
        udf((len: Int) => Norms.sweetSpotNormByte(len, mn, mx, st))
      }
    // ONE tokenize pass per row produces BOTH the doc-side stats (length →
    // norm byte) and the postings with per-term POSITIONS: every token of
    // a doc lives in one input row, so (term → positions) needs no shuffle
    // at all — the DWPT-local TermsHash of the reference
    // (`index/TermsHashPerField.java:145-183`) done per row; tf falls out
    // as positions.length. Output: (fieldLength, [(term, positions)…]).
    val docPosUdf =
      if (posTok.isEmpty) udf { (s: String) =>
        val toks = tok(s)
        val m = new java.util.LinkedHashMap[String, scala.collection.mutable.ArrayBuilder.ofInt]()
        var i = 0
        while (i < toks.length) {
          var b = m.get(toks(i))
          if (b == null) {
            b = new scala.collection.mutable.ArrayBuilder.ofInt()
            m.put(toks(i), b)
          }
          b += i
          i += 1
        }
        val out = new Array[(String, Array[Int])](m.size)
        val it = m.entrySet().iterator()
        var j = 0
        while (it.hasNext) {
          val e = it.next()
          out(j) = (e.getKey, e.getValue.result())
          j += 1
        }
        (toks.length, out)
      }
      else udf { (s: String) =>
        // position-aware analyzer: emission order keeps per-term
        // positions ascending (an overlay gram never precedes the
        // unigram opening its position), so the grouped lists encode
        // directly; norm length = real positions only
        val pf = posTok.get
        val (len, pairs) = pf(s)
        val m = new java.util.LinkedHashMap[String, scala.collection.mutable.ArrayBuilder.ofInt]()
        var i = 0
        while (i < pairs.length) {
          val (t, p) = pairs(i)
          var b = m.get(t)
          if (b == null) {
            b = new scala.collection.mutable.ArrayBuilder.ofInt()
            m.put(t, b)
          }
          b += p
          i += 1
        }
        val out = new Array[(String, Array[Int])](m.size)
        val it = m.entrySet().iterator()
        var j = 0
        while (it.hasNext) {
          val e = it.next()
          out(j) = (e.getKey, e.getValue.result())
          j += 1
        }
        (len, out)
      }
    // payload-producing variant (only compiled into the plan when
    // cfg.payloads is set — the hot payload-free path keeps the slim UDF
    // above): the policy may rewrite the term (delimited filter), so
    // grouping keys on the REWRITTEN term; payloads stay aligned with the
    // term's position list. Field length = token count, as above.
    val payPolicy = cfg.payloads.map(Analysis.Payloads.policy)
    val docPosPayUdf = udf { (s: String) =>
      val pf = payPolicy.get
      val toks = tok(s)
      final case class Acc(
          pos: scala.collection.mutable.ArrayBuilder.ofInt,
          pay: scala.collection.mutable.ArrayBuilder.ofFloat)
      val m = new java.util.LinkedHashMap[String, Acc]()
      var i = 0
      while (i < toks.length) {
        val (term, payload) = pf(toks(i), i)
        var a = m.get(term)
        if (a == null) {
          a = Acc(new scala.collection.mutable.ArrayBuilder.ofInt(),
            new scala.collection.mutable.ArrayBuilder.ofFloat())
          m.put(term, a)
        }
        a.pos += i
        a.pay += payload
        i += 1
      }
      val out = new Array[(String, Array[Int], Array[Float])](m.size)
      val it = m.entrySet().iterator()
      var j = 0
      while (it.hasNext) {
        val e = it.next()
        out(j) = (e.getKey, e.getValue.pos.result(), e.getValue.pay.result())
        j += 1
      }
      (toks.length, out)
    }

    // an index-sort declaration is only honest when docIds come from the
    // sortCols assignment and the sort leads with the declared field
    cfg.indexSort.foreach { f =>
      require(docIdCol.isEmpty && sortCols.headOption.contains(f),
        s"indexSort='$f' requires docIdCol=None and sortCols to lead with '$f'")
    }
    // docId assignment; docCount falls out of the counting pass for free
    val (withId, docCountKnown, ranged) = docIdCol match {
      case Some(c) =>
        (corpus.withColumn("docId", col(c).cast("long")), None, None)
      case None =>
        val (df, n, r) = DocIds.withDocIdsCounted(corpus, sortCols)
        (df, Some(n), Some(r))
    }
    // ONE shared (optionally cached) intermediate backs BOTH the docs
    // table and the postings — tokenize + sha run exactly once per row
    val withBounds =
      if (!cfg.offsets) withId
      else {
        require(cfg.tokenizer == "simple",
          "offsets are supported for the 'simple' tokenizer only")
        val boundsUdf = udf((s: String) =>
          encodeTokenBounds(graft.core.Analysis.simpleTokenBounds(s)))
        withId.withColumn("tokenBounds", boundsUdf(col(contentCol)))
      }
    cfg.payloads.foreach { _ =>
      require(cfg.positions,
        "payloads require positions (BuildConfig.positions = true)")
      require(posTok.isEmpty,
        "payload policies compose with flat tokenizers only " +
          s"(tokenizer=${cfg.tokenizer} is position-aware)")
    }
    val perDoc0 = withBounds
      .withColumn("_p",
        if (payPolicy.isEmpty) docPosUdf(col(contentCol))
        else docPosPayUdf(col(contentCol)))
      .withColumn("length", col("_p._1"))
      .withColumn("normByte", normUdf(col("length")))
      .withColumn("contentSha256", sha2(col(contentCol), 256))
    val perDoc = if (persistPostings) CachePins.acquire(perDoc0) else perDoc0

    val docs = perDoc.drop("_p")
    val posCol =
      if (cfg.positions) col("_kv._2")
      else array().cast("array<int>")
    val payCols =
      if (payPolicy.isEmpty) Nil else Seq(col("_kv._3").as("pay"))
    val postings = perDoc
      .select(col("docId"), col("normByte"), explode(col("_p._2")).as("_kv"))
      .select(Seq(col("docId"), col("normByte"), col("_kv._1").as("term"),
        size(col("_kv._2")).as("tf"), posCol.as("pos")) ++ payCols: _*)

    val termStats0 = postings.groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("ttf"))
    // termStats is consumed 3× per build (sumTTF, termstats.write, hot-set
    // collect) — pin it so the 15M-row aggregation runs once
    val termStats = if (persistPostings) CachePins.acquire(termStats0) else termStats0

    // collection stats: sumTTF from the (cached) postings aggregate;
    // docCount from the docId pass (or one cheap count of the raw corpus
    // — no tokenize either way)
    spark.sparkContext.setJobDescription("graft:stats.sumTtf")
    val sumTtf =
      try termStats.agg(coalesce(sum("ttf"), lit(0L))).collect()(0).getLong(0)
      finally spark.sparkContext.setJobDescription(null)
    val docCount = docCountKnown.getOrElse(withId.count())

    LogicalIndex(docs, postings, termStats,
      CollStats(docCount, sumTtf), cfg, contentCol,
      cached = if (persistPostings) ranged.toSeq ++ Seq(perDoc, termStats) else Nil)
  }

  // ---------- segment encode ----------

  /** Encode-shuffle row. `posB` carries the doc's PRE-ENCODED positions
    * payload (delta varints, [[PostingsCodec.encodeDocPositions]]) when
    * positions are on — tf falls out as the varint count — or a single
    * varint(tf) when they're off. Both the 4-bytes-per-position int array
    * and the 8-byte tf field would otherwise ride the build's one
    * data-sized shuffle; at 100 TB that shuffle IS the build, so every
    * byte per posting row is ~2% of cluster traffic.
    */
  final case class PRow(term: String, salt: Int,
      docId: Long, normByte: Byte, posB: Array[Byte])

  /** Payload-build shuffle row: `payB` = the doc's pre-encoded payload
    * chunk (tf × 4-byte floats, [[PostingsCodec.encodeDocPayloads]]).
    * A SEPARATE row type so the payload-free hot path's shuffle rows
    * carry no extra 8-byte UnsafeRow field.
    */
  final case class PRowP(term: String, salt: Int,
      docId: Long, normByte: Byte, posB: Array[Byte], payB: Array[Byte])

  /** Per-bucket lineage aggregate, folded INTO the encode pass via an
    * accumulator — no read-back of the written segments (the round-1 shape
    * re-read every blob from disk just to aggregate counts). Updates
    * happen in the write job's ResultStage, where Spark counts each
    * partition's accumulator exactly once per successful task.
    */
  final case class BucketLineage(postingLists: Long, postingCount: Long,
      bytesWritten: Long, contentDigest: Long)

  final class LineageAcc extends org.apache.spark.util.AccumulatorV2[
      (Int, BucketLineage), Map[Int, BucketLineage]] {
    private val m = scala.collection.mutable.HashMap.empty[Int, BucketLineage]
    override def isZero: Boolean = m.isEmpty
    override def copy(): LineageAcc = {
      val a = new LineageAcc
      a.m ++= m
      a
    }
    override def reset(): Unit = m.clear()
    override def add(v: (Int, BucketLineage)): Unit = {
      val (b, l) = v
      val prev = m.getOrElse(b, BucketLineage(0, 0, 0, 0L))
      m(b) = BucketLineage(prev.postingLists + l.postingLists,
        prev.postingCount + l.postingCount,
        prev.bytesWritten + l.bytesWritten,
        prev.contentDigest ^ l.contentDigest)
    }
    override def merge(other: org.apache.spark.util.AccumulatorV2[
        (Int, BucketLineage), Map[Int, BucketLineage]]): Unit =
      other.value.foreach { case (b, l) => add((b, l)) }
    override def value: Map[Int, BucketLineage] = m.toMap
  }

  /** 64-bit posting-list digest: the xxhash64(term, salt, docBlocks)
    * seed-chain (seed 42 → term utf8 bytes → salt int → blob bytes), same
    * shape as the SQL `xxhash64` the merge-side lineage uses. Order-
    * independent under xor-combine across a bucket's lists.
    */
  def rowDigest(term: String, salt: Int, docBlocks: Array[Byte]): Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.Platform
    var h = 42L
    val tb = term.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    h = XXH64.hashUnsafeBytes(tb, Platform.BYTE_ARRAY_OFFSET, tb.length, h)
    h = XXH64.hashInt(salt, h)
    h = XXH64.hashUnsafeBytes(docBlocks, Platform.BYTE_ARRAY_OFFSET,
      docBlocks.length, h)
    h
  }

  /** Encode the logical postings into segment rows. One shuffle keyed by
    * (term, salt) — hot terms spread over numDocShards reducers — then a
    * within-partition sort and a streaming group-encode (no per-task
    * materialization beyond one posting list).
    */
  def encodeSegments(ix: LogicalIndex, numPartitions: Int = 0,
      bucketGroup: Option[(Int, Int)] = None,
      lineage: Option[LineageAcc] = None): Dataset[SegmentPosting] = {
    val spark = ix.postings.sparkSession
    import spark.implicits._
    val cfg = ix.cfg
    val nb = cfg.numBuckets
    val bucketUdf = udf((t: String) => bucketOf(t, nb))
    // Partition the encode shuffle by DATA volume, not core count: with
    // parts = 2×cores a 2-core run sorts multi-GB partitions and goes
    // spill-bound while an 8-core run doesn't — measuring the spill path,
    // not the engine. ~sumTTF/2.7 distinct postings; target ≤~2M rows per
    // reducer so the within-partition sort stays in execution memory.
    val parts =
      if (numPartitions > 0) numPartitions
      else {
        val base = spark.sessionState.conf.numShufflePartitions
        val bySize = (ix.collStats.sumTotalTermFreq / 5000000L + 1).toInt
        math.max(base, math.min(bySize, 2048))
      }

    // Salting decision: hot terms (df ≥ threshold) are FEW by definition —
    // broadcast the hot set instead of joining the full stats table (saves
    // a whole shuffle of the postings by term)
    val hotTerms: Set[String] = ix.termStats
      .filter(col("df") >= cfg.saltThreshold)
      .select("term").collect().map(_.getString(0)).toSet
    val bHot = spark.sparkContext.broadcast(hotTerms)
    val saltUdf = udf((t: String, docId: Long) =>
      if (bHot.value.contains(t)) (docId % cfg.numDocShards).toInt else -1)

    val salted0 = ix.postings.withColumn("bucket", bucketUdf(col("term")))
    // group filter BEFORE the encode shuffle: a resume run only shuffles
    // the missing groups' postings
    val salted1 = bucketGroup match {
      case Some((g, n)) => salted0.filter(pmod(col("bucket"), lit(n)) === g)
      case None => salted0
    }
    // map-side slimming: positions → per-doc delta-varint bytes (or a
    // lone varint(tf) when positions are off) BEFORE the shuffle
    val posBCol =
      if (cfg.positions)
        // Array[Int] parameter: decodes the catalyst array primitively
        // (bulk toIntArray) — a Seq[Int] parameter boxes every position
        // (~2 positions/row × 45M rows at 600k docs), measured ~25% extra
        // CPU on the shuffle map side
        udf((ps: Array[Int]) =>
          PostingsCodec.encodeDocPositions(ps)).apply(col("pos"))
      else
        udf((tf: Int) => {
          val b = new PostingsCodec.ByteBuf(2); b.writeVInt(tf); b.toArray
        }).apply(col("tf"))
    // shuffle key (bucket, salt): a task owns whole buckets (one output
    // file per bucket instead of buckets×tasks small files) while hot
    // terms still spread across numDocShards reducers via their salt.
    // `bucket` rides as a PARTITIONING EXPRESSION only (bucketOf(term)
    // evaluated at shuffle write) — not a row field: at 100 TB the
    // encode shuffle IS the build, and the derivable int + its 8-byte
    // UnsafeRow slot was ~11% of every row (guide §2.3, shuffle fewer
    // bytes). The reduce side recomputes it per (term, salt) group.
    val withPos = cfg.positions
    if (cfg.payloads.isEmpty) {
      val salted = salted1
        .withColumn("salt", saltUdf(col("term"), col("docId")))
        .select(col("term"), col("salt"), col("docId"),
          col("normByte"), posBCol.as("posB"))
        .as[PRow]
      salted
        .repartition(parts, bucketUdf(col("term")), col("salt"))
        .sortWithinPartitions(col("term"), col("salt"), col("docId"))
        .mapPartitions { it => encodePartition(it, withPos, nb, lineage) }
    } else {
      // payload build: the shuffle additionally carries the doc's
      // pre-encoded payload chunk, and the reduce side assembles the
      // payloads sidecar with the same block-concat as positions
      val payBCol = udf((ps: Array[Float]) =>
        PostingsCodec.encodeDocPayloads(ps)).apply(col("pay"))
      val salted = salted1
        .withColumn("salt", saltUdf(col("term"), col("docId")))
        .select(col("term"), col("salt"), col("docId"),
          col("normByte"), posBCol.as("posB"), payBCol.as("payB"))
        .as[PRowP]
      salted
        .repartition(parts, bucketUdf(col("term")), col("salt"))
        .sortWithinPartitions(col("term"), col("salt"), col("docId"))
        .mapPartitions { it => encodePartitionP(it, nb, lineage) }
    }
  }

  /** Stream consecutive (term, salt) groups into encoded blobs. */
  private def encodePartition(it: Iterator[PRow],
      withPositions: Boolean, numBuckets: Int,
      lineage: Option[LineageAcc] = None): Iterator[SegmentPosting] =
    new Iterator[SegmentPosting] {
      private val buf = it.buffered
      private val noPos = Array.empty[Byte]
      def hasNext: Boolean = buf.hasNext
      def next(): SegmentPosting = {
        val head = buf.head
        val docs = scala.collection.mutable.ArrayBuilder.make[Long]
        val tfs = scala.collection.mutable.ArrayBuilder.make[Int]
        val norms = scala.collection.mutable.ArrayBuilder.make[Byte]
        val poss =
          if (withPositions) scala.collection.mutable.ArrayBuilder.make[Array[Byte]]
          else null
        var maxTf = 0
        var n = 0
        while (buf.hasNext && buf.head.term == head.term && buf.head.salt == head.salt) {
          val r = buf.next()
          // positions on: posB = the doc's pre-encoded payload, tf = its
          // varint count; off: posB = varint(tf) alone
          val tf =
            if (withPositions) PostingsCodec.countVarints(r.posB)
            else new PostingsCodec.ByteReader(r.posB).readVInt()
          docs += r.docId; tfs += tf; norms += r.normByte
          if (poss != null) poss += r.posB
          if (tf > maxTf) maxTf = tf
          n += 1
        }
        val (body, skip) = PostingsCodec.encode(docs.result(), tfs.result(), norms.result())
        val posBlob =
          if (poss == null) noPos
          else PostingsCodec.concatPositionBlocks(poss.result())
        val bucket = bucketOf(head.term, numBuckets)
        lineage.foreach(_.add((bucket, BucketLineage(1L, n.toLong,
          body.length.toLong + skip.length + posBlob.length,
          rowDigest(head.term, head.salt, body)))))
        SegmentPosting(bucket, head.term, head.salt, n, maxTf, body,
          skip, posBlob, noPos)
      }
    }

  /** [[encodePartition]] for payload builds (positions always on):
    * assembles the payloads sidecar alongside the positions sidecar from
    * the per-doc pre-encoded chunks.
    */
  private def encodePartitionP(it: Iterator[PRowP], numBuckets: Int,
      lineage: Option[LineageAcc]): Iterator[SegmentPosting] =
    new Iterator[SegmentPosting] {
      private val buf = it.buffered
      def hasNext: Boolean = buf.hasNext
      def next(): SegmentPosting = {
        val head = buf.head
        val docs = scala.collection.mutable.ArrayBuilder.make[Long]
        val tfs = scala.collection.mutable.ArrayBuilder.make[Int]
        val norms = scala.collection.mutable.ArrayBuilder.make[Byte]
        val poss = scala.collection.mutable.ArrayBuilder.make[Array[Byte]]
        val pays = scala.collection.mutable.ArrayBuilder.make[Array[Byte]]
        var maxTf = 0
        var n = 0
        while (buf.hasNext && buf.head.term == head.term && buf.head.salt == head.salt) {
          val r = buf.next()
          val tf = PostingsCodec.countVarints(r.posB)
          docs += r.docId; tfs += tf; norms += r.normByte
          poss += r.posB; pays += r.payB
          if (tf > maxTf) maxTf = tf
          n += 1
        }
        val (body, skip) = PostingsCodec.encode(docs.result(), tfs.result(), norms.result())
        val posBlob = PostingsCodec.concatPositionBlocks(poss.result())
        val payBlob = PostingsCodec.concatPositionBlocks(pays.result())
        val bucket = bucketOf(head.term, numBuckets)
        lineage.foreach(_.add((bucket, BucketLineage(1L, n.toLong,
          body.length.toLong + skip.length + posBlob.length + payBlob.length,
          rowDigest(head.term, head.salt, body)))))
        SegmentPosting(bucket, head.term, head.salt, n, maxTf, body,
          skip, posBlob, payBlob)
      }
    }

  // ---------- persisted index ----------

  /** On-disk layout:
    *   dir/manifest.json         committed snapshot (two-phase: tmp+rename,
    *                             the prepareCommit/commit analog,
    *                             `index/IndexWriter.java:2938,3148`)
    *   dir/docs/                 parquet docs table
    *   dir/termstats/            parquet term stats (bucket column for pruning)
    *   dir/segments/grp=G/bucket=B/   parquet segment rows
    *   dir/lineage/grp=G/        per-group lineage rows
    */
  final case class Manifest(
      snapshotId: String,
      docCount: Long,
      sumTotalTermFreq: Long,
      numBuckets: Int,
      numDocShards: Int,
      saltThreshold: Long,
      tokenizer: String,
      k1: Float,
      b: Float,
      completedGroups: Seq[Int],
      numGroups: Int,
      positions: Boolean = false,
      /** Field whose ascending order == docId order (index-time sort);
        * None on merged indexes — disjoint docId ranges interleave the
        * field values, so the merged whole is no longer sorted.
        */
      indexSort: Option[String] = None,
      /** Row store carries a `tokenBounds` offsets column (see
        * BuildConfig.offsets).
        */
      offsets: Boolean = false,
      /** Payload policy name when segments carry a payloads sidecar
        * (BuildConfig.payloads); None = no payloads.
        */
      payloads: Option[String] = None,
      /** Index carries a per-bucket bloom sidecar (BuildConfig.bloom). */
      bloom: Boolean = false,
      /** Index-time norm encoder (BuildConfig.normSim). */
      normSim: String = "default")

  object Manifest {
    def toJson(m: Manifest): String = {
      s"""{"snapshotId":"${m.snapshotId}","docCount":${m.docCount},""" +
        s""""sumTotalTermFreq":${m.sumTotalTermFreq},"numBuckets":${m.numBuckets},""" +
        s""""numDocShards":${m.numDocShards},"saltThreshold":${m.saltThreshold},""" +
        s""""tokenizer":"${m.tokenizer}","k1":${m.k1},"b":${m.b},""" +
        s""""positions":${m.positions},"offsets":${m.offsets},""" +
        m.indexSort.map(f => s""""indexSort":"$f",""").getOrElse("") +
        m.payloads.map(p => s""""payloads":"$p",""").getOrElse("") +
        (if (m.bloom) """"bloom":true,""" else "") +
        (if (m.normSim == "default") ""
         else s""""normSim":"${m.normSim}",""") +
        s""""completedGroups":[${m.completedGroups.mkString(",")}],"numGroups":${m.numGroups}}"""
    }
    def fromJson(s: String): Manifest = {
      def str(k: String) = s""""$k":"([^"]*)"""".r.findFirstMatchIn(s).get.group(1)
      def num(k: String) = s""""$k":(-?[0-9.eE+]+)""".r.findFirstMatchIn(s).get.group(1)
      val groups = s""""completedGroups":\\[([0-9,]*)\\]""".r
        .findFirstMatchIn(s).get.group(1)
      val positions = """"positions":(true|false)""".r
        .findFirstMatchIn(s).exists(_.group(1) == "true")
      val offsets = """"offsets":(true|false)""".r
        .findFirstMatchIn(s).exists(_.group(1) == "true")
      val indexSort = """"indexSort":"([^"]*)"""".r
        .findFirstMatchIn(s).map(_.group(1))
      val payloads = """"payloads":"([^"]*)"""".r
        .findFirstMatchIn(s).map(_.group(1))
      val bloom = """"bloom":(true|false)""".r
        .findFirstMatchIn(s).exists(_.group(1) == "true")
      val normSim = """"normSim":"([^"]*)"""".r
        .findFirstMatchIn(s).map(_.group(1)).getOrElse("default")
      Manifest(str("snapshotId"), num("docCount").toLong,
        num("sumTotalTermFreq").toLong, num("numBuckets").toInt,
        num("numDocShards").toInt, num("saltThreshold").toLong,
        str("tokenizer"), num("k1").toFloat, num("b").toFloat,
        if (groups.isEmpty) Nil else groups.split(",").map(_.toInt).toSeq,
        num("numGroups").toInt, positions, indexSort, offsets, payloads,
        bloom, normSim)
    }
  }

  /** Write a full index to `dir`, resumable at group granularity: buckets
    * are processed in `numGroups` independent jobs; a group already listed
    * in the manifest is skipped on re-run (UpdateLog-replay analog,
    * `solr/core/.../update/UpdateLog.java:815`).
    *
    * @param failAfterGroup test hook: throw after committing this many
    *                       groups (simulates a mid-build crash)
    */
  def writeIndex(ix: LogicalIndex, dir: String, snapshotId: String,
      numGroups: Int = 4, failAfterGroup: Int = Int.MaxValue,
      verbose: Boolean = false): Manifest = {
    val spark = ix.docs.sparkSession
    import spark.implicits._
    val cfg = ix.cfg
    val fs = new java.io.File(dir)
    fs.mkdirs()
    def timed[A](name: String)(f: => A): A = {
      spark.sparkContext.setJobDescription(s"graft:$name")
      val t0 = System.nanoTime()
      val a =
        try f
        finally spark.sparkContext.setJobDescription(null)
      if (verbose)
        System.err.println(f"[writeIndex] $name%-24s ${(System.nanoTime() - t0) / 1e9}%7.2fs")
      a
    }

    val existing = readManifest(dir).filter(m =>
      m.snapshotId == snapshotId && m.numGroups == numGroups)
    var done: Set[Int] = existing.map(_.completedGroups.toSet).getOrElse(Set.empty)

    // The docs/lineage/termstats writes are independent of the segment
    // encode (all read the same cached intermediate) — run them as
    // concurrent Spark jobs so the encode's shuffle overlaps them instead
    // of serializing behind them. The manifest is only committed after
    // they complete, so resume semantics are unchanged (no manifest ⇒
    // nothing trustworthy on disk).
    var sideJobs: Seq[scala.concurrent.Future[Unit]] = Nil
    import scala.concurrent.ExecutionContext.Implicits.global
    if (existing.isEmpty) {
      sideJobs = Seq(scala.concurrent.Future {
      timed("docs.write")(
        ix.docs.write.mode("overwrite").parquet(s"$dir/docs"))
      // per-chunk input sha256 lineage (north rule "input sha256s"):
      // chunk = docId >> 12 (≤4096 rows, bounded collect), chunk hash =
      // sha256 over the '\n'-joined sorted per-row content sha256s — a
      // restart or a re-run over the same snapshot must reproduce these
      // exactly (asserted in SegmentSpec). Aggregated from the cached docs
      // frame, NOT a read-back of the just-written parquet (the round-1
      // shape re-read the whole table, content column included).
      timed("docs.lineage")(ix.docs
        .select(col("docId"), col("contentSha256"))
        .groupBy(shiftright(col("docId"), 12).as("chunk"))
        .agg(count(lit(1)).as("docCount"),
          sha2(concat_ws("\n", sort_array(collect_list(col("contentSha256")))), 256)
            .as("inputSha256"))
        .withColumn("snapshotId", lit(snapshotId))
        .write.mode("overwrite").parquet(s"$dir/lineage/docs"))
      }, scala.concurrent.Future {
      // one file per bucket: without the repartition every input
      // partition writes a file into every bucket it touches
      timed("termstats.write")(ix.termStats
        .withColumn("bucket", udf((t: String) => bucketOf(t, cfg.numBuckets)).apply(col("term")))
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/termstats"))
      // sorted term dictionary for beyond-driver vocabularies (the
      // BlockTree terms-dict analog): directory-partitioned by first
      // character (pfx) for partition pruning, RANGE-partitioned + sorted
      // by term within, so pushed prefix/range predicates also skip whole
      // row groups via footer min/max — a wildcard query at 10¹²-file
      // vocabulary reads only the files its literal prefix maps to,
      // instead of scanning the hash-bucketed stats table
      timed("termdict.write")(ix.termStats
        .select("term", "df", "ttf")
        .withColumn("pfx", termPfxUdf(col("term")))
        .repartitionByRange(math.max(cfg.numBuckets, 1), col("term"))
        .sortWithinPartitions("term")
        .write.mode("overwrite").partitionBy("pfx").parquet(s"$dir/termdict"))
      if (cfg.bloom)
        timed("bloom.write")(writeBloomSidecar(spark, ix.termStats,
          dir, cfg.numBuckets, ix.collStats.docCount))
      })
    }
    def awaitSideJobs(): Unit = if (sideJobs.nonEmpty) {
      sideJobs.foreach(f =>
        scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
      sideJobs = Nil
      commitManifest(dir, mkManifest(ix, snapshotId, Nil, numGroups))
    }

    // one cached copy backs all group jobs: either buildLogical already
    // persisted the per-doc intermediate (postings are a narrow explode of
    // it — re-persisting would double the memory), or we persist here
    val alreadyPersisted = ix.cached.nonEmpty ||
      ix.postings.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val posted = if (alreadyPersisted) ix.postings else ix.postings.persist()
    val ixp = ix.copy(postings = posted)
    try {
      var committed = 0
      var g = 0
      while (g < numGroups) {
        if (!done.contains(g)) {
          // lineage folds into the encode job via an accumulator: per-
          // bucket counts/bytes + order-independent xor of per-list
          // xxhash64 digests — no second pass over the written segments
          val acc = new LineageAcc
          spark.sparkContext.register(acc, s"lineage-grp-$g")
          timed(s"segments grp=$g")(
            encodeSegments(ixp, bucketGroup = Some((g, numGroups)),
              lineage = Some(acc))
              .toDF()
              .write.mode("overwrite").partitionBy("bucket")
              .parquet(s"$dir/segments/grp=$g"))
          timed(s"lineage grp=$g") {
            val rows = acc.value.toSeq.sortBy(_._1).map { case (b, l) =>
              (b, l.postingLists, l.postingCount, l.bytesWritten,
                l.contentDigest, snapshotId)
            }
            spark.createDataFrame(rows.toSeq)
              .toDF("bucket", "postingLists", "postingCount",
                "bytesWritten", "contentDigest", "snapshotId")
              .coalesce(1)
              .write.mode("overwrite").parquet(s"$dir/lineage/grp=$g")
          }
          done += g
          committed += 1
          awaitSideJobs() // docs/termstats must be on disk before a commit
          commitManifest(dir, mkManifest(ix, snapshotId, done.toSeq.sorted, numGroups))
          if (committed >= failAfterGroup)
            throw new RuntimeException(s"injected failure after group $g")
        }
        g += 1
      }
      awaitSideJobs() // zero-group edge (all groups already done)
    } finally {
      // the side futures must never outlive this call: if the encode threw
      // before awaitSideJobs, a returning caller (or an immediate same-JVM
      // retry) would otherwise race a still-running docs/termstats
      // overwrite of the same paths — drain them (swallowing their own
      // failures so they can't mask the primary exception)
      sideJobs.foreach { f =>
        try scala.concurrent.Await.ready(f,
          scala.concurrent.duration.Duration.Inf)
        catch { case _: Throwable => () }
      }
      if (!alreadyPersisted) posted.unpersist()
    }
    readManifest(dir).get
  }

  /** Per-bucket bloom sidecar write (shared by writeIndex and merge):
    * bucket-partitioned streaming build — no per-bucket term list ever
    * materializes; the output is numBuckets rows of (bucket, bloomSize,
    * bit words), each right-sized to the factory's 0.1 saturation.
    */
  private[index] def writeBloomSidecar(spark: SparkSession, terms: DataFrame,
      dir: String, numBuckets: Int, docCount: Long): Unit = {
    import spark.implicits._
    val bucketUdf = udf((t: String) => bucketOf(t, numBuckets))
    terms.select(col("term"))
      .withColumn("bucket", bucketUdf(col("term")))
      .select(col("bucket"), col("term")).as[(Int, String)]
      .repartition(math.max(numBuckets, 1), col("bucket"))
      .mapPartitions { it =>
        val sets = scala.collection.mutable.LinkedHashMap
          .empty[Int, BloomCodec.FuzzySet]
        it.foreach { case (b, t) =>
          sets.getOrElseUpdate(b, BloomCodec.FuzzySet.forDocCount(docCount))
            .add(t)
        }
        sets.iterator.map { case (b, s0) =>
          val s = s0.downsize(0.1f)
          (b, s.bloomSize, s.bits)
        }
      }.toDF("bucket", "bloomSize", "bits")
      .write.mode("overwrite").parquet(s"$dir/bloom")
  }

  private def mkManifest(ix: LogicalIndex, snapshotId: String,
      done: Seq[Int], numGroups: Int): Manifest =
    Manifest(snapshotId, ix.collStats.docCount, ix.collStats.sumTotalTermFreq,
      ix.cfg.numBuckets, ix.cfg.numDocShards, ix.cfg.saltThreshold,
      ix.cfg.tokenizer, ix.cfg.bm25.k1, ix.cfg.bm25.b, done, numGroups,
      ix.cfg.positions, ix.cfg.indexSort, ix.cfg.offsets, ix.cfg.payloads,
      ix.cfg.bloom, ix.cfg.normSim)

  /** Two-phase commit: write tmp, atomic rename over manifest.json. */
  def commitManifest(dir: String, m: Manifest): Unit = {
    val tmp = java.nio.file.Paths.get(dir, "manifest.json.tmp")
    val fin = java.nio.file.Paths.get(dir, "manifest.json")
    java.nio.file.Files.writeString(tmp, Manifest.toJson(m))
    java.nio.file.Files.move(tmp, fin,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  def readManifest(dir: String): Option[Manifest] = {
    val p = java.nio.file.Paths.get(dir, "manifest.json")
    if (java.nio.file.Files.exists(p))
      Some(Manifest.fromJson(java.nio.file.Files.readString(p)))
    else None
  }
}
