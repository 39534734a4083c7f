package graft.gate

import graft.core.Norms

/** Generates DuckDB oracle SQL that reproduces the engine's BM25 pipeline
  * BIT-EXACTLY: same tokenizer (lowercase ASCII alnum runs), same byte315
  * norm quantization (embedded as a length→quantized-length range table),
  * same 32-bit float arithmetic in the same operation order
  * (`BM25Similarity.java` §2.5 of SURVEY.md). DuckDB REAL ops are IEEE
  * float32, so every arithmetic step matches the JVM exactly; the only
  * libm call (ln) is immediately cast to float, absorbing last-ulp
  * implementation differences.
  */
object Oracles {

  /** Wrap in a float32 cast — the explicit (float) of the Java pipeline. */
  private def R(x: String): String = s"CAST($x AS REAL)"

  private val K1 = R("1.2")
  private val B = R("0.75")

  /** length → quantized-length lookup rows (lo, hi, qlen). */
  private lazy val normValuesRows: String =
    Norms.lengthRanges().map { case (lo, hi, q) =>
      s"($lo, ${if (hi == Long.MaxValue) "9223372036854775807" else hi}, $q)"
    }.mkString(", ")

  /** Tokenize + per-doc length CTEs shared by both similarities. */
  private def tokDlenCtes: String =
    s"""WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
  FROM documents
), tok AS (
  SELECT doc_id, term FROM toks WHERE term <> '' AND length(term) <= 255
), dlen AS (
  SELECT d.doc_id, count(t.term) AS len
  FROM documents d LEFT JOIN tok t ON d.doc_id = t.doc_id GROUP BY d.doc_id
)"""

  /** Shared CTE prologue over the `documents` table:
    * tok(doc_id, term), dn(doc_id, qlen REAL), av(n, avgdl REAL).
    */
  def prologue: String = tokDlenCtes + normAvSuffix

  /** Same prologue shape with SHINGLE terms (ShingleFilter
    * outputUnigrams=false, n = 2, separator " "): tok emits word
    * bigrams, dlen counts them — termCtes/finish compose unchanged.
    */
  def shinglePrologue: String =
    s"""WITH arr AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
    x -> x <> '' AND length(x) <= 255) AS a
  FROM documents
), tok AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(a) - 1),
    i -> a[i] || ' ' || a[i + 1])) AS term
  FROM arr WHERE len(a) >= 2
), dlen AS (
  SELECT d.doc_id, count(t.term) AS len
  FROM documents d LEFT JOIN tok t ON d.doc_id = t.doc_id GROUP BY d.doc_id
)""" + normAvSuffix

  private def normAvSuffix: String =
    s""", normq(lo, hi, qlen) AS (
  SELECT * FROM (VALUES $normValuesRows)
), dn AS (
  SELECT dlen.doc_id, ${R("normq.qlen")} AS qlen
  FROM dlen JOIN normq ON dlen.len BETWEEN normq.lo AND normq.hi
), av AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         ${R(s"(SELECT count(*) FROM tok) / CAST((SELECT count(*) FROM documents) AS DOUBLE)")} AS avgdl
)"""

  /** Prologue for a CommonGrams-analyzed field
    * (`analysis/common/.../commongrams/CommonGramsFilter.java:52`):
    * tok = every unigram PLUS a `prev_cur` gram wherever either side is
    * a common word (the posInc-0 overlay). Norm length (dlen → dn)
    * counts UNIGRAMS only — grams are position-increment-0 overlaps the
    * norm discounts (BM25Similarity.java:146-150) — while avgdl counts
    * the full postings stream including grams (sumTotalTermFreq is the
    * Σtf aggregate). `cgPosx(common)` adds gram+unigram positions (gram
    * at its FIRST word's position, the posInc-0 law) for phrase oracles.
    */
  def commonGramsPrologue(common: Seq[String]): String =
    s"""WITH arr AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
    x -> x <> '' AND length(x) <= 255) AS a
  FROM documents
), grams AS (
  SELECT doc_id, a[i] || '_' || a[i + 1] AS term, i - 1 AS pos
  FROM (SELECT doc_id, a,
          unnest(list_filter(generate_series(1, len(a) - 1),
            i -> ${cgCommonPred(common, "i")})) AS i
        FROM arr WHERE len(a) >= 2)
), uni AS (
  SELECT doc_id, unnest(a) AS term, generate_subscripts(a, 1) - 1 AS pos
  FROM arr
), tok AS (
  SELECT doc_id, term FROM uni UNION ALL SELECT doc_id, term FROM grams
), dlen AS (
  SELECT d.doc_id, count(u.term) AS len
  FROM documents d LEFT JOIN uni u ON d.doc_id = u.doc_id GROUP BY d.doc_id
)""" + normAvSuffix

  private def cgCommonPred(common: Seq[String], iVar: String): String = {
    val lst = "[" + common.map(lit).mkString(", ") + "]"
    s"list_contains($lst, a[$iVar]) OR list_contains($lst, a[$iVar + 1])"
  }

  /** Positioned CommonGrams stream (grams + unigrams) for phrase
    * matching over the gram field.
    */
  private def cgPosx: String =
    s""", posx AS (
  SELECT doc_id, term, pos FROM uni UNION ALL
  SELECT doc_id, term, pos FROM grams
)"""

  /** Single-token query over a CommonGrams field (a phrase whose query
    * filter reduced to one gram/unigram): plain BM25 term scoring
    * against the gram field's stats.
    */
  def commonGramsTerm(term: String, common: Seq[String], k: Int): String =
    commonGramsPrologue(common) + termCtes("a", term) + finish("sc_a", k)

  /** Exact phrase over a CommonGrams field: consecutive positions in the
    * gram stream (a gram occupies its first word's position, so mixed
    * gram/unigram chains still advance by exactly 1). freq = match
    * count, weight = float idf fold in QUERY ORDER over all constituent
    * terms (PhraseWeight's law — the conjunction makes every df > 0).
    */
  def commonGramsPhrase(terms: Seq[String], common: Seq[String],
      k: Int): String = {
    require(terms.size >= 2)
    val idfFold = terms.map { t =>
      idfExpr(s"(SELECT count(DISTINCT doc_id) FROM tok WHERE term = ${lit(t)})")
    }.reduce((x, y) => R(s"$x + $y"))
    val w = R(s"$idfFold * ($K1 + ${R("1")})")
    val fExpr = "CAST(p.freq AS REAL)"
    val score = R(s"${R(s"$w * $fExpr")} / ${R(s"$fExpr + ${cacheExpr("dn.qlen")}")}")
    val joins = terms.zipWithIndex.drop(1).map { case (t, i) =>
      s"JOIN posx p$i ON p$i.doc_id = p0.doc_id AND p$i.pos = p0.pos + $i AND p$i.term = ${lit(t)}"
    }.mkString("\n  ")
    commonGramsPrologue(common) + cgPosx +
      s""", fr AS (
  SELECT p0.doc_id, count(*) AS freq
  FROM posx p0
  $joins
  WHERE p0.term = ${lit(terms.head)}
  GROUP BY p0.doc_id
), res AS (
  SELECT p.doc_id, $score AS s FROM fr p JOIN dn ON p.doc_id = dn.doc_id
  WHERE p.freq > 0
)""" + finish("res", k)
  }

  /** Diversified top-k (DiversifiedTopDocsCollector law): BM25 term
    * scoring, then within-key rank ≤ maxPerKey under (score desc,
    * doc_id asc), then the plain top-k.
    */
  def diversifiedTerm(term: String, keyCol: String, maxPerKey: Int,
      k: Int): String =
    prologue + termCtes("a", term) +
      s""", keyed AS (
  SELECT s.doc_id, s.s,
    row_number() OVER (PARTITION BY d.$keyCol ORDER BY s.s DESC, s.doc_id) AS krnk
  FROM sc_a s JOIN documents d ON s.doc_id = d.doc_id
), res AS (
  SELECT doc_id, s FROM keyed WHERE krnk <= $maxPerKey
)""" + finish("res", k)

  // ---- Synonym-analyzed field ----

  /** Prologue over a SynonymFilter-analyzed `text` field
    * (`analysis/common/.../synonym/SynonymFilter.java`):
    * `expand` pairs (w → o) overlay o at every w position (original
    * kept, posInc 0); `directed` pairs REPLACE w with its outputs at
    * w's position. Norm length counts REAL positions (the original
    * token count — overlays are posInc-0, replacements occupy the
    * source position); avgdl counts the full postings stream including
    * overlays. Defines posx(doc_id, term, pos) for phrase oracles.
    */
  def synonymPrologue(expand: Seq[(String, String)],
      directed: Seq[(String, String)]): String = {
    def valuesOf(ps: Seq[(String, String)]): String =
      ps.map { case (w, o) => s"(${lit(w)}, ${lit(o)})" }.mkString(", ")
    val dirFilter =
      if (directed.isEmpty) ""
      else s" WHERE term NOT IN (SELECT w FROM dirm)"
    val dirArm =
      if (directed.isEmpty) ""
      else s"""
  UNION ALL
  SELECT u.doc_id, m.o AS term, u.pos FROM uni u JOIN dirm m ON u.term = m.w"""
    val expArm =
      if (expand.isEmpty) ""
      else s"""
  UNION ALL
  SELECT u.doc_id, m.o AS term, u.pos FROM uni u JOIN expm m ON u.term = m.w"""
    val dirCte =
      if (directed.isEmpty) ""
      else s""", dirm(w, o) AS (
  SELECT * FROM (VALUES ${valuesOf(directed)})
)"""
    val expCte =
      if (expand.isEmpty) ""
      else s""", expm(w, o) AS (
  SELECT * FROM (VALUES ${valuesOf(expand)})
)"""
    s"""WITH arr AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
    x -> x <> '' AND length(x) <= 255) AS a
  FROM documents
), uni AS (
  SELECT doc_id, unnest(a) AS term, generate_subscripts(a, 1) - 1 AS pos
  FROM arr
)$dirCte$expCte, posx AS (
  SELECT doc_id, term, pos FROM uni$dirFilter$dirArm$expArm
), tok AS (
  SELECT doc_id, term FROM posx
), dlen AS (
  SELECT d.doc_id, count(u.term) AS len
  FROM documents d LEFT JOIN uni u ON d.doc_id = u.doc_id GROUP BY d.doc_id
)""" + normAvSuffix
  }

  /** BM25 term query over the synonym field. */
  def synonymTerm(expand: Seq[(String, String)],
      directed: Seq[(String, String)], term: String, k: Int): String =
    synonymPrologue(expand, directed) + termCtes("a", term) + finish("sc_a", k)

  /** Exact 2-term phrase over the synonym field (overlays at the source
    * position make "the rapid" match "the fast" under fast→rapid).
    * Same scoring law as [[phrase2]]: adjacency count = freq, weight =
    * (idf(a)+idf(b)) * (k1+1).
    */
  def synonymPhrase2(expand: Seq[(String, String)],
      directed: Seq[(String, String)], a: String, b: String,
      k: Int): String = {
    val idfSum = R(s"${idfExpr(s"(SELECT count(DISTINCT doc_id) FROM tok WHERE term = ${lit(a)})")} + ${idfExpr(s"(SELECT count(DISTINCT doc_id) FROM tok WHERE term = ${lit(b)})")}")
    val w = R(s"$idfSum * ($K1 + ${R("1")})")
    val tfR = R("p.tf")
    val score = R(s"${R(s"$w * $tfR")} / ${R(s"$tfR + ${cacheExpr("dn.qlen")}")}")
    synonymPrologue(expand, directed) +
      s""", ph AS (
  SELECT p1.doc_id, count(*) AS tf
  FROM posx p1 JOIN posx p2 ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1
  WHERE p1.term = ${lit(a)} AND p2.term = ${lit(b)}
  GROUP BY p1.doc_id
), res AS (
  SELECT p.doc_id, $score AS s FROM ph p JOIN dn ON p.doc_id = dn.doc_id
)""" + finish("res", k)
  }

  // ---- Porter-analyzed field ----

  /** Planted inflected docs for the porter gate — identical literals on
    * the engine side (the "porter" SearchGate.specSearcher).
    */
  val porterPlanted: Seq[(Long, String)] = Seq(
    900001L -> "queries merged tables",
    900002L -> "querying the customers keys",
    900003L -> "valued tables merge queries")

  /** token → Porter stem for the ENTIRE gate vocabulary (31 corpus
    * words + the planted inflections). Entries present in the published
    * Porter test vocabulary (porterTestData.zip voc/output) are pinned
    * from it verbatim: a/batch/big/customer→custom/fast/join/key→kei/
    * line/order/part/row/scan/slow/small/sort/spark/stream/table→tabl/
    * the/value→valu/window, tables→tabl/keys→kei/customers→custom/
    * valued→valu; the rest follow the algorithm PorterSpec pins against
    * all 23,531 published pairs.
    */
  private val porterDict: Seq[(String, String)] = Seq(
    "a" -> "a", "agg" -> "agg", "batch" -> "batch", "big" -> "big",
    "column" -> "column", "customer" -> "custom", "data" -> "data",
    "dup" -> "dup", "fast" -> "fast", "filter" -> "filter",
    "group" -> "group", "hash" -> "hash", "join" -> "join",
    "key" -> "kei", "line" -> "line", "merge" -> "merg",
    "order" -> "order", "part" -> "part", "query" -> "queri",
    "row" -> "row", "scan" -> "scan", "slow" -> "slow",
    "small" -> "small", "sort" -> "sort", "spark" -> "spark",
    "stream" -> "stream", "table" -> "tabl", "the" -> "the",
    "value" -> "valu", "vector" -> "vector", "window" -> "window",
    // planted inflections
    "queries" -> "queri", "merged" -> "merg", "tables" -> "tabl",
    "querying" -> "queri", "customers" -> "custom", "keys" -> "kei",
    "valued" -> "valu", "merges" -> "merg")

  /** Prologue over documents ∪ planted inflected docs, every token
    * mapped through the embedded Porter dictionary (PorterStemFilter,
    * `analysis/en/PorterStemFilter.java`). Tokens outside the dict pass
    * through unstemmed — the gate vocabulary is fully enumerated above,
    * so a corpus regeneration that adds vocabulary fails the gate loudly
    * rather than silently agreeing.
    */
  def porterPrologue: String = {
    val plantedRows = porterPlanted
      .map { case (id, t) => s"($id, ${lit(t)})" }.mkString(", ")
    val dictRows = porterDict
      .map { case (w, s) => s"(${lit(w)}, ${lit(s)})" }.mkString(", ")
    s"""WITH d2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT * FROM (VALUES $plantedRows) pl(doc_id, text)
), stemmap(w, st) AS (
  SELECT * FROM (VALUES $dictRows)
), rawtok AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS rt
  FROM d2
), tok AS (
  SELECT r.doc_id, coalesce(m.st, r.rt) AS term
  FROM (SELECT doc_id, rt FROM rawtok WHERE rt <> '' AND length(rt) <= 255) r
  LEFT JOIN stemmap m ON r.rt = m.w
), dlen AS (
  SELECT d.doc_id, count(t.term) AS len
  FROM d2 d LEFT JOIN tok t ON d.doc_id = t.doc_id GROUP BY d.doc_id
), normq(lo, hi, qlen) AS (
  SELECT * FROM (VALUES $normValuesRows)
), dn AS (
  SELECT dlen.doc_id, ${R("normq.qlen")} AS qlen
  FROM dlen JOIN normq ON dlen.len BETWEEN normq.lo AND normq.hi
), av AS (
  SELECT (SELECT count(*) FROM d2) AS n,
         ${R(s"(SELECT count(*) FROM tok) / CAST((SELECT count(*) FROM d2) AS DOUBLE)")} AS avgdl
)"""
  }

  /** Prologue for the KeywordRepeatFilter + PorterStemFilter +
    * RemoveDuplicates recipe (stem-plus-original field): tok = every
    * original token PLUS its dictionary stem where the stem differs
    * (the RemoveDuplicates law). Norm length counts originals only
    * (the stem is a posInc-0 overlay); avgdl counts both.
    */
  def porterInjectPrologue: String = {
    val plantedRows = porterPlanted
      .map { case (id, t) => s"($id, ${lit(t)})" }.mkString(", ")
    val dictRows = porterDict
      .map { case (w, s) => s"(${lit(w)}, ${lit(s)})" }.mkString(", ")
    s"""WITH d2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT * FROM (VALUES $plantedRows) pl(doc_id, text)
), stemmap(w, st) AS (
  SELECT * FROM (VALUES $dictRows)
), rawtok AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS rt
  FROM d2
), rt2 AS (
  SELECT doc_id, rt FROM rawtok WHERE rt <> '' AND length(rt) <= 255
), tok AS (
  SELECT doc_id, rt AS term FROM rt2
  UNION ALL
  SELECT r.doc_id, m.st AS term
  FROM rt2 r JOIN stemmap m ON r.rt = m.w WHERE m.st <> r.rt
), dlen AS (
  SELECT d.doc_id, count(t.rt) AS len
  FROM d2 d LEFT JOIN rt2 t ON d.doc_id = t.doc_id GROUP BY d.doc_id
), normq(lo, hi, qlen) AS (
  SELECT * FROM (VALUES $normValuesRows)
), dn AS (
  SELECT dlen.doc_id, ${R("normq.qlen")} AS qlen
  FROM dlen JOIN normq ON dlen.len BETWEEN normq.lo AND normq.hi
), av AS (
  SELECT (SELECT count(*) FROM d2) AS n,
         ${R(s"(SELECT count(*) FROM tok) / CAST((SELECT count(*) FROM d2) AS DOUBLE)")} AS avgdl
)"""
  }

  /** Prologue for an NGramTokenFilter field (`analysis/common/.../ngram/
    * NGramTokenFilter.java:44-84`): tok = every substring of length
    * lo..hi of each raw token; tokens shorter than lo are removed
    * (CodepointCountFilter), so norm length counts surviving tokens.
    */
  def ngramPrologue(lo: Int, hi: Int): String =
    s"""WITH rawtok AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS rt
  FROM documents
), rt2 AS (
  SELECT doc_id, rt FROM rawtok WHERE rt <> '' AND length(rt) <= 255
), tok AS (
  SELECT doc_id, substr(rt, p, g) AS term
  FROM rt2
  JOIN generate_series(1, 255) t(p) ON p <= length(rt)
  JOIN generate_series($lo, $hi) t2(g) ON p + g - 1 <= length(rt)
), dlen AS (
  SELECT d.doc_id, count(t.rt) AS len
  FROM documents d
  LEFT JOIN (SELECT doc_id, rt FROM rt2 WHERE length(rt) >= $lo) t
    ON d.doc_id = t.doc_id
  GROUP BY d.doc_id
), normq(lo, hi, qlen) AS (
  SELECT * FROM (VALUES $normValuesRows)
), dn AS (
  SELECT dlen.doc_id, ${R("normq.qlen")} AS qlen
  FROM dlen JOIN normq ON dlen.len BETWEEN normq.lo AND normq.hi
), av AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         ${R(s"(SELECT count(*) FROM tok) / CAST((SELECT count(*) FROM documents) AS DOUBLE)")} AS avgdl
)"""

  // ---- Multi-word synonym (sausage) fields ----

  /** Closed-form oracle for the `syngraph:sort merge=>sortmerge` field
    * (SynonymFilter sausage, replace rule): the pattern cannot overlap
    * itself (it starts with 'sort' but continues with 'merge'), so the
    * greedy non-overlapping match count equals the adjacent-pair count;
    * each match removes one POSITION (compaction) and contributes one
    * 'sortmerge' posting. tf = pairs, norm length = n − pairs, total
    * postings = n − pairs.
    */
  def syngraphReplace(k: Int): String = {
    val avgdl = R(s"(SELECT sum(n - pairs) FROM st) / " +
      "CAST((SELECT count(*) FROM st) AS DOUBLE)")
    s"""WITH arr AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
    x -> x <> '' AND length(x) <= 255) AS a
  FROM documents
), st AS (
  SELECT doc_id, len(a) AS n,
    len(list_filter(generate_series(1, len(a) - 1),
      i -> a[i] = 'sort' AND a[i + 1] = 'merge')) AS pairs
  FROM arr
), normq(lo, hi, qlen) AS (
  SELECT * FROM (VALUES $normValuesRows)
), dn AS (
  SELECT st.doc_id, ${R("normq.qlen")} AS qlen
  FROM st JOIN normq ON (st.n - st.pairs) BETWEEN normq.lo AND normq.hi
), av AS (
  SELECT (SELECT count(*) FROM st) AS n, $avgdl AS avgdl
), tf_a AS (
  SELECT doc_id, pairs AS tf FROM st WHERE pairs > 0
), sc_a AS (
  SELECT t.doc_id,
    ${scoreExpr("t.tf", "dn.qlen", "(SELECT count(*) FROM tf_a)")} AS s
  FROM tf_a t JOIN dn ON t.doc_id = dn.doc_id
)""" + finish("sc_a", k)
  }

  /** Closed-form oracle for the `syngraph:key,primary key` field: the
    * two-word member never occurs in the corpus (no 'primary' token),
    * so only 'key' matches — each match keeps the original and stacks
    * primary@p, key@p+1. tf(primary) = nkey, tf(key) = 2·nkey; the
    * stacked words land on EXISTING positions except when the key is
    * the last token (one end-case position): norm length =
    * n + (last == 'key'), total postings = n + 2·nkey.
    */
  def syngraphExpand(queryTerm: String, k: Int): String = {
    require(queryTerm == "primary" || queryTerm == "key")
    val tfExpr = if (queryTerm == "primary") "nkey" else "2 * nkey"
    val avgdl = R(s"(SELECT sum(n + 2 * nkey) FROM st) / " +
      "CAST((SELECT count(*) FROM st) AS DOUBLE)")
    s"""WITH arr AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
    x -> x <> '' AND length(x) <= 255) AS a
  FROM documents
), st AS (
  SELECT doc_id, len(a) AS n,
    len(list_filter(a, x -> x = 'key')) AS nkey,
    CASE WHEN len(a) > 0 AND a[len(a)] = 'key' THEN 1 ELSE 0 END AS endspill
  FROM arr
), normq(lo, hi, qlen) AS (
  SELECT * FROM (VALUES $normValuesRows)
), dn AS (
  SELECT st.doc_id, ${R("normq.qlen")} AS qlen
  FROM st JOIN normq ON (st.n + st.endspill) BETWEEN normq.lo AND normq.hi
), av AS (
  SELECT (SELECT count(*) FROM st) AS n, $avgdl AS avgdl
), tf_a AS (
  SELECT doc_id, $tfExpr AS tf FROM st WHERE nkey > 0
), sc_a AS (
  SELECT t.doc_id,
    ${scoreExpr("t.tf", "dn.qlen", "(SELECT count(*) FROM tf_a)")} AS s
  FROM tf_a t JOIN dn ON t.doc_id = dn.doc_id
)""" + finish("sc_a", k)
  }

  // ---- Phonetic (Soundex) field ----

  /** Planted sound-alike docs for the phonetic gates — identical
    * literals on the engine side (the "phonetic" SearchGate.specSearcher).
    */
  val phoneticPlanted: Seq[(Long, String)] = Seq(
    910001L -> "mirage sord kwery table",
    910002L -> "murge streem badge the",
    910003L -> "sorte windoe mirage value")

  /** American Soundex letter→digit map (the NARA coding rules /
    * commons-codec US_ENGLISH mapping string), a-z.
    */
  private val soundexMapping = "01230120022455012623010202"
  private def sxCodeOf(chExpr: String): String = {
    val cases = ('a' to 'z').zip(soundexMapping)
      .map { case (c, d) => s"WHEN '$c' THEN '$d'" }.mkString(" ")
    s"(CASE $chExpr $cases END)"
  }

  /** Prologue over documents ∪ planted sound-alike docs with every token
    * Soundex-coded by an INDEPENDENT recursive-CTE transcription of the
    * published American Soundex algorithm (NARA rules as implemented by
    * commons-codec, the encoder the reference's PhoneticFilterFactory
    * instantiates): first letter kept; subsequent letters mapped through
    * the digit table; a letter is silent when it repeats the previous
    * letter's code; vowels (code 0) separate; H/W are transparent — a
    * letter following H/W whose code equals the letter BEFORE the H/W
    * (or where that letter is itself H/W) is skipped without touching
    * the run state; 3 digits, zero-padded. Letters-only cleanup first;
    * all-digit tokens have no code and pass through.
    *
    * inject=false (replace): a token becomes its code when the code
    * differs from the token (`PhoneticFilter.java:45-55`). inject=true:
    * the code joins the token at the same position — norm length counts
    * originals only (discountOverlaps), avgdl counts everything.
    */
  def soundexPrologue(inject: Boolean): String = {
    val plantedRows = phoneticPlanted
      .map { case (id, t) => s"($id, ${lit(t)})" }.mkString(", ")
    val tokSelect =
      if (!inject)
        """  SELECT r.doc_id,
    CASE WHEN c.code IS NOT NULL AND c.code <> r.rt THEN c.code ELSE r.rt END AS term
  FROM rt2 r LEFT JOIN sxcode c ON r.rt = c.w"""
      else
        """  SELECT doc_id, rt AS term FROM rt2
  UNION ALL
  SELECT r.doc_id, c.code AS term
  FROM rt2 r JOIN sxcode c ON r.rt = c.w WHERE c.code <> r.rt"""
    s"""WITH RECURSIVE d2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT * FROM (VALUES $plantedRows) pl(doc_id, text)
), rawtok AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS rt
  FROM d2
), rt2 AS (
  SELECT doc_id, rt FROM rawtok WHERE rt <> '' AND length(rt) <= 255
), lets AS (
  SELECT w, regexp_replace(w, '[^a-z]', '', 'g') AS ls
  FROM (SELECT DISTINCT rt AS w FROM rt2)
), sxr(w, ls, i, cnt, last, out) AS (
  SELECT w, ls, 2, 1, ${sxCodeOf("substr(ls, 1, 1)")}, upper(substr(ls, 1, 1))
  FROM lets WHERE ls <> ''
  UNION ALL
  SELECT w, ls, i + 1,
    cnt + CASE WHEN mc IS NOT NULL AND mc <> '0' AND mc <> last THEN 1 ELSE 0 END,
    coalesce(mc, last),
    out || CASE WHEN mc IS NOT NULL AND mc <> '0' AND mc <> last THEN mc ELSE '' END
  FROM (
    SELECT w, ls, i, cnt, last, out,
      CASE WHEN i > 2 AND substr(ls, i - 1, 1) IN ('h', 'w')
             AND (${sxCodeOf("substr(ls, i, 1)")} = ${sxCodeOf("substr(ls, i - 2, 1)")}
                  OR substr(ls, i - 2, 1) IN ('h', 'w'))
        THEN NULL ELSE ${sxCodeOf("substr(ls, i, 1)")} END AS mc
    FROM sxr WHERE i <= length(ls) AND cnt < 4
  )
), sxcode AS (
  SELECT w, rpad(out, 4, '0') AS code
  FROM (SELECT w, out, row_number() OVER (PARTITION BY w ORDER BY i DESC) AS rn
        FROM sxr)
  WHERE rn = 1
), tok AS (
$tokSelect
), dlen AS (
  SELECT d.doc_id, count(t.rt) AS len
  FROM d2 d LEFT JOIN rt2 t ON d.doc_id = t.doc_id GROUP BY d.doc_id
), normq(lo, hi, qlen) AS (
  SELECT * FROM (VALUES $normValuesRows)
), dn AS (
  SELECT dlen.doc_id, ${R("normq.qlen")} AS qlen
  FROM dlen JOIN normq ON dlen.len BETWEEN normq.lo AND normq.hi
), av AS (
  SELECT (SELECT count(*) FROM d2) AS n,
         ${R(s"(SELECT count(*) FROM tok) / CAST((SELECT count(*) FROM d2) AS DOUBLE)")} AS avgdl
)"""
  }

  /** Single-term BM25 over a Soundex-analyzed field; the query word is
    * coded by the SAME independent CTE (one extra sxcode lookup), so the
    * oracle never sees an engine-computed code.
    */
  def phoneticTerm(queryWord: String, inject: Boolean, k: Int): String = {
    // the query word rides the distinct-term list via a planted vocab row
    soundexPrologue(inject) +
      s""", qcode AS (
  SELECT coalesce(
    (SELECT code FROM sxcode WHERE w = ${lit(queryWord)}),
    ${lit(queryWord)}) AS qt
), tf_a AS (
  SELECT doc_id, count(*) AS tf FROM tok WHERE term = (SELECT qt FROM qcode)
  GROUP BY doc_id
), sc_a AS (
  SELECT t.doc_id,
    ${scoreExpr("t.tf", "dn.qlen", "(SELECT count(*) FROM tf_a)")} AS s
  FROM tf_a t JOIN dn ON t.doc_id = dn.doc_id
)""" + finish("sc_a", k)
  }

  /** Prologue for the CharFilter-chained field (SearchGate.CharFilterChain
    * = PatternReplaceCharFilter digits→space, then MappingCharFilter
    * a→4, then the simple chain): the same two text transforms replayed
    * in SQL ahead of the standard tokenize law. The single-rule mapping
    * with a source absent from its own output is exactly SQL replace()'s
    * left-to-right non-overlapping scan.
    */
  def charFilterPrologue: String =
    s"""WITH cft AS (
  SELECT doc_id, replace(regexp_replace(text, '[0-9]+', ' ', 'g'), 'a', '4') AS text
  FROM documents
), toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
  FROM cft
), tok AS (
  SELECT doc_id, term FROM toks WHERE term <> '' AND length(term) <= 255
), dlen AS (
  SELECT d.doc_id, count(t.term) AS len
  FROM documents d LEFT JOIN tok t ON d.doc_id = t.doc_id GROUP BY d.doc_id
), normq(lo, hi, qlen) AS (
  SELECT * FROM (VALUES $normValuesRows)
), dn AS (
  SELECT dlen.doc_id, ${R("normq.qlen")} AS qlen
  FROM dlen JOIN normq ON dlen.len BETWEEN normq.lo AND normq.hi
), av AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         ${R(s"(SELECT count(*) FROM tok) / CAST((SELECT count(*) FROM documents) AS DOUBLE)")} AS avgdl
)"""

  /** BM25 term / or2 over the charfiltered field. */
  def charFilterTerm(term: String, k: Int): String =
    charFilterPrologue + termCtes("a", term) + finish("sc_a", k)

  def charFilterOr2(t1: String, t2: String, k: Int): String = {
    val ctes = termCtes("t0", t1) + termCtes("t1", t2)
    charFilterPrologue + ctes +
      s""", un AS (SELECT doc_id, s FROM sc_t0 UNION ALL SELECT doc_id, s FROM sc_t1), res AS (
  SELECT doc_id, ${R("SUM(CAST(s AS DOUBLE))")} AS s FROM un GROUP BY doc_id
)""" + finish("res", k)
  }

  /** Tombstoned deletes (the liveDocs law, `IndexWriter.deleteDocuments`):
    * full-corpus BM25 stats — deleted docs still count in df/avgdl/N —
    * with every doc containing `delTerm` excluded from the OUTPUT only.
    */
  def deletedTerm(term: String, delTerm: String, k: Int): String =
    prologue + termCtes("a", term) +
      s""", res AS (
  SELECT doc_id, s FROM sc_a WHERE doc_id NOT IN (
    SELECT DISTINCT doc_id FROM tok WHERE term = ${lit(delTerm)})
)""" + finish("res", k)

  /** TotalHitCount under tombstones. */
  def deletedCount(term: String, delTerm: String): String =
    prologue + s"""
SELECT CAST(count(DISTINCT t.doc_id) AS BIGINT) AS cnt FROM tok t
WHERE t.term = ${lit(term)} AND t.doc_id NOT IN (
  SELECT DISTINCT doc_id FROM tok WHERE term = ${lit(delTerm)})"""

  /** BM25 term query over the porter-analyzed corpus. */
  def porterTerm(stem: String, k: Int): String =
    porterPrologue + termCtes("a", stem) + finish("sc_a", k)

  /** OR-of-two over the porter field (msm 1). */
  def porterOr2(s1: String, s2: String, k: Int): String = {
    val ctes = termCtes("t0", s1) + termCtes("t1", s2)
    porterPrologue + ctes +
      s""", un AS (SELECT doc_id, s FROM sc_t0 UNION ALL SELECT doc_id, s FROM sc_t1),
res AS (
  SELECT doc_id, ${R("SUM(CAST(s AS DOUBLE))")} AS s
  FROM un GROUP BY doc_id
)""" + finish("res", k)
  }

  /** Float idf: (float) ln(1 + (n - df + 0.5)/(df + 0.5)). */
  private def idfExpr(dfExpr: String): String =
    R(s"ln(1 + ((SELECT n FROM av) - $dfExpr + 0.5)/($dfExpr + 0.5))")

  /** weightValue = boost * idf * (k1 + 1), float ops in Java order. */
  private def weightExpr(dfExpr: String, boost: Float): String = {
    val idf = idfExpr(dfExpr)
    val bIdf = if (boost == 1f) idf else R(s"${R(boost.toString)} * $idf")
    R(s"$bIdf * ($K1 + ${R("1")})")
  }

  /** cache = k1 * ((1-b) + b * qlen / avgdl), float ops in Java order. */
  private def cacheExpr(qlenCol: String): String =
    R(s"$K1 * ${R(s"(${R("1")} - $B) + ${R(s"${R(s"$B * $qlenCol")} / (SELECT avgdl FROM av)")}")}")

  /** score = w * tf / (tf + cache), float. */
  def scoreExpr(tfCol: String, qlenCol: String, dfExpr: String,
      boost: Float = 1f): String = {
    val w = weightExpr(dfExpr, boost)
    val tfR = R(tfCol)
    R(s"${R(s"$w * $tfR")} / ${R(s"$tfR + ${cacheExpr(qlenCol)}")}")
  }

  private def lit(t: String): String = "'" + t.replace("'", "''") + "'"

  /** Per-term CTEs: tf_<a>(doc_id, tf) and sc_<a>(doc_id, s REAL). */
  def termCtes(a: String, term: String, boost: Float = 1f): String = {
    val t = lit(term)
    s""", tf_$a AS (
  SELECT doc_id, count(*) AS tf FROM tok WHERE term = $t GROUP BY doc_id
), sc_$a AS (
  SELECT t.doc_id,
    ${scoreExpr("t.tf", "dn.qlen", s"(SELECT count(*) FROM tf_$a)", boost)} AS s
  FROM tf_$a t JOIN dn ON t.doc_id = dn.doc_id
)"""
  }

  /** Parametric token-stream prologue for FilteringTokenFilter-class
    * fields: px = every simple token with its ORIGINAL 1-based subscript,
    * keptx = rows passing `where` with `termExpr` applied (positions
    * preserved — FilteringTokenFilter accumulates position increments
    * over dropped tokens, `analysis/util/FilteringTokenFilter.java:60-75`,
    * so removals leave HOLES), tok/dlen/dn/av over the surviving stream
    * (norm length counts survivors — FieldInvertState sees only emitted
    * tokens).
    */
  private def tokStreamPrologue(where: String,
      termExpr: String = "term"): String =
    s"""WITH arr AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
    x -> x <> '' AND length(x) <= 255) AS a
  FROM documents
), px AS (
  SELECT doc_id, unnest(a) AS term, generate_subscripts(a, 1) AS pos FROM arr
), keptx AS (
  SELECT doc_id, $termExpr AS term, pos FROM px WHERE ($where)
), tok AS (
  SELECT doc_id, term FROM keptx
), dlen AS (
  SELECT d.doc_id, count(t.term) AS len
  FROM documents d LEFT JOIN keptx t ON d.doc_id = t.doc_id GROUP BY d.doc_id
)""" + normAvSuffix

  /** BM25 term over a KeepWordFilter field
    * (`miscellaneous/KeepWordFilter.java:33-44`).
    */
  def keepwordTerm(term: String, keep: Seq[String], k: Int): String = {
    val lst = "[" + keep.map(lit).mkString(", ") + "]"
    tokStreamPrologue(s"list_contains($lst, term)") +
      termCtes("a", term) + finish("sc_a", k)
  }

  /** Exact 2-term phrase over a KeepWordFilter field: consecutive
    * ORIGINAL positions — a dropped word between the pair leaves a hole
    * the exact phrase does NOT match across (the FilteringTokenFilter
    * position-increment law).
    */
  def keepwordPhrase2(a: String, b: String, keep: Seq[String],
      k: Int): String = {
    val lst = "[" + keep.map(lit).mkString(", ") + "]"
    val idfSum = R(s"${idfExpr(s"(SELECT count(DISTINCT doc_id) FROM tok WHERE term = ${lit(a)})")} + ${idfExpr(s"(SELECT count(DISTINCT doc_id) FROM tok WHERE term = ${lit(b)})")}")
    val w = R(s"$idfSum * ($K1 + ${R("1")})")
    val tfR = R("p.tf")
    val score = R(s"${R(s"$w * $tfR")} / ${R(s"$tfR + ${cacheExpr("dn.qlen")}")}")
    tokStreamPrologue(s"list_contains($lst, term)") +
      s""", ph AS (
  SELECT p1.doc_id, count(*) AS tf
  FROM keptx p1 JOIN keptx p2 ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1
  WHERE p1.term = ${lit(a)} AND p2.term = ${lit(b)}
  GROUP BY p1.doc_id
), res AS (
  SELECT p.doc_id, $score AS s FROM ph p JOIN dn ON p.doc_id = dn.doc_id
)""" + finish("res", k)
  }

  /** BM25 term over a LengthFilter field
    * (`miscellaneous/LengthFilter.java:39-49`; char length in UTF-16
    * units = DuckDB length() on this ASCII gate vocabulary).
    */
  def lengthFilterTerm(term: String, lo: Int, hi: Int, k: Int): String =
    tokStreamPrologue(s"length(term) BETWEEN $lo AND $hi") +
      termCtes("a", term) + finish("sc_a", k)

  /** BM25 term over a TruncateTokenFilter field
    * (`miscellaneous/TruncateTokenFilter.java:38-44`): every token cut
    * to its first n chars; positions and counts unchanged.
    */
  def truncateTerm(term: String, n: Int, k: Int): String =
    tokStreamPrologue("TRUE", s"substr(term, 1, $n)") +
      termCtes("a", term) + finish("sc_a", k)

  /** BM25 term over a LimitTokenCountFilter field
    * (`miscellaneous/LimitTokenCountFilter.java:32-60`,
    * consumeAllTokens=false): only the first n tokens index; norm length
    * = the surviving count.
    */
  def limitTokTerm(term: String, n: Int, k: Int): String =
    tokStreamPrologue(s"pos <= $n") +
      termCtes("a", term) + finish("sc_a", k)

  /** Prologue for a StemmerOverrideFilter → PorterStemFilter chain
    * (`miscellaneous/StemmerOverrideFilter.java:55-75`: a dictionary hit
    * replaces the term and sets KeywordAttribute, so the downstream
    * stemmer skips it — `en/PorterStemFilter.java:48`). Token map:
    * override first, else the embedded Porter dictionary (the gate
    * vocabulary is fully enumerated — see [[porterPrologue]]). Over
    * documents ∪ the porter planted docs.
    */
  def stemOverridePrologue(overrides: Seq[(String, String)]): String = {
    val plantedRows = porterPlanted
      .map { case (id, t) => s"($id, ${lit(t)})" }.mkString(", ")
    val dictRows = porterDict
      .map { case (w, s) => s"(${lit(w)}, ${lit(s)})" }.mkString(", ")
    val ovRows = overrides
      .map { case (w, s) => s"(${lit(w)}, ${lit(s)})" }.mkString(", ")
    s"""WITH d2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT * FROM (VALUES $plantedRows) pl(doc_id, text)
), stemmap(w, st) AS (
  SELECT * FROM (VALUES $dictRows)
), ovmap(w, st) AS (
  SELECT * FROM (VALUES $ovRows)
), rawtok AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS rt
  FROM d2
), tok AS (
  SELECT r.doc_id, coalesce(o.st, m.st, r.rt) AS term
  FROM (SELECT doc_id, rt FROM rawtok WHERE rt <> '' AND length(rt) <= 255) r
  LEFT JOIN ovmap o ON r.rt = o.w
  LEFT JOIN stemmap m ON r.rt = m.w
), dlen AS (
  SELECT d.doc_id, count(t.term) AS len
  FROM d2 d LEFT JOIN tok t ON d.doc_id = t.doc_id GROUP BY d.doc_id
), normq(lo, hi, qlen) AS (
  SELECT * FROM (VALUES $normValuesRows)
), dn AS (
  SELECT dlen.doc_id, ${R("normq.qlen")} AS qlen
  FROM dlen JOIN normq ON dlen.len BETWEEN normq.lo AND normq.hi
), av AS (
  SELECT (SELECT count(*) FROM d2) AS n,
         ${R(s"(SELECT count(*) FROM tok) / CAST((SELECT count(*) FROM d2) AS DOUBLE)")} AS avgdl
)"""
  }

  /** BM25 term over the stemoverride→porter field. */
  def stemOverrideTerm(term: String, overrides: Seq[(String, String)],
      k: Int): String =
    stemOverridePrologue(overrides) + termCtes("a", term) + finish("sc_a", k)

  /** Planted docs for the ScandinavianFoldingFilter gate, ENGINE side
    * (raw national spellings — SearchGate plants these literals).
    */
  val scandPlanted: Seq[(Long, String)] = Seq(
    910001L -> "blåbærsyltetøj på smörgås",
    910002L -> "blaabaersyltetoej paa smoergaas",
    910003L -> "blabarsyltetoj pa smorgas",
    910004L -> "räksmörgås med ost",
    910005L -> "raeksmoergaas med ost")

  /** The same docs PRE-FOLDED to ASCII, ORACLE side — derived by hand
    * from the reference javadoc's documented equivalence classes
    * (`ScandinavianFoldingFilter.java:33-35`: "blåbærsyltetøj ==
    * blaabaarsyltetoej == blabarsyltetoj", "räksmörgås == raeksmoergaas
    * == raksmorgas"), NOT by running the engine's fold. The corpus
    * vocabulary contains no å/ä/ö/æ/ø and no aa/ae/ao/oe/oo digraph
    * (checked at authoring), so folding is the identity there.
    */
  private val scandPlantedFolded: Seq[(Long, String)] = Seq(
    910001L -> "blabarsyltetoj pa smorgas",
    910002L -> "blabarsyltetoj pa smorgas",
    910003L -> "blabarsyltetoj pa smorgas",
    910004L -> "raksmorgas med ost",
    910005L -> "raksmorgas med ost")

  /** BM25 term over the scandfold field: documents ∪ the pre-folded
    * planted docs, plain tokenization.
    */
  def scandFoldTerm(term: String, k: Int): String = {
    val plantedRows = scandPlantedFolded
      .map { case (id, t) => s"($id, ${lit(t)})" }.mkString(", ")
    s"""WITH d2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT * FROM (VALUES $plantedRows) pl(doc_id, text)
), toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
  FROM d2
), tok AS (
  SELECT doc_id, term FROM toks WHERE term <> '' AND length(term) <= 255
), dlen AS (
  SELECT d.doc_id, count(t.term) AS len
  FROM d2 d LEFT JOIN tok t ON d.doc_id = t.doc_id GROUP BY d.doc_id
), normq(lo, hi, qlen) AS (
  SELECT * FROM (VALUES $normValuesRows)
), dn AS (
  SELECT dlen.doc_id, ${R("normq.qlen")} AS qlen
  FROM dlen JOIN normq ON dlen.len BETWEEN normq.lo AND normq.hi
), av AS (
  SELECT (SELECT count(*) FROM d2) AS n,
         ${R(s"(SELECT count(*) FROM tok) / CAST((SELECT count(*) FROM d2) AS DOUBLE)")} AS avgdl
)""" + termCtes("a", term) + finish("sc_a", k)
  }

  /** Planted path docs for the PathHierarchyTokenizer gate (identical
    * literals on both sides — the tokenizer transforms, nothing else).
    */
  val pathPlanted: Seq[(Long, String)] = Seq(
    930001L -> "src/main/scala/App.scala",
    930002L -> "src/main/resources/log.conf",
    930003L -> "src/test/scala/AppSpec.scala",
    930004L -> "docs/readme.md")

  /** BM25 term over a PathHierarchyTokenizer field (`analysis/common/
    * .../path/PathHierarchyTokenizer.java:110-170`): the whole field is
    * one path; tokens = every prefix ending before a delimiter plus the
    * full value, ALL at one position — norm length is 1 (discountOverlaps
    * over posInc-0 overlays) while avgdl counts every prefix. No
    * lowercasing, no length cap.
    */
  def pathHierTerm(term: String, k: Int): String = {
    val plantedRows = pathPlanted
      .map { case (id, t) => s"($id, ${lit(t)})" }.mkString(", ")
    s"""WITH d2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT * FROM (VALUES $plantedRows) pl(doc_id, text)
), tok AS (
  SELECT doc_id, substr(text, 1, i - 1) AS term
  FROM (SELECT doc_id, text,
          unnest(list_filter(generate_series(2, length(text)),
            i -> substr(text, i, 1) = '/')) AS i
        FROM d2)
  UNION ALL SELECT doc_id, text AS term FROM d2 WHERE length(text) > 0
), dlen AS (
  SELECT doc_id, CASE WHEN length(text) > 0 THEN 1 ELSE 0 END AS len
  FROM d2
), normq(lo, hi, qlen) AS (
  SELECT * FROM (VALUES $normValuesRows)
), dn AS (
  SELECT dlen.doc_id, ${R("normq.qlen")} AS qlen
  FROM dlen JOIN normq ON dlen.len BETWEEN normq.lo AND normq.hi
), av AS (
  SELECT (SELECT count(*) FROM d2) AS n,
         ${R(s"(SELECT count(*) FROM tok) / CAST((SELECT count(*) FROM d2) AS DOUBLE)")} AS avgdl
)""" + termCtes("a", term) + finish("sc_a", k)
  }

  /** Generic BM25 term oracle over documents ∪ planted docs with the
    * token stream given as an arbitrary SQL ARRAY expression of `text` —
    * the shared shape of the core-tokenizer gates (keyword / whitespace /
    * letter).
    */
  def customTokTerm(term: String, planted: Seq[(Long, String)],
      arrExpr: String, k: Int): String = {
    val plantedRows = planted
      .map { case (id, t) => s"($id, ${lit(t)})" }.mkString(", ")
    s"""WITH d2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT * FROM (VALUES $plantedRows) pl(doc_id, text)
), arr AS (
  SELECT doc_id, $arrExpr AS a FROM d2
), tok AS (
  SELECT doc_id, unnest(a) AS term FROM arr
), dlen AS (
  SELECT d.doc_id, count(t.term) AS len
  FROM d2 d LEFT JOIN tok t ON d.doc_id = t.doc_id GROUP BY d.doc_id
), normq(lo, hi, qlen) AS (
  SELECT * FROM (VALUES $normValuesRows)
), dn AS (
  SELECT dlen.doc_id, ${R("normq.qlen")} AS qlen
  FROM dlen JOIN normq ON dlen.len BETWEEN normq.lo AND normq.hi
), av AS (
  SELECT (SELECT count(*) FROM d2) AS n,
         ${R(s"(SELECT count(*) FROM tok) / CAST((SELECT count(*) FROM d2) AS DOUBLE)")} AS avgdl
)""" + termCtes("a", term) + finish("sc_a", k)
  }

  /** Planted docs for the core-tokenizer gates. */
  val keywordPlanted: Seq[(Long, String)] = Seq(
    950001L -> "status-ok", 950002L -> "status-ok", 950003L -> "Status-OK")
  val whitespacePlanted: Seq[(Long, String)] = Seq(
    951001L -> "Spark SPARK spark", 951002L -> "spark fast",
    951003L -> "SPARK! yes")
  val letterPlanted: Seq[(Long, String)] = Seq(
    952001L -> "file123x data9base", 952002L -> "base camp")
  val hyphenPlanted: Seq[(Long, String)] = Seq(
    970001L -> "data-\nbase systems", 970002L -> "database first",
    970003L -> "data base")

  /** Planted docs for the CJKBigram gate (engine side — raw mixed
    * text).
    */
  val cjkPlanted: Seq[(Long, String)] = Seq(
    960001L -> "spark 数据库",
    960002L -> "数据 analysis",
    960003L -> "库",
    960004L -> "カタカナ test")

  /** The same docs' token streams, hand-derived from the PUBLISHED law
    * (`analysis/cjk/CJKBigramFilter.java:40-230`, outputUnigrams=false:
    * a 3-codepoint run ABC → AB, BC; a lone codepoint → its unigram;
    * non-CJK words pass through) — not by running the engine.
    */
  private val cjkPlantedTokens: Seq[(Long, String)] = Seq(
    960001L -> "spark", 960001L -> "数据", 960001L -> "据库",
    960002L -> "数据", 960002L -> "analysis",
    960003L -> "库",
    960004L -> "カタ", 960004L -> "タカ", 960004L -> "カナ",
    960004L -> "test")

  /** BM25 term over the cjkbigram field: ASCII corpus docs tokenize
    * plainly (bigramming touches only CJK runs); planted docs use the
    * embedded hand-derived streams.
    */
  def cjkTerm(term: String, k: Int): String = {
    val plantedRows = cjkPlanted
      .map { case (id, t) => s"($id, ${lit(t)})" }.mkString(", ")
    val tokRows = cjkPlantedTokens
      .map { case (id, t) => s"($id, ${lit(t)})" }.mkString(", ")
    s"""WITH d2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT * FROM (VALUES $plantedRows) pl(doc_id, text)
), toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
  FROM documents
), tok AS (
  SELECT doc_id, term FROM toks WHERE term <> '' AND length(term) <= 255
  UNION ALL SELECT * FROM (VALUES $tokRows) pt(doc_id, term)
), dlen AS (
  SELECT d.doc_id, count(t.term) AS len
  FROM d2 d LEFT JOIN tok t ON d.doc_id = t.doc_id GROUP BY d.doc_id
), normq(lo, hi, qlen) AS (
  SELECT * FROM (VALUES $normValuesRows)
), dn AS (
  SELECT dlen.doc_id, ${R("normq.qlen")} AS qlen
  FROM dlen JOIN normq ON dlen.len BETWEEN normq.lo AND normq.hi
), av AS (
  SELECT (SELECT count(*) FROM d2) AS n,
         ${R(s"(SELECT count(*) FROM tok) / CAST((SELECT count(*) FROM d2) AS DOUBLE)")} AS avgdl
)""" + termCtes("a", term) + finish("sc_a", k)
  }

  /** Planted docs for the PatternCaptureGroup gate. */
  val capturePlanted: Seq[(Long, String)] = Seq(
    940001L -> "v2engine spark file123 alpha",
    940002L -> "data 123 file123x beta",
    940003L -> "x9y8 merge sort")

  /** BM25 term over a PatternCaptureGroupTokenFilter field
    * (`analysis/common/.../pattern/PatternCaptureGroupTokenFilter
    * .java:107-175`, preserveOriginal=true, pattern
    * `([a-z]+)|([0-9]+)`): tok = every original token plus its letter
    * runs and digit runs as posInc-0 overlays, skipping a capture equal
    * to the whole token (the preserveOriginal guard, :119-121). Norm
    * counts originals; avgdl counts overlays too.
    */
  def captureTerm(term: String, k: Int): String = {
    val plantedRows = capturePlanted
      .map { case (id, t) => s"($id, ${lit(t)})" }.mkString(", ")
    s"""WITH d2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT * FROM (VALUES $plantedRows) pl(doc_id, text)
), toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
  FROM d2
), uni AS (
  SELECT doc_id, term FROM toks WHERE term <> '' AND length(term) <= 255
), cap AS (
  SELECT doc_id, unnest(list_filter(
      regexp_extract_all(term, '[a-z]+') || regexp_extract_all(term, '[0-9]+'),
      x -> x <> term)) AS term
  FROM uni
), tok AS (
  SELECT doc_id, term FROM uni UNION ALL SELECT doc_id, term FROM cap
), dlen AS (
  SELECT d.doc_id, count(u.term) AS len
  FROM d2 d LEFT JOIN uni u ON d.doc_id = u.doc_id GROUP BY d.doc_id
), normq(lo, hi, qlen) AS (
  SELECT * FROM (VALUES $normValuesRows)
), dn AS (
  SELECT dlen.doc_id, ${R("normq.qlen")} AS qlen
  FROM dlen JOIN normq ON dlen.len BETWEEN normq.lo AND normq.hi
), av AS (
  SELECT (SELECT count(*) FROM d2) AS n,
         ${R(s"(SELECT count(*) FROM tok) / CAST((SELECT count(*) FROM d2) AS DOUBLE)")} AS avgdl
)""" + termCtes("a", term) + finish("sc_a", k)
  }

  /** Prologue for the PatternKeywordMarker→Porter chain
    * (`miscellaneous/PatternKeywordMarkerFilter.java:31-55` sets
    * KeywordAttribute on a whole-term `matches()`, `en/PorterStemFilter
    * .java:48` skips keywords): tokens matching `regex` pass through
    * raw, the rest map through the embedded Porter dictionary. Over
    * documents ∪ the porter planted docs.
    */
  def porterExceptTerm(term: String, regex: String, k: Int): String = {
    val plantedRows = porterPlanted
      .map { case (id, t) => s"($id, ${lit(t)})" }.mkString(", ")
    val dictRows = porterDict
      .map { case (w, s) => s"(${lit(w)}, ${lit(s)})" }.mkString(", ")
    s"""WITH d2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT * FROM (VALUES $plantedRows) pl(doc_id, text)
), stemmap(w, st) AS (
  SELECT * FROM (VALUES $dictRows)
), rawtok AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS rt
  FROM d2
), tok AS (
  SELECT r.doc_id,
    CASE WHEN regexp_full_match(r.rt, ${lit(regex)}) THEN r.rt
         ELSE coalesce(m.st, r.rt) END AS term
  FROM (SELECT doc_id, rt FROM rawtok WHERE rt <> '' AND length(rt) <= 255) r
  LEFT JOIN stemmap m ON r.rt = m.w
), dlen AS (
  SELECT d.doc_id, count(t.term) AS len
  FROM d2 d LEFT JOIN tok t ON d.doc_id = t.doc_id GROUP BY d.doc_id
), normq(lo, hi, qlen) AS (
  SELECT * FROM (VALUES $normValuesRows)
), dn AS (
  SELECT dlen.doc_id, ${R("normq.qlen")} AS qlen
  FROM dlen JOIN normq ON dlen.len BETWEEN normq.lo AND normq.hi
), av AS (
  SELECT (SELECT count(*) FROM d2) AS n,
         ${R(s"(SELECT count(*) FROM tok) / CAST((SELECT count(*) FROM d2) AS DOUBLE)")} AS avgdl
)""" + termCtes("a", term) + finish("sc_a", k)
  }

  /** Constant-score docvalues query (`lucene/sandbox/.../search/
    * DocValuesNumbersQuery.java:46`, `DocValuesTermsQuery.java:92`,
    * `DocValuesRangeQuery.java:60`): every doc satisfying the stored-value
    * predicate scores the constant 1.0 — ranking degenerates to docId asc.
    */
  def dvConst(where: String, k: Int): String =
    s"""SELECT doc_id, CAST(1.0 AS DOUBLE) AS score,
  CAST(row_number() OVER (ORDER BY doc_id) AS INT) AS rnk
FROM documents WHERE $where ORDER BY doc_id LIMIT $k"""

  /** BM25 term query with a docvalues-range FILTER clause
    * (DocValuesRangeQuery as a BooleanQuery FILTER occur): scores are the
    * plain term query's; membership additionally requires the doc's
    * stored `field` value in [lo, hi].
    */
  def termDvRange(term: String, field: String, lo: Long, hi: Long,
      k: Int): String =
    prologue + termCtes("a", term) +
      s""", res AS (
  SELECT s.doc_id, s.s FROM sc_a s JOIN documents d ON d.doc_id = s.doc_id
  WHERE d.$field >= $lo AND d.$field <= $hi
)""" + finish("res", k)

  /** Final SELECT: rank + double score under the tie-break law. */
  def finish(rel: String, k: Int, offset: Int = 0): String =
    s"""
SELECT doc_id, CAST(s AS DOUBLE) AS score,
  CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS INT) AS rnk
FROM $rel ORDER BY s DESC, doc_id LIMIT $k OFFSET $offset"""

  // ---------- query builders ----------

  def term(termStr: String, k: Int, offset: Int = 0): String =
    prologue + termCtes("a", termStr) + finish("sc_a", k, offset)

  /** AND over n terms: join, double-sum of float scores, float cast. */
  def and(terms: Seq[String], k: Int): String = {
    val names = terms.indices.map(i => s"t$i")
    val ctes = names.zip(terms).map { case (n, t) => termCtes(n, t) }.mkString
    val joins = names.tail.map(n => s"JOIN sc_$n USING (doc_id)").mkString(" ")
    val sum = names.map(n => s"CAST(sc_$n.s AS DOUBLE)").mkString(" + ")
    prologue + ctes +
      s""", res AS (
  SELECT doc_id, ${R(s"($sum)")} AS s FROM sc_${names.head} $joins
)""" + finish("res", k)
  }

  /** OR (msm) top-k PLUS the exact total hit count on every row — the
    * fused MultiCollector(TopScoreDoc, TotalHitCount) / Solr numFound
    * shape (Searcher.searchWithCount).
    */
  def orWithCount(terms: Seq[String], msm: Int, k: Int): String = {
    val names = terms.indices.map(i => s"t$i")
    val ctes = names.zip(terms).map { case (n, t) => termCtes(n, t) }.mkString
    val union = names.map(n => s"SELECT doc_id, s FROM sc_$n").mkString(" UNION ALL ")
    prologue + ctes +
      s""", un AS ($union), res AS (
  SELECT doc_id, ${R("SUM(CAST(s AS DOUBLE))")} AS s
  FROM un GROUP BY doc_id HAVING count(*) >= $msm
)
SELECT doc_id, CAST(s AS DOUBLE) AS score,
  CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS INT) AS rnk,
  (SELECT count(*) FROM res) AS total_hits
FROM res ORDER BY s DESC, doc_id LIMIT $k"""
  }

  /** OR with minShouldMatch: union, group, count gate. */
  def or(terms: Seq[String], msm: Int, k: Int,
      boosts: Map[String, Float] = Map.empty): String = {
    val names = terms.indices.map(i => s"t$i")
    val ctes = names.zip(terms).map { case (n, t) =>
      termCtes(n, t, boosts.getOrElse(t, 1f))
    }.mkString
    val union = names.map(n => s"SELECT doc_id, s FROM sc_$n").mkString(" UNION ALL ")
    prologue + ctes +
      s""", un AS ($union), res AS (
  SELECT doc_id, ${R("SUM(CAST(s AS DOUBLE))")} AS s
  FROM un GROUP BY doc_id HAVING count(*) >= $msm
)""" + finish("res", k)
  }

  /** Query-time join (JoinUtil + ScoreMode over the `source` field): the
    * from-term's scores fold per join value — Total/Avg replay the
    * doc_id-ordered float `+=` of TermsWithScoreCollector.SV via
    * list_reduce, Min/Max are order-free float compares — and every doc
    * sharing the value scores the fold.
    */
  def joinScored(term: String, mode: String, k: Int): String = {
    val orderedSum =
      s"list_reduce(list_prepend(${R("0")}, list(${R("s")} ORDER BY doc_id)), (acc, x) -> ${R("acc + x")})"
    val foldExpr = mode match {
      case "max"   => R("MAX(s)")
      case "min"   => R("MIN(s)")
      case "total" => orderedSum
      case "avg"   => R(s"$orderedSum / ${R("COUNT(*)")}")
      case "none"  => R("1")
    }
    prologue + termCtes("a", term) +
      s""", fside AS (
  SELECT d.source AS jv, f.doc_id, f.s
  FROM sc_a f JOIN documents d ON f.doc_id = d.doc_id
), folded AS (
  SELECT jv, $foldExpr AS js FROM fside GROUP BY jv
), res AS (
  SELECT d.doc_id, f.js AS s FROM documents d JOIN folded f ON d.source = f.jv
)""" + finish("res", k)
  }

  /** MUST m AND MUST (b0 OR b1 …): conjunction sum of the term and the
    * disjunction (SimpleQueryParser's `m + (a | b)` shape).
    */
  def andOr(m: String, ors: Seq[String], k: Int): String = {
    val names = ors.indices.map(i => s"o$i")
    val ctes = termCtes("m", m) +
      names.zip(ors).map { case (n, t) => termCtes(n, t) }.mkString
    val union = names.map(n => s"SELECT doc_id, s FROM sc_$n").mkString(" UNION ALL ")
    prologue + ctes +
      s""", un AS ($union), osum AS (
  SELECT doc_id, ${R("SUM(CAST(s AS DOUBLE))")} AS s FROM un GROUP BY doc_id
), res AS (
  SELECT sc_m.doc_id,
    ${R("CAST(sc_m.s AS DOUBLE) + CAST(osum.s AS DOUBLE)")} AS s
  FROM sc_m JOIN osum ON sc_m.doc_id = osum.doc_id
)""" + finish("res", k)
  }

  /** a AND NOT b. */
  def not(a: String, b: String, k: Int): String =
    prologue + termCtes("a", a) + termCtes("b", b) +
      s""", res AS (
  SELECT sc_a.doc_id, sc_a.s FROM sc_a
  WHERE NOT EXISTS (SELECT 1 FROM sc_b WHERE sc_b.doc_id = sc_a.doc_id)
)""" + finish("res", k)

  /** MUST m + SHOULD shoulds (optional scores, msm gate). */
  def mustShould(m: String, shoulds: Seq[String], msm: Int, k: Int): String = {
    val names = shoulds.indices.map(i => s"s$i")
    val ctes = termCtes("m", m) +
      names.zip(shoulds).map { case (n, t) => termCtes(n, t) }.mkString
    val union = names.map(n => s"SELECT doc_id, s FROM sc_$n").mkString(" UNION ALL ")
    val gate = if (msm > 0) s"WHERE sa.c >= $msm" else ""
    val joinKind = if (msm > 0) "JOIN" else "LEFT JOIN"
    prologue + ctes +
      s""", un AS ($union), sa AS (
  SELECT doc_id, ${R("SUM(CAST(s AS DOUBLE))")} AS s, count(*) AS c
  FROM un GROUP BY doc_id
), res AS (
  SELECT sc_m.doc_id,
    ${R("CAST(sc_m.s AS DOUBLE) + COALESCE(CAST(sa.s AS DOUBLE), 0)")} AS s
  FROM sc_m $joinKind sa ON sc_m.doc_id = sa.doc_id $gate
)""" + finish("res", k)
  }

  /** MUST m + optional boosted SHOULDs + MUST_NOT n (the parsed-query
    * gate shape: `+m s1 s2^b -n`).
    */
  def mustShouldNot(m: String, shoulds: Seq[(String, Float)], n: String,
      k: Int): String = {
    val names = shoulds.indices.map(i => s"s$i")
    val ctes = termCtes("m", m) + termCtes("n", n) +
      names.zip(shoulds).map { case (nm, (t, b)) => termCtes(nm, t, b) }.mkString
    val union = names.map(nm => s"SELECT doc_id, s FROM sc_$nm").mkString(" UNION ALL ")
    prologue + ctes +
      s""", un AS ($union), sa AS (
  SELECT doc_id, ${R("SUM(CAST(s AS DOUBLE))")} AS s FROM un GROUP BY doc_id
), res AS (
  SELECT sc_m.doc_id,
    ${R("CAST(sc_m.s AS DOUBLE) + COALESCE(CAST(sa.s AS DOUBLE), 0)")} AS s
  FROM sc_m LEFT JOIN sa ON sc_m.doc_id = sa.doc_id
  WHERE NOT EXISTS (SELECT 1 FROM sc_n WHERE sc_n.doc_id = sc_m.doc_id)
)""" + finish("res", k)
  }

  /** CommonTermsQuery (`queries/CommonTermsQuery.java:171-221`) in the
    * SHOULD/SHOULD shape with a non-empty low group: the high/low split
    * is recomputed IN SQL from each term's df against the reference's
    * cutoff (df > ceil(mtf × maxDoc), float multiply) — if the engine
    * splits differently the row set changes and the gate fails. Every
    * term gets score CTEs at BOTH boosts; the split flag routes each
    * term's rows to its group. Score = low-group sum (msm-gated MUST
    * side) + optional high-group sum (msm-gated), the ReqOpt float law.
    */
  def commonTerms(terms: Seq[String], mtf: Float, lowMsm: Int,
      highMsm: Int, lowBoost: Float, highBoost: Float, k: Int): String = {
    val names = terms.indices
    val ctes = names.map { i =>
      termCtes(s"l$i", terms(i), lowBoost) +
        termCtes(s"h$i", terms(i), highBoost)
    }.mkString
    val qdfRows = names.map(i =>
      s"(${lit(terms(i))}, (SELECT count(*) FROM tf_l$i))").mkString(", ")
    val cutoff =
      s"ceil(CAST(${R(mtf.toString)} * ${R("(SELECT n FROM av)")} AS DOUBLE))"
    val absClause =
      if (mtf >= 1f) s"df > $mtf OR df > $cutoff" else s"df > $cutoff"
    val lowUnion = names.map(i =>
      s"SELECT doc_id, s FROM sc_l$i WHERE NOT (SELECT hi FROM grp WHERE term = ${lit(terms(i))})")
      .mkString(" UNION ALL ")
    val highUnion = names.map(i =>
      s"SELECT doc_id, s FROM sc_h$i WHERE (SELECT hi FROM grp WHERE term = ${lit(terms(i))})")
      .mkString(" UNION ALL ")
    prologue + ctes +
      s""", qdf(term, df) AS (
  SELECT * FROM (VALUES $qdfRows)
), grp AS (
  SELECT term, ($absClause) AS hi FROM qdf
), lun AS ($lowUnion), lsa AS (
  SELECT doc_id, ${R("SUM(CAST(s AS DOUBLE))")} AS s
  FROM lun GROUP BY doc_id HAVING count(*) >= $lowMsm
), hun AS ($highUnion), hsa AS (
  SELECT doc_id, ${R("SUM(CAST(s AS DOUBLE))")} AS s
  FROM hun GROUP BY doc_id HAVING count(*) >= $highMsm
), res AS (
  SELECT l.doc_id,
    ${R("CAST(l.s AS DOUBLE) + COALESCE(CAST(h.s AS DOUBLE), 0)")} AS s
  FROM lsa l LEFT JOIN hsa h ON l.doc_id = h.doc_id
)""" + finish("res", k)
  }

  /** BoostingQuery (`queries/BoostingQuery.java:78-96`): score the match
    * disjunction normally; docs also matching the context get one float
    * multiply by `boost`.
    */
  def boosting(matchTerms: Seq[String], ctx: String, boost: Float,
      k: Int): String = {
    val names = matchTerms.indices.map(i => s"t$i")
    val ctes = names.zip(matchTerms).map { case (n, t) => termCtes(n, t) }
      .mkString + termCtes("cx", ctx)
    val union = names.map(n => s"SELECT doc_id, s FROM sc_$n")
      .mkString(" UNION ALL ")
    prologue + ctes +
      s""", un AS ($union), sa AS (
  SELECT doc_id, ${R("SUM(CAST(s AS DOUBLE))")} AS s
  FROM un GROUP BY doc_id
), res AS (
  SELECT doc_id,
    CASE WHEN EXISTS (SELECT 1 FROM sc_cx WHERE sc_cx.doc_id = sa.doc_id)
      THEN ${R(s"s * ${R(boost.toString)}")} ELSE s END AS s
  FROM sa
)""" + finish("res", k)
  }

  /** TermsQuery (`queries/TermsQuery.java:61`): constant score 1 for any
    * doc containing at least one of the terms, doc-id tie order.
    */
  def termsSet(terms: Seq[String], k: Int): String = {
    val in = terms.map(lit).mkString(", ")
    tokDlenCtes +
      s"""
SELECT doc_id, CAST(1.0 AS DOUBLE) AS score,
  CAST(row_number() OVER (ORDER BY doc_id) AS INT) AS rnk
FROM (SELECT DISTINCT doc_id FROM tok WHERE term IN ($in))
ORDER BY doc_id LIMIT $k"""
  }

  /** A ValueSrc as REAL-cast SQL over a `documents` row aliased `alias` —
    * one CAST(... AS REAL) per float op, mirroring ValueSources.toColumn
    * node for node (laws cited on the case classes). `queryRef` resolves
    * QueryV nodes to a score expression the caller has CTE'd.
    */
  def vsSql(vs: graft.search.ValueSrc, alias: String,
      queryRef: graft.search.QueryV => String =
        qv => sys.error(s"no oracle ref for $qv"),
      queryExistsRef: graft.search.QueryV => String =
        qv => sys.error(s"no oracle exists-ref for $qv")): String = {
    import graft.search._
    // the reference's default boolVal: (int) floatVal != 0 — DuckDB
    // trunc() reproduces Java's toward-zero (int) cast (a plain INTEGER
    // cast would round)
    def boolSql(x: ValueSrc): String = x match {
      case ExistsV(_) | NotV(_) | AndV(_) | OrV(_) =>
        s"(${go(x)} <> CAST(0 AS REAL))"
      case _ => s"(CAST(trunc(${go(x)}) AS INTEGER) <> 0)"
    }
    def existsSql(x: ValueSrc): String = x match {
      case FieldV(f) => s"($alias.$f IS NOT NULL)"
      case qv: QueryV => queryExistsRef(qv)
      case _ => "TRUE"
    }
    def go(v: ValueSrc): String = v match {
      case IfV(c, t, f) =>
        s"(CASE WHEN ${boolSql(c)} THEN ${go(t)} ELSE ${go(f)} END)"
      case ExistsV(x) =>
        s"(CASE WHEN ${existsSql(x)} THEN ${R("1")} ELSE ${R("0")} END)"
      case NotV(x) =>
        s"(CASE WHEN ${boolSql(x)} THEN ${R("0")} ELSE ${R("1")} END)"
      case AndV(xs) =>
        s"(CASE WHEN ${xs.map(boolSql).mkString(" AND ")} THEN ${R("1")} ELSE ${R("0")} END)"
      case OrV(xs) =>
        s"(CASE WHEN ${xs.map(boolSql).mkString(" OR ")} THEN ${R("1")} ELSE ${R("0")} END)"
      case DefV(xs) =>
        xs.dropRight(1).foldRight(go(xs.last))((x, acc) =>
          s"(CASE WHEN ${existsSql(x)} THEN ${go(x)} ELSE $acc END)")
      case ConstV(c) => R(c.toString)
      case FieldV(f) => R(s"$alias.$f")
      case SumV(xs) => xs.map(go).reduceLeft((a, b) => R(s"$a + $b"))
      case ProductV(xs) => xs.map(go).reduceLeft((a, b) => R(s"$a * $b"))
      case DivV(a, b) => R(s"${go(a)} / ${go(b)}")
      case PowV(a, b) => R(s"pow(${go(a)}, ${go(b)})")
      case MaxV(xs) => xs.map(go).reduceLeft((a, b) => R(s"greatest($a, $b)"))
      case MinV(xs) => xs.map(go).reduceLeft((a, b) => R(s"least($a, $b)"))
      case LinearV(x, s, i) =>
        R(s"${R(s"${go(x)} * ${R(s.toString)}")} + ${R(i.toString)}")
      case RecipV(x, m, a, b) =>
        R(s"${R(a.toString)} / ${R(s"${R(s"${R(m.toString)} * ${go(x)}")} + ${R(b.toString)}")}")
      case RangeMapV(x, mn, mx, tgt, dflt) =>
        val xe = go(x)
        val other = dflt.map(d => R(d.toString)).getOrElse(xe)
        s"(CASE WHEN $xe >= ${R(mn.toString)} AND $xe <= ${R(mx.toString)} THEN ${R(tgt.toString)} ELSE $other END)"
      case ScaleV(x, mn, mx) =>
        // corpus min/max of the source (float min/max ≡ min/max then cast
        // for these monotone expressions), then the reference's scale law
        val inner2 = vsSql(x, "d2", queryRef)
        val minS = R(s"(SELECT min($inner2) FROM documents d2)")
        val maxS = R(s"(SELECT max($inner2) FROM documents d2)")
        val span = R(s"$maxS - $minS")
        val scale =
          s"(CASE WHEN $span = 0 THEN ${R("0")} ELSE ${R(s"${R(s"${R(mx.toString)} - ${R(mn.toString)}")} / $span")} END)"
        R(s"${R(s"${R(s"${go(x)} - $minS")} * $scale")} + ${R(mn.toString)}")
      case Log10V(x) => R(s"log10(${go(x)})")
      case LnV(x) => R(s"ln(${go(x)})")
      case SqrtV(x) => R(s"sqrt(${go(x)})")
      case AbsV(x) => R(s"abs(${go(x)})")
      case qv: QueryV => queryRef(qv)
      // ---- index-stat sources (need the `tok` prologue in scope; for
      // NormV also `dlen` + the normv decode table) ----
      case TermFreqV(t) =>
        R(s"COALESCE((SELECT count(*) FROM tok WHERE tok.doc_id = $alias.doc_id AND term = ${lit(t)}), 0)")
      case TfV(t) =>
        // ClassicSimilarity.tf = (float)sqrt(freq)
        R(s"sqrt(CAST(${go(TermFreqV(t))} AS DOUBLE))")
      case DocFreqV(t) =>
        R(s"(SELECT count(DISTINCT doc_id) FROM tok WHERE term = ${lit(t)})")
      case IdfV(t) =>
        // (float)(log(maxDoc/(double)(df+1)) + 1.0)
        R(s"ln(CAST((SELECT count(*) FROM documents) AS DOUBLE) / ((SELECT count(DISTINCT doc_id) FROM tok WHERE term = ${lit(t)}) + 1)) + 1.0")
      case MaxDocV => R("(SELECT count(*) FROM documents)")
      // the gate fixtures carry no tombstones: numDocs = maxDoc
      case NumDocsV => R("(SELECT count(*) FROM documents)")
      case TotalTermFreqV(t) =>
        R(s"(SELECT count(*) FROM tok WHERE term = ${lit(t)})")
      case SumTotalTermFreqV => R("(SELECT count(*) FROM tok)")
      case NormV =>
        // byte315 decode of the stored norm: len → decoded float via the
        // embedded (lo, hi, nv) table (generated from the same encoder)
        R(s"(SELECT v.nv FROM dlen, normv v WHERE dlen.doc_id = $alias.doc_id AND dlen.len BETWEEN v.lo AND v.hi)")
    }
    go(vs)
  }

  /** Whether the tree contains index-stat sources (they pull the token
    * prologue — and for NormV the decode table — into the oracle).
    */
  def usesIndexStats(vs: graft.search.ValueSrc): Boolean = {
    import graft.search._
    (vs match {
      case TermFreqV(_) | TfV(_) | DocFreqV(_) | IdfV(_) | MaxDocV |
          NumDocsV | TotalTermFreqV(_) | SumTotalTermFreqV | NormV => true
      case _ => false
    }) || ValueSources.childrenOf(vs).exists(usesIndexStats)
  }

  private def usesNorm(vs: graft.search.ValueSrc): Boolean =
    vs == graft.search.NormV ||
      graft.search.ValueSources.childrenOf(vs).exists(usesNorm)

  /** (lo, hi, decoded) rows for the byte315 norm decode — generated from
    * the engine's own encoder so the oracle is exact by construction.
    */
  private lazy val normDecodeRows: String =
    Norms.lengthRanges().map { case (lo, hi, _) =>
      val nv = graft.core.SmallFloat.byte315ToFloat(
        Norms.normByte(lo.toInt))
      s"($lo, ${if (hi == Long.MaxValue) "9223372036854775807" else hi}, CAST('$nv' AS REAL))"
    }.mkString(", ")

  /** FunctionQuery (`function/FunctionQuery.java:46-120`): every doc,
    * score = the value. No tokenization needed unless the tree embeds
    * QueryV terms — pass them via `termVs` (term → defVal), each gets a
    * score CTE and a COALESCE lookup.
    */
  def functionQuery(vs: graft.search.ValueSrc, k: Int,
      termVs: Seq[String] = Nil): String = {
    import graft.search._
    val names = termVs.distinct.sorted.zipWithIndex
      .map { case (t, i) => t -> s"qv$i" }.toMap
    val statCtes =
      if (!usesIndexStats(vs)) ""
      else if (!usesNorm(vs)) ""
      else s", normv(lo, hi, nv) AS (SELECT * FROM (VALUES $normDecodeRows))"
    val pro =
      if (termVs.isEmpty && !usesIndexStats(vs)) ""
      else prologue + statCtes + names.toSeq.sortBy(_._2)
        .map { case (t, n) => termCtes(n, t) }.mkString + " "
    val ref: QueryV => String = {
      case QueryV(TermQ(t), d) if names.contains(t) =>
        R(s"COALESCE((SELECT s FROM sc_${names(t)} WHERE sc_${names(t)}.doc_id = d.doc_id), ${R(d.toString)})")
      case qv => sys.error(s"oracle supports QueryV(TermQ) only, got $qv")
    }
    val existsRef: QueryV => String = {
      case QueryV(TermQ(t), _) if names.contains(t) =>
        s"EXISTS (SELECT 1 FROM sc_${names(t)} WHERE sc_${names(t)}.doc_id = d.doc_id)"
      case qv => sys.error(s"oracle supports QueryV(TermQ) only, got $qv")
    }
    s"""${pro}SELECT d.doc_id AS doc_id, CAST(${vsSql(vs, "d", ref, existsRef)} AS DOUBLE) AS score,
  CAST(row_number() OVER (ORDER BY ${vsSql(vs, "d", ref, existsRef)} DESC, d.doc_id) AS INT) AS rnk
FROM documents d ORDER BY score DESC, doc_id LIMIT $k"""
  }

  /** BoostedQuery (`function/BoostedQuery.java:72-115`): the or-group's
    * float score × the value, one float multiply.
    */
  def boostedOr(terms: Seq[String], vs: graft.search.ValueSrc,
      k: Int): String = {
    val names = terms.indices.map(i => s"t$i")
    val ctes = names.zip(terms).map { case (n, t) => termCtes(n, t) }.mkString
    val union = names.map(n => s"SELECT doc_id, s FROM sc_$n")
      .mkString(" UNION ALL ")
    prologue + ctes +
      s""", un AS ($union), sa AS (
  SELECT doc_id, ${R("SUM(CAST(s AS DOUBLE))")} AS s
  FROM un GROUP BY doc_id
), res AS (
  SELECT sa.doc_id, ${R(s"sa.s * ${vsSql(vs, "d")}")} AS s
  FROM sa JOIN documents d ON sa.doc_id = d.doc_id
)""" + finish("res", k)
  }

  /** CustomScoreQuery (`queries/CustomScoreQuery.java:291-304` with the
    * default `CustomScoreProvider.customScore`,
    * `CustomScoreProvider.java:66-88`): matches = the BM25 disjunction of
    * `terms`; score = boost * (subScore * v0 * v1 * ...) — each multiply
    * float-cast to replay the scorer's sequential float fold.
    */
  def customScore(terms: Seq[String], vss: Seq[graft.search.ValueSrc],
      boost: Float, k: Int): String = {
    val names = terms.indices.map(i => s"t$i")
    val ctes = names.zip(terms).map { case (n, t) => termCtes(n, t) }.mkString
    val union = names.map(n => s"SELECT doc_id, s FROM sc_$n")
      .mkString(" UNION ALL ")
    val folded = vss.foldLeft("sa.s")((acc, vs) => R(s"$acc * ${vsSql(vs, "d")}"))
    prologue + ctes +
      s""", un AS ($union), sa AS (
  SELECT doc_id, ${R("SUM(CAST(s AS DOUBLE))")} AS s
  FROM un GROUP BY doc_id
), res AS (
  SELECT sa.doc_id, ${R(s"${R(boost.toString)} * $folded")} AS s
  FROM sa JOIN documents d ON sa.doc_id = d.doc_id
)""" + finish("res", k)
  }

  /** FunctionRangeQuery (`function/FunctionRangeQuery.java:40-96`):
    * value in [lower, upper], score = value.
    */
  def functionRange(vs: graft.search.ValueSrc, lower: Float, upper: Float,
      k: Int, inclLower: Boolean = true, inclUpper: Boolean = true): String = {
    val e = vsSql(vs, "d")
    val lo = if (inclLower) ">=" else ">"
    val hi = if (inclUpper) "<=" else "<"
    s"""SELECT doc_id, CAST(s AS DOUBLE) AS score,
  CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS INT) AS rnk
FROM (SELECT d.doc_id AS doc_id, $e AS s FROM documents d
      WHERE $e $lo ${R(lower.toString)} AND $e $hi ${R(upper.toString)})
ORDER BY s DESC, doc_id LIMIT $k"""
  }

  /** TermsComponent enumeration (`handler/component/TermsComponent.java
    * :60-170`): df per term from scratch, the component's filter set, and
    * the CountPair (df desc, term asc) or index (term asc) order.
    */
  def termsEnum(limit: Int, prefix: Option[String] = None,
      lower: Option[String] = None, upper: Option[String] = None,
      lowerIncl: Boolean = true, upperIncl: Boolean = false,
      regexp: Option[String] = None, minCount: Long = 1L,
      maxCount: Long = Long.MaxValue, sortByCount: Boolean = true): String = {
    val conds = Seq(
      prefix.map(p => s"term LIKE ${lit(p + "%")}"),
      lower.map(l => s"term ${if (lowerIncl) ">=" else ">"} ${lit(l)}"),
      upper.map(u => s"term ${if (upperIncl) "<=" else "<"} ${lit(u)}"),
      regexp.map(r => s"regexp_full_match(term, ${lit(r)})"),
      Some(s"df >= $minCount"),
      if (maxCount == Long.MaxValue) None else Some(s"df <= $maxCount")
    ).flatten.mkString(" AND ")
    val order = if (sortByCount) "df DESC, term" else "term"
    tokDlenCtes +
      s""", tdf AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term
)
SELECT term, df FROM tdf WHERE $conds ORDER BY $order LIMIT $limit"""
  }

  /** QueryElevationComponent over an or-group
    * (`handler/component/QueryElevationComponent.java:383-415`): pinned
    * ids first in priority order (score = match score or 0), excluded
    * ids gone, organic tail under the normal law.
    */
  def elevatedOr(terms: Seq[String], elevate: Seq[Long],
      exclude: Set[Long], k: Int): String = {
    val names = terms.indices.map(i => s"t$i")
    val ctes = names.zip(terms).map { case (n, t) => termCtes(n, t) }.mkString
    val union = names.map(n => s"SELECT doc_id, s FROM sc_$n")
      .mkString(" UNION ALL ")
    val evRows = elevate.zipWithIndex
      .map { case (d, i) => s"($d, ${i + 1})" }.mkString(", ")
    val exCl =
      if (exclude.isEmpty) "1=1"
      else s"ev.doc_id NOT IN (${exclude.mkString(", ")})"
    val orgNotIn = (elevate ++ exclude).mkString(", ")
    prologue + ctes +
      s""", un AS ($union), res AS (
  SELECT doc_id, ${R("SUM(CAST(s AS DOUBLE))")} AS s
  FROM un GROUP BY doc_id
), ev(doc_id, pri) AS (
  SELECT * FROM (VALUES $evRows)
), headx AS (
  SELECT ev.doc_id,
    COALESCE((SELECT CAST(s AS DOUBLE) FROM res WHERE res.doc_id = ev.doc_id),
             0.0) AS score, pri
  FROM ev WHERE $exCl
), orgx AS (
  SELECT doc_id, CAST(s AS DOUBLE) AS score FROM res
  WHERE doc_id NOT IN ($orgNotIn)
)
SELECT doc_id, score,
  CAST(row_number() OVER (ORDER BY grp, pri, score DESC, doc_id) AS INT) AS rnk
FROM (
  SELECT doc_id, score, 0 AS grp, pri FROM headx
  UNION ALL SELECT doc_id, score, 1 AS grp, 0 AS pri FROM orgx
) ORDER BY grp, pri, score DESC, doc_id LIMIT $k"""
  }

  /** MUST m FILTER f: filter matches without contributing score. */
  def mustFilter(m: String, f: String, k: Int): String =
    prologue + termCtes("m", m) + termCtes("f", f) +
      s""", res AS (
  SELECT sc_m.doc_id, sc_m.s FROM sc_m
  WHERE EXISTS (SELECT 1 FROM sc_f WHERE sc_f.doc_id = sc_m.doc_id)
)""" + finish("res", k)

  /** DisMax: max + tie*(sum - max), float ops. */
  def dismax(terms: Seq[String], tie: Float, k: Int): String = {
    val names = terms.indices.map(i => s"t$i")
    val ctes = names.zip(terms).map { case (n, t) => termCtes(n, t) }.mkString
    val union = names.map(n => s"SELECT doc_id, s FROM sc_$n").mkString(" UNION ALL ")
    prologue + ctes +
      s""", un AS ($union), ag AS (
  SELECT doc_id, MAX(s) AS mx, SUM(CAST(s AS DOUBLE)) AS sm
  FROM un GROUP BY doc_id
), res AS (
  SELECT doc_id,
    ${R(s"mx + ${R(s"${R(tie.toString)} * ${R(s"${R("sm")} - mx")}")}")} AS s
  FROM ag
)""" + finish("res", k)
  }

  /** MUST m + ONE DisjunctionMax SHOULD group over `shoulds` — the
    * MaxScoreQParser shape (`solr/core/.../search/MaxScoreQParser.java:
    * 56-95`): score = float(must + dismax-if-matched), matching driven
    * by the MUST clause alone.
    */
  def mustDismax(m: String, shoulds: Seq[String], tie: Float,
      k: Int): String = {
    val names = shoulds.indices.map(i => s"s$i")
    val ctes = termCtes("m", m) +
      names.zip(shoulds).map { case (n, t) => termCtes(n, t) }.mkString
    val union = names.map(n => s"SELECT doc_id, s FROM sc_$n")
      .mkString(" UNION ALL ")
    prologue + ctes +
      s""", un AS ($union), ag AS (
  SELECT doc_id, MAX(s) AS mx, SUM(CAST(s AS DOUBLE)) AS sm
  FROM un GROUP BY doc_id
), dm AS (
  SELECT doc_id,
    ${R(s"mx + ${R(s"${R(tie.toString)} * ${R(s"${R("sm")} - mx")}")}")} AS s
  FROM ag
), res AS (
  SELECT sc_m.doc_id,
    ${R("CAST(sc_m.s AS DOUBLE) + COALESCE(CAST(dm.s AS DOUBLE), 0)")} AS s
  FROM sc_m LEFT JOIN dm ON sc_m.doc_id = dm.doc_id
)""" + finish("res", k)
  }

  /** edismax qf: per term a dismax over per-FIELD BM25 scores — each field
    * (a documents-table column) has its own token stream, df, avgdl and
    * norms, scaled by its qf boost — then SHOULD across terms with mm
    * (`ExtendedDismaxQParser.java:40-120`; per-field stats exactly as the
    * engine's per-field indexes compute them). Float pipeline mirrors the
    * engine: weight = (boost × idf) × (k1+1), dismax = mx + tie×(sm−mx),
    * term sum double → float.
    */
  /** With `pf` (phrase-boost fields, columns drawn from `fields`): the
    * whole term sequence as an exact phrase per pf field, dismax-combined
    * and added to matching docs' scores — score = float(main +
    * phrase-if-matched), the ReqOpt shape of the engine's outer
    * BooleanQuery (`ExtendedDismaxQParser.java:230-260`).
    */
  def edismaxQf(terms: Seq[String], fields: Seq[(String, Float)],
      msm: Int, tie: Float, k: Int,
      pf: Seq[(String, Float)] = Nil): String = {
    def idfE(dfExpr: String, av: String): String =
      R(s"ln(1 + ((SELECT n FROM $av) - $dfExpr + 0.5)/($dfExpr + 0.5))")
    def wE(dfExpr: String, av: String, boost: Float): String = {
      val idf = idfE(dfExpr, av)
      val bIdf = if (boost == 1f) idf else R(s"${R(boost.toString)} * $idf")
      R(s"$bIdf * ($K1 + ${R("1")})")
    }
    def cacheE(qlenCol: String, av: String): String =
      R(s"$K1 * ${R(s"(${R("1")} - $B) + ${R(s"${R(s"$B * $qlenCol")} / (SELECT avgdl FROM $av)")}")}")

    val fieldCtes = fields.zipWithIndex.map { case ((colName, _), i) =>
      s""", tok_f$i AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest(regexp_split_to_array(lower($colName), '[^a-z0-9]+')) AS term
    FROM documents
  ) WHERE term <> '' AND length(term) <= 255
), dlen_f$i AS (
  SELECT d.doc_id, count(t.term) AS len
  FROM documents d LEFT JOIN tok_f$i t ON d.doc_id = t.doc_id GROUP BY d.doc_id
), dn_f$i AS (
  SELECT dlen_f$i.doc_id, ${R("normq.qlen")} AS qlen
  FROM dlen_f$i JOIN normq ON dlen_f$i.len BETWEEN normq.lo AND normq.hi
), av_f$i AS (
  SELECT (SELECT count(*) FROM documents) AS n,
    ${R(s"(SELECT count(*) FROM tok_f$i) / CAST((SELECT count(*) FROM documents) AS DOUBLE)")} AS avgdl
)"""
    }.mkString

    val scCtes = (for {
      ((_, boost), i) <- fields.zipWithIndex
      (t, j) <- terms.zipWithIndex
    } yield {
      val w = wE(s"(SELECT count(*) FROM tf_f${i}_t$j)", s"av_f$i", boost)
      val tfR = R("t.tf")
      val score = R(s"${R(s"$w * $tfR")} / ${R(s"$tfR + ${cacheE("dn.qlen", s"av_f$i")}")}")
      s""", tf_f${i}_t$j AS (
  SELECT doc_id, count(*) AS tf FROM tok_f$i WHERE term = ${lit(t)} GROUP BY doc_id
), sc_f${i}_t$j AS (
  SELECT t.doc_id, $score AS s
  FROM tf_f${i}_t$j t JOIN dn_f$i dn ON t.doc_id = dn.doc_id
)"""
    }).mkString

    val dmCtes = terms.indices.map { j =>
      val union = fields.indices
        .map(i => s"SELECT doc_id, s FROM sc_f${i}_t$j")
        .mkString(" UNION ALL ")
      s""", un_t$j AS ($union), dm_t$j AS (
  SELECT doc_id,
    ${R(s"mx + ${R(s"${R(tie.toString)} * ${R(s"${R("sm")} - mx")}")}")} AS s
  FROM (SELECT doc_id, MAX(s) AS mx, SUM(CAST(s AS DOUBLE)) AS sm
        FROM un_t$j GROUP BY doc_id)
)"""
    }.mkString

    val allUnion = terms.indices
      .map(j => s"SELECT doc_id, s FROM dm_t$j").mkString(" UNION ALL ")

    // pf: per pf field an exact-phrase score CTE (adjacency chain join
    // over that field's positions), then the same dismax combine
    val pfCtes = pf.map { case (colName, boost) =>
      val i = fields.indexWhere(_._1 == colName)
      require(i >= 0, s"pf column $colName must be in fields")
      val idfs = terms.map(t => idfE(
        s"(SELECT count(DISTINCT doc_id) FROM tok_f$i WHERE term = ${lit(t)})",
        s"av_f$i"))
      val idfSum = idfs.reduce((x, y) => R(s"$x + $y"))
      val bIdf = if (boost == 1f) idfSum else R(s"${R(boost.toString)} * $idfSum")
      val w = R(s"$bIdf * ($K1 + ${R("1")})")
      val tfR = R("p.tf")
      val score = R(s"${R(s"$w * $tfR")} / ${R(s"$tfR + ${cacheE("dn.qlen", s"av_f$i")}")}")
      val joins = terms.indices.tail.map(j =>
        s"JOIN px_f$i p$j ON p$j.doc_id = p0.doc_id AND p$j.pos = p0.pos + $j AND p$j.term = ${lit(terms(j))}")
        .mkString("\n  ")
      s""", px_f$i AS (
  SELECT doc_id, unnest(arr) AS term, generate_subscripts(arr, 1) AS pos
  FROM (SELECT doc_id,
          list_filter(regexp_split_to_array(lower($colName), '[^a-z0-9]+'),
                      x -> x <> '' AND length(x) <= 255) AS arr
        FROM documents)
), phtf_f$i AS (
  SELECT p0.doc_id, count(*) AS tf
  FROM px_f$i p0
  $joins
  WHERE p0.term = ${lit(terms.head)}
  GROUP BY p0.doc_id
), phsc_f$i AS (
  SELECT p.doc_id, $score AS s
  FROM phtf_f$i p JOIN dn_f$i dn ON p.doc_id = dn.doc_id
)"""
    }.mkString
    val pfFinal =
      if (pf.isEmpty) s""", res AS (
  SELECT doc_id, ${R("SUM(CAST(s AS DOUBLE))")} AS s
  FROM allt GROUP BY doc_id HAVING count(*) >= $msm
)"""
      else {
        val pfUnion = pf.map { case (colName, _) =>
          val i = fields.indexWhere(_._1 == colName)
          s"SELECT doc_id, s FROM phsc_f$i"
        }.mkString(" UNION ALL ")
        s""", res0 AS (
  SELECT doc_id, ${R("SUM(CAST(s AS DOUBLE))")} AS s
  FROM allt GROUP BY doc_id HAVING count(*) >= $msm
), pfun AS ($pfUnion), pfdm AS (
  SELECT doc_id,
    ${R(s"mx + ${R(s"${R(tie.toString)} * ${R(s"${R("sm")} - mx")}")}")} AS s
  FROM (SELECT doc_id, MAX(s) AS mx, SUM(CAST(s AS DOUBLE)) AS sm
        FROM pfun GROUP BY doc_id)
), res AS (
  SELECT r.doc_id,
    ${R("CAST(r.s AS DOUBLE) + COALESCE(CAST(p.s AS DOUBLE), 0)")} AS s
  FROM res0 r LEFT JOIN pfdm p ON r.doc_id = p.doc_id
)"""
      }
    s"""WITH normq(lo, hi, qlen) AS (
  SELECT * FROM (VALUES $normValuesRows)
)""" + fieldCtes + scCtes + dmCtes + pfCtes +
      s""", allt AS ($allUnion)""" + pfFinal + finish("res", k)
  }

  /** PerFieldSimilarityWrapper under edismax qf
    * (`PerFieldSimilarityWrapper.java:35`): field 0 = `text` scored BM25,
    * field 1 = `source` scored LMDirichlet (μ=2000), boosts 1, per-term
    * cross-field DisMax with `tie`, Solr mm over terms. Each field's
    * weight uses ITS OWN collection stats (df/ttf/avgdl/docLen from that
    * field's tokens), exactly like two separate single-field indexes.
    */
  def edismaxPerSim(terms: Seq[String], msm: Int, tie: Float,
      k: Int): String = {
    val fieldCols = Seq("text", "source")
    def idfE(dfExpr: String, av: String): String =
      R(s"ln(1 + ((SELECT n FROM $av) - $dfExpr + 0.5)/($dfExpr + 0.5))")
    def cacheE(qlenCol: String, av: String): String =
      R(s"$K1 * ${R(s"(${R("1")} - $B) + ${R(s"${R(s"$B * $qlenCol")} / (SELECT avgdl FROM $av)")}")}")

    val fieldCtes = fieldCols.zipWithIndex.map { case (colName, i) =>
      s""", tok_f$i AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest(regexp_split_to_array(lower($colName), '[^a-z0-9]+')) AS term
    FROM documents
  ) WHERE term <> '' AND length(term) <= 255
), dlen_f$i AS (
  SELECT d.doc_id, count(t.term) AS len
  FROM documents d LEFT JOIN tok_f$i t ON d.doc_id = t.doc_id GROUP BY d.doc_id
), dn_f$i AS (
  SELECT dlen_f$i.doc_id, ${R("normq.qlen")} AS qlen
  FROM dlen_f$i JOIN normq ON dlen_f$i.len BETWEEN normq.lo AND normq.hi
), av_f$i AS (
  SELECT (SELECT count(*) FROM documents) AS n,
    ${R(s"(SELECT count(*) FROM tok_f$i) / CAST((SELECT count(*) FROM documents) AS DOUBLE)")} AS avgdl
)"""
    }.mkString

    // LMDirichlet score against field fi's collection model (same float/
    // double sequencing as the single-field lmScoreExpr)
    def lmScoreF(tfCol: String, qlenCol: String, term: String,
        fi: Int): String = {
      val mu = R("2000.0")
      val fttf = R(s"CAST((SELECT count(*) FROM tok_f$fi WHERE term = ${lit(term)}) AS REAL) + ${R("1.0")}")
      val ftot = R(s"CAST((SELECT count(*) FROM tok_f$fi) AS REAL) + ${R("1.0")}")
      val muCp = R(s"$mu * ${R(s"$fttf / $ftot")}")
      val log1 = s"ln(CAST(${R(s"${R("1.0")} + ${R(s"${R(s"CAST($tfCol AS REAL)")} / $muCp")}")} AS DOUBLE))"
      val log2 = s"ln(CAST(${R(s"$mu / ${R(s"$qlenCol + $mu")}")} AS DOUBLE))"
      s"greatest(${R(s"$log1 + $log2")}, ${R("0.0")})"
    }

    val scCtes = (for {
      i <- fieldCols.indices
      (t, j) <- terms.zipWithIndex
    } yield {
      val score =
        if (i == 0) {
          val idf = idfE(s"(SELECT count(*) FROM tf_f${i}_t$j)", s"av_f$i")
          val w = R(s"$idf * ($K1 + ${R("1")})")
          val tfR = R("t.tf")
          R(s"${R(s"$w * $tfR")} / ${R(s"$tfR + ${cacheE("dn.qlen", s"av_f$i")}")}")
        } else lmScoreF("t.tf", "dn.qlen", t, i)
      s""", tf_f${i}_t$j AS (
  SELECT doc_id, count(*) AS tf FROM tok_f$i WHERE term = ${lit(t)} GROUP BY doc_id
), sc_f${i}_t$j AS (
  SELECT t.doc_id, $score AS s
  FROM tf_f${i}_t$j t JOIN dn_f$i dn ON t.doc_id = dn.doc_id
)"""
    }).mkString

    val dmCtes = terms.indices.map { j =>
      val union = fieldCols.indices
        .map(i => s"SELECT doc_id, s FROM sc_f${i}_t$j")
        .mkString(" UNION ALL ")
      s""", un_t$j AS ($union), dm_t$j AS (
  SELECT doc_id,
    ${R(s"mx + ${R(s"${R(tie.toString)} * ${R(s"${R("sm")} - mx")}")}")} AS s
  FROM (SELECT doc_id, MAX(s) AS mx, SUM(CAST(s AS DOUBLE)) AS sm
        FROM un_t$j GROUP BY doc_id)
)"""
    }.mkString

    val allUnion = terms.indices
      .map(j => s"SELECT doc_id, s FROM dm_t$j").mkString(" UNION ALL ")

    s"""WITH normq(lo, hi, qlen) AS (
  SELECT * FROM (VALUES $normValuesRows)
)""" + fieldCtes + scCtes + dmCtes +
      s""", allt AS ($allUnion), res AS (
  SELECT doc_id, ${R("SUM(CAST(s AS DOUBLE))")} AS s
  FROM allt GROUP BY doc_id HAVING count(*) >= $msm
)""" + finish("res", k)
  }

  /** BlendedTermQuery: per-term scores sharing ONE weight (idf of max df
    * over members — `BlendedTermQuery.java:62-88`), dismax-combined with
    * the blend tie.
    */
  def blended(terms: Seq[String], tie: Float, k: Int): String = {
    val names = terms.indices.map(i => s"t$i")
    val tfCtes = names.zip(terms).map { case (n, t) =>
      s""", tf_$n AS (
  SELECT doc_id, count(*) AS tf FROM tok WHERE term = ${lit(t)} GROUP BY doc_id
)"""
    }.mkString
    val dfMax = names.map(n => s"(SELECT count(*) FROM tf_$n)")
      .reduce((a, b) => s"greatest($a, $b)")
    val scCtes = names.map { n =>
      s""", sc_$n AS (
  SELECT t.doc_id, ${scoreExpr("t.tf", "dn.qlen", dfMax)} AS s
  FROM tf_$n t JOIN dn ON t.doc_id = dn.doc_id
)"""
    }.mkString
    val union = names.map(n => s"SELECT doc_id, s FROM sc_$n").mkString(" UNION ALL ")
    prologue + tfCtes + scCtes +
      s""", un AS ($union), ag AS (
  SELECT doc_id, MAX(s) AS mx, SUM(CAST(s AS DOUBLE)) AS sm
  FROM un GROUP BY doc_id
), res AS (
  SELECT doc_id,
    ${R(s"mx + ${R(s"${R(tie.toString)} * ${R(s"${R("sm")} - mx")}")}")} AS s
  FROM ag
)""" + finish("res", k)
  }

  /** SynonymQuery: summed tf, df = max over members. */
  def synonym(terms: Seq[String], k: Int): String = {
    val names = terms.indices.map(i => s"t$i")
    val tfCtes = names.zip(terms).map { case (n, t) =>
      s""", tf_$n AS (
  SELECT doc_id, count(*) AS tf FROM tok WHERE term = ${lit(t)} GROUP BY doc_id
)"""
    }.mkString
    val union = names.map(n => s"SELECT doc_id, tf FROM tf_$n").mkString(" UNION ALL ")
    val dfMax = names.map(n => s"(SELECT count(*) FROM tf_$n)")
      .reduce((a, b) => s"greatest($a, $b)")
    prologue + tfCtes +
      s""", un AS ($union), tfs AS (
  SELECT doc_id, SUM(tf) AS tf FROM un GROUP BY doc_id
), res AS (
  SELECT t.doc_id, ${scoreExpr("t.tf", "dn.qlen", dfMax)} AS s
  FROM tfs t JOIN dn ON t.doc_id = dn.doc_id
)""" + finish("res", k)
  }

  /** Exact phrase (2 terms): adjacency count as freq, idf = Σ member idfs. */
  def phrase2(a: String, b: String, k: Int): String = {
    val idfSum = R(s"${idfExpr(s"(SELECT count(DISTINCT doc_id) FROM tok WHERE term = ${lit(a)})")} + ${idfExpr(s"(SELECT count(DISTINCT doc_id) FROM tok WHERE term = ${lit(b)})")}")
    val w = R(s"$idfSum * ($K1 + ${R("1")})")
    val tfR = R("p.tf")
    val score = R(s"${R(s"$w * $tfR")} / ${R(s"$tfR + ${cacheExpr("dn.qlen")}")}")
    prologue +
      s""", posx AS (
  SELECT doc_id, unnest(arr) AS term, generate_subscripts(arr, 1) AS pos
  FROM (SELECT doc_id,
          list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                      x -> x <> '' AND length(x) <= 255) AS arr
        FROM documents)
), ph AS (
  SELECT p1.doc_id, count(*) AS tf
  FROM posx p1 JOIN posx p2 ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1
  WHERE p1.term = ${lit(a)} AND p2.term = ${lit(b)}
  GROUP BY p1.doc_id
), res AS (
  SELECT p.doc_id, $score AS s FROM ph p JOIN dn ON p.doc_id = dn.doc_id
)""" + finish("res", k)
  }

  /** Filter-only bool: matches the term intersection with score 0
    * (BooleanWeight filter-only semantics) — ranking degenerates to the
    * docId-asc tie-break.
    */
  def filterOnly(terms: Seq[String], k: Int): String = {
    val exists = terms.map(t =>
      s"EXISTS (SELECT 1 FROM tok WHERE tok.doc_id = d.doc_id AND term = ${lit(t)})")
      .mkString(" AND ")
    prologue +
      s""", res AS (
  SELECT d.doc_id, CAST(0.0 AS REAL) AS s FROM documents d WHERE $exists
)""" + finish("res", k)
  }

  /** MUST MatchAll (scores 1.0) AND NOT `t` — 'all docs except…'. */
  def notAll(t: String, k: Int): String =
    prologue +
      s""", res AS (
  SELECT d.doc_id, CAST(1.0 AS REAL) AS s FROM documents d
  WHERE NOT EXISTS (SELECT 1 FROM tok WHERE tok.doc_id = d.doc_id AND term = ${lit(t)})
)""" + finish("res", k)

  /** Sloppy phrase, 2 terms (SloppyPhraseScorer.java:92-126 semantics).
    * The greedy sweep has a closed form for two streams: each cycle pops
    * the lesser ADJUSTED position stream (tie → lower phrase offset),
    * emits one candidate match with gap = other.current − (largest popped
    * element ≤ other.current), and jumps past other.current; the final
    * cycle at exhaustion still emits (validated against the sweep over
    * 2000 random cases in PhraseSpec). Expressed as a recursive CTE whose
    * accumulator adds float slop factors 1/(gap+1) IN CYCLE ORDER — the
    * reference's float `freq +=` (computeSlopFactor,
    * `BM25Similarity.java:77,253`).
    */
  def phraseSloppy2(a: String, b: String, slop: Int, k: Int): String = {
    val idfSum = R(s"${idfExpr(s"(SELECT count(DISTINCT doc_id) FROM tok WHERE term = ${lit(a)})")} + ${idfExpr(s"(SELECT count(DISTINCT doc_id) FROM tok WHERE term = ${lit(b)})")}")
    val w = R(s"$idfSum * ($K1 + ${R("1")})")
    val score = R(s"${R(s"$w * p.freq")} / ${R(s"p.freq + ${cacheExpr("dn.qlen")}")}")
    val one = R("1.0")
    "WITH RECURSIVE" + prologue.stripPrefix("WITH") +
      s""", posx AS (
  SELECT doc_id, unnest(arr) AS term, generate_subscripts(arr, 1) AS pos
  FROM (SELECT doc_id,
          list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                      x -> x <> '' AND length(x) <= 255) AS arr
        FROM documents)
), pa AS (
  SELECT doc_id, list(pos - 1 ORDER BY pos) AS al
  FROM posx WHERE term = ${lit(a)} GROUP BY doc_id
), pb AS (
  SELECT doc_id, list(pos - 2 ORDER BY pos) AS bl
  FROM posx WHERE term = ${lit(b)} GROUP BY doc_id
), rec AS (
  SELECT pa.doc_id, al, bl, 1 AS ia, 1 AS ib,
         CAST(NULL AS INTEGER) AS gap, CAST(0 AS REAL) AS freq, TRUE AS alive
  FROM pa JOIN pb USING (doc_id)
  UNION ALL
  SELECT doc_id, al, bl,
    CASE WHEN amin THEN lastA + 1 ELSE ia END,
    CASE WHEN amin THEN ib ELSE lastB + 1 END,
    g,
    CAST(freq + CASE WHEN g <= $slop
      THEN ${R(s"$one / CAST(g + 1 AS REAL)")} ELSE CAST(0 AS REAL) END AS REAL),
    CASE WHEN amin THEN lastA + 1 <= len(al) ELSE lastB + 1 <= len(bl) END
  FROM (
    SELECT *, CASE WHEN amin THEN bl[ib] - al[lastA] ELSE al[ia] - bl[lastB] END AS g
    FROM (
      SELECT *, al[ia] <= bl[ib] AS amin,
        len(list_filter(al, x -> x <= bl[ib])) AS lastA,
        len(list_filter(bl, x -> x <= al[ia])) AS lastB
      FROM rec WHERE alive
    )
  )
), ph AS (
  SELECT doc_id, freq FROM rec WHERE NOT alive AND freq > 0
), res AS (
  SELECT p.doc_id, $score AS s FROM ph p JOIN dn ON p.doc_id = dn.doc_id
)""" + finish("res", k)
  }

  /** Ordered span-near over single-term clauses (SpanNearQuery,
    * NearSpansOrdered): the greedy enumeration (advance clause 0 one
    * position at a time, stretch later clauses monotonically) equals an
    * independent per-first-position chain of minimums, so the oracle is
    * closed-form: q_i = MIN(pos of clause i ≥ q_{i-1}+1), total gap ≤
    * slop contributes 1/(1+gap); freq sums in double and rounds to REAL
    * (the engine's scorer-boundary law). idf folds float-stepwise over
    * DISTINCT terms in sorted order (SpanWeight's TreeSet).
    */
  def spanNearOrdered(terms: Seq[String], slop: Int, k: Int,
      boost: Float = 1f): String = {
    require(terms.size >= 2)
    val n = terms.size
    val idfFold = terms.distinct.sorted.map(t =>
      idfExpr(s"(SELECT count(DISTINCT doc_id) FROM tok WHERE term = ${lit(t)})"))
      .reduce((x, y) => R(s"$x + $y"))
    // SpanBoostQuery folds into weightValue: ((boost·idfSum)·(k1+1))
    val bIdf = if (boost == 1f) idfFold
      else R(s"${R(boost.toString)} * $idfFold")
    val w = R(s"$bIdf * ($K1 + ${R("1")})")
    val score = R(s"${R(s"$w * p.freq")} / ${R(s"p.freq + ${cacheExpr("dn.qlen")}")}")
    val pCtes = terms.zipWithIndex.map { case (t, i) =>
      s"""p$i AS (
  SELECT doc_id, pos - 1 AS pos FROM posx WHERE term = ${lit(t)}
)"""
    }.mkString(", ")
    val chain = (2 until n).map { i =>
      val prevQs = (0 until i).map(j => s"q$j").mkString(", ")
      s""", m$i AS (
  SELECT m${i - 1}.doc_id, $prevQs, MIN(p$i.pos) AS q$i
  FROM m${i - 1} JOIN p$i ON p$i.doc_id = m${i - 1}.doc_id AND p$i.pos >= q${i - 1} + 1
  GROUP BY ALL
)"""
    }.mkString
    val widthExpr = (1 until n).map(i => s"(q$i - q${i - 1} - 1)").mkString(" + ")
    prologue +
      s""", posx AS (
  SELECT doc_id, unnest(arr) AS term, generate_subscripts(arr, 1) AS pos
  FROM (SELECT doc_id,
          list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                      x -> x <> '' AND length(x) <= 255) AS arr
        FROM documents)
), $pCtes, m1 AS (
  SELECT p0.doc_id, p0.pos AS q0, MIN(p1.pos) AS q1
  FROM p0 JOIN p1 ON p1.doc_id = p0.doc_id AND p1.pos >= p0.pos + 1
  GROUP BY ALL
)$chain, sp AS (
  SELECT doc_id, $widthExpr AS width FROM m${n - 1}
), ph AS (
  SELECT doc_id, CAST(SUM(1.0 / CAST(1 + width AS DOUBLE)) AS REAL) AS freq
  FROM sp WHERE width <= $slop GROUP BY doc_id
), res AS (
  SELECT p.doc_id, $score AS s FROM ph p JOIN dn ON p.doc_id = dn.doc_id
  WHERE p.freq > 0
)""" + finish("res", k)
  }

  /** Span-near (ordered) with SpanOr union clauses: same
    * chain-of-minimums closed form as spanNearOrdered, but each clause
    * CTE draws positions from `term IN (members)` (the union of the
    * subclause's width-0 spans — distinct terms never share a
    * position). idf folds float-stepwise over sorted DISTINCT terms
    * across all clauses, each guarded by df > 0 (an absent member folds
    * as +0, bit-identical to the engine skipping it).
    */
  def spanNearOrderedOr(clauses: Seq[Seq[String]], slop: Int,
      k: Int): String = {
    require(clauses.size >= 2)
    val n = clauses.size
    val idfFold = clauses.flatten.distinct.sorted.map { t =>
      val df = s"(SELECT count(DISTINCT doc_id) FROM tok WHERE term = ${lit(t)})"
      s"CASE WHEN $df > 0 THEN ${idfExpr(df)} ELSE ${R("0")} END"
    }.reduce((x, y) => R(s"$x + $y"))
    val w = R(s"$idfFold * ($K1 + ${R("1")})")
    val score = R(s"${R(s"$w * p.freq")} / ${R(s"p.freq + ${cacheExpr("dn.qlen")}")}")
    val pCtes = clauses.zipWithIndex.map { case (ts, i) =>
      val in = ts.distinct.map(lit).mkString(", ")
      s"""p$i AS (
  SELECT doc_id, pos - 1 AS pos FROM posx WHERE term IN ($in)
)"""
    }.mkString(", ")
    val chain = (2 until n).map { i =>
      val prevQs = (0 until i).map(j => s"q$j").mkString(", ")
      s""", m$i AS (
  SELECT m${i - 1}.doc_id, $prevQs, MIN(p$i.pos) AS q$i
  FROM m${i - 1} JOIN p$i ON p$i.doc_id = m${i - 1}.doc_id AND p$i.pos >= q${i - 1} + 1
  GROUP BY ALL
)"""
    }.mkString
    val widthExpr = (1 until n).map(i => s"(q$i - q${i - 1} - 1)").mkString(" + ")
    prologue +
      s""", posx AS (
  SELECT doc_id, unnest(arr) AS term, generate_subscripts(arr, 1) AS pos
  FROM (SELECT doc_id,
          list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                      x -> x <> '' AND length(x) <= 255) AS arr
        FROM documents)
), $pCtes, m1 AS (
  SELECT p0.doc_id, p0.pos AS q0, MIN(p1.pos) AS q1
  FROM p0 JOIN p1 ON p1.doc_id = p0.doc_id AND p1.pos >= p0.pos + 1
  GROUP BY ALL
)$chain, sp AS (
  SELECT doc_id, $widthExpr AS width FROM m${n - 1}
), ph AS (
  SELECT doc_id, CAST(SUM(1.0 / CAST(1 + width AS DOUBLE)) AS REAL) AS freq
  FROM sp WHERE width <= $slop GROUP BY doc_id
), res AS (
  SELECT p.doc_id, $score AS s FROM ph p JOIN dn ON p.doc_id = dn.doc_id
  WHERE p.freq > 0
)""" + finish("res", k)
  }

  /** TermAutomatonQuery oracle for automatons whose freq law reduces to
    * adjacency + unigram counts (every pure-term automaton the gate
    * runs; the spec pins the general DP incl. ANY gaps). Derived from
    * `TermAutomatonScorer.countMatches` (TermAutomatonScorer.java:
    * 227-345): with no ANY arcs the gap walk never runs, so freq =
    * Σ accept landings = Σ adjacency pairs (a@p, b∈set@p+1 for each
    * chain edge into an accept) + Σ single-token accepts (terms with a
    * start→accept arc). Weight = float idf fold over sorted DISTINCT
    * PRESENT terms × (k1+1) — the engine's span-weight convention —
    * tf = freq (int), score = BM25 against the doc norm.
    */
  def termAutomaton(adjacency: Seq[(String, Seq[String])],
      unigrams: Seq[String], k: Int): String = {
    val allTerms =
      (adjacency.flatMap { case (a, bs) => a +: bs } ++ unigrams).distinct
    val idfFold = allTerms.sorted.map { t =>
      val df = s"(SELECT count(DISTINCT doc_id) FROM tok WHERE term = ${lit(t)})"
      s"CASE WHEN $df > 0 THEN ${idfExpr(df)} ELSE ${R("0")} END"
    }.reduce((x, y) => R(s"$x + $y"))
    val w = R(s"$idfFold * ($K1 + ${R("1")})")
    val fExpr = "CAST(p.freq AS REAL)"
    val score = R(s"${R(s"$w * $fExpr")} / ${R(s"$fExpr + ${cacheExpr("dn.qlen")}")}")
    val adjCtes = adjacency.zipWithIndex.map { case ((a, bs), i) =>
      val in = bs.distinct.map(lit).mkString(", ")
      s""", adj$i AS (
  SELECT x.doc_id, count(*) AS c
  FROM posx x JOIN posx y ON y.doc_id = x.doc_id AND y.pos = x.pos + 1
  WHERE x.term = ${lit(a)} AND y.term IN ($in)
  GROUP BY x.doc_id
)"""
    }.mkString
    val uniCte =
      if (unigrams.isEmpty) ""
      else {
        val in = unigrams.distinct.map(lit).mkString(", ")
        s""", uni AS (
  SELECT doc_id, count(*) AS c FROM posx WHERE term IN ($in)
  GROUP BY doc_id
)"""
      }
    val parts =
      adjacency.indices.map(i => s"SELECT doc_id, c FROM adj$i") ++
        (if (unigrams.isEmpty) Nil else Seq("SELECT doc_id, c FROM uni"))
    prologue + spanPosx + adjCtes + uniCte +
      s""", fr AS (
  SELECT doc_id, SUM(c) AS freq FROM (${parts.mkString(" UNION ALL ")})
  GROUP BY doc_id
), res AS (
  SELECT p.doc_id, $score AS s FROM fr p JOIN dn ON p.doc_id = dn.doc_id
  WHERE p.freq > 0
)""" + finish("res", k)
  }

  // ---------- composed span trees (Spans interval algebra) ----------
  //
  // Shared scaffolding: 0-based positions + the chain-of-minimums span
  // enumeration for an ordered near over term clauses (valid as an
  // independent closed form because term-leaf emission keeps ends
  // monotone, so the engine's forward pointers equal the independent
  // per-first-position minimum — same law as spanNearOrdered).

  private val spanPosx: String =
    s""", posx AS (
  SELECT doc_id, unnest(arr) AS term, generate_subscripts(arr, 1) AS pos
  FROM (SELECT doc_id,
          list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                      x -> x <> '' AND length(x) <= 255) AS arr
        FROM documents)
)"""

  /** Per-clause position CTEs p0..pn-1 + the m1..mn-1 minimum chain;
    * yields (ctes, widthExpr, lastQ) with column names q0..qn-1.
    */
  private def spanChain(terms: Seq[String]): (String, String, String) = {
    val n = terms.size
    val pCtes = terms.zipWithIndex.map { case (t, i) =>
      s""", p$i AS (
  SELECT doc_id, pos - 1 AS pos FROM posx WHERE term = ${lit(t)}
)"""
    }.mkString
    val chain = (2 until n).map { i =>
      val prevQs = (0 until i).map(j => s"q$j").mkString(", ")
      s""", m$i AS (
  SELECT m${i - 1}.doc_id, $prevQs, MIN(p$i.pos) AS q$i
  FROM m${i - 1} JOIN p$i ON p$i.doc_id = m${i - 1}.doc_id AND p$i.pos >= q${i - 1} + 1
  GROUP BY ALL
)"""
    }.mkString
    val all = pCtes + s""", m1 AS (
  SELECT p0.doc_id, p0.pos AS q0, MIN(p1.pos) AS q1
  FROM p0 JOIN p1 ON p1.doc_id = p0.doc_id AND p1.pos >= p0.pos + 1
  GROUP BY ALL
)""" + chain
    val widthExpr = (1 until n).map(i => s"(q$i - q${i - 1} - 1)").mkString(" + ")
    (all, widthExpr, s"q${n - 1}")
  }

  /** Guarded idf fold over sorted distinct terms (absent folds as +0,
    * the engine's PRESENT-terms weight law) × (k1+1).
    */
  private def spanTreeWeight(terms: Seq[String]): String = {
    val fold = terms.distinct.sorted.map { t =>
      val df = s"(SELECT count(DISTINCT doc_id) FROM tok WHERE term = ${lit(t)})"
      s"CASE WHEN $df > 0 THEN ${idfExpr(df)} ELSE ${R("0")} END"
    }.reduce((x, y) => R(s"$x + $y"))
    R(s"$fold * ($K1 + ${R("1")})")
  }

  private def spanTreeScore(w: String): String =
    R(s"${R(s"$w * p.freq")} / ${R(s"p.freq + ${cacheExpr("dn.qlen")}")}")

  /** SpanFirst over an ordered SpanNear: near spans (chain-of-minimums)
    * with end q_{n-1}+1 ≤ `endLimit` and width ≤ slop; freq =
    * Σ 1/(1+width).
    */
  def spanTreeFirst(terms: Seq[String], slop: Int, endLimit: Int,
      k: Int): String = {
    val (chain, widthExpr, lastQ) = spanChain(terms)
    val score = spanTreeScore(spanTreeWeight(terms))
    prologue + spanPosx + chain +
      s""", sp AS (
  SELECT doc_id, $lastQ + 1 AS e, $widthExpr AS width FROM m${terms.size - 1}
), ph AS (
  SELECT doc_id, ${R("SUM(1.0 / CAST(1 + width AS DOUBLE))")} AS freq
  FROM sp WHERE width <= $slop AND e <= $endLimit GROUP BY doc_id
), res AS (
  SELECT p.doc_id, $score AS s FROM ph p JOIN dn ON p.doc_id = dn.doc_id
  WHERE p.freq > 0
)""" + finish("res", k)
  }

  /** SpanNot with an ordered SpanNear include and a term exclude: a
    * near span [q0, e) is vetoed when an exclude occurrence x satisfies
    * x+1 > q0 − pre AND x < e + post (the reference's overlap window);
    * weight from the include terms only.
    */
  def spanTreeNot(incTerms: Seq[String], slop: Int, exc: String, pre: Int,
      post: Int, k: Int): String = {
    val (chain, widthExpr, lastQ) = spanChain(incTerms)
    val score = spanTreeScore(spanTreeWeight(incTerms))
    prologue + spanPosx + chain +
      s""", pexc AS (
  SELECT doc_id, pos - 1 AS pos FROM posx WHERE term = ${lit(exc)}
), sp AS (
  SELECT doc_id, q0, $lastQ + 1 AS e, $widthExpr AS width
  FROM m${incTerms.size - 1}
), ph AS (
  SELECT doc_id, ${R("SUM(1.0 / CAST(1 + width AS DOUBLE))")} AS freq
  FROM sp WHERE width <= $slop AND NOT EXISTS (
    SELECT 1 FROM pexc x WHERE x.doc_id = sp.doc_id
      AND x.pos + 1 > sp.q0 - $pre AND x.pos < sp.e + $post)
  GROUP BY doc_id
), res AS (
  SELECT p.doc_id, $score AS s FROM ph p JOIN dn ON p.doc_id = dn.doc_id
  WHERE p.freq > 0
)""" + finish("res", k)
  }

  /** Ordered SpanNear whose FIRST clause is itself an ordered SpanNear:
    * inner spans (q0, e, width ≤ innerSlop) chain to the earliest
    * `outer` occurrence ≥ e; the composite's width counts only the new
    * gap (`NearSpansOrdered` sums gaps between consecutive subspans —
    * the inner width is already spent meeting the inner slop).
    */
  def spanTreeNested(inner: Seq[String], innerSlop: Int, outer: String,
      outerSlop: Int, k: Int): String = {
    val (chain, widthExpr, lastQ) = spanChain(inner)
    val score = spanTreeScore(spanTreeWeight(inner :+ outer))
    prologue + spanPosx + chain +
      s""", po AS (
  SELECT doc_id, pos - 1 AS pos FROM posx WHERE term = ${lit(outer)}
), sp_in AS (
  SELECT doc_id, q0, $lastQ + 1 AS e FROM m${inner.size - 1}
  WHERE $widthExpr <= $innerSlop
), mo AS (
  SELECT sp_in.doc_id, sp_in.q0, sp_in.e, MIN(po.pos) AS p
  FROM sp_in JOIN po ON po.doc_id = sp_in.doc_id AND po.pos >= sp_in.e
  GROUP BY ALL
), ph AS (
  SELECT doc_id, ${R("SUM(1.0 / CAST(1 + (p - e) AS DOUBLE))")} AS freq
  FROM mo WHERE (p - e) <= $outerSlop GROUP BY doc_id
), res AS (
  SELECT p.doc_id, $score AS s FROM ph p JOIN dn ON p.doc_id = dn.doc_id
  WHERE p.freq > 0
)""" + finish("res", k)
  }

  /** Standalone tokenized-positions CTE (no scoring prologue needed). */
  private val pxCte: String =
    s"""WITH px AS (
  SELECT doc_id, unnest(arr) AS term, generate_subscripts(arr, 1) AS pos
  FROM (SELECT doc_id,
          list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                      x -> x <> '' AND length(x) <= 255) AS arr
        FROM documents)
)"""

  /** FreeTextSuggester (`suggest/analyzing/FreeTextSuggester.java:
    * 466-726`), 2-gram model, key = "<ctx> <partial>": bigram
    * completions of (ctx, partial·) score count/count(ctx); the unigram
    * model backs off at ALPHA = 0.4 over totTokens, skipping last-tokens
    * the bigram model already suggested; values are the fixed-point
    * longs (long)(Long.MAX_VALUE·backoff·c/ctxCount); final order
    * (value desc, key asc).
    */
  def freeText(ctx: String, partial: String, num: Int): String = {
    val MaxD = "9223372036854775807.0"
    pxCte +
      s""", uni AS (
  SELECT term, count(*) AS c FROM px GROUP BY 1
), tot AS (
  SELECT CAST(sum(c) AS DOUBLE) AS t FROM uni
), bi AS (
  SELECT a.term AS t1, b.term AS t2, count(*) AS c
  FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  GROUP BY 1, 2
), ctxc AS (
  SELECT CAST(c AS DOUBLE) AS c FROM uni WHERE term = ${lit(ctx)}
), bm AS (
  SELECT ${lit(ctx)} || ' ' || t2 AS suggestion, t2 AS lastTok,
    CAST(trunc((($MaxD * 1.0) * c) / (SELECT c FROM ctxc)) AS BIGINT) AS value
  FROM bi WHERE t1 = ${lit(ctx)} AND t2 LIKE ${lit(partial + "%")}
  ORDER BY c DESC, t2 LIMIT $num
), um AS (
  SELECT term AS suggestion,
    CAST(trunc((($MaxD * 0.4) * c) / (SELECT t FROM tot)) AS BIGINT) AS value
  FROM uni WHERE term LIKE ${lit(partial + "%")}
    AND term NOT IN (SELECT lastTok FROM bm)
  ORDER BY c DESC, term LIMIT $num
)
SELECT suggestion, value,
  CAST(row_number() OVER (ORDER BY value DESC, suggestion) AS INT) AS rnk
FROM (SELECT suggestion, value FROM bm UNION ALL
      SELECT suggestion, value FROM um)
ORDER BY value DESC, suggestion"""
  }

  /** Percolator fixture oracle: one EXISTS per registered query shape
    * (term / and / exact phrase / prefix / must+mustNot / sloppy ordered
    * phrase / wildcard), unioned as (doc_id, query_id) pairs.
    */
  def percolate(slop: Int): String =
    pxCte +
      s""", t AS (SELECT DISTINCT doc_id, term FROM px)
SELECT doc_id, query_id FROM (
  SELECT d.doc_id, CAST(1 AS BIGINT) AS query_id FROM documents d
  WHERE EXISTS (SELECT 1 FROM t WHERE t.doc_id = d.doc_id AND term = 'spark')
  UNION ALL
  SELECT d.doc_id, CAST(2 AS BIGINT) FROM documents d
  WHERE EXISTS (SELECT 1 FROM t WHERE t.doc_id = d.doc_id AND term = 'order')
    AND EXISTS (SELECT 1 FROM t WHERE t.doc_id = d.doc_id AND term = 'sort')
  UNION ALL
  SELECT d.doc_id, CAST(3 AS BIGINT) FROM documents d
  WHERE EXISTS (SELECT 1 FROM px a JOIN px b
    ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    WHERE a.doc_id = d.doc_id AND a.term = 'order' AND b.term = 'sort')
  UNION ALL
  SELECT d.doc_id, CAST(4 AS BIGINT) FROM documents d
  WHERE EXISTS (SELECT 1 FROM t WHERE t.doc_id = d.doc_id AND term LIKE 'sc%')
  UNION ALL
  SELECT d.doc_id, CAST(5 AS BIGINT) FROM documents d
  WHERE EXISTS (SELECT 1 FROM t WHERE t.doc_id = d.doc_id AND term = 'batch')
    AND NOT EXISTS (SELECT 1 FROM t WHERE t.doc_id = d.doc_id AND term = 'spark')
  UNION ALL
  SELECT d.doc_id, CAST(6 AS BIGINT) FROM documents d
  WHERE EXISTS (SELECT 1 FROM px a JOIN px b
    ON b.doc_id = a.doc_id AND b.pos > a.pos AND b.pos - a.pos - 1 <= $slop
    WHERE a.doc_id = d.doc_id AND a.term = 'order' AND b.term = 'sort')
  UNION ALL
  SELECT d.doc_id, CAST(7 AS BIGINT) FROM documents d
  WHERE EXISTS (SELECT 1 FROM t WHERE t.doc_id = d.doc_id
    AND regexp_full_match(term, 's[a-z0-9]rt'))
) ORDER BY doc_id, query_id"""

  /** TermVectorComponent (`solr/core/.../component/TermVectorComponent
    * .java`): per-doc term vectors — tf, positions, collection df.
    */
  def termVectors(ids: Seq[Long]): String =
    pxCte +
      s""", tv AS (
  SELECT doc_id, term, CAST(count(*) AS INT) AS tf,
    list(CAST(pos - 1 AS INT) ORDER BY pos) AS positions
  FROM px WHERE doc_id IN (${ids.mkString(", ")}) GROUP BY 1, 2
), dfs AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM px GROUP BY 1
)
SELECT tv.doc_id, tv.term, tv.tf, dfs.df, tv.positions
FROM tv JOIN dfs USING (term) ORDER BY doc_id, term"""

  /** edismax bf (additive boost function, `search/DisMaxQParser.java:
    * 166-183`): dismax main query + per-doc function value, one float
    * add per match.
    */
  def dismaxAdded(terms: Seq[String], tie: Float,
      vs: graft.search.ValueSrc, k: Int): String = {
    val names = terms.indices.map(i => s"t$i")
    val ctes = names.zip(terms).map { case (n, t) => termCtes(n, t) }.mkString
    val union = names.map(n => s"SELECT doc_id, s FROM sc_$n").mkString(" UNION ALL ")
    prologue + ctes +
      s""", un AS ($union), ag AS (
  SELECT doc_id, MAX(s) AS mx, SUM(CAST(s AS DOUBLE)) AS sm
  FROM un GROUP BY doc_id
), dm AS (
  SELECT doc_id,
    ${R(s"mx + ${R(s"${R(tie.toString)} * ${R(s"${R("sm")} - mx")}")}")} AS s
  FROM ag
), res AS (
  SELECT dm.doc_id, ${R(s"dm.s + ${vsSql(vs, "d")}")} AS s
  FROM dm JOIN documents d ON dm.doc_id = d.doc_id
)""" + finish("res", k)
  }

  /** edismax bq (additive boost query): dismax main + a boosted optional
    * term, ReqOpt float law (float(req_double + COALESCE(opt_double, 0))).
    */
  def edismaxBq(terms: Seq[String], tie: Float, bqTerm: String,
      bqBoost: Float, k: Int): String = {
    val names = terms.indices.map(i => s"t$i")
    val ctes = names.zip(terms).map { case (n, t) => termCtes(n, t) }.mkString
    val union = names.map(n => s"SELECT doc_id, s FROM sc_$n").mkString(" UNION ALL ")
    prologue + ctes + termCtes("bq", bqTerm, bqBoost) +
      s""", un AS ($union), ag AS (
  SELECT doc_id, MAX(s) AS mx, SUM(CAST(s AS DOUBLE)) AS sm
  FROM un GROUP BY doc_id
), dm AS (
  SELECT doc_id,
    ${R(s"mx + ${R(s"${R(tie.toString)} * ${R(s"${R("sm")} - mx")}")}")} AS s
  FROM ag
), res AS (
  SELECT dm.doc_id,
    ${R("CAST(dm.s AS DOUBLE) + COALESCE(CAST(sc_bq.s AS DOUBLE), 0)")} AS s
  FROM dm LEFT JOIN sc_bq ON dm.doc_id = sc_bq.doc_id
)""" + finish("res", k)
  }

  /** SpellCheckCollator over two misspelled terms
    * (`solr/core/.../spelling/SpellCheckCollator.java:52-183`,
    * `PossibilityIterator.java:39-141`): per slot the DirectSpellChecker
    * top-numSug ranking, combinations ordered (rank-sum, slot ranks),
    * first maxTries re-queried as conjunctions, hits > 0 kept up to
    * maxColl, output in try order.
    */
  def collate2(a: String, b: String, numSug: Int, maxTries: Int,
      maxColl: Int): String = {
    def slot(name: String, t: String): String = {
      val dist = s"levenshtein(term, ${lit(t)})"
      val termLen = Character.codePointCount(t, 0, t.length)
      val minLen = s"least($termLen, length(term))"
      val score = R(s"${R("1.0")} - ${R(s"CAST($dist AS REAL) / CAST($minLen AS REAL)")}")
      s""", $name AS (
  SELECT term, row_number() OVER (ORDER BY sc DESC, df DESC, term) - 1 AS rnk
  FROM (SELECT term, $score AS sc, df FROM vocab
        WHERE abs(length(term) - $termLen) <= 2
          AND term <> ${lit(t)} AND $dist <= 2 AND $score > 0
        ORDER BY sc DESC, df DESC, term LIMIT $numSug)
)"""
    }
    prologue +
      ", vocab AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term)" +
      slot("sug_a", a) + slot("sug_b", b) +
      s""", combos AS (
  SELECT a.term AS sa, b.term AS sb,
    row_number() OVER (ORDER BY a.rnk + b.rnk, a.rnk, b.rnk) AS tryno
  FROM sug_a a CROSS JOIN sug_b b
), tried AS (
  SELECT * FROM combos WHERE tryno <= $maxTries
), hitc AS (
  SELECT tryno, sa, sb,
    (SELECT count(*) FROM (
       SELECT doc_id FROM tok WHERE term = t.sa
       INTERSECT
       SELECT doc_id FROM tok WHERE term = t.sb)) AS h
  FROM tried t
), keep AS (
  SELECT sa || ' ' || sb AS "collation", h AS hits, tryno
  FROM hitc WHERE h > 0 ORDER BY tryno LIMIT $maxColl
)
SELECT "collation", hits,
  CAST(row_number() OVER (ORDER BY tryno) AS INT) AS rnk
FROM keep ORDER BY tryno"""
  }

  /** BM25 term query over the SHINGLED field — the phrase-as-term
    * pattern: tf = adjacent-pair count, doc length = shingle count.
    */
  def shingleTerm(bigram: String, k: Int): String =
    shinglePrologue + termCtes("a", bigram) + finish("sc_a", k)

  /** Count-sorted shingle enumeration (termsEnum over the bigram
    * vocabulary — distributed phrase statistics).
    */
  def shingleTermsEnum(prefix: String, limit: Int, minCount: Int): String =
    shinglePrologue +
      s"""
SELECT term, count(DISTINCT doc_id) AS df FROM tok
WHERE term LIKE ${lit(prefix + "%")}
GROUP BY term HAVING count(DISTINCT doc_id) >= $minCount
ORDER BY df DESC, term LIMIT $limit"""

  /** Luke / CheckIndex index statistics. */
  def indexStats: String =
    tokDlenCtes +
      s"""
SELECT (SELECT count(*) FROM documents) AS doc_count,
  (SELECT count(DISTINCT term) FROM tok) AS num_terms,
  (SELECT count(*) FROM tok) AS sum_ttf"""

  /** Multi-field sort over matches of a term: (token count asc,
    * n_chars desc, doc_id) — the Sort chain's lexicographic law.
    */
  def sortMulti(term: String, k: Int): String =
    prologue +
      s""", m AS (
  SELECT DISTINCT doc_id FROM tok WHERE term = ${lit(term)}
)
SELECT m.doc_id, dlen.len, d.n_chars,
  CAST(row_number() OVER (
    ORDER BY dlen.len ASC, d.n_chars DESC, m.doc_id) AS INT) AS rnk
FROM m JOIN dlen ON m.doc_id = dlen.doc_id
JOIN documents d ON m.doc_id = d.doc_id
ORDER BY dlen.len ASC, d.n_chars DESC, m.doc_id LIMIT $k"""

  /** Expression sort (lucene/expressions `ExpressionSortField`): matches
    * of `term` ranked DESC (getSortField reverse=true) by
    * `sqrt(n_chars) + 2*ln(1.0+length) - (n_chars > 400 ? 50 : 0)`
    * recomputed here in double arithmetic — `length` is the exact token
    * count (dlen), `50`/`0` are double pushes (DECIMAL literals compile
    * via Double.parseDouble, JavascriptCompiler visitNumeric).
    */
  def exprSort(term: String, k: Int): String =
    prologue +
      s""", m AS (
  SELECT DISTINCT doc_id FROM tok WHERE term = ${lit(term)}
), res AS (
  SELECT m.doc_id,
    sqrt(CAST(d.n_chars AS DOUBLE)) + 2 * ln(1.0 + dlen.len)
      - (CASE WHEN d.n_chars > 400 THEN CAST(50 AS DOUBLE)
              ELSE CAST(0 AS DOUBLE) END) AS expr_val
  FROM m JOIN documents d ON m.doc_id = d.doc_id
  JOIN dlen ON m.doc_id = dlen.doc_id
)
SELECT doc_id, expr_val,
  CAST(row_number() OVER (ORDER BY expr_val DESC, doc_id) AS INT) AS rnk
FROM res ORDER BY expr_val DESC, doc_id LIMIT $k"""

  /** ExpressionRescorer (`expressions/ExpressionRescorer.java:47-57` →
    * SortRescorer): top-`firstK` BM25 hits of `first`, re-ORDERED by
    * `_score + ln(1.0 + n_chars) / 10` (expr desc, doc asc); the sort
    * value is the double expression, the hit score stays first-pass.
    */
  def exprRescore(first: String, firstK: Int, k: Int): String =
    prologue + termCtes("a", first) +
      s""", fp AS (
  SELECT doc_id, s FROM sc_a ORDER BY s DESC, doc_id LIMIT $firstK
), res AS (
  SELECT fp.doc_id,
    CAST(fp.s AS DOUBLE) + ln(1.0 + d.n_chars) / 10 AS expr_val,
    fp.s AS first_s
  FROM fp JOIN documents d ON fp.doc_id = d.doc_id
)
SELECT doc_id, expr_val, first_s,
  CAST(row_number() OVER (ORDER BY expr_val DESC, doc_id) AS INT) AS rnk
FROM res ORDER BY expr_val DESC, doc_id LIMIT $k"""

  /** IndexSearcher.explain breakdown for the TOP BM25 hit of a term:
    * df, tf, idf, quantized length, weight, score.
    */
  def explain(term: String, k1: String = "unused"): String =
    prologue + termCtes("a", term) +
      s""", top1 AS (
  SELECT doc_id FROM sc_a ORDER BY s DESC, doc_id LIMIT 1
)
SELECT t.doc_id, ${lit(term)} AS term,
  (SELECT count(*) FROM tf_a) AS df,
  CAST(t.tf AS INT) AS tf,
  CAST(${idfExpr("(SELECT count(*) FROM tf_a)")} AS DOUBLE) AS idf,
  CAST(dn.qlen AS DOUBLE) AS qlen,
  CAST(${weightExpr("(SELECT count(*) FROM tf_a)", 1f)} AS DOUBLE) AS weight,
  CAST((SELECT s FROM sc_a WHERE doc_id = t.doc_id) AS DOUBLE) AS score
FROM tf_a t JOIN dn ON t.doc_id = dn.doc_id
WHERE t.doc_id = (SELECT doc_id FROM top1)"""

  /** RealTimeGet over the gate's two-batch fixture: ids where
    * doc_id % modN == 0 return the batch-1 (" updated") content hash,
    * the rest batch-0.
    */
  def realTimeGet(ids: Seq[Long], modN: Int): String =
    s"""SELECT doc_id,
  sha256(CASE WHEN doc_id % $modN = 0 THEN text || ' updated' ELSE text END) AS sha
FROM documents WHERE doc_id IN (${ids.mkString(", ")})
ORDER BY doc_id"""

  /** FuzzyLikeThisQuery (`sandbox/.../FuzzyLikeThisQuery.java:183-330`),
    * prefixLength = 0, two input words: per word the variants within
    * maxEdits = min(2, ⌊(1−minSim)·len⌋) with scaled similarity >
    * minSim, top 50 by (sim, term); rescored sim²·classicIdf(source df |
    * int-avg variant df); global top maxNumTerms; each selected variant
    * scored BM25 against the ARTIFICIAL df = 1 context with its score as
    * boost, SHOULD-summed.
    */
  def fuzzyLikeThis2(a: String, b: String, minSim: Float, maxNumTerms: Int,
      k: Int): String = {
    def slot(name: String, w: String): String = {
      val wLen = Character.codePointCount(w, 0, w.length)
      val maxEdits = math.min(2, ((1f - minSim) * wLen).toInt)
      val dist = s"levenshtein(term, ${lit(w)})"
      val sExpr = R(s"${R("1.0")} - ${R(s"CAST($dist AS REAL) / CAST(least($wLen, length(term)) AS REAL)")}")
      s""", var_$name AS (
  SELECT term, df, $sExpr AS s FROM vocab
  WHERE $dist <= $maxEdits AND $sExpr > ${R(minSim.toString)}
), top_$name AS (
  SELECT term, s FROM var_$name ORDER BY s DESC, term LIMIT 50
), dfv_$name AS (
  SELECT COALESCE((SELECT df FROM vocab WHERE term = ${lit(w)}),
    (SELECT sum(df) // count(*) FROM var_$name)) AS df
), scored_$name AS (
  SELECT term,
    ${R(s"${R("t.s * t.s")} * ${classicIdf(s"(SELECT df FROM dfv_$name)")}")} AS sc
  FROM top_$name t
)"""
    }
    val idf1 = idfExpr("1")
    val one = R("1")
    prologue +
      ", vocab AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term)" +
      slot("a", a) + slot("b", b) +
      s""", sel AS (
  SELECT term, sc FROM (SELECT * FROM scored_a UNION ALL SELECT * FROM scored_b)
  ORDER BY sc DESC, term LIMIT $maxNumTerms
), tfv AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN (SELECT term FROM sel) GROUP BY 1, 2
), persc AS (
  SELECT t.doc_id,
    ${R(s"${R(s"${R(s"${R(s"v.sc * $idf1")} * ($K1 + $one)")} * ${R("t.tf")}")} / ${R(s"${R("t.tf")} + ${cacheExpr("dn.qlen")}")}")} AS s
  FROM tfv t JOIN sel v ON v.term = t.term
  JOIN dn ON t.doc_id = dn.doc_id
), res AS (
  SELECT doc_id, ${R("SUM(CAST(s AS DOUBLE))")} AS s FROM persc GROUP BY doc_id
)""" + finish("res", k)
  }

  /** FuzzySuggester (`suggest/analyzing/FuzzySuggester.java:40-109`):
    * terms with a prefix within 1 Damerau edit of the key, first char
    * exact, keys < 3 chars exact-only; EXACT_FIRST, df desc, term asc.
    */
  def suggestFuzzy(key: String, k: Int): String = {
    val kq = lit(key)
    tokDlenCtes +
      s""", dfs AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1
), acc AS (
  SELECT term, df FROM dfs
  WHERE term LIKE ${lit(key + "%")} OR (
    ${key.length} >= 3 AND substr(term, 1, 1) = substr($kq, 1, 1)
    AND list_min(list_transform(generate_series(0, length(term) - 1),
      i -> damerau_levenshtein(substr($kq, 2), substr(term, 2, i)))) <= 1)
)
SELECT term AS suggestion, df FROM acc
ORDER BY (term = $kq) DESC, df DESC, term LIMIT $k"""
  }

  /** AnalyzingInfixSuggester (`suggest/analyzing/AnalyzingInfixSuggester
    * .java:77-95`): dictionary terms containing the fragment, df desc.
    */
  def suggestInfix(frag: String, k: Int): String =
    tokDlenCtes +
      s""", dfs AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1
)
SELECT term AS suggestion, df FROM dfs
WHERE contains(term, ${lit(frag)})
ORDER BY df DESC, term LIMIT $k"""

  /** BlendedInfixSuggester (`suggest/analyzing/BlendedInfixSuggester
    * .java:190-321`): whole texts as suggestions, weight = length(text),
    * candidates = top num×numFactor by weight desc (doc asc tie),
    * coefficient 1 when the raw text starts with the raw key else the
    * position blend of the FIRST matching token, score = trunc(weight ×
    * coefficient) toward zero, final top num by score desc / text desc
    * (the reference's LOOKUP_COMP descendingSet order).
    */
  def suggestBlended(key: String, matched: Seq[String],
      prefix: Option[String], blender: String, num: Int,
      numFactor: Int): String = {
    val tokMatch = (t: String) => {
      val eqs = matched.map(m => s"$t = ${lit(m)}")
      val pfx = prefix.map(p => s"$t LIKE ${lit(p + "%")}")
      (eqs ++ pfx).mkString("(", " OR ", ")")
    }
    val mustPred = (matched.map(m =>
      s"list_contains(toks, ${lit(m)})") ++
      prefix.map(p =>
        s"len(list_filter(toks, x -> x LIKE ${lit(p + "%")})) > 0"))
      .mkString(" AND ")
    val coefExpr = blender match {
      case "linear" => "1.0 - 0.10 * fp"
      case "reciprocal" => "1.0 / (fp + 1.0)"
      case "exp_reciprocal" => "1.0 / pow(fp + 1.0, 2.0)"
      case other => sys.error(s"unknown blender: $other")
    }
    s"""WITH t AS (
  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS w,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
      x -> x <> '') AS toks
  FROM documents
), c AS (
  SELECT doc_id, text, w, toks,
    row_number() OVER (ORDER BY w DESC, doc_id) AS rn
  FROM t WHERE $mustPred
), b AS (
  SELECT text, w,
    CAST(list_position(list_transform(toks, x -> ${tokMatch("x")}), true)
      AS DOUBLE) - 1.0 AS fp
  FROM c WHERE rn <= ${num * numFactor}
), s AS (
  SELECT text AS suggestion,
    CAST(trunc(CAST(w AS DOUBLE) *
      (CASE WHEN text LIKE ${lit(key + "%")} THEN 1.0
            ELSE $coefExpr END)) AS BIGINT) AS score
  FROM b
)
SELECT suggestion, score FROM s
ORDER BY score DESC, suggestion DESC LIMIT $num"""
  }

  /** ComplexPhraseQueryParser mixed-sign phrase
    * (`complexPhrase/ComplexPhraseQueryParser.java:326-352`), 3 slots
    * `"t0 -neg t1"~slop`: include = near(t0, t1, slop + 1), exclude =
    * near(t0, neg, t1, slop), result = SpanNot(include, exclude) — an
    * include span [q0, e) is vetoed when an exclude span [x0, xe)
    * satisfies xe > q0 AND x0 < e (pre = post = 0). Weight folds the
    * INCLUDE side's terms only (SpanNotWeight.extractTerms).
    */
  def complexPhraseNot(t0: String, neg: String, t1: String, slop: Int,
      k: Int): String = {
    val score = spanTreeScore(spanTreeWeight(Seq(t0, t1)))
    prologue + spanPosx +
      s""", ia AS (
  SELECT doc_id, pos - 1 AS pos FROM posx WHERE term = ${lit(t0)}
), ib AS (
  SELECT doc_id, pos - 1 AS pos FROM posx WHERE term = ${lit(t1)}
), xb AS (
  SELECT doc_id, pos - 1 AS pos FROM posx WHERE term = ${lit(neg)}
), inc AS (
  SELECT ia.doc_id, ia.pos AS q0, MIN(ib.pos) AS q1
  FROM ia JOIN ib ON ib.doc_id = ia.doc_id AND ib.pos >= ia.pos + 1
  GROUP BY ALL
), exc2 AS (
  SELECT ia.doc_id, ia.pos AS x0, MIN(xb.pos) AS x1
  FROM ia JOIN xb ON xb.doc_id = ia.doc_id AND xb.pos >= ia.pos + 1
  GROUP BY ALL
), exc AS (
  SELECT e.doc_id, e.x0, e.x1, MIN(ib.pos) AS x2
  FROM exc2 e JOIN ib ON ib.doc_id = e.doc_id AND ib.pos >= e.x1 + 1
  GROUP BY ALL
), excsp AS (
  SELECT doc_id, x0, x2 + 1 AS xe FROM exc
  WHERE (x1 - x0 - 1) + (x2 - x1 - 1) <= $slop
), ph AS (
  SELECT doc_id, ${R("SUM(1.0 / CAST(1 + (q1 - q0 - 1) AS DOUBLE))")} AS freq
  FROM inc sp
  WHERE q1 - q0 - 1 <= ${slop + 1} AND NOT EXISTS (
    SELECT 1 FROM excsp x WHERE x.doc_id = sp.doc_id
      AND x.xe > sp.q0 AND x.x0 < sp.q1 + 1)
  GROUP BY doc_id
), res AS (
  SELECT p.doc_id, $score AS s FROM ph p JOIN dn ON p.doc_id = dn.doc_id
  WHERE p.freq > 0
)""" + finish("res", k)
  }

  /** Unordered 2-clause span near (surround `kN(a, b)` → slop k−1;
    * `NearSpansUnordered.java` min-advancing walk): cursors (i, j) start
    * at each list's head; every state emits span (min, max+1) with width
    * |a−b|−1, then the cursor holding the smaller position advances;
    * the walk stops when a list exhausts (trailing pairs are NOT
    * emitted). Replayed with a recursive CTE over (doc_id, i, j).
    */
  def surroundUnordered2(a: String, b: String, slop: Int, k: Int): String = {
    val score = spanTreeScore(spanTreeWeight(Seq(a, b)))
    "WITH RECURSIVE" + (prologue + spanPosx +
      s""", pa AS (
  SELECT doc_id, pos - 1 AS pos,
    row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
  FROM posx WHERE term = ${lit(a)}
), pb AS (
  SELECT doc_id, pos - 1 AS pos,
    row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
  FROM posx WHERE term = ${lit(b)}
), walk(doc_id, i, j) AS (
  SELECT da.doc_id, CAST(1 AS BIGINT), CAST(1 AS BIGINT)
  FROM (SELECT DISTINCT doc_id FROM pa) da
  JOIN (SELECT DISTINCT doc_id FROM pb) db ON da.doc_id = db.doc_id
  UNION ALL
  SELECT w.doc_id,
    CASE WHEN wa.pos < wb.pos THEN w.i + 1 ELSE w.i END,
    CASE WHEN wa.pos < wb.pos THEN w.j ELSE w.j + 1 END
  FROM walk w
  JOIN pa wa ON wa.doc_id = w.doc_id AND wa.rn = w.i
  JOIN pb wb ON wb.doc_id = w.doc_id AND wb.rn = w.j
), spans AS (
  SELECT w.doc_id, abs(wa.pos - wb.pos) - 1 AS width
  FROM walk w
  JOIN pa wa ON wa.doc_id = w.doc_id AND wa.rn = w.i
  JOIN pb wb ON wb.doc_id = w.doc_id AND wb.rn = w.j
), ph AS (
  SELECT doc_id, ${R("SUM(1.0 / CAST(1 + width AS DOUBLE))")} AS freq
  FROM spans WHERE width <= $slop GROUP BY doc_id
), res AS (
  SELECT p.doc_id, $score AS s FROM ph p JOIN dn ON p.doc_id = dn.doc_id
  WHERE p.freq > 0
)""").stripPrefix("WITH") + finish("res", k)
  }

  /** SpanContaining (`SpanContainingQuery.java:80-94`, forward-only
    * streaming law): an ordered-near big span containing a term little.
    * With bigs processed in start order, the little cursor always rests
    * on the FIRST little with start ≥ big.start (it advances only while
    * little.start < big.start), so the closed form is per-big: emit iff
    * min{litlePos ≥ q0} ≤ e − 1 (little exhaustion = NULL = reject, and
    * every later big rejects too). Emits the BIG span (freq from its
    * width); weight folds BOTH sides' terms (`SpanContainWeight`
    * getTermContexts(big, little)).
    */
  def spanContaining(bigTerms: Seq[String], bigSlop: Int, little: String,
      k: Int): String = {
    val (chain, widthExpr, lastQ) = spanChain(bigTerms)
    val score = spanTreeScore(spanTreeWeight(bigTerms :+ little))
    prologue + spanPosx + chain +
      s""", pl AS (
  SELECT doc_id, pos - 1 AS pos FROM posx WHERE term = ${lit(little)}
), big AS (
  SELECT doc_id, q0, $lastQ + 1 AS e, $widthExpr AS width
  FROM m${bigTerms.size - 1} WHERE $widthExpr <= $bigSlop
), ph AS (
  SELECT b.doc_id, ${R("SUM(1.0 / CAST(1 + b.width AS DOUBLE))")} AS freq
  FROM big b WHERE (
    SELECT MIN(p.pos) FROM pl p
    WHERE p.doc_id = b.doc_id AND p.pos >= b.q0) <= b.e - 1
  GROUP BY b.doc_id
), res AS (
  SELECT p.doc_id, $score AS s FROM ph p JOIN dn ON p.doc_id = dn.doc_id
  WHERE p.freq > 0
)""" + finish("res", k)
  }

  /** SpanWithin (`SpanWithinQuery.java:77-92`): term littles enclosed by
    * an ordered-near big. Littles are width-1 term spans (ends strictly
    * increasing), so the big cursor's forward-only rest point per little
    * is exactly the first big in (start, end) order with end ≥
    * little.end — emit the little iff that big's start ≤ little.start.
    * freq = count of emitted littles (each width 0).
    */
  def spanWithin(little: String, bigTerms: Seq[String], bigSlop: Int,
      k: Int): String = {
    val (chain, widthExpr, lastQ) = spanChain(bigTerms)
    val score = spanTreeScore(spanTreeWeight(little +: bigTerms))
    prologue + spanPosx + chain +
      s""", pl AS (
  SELECT doc_id, pos - 1 AS pos FROM posx WHERE term = ${lit(little)}
), big AS (
  SELECT doc_id, q0, $lastQ + 1 AS e
  FROM m${bigTerms.size - 1} WHERE $widthExpr <= $bigSlop
), ph AS (
  SELECT l.doc_id, CAST(COUNT(*) AS REAL) AS freq
  FROM pl l WHERE (
    SELECT b.q0 FROM big b
    WHERE b.doc_id = l.doc_id AND b.e >= l.pos + 1
    ORDER BY b.q0, b.e LIMIT 1) <= l.pos
  GROUP BY l.doc_id
), res AS (
  SELECT p.doc_id, $score AS s FROM ph p JOIN dn ON p.doc_id = dn.doc_id
  WHERE p.freq > 0
)""" + finish("res", k)
  }

  /** SpanPositionRange over an ordered SpanNear
    * (`SpanPositionRangeQuery.java:41-48`): spans with start ≥ rStart
    * and end ≤ rEnd (the NO_MORE_IN_CURRENT_DOC early stop is a filter —
    * starts are sorted, so every span after the stop fails too).
    */
  def spanPosRange(terms: Seq[String], slop: Int, rStart: Int, rEnd: Int,
      k: Int): String = {
    val (chain, widthExpr, lastQ) = spanChain(terms)
    val score = spanTreeScore(spanTreeWeight(terms))
    prologue + spanPosx + chain +
      s""", sp AS (
  SELECT doc_id, q0, $lastQ + 1 AS e, $widthExpr AS width
  FROM m${terms.size - 1}
), ph AS (
  SELECT doc_id, ${R("SUM(1.0 / CAST(1 + width AS DOUBLE))")} AS freq
  FROM sp WHERE width <= $slop AND q0 >= $rStart AND e <= $rEnd
  GROUP BY doc_id
), res AS (
  SELECT p.doc_id, $score AS s FROM ph p JOIN dn ON p.doc_id = dn.doc_id
  WHERE p.freq > 0
)""" + finish("res", k)
  }

  /** SpanMultiTermQueryWrapper (`SpanMultiTermQueryWrapper.java:51`): an
    * ordered near whose FIRST clause is a wildcard expanded to the union
    * of matching terms' positions (distinct terms never share a
    * position). Weight = float idf fold over sorted DISTINCT present
    * terms across both clauses — the matching set is dynamic, so a
    * recursive CTE does the ordered float fold.
    */
  def spanNearWildcard(likePat: String, term2: String, slop: Int,
      k: Int): String = {
    val score = spanTreeScore("(SELECT w FROM wv)")
    "WITH RECURSIVE" + (prologue + spanPosx +
      s""", wt AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tok
  WHERE term LIKE ${lit(likePat)} OR term = ${lit(term2)}
  GROUP BY term
), wsort AS (
  SELECT term, df, row_number() OVER (ORDER BY term) AS rn FROM wt
), wfold(rn, acc) AS (
  SELECT 0, ${R("0.0")}
  UNION ALL
  SELECT w.rn, ${R(s"f.acc + ${idfExpr("w.df")}")}
  FROM wfold f JOIN wsort w ON w.rn = f.rn + 1
), wv AS (
  SELECT ${R(s"acc * ($K1 + ${R("1")})")} AS w
  FROM wfold ORDER BY rn DESC LIMIT 1
), p0 AS (
  SELECT doc_id, pos - 1 AS pos FROM posx WHERE term LIKE ${lit(likePat)}
), p1 AS (
  SELECT doc_id, pos - 1 AS pos FROM posx WHERE term = ${lit(term2)}
), m1 AS (
  SELECT p0.doc_id, p0.pos AS q0, MIN(p1.pos) AS q1
  FROM p0 JOIN p1 ON p1.doc_id = p0.doc_id AND p1.pos >= p0.pos + 1
  GROUP BY ALL
), ph AS (
  SELECT doc_id, ${R("SUM(1.0 / CAST(1 + (q1 - q0 - 1) AS DOUBLE))")} AS freq
  FROM m1 WHERE q1 - q0 - 1 <= $slop GROUP BY doc_id
), res AS (
  SELECT p.doc_id, $score AS s FROM ph p JOIN dn ON p.doc_id = dn.doc_id
  WHERE p.freq > 0
)""").stripPrefix("WITH") + finish("res", k)
  }

  /** SpanFirst: the term restricted to positions ending ≤ `end` (1-based
    * subscript pos has span end == pos), freq = count of qualifying
    * occurrences, BM25 with the term's full-df weight.
    */
  def spanFirst(term: String, end: Int, k: Int): String = {
    val w = R(s"${idfExpr(s"(SELECT count(DISTINCT doc_id) FROM tok WHERE term = ${lit(term)})")} * ($K1 + ${R("1")})")
    val score = R(s"${R(s"$w * p.freq")} / ${R(s"p.freq + ${cacheExpr("dn.qlen")}")}")
    prologue +
      s""", posx AS (
  SELECT doc_id, unnest(arr) AS term, generate_subscripts(arr, 1) AS pos
  FROM (SELECT doc_id,
          list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                      x -> x <> '' AND length(x) <= 255) AS arr
        FROM documents)
), ph AS (
  SELECT doc_id, ${R("count(*)")} AS freq
  FROM posx WHERE term = ${lit(term)} AND pos <= $end GROUP BY doc_id
), res AS (
  SELECT p.doc_id, $score AS s FROM ph p JOIN dn ON p.doc_id = dn.doc_id
)""" + finish("res", k)
  }

  /** SpanNot: include occurrences with no exclude occurrence within
    * `pre` positions before / `post` after (the width-0-span reduction
    * of the reference's overlap-window test); freq = accepted count,
    * BM25 weight from the include term alone.
    */
  def spanNot(inc: String, exc: String, pre: Int, post: Int, k: Int): String = {
    val w = R(s"${idfExpr(s"(SELECT count(DISTINCT doc_id) FROM tok WHERE term = ${lit(inc)})")} * ($K1 + ${R("1")})")
    val score = R(s"${R(s"$w * p.freq")} / ${R(s"p.freq + ${cacheExpr("dn.qlen")}")}")
    prologue +
      s""", posx AS (
  SELECT doc_id, unnest(arr) AS term, generate_subscripts(arr, 1) AS pos
  FROM (SELECT doc_id,
          list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                      x -> x <> '' AND length(x) <= 255) AS arr
        FROM documents)
), ph AS (
  SELECT i.doc_id, ${R("count(*)")} AS freq
  FROM posx i
  WHERE i.term = ${lit(inc)} AND NOT EXISTS (
    SELECT 1 FROM posx e WHERE e.doc_id = i.doc_id AND e.term = ${lit(exc)}
      AND e.pos BETWEEN i.pos - $pre AND i.pos + $post)
  GROUP BY i.doc_id
), res AS (
  SELECT p.doc_id, $score AS s FROM ph p JOIN dn ON p.doc_id = dn.doc_id
)""" + finish("res", k)
  }

  /** SpanOr: union of member occurrences, freq = Σ member tf, one BM25
    * score with idf folded over distinct sorted members.
    */
  def spanOr(terms: Seq[String], k: Int): String = {
    val idfFold = terms.distinct.sorted.map(t =>
      idfExpr(s"(SELECT count(DISTINCT doc_id) FROM tok WHERE term = ${lit(t)})"))
      .reduce((x, y) => R(s"$x + $y"))
    val w = R(s"$idfFold * ($K1 + ${R("1")})")
    val score = R(s"${R(s"$w * p.freq")} / ${R(s"p.freq + ${cacheExpr("dn.qlen")}")}")
    val inList = terms.distinct.map(lit).mkString(", ")
    prologue +
      s""", ph AS (
  SELECT doc_id, ${R("count(*)")} AS freq
  FROM tok WHERE term IN ($inList) GROUP BY doc_id
), res AS (
  SELECT p.doc_id, $score AS s FROM ph p JOIN dn ON p.doc_id = dn.doc_id
)""" + finish("res", k)
  }

  /** Exact multi-phrase, 2 offsets: term `a` followed by ANY of `bs`
    * (MultiPhraseQuery union semantics). idf = Σ over all member terms,
    * float-folded in offset-then-list order like the engine.
    */
  def multiPhrase2(a: String, bs: Seq[String], k: Int): String = {
    val idfs = (a +: bs).map(t =>
      idfExpr(s"(SELECT count(DISTINCT doc_id) FROM tok WHERE term = ${lit(t)})"))
    val idfSum = idfs.reduce((x, y) => R(s"$x + $y"))
    val w = R(s"$idfSum * ($K1 + ${R("1")})")
    val tfR = R("p.tf")
    val score = R(s"${R(s"$w * $tfR")} / ${R(s"$tfR + ${cacheExpr("dn.qlen")}")}")
    val inList = bs.map(lit).mkString(", ")
    prologue +
      s""", posx AS (
  SELECT doc_id, unnest(arr) AS term, generate_subscripts(arr, 1) AS pos
  FROM (SELECT doc_id,
          list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                      x -> x <> '' AND length(x) <= 255) AS arr
        FROM documents)
), ph AS (
  SELECT p1.doc_id, count(*) AS tf
  FROM posx p1 JOIN posx p2 ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1
  WHERE p1.term = ${lit(a)} AND p2.term IN ($inList)
  GROUP BY p1.doc_id
), res AS (
  SELECT p.doc_id, $score AS s FROM ph p JOIN dn ON p.doc_id = dn.doc_id
)""" + finish("res", k)
  }

  /** Sloppy multi-phrase with a REPEATED term, 2 offsets: `a` then
    * (any of `bs`), where `a ∈ bs` — the hasMultiTermRpts case
    * (`SloppyPhraseScorer.java:148-200,292-310`). The oracle simulates the
    * reference sweep STEP-BY-STEP as a recursive CTE (one row per loop
    * iteration) over stream A = positions(a) and stream B = the union of
    * the members' positions (adjusted −1):
    *
    *  - init: place firsts; a collision (same RAW token in both streams)
    *    advances the lesser — always B, whose adjusted position is smaller
    *  - each step: advance the popped stream; resolve at most one
    *    collision by advancing B; a queue crossing (popped position >
    *    captured runner-up) emits 1/(matchLength+1) when within slop;
    *    exhaustion emits the final candidate
    *
    * Validated against the engine kernel by the 2000-case pq-transcription
    * property in PhraseSpec; float accumulation order matches `freq +=`.
    */
  def multiPhraseSloppyRpt2(a: String, bs: Seq[String], slop: Int, k: Int): String = {
    require(bs.contains(a), "oracle shape: repeated term must be in offset 2")
    val idfs = (a +: bs).map(t =>
      idfExpr(s"(SELECT count(DISTINCT doc_id) FROM tok WHERE term = ${lit(t)})"))
    val idfSum = idfs.reduce((x, y) => R(s"$x + $y"))
    val w = R(s"$idfSum * ($K1 + ${R("1")})")
    val score = R(s"${R(s"$w * p.freq")} / ${R(s"p.freq + ${cacheExpr("dn.qlen")}")}")
    val one = R("1.0")
    val inList = bs.map(lit).mkString(", ")
    "WITH RECURSIVE" + prologue.stripPrefix("WITH") +
      s""", posx AS (
  SELECT doc_id, unnest(arr) AS term, generate_subscripts(arr, 1) AS pos
  FROM (SELECT doc_id,
          list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                      x -> x <> '' AND length(x) <= 255) AS arr
        FROM documents)
), pa AS (
  SELECT doc_id, list(pos - 1 ORDER BY pos) AS al
  FROM posx WHERE term = ${lit(a)} GROUP BY doc_id
), pb AS (
  SELECT doc_id, list(p ORDER BY p) AS rl FROM (
    SELECT DISTINCT doc_id, pos - 1 AS p FROM posx WHERE term IN ($inList)
  ) GROUP BY doc_id
), seed AS (
  -- init: A at al[1]; B skips an initial same-raw-token collision; docs
  -- whose B stream exhausts at init can never match
  SELECT doc_id, al, rl, ia, ib, al[ia] AS curA, rl[ib] - 1 AS curB
  FROM (
    SELECT pa.doc_id, al, rl, 1 AS ia,
      CASE WHEN al[1] = rl[1] THEN 2 ELSE 1 END AS ib
    FROM pa JOIN pb USING (doc_id)
  ) WHERE ib <= len(rl)
), rec AS (
  SELECT doc_id, al, rl, ia, ib,
    curA <= curB AS ppA,
    CASE WHEN curA <= curB THEN curB ELSE curA END AS next,
    greatest(curA, curB) - CASE WHEN curA <= curB THEN curA ELSE curB END AS ml,
    greatest(curA, curB) AS e,
    CAST(0 AS REAL) AS freq, TRUE AS alive
  FROM seed
  UNION ALL
  SELECT doc_id, al, rl, ia1, ibx,
    CASE WHEN crossed THEN nppA ELSE ppA END,
    CASE WHEN crossed THEN CASE WHEN nppA THEN curB2 ELSE curA2 END ELSE next END,
    CASE WHEN dead THEN ml
         WHEN crossed THEN e2 - CASE WHEN nppA THEN curA2 ELSE curB2 END
         ELSE least(ml, e2 - curPP) END,
    e2,
    CAST(freq + CASE WHEN (dead OR crossed) AND ml <= $slop
      THEN ${R(s"$one / CAST(ml + 1 AS REAL)")} ELSE CAST(0 AS REAL) END AS REAL),
    NOT dead
  FROM (
    SELECT *,
      CASE WHEN dead THEN FALSE ELSE curPP > next END AS crossed,
      CASE WHEN dead THEN FALSE ELSE curA2 <= curB2 END AS nppA
    FROM (
      SELECT *,
        al[ia1] AS curA2, rl[ibx] - 1 AS curB2,
        CASE WHEN ppA THEN al[ia1] ELSE rl[ibx] - 1 END AS curPP,
        CASE WHEN dead THEN e
             WHEN ppA AND coll THEN greatest(e, al[ia1], rl[ibx] - 1)
             WHEN ppA THEN greatest(e, al[ia1])
             ELSE greatest(e, rl[ibx] - 1) END AS e2
      FROM (
        SELECT *, exh1 OR (coll AND ibx > len(rl)) AS dead
        FROM (
          SELECT *, CASE WHEN coll THEN ib1 + 1 ELSE ib1 END AS ibx
          FROM (
            SELECT *, NOT exh1 AND al[ia1] = rl[ib1] AS coll
            FROM (
              SELECT *,
                CASE WHEN ppA THEN ia + 1 ELSE ia END AS ia1,
                CASE WHEN ppA THEN ib ELSE ib + 1 END AS ib1,
                CASE WHEN ppA THEN ia + 1 > len(al)
                     ELSE ib + 1 > len(rl) END AS exh1
              FROM rec WHERE alive
            )
          )
        )
      )
    )
  )
), ph AS (
  SELECT doc_id, freq FROM rec WHERE NOT alive AND freq > 0
), res AS (
  SELECT p.doc_id, $score AS s FROM ph p JOIN dn ON p.doc_id = dn.doc_id
)""" + finish("res", k)
  }

  /** Highlighted top-k for a term query: BM25 top-k (tie-break law), each
    * hit's snippet = `window` tokens starting `before` tokens ahead of the
    * term's FIRST occurrence, the term wrapped in <em>…</em>.
    */
  def highlightTerm(term: String, k: Int, before: Int = 2,
      window: Int = 8): String =
    prologue + termCtes("a", term) +
      s""", posx AS (
  SELECT doc_id, unnest(arr) AS term, generate_subscripts(arr, 1) AS pos
  FROM (SELECT doc_id,
          list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                      x -> x <> '' AND length(x) <= 255) AS arr
        FROM documents)
), arrs AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                x -> x <> '' AND length(x) <= 255) AS arr
  FROM documents
), firstp AS (
  SELECT doc_id, min(pos) AS p FROM posx WHERE term = ${lit(term)} GROUP BY doc_id
), topk AS (
  SELECT doc_id, s,
    CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS INT) AS rnk
  FROM sc_a ORDER BY s DESC, doc_id LIMIT $k
)
SELECT t.doc_id,
  array_to_string(
    list_transform(
      arr[greatest(1, p - $before):greatest(1, p - $before) + ${window - 1}],
      x -> CASE WHEN x = ${lit(term)} THEN '<em>' || x || '</em>' ELSE x END),
    ' ') AS snippet,
  t.rnk
FROM topk t JOIN arrs USING (doc_id) JOIN firstp USING (doc_id)
ORDER BY t.rnk"""

  /** FastVectorHighlighter fragments for a single-term query, recomputed
    * from scratch: char offsets of every token occurrence via
    * interleaved token/separator prefix sums, the greedy fragment loop
    * (`vectorhighlight/BaseFragListBuilder.java:48-103`) as a recursive
    * CTE state machine (one occurrence per step, margin 6, centering,
    * border-violation skip, trailing close step), WeightedFieldFragList
    * scoring (`WeightedFieldFragList.java:45-77`: single distinct term →
    * totalBoost = float(w · n·(1/√n)) with w = float(ln(N/(df+1)) + 1)),
    * SimpleBoundaryScanner window adjustment (maxScan 20, boundary chars
    * . , ! ? space tab newline) and <b></b> tagging
    * (`BaseFragmentsBuilder.java:147-178`). Fragments ranked boost desc,
    * startOffset asc; top `maxNumFragments` per doc of the top-k docs of
    * the plain BM25 term query.
    */
  def fvhFragments(term: String, k: Int, fragCharSize: Int,
      maxNumFragments: Int, margin: Int = 6): String = {
    val t = lit(term)
    val FCS = fragCharSize
    val B = s"['.', ',', '!', '?', ' ', chr(9), chr(10)]"
    // findStartOffset(text, s) / findEndOffset(text, e) as SQL macros
    def findStart(text: String, s: String): String =
      s"""CASE WHEN $s < 1 OR $s > length($text) THEN $s ELSE COALESCE(
  $s - list_min(list_filter(generate_series(0, 19),
        d -> $s - d >= 1 AND list_contains($B, substr($text, $s - d, 1)))),
  CASE WHEN $s <= 20 THEN 0 ELSE $s END) END"""
    def findEnd(text: String, e: String): String =
      s"""COALESCE($e + list_min(list_filter(generate_series(0, 19),
        d -> $e + d < length($text)
          AND list_contains($B, substr($text, $e + d + 1, 1)))), $e)"""
    // w = (float)(ln(numDocs/(df+1.0)) + 1.0); norm = n·(1/√n) in float;
    // single distinct term → totalBoost = float(w · norm)
    val wExpr = R("ln(CAST((SELECT n FROM av) AS DOUBLE) / " +
      "((SELECT count(*) FROM tf_a) + 1)) + 1.0")
    val normExpr = R("CAST(nmem AS REAL) * " +
      R("CAST(1 AS REAL) / CAST(sqrt(CAST(nmem AS DOUBLE)) AS REAL)"))
    val fvhScoreExpr = R(s"$wExpr * $normExpr")
    "WITH RECURSIVE" + prologue.stripPrefix("WITH") + termCtes("a", term) +
      s""", topk AS (
  SELECT doc_id, s FROM sc_a ORDER BY s DESC, doc_id LIMIT $k
), tsplit AS (
  SELECT d.doc_id, d.text,
    regexp_extract_all(d.text, '[A-Za-z0-9]+') AS tks,
    regexp_extract_all(d.text, '[^A-Za-z0-9]+') AS seps,
    CASE WHEN regexp_matches(d.text, '^[^A-Za-z0-9]') THEN 1 ELSE 0 END AS lead
  FROM documents d JOIN topk USING (doc_id)
), tokrows AS (
  SELECT doc_id, unnest(tks) AS tk, generate_subscripts(tks, 1) AS i, lead
  FROM tsplit
), tokcum AS (
  SELECT doc_id, i, tk, lead,
    COALESCE(sum(length(tk)) OVER (PARTITION BY doc_id ORDER BY i
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tkbefore
  FROM tokrows
), seprows AS (
  SELECT doc_id, unnest(seps) AS sp, generate_subscripts(seps, 1) AS i
  FROM tsplit
), sepcum AS (
  SELECT doc_id, i,
    sum(length(sp)) OVER (PARTITION BY doc_id ORDER BY i) AS sepupto
  FROM seprows
), occn AS (
  SELECT doc_id, so, CAST(so + ln AS INT) AS eo,
    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY so) AS INT) AS idx
  FROM (SELECT tc.doc_id,
          CAST(tc.tkbefore + COALESCE(sc.sepupto, 0) AS INT) AS so,
          length(tc.tk) AS ln
        FROM tokcum tc LEFT JOIN sepcum sc
          ON sc.doc_id = tc.doc_id AND sc.i = tc.i - 1 + tc.lead
        WHERE lower(tc.tk) = $t AND length(tc.tk) <= 255)
), cnt AS (
  SELECT doc_id, CAST(max(idx) AS INT) AS n FROM occn GROUP BY doc_id
), rec AS (
  -- the greedy loop, one occurrence per step; step n+1 closes the tail
  SELECT doc_id, 0 AS idx, 0 AS flr, false AS open,
    0 AS fso, 0 AS feo, 0 AS prov,
    CAST([] AS STRUCT(so INT, eo INT)[]) AS ms,
    CAST([] AS STRUCT(s INT, e INT, ms STRUCT(so INT, eo INT)[])[]) AS em
  FROM cnt
  UNION ALL
  SELECT doc_id, idx2, flr2,
    (absorb OR opennew) AS open,
    CASE WHEN absorb THEN fso WHEN opennew THEN oso ELSE 0 END AS fso,
    CASE WHEN absorb OR opennew THEN oeo ELSE 0 END AS feo,
    CASE WHEN absorb THEN prov
         WHEN opennew THEN greatest(oeo, greatest(oso - $margin, flr2) + $FCS)
         ELSE 0 END AS prov,
    CASE WHEN absorb THEN list_append(ms, {'so': oso, 'eo': oeo})
         WHEN opennew THEN [{'so': oso, 'eo': oeo}]
         ELSE CAST([] AS STRUCT(so INT, eo INT)[]) END AS ms,
    CASE WHEN closing THEN list_append(em,
           {'s': cstart, 'e': CAST(flr2 AS INT), 'ms': ms})
         ELSE em END AS em
  FROM (
    SELECT *,
      (has_o AND (NOT open OR closing) AND oso >= flr2) AS opennew
    FROM (
      SELECT *,
        CASE WHEN closing THEN cstart + greatest(feo - fso, $FCS)
             ELSE flr END AS flr2
      FROM (
        SELECT r.doc_id, r.idx + 1 AS idx2, r.flr, r.open, r.fso, r.feo,
          r.prov, r.ms, r.em,
          (o.idx IS NOT NULL) AS has_o,
          (r.open AND (o.idx IS NULL OR o.eo > r.prov)) AS closing,
          (r.open AND o.idx IS NOT NULL AND o.eo <= r.prov) AS absorb,
          CASE WHEN r.fso - greatest(0, ($FCS - (r.feo - r.fso)) // 2) < r.flr
               THEN r.flr
               ELSE r.fso - greatest(0, ($FCS - (r.feo - r.fso)) // 2)
          END AS cstart,
          o.so AS oso, o.eo AS oeo
        FROM rec r JOIN cnt c USING (doc_id)
        LEFT JOIN occn o ON o.doc_id = r.doc_id AND o.idx = r.idx + 1
        WHERE r.idx <= c.n
      ) s0
    ) s1
  ) s2
), final AS (
  SELECT r1.doc_id, r1.em
  FROM rec r1 JOIN cnt c ON c.doc_id = r1.doc_id AND r1.idx = c.n + 1
), frags AS (
  SELECT doc_id, f.s AS fs, f.e AS fe, f.ms AS ms, len(f.ms) AS nmem
  FROM (SELECT doc_id, unnest(em) AS f FROM final) u
), scored AS (
  SELECT doc_id, fs, fe, ms, $fvhScoreExpr AS fscore
  FROM frags
), ranked AS (
  SELECT doc_id, fs, fe, ms, fscore,
    CAST(row_number() OVER (PARTITION BY doc_id
      ORDER BY fscore DESC, fs ASC) AS INT) AS frank
  FROM scored
), sel AS (
  SELECT r.*, d.text,
    ${findStart("d.text", "r.fs")} AS mso,
    CASE WHEN length(d.text) < r.fe THEN length(d.text)
         ELSE ${findEnd("d.text", "r.fe")} END AS eo2
  FROM ranked r JOIN documents d USING (doc_id)
  WHERE r.frank <= $maxNumFragments
)
SELECT doc_id,
  array_to_string(list_transform(generate_series(1, CAST(len(ms) AS INT)),
    i -> substr(substr(text, mso + 1, eo2 - mso),
           (CASE WHEN i = 1 THEN 0 ELSE ms[i - 1].eo - mso END) + 1,
           ms[i].so - mso - (CASE WHEN i = 1 THEN 0 ELSE ms[i - 1].eo - mso END))
         || '<b>' || substr(substr(text, mso + 1, eo2 - mso),
              ms[i].so - mso + 1, ms[i].eo - ms[i].so) || '</b>'), '')
  || substr(substr(text, mso + 1, eo2 - mso), ms[len(ms)].eo - mso + 1)
  AS fragment,
  CAST(fscore AS DOUBLE) AS fscore, frank
FROM sel
ORDER BY doc_id, frank"""
  }

  /** Prefix: const-score 1.0 over docs containing any matching term. */
  def prefix(p: String, k: Int): String =
    prologue +
      s""", res AS (
  SELECT DISTINCT doc_id, CAST(1.0 AS REAL) AS s
  FROM tok WHERE term LIKE ${lit(p + "%")}
)""" + finish("res", k)

  /** Wildcard: const-score over docs with any term matching the regex. */
  def wildcard(regex: String, k: Int): String =
    prologue +
      s""", res AS (
  SELECT DISTINCT doc_id, CAST(1.0 AS REAL) AS s
  FROM tok WHERE regexp_matches(term, ${lit(regex)})
)""" + finish("res", k)

  /** Planted suffix-family docs for the reversed-wildcard gate —
    * identical literals on the engine side (the "revwild"
    * SearchGate.specSearcher).
    */
  val revwildPlanted: Seq[(Long, String)] = Seq(
    910001L -> "aardvark landmark in the network",
    910002L -> "benchmark postmark artwork",
    910003L -> "cart dart chart spark",
    910004L -> "okra in the pot")

  /** Wildcard over a ReversedWildcardFilter field: the reversal is pure
    * machinery — hit membership and const scores equal a plain
    * whole-term wildcard over the ORIGINAL tokens of corpus ∪ planted.
    * An engine that leaked marker terms into an unreversed pattern (the
    * `minus(falsePositives)` law, `parser/SolrQueryParserBase
    * .java:786-791`) would over-match here.
    */
  def revwildWildcard(regex: String, k: Int): String = {
    val plantedRows = revwildPlanted
      .map { case (id, t) => s"($id, ${lit(t)})" }.mkString(", ")
    s"""WITH d2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT * FROM (VALUES $plantedRows) pl(doc_id, text)
), tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
  FROM d2
), res AS (
  SELECT DISTINCT doc_id, CAST(1.0 AS REAL) AS s
  FROM tok WHERE term <> '' AND regexp_matches(term, ${lit(regex)})
)""" + finish("res", k)
  }

  /** Regexp with WHOLE-term semantics (`RegexpQuery.java:48`: the
    * automaton consumes the entire term — no substring mode), const-score
    * like the reference's default rewrite.
    */
  def regexp(pattern: String, k: Int): String =
    prologue +
      s""", res AS (
  SELECT DISTINCT doc_id, CAST(1.0 AS REAL) AS s
  FROM tok WHERE regexp_full_match(term, ${lit(pattern)})
)""" + finish("res", k)

  // ---------- Classic (Lucene-6 TF-IDF) similarity oracles ----------
  //
  // Pipeline replayed bit-exactly (`ClassicSimilarity.java`,
  // `TFIDFSimilarity.java:746-800`, `IndexSearcher.java:732-743`):
  //   idf        = (float)(ln((N+1)/(df+1)) + 1)
  //   sumSq      = float fold of idf² in clause order (BooleanWeight)
  //   queryNorm  = (float)(1/sqrt(sumSq))
  //   value      = (queryNorm·idf)·idf            [boost = 1]
  //   fieldNorm  = byte315ToFloat(normByte)       [raw decode, not the
  //                                                BM25 length table]
  //   score(t,d) = ((float)sqrt(tf)·value)·fieldNorm
  //   OR         = (float)Σdouble · coord[overlap], coord = i/(float)n
  //   AND        = (float)Σdouble                  [coord(n,n) = 1]

  private lazy val classicNormRows: String =
    Norms.decodedNormRanges().map { case (lo, hi, v) =>
      s"($lo, ${if (hi == Long.MaxValue) "9223372036854775807" else hi}, $v)"
    }.mkString(", ")

  /** Classic prologue: tok + cn(doc_id, nv REAL) + av(n). */
  def classicPrologue: String =
    tokDlenCtes +
    s""", cnormq(lo, hi, nv) AS (
  SELECT * FROM (VALUES $classicNormRows)
), cn AS (
  SELECT dlen.doc_id, ${R("cnormq.nv")} AS nv
  FROM dlen JOIN cnormq ON dlen.len BETWEEN cnormq.lo AND cnormq.hi
), av AS (
  SELECT (SELECT count(*) FROM documents) AS n
)"""

  private def classicIdf(dfExpr: String): String =
    R(s"ln(((SELECT n FROM av) + 1) / CAST($dfExpr + 1 AS DOUBLE)) + 1.0")

  /** Per-term tf + classic-scored CTEs; `value` must be precomputed
    * (it depends on every query term via queryNorm).
    */
  private def classicTermCtes(a: String, term: String, value: String): String =
    s""", tf_$a AS (
  SELECT doc_id, count(*) AS tf FROM tok WHERE term = ${lit(term)} GROUP BY doc_id
), sc_$a AS (
  SELECT t.doc_id,
    ${R(s"${R(s"${R(s"sqrt(CAST(t.tf AS DOUBLE))")} * $value")} * cn.nv")} AS s
  FROM tf_$a t JOIN cn ON t.doc_id = cn.doc_id
)"""

  /** df/idf/queryNorm scaffolding: df CTEs plus per-term value exprs. */
  private def classicValues(terms: Seq[String]): (String, Seq[String]) = {
    val names = terms.indices.map(i => s"t$i")
    val dfCtes = names.zip(terms).map { case (n, t) =>
      s""", df_$n AS (
  SELECT count(DISTINCT doc_id) AS df FROM tok WHERE term = ${lit(t)})"""
    }.mkString
    val idfs = names.map(n => classicIdf(s"(SELECT df FROM df_$n)"))
    // float fold of queryWeight² in clause order (0f + s1 ≡ s1)
    val sumSq = idfs.map(i => R(s"$i * $i"))
      .reduceLeft((acc, s) => R(s"$acc + $s"))
    val qn = R(s"1.0 / sqrt(CAST($sumSq AS DOUBLE))")
    val values = idfs.map(i => R(s"${R(s"$qn * $i")} * $i"))
    (dfCtes, values)
  }

  def classicTerm(term: String, k: Int): String = {
    val (dfCtes, values) = classicValues(Seq(term))
    classicPrologue + dfCtes + classicTermCtes("t0", term, values.head) +
      finish("sc_t0", k)
  }

  def classicOr(terms: Seq[String], k: Int): String = {
    val (dfCtes, values) = classicValues(terms)
    val names = terms.indices.map(i => s"t$i")
    val ctes = names.zip(terms).zip(values).map { case ((n, t), v) =>
      classicTermCtes(n, t, v)
    }.mkString
    val union = names.map(n => s"SELECT doc_id, s FROM sc_$n").mkString(" UNION ALL ")
    val coord = R(s"CAST(count(*) AS REAL) / ${R(terms.size.toString)}")
    classicPrologue + dfCtes + ctes +
      s""", un AS ($union), res AS (
  SELECT doc_id, ${R(s"${R("SUM(CAST(s AS DOUBLE))")} * $coord")} AS s
  FROM un GROUP BY doc_id
)""" + finish("res", k)
  }

  // ---------- SweetSpotSimilarity (lucene/misc SweetSpotSimilarity.java:40)
  // Classic's idf²·queryNorm·coord math with (a) the plateau lengthNorm
  // byte315-encoded at index time (computeLengthNorm, :137-152) and
  // (b) baselineTf (:177-184). Gate parameters: lengthNorm min=8 max=40
  // steepness=0.5; baselineTf base=1.5 min=2.

  private lazy val sweetNormRows: String =
    Norms.sweetSpotNormRanges(8, 40, 0.5f).map { case (lo, hi, v) =>
      s"($lo, ${if (hi == Long.MaxValue) "9223372036854775807" else hi}, $v)"
    }.mkString(", ")

  /** SweetSpot prologue: tok + ssn(doc_id, nv REAL) + av(n). */
  private def sweetPrologue: String =
    tokDlenCtes +
    s""", ssnormq(lo, hi, nv) AS (
  SELECT * FROM (VALUES $sweetNormRows)
), ssn AS (
  SELECT dlen.doc_id, ${R("ssnormq.nv")} AS nv
  FROM dlen JOIN ssnormq ON dlen.len BETWEEN ssnormq.lo AND ssnormq.hi
), av AS (
  SELECT (SELECT count(*) FROM documents) AS n
)"""

  /** baselineTf in the reference's float order:
    * 0 → 0 (no tf row ⇒ absent anyway), tf ≤ min → base,
    * else (float)sqrt((freq + base²) − min).
    */
  private def ssTfExpr(tfCol: String): String = {
    val base = R("1.5")
    val inner = R(s"${R(s"CAST($tfCol AS REAL) + ${R(s"$base * $base")}")} - ${R("2.0")}")
    s"CASE WHEN $tfCol <= 2 THEN $base ELSE ${R(s"sqrt(CAST($inner AS DOUBLE))")} END"
  }

  private def ssTermCtes(a: String, term: String, value: String): String =
    s""", tf_$a AS (
  SELECT doc_id, count(*) AS tf FROM tok WHERE term = ${lit(term)} GROUP BY doc_id
), sc_$a AS (
  SELECT t.doc_id,
    ${R(s"${R(s"${ssTfExpr("t.tf")} * $value")} * ssn.nv")} AS s
  FROM tf_$a t JOIN ssn ON t.doc_id = ssn.doc_id
)"""

  def sweetSpotTerm(term: String, k: Int): String = {
    val (dfCtes, values) = classicValues(Seq(term))
    sweetPrologue + dfCtes + ssTermCtes("t0", term, values.head) +
      finish("sc_t0", k)
  }

  def sweetSpotOr(terms: Seq[String], k: Int): String = {
    val (dfCtes, values) = classicValues(terms)
    val names = terms.indices.map(i => s"t$i")
    val ctes = names.zip(terms).zip(values).map { case ((n, t), v) =>
      ssTermCtes(n, t, v)
    }.mkString
    val union = names.map(n => s"SELECT doc_id, s FROM sc_$n").mkString(" UNION ALL ")
    val coord = R(s"CAST(count(*) AS REAL) / ${R(terms.size.toString)}")
    sweetPrologue + dfCtes + ctes +
      s""", un AS ($union), res AS (
  SELECT doc_id, ${R(s"${R("SUM(CAST(s AS DOUBLE))")} * $coord")} AS s
  FROM un GROUP BY doc_id
)""" + finish("res", k)
  }

  /** Classic disjunction with PER-CLAUSE boosts: sumSq folds
    * ((idf²·b)·b) per clause in order (`BoostQuery`
    * getValueForNormalization scales the subtree's sum), per-term
    * value = ((qn·b)·idf)·idf (`normalize(queryNorm, topLevelBoost)`),
    * coord unchanged. Boost factors inline as exact float literals.
    */
  def classicOrBoosted(clauses: Seq[(String, Float)], k: Int): String = {
    val names = clauses.indices.map(i => s"t$i")
    val dfCtes = names.zip(clauses).map { case (nm, (t, _)) =>
      s""", df_$nm AS (
  SELECT count(DISTINCT doc_id) AS df FROM tok WHERE term = ${lit(t)})"""
    }.mkString
    val idfs = names.map(nm => classicIdf(s"(SELECT df FROM df_$nm)"))
    def bLit(b: Float): String = R(b.toDouble.toString)
    val sumSq = names.zip(clauses).zip(idfs).map { case ((_, (_, b)), i) =>
      if (b == 1f) R(s"$i * $i")
      else R(s"${R(s"${R(s"$i * $i")} * ${bLit(b)}")} * ${bLit(b)}")
    }.reduceLeft((acc, s) => R(s"$acc + $s"))
    val qn = R(s"1.0 / sqrt(CAST($sumSq AS DOUBLE))")
    val values = clauses.zip(idfs).map { case ((_, b), i) =>
      R(s"${R(s"${R(s"$qn * ${bLit(b)}")} * $i")} * $i")
    }
    val ctes = names.zip(clauses).zip(values).map { case ((nm, (t, _)), v) =>
      classicTermCtes(nm, t, v)
    }.mkString
    val union = names.map(nm => s"SELECT doc_id, s FROM sc_$nm")
      .mkString(" UNION ALL ")
    val coord = R(s"CAST(count(*) AS REAL) / ${R(clauses.size.toString)}")
    classicPrologue + dfCtes + ctes +
      s""", un AS ($union), res AS (
  SELECT doc_id, ${R(s"${R("SUM(CAST(s AS DOUBLE))")} * $coord")} AS s
  FROM un GROUP BY doc_id
)""" + finish("res", k)
  }

  /** Classic MUST+SHOULD composite (`BooleanTopLevelScorers.java:91-181`
    * ReqSingleOpt/ReqMultiOpt/CoordinatingConjunction): reqScore =
    * (float)Σdouble of must clauses, opt = (float)Σdouble of MATCHED
    * optionals, score = (req +float opt) × coords[m + matched]; coord
    * factors are inlined as exact float literals (i/(float)maxCoord —
    * maxCoord counts absent clauses too). msm > 0 requires ≥ msm matched
    * optionals per doc (`BooleanWeight.java:415-424`).
    */
  def classicMustShould(must: Seq[String], should: Seq[String], msm: Int,
      k: Int): String = {
    val terms = must ++ should
    val (dfCtes, values) = classicValues(terms)
    val names = terms.indices.map(i => s"t$i")
    val ctes = names.zip(terms).zip(values).map { case ((n, t), v) =>
      classicTermCtes(n, t, v)
    }.mkString
    val mNames = names.take(must.size)
    val sNames = names.drop(must.size)
    val maxCoord = terms.size
    // exact float literal for i/(float)maxCoord — sidesteps any REAL/REAL
    // division-promotion ambiguity in the SQL engine
    def cf(i: Int): String =
      R((i.toFloat / maxCoord.toFloat).toDouble.toString)
    val joins = mNames.tail.map(n => s"JOIN sc_$n USING (doc_id)").mkString(" ")
    val reqSum =
      if (must.size == 1) s"sc_${mNames.head}.s"
      else R(mNames.map(n => s"CAST(sc_$n.s AS DOUBLE)").mkString(" + "))
    val union = sNames.map(n => s"SELECT doc_id, s FROM sc_$n")
      .mkString(" UNION ALL ")
    val coordCase = "CASE o.cnt " +
      (1 to should.size).map(c => s"WHEN $c THEN ${cf(must.size + c)}")
        .mkString(" ") + " END"
    val scored =
      if (msm > 0)
        s"""SELECT r.doc_id, ${R(s"${R("r.rs + o.os")} * ($coordCase)")} AS s
  FROM req r JOIN opt o ON r.doc_id = o.doc_id WHERE o.cnt >= $msm"""
      else
        s"""SELECT r.doc_id,
    CASE WHEN o.doc_id IS NULL THEN ${R(s"r.rs * ${cf(must.size)}")}
         ELSE ${R(s"${R("r.rs + o.os")} * ($coordCase)")} END AS s
  FROM req r LEFT JOIN opt o ON r.doc_id = o.doc_id"""
    classicPrologue + dfCtes + ctes +
      s""", req AS (
  SELECT doc_id, $reqSum AS rs FROM sc_${mNames.head} $joins
), opt AS (
  SELECT doc_id, ${R("SUM(CAST(s AS DOUBLE))")} AS os, count(*) AS cnt
  FROM ($union) GROUP BY doc_id
), res AS (
  $scored
)""" + finish("res", k)
  }

  def classicAnd(terms: Seq[String], k: Int): String = {
    val (dfCtes, values) = classicValues(terms)
    val names = terms.indices.map(i => s"t$i")
    val ctes = names.zip(terms).zip(values).map { case ((n, t), v) =>
      classicTermCtes(n, t, v)
    }.mkString
    val joins = names.tail.map(n => s"JOIN sc_$n USING (doc_id)").mkString(" ")
    val sum = names.map(n => s"CAST(sc_$n.s AS DOUBLE)").mkString(" + ")
    classicPrologue + dfCtes + ctes +
      s""", res AS (
  SELECT doc_id, ${R(s"($sum)")} AS s FROM sc_${names.head} $joins
)""" + finish("res", k)
  }

  // ---------- DFR GB2 similarity oracles ----------
  //
  // `DFRSimilarity.java:110-114` with BasicModelG + AfterEffectB +
  // NormalizationH2 (c = 1), SimilarityBase norm handling:
  //   avgdl  = (float)sumTokens / numDocs            [float division]
  //   tfn    = (float)(tf · log2(1f + avgdl/docLen)) [inner ratio float]
  //   λ      = (F)/(N+F) double, F = ttf+1
  //   bm     = (float)(log2(λ+1) + tfn·log2((1+λ)/λ))
  //   ae     = (F+1) / ((n)·(tfn+1)) floats, n = df+1
  //   score  = (1f·bm)·ae
  // log2(x) replayed as ln(x)/LOG_2 with Java's double constant.

  private val DfrLn2 = "0.6931471805599453"

  /** avgdl the SimilarityBase way (float-cast counts, float division) —
    * distinct from av.avgdl (BM25's double-division-then-cast).
    */
  private val dfrAvfCte: String =
    s""", avf AS (
  SELECT ${R(s"${R("(SELECT count(*) FROM tok)")} / ${R("(SELECT count(*) FROM documents)")}")} AS a
)"""

  /** Per-term stats + per-doc DFR score CTEs (tf_<a>, sc_<a>). */
  private def dfrScoreCtes(a: String, term: String): String = {
    val ttf = s"(SELECT ttf FROM st_$a)"
    val df = s"(SELECT df FROM st_$a)"
    val lam = s"(CAST($ttf + 1 AS DOUBLE) / (CAST((SELECT n FROM av) AS DOUBLE) + CAST($ttf + 1 AS DOUBLE)))"
    val g1 = s"(ln($lam + 1) / $DfrLn2)"
    val g2 = s"(ln((1 + $lam) / $lam) / $DfrLn2)"
    val inner = R(s"1 + ${R(s"(SELECT a FROM avf) / dn.qlen")}")
    val tfn = R(s"CAST(t.tf AS DOUBLE) * (ln(CAST($inner AS DOUBLE)) / $DfrLn2)")
    val bm = R(s"$g1 + CAST($tfn AS DOUBLE) * $g2")
    val ae = R(s"${R(s"$ttf + 2")} / ${R(s"${R(s"$df + 1")} * ${R(s"$tfn + 1")}")}")
    s""", st_$a AS (
  SELECT count(DISTINCT doc_id) AS df, count(*) AS ttf
  FROM tok WHERE term = ${lit(term)}
), tf_$a AS (
  SELECT doc_id, count(*) AS tf FROM tok WHERE term = ${lit(term)} GROUP BY doc_id
), sc_$a AS (
  SELECT t.doc_id, ${R(s"$bm * $ae")} AS s
  FROM tf_$a t JOIN dn ON t.doc_id = dn.doc_id
)"""
  }

  def dfrTerm(term: String, k: Int): String =
    prologue + dfrAvfCte + dfrScoreCtes("t0", term) +
      finish("sc_t0", k)

  /** DFR disjunction: plain (float)Σdouble of member scores — no coord,
    * no queryNorm (SimilarityBase defaults).
    */
  def dfrOr(terms: Seq[String], k: Int): String = {
    val names = terms.indices.map(i => s"t$i")
    val ctes = names.zip(terms).map { case (a, t) => dfrScoreCtes(a, t) }.mkString
    val union = names.map(a => s"SELECT doc_id, s FROM sc_$a")
      .mkString(" UNION ALL ")
    prologue + dfrAvfCte + ctes +
      s""", un AS ($union), res AS (
  SELECT doc_id, ${R("SUM(CAST(s AS DOUBLE))")} AS s FROM un GROUP BY doc_id
)""" + finish("res", k)
  }

  // ---------- LMDirichlet similarity oracles ----------
  //
  // `LMDirichletSimilarity.java:59-64` with the default collection model
  // (`LMSimilarity.java:154-156`): score = max(0, (float)(ln(1 +
  // freq/(μ·cp)) + ln(μ/(docLen+μ)))), cp = (ttf+1F)/(sumTTF+1F),
  // docLen = the decoded byte315 length (the BM25 dn.qlen) — inner
  // ratios in float, logs in double, one float cast, μ = 2000.

  private def lmScoreExpr(tfCol: String, qlenCol: String,
      term: String): String = {
    val mu = R("2000.0")
    val fttf = R(s"CAST((SELECT count(*) FROM tok WHERE term = ${lit(term)}) AS REAL) + ${R("1.0")}")
    val ftot = R(s"CAST((SELECT count(*) FROM tok) AS REAL) + ${R("1.0")}")
    val muCp = R(s"$mu * ${R(s"$fttf / $ftot")}")
    val log1 = s"ln(CAST(${R(s"${R("1.0")} + ${R(s"${R(s"CAST($tfCol AS REAL)")} / $muCp")}")} AS DOUBLE))"
    val log2 = s"ln(CAST(${R(s"$mu / ${R(s"$qlenCol + $mu")}")} AS DOUBLE))"
    s"greatest(${R(s"$log1 + $log2")}, ${R("0.0")})"
  }

  private def lmTermCtes(a: String, term: String): String =
    s""", tf_$a AS (
  SELECT doc_id, count(*) AS tf FROM tok WHERE term = ${lit(term)} GROUP BY doc_id
), sc_$a AS (
  SELECT t.doc_id, ${lmScoreExpr("t.tf", "dn.qlen", term)} AS s
  FROM tf_$a t JOIN dn ON t.doc_id = dn.doc_id
)"""

  def lmTerm(term: String, k: Int): String =
    prologue + lmTermCtes("a", term) + finish("sc_a", k)

  def lmOr(terms: Seq[String], k: Int): String = {
    val names = terms.indices.map(i => s"t$i")
    val ctes = names.zip(terms).map { case (n, t) => lmTermCtes(n, t) }.mkString
    val union = names.map(n => s"SELECT doc_id, s FROM sc_$n").mkString(" UNION ALL ")
    prologue + ctes +
      s""", un AS ($union), res AS (
  SELECT doc_id, ${R("SUM(CAST(s AS DOUBLE))")} AS s FROM un GROUP BY doc_id
)""" + finish("res", k)
  }

  // ---------- SimilarityBase family oracles (DFR combos, IB, LMJM) ----------
  //
  // Each kind replays SimilarityBase plumbing exactly like the GB2 oracle
  // above: avgdl = float-cast counts with float division (avf), docLen =
  // dn.qlen (byte315-quantized), per-op REAL casts for Java's float
  // arithmetic, doubles only where Java promotes. Formula sources in the
  // SimBaseTermScorer scaladoc (Scorers.scala).

  /** BasicModelP.LOG2_E = 1/ln 2 (same double as DfrLn2's reciprocal). */
  private val DfrLog2E = "1.4426950408889634"

  /** Per-term stats + per-doc score CTEs (st_<a>, tf_<a>, sc_<a>) for a
    * SimilarityBase kind (SegmentSearcher.SimDFRInL2..SimLMJM).
    */
  private def simBaseScoreCtes(kind: Int, a: String, term: String): String = {
    import graft.search.SegmentSearcher._
    val ttf = s"(SELECT ttf FROM st_$a)"
    val df = s"(SELECT df FROM st_$a)"
    val n = "(SELECT n FROM av)"
    val avg = "(SELECT a FROM avf)"
    val one = R("1.0")
    // NormalizationH1 (c=1): ((tf·avg))/len, float ops
    val tfnH1 = R(s"${R(s"CAST(t.tf AS REAL) * $avg")} / dn.qlen")
    // NormalizationH2 (c=1): (float)(tf · log2(1f + avg/len))
    val tfnH2 = {
      val inner = R(s"$one + ${R(s"$avg / dn.qlen")}")
      R(s"CAST(t.tf AS DOUBLE) * (ln(CAST($inner AS DOUBLE)) / $DfrLn2)")
    }
    // NormalizationH3 (μ=800): (tf + μ·((F+1)/(sumTTF+1)))/(len+μ)·μ, float
    val tfnH3 = {
      val mu = R("800.0")
      val cp = R(s"${R(s"CAST($ttf AS REAL) + $one")} / ${R(s"CAST((SELECT count(*) FROM tok) AS REAL) + $one")}")
      R(s"${R(s"${R(s"CAST(t.tf AS REAL) + ${R(s"$mu * $cp")}")} / ${R(s"dn.qlen + $mu")}")} * $mu")
    }
    // NormalizationZ (z=0.30f): (float)(tf · (avg/len)^z), pow in double
    val tfnZ = R(s"CAST(t.tf AS DOUBLE) * pow(CAST(${R(s"$avg / dn.qlen")} AS DOUBLE), CAST(CAST(0.30 AS REAL) AS DOUBLE))")
    val tfn = kind match {
      case SimDFRIneB1 | SimIBLlL1 | SimDFRBeB1 => tfnH1
      case SimDFRIFB3 => tfnH3
      case SimIBSplDZ => tfnZ
      case _ => tfnH2
    }
    // after-effects over tfn (float)
    def aeL = R(s"$one / ${R(s"$tfn + $one")}")
    def aeB = R(s"${R(s"$ttf + 2")} / ${R(s"${R(s"$df + 1")} * ${R(s"$tfn + 1")}")}")
    val s = kind match {
      case SimDFRInL2 => // I(n): tfn · (float)log2((N+1)/(n+0.5)), then ·L
        val bm = R(s"$tfn * ${R(s"ln(CAST($n + 1 AS DOUBLE) / (CAST($df AS DOUBLE) + 0.5)) / $DfrLn2")}")
        R(s"$bm * $aeL")
      case SimDFRIneB1 => // I(ne): ne = N·(1−((N−1)/N)^F) in doubles, ·B
        val ne = s"(CAST($n AS DOUBLE) * (1 - pow(CAST($n - 1 AS DOUBLE) / CAST($n AS DOUBLE), CAST($ttf AS DOUBLE))))"
        val bm = R(s"$tfn * ${R(s"ln(CAST($n + 1 AS DOUBLE) / ($ne + 0.5)) / $DfrLn2")}")
        R(s"$bm * $aeB")
      case SimDFRPL2 => // P: λ=(float)(F+1)/(N+1); three double terms, ·L
        val lam = R(s"CAST($ttf + 1 AS REAL) / CAST($n + 1 AS REAL)")
        val t1 = s"CAST($tfn AS DOUBLE) * (ln(CAST(${R(s"$tfn / $lam")} AS DOUBLE)) / $DfrLn2)"
        val t2 = s"CAST(${R(s"${R(s"$lam + ${R(s"$one / ${R(s"${R("12.0")} * $tfn")}")}")} - $tfn")} AS DOUBLE) * $DfrLog2E"
        val t3 = s"0.5 * (ln(2 * pi() * CAST($tfn AS DOUBLE)) / $DfrLn2)"
        val bm = R(s"$t1 + $t2 + $t3")
        R(s"$bm * $aeL")
      case SimDFRIFB3 => // I(F): tfn·(float)log2(1+(N+1)/(F+0.5)), ·B, H3
        val bm = R(s"$tfn * ${R(s"ln(1 + CAST($n + 1 AS DOUBLE) / (CAST($ttf AS DOUBLE) + 0.5)) / $DfrLn2")}")
        R(s"$bm * $aeB")
      case SimDFRBeB1 => // Be: limiting Bose-Einstein, all-double, ·B
        // BasicModelBE.java:39-48: F←F+1+tfn, N←N+F, one float cast
        val tfnD = s"CAST($tfn AS DOUBLE)"
        val bigF = s"(CAST($ttf AS DOUBLE) + 1 + $tfnD)"
        val bigN = s"($bigF + CAST($n AS DOUBLE))"
        def fHelp(nn: String, mm: String): String =
          s"(($mm + 0.5) * (ln($nn / $mm) / $DfrLn2) + ($nn - $mm) * (ln($nn) / $DfrLn2))"
        val bm = R(s"-(ln(($bigN - 1) * exp(1)) / $DfrLn2)" +
          s" + ${fHelp(s"($bigN + $bigF - 1)", s"($bigN + $bigF - $tfnD - 2)")}" +
          s" - ${fHelp(bigF, s"($bigF - $tfnD)")}")
        R(s"$bm * $aeB")
      case SimDFRDL2 => // D: binomial approximation, all-double, ·L
        // BasicModelD.java:42-49: φ = tfn/(F+1+tfn) so φ < 1 always
        val tfnD = s"CAST($tfn AS DOUBLE)"
        val bigF = s"(CAST($ttf AS DOUBLE) + 1 + $tfnD)"
        val phi = s"($tfnD / $bigF)"
        val nphi = s"(1 - $phi)"
        val p = s"(1.0 / (CAST($n AS DOUBLE) + 1))"
        val dv = s"($phi * (ln($phi / $p) / $DfrLn2) + $nphi * (ln($nphi / (1 - $p)) / $DfrLn2))"
        val bm = R(s"$dv * $bigF + 0.5 * (ln(1 + 2 * pi() * $tfnD * $nphi) / $DfrLn2)")
        R(s"$bm * $aeL")
      case SimIBSplD2 | SimIBSplDZ => // IB SPL: λ_DF, SPL distribution
        val lam0 = R(s"${R(s"CAST($df AS REAL) + $one")} / ${R(s"CAST($n AS REAL) + $one")}")
        val lam = s"(CASE WHEN $lam0 = $one THEN ${R("0.99")} ELSE $lam0 END)"
        val e = R(s"$tfn / ${R(s"$tfn + $one")}")
        val num = s"(pow(CAST($lam AS DOUBLE), CAST($e AS DOUBLE)) - CAST($lam AS DOUBLE))"
        val den = s"CAST(${R(s"$one - $lam")} AS DOUBLE)"
        R(s"-ln($num / $den)")
      case SimIBLlL1 => // IB LL-L1: λ_TTF, LL distribution
        val lam = R(s"${R(s"CAST($ttf AS REAL) + $one")} / ${R(s"CAST($n AS REAL) + $one")}")
        R(s"-ln(CAST(${R(s"$lam / ${R(s"$tfn + $lam")}")} AS DOUBLE))")
      case SimDFIChi | SimDFISat | SimDFIStd =>
        // DFI (`DFISimilarity.java:61-72`): e = (F+1)·len/(sumTTF+1)
        // floats; observed ≤ e scores 0; else (float)log2(measure+1)
        val total = "(SELECT count(*) FROM tok)"
        val e = R(s"${R(s"CAST($ttf + 1 AS REAL) * dn.qlen")} / CAST($total + 1 AS REAL)")
        val fr = "CAST(t.tf AS REAL)"
        val meas = kind match {
          case SimDFIChi => R(s"${R(s"${R(s"$fr - $e")} * ${R(s"$fr - $e")}")} / $e")
          case SimDFISat => R(s"${R(s"$fr - $e")} / $e")
          case _ => R(s"${R(s"$fr - $e")} / ${R(s"sqrt(CAST($e AS DOUBLE))")}")
        }
        s"(CASE WHEN $fr <= $e THEN ${R("0.0")} ELSE ${R(s"ln(CAST(${R(s"$meas + $one")} AS DOUBLE)) / $DfrLn2")} END)"
      case SimLMJM => // (float)ln(1 + ((1−λ)·tf/len)/(λ·cp)), λ=0.1f
        val lamF = R("0.1")
        val fttf = R(s"CAST($ttf AS REAL) + $one")
        val ftot = R(s"CAST((SELECT count(*) FROM tok) AS REAL) + $one")
        val cp = R(s"$fttf / $ftot")
        val den = R(s"$lamF * $cp")
        val numer = R(s"${R(s"${R(s"$one - $lamF")} * CAST(t.tf AS REAL)")} / dn.qlen")
        R(s"ln(CAST(${R(s"$one + ${R(s"$numer / $den")}")} AS DOUBLE))")
      case k => sys.error(s"simBaseScoreCtes: unknown kind $k")
    }
    s""", st_$a AS (
  SELECT count(DISTINCT doc_id) AS df, count(*) AS ttf
  FROM tok WHERE term = ${lit(term)}
), tf_$a AS (
  SELECT doc_id, count(*) AS tf FROM tok WHERE term = ${lit(term)} GROUP BY doc_id
), sc_$a AS (
  SELECT t.doc_id, $s AS s
  FROM tf_$a t JOIN dn ON t.doc_id = dn.doc_id
)"""
  }

  def simBaseTerm(kind: Int, term: String, k: Int): String =
    prologue + dfrAvfCte + simBaseScoreCtes(kind, "t0", term) +
      finish("sc_t0", k)

  /** Disjunction: (float)Σdouble of member scores — SimilarityBase has
    * no coord/queryNorm (`DisjunctionSumScorer.java:43-46`).
    */
  /** Search-result clustering (ClusteringComponent surface — see
    * Searcher.clusterFrame): top-n BM25 hits for `term`, each labeled by
    * its max-weight result-set term under the in-results RSJ odds idf
    * weight tf·(N−dfr+0.5)/(dfr+0.5) (all-double, exact operands, one
    * correctly-rounded division — argmax is engine-independent), query
    * term excluded, dfr<2 and dfr=N terms ineligible, unlabeled docs →
    * 'other'; csize = cluster size.
    */
  def clusterResults(term: String, n: Int): String = {
    val cnt = "CAST((SELECT count(*) FROM hitsq) AS DOUBLE)"
    prologue + termCtes("a", term) +
      s""", hitsq AS (
  SELECT doc_id FROM sc_a ORDER BY s DESC, doc_id LIMIT $n
), rt AS (
  SELECT t.doc_id, t.term, count(*) AS tf
  FROM tok t JOIN hitsq h ON t.doc_id = h.doc_id
  WHERE t.term <> ${lit(term)}
  GROUP BY t.doc_id, t.term
), dfres AS (
  SELECT term, count(*) AS dfr FROM rt GROUP BY term
  HAVING count(*) >= 2 AND count(*) < (SELECT count(*) FROM hitsq)
), lab AS (
  SELECT doc_id, term AS label, row_number() OVER (PARTITION BY doc_id
    ORDER BY CAST(tf AS DOUBLE) * ($cnt - CAST(dfr AS DOUBLE) + CAST(0.5 AS DOUBLE))
               / (CAST(dfr AS DOUBLE) + CAST(0.5 AS DOUBLE)) DESC,
      term) AS rn
  FROM rt JOIN dfres USING (term)
), labeled AS (
  SELECT h.doc_id, coalesce(l.label, 'other') AS label
  FROM hitsq h LEFT JOIN (SELECT doc_id, label FROM lab WHERE rn = 1) l
    ON h.doc_id = l.doc_id
)
SELECT doc_id, label, count(*) OVER (PARTITION BY label) AS csize
FROM labeled ORDER BY doc_id"""
  }

  def simBaseOr(kind: Int, terms: Seq[String], k: Int): String = {
    val names = terms.indices.map(i => s"t$i")
    val ctes = names.zip(terms).map { case (a, t) =>
      simBaseScoreCtes(kind, a, t)
    }.mkString
    val union = names.map(a => s"SELECT doc_id, s FROM sc_$a")
      .mkString(" UNION ALL ")
    prologue + dfrAvfCte + ctes +
      s""", un AS ($union), res AS (
  SELECT doc_id, ${R("SUM(CAST(s AS DOUBLE))")} AS s FROM un GROUP BY doc_id
)""" + finish("res", k)
  }

  /** SCORED fuzzy (TopTermsBlendedFreqScoringRewrite,
    * `FuzzyQuery.java:100`): the top `maxExp` vocabulary terms within
    * `maxEdits` ranked by the enum boost (exact 1f, else 1f − d/min(len),
    * floats), scored with the blended MAX df and per-clause
    * (boost·idf)·(k1+1) weights, SHOULD-sum per doc (double sum, one
    * float cast).
    */
  def fuzzyScored(term: String, maxEdits: Int, maxExp: Int, k: Int): String = {
    val one = R("1.0")
    val termLen = Character.codePointCount(term, 0, term.length)
    val bExpr = s"(CASE WHEN d = 0 THEN $one ELSE ${R(s"$one - ${R(s"CAST(d AS REAL) / CAST(least($termLen, length(term)) AS REAL)")}")} END)"
    val idf = idfExpr("(SELECT df FROM bdf)")
    val bIdf = R(s"s.b * $idf")
    val w = R(s"$bIdf * ($K1 + ${R("1")})")
    val tfR = R("t.tf")
    val score = R(s"${R(s"$w * $tfR")} / ${R(s"$tfR + ${cacheExpr("dn.qlen")}")}")
    prologue +
      s""", vocab AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term
), cand AS (
  SELECT term, df, levenshtein(term, ${lit(term)}) AS d FROM vocab
  WHERE abs(length(term) - ${term.length}) <= $maxEdits
    AND levenshtein(term, ${lit(term)}) <= $maxEdits
), boosted AS (
  -- similarity must EXCEED minSimilarity (0 in raw-edits mode): boost-0
  -- candidates are rejected by FuzzyTermsEnum.accept (FuzzyTermsEnum.java:353)
  SELECT term, df, $bExpr AS b FROM cand WHERE $bExpr > 0
), sel AS (
  SELECT term, df, b, row_number() OVER (ORDER BY b DESC, term) AS rn
  FROM boosted
), sel2 AS (
  SELECT * FROM sel WHERE rn <= $maxExp
), bdf AS (
  SELECT max(df) AS df FROM sel2
), tf_ AS (
  SELECT tok.doc_id, tok.term, count(*) AS tf
  FROM tok JOIN sel2 ON tok.term = sel2.term GROUP BY 1, 2
), persc AS (
  SELECT t.doc_id, $score AS s
  FROM tf_ t JOIN sel2 s ON t.term = s.term JOIN dn ON t.doc_id = dn.doc_id
), res AS (
  SELECT doc_id, ${R("SUM(CAST(s AS DOUBLE))")} AS s FROM persc GROUP BY doc_id
)""" + finish("res", k)
  }

  /** Spell suggestions (DirectSpellChecker analog): vocabulary terms
    * within `maxEdits` plain-Levenshtein edits of the query term (query
    * term itself excluded), score = 1f − dist/min(len) in floats, ranked
    * score desc, df desc, term asc.
    */
  def suggest(term: String, maxEdits: Int, k: Int): String = {
    val dist = s"levenshtein(term, ${lit(term)})"
    val termLen = Character.codePointCount(term, 0, term.length)
    val minLen = s"least($termLen, length(term))"
    val score = R(s"${R("1.0")} - ${R(s"CAST($dist AS REAL) / CAST($minLen AS REAL)")}")
    prologue +
      s""", vocab AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term
)
SELECT term AS suggestion, CAST($score AS DOUBLE) AS score, df
FROM vocab
WHERE abs(length(term) - $termLen) <= $maxEdits
  AND term <> ${lit(term)} AND $dist <= $maxEdits AND $score > 0
ORDER BY score DESC, df DESC, suggestion LIMIT $k"""
  }

  /** Prefix-completion suggest (AnalyzingSuggester surface, weight = df):
    * top-k completions ranked df desc, term asc.
    */
  def suggestPrefix(prefix: String, k: Int): String =
    prologue +
      s"""
SELECT term AS suggestion, count(DISTINCT doc_id) AS df
FROM tok WHERE term LIKE ${lit(prefix + "%")}
GROUP BY term ORDER BY df DESC, suggestion LIMIT $k"""

  /** DirectSpellChecker with a pluggable StringDistance
    * (`DirectSpellChecker.java:316-381` — candidates from the maxEdits
    * plain-Levenshtein neighborhood with the first character pinned,
    * re-scored by the swapped-in distance, culled `score < accuracy`,
    * ranked score desc / df desc / term asc). `distance` selects the
    * score expression; each transcribes its reference law in REAL-cast
    * float arithmetic:
    *  - "levenshtein": 1 − d/max(len) (`LevensteinDistance.java:46-99`)
    *  - "lucene": 1 − OSA/min(len) over code points
    *    (`LuceneLevenshteinDistance.java:41-77`). DuckDB's
    *    damerau_levenshtein is sound here: within a plain-Lev ≤ 2
    *    candidate set OSA == unrestricted Damerau (they first diverge
    *    at OSA 3 / DL 2, e.g. ca→abc).
    *  - "jarowinkler": Jaro via the builtin, then the REFERENCE's
    *    Winkler bonus (`JaroWinklerDistance.java:36-105`): prefix NOT
    *    capped at 4, bonus only when j ≥ threshold 0.7, factor
    *    min(0.1, 1/maxLen) — common prefix computed by longest-first
    *    literal-prefix CASE (inherently ≤ min length, so no cap issue).
    */
  def suggestDistance(term: String, maxEdits: Int, k: Int,
      distance: String, accuracy: Double = 0.5): String = {
    val qLen = Character.codePointCount(term, 0, term.length)
    val maxLen = s"greatest($qLen, length(term))"
    val minLen = s"least($qLen, length(term))"
    val score = distance match {
      case "levenshtein" =>
        R(s"${R("1.0")} - ${R(s"CAST(levenshtein(term, ${lit(term)}) AS REAL)" +
          s" / CAST($maxLen AS REAL)")}")
      case "lucene" =>
        R(s"${R("1.0")} - ${R(s"CAST(damerau_levenshtein(term, ${lit(term)}) AS REAL)" +
          s" / CAST($minLen AS REAL)")}")
      case "jarowinkler" =>
        // prefix length vs the literal query term, longest first
        val prefCases = (term.length to 1 by -1).map { n =>
          s"WHEN substr(term, 1, $n) = ${lit(term.substring(0, n))} THEN $n"
        }.mkString(" ")
        val j = R(s"jaro_similarity(term, ${lit(term)})")
        val pref = s"(CASE $prefCases ELSE 0 END)"
        val bonus = R(s"${R(s"${R(s"least(${R("0.1")}, ${R(s"1.0 / $maxLen")})")}" +
          s" * $pref")} * ${R(s"1.0 - $j")}")
        s"(CASE WHEN $j < ${R("0.7")} THEN $j ELSE ${R(s"$j + $bonus")} END)"
      case other => sys.error(s"no oracle for distance '$other'")
    }
    prologue +
      s""", vocab AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term
), cand AS (
  SELECT term, df FROM vocab
  WHERE term <> ${lit(term)} AND substr(term, 1, 1) = ${lit(term.substring(0, 1))}
    AND abs(length(term) - $qLen) <= $maxEdits
    AND levenshtein(term, ${lit(term)}) <= $maxEdits
)
SELECT term AS suggestion, CAST($score AS DOUBLE) AS score, df
FROM cand WHERE $score >= ${R(accuracy.toString)}
ORDER BY score DESC, df DESC, suggestion LIMIT $k"""
  }

  /** WordBreakSpellChecker.suggestWordBreaks
    * (`WordBreakSpellChecker.java:94-130,257-315`) to recursion depth
    * maxChanges ≤ 2 over a literal query term: level-1 splits where both
    * pieces clear the df floor emit 2-word suggestions; a level-1 left
    * that clears the floor recurses on the right piece for 3-word
    * suggestions. Ranking = LengthThenMaxFreq (words asc, max component
    * df desc), full ties pinned suggestion-asc. The evaluation budget
    * (1000) is not binding at gate sizes — asserted engine-side.
    */
  def wordBreaks(term: String, k: Int, maxChanges: Int): String = {
    require(maxChanges >= 1 && maxChanges <= 2, "oracle covers depth 1-2")
    val q = lit(term)
    val n = term.length
    val emit3 =
      if (maxChanges < 2) ""
      else s""", s2 AS (
  SELECT lv.l AS w1, lv.ldf AS d1, substr(lv.r, 1, j) AS l2, substr(lv.r, j + 1) AS r2
  FROM lv JOIN generate_series(1, ${n - 2}) t2(j) ON j <= length(lv.r) - 1
), emit3 AS (
  SELECT w1 || ' ' || l2 || ' ' || r2 AS suggestion, 3 AS n_words,
         greatest(d1, v2.df, v3.df) AS freq
  FROM s2 JOIN vocab v2 ON s2.l2 = v2.term JOIN vocab v3 ON s2.r2 = v3.term
)"""
    val union =
      if (maxChanges < 2) "SELECT * FROM emit2"
      else "SELECT * FROM emit2 UNION ALL SELECT * FROM emit3"
    prologue +
      s""", vocab AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term
), s1 AS (
  SELECT i, substr($q, 1, i) AS l, substr($q, i + 1) AS r
  FROM generate_series(1, ${n - 1}) t(i)
), lv AS (
  SELECT s1.i, s1.l, s1.r, v.df AS ldf FROM s1 JOIN vocab v ON s1.l = v.term
), emit2 AS (
  SELECT lv.l || ' ' || lv.r AS suggestion, 2 AS n_words,
         greatest(lv.ldf, v.df) AS freq
  FROM lv JOIN vocab v ON lv.r = v.term
)$emit3
SELECT suggestion, n_words, freq FROM ($union)
ORDER BY n_words, freq DESC, suggestion LIMIT $k"""
  }

  /** WordBreakSpellChecker.suggestWordCombinations
    * (`WordBreakSpellChecker.java:160-253`): windows of up to maxChanges
    * adjacent query terms concatenated; kept when some original in the
    * window is absent from the index (SUGGEST_WHEN_NOT_IN_INDEX) and the
    * combined word's df clears the floor. Ranking =
    * CombinationsThenFreq (window size asc, df desc), ties pinned
    * suggestion-asc.
    */
  def wordCombinations(terms: Seq[String], k: Int, maxChanges: Int,
      maxCombineLen: Int = 20): String = {
    val vals = terms.zipWithIndex
      .map { case (t, i) => s"($i, ${lit(t)})" }.mkString(", ")
    prologue +
      s""", vocab AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term
), qt(idx, t) AS (
  SELECT * FROM (VALUES $vals)
), qdf AS (
  SELECT idx, t, coalesce(v.df, 0) AS df FROM qt LEFT JOIN vocab v ON qt.t = v.term
), win AS (
  SELECT a.idx AS i, b.idx AS j,
    (SELECT string_agg(t, '' ORDER BY idx) FROM qt WHERE idx BETWEEN a.idx AND b.idx) AS comb,
    (SELECT min(df) FROM qdf WHERE idx BETWEEN a.idx AND b.idx) AS minfreq
  FROM qt a JOIN qt b ON b.idx > a.idx AND b.idx - a.idx <= $maxChanges
)
SELECT w.comb AS suggestion, v.df AS df, w.i AS first_idx, w.j AS last_idx
FROM win w JOIN vocab v ON w.comb = v.term
WHERE w.minfreq = 0 AND v.df >= 1 AND length(w.comb) <= $maxCombineLen
ORDER BY (w.j - w.i), v.df DESC, suggestion LIMIT $k"""
  }

  /** TopTermsScoringBooleanQueryRewrite over a prefix
    * (`TopTermsRewrite.java:40`): the first maxExp matching terms in
    * term order (the PQ keeps the lexicographically smallest when all
    * enum boosts tie at 1f), each scored with its OWN df, SHOULD-summed.
    */
  def prefixScored(prefix: String, maxExp: Int, k: Int): String = {
    val w = R(s"${idfExpr("st.df")} * ($K1 + ${R("1")})")
    val tfR = R("t.tf")
    val score = R(s"${R(s"$w * $tfR")} / ${R(s"$tfR + ${cacheExpr("dn.qlen")}")}")
    prologue +
      s""", sel AS (
  SELECT term FROM (SELECT DISTINCT term FROM tok WHERE term LIKE ${lit(prefix + "%")})
  ORDER BY term LIMIT $maxExp
), st AS (
  SELECT tok.term, count(DISTINCT doc_id) AS df
  FROM tok JOIN sel ON tok.term = sel.term GROUP BY tok.term
), tf_ AS (
  SELECT tok.doc_id, tok.term, count(*) AS tf
  FROM tok JOIN sel ON tok.term = sel.term GROUP BY 1, 2
), persc AS (
  SELECT t.doc_id, $score AS s
  FROM tf_ t JOIN st ON t.term = st.term JOIN dn ON t.doc_id = dn.doc_id
), res AS (
  SELECT doc_id, ${R("SUM(CAST(s AS DOUBLE))")} AS s FROM persc GROUP BY doc_id
)""" + finish("res", k)
  }

  /** TopTermsBlendedFreqScoringRewrite over a prefix: same first-maxExp
    * selection, every clause scored with the blended MAX df and the
    * shared (idf)·(k1+1) weight (boosts all 1f), SHOULD-summed.
    */
  def prefixBlended(prefix: String, maxExp: Int, k: Int): String = {
    val idf = idfExpr("(SELECT df FROM bdf)")
    val w = R(s"$idf * ($K1 + ${R("1")})")
    val tfR = R("t.tf")
    val score = R(s"${R(s"$w * $tfR")} / ${R(s"$tfR + ${cacheExpr("dn.qlen")}")}")
    prologue +
      s""", sel AS (
  SELECT term FROM (SELECT DISTINCT term FROM tok WHERE term LIKE ${lit(prefix + "%")})
  ORDER BY term LIMIT $maxExp
), st AS (
  SELECT tok.term, count(DISTINCT doc_id) AS df
  FROM tok JOIN sel ON tok.term = sel.term GROUP BY tok.term
), bdf AS (
  SELECT max(df) AS df FROM st
), tf_ AS (
  SELECT tok.doc_id, tok.term, count(*) AS tf
  FROM tok JOIN sel ON tok.term = sel.term GROUP BY 1, 2
), persc AS (
  SELECT t.doc_id, $score AS s
  FROM tf_ t JOIN dn ON t.doc_id = dn.doc_id
), res AS (
  SELECT doc_id, ${R("SUM(CAST(s AS DOUBLE))")} AS s FROM persc GROUP BY doc_id
)""" + finish("res", k)
  }

  /** Fuzzy: const-score over docs with any term within `maxEdits`
    * Levenshtein edits of `t` (FuzzyQuery.java:53 semantics; DuckDB's
    * levenshtein == the engine's editDistance == plain Levenshtein).
    */
  def fuzzy(t: String, maxEdits: Int, k: Int): String =
    prologue +
      s""", res AS (
  SELECT DISTINCT doc_id, CAST(1.0 AS REAL) AS s
  FROM tok WHERE abs(length(term) - ${Character.codePointCount(t, 0, t.length)}) <= $maxEdits
    AND levenshtein(term, ${lit(t)}) <= $maxEdits
)""" + finish("res", k)

  /** Term range over the dictionary (TermRangeQuery.java:37): const-score
    * over docs with any term in [lo, hi] under the inclusivity flags.
    */
  def termRange(lo: String, hi: String, incLo: Boolean, incHi: Boolean,
      k: Int): String = {
    val lower = s"term ${if (incLo) ">=" else ">"} ${lit(lo)}"
    val upper = s"term ${if (incHi) "<=" else "<"} ${lit(hi)}"
    prologue +
      s""", res AS (
  SELECT DISTINCT doc_id, CAST(1.0 AS REAL) AS s
  FROM tok WHERE $lower AND $upper
)""" + finish("res", k)
  }

  /** Sort-by-field over the term's matches (TopFieldCollector analog):
    * rank by the docs-table column, ties docId asc; no scores.
    */
  def sortByField(term: String, field: String, k: Int,
      asc: Boolean): String = {
    val dir = if (asc) "ASC" else "DESC"
    prologue +
      s""", res AS (
  SELECT d.doc_id, d.$field AS sort_val FROM documents d
  WHERE EXISTS (SELECT 1 FROM tok WHERE tok.doc_id = d.doc_id AND term = ${lit(term)})
)
SELECT doc_id, sort_val,
  CAST(row_number() OVER (ORDER BY sort_val $dir, doc_id) AS INT) AS rnk
FROM res ORDER BY sort_val $dir, doc_id LIMIT $k"""
  }

  /** Sort-by-field under a numeric doc-values overlay
    * (DvUpdates/updateNumericDocValue): the same sort with the update
    * set replayed as a CASE over the raw column.
    */
  def sortByFieldUpdated(term: String, field: String, k: Int, asc: Boolean,
      overrides: Seq[(Long, Long)]): String = {
    val dir = if (asc) "ASC" else "DESC"
    val cases = overrides.map { case (id, v) => s"WHEN $id THEN $v" }
      .mkString(" ")
    prologue +
      s""", res AS (
  SELECT d.doc_id,
    (CASE d.doc_id $cases ELSE d.$field END) AS sort_val
  FROM documents d
  WHERE EXISTS (SELECT 1 FROM tok WHERE tok.doc_id = d.doc_id AND term = ${lit(term)})
)
SELECT doc_id, sort_val,
  CAST(row_number() OVER (ORDER BY sort_val $dir, doc_id) AS INT) AS rnk
FROM res ORDER BY sort_val $dir, doc_id LIMIT $k"""
  }

  /** MoreLikeThis: source doc's terms with tf ≥ minTf, df ≥ minDf ranked
    * by float tf × idf (ties term asc), top `maxTerms` → BM25 disjunction.
    */
  def mlt(docId: Long, minTf: Int, minDf: Int, maxTerms: Int, k: Int): String =
    prologue +
      s""", src AS (
  SELECT term, count(*) AS tf FROM tok WHERE doc_id = $docId GROUP BY term
), srcdf AS (
  SELECT s.term, s.tf,
    (SELECT count(DISTINCT t.doc_id) FROM tok t WHERE t.term = s.term) AS df
  FROM src s
), mlt AS (
  SELECT term, ${R(s"CAST(tf AS REAL) * ${idfExpr("df")}")} AS msc
  FROM srcdf WHERE tf >= $minTf AND df >= $minDf
  ORDER BY msc DESC, term LIMIT $maxTerms
), tf2 AS (
  SELECT t.doc_id, t.term, count(*) AS tf FROM tok t
  WHERE t.term IN (SELECT term FROM mlt) GROUP BY 1, 2
), dfs AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tok
  WHERE term IN (SELECT term FROM mlt) GROUP BY 1
), sc AS (
  SELECT tf2.doc_id, ${scoreExpr("tf2.tf", "dn.qlen", "dfs.df")} AS s
  FROM tf2 JOIN dfs USING (term) JOIN dn ON tf2.doc_id = dn.doc_id
), res AS (
  SELECT doc_id, ${R("SUM(CAST(s AS DOUBLE))")} AS s FROM sc GROUP BY doc_id
)""" + finish("res", k)

  /** Batch MoreLikeThis term selection (mltTermsFrame): for every doc in
    * [loId, hiId], terms with tf ≥ minTf and df ≥ minDf ranked per doc by
    * float tf × idf (ties term asc), top maxTerms each.
    */
  def mltTermsBatch(loId: Long, hiId: Long, minTf: Int, minDf: Int,
      maxTerms: Int): String =
    prologue +
      s""", src AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE doc_id BETWEEN $loId AND $hiId GROUP BY 1, 2
), dfs AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tok
  WHERE term IN (SELECT term FROM src) GROUP BY 1
), m AS (
  SELECT s.doc_id, s.term, ${R(s"CAST(s.tf AS REAL) * ${idfExpr("dfs.df")}")} AS mscore
  FROM src s JOIN dfs USING (term)
  WHERE s.tf >= $minTf AND dfs.df >= $minDf
), rk AS (
  SELECT doc_id, term, mscore,
    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY mscore DESC, term) AS INT) AS rank
  FROM m
)
SELECT doc_id, term, mscore, rank FROM rk
WHERE rank <= $maxTerms ORDER BY doc_id, rank"""

  /** Total hit count of `a AND NOT b` (TotalHitCountCollector analog). */
  def countNot(a: String, b: String): String =
    prologue +
      s"""
SELECT CAST(count(*) AS BIGINT) AS cnt FROM documents d
WHERE EXISTS (SELECT 1 FROM tok WHERE tok.doc_id = d.doc_id AND term = ${lit(a)})
  AND NOT EXISTS (SELECT 1 FROM tok WHERE tok.doc_id = d.doc_id AND term = ${lit(b)})"""

  /** QueryRescorer: top-`firstK` hits of `first`, re-ranked by
    * combined = firstScore + weight × secondScore (float ops) when
    * `second` matches, else firstScore.
    */
  def rescoreTerm(first: String, second: String, weight: Float,
      firstK: Int, k: Int): String =
    prologue + termCtes("a", first) + termCtes("b", second) +
      s""", fp AS (
  SELECT doc_id, s FROM sc_a ORDER BY s DESC, doc_id LIMIT $firstK
), res AS (
  SELECT fp.doc_id,
    ${R(s"fp.s + COALESCE(${R(s"${R(weight.toString)} * sc_b.s")}, ${R("0")})")} AS s
  FROM fp LEFT JOIN sc_b ON fp.doc_id = sc_b.doc_id
)""" + finish("res", k)

  /** FieldMaskingSpanQuery over an ordered 2-clause near: clause 0 is a
    * term in the MASKED field (its own tokenization and df), clause 1 a
    * primary-field term; norms/avgdl/docCount are the primary field's.
    * idf fold over distinct scoring terms sorted by (field, term) —
    * Lucene Term.compareTo order.
    */
  def spanMaskedNear(maskedField: String, maskedTerm: String,
      primaryTerm: String, slop: Int, k: Int): String = {
    // fold order: (maskedField, maskedTerm) vs ("text", primaryTerm)
    val dfMasked =
      s"(SELECT count(DISTINCT doc_id) FROM toksrc WHERE term = ${lit(maskedTerm)})"
    val dfPrimary =
      s"(SELECT count(DISTINCT doc_id) FROM tok WHERE term = ${lit(primaryTerm)})"
    val parts = Seq(
      (maskedField, s"CASE WHEN $dfMasked > 0 THEN ${idfExpr(dfMasked)} ELSE ${R("0")} END"),
      ("text", s"CASE WHEN $dfPrimary > 0 THEN ${idfExpr(dfPrimary)} ELSE ${R("0")} END"))
      .sortBy(_._1).map(_._2)
    val idfFold = parts.reduce((x, y) => R(s"$x + $y"))
    val w = R(s"$idfFold * ($K1 + ${R("1")})")
    val score = spanTreeScore(w)
    prologue + spanPosx +
      s""", posxsrc AS (
  SELECT doc_id, unnest(arr) AS term, generate_subscripts(arr, 1) AS pos
  FROM (SELECT doc_id,
          list_filter(regexp_split_to_array(lower($maskedField), '[^a-z0-9]+'),
                      x -> x <> '' AND length(x) <= 255) AS arr
        FROM documents)
), toksrc AS (
  SELECT doc_id, term FROM posxsrc
), p0 AS (
  SELECT doc_id, pos - 1 AS pos FROM posxsrc WHERE term = ${lit(maskedTerm)}
), p1 AS (
  SELECT doc_id, pos - 1 AS pos FROM posx WHERE term = ${lit(primaryTerm)}
), m1 AS (
  SELECT p0.doc_id, p0.pos AS q0, MIN(p1.pos) AS q1
  FROM p0 JOIN p1 ON p1.doc_id = p0.doc_id AND p1.pos >= p0.pos + 1
  GROUP BY ALL
), ph AS (
  SELECT doc_id, ${R("SUM(1.0 / CAST(1 + (q1 - q0 - 1) AS DOUBLE))")} AS freq
  FROM m1 WHERE (q1 - q0 - 1) <= $slop GROUP BY doc_id
), res AS (
  SELECT p.doc_id, $score AS s FROM ph p JOIN dn ON p.doc_id = dn.doc_id
  WHERE p.freq > 0
)""" + finish("res", k)
  }

  // ---------- classification oracles ----------

  /** SimpleNaiveBayesClassifier raw log scores
    * (`classification/SimpleNaiveBayesClassifier.java:140-270`): per
    * class, ln(df_c) − ln(docsWithClass) + a left fold over the INPUT
    * TOKENS in order of ln((hits(w,c)+1)/(avgUniqueTermsPerDoc·df_c +
    * docsWithClass)) — the generator tokenizes the input here so the
    * fold order is baked into the expression. Output: (cls, score
    * DOUBLE, rnk) sorted score desc, class asc.
    */
  def classifyNb(text: String): String = {
    val toks = graft.core.Analysis.simpleTokens(text)
    val den = s"(((SELECT sumdf FROM fstats) / CAST((SELECT dc FROM fstats) AS DOUBLE)) * c.dfc + (SELECT n FROM dwc))"
    val prior = s"(ln(CAST(c.dfc AS DOUBLE)) - ln(CAST((SELECT n FROM dwc) AS DOUBLE)))"
    val sExpr = toks.foldLeft(prior) { (acc, w) =>
      val h = s"COALESCE((SELECT h FROM hits WHERE hits.cls = c.cls AND hits.term = ${lit(w)}), 0)"
      s"($acc + ln(($h + 1.0) / $den))"
    }
    val words =
      if (toks.isEmpty) "''" else toks.distinct.map(lit).mkString(", ")
    s"""WITH toks0 AS (
  SELECT doc_id, lang,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                x -> x <> '' AND length(x) <= 255) AS arr
  FROM documents
), dterm AS (
  SELECT doc_id, lang, unnest(list_distinct(arr)) AS term FROM toks0
), fstats AS (
  SELECT (SELECT count(*) FROM dterm) AS sumdf,
         (SELECT count(*) FROM toks0 WHERE len(arr) > 0) AS dc
), cls AS (
  SELECT lang AS cls, count(*) AS dfc FROM documents
  WHERE lang IS NOT NULL AND lang <> '' GROUP BY lang
), dwc AS (
  SELECT sum(dfc) AS n FROM cls
), hits AS (
  SELECT lang AS cls, term, count(*) AS h FROM dterm
  WHERE term IN ($words) AND lang IS NOT NULL AND lang <> ''
  GROUP BY 1, 2
), res AS (
  SELECT c.cls AS cls, $sExpr AS s FROM cls c
)
SELECT cls, CAST(s AS DOUBLE) AS score,
  CAST(row_number() OVER (ORDER BY s DESC, cls) AS INT) AS rnk
FROM res ORDER BY s DESC, cls"""
  }

  /** KNearestNeighborClassifier (`KNearestNeighborClassifier.java:40`)
    * under BM25, no class-wildcard clause (the engine's documented
    * deviations): MLT-from-text selection (tf from the embedded input
    * tokens, classic idf, top maxQueryTerms by (score desc, word asc),
    * boost = score/lowestSelected — all float), BM25 boosted SHOULD-sum
    * top-k, then the class vote: per class of the top-k docs, score =
    * (cnt · (Σ(s/maxScore)/cnt)) / k, scaled k/sumdoc when sumdoc < k.
    */
  def classifyKnn(text: String, k: Int, maxQueryTerms: Int,
      minTf: Int, minDocFreq: Int): String = {
    val toks = graft.core.Analysis.simpleTokens(text)
    val tf = toks.groupBy(identity).view.mapValues(_.length).toSeq
      .map { case (w, f) => s"(${lit(w)}, $f)" }.mkString(", ")
    val one = R("1.0")
    val idfC = R(s"ln(((SELECT n FROM av) + 1) / CAST(wdf.df + 1 AS DOUBLE)) + 1.0")
    prologue +
      s""", wtf(word, f) AS (
  SELECT * FROM (VALUES $tf)
), wdf AS (
  SELECT w.word, w.f,
    (SELECT count(DISTINCT doc_id) FROM tok WHERE term = w.word) AS df
  FROM wtf w
), sel AS (
  SELECT word, ${R(s"CAST(f AS REAL) * $idfC")} AS mscore
  FROM wdf
  WHERE f >= $minTf AND df >= $minDocFreq AND df > 0
  ORDER BY mscore DESC, word LIMIT $maxQueryTerms
), best AS (
  SELECT min(mscore) AS b FROM sel
), boosted AS (
  SELECT word, ${R(s"mscore / (SELECT b FROM best)")} AS boost FROM sel
), tfq AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN (SELECT word FROM boosted) GROUP BY doc_id, term
), persc AS (
  -- boosted-term weight in the REFERENCE association
  -- (BM25Similarity.java:296 weight = idf·boost, scored weight·(k1+1))
  SELECT t.doc_id,
    ${R(s"${R(s"${R(s"${R(s"b.boost * ${idfExpr("(SELECT count(DISTINCT doc_id) FROM tok WHERE term = t.term)")}")} * ($K1 + $one)")} * ${R("t.tf")}")} / ${R(s"${R("t.tf")} + ${cacheExpr("dn.qlen")}")}")} AS s
  FROM tfq t JOIN boosted b ON b.word = t.term
  JOIN dn ON t.doc_id = dn.doc_id
), dscore AS (
  SELECT doc_id, ${R("SUM(CAST(s AS DOUBLE))")} AS s FROM persc GROUP BY doc_id
), topk AS (
  SELECT doc_id, s, row_number() OVER (ORDER BY s DESC, doc_id) AS rnk
  FROM dscore ORDER BY s DESC, doc_id LIMIT $k
), mx AS (
  SELECT s AS m FROM topk WHERE rnk = 1
), vote AS (
  SELECT d.lang AS cls, count(*) AS cnt,
    SUM(CAST(t.s AS DOUBLE) / (SELECT m FROM mx)) AS bsum
  FROM topk t JOIN documents d USING (doc_id)
  WHERE d.lang IS NOT NULL AND d.lang <> ''
  GROUP BY 1
), tot AS (
  SELECT sum(cnt) AS sumdoc FROM vote
), res AS (
  SELECT cls,
    CASE WHEN (SELECT sumdoc FROM tot) < $k
      THEN ((cnt * (bsum / cnt)) / CAST($k AS DOUBLE)) * $k / CAST((SELECT sumdoc FROM tot) AS DOUBLE)
      ELSE (cnt * (bsum / cnt)) / CAST($k AS DOUBLE) END AS s
  FROM vote
)
SELECT cls, CAST(s AS DOUBLE) AS score,
  CAST(row_number() OVER (ORDER BY s DESC, cls) AS INT) AS rnk
FROM res ORDER BY s DESC, cls"""
  }

  /** BooleanPerceptronClassifier
    * (`classification/BooleanPerceptronClassifier.java:80-228`) replayed
    * as a recursive CTE: the weight table and the FST snapshot are
    * term-sorted vectors over the relevant universe (training terms ∪
    * input tokens), each recursion step processes one training doc in
    * doc_id order — output = Σ fst(t)·tf against the SNAPSHOT vector,
    * miss ⇒ weights(t) = fst(t) + (correct ? 1 : −1)·tf for the doc's
    * terms, snapshot refreshed only when the running classed-doc index
    * satisfies i % batchSize == 0 (:146, batchCount counts every
    * classed doc). Threshold = corpus sumDocFreq / 2 (:96). Training
    * docs are lang='en'-classed rows with doc_id % modN == rem (the
    * reference's `query` constructor arg). Final row: classify the
    * input per token occurrence against the last snapshot; score =
    * 1 − exp(−|thr − out| / thr) (:227).
    */
  def classifyPerceptron(text: String, batchSize: Int, modN: Int,
      rem: Int): String = {
    val toks = graft.core.Analysis.simpleTokens(text)
    val ivals =
      if (toks.isEmpty) "('')" else toks.map(t => s"(${lit(t)})").mkString(", ")
    s"""WITH RECURSIVE toks0 AS (
  SELECT doc_id, lang,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                x -> x <> '' AND length(x) <= 255) AS arr
  FROM documents
), tok AS (
  SELECT doc_id, unnest(arr) AS term FROM toks0
), itoks(term) AS (
  VALUES $ivals
), train AS (
  SELECT doc_id, arr, (lang = 'en') AS correct FROM toks0
  WHERE doc_id % $modN = $rem
), uni AS (
  SELECT DISTINCT term FROM (
    SELECT unnest(arr) AS term FROM train
    UNION ALL SELECT term FROM itoks)
), w0 AS (
  SELECT u.term, COALESCE(c.cnt, 0) AS w
  FROM uni u LEFT JOIN (
    SELECT term, count(*) AS cnt FROM tok GROUP BY 1) c USING (term)
), w0v AS (
  SELECT list(w ORDER BY term) AS wv, list(term ORDER BY term) AS tv FROM w0
), tfu AS (
  SELECT t.doc_id, u.term, len(list_filter(t.arr, x -> x = u.term)) AS f
  FROM train t CROSS JOIN uni u
), tseq AS (
  SELECT row_number() OVER (ORDER BY t.doc_id) - 1 AS i, t.correct,
    (SELECT list(f ORDER BY term) FROM tfu WHERE tfu.doc_id = t.doc_id) AS fv
  FROM train t
), thr AS (
  SELECT sum(len(list_distinct(arr))) / 2.0 AS v FROM toks0
), ntrain AS (SELECT count(*) AS n FROM train),
step AS (
  SELECT 0 AS i, (SELECT wv FROM w0v) AS wv, (SELECT wv FROM w0v) AS sv
  UNION ALL
  SELECT x.i + 1,
    CASE WHEN x.miss THEN x.neww ELSE x.wv END,
    CASE WHEN x.miss AND x.i % $batchSize = 0 THEN x.neww ELSE x.sv END
  FROM (
    SELECT s.i, s.wv, s.sv,
      ((list_sum(list_transform(list_zip(s.sv, t.fv), p -> p[1] * p[2]))
          >= (SELECT v FROM thr)) <> t.correct) AS miss,
      list_transform(list_zip(s.wv, s.sv, t.fv),
        p -> CASE WHEN p[3] > 0
          THEN p[2] + (CASE WHEN t.correct THEN 1 ELSE -1 END) * p[3]
          ELSE p[1] END) AS neww
    FROM step s JOIN tseq t ON t.i = s.i
  ) x
), fin AS (
  SELECT sv FROM step WHERE i = (SELECT n FROM ntrain)
), fstkv AS (
  SELECT unnest(list_zip((SELECT tv FROM w0v), (SELECT sv FROM fin))) AS p
), outp AS (
  SELECT COALESCE(sum(f.p[2]), 0) AS o
  FROM itoks it LEFT JOIN fstkv f ON f.p[1] = it.term
)
SELECT CAST(o >= (SELECT v FROM thr) AS VARCHAR) AS cls,
  CAST(o AS BIGINT) AS output,
  CAST((SELECT v FROM thr) AS DOUBLE) AS threshold,
  CAST(1 - exp(-abs((SELECT v FROM thr) - o) / (SELECT v FROM thr))
    AS DOUBLE) AS score
FROM outp"""
  }

  // ---------- MultiSimilarity (CombSUM) oracles ----------

  /** The classic-norm decode CTEs (cnormq, cn) without classicPrologue's
    * conflicting `av` — composable onto the BM25 prologue (whose `av`
    * carries n AND avgdl, a superset of what classicIdf reads).
    */
  private def cnCtes: String =
    s""", cnormq(lo, hi, nv) AS (
  SELECT * FROM (VALUES $classicNormRows)
), cn AS (
  SELECT dlen.doc_id, ${R("cnormq.nv")} AS nv
  FROM dlen JOIN cnormq ON dlen.len BETWEEN cnormq.lo AND cnormq.hi
)"""

  /** One MultiSimilarity component's score CTEs (sc_<a>) for a term.
    * Classic's value under MultiSimilarity normalizes with queryNorm =
    * 1f (the base Similarity's constant — MultiSimilarity does not
    * override TFIDFSimilarity's 1/√v), so value = idf².
    */
  private def multiCompCtes(kind: Int, a: String, term: String): String = {
    import graft.search.SegmentSearcher._
    kind match {
      case SimBm25 => termCtes(a, term)
      case SimClassic =>
        val df = s"(SELECT count(DISTINCT doc_id) FROM tok WHERE term = ${lit(term)})"
        val idf = classicIdf(df)
        classicTermCtes(a, term, R(s"$idf * $idf"))
      case SimLMDirichlet => lmTermCtes(a, term)
      case SimDFR => dfrScoreCtes(a, term)
      case k => simBaseScoreCtes(k, a, term)
    }
  }

  /** Stepwise FLOAT fold of the component scores in component order —
    * `MultiSimScorer.score` accumulates into a float (MultiSimilarity
    * .java:83-88), NOT the double sum of disjunctions.
    */
  private def multiFold(cols: Seq[String]): String =
    cols.reduceLeft((acc, c) => R(s"$acc + $c"))

  /** MultiSimilarity over one term: components joined on the (shared)
    * matching doc set, float-summed in order.
    */
  def multiSimTerm(kinds: Seq[Int], term: String, k: Int): String = {
    val names = kinds.indices.map(i => s"c$i")
    val ctes = names.zip(kinds).map { case (a, kd) =>
      multiCompCtes(kd, a, term)
    }.mkString
    val joins = names.tail.map(a => s"JOIN sc_$a USING (doc_id)").mkString(" ")
    val fold = multiFold(names.map(a => s"sc_$a.s"))
    prologue + cnCtes + dfrAvfCte + ctes +
      s""", res AS (
  SELECT sc_${names.head}.doc_id, $fold AS s FROM sc_${names.head} $joins
)""" + finish("res", k)
  }

  /** MultiSimilarity disjunction: per-term CombSUM float fold, then the
    * disjunction's (float)Σdouble across matching terms — no coord
    * (MultiSimilarity inherits the base Similarity's coord = 1f).
    */
  def multiSimOr(kinds: Seq[Int], terms: Seq[String], k: Int): String = {
    val ctes = new StringBuilder
    val termFolds = terms.indices.map { ti =>
      val names = kinds.indices.map(i => s"t${ti}c$i")
      names.zip(kinds).foreach { case (a, kd) =>
        ctes ++= multiCompCtes(kd, a, terms(ti))
      }
      val joins = names.tail.map(a => s"JOIN sc_$a USING (doc_id)").mkString(" ")
      val fold = multiFold(names.map(a => s"sc_$a.s"))
      s"""mc_$ti AS (
  SELECT sc_${names.head}.doc_id, $fold AS s FROM sc_${names.head} $joins
)"""
    }
    val union = terms.indices.map(ti => s"SELECT doc_id, s FROM mc_$ti")
      .mkString(" UNION ALL ")
    prologue + cnCtes + dfrAvfCte + ctes.toString +
      s""", ${termFolds.mkString(", ")}, un AS ($union), res AS (
  SELECT doc_id, ${R("SUM(CAST(s AS DOUBLE))")} AS s FROM un GROUP BY doc_id
)""" + finish("res", k)
  }

  // ---------- payload queries (gate policy: "pos" — payload = the
  // occurrence's 0-based token position, recomputed here from the text)

  /** PayloadScoreQ(Term(t), fn): spans = every occurrence (width 0, so
    * spanScore = the plain term score with freq = tf); docScore folds
    * the positions through Min/Max/AveragePayloadFunction (avg divides
    * the FLOAT sum — exact for integer positions — by the float count);
    * score = spanScore × docScore, or docScore alone when
    * includeSpanScore = false (`PayloadSpanScorer.scoreCurrentDoc`).
    */
  def payloadTerm(term: String, fn: String, includeSpanScore: Boolean,
      k: Int): String = {
    val payExpr = fn match {
      case "min" => R("CAST(MIN(pos) AS REAL)")
      case "max" => R("CAST(MAX(pos) AS REAL)")
      case "avg" => R("CAST(SUM(pos) AS REAL) / CAST(count(*) AS REAL)")
      case other => sys.error(s"unknown payload fn: $other")
    }
    val spanScore = scoreExpr("p.tf", "dn.qlen",
      s"(SELECT count(*) FROM ph)")
    val sExpr =
      if (includeSpanScore) R(s"$spanScore * p.pay")
      else "p.pay"
    prologue + spanPosx +
      s""", occ AS (
  SELECT doc_id, pos - 1 AS pos FROM posx WHERE term = ${lit(term)}
), ph AS (
  SELECT doc_id, count(*) AS tf, $payExpr AS pay FROM occ GROUP BY doc_id
), res AS (
  SELECT p.doc_id, $sExpr AS s FROM ph p JOIN dn ON p.doc_id = dn.doc_id
)""" + finish("res", k)
  }

  /** PayloadScoreQ over an ordered 2-term SpanNear, avg function: per
    * accepted span the collected leaf payloads are (q0, q1) in clause
    * order; docScore = float(Σ positions)/float(2·spans); score =
    * spanScore × docScore.
    */
  def payloadAvgNear(a: String, b: String, slop: Int, k: Int): String = {
    val (chain, widthExpr, _) = spanChain(Seq(a, b))
    val score = spanTreeScore(spanTreeWeight(Seq(a, b)))
    prologue + spanPosx + chain +
      s""", sp AS (
  SELECT doc_id, q0, q1, $widthExpr AS width FROM m1
), ph AS (
  SELECT doc_id, ${R("SUM(1.0 / CAST(1 + width AS DOUBLE))")} AS freq,
    ${R("CAST(SUM(q0 + q1) AS REAL) / CAST(2 * count(*) AS REAL)")} AS pay
  FROM sp WHERE width <= $slop GROUP BY doc_id
), res AS (
  SELECT p.doc_id, ${R(s"$score * p.pay")} AS s
  FROM ph p JOIN dn ON p.doc_id = dn.doc_id WHERE p.freq > 0
)""" + finish("res", k)
  }

  /** SpanPayloadCheckQ(Term(t), [expectedPos]): keeps only spans whose
    * single leaf payload equals the expected value — under the "pos"
    * policy, the occurrence AT that position; accepted spans score like
    * a plain span tree (freq = accepted count, here 0 or 1).
    */
  def payloadCheckTerm(term: String, expectedPos: Int, k: Int): String = {
    val score = spanTreeScore(spanTreeWeight(Seq(term)))
    prologue + spanPosx +
      s""", occ AS (
  SELECT doc_id, pos - 1 AS pos FROM posx WHERE term = ${lit(term)}
), ph AS (
  SELECT doc_id, ${R("CAST(count(*) AS DOUBLE)")} AS freq
  FROM occ WHERE pos = $expectedPos GROUP BY doc_id
), res AS (
  SELECT p.doc_id, $score AS s FROM ph p JOIN dn ON p.doc_id = dn.doc_id
  WHERE p.freq > 0
)""" + finish("res", k)
  }
}
