package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** The function-query value sources (`lucene/queries/.../function/
  * valuesource/`, Solr's function-query surface): per-doc float values
  * composed from docvalue fields, constants, arithmetic, and subquery
  * scores. Every node reproduces the reference's FLOAT arithmetic law at
  * its cited line; each op is a single float32 rounding step, so the
  * DataFrame evaluation (FloatType columns), the driver-local evaluation
  * (Scala Float), and the DuckDB oracle (REAL casts) are bit-identical.
  *
  * Scale shape: a ValueSrc evaluates as a Catalyst Column over the
  * index's docs table — a column-pruned parquet scan reading ONLY the
  * referenced fields, with whole-stage codegen over the arithmetic. No
  * per-doc driver work at any corpus size.
  */
sealed trait ValueSrc

/** ConstValueSource (`valuesource/ConstValueSource.java:33`). */
final case class ConstV(v: Float) extends ValueSrc

/** Numeric docvalue field as float — LongFieldSource.floatVal's
  * `(float) longVal` (`valuesource/LongFieldSource.java:72`).
  */
final case class FieldV(field: String) extends ValueSrc

/** Left-fold float sum (`valuesource/SumFloatFunction.java:36-42`). */
final case class SumV(xs: Seq[ValueSrc]) extends ValueSrc

/** Left-fold float product (`ProductFloatFunction.java:36-42`). */
final case class ProductV(xs: Seq[ValueSrc]) extends ValueSrc

/** Float a/b (`DivFloatFunction.java:39-41`). */
final case class DivV(a: ValueSrc, b: ValueSrc) extends ValueSrc

/** `(float) Math.pow(a, b)` (`PowFloatFunction.java:39-41`). */
final case class PowV(a: ValueSrc, b: ValueSrc) extends ValueSrc

/** Running float max over the sources (`MaxFloatFunction.java:36-45`). */
final case class MaxV(xs: Seq[ValueSrc]) extends ValueSrc

/** Running float min over the sources (`MinFloatFunction.java:36-45`). */
final case class MinV(xs: Seq[ValueSrc]) extends ValueSrc

/** `x*slope + intercept`, float mult then float add
  * (`LinearFloatFunction.java:57`).
  */
final case class LinearV(x: ValueSrc, slope: Float, intercept: Float)
  extends ValueSrc

/** `a/(m*x + b)` — the recency/length-demotion workhorse
  * (`ReciprocalFloatFunction.java:60`).
  */
final case class RecipV(x: ValueSrc, m: Float, a: Float, b: Float)
  extends ValueSrc

/** `val in [min,max] ? target : (default | val)`, float comparisons
  * (`RangeMapFloatFunction.java:74-76`).
  */
final case class RangeMapV(x: ValueSrc, min: Float, max: Float,
    target: Float, default: Option[Float]) extends ValueSrc

/** Scales x's values across the WHOLE corpus into [min,max]
  * (`ScaleFloatFunction.java:58-127`): corpus minSrc/maxSrc are computed
  * eagerly (the reference's createWeight walk over every doc — here one
  * distributed min/max aggregate), then per doc
  * `(v - minSrc)*scale + min` with
  * `scale = maxSrc==minSrc ? 0 : (max-min)/(maxSrc-minSrc)`. NaN/±Inf
  * source values are excluded from the corpus min/max (:76-80).
  */
final case class ScaleV(x: ValueSrc, min: Float, max: Float) extends ValueSrc

/** Solr's log(x): `(float) Math.log10(x)` (Solr ValueSourceParser "log"
  * → Log10 via SimpleFloatFunction).
  */
final case class Log10V(x: ValueSrc) extends ValueSrc

/** Solr's ln(x): `(float) Math.log(x)`. */
final case class LnV(x: ValueSrc) extends ValueSrc

/** Solr's sqrt(x): `(float) Math.sqrt(x)`. */
final case class SqrtV(x: ValueSrc) extends ValueSrc

/** Solr's abs(x): `Math.abs(x)` on the float. */
final case class AbsV(x: ValueSrc) extends ValueSrc

/** Subquery relevance score, or `defVal` for non-matching docs —
  * QueryValueSource (`valuesource/QueryValueSource.java:55-120`,
  * Solr's `query($q, def)`): the bridge that mixes relevance into
  * arithmetic (e.g. `sum(query($q), recip(age,...))`).
  */
final case class QueryV(q: Query, defVal: Float = 0f) extends ValueSrc

// ---- boolean function sources (Solr ValueSourceParser "if"/"exists"/
// "not"/"and"/"or"/"def", `queries/function/valuesource/IfFunction.java`,
// `SimpleBoolFunction.java`, `MultiBoolFunction.java`,
// `DefFunction.java`) ----
// Truth of a general source is the reference's default boolVal law —
// `(int) floatVal != 0` (`FunctionValues.java:51` intVal != 0 over the
// float-truncating intVal) — NOT floatVal != 0: a 0.5 value is FALSE.
// Bool nodes themselves value as 1f/0f (BoolFunction floatVal).

/** IfFunction (`IfFunction.java:50-95`): cond's boolVal picks t or f. */
final case class IfV(cond: ValueSrc, t: ValueSrc, f: ValueSrc)
  extends ValueSrc

/** Solr `exists(x)` (`ValueSourceParser.java:719-733`): whether the doc
  * HAS a value — a FieldV exists when its column is non-NULL, a QueryV
  * when the subquery MATCHED (regardless of defVal), anything else
  * always (the FunctionValues default).
  */
final case class ExistsV(x: ValueSrc) extends ValueSrc

/** Solr `not(x)` (`ValueSourceParser.java:736-751`). */
final case class NotV(x: ValueSrc) extends ValueSrc

/** Solr `and(…)` / `or(…)` (`ValueSourceParser.java:754-793`,
  * MultiBoolFunction): conjunction/disjunction of the members' boolVals.
  */
final case class AndV(xs: Seq[ValueSrc]) extends ValueSrc
final case class OrV(xs: Seq[ValueSrc]) extends ValueSrc

/** DefFunction (`DefFunction.java:35-90`, Solr `def(a, b, …)`): the
  * FIRST source whose value exists, the last as fallback.
  */
final case class DefV(xs: Seq[ValueSrc]) extends ValueSrc

// ---- index-stat value sources (`queries/function/valuesource/`) ----
// The per-searcher CONSTANT ones (DocFreqV/IdfV/MaxDocV/NumDocsV/
// TotalTermFreqV/SumTotalTermFreqV) are rewritten to ConstV by
// `Searcher.resolveStatVs` before evaluation — the reference binds them
// once in createWeight the same way (ConstIntDocValues/
// ConstDoubleDocValues). The per-doc ones (TermFreqV/TfV/NormV) evaluate
// through the context's termFreq/norm resolvers.

/** DocFreqValueSource (`DocFreqValueSource.java:33-60`): the term's
  * docFreq as a constant, int → float.
  */
final case class DocFreqV(term: String) extends ValueSrc

/** IDFValueSource (`IDFValueSource.java:39-57`): constant
  * `TFIDFSimilarity.idf(df, maxDoc)` — ClassicSimilarity's
  * `(float)(log(maxDoc/(double)(df+1)) + 1.0)`. The reference throws
  * unless the searcher similarity is TF-IDF; this engine's classic idf
  * law is fixed, so the value is always the classic one.
  */
final case class IdfV(term: String) extends ValueSrc

/** MaxDocValueSource (`MaxDocValueSource.java:38-50`). */
case object MaxDocV extends ValueSrc

/** NumDocsValueSource (`NumDocsValueSource.java:39-51`):
  * maxDoc − numDeletedDocs.
  */
case object NumDocsV extends ValueSrc

/** TotalTermFreqValueSource (`TotalTermFreqValueSource.java:36-75`):
  * corpus-wide Σtf of the term, long → float.
  */
final case class TotalTermFreqV(term: String) extends ValueSrc

/** SumTotalTermFreqValueSource (`SumTotalTermFreqValueSource.java:
  * 35-77`): Σ totalTermFreq over every term of the field.
  */
case object SumTotalTermFreqV extends ValueSrc

/** TermFreqValueSource (`TermFreqValueSource.java:40-125`): the doc's
  * RAW term frequency for the term, 0 for non-matching docs.
  */
final case class TermFreqV(term: String) extends ValueSrc

/** TFValueSource (`TFValueSource.java:55-140`): `sim.tf(freq)` —
  * ClassicSimilarity's `(float)Math.sqrt(freq)` — 0 → 0.
  */
final case class TfV(term: String) extends ValueSrc

/** NormValueSource (`NormValueSource.java:39-72`): the decoded
  * index-time norm — ClassicSimilarity.decodeNormValue =
  * byte315ToFloat(normByte) of the content field.
  */
case object NormV extends ValueSrc

object ValueSources {

  /** Solr's function-query string syntax
    * (`solr/core/.../search/ValueSourceParser.java` — the `sum(…)`,
    * `recip(…)`, `query($x)` surface of `fl`/`sort`/`boost=`/`bf`):
    * parse `func(arg, …)` trees onto the [[ValueSrc]] zoo. Numeric
    * literals → ConstV, bare identifiers → FieldV, `$param` references
    * resolve through `queries` (the local-params indirection for
    * `query($q)`). Functions whose reference signature takes scalar
    * positions (linear/recip/map/scale) require literal numbers there,
    * exactly like the Solr parser's `parseFloat` slots.
    */
  def parseFunc(input: String,
      queries: Map[String, Query] = Map.empty): ValueSrc = {
    val p = new FuncP(input, queries)
    val v = p.parseV()
    p.skipWs()
    require(p.eof, s"unexpected '${input.substring(p.pos)}'")
    v
  }

  private final class FuncP(s: String, queries: Map[String, Query]) {
    var pos = 0
    def eof: Boolean = pos >= s.length
    def peek: Char = s.charAt(pos)
    def skipWs(): Unit = while (!eof && peek.isWhitespace) pos += 1

    private def ident(): String = {
      skipWs()
      val start = pos
      while (!eof && (peek.isLetterOrDigit || peek == '_' || peek == '.' ||
        peek == '-' || peek == '+')) pos += 1
      require(pos > start, s"expected identifier at $start")
      s.substring(start, pos)
    }

    private def expect(c: Char): Unit = {
      skipWs()
      require(!eof && peek == c, s"expected '$c' at $pos")
      pos += 1
    }

    private def args(): Seq[ValueSrc] = {
      expect('(')
      val out = Seq.newBuilder[ValueSrc]
      out += parseV()
      while ({ skipWs(); !eof && peek == ',' }) { pos += 1; out += parseV() }
      expect(')')
      out.result()
    }

    /** "(field, term)" or "(term)" → the term (identifiers parse as
      * FieldV through parseV).
      */
    private def termArg(a: Seq[ValueSrc]): String = {
      require(a.size == 1 || a.size == 2, "expected ([field,] term)")
      a.last match {
        case FieldV(t) => t
        case other => throw new IllegalArgumentException(
          s"expected a term identifier, got $other")
      }
    }

    /** "()" or "(field)" — consumed and discarded (single-field engine). */
    private def optFieldArgs(): Unit = {
      expect('(')
      skipWs()
      if (!eof && peek != ')') { ident(); () }
      expect(')')
    }

    private def num(v: ValueSrc): Float = v match {
      case ConstV(f) => f
      case other => throw new IllegalArgumentException(
        s"expected a numeric literal, got $other")
    }

    def parseV(): ValueSrc = {
      skipWs()
      if (!eof && peek == '$') {
        pos += 1
        val name = ident()
        val q = queries.getOrElse(name,
          throw new IllegalArgumentException(s"unbound query param $$$name"))
        return QueryV(q)
      }
      val word = ident()
      skipWs()
      val isCall = !eof && peek == '('
      if (!isCall) {
        return word match {
          // BoolConstValueSource (`ValueSourceParser.java:703-717`)
          case "true" => ConstV(1f)
          case "false" => ConstV(0f)
          case _ => word.toFloatOption match {
            case Some(f) => ConstV(f)
            case None => FieldV(word)
          }
        }
      }
      word match {
        case "sum" => SumV(args())
        case "product" => ProductV(args())
        case "div" => val a = args(); require(a.size == 2, "div(a,b)"); DivV(a(0), a(1))
        case "pow" => val a = args(); require(a.size == 2, "pow(a,b)"); PowV(a(0), a(1))
        case "max" => MaxV(args())
        case "min" => MinV(args())
        case "linear" =>
          val a = args(); require(a.size == 3, "linear(x,m,c)")
          LinearV(a(0), num(a(1)), num(a(2)))
        case "recip" =>
          val a = args(); require(a.size == 4, "recip(x,m,a,b)")
          RecipV(a(0), num(a(1)), num(a(2)), num(a(3)))
        case "map" =>
          val a = args(); require(a.size == 4 || a.size == 5, "map(x,min,max,target[,def])")
          RangeMapV(a(0), num(a(1)), num(a(2)), num(a(3)),
            if (a.size == 5) Some(num(a(4))) else None)
        case "scale" =>
          val a = args(); require(a.size == 3, "scale(x,min,max)")
          ScaleV(a(0), num(a(1)), num(a(2)))
        case "log" => val a = args(); require(a.size == 1, "log(x)"); Log10V(a(0))
        case "ln" => val a = args(); require(a.size == 1, "ln(x)"); LnV(a(0))
        case "sqrt" => val a = args(); require(a.size == 1, "sqrt(x)"); SqrtV(a(0))
        case "abs" => val a = args(); require(a.size == 1, "abs(x)"); AbsV(a(0))
        case "query" =>
          // query($q) — the Solr local-params indirection
          val a = args(); require(a.size == 1 && a.head.isInstanceOf[QueryV],
            "query($param)")
          a.head
        // index-stat functions (Solr ValueSourceParser "docfreq"/"idf"/
        // "termfreq"/"tf"/"norm"/"maxdoc"/"numdocs"/"totaltermfreq"/
        // "sumtotaltermfreq"): the reference signatures lead with a field
        // argument; this engine indexes one content field, so a leading
        // field identifier is accepted and the LAST identifier is the term
        case "docfreq" => DocFreqV(termArg(args()))
        case "idf" => IdfV(termArg(args()))
        case "termfreq" => TermFreqV(termArg(args()))
        case "tf" => TfV(termArg(args()))
        case "totaltermfreq" | "ttf" => TotalTermFreqV(termArg(args()))
        // boolean function family (ValueSourceParser.java:719-833)
        case "if" =>
          val a = args(); require(a.size == 3, "if(cond,t,f)")
          IfV(a(0), a(1), a(2))
        case "exists" =>
          val a = args(); require(a.size == 1, "exists(x)"); ExistsV(a.head)
        case "not" =>
          val a = args(); require(a.size == 1, "not(x)"); NotV(a.head)
        case "and" => AndV(args())
        case "or" => OrV(args())
        case "def" =>
          val a = args(); require(a.size >= 2, "def(a,b,…)"); DefV(a)
        case "maxdoc" => optFieldArgs(); MaxDocV
        case "numdocs" => optFieldArgs(); NumDocsV
        case "sumtotaltermfreq" | "sttf" => optFieldArgs(); SumTotalTermFreqV
        case "norm" => optFieldArgs(); NormV
        case other => throw new IllegalArgumentException(
          s"unknown function '$other'")
      }
    }
  }

  /** Docvalue fields referenced anywhere in the tree (for the pruned
    * column read).
    */
  def fieldsOf(vs: ValueSrc): Set[String] = vs match {
    case FieldV(f) => Set(f)
    // bool/def composites ride the generic walker
    case IfV(_, _, _) | ExistsV(_) | NotV(_) | AndV(_) | OrV(_) | DefV(_) =>
      childrenOf(vs).flatMap(fieldsOf).toSet
    case SumV(xs) => xs.flatMap(fieldsOf).toSet
    case ProductV(xs) => xs.flatMap(fieldsOf).toSet
    case MaxV(xs) => xs.flatMap(fieldsOf).toSet
    case MinV(xs) => xs.flatMap(fieldsOf).toSet
    case DivV(a, b) => fieldsOf(a) ++ fieldsOf(b)
    case PowV(a, b) => fieldsOf(a) ++ fieldsOf(b)
    case LinearV(x, _, _) => fieldsOf(x)
    case RecipV(x, _, _, _) => fieldsOf(x)
    case RangeMapV(x, _, _, _, _) => fieldsOf(x)
    case ScaleV(x, _, _) => fieldsOf(x)
    case Log10V(x) => fieldsOf(x)
    case LnV(x) => fieldsOf(x)
    case SqrtV(x) => fieldsOf(x)
    case AbsV(x) => fieldsOf(x)
    case _ => Set.empty
  }

  /** QueryV nodes in the tree, in deterministic (pre-order) order. */
  def queriesOf(vs: ValueSrc): Seq[QueryV] = vs match {
    case q: QueryV => Seq(q)
    case SumV(xs) => xs.flatMap(queriesOf)
    case ProductV(xs) => xs.flatMap(queriesOf)
    case MaxV(xs) => xs.flatMap(queriesOf)
    case MinV(xs) => xs.flatMap(queriesOf)
    case DivV(a, b) => queriesOf(a) ++ queriesOf(b)
    case PowV(a, b) => queriesOf(a) ++ queriesOf(b)
    case LinearV(x, _, _) => queriesOf(x)
    case RecipV(x, _, _, _) => queriesOf(x)
    case RangeMapV(x, _, _, _, _) => queriesOf(x)
    case ScaleV(x, _, _) => queriesOf(x)
    case Log10V(x) => queriesOf(x)
    case LnV(x) => queriesOf(x)
    case SqrtV(x) => queriesOf(x)
    case AbsV(x) => queriesOf(x)
    case IfV(_, _, _) | ExistsV(_) | NotV(_) | AndV(_) | OrV(_) | DefV(_) =>
      childrenOf(vs).flatMap(queriesOf)
    case _ => Nil
  }

  /** Evaluation context for the Column form. `field` resolves a docvalue
    * column, `queryScore` resolves a QueryV to its (pre-joined) score
    * column, `scaleStats` supplies the eagerly-computed corpus (min, max)
    * of a ScaleV's source.
    */
  final case class ColCtx(field: String => Column,
      queryScore: QueryV => Column,
      scaleStats: ScaleV => (Float, Float),
      termFreq: String => Column =
        t => sys.error(s"termfreq('$t') unavailable in this context"),
      norm: () => Column =
        () => sys.error("norm() unavailable in this context"),
      /** Whether the subquery MATCHED (pre-defVal) — the QueryDocValues
        * exists() notion backing ExistsV/DefV.
        */
      queryMatched: QueryV => Column =
        qv => sys.error(s"exists($qv) unavailable in this context"))

  private def f32(c: Column): Column = c.cast(FloatType)

  /** The reference's default boolVal — `(int) floatVal != 0`
    * (`FunctionValues.java:51`, truncating intVal): 0.5 is FALSE. Bool
    * nodes emit exactly 0f/1f and test directly.
    */
  private def boolCol(x: ValueSrc, ctx: ColCtx): Column = x match {
    case ExistsV(_) | NotV(_) | AndV(_) | OrV(_) =>
      toColumn(x, ctx) =!= lit(0f)
    case _ =>
      coalesce(toColumn(x, ctx).cast(org.apache.spark.sql.types.IntegerType)
        =!= lit(0), lit(false))
  }

  /** exists(doc): FieldV ⇔ non-NULL column, QueryV ⇔ matched, anything
    * else always (the FunctionValues default).
    */
  private def existsCol(x: ValueSrc, ctx: ColCtx): Column = x match {
    case FieldV(f) => ctx.field(f).isNotNull
    case qv: QueryV => ctx.queryMatched(qv)
    case _ => lit(true)
  }

  /** The ValueSrc as a FloatType Catalyst Column — every node is one
    * float32-rounded step, matching the reference law cited on the case
    * class. (+,-,*,/,sqrt computed in double then rounded to float are
    * correctly rounded — standard double-rounding-safety for p=24 ops in
    * p=53 — so Spark's type promotions cannot diverge from Java floats.)
    */
  def toColumn(vs: ValueSrc, ctx: ColCtx): Column = vs match {
    case ConstV(v) => lit(v)
    case FieldV(f) => f32(ctx.field(f))
    case SumV(xs) =>
      xs.map(toColumn(_, ctx)).reduceLeft((a, b) => f32(a + b))
    case ProductV(xs) =>
      xs.map(toColumn(_, ctx)).reduceLeft((a, b) => f32(a * b))
    case DivV(a, b) => f32(toColumn(a, ctx) / toColumn(b, ctx))
    case PowV(a, b) =>
      f32(pow(toColumn(a, ctx).cast(DoubleType), toColumn(b, ctx).cast(DoubleType)))
    case MaxV(xs) =>
      xs.map(toColumn(_, ctx)).reduceLeft((a, b) => f32(greatest(a, b)))
    case MinV(xs) =>
      xs.map(toColumn(_, ctx)).reduceLeft((a, b) => f32(least(a, b)))
    case LinearV(x, s, i) => f32(f32(toColumn(x, ctx) * lit(s)) + lit(i))
    case RecipV(x, m, a, b) =>
      f32(lit(a) / f32(f32(lit(m) * toColumn(x, ctx)) + lit(b)))
    case RangeMapV(x, mn, mx, tgt, dflt) =>
      val v = toColumn(x, ctx)
      when(v >= lit(mn) && v <= lit(mx), lit(tgt))
        .otherwise(dflt.map(lit(_)).getOrElse(v))
    case sc @ ScaleV(x, mn, mx) =>
      val (minSrc, maxSrc) = ctx.scaleStats(sc)
      val scale = if (maxSrc - minSrc == 0f) 0f else (mx - mn) / (maxSrc - minSrc)
      f32(f32(f32(toColumn(x, ctx) - lit(minSrc)) * lit(scale)) + lit(mn))
    // Spark's log/log10 return NULL for non-positive input (Hive
    // semantics); Java returns -Inf at 0 and NaN below — restore the
    // Math.log law explicitly so NaN propagates like the JVM's
    case Log10V(x) =>
      val c = toColumn(x, ctx).cast(DoubleType)
      f32(when(c > lit(0d), log10(c))
        .when(c === lit(0d), lit(Double.NegativeInfinity))
        .otherwise(lit(Double.NaN)))
    case LnV(x) =>
      val c = toColumn(x, ctx).cast(DoubleType)
      f32(when(c > lit(0d), log(c))
        .when(c === lit(0d), lit(Double.NegativeInfinity))
        .otherwise(lit(Double.NaN)))
    case SqrtV(x) => f32(sqrt(toColumn(x, ctx).cast(DoubleType)))
    case AbsV(x) => f32(abs(toColumn(x, ctx)))
    case q: QueryV => ctx.queryScore(q)
    case TermFreqV(t) => f32(ctx.termFreq(t))
    // ClassicSimilarity.tf = (float)Math.sqrt(freq) (`TFValueSource
    // .java:118`): sqrt in double of a float, rounded — exact
    case TfV(t) => f32(sqrt(ctx.termFreq(t).cast(DoubleType)))
    case NormV => f32(ctx.norm())
    case IfV(c, t, f) =>
      f32(when(boolCol(c, ctx), toColumn(t, ctx)).otherwise(toColumn(f, ctx)))
    case ExistsV(x) => f32(when(existsCol(x, ctx), lit(1f)).otherwise(lit(0f)))
    case NotV(x) => f32(when(boolCol(x, ctx), lit(0f)).otherwise(lit(1f)))
    case AndV(xs) =>
      f32(when(xs.map(boolCol(_, ctx)).reduceLeft(_ && _), lit(1f))
        .otherwise(lit(0f)))
    case OrV(xs) =>
      f32(when(xs.map(boolCol(_, ctx)).reduceLeft(_ || _), lit(1f))
        .otherwise(lit(0f)))
    case DefV(xs) =>
      val fallback = toColumn(xs.last, ctx)
      f32(xs.dropRight(1).foldRight(fallback)((x, acc) =>
        when(existsCol(x, ctx), toColumn(x, ctx)).otherwise(acc)))
    case DocFreqV(_) | IdfV(_) | MaxDocV | NumDocsV | TotalTermFreqV(_) |
        SumTotalTermFreqV =>
      sys.error(s"index-stat constant $vs must be resolved by the " +
        "searcher (resolveStatVs) before evaluation")
  }

  /** Evaluation context for the driver-local form (small-index fast
    * path): docvalue column lookups, materialized QueryV score maps, and
    * the same eagerly-computed scale stats.
    */
  final case class LocalCtx(field: String => (Long => Float),
      queryScore: QueryV => (Long => Float),
      scaleStats: ScaleV => (Float, Float),
      termFreq: String => (Long => Float) =
        t => sys.error(s"termfreq('$t') unavailable in this context"),
      norm: () => (Long => Float) =
        () => sys.error("norm() unavailable in this context"),
      queryMatched: QueryV => (Long => Boolean) =
        qv => sys.error(s"exists($qv) unavailable in this context"),
      /** Whether the doc holds a non-NULL value of the field. */
      fieldExists: String => (Long => Boolean) =
        f => sys.error(s"exists($f) unavailable in this context"))

  /** Driver-local evaluator — same float law as toColumn; the spec pins
    * the two equal on every node type.
    */
  def evalLocal(vs: ValueSrc, ctx: LocalCtx): Long => Float = vs match {
    case ConstV(v) => _ => v
    case FieldV(f) => ctx.field(f)
    case SumV(xs) =>
      val fs = xs.map(evalLocal(_, ctx))
      d => fs.foldLeft(0f)((acc, f) => acc + f(d))
    case ProductV(xs) =>
      val fs = xs.map(evalLocal(_, ctx))
      d => fs.foldLeft(1f)((acc, f) => acc * f(d))
    case DivV(a, b) =>
      val (fa, fb) = (evalLocal(a, ctx), evalLocal(b, ctx))
      d => fa(d) / fb(d)
    case PowV(a, b) =>
      val (fa, fb) = (evalLocal(a, ctx), evalLocal(b, ctx))
      d => math.pow(fa(d), fb(d)).toFloat
    case MaxV(xs) =>
      val fs = xs.map(evalLocal(_, ctx))
      d => fs.map(_(d)).reduceLeft(math.max)
    case MinV(xs) =>
      val fs = xs.map(evalLocal(_, ctx))
      d => fs.map(_(d)).reduceLeft(math.min)
    case LinearV(x, s, i) =>
      val fx = evalLocal(x, ctx); d => fx(d) * s + i
    case RecipV(x, m, a, b) =>
      val fx = evalLocal(x, ctx); d => a / (m * fx(d) + b)
    case RangeMapV(x, mn, mx, tgt, dflt) =>
      val fx = evalLocal(x, ctx)
      d => { val v = fx(d); if (v >= mn && v <= mx) tgt else dflt.getOrElse(v) }
    case sc @ ScaleV(x, mn, mx) =>
      val fx = evalLocal(x, ctx)
      val (minSrc, maxSrc) = ctx.scaleStats(sc)
      val scale = if (maxSrc - minSrc == 0f) 0f else (mx - mn) / (maxSrc - minSrc)
      d => (fx(d) - minSrc) * scale + mn
    case Log10V(x) =>
      val fx = evalLocal(x, ctx); d => math.log10(fx(d)).toFloat
    case LnV(x) =>
      val fx = evalLocal(x, ctx); d => math.log(fx(d)).toFloat
    case SqrtV(x) =>
      val fx = evalLocal(x, ctx); d => math.sqrt(fx(d)).toFloat
    case AbsV(x) =>
      val fx = evalLocal(x, ctx); d => math.abs(fx(d))
    case q: QueryV => ctx.queryScore(q)
    case TermFreqV(t) => ctx.termFreq(t)
    case TfV(t) =>
      val fx = ctx.termFreq(t); d => math.sqrt(fx(d)).toFloat
    case NormV => ctx.norm()
    case IfV(c, t, f) =>
      val (fc, ft, ff) = (boolLocal(c, ctx), evalLocal(t, ctx),
        evalLocal(f, ctx))
      d => if (fc(d)) ft(d) else ff(d)
    case ExistsV(x) =>
      val e = existsLocal(x, ctx); d => if (e(d)) 1f else 0f
    case NotV(x) =>
      val fx = boolLocal(x, ctx); d => if (fx(d)) 0f else 1f
    case AndV(xs) =>
      val fs = xs.map(boolLocal(_, ctx)); d => if (fs.forall(_(d))) 1f else 0f
    case OrV(xs) =>
      val fs = xs.map(boolLocal(_, ctx)); d => if (fs.exists(_(d))) 1f else 0f
    case DefV(xs) =>
      val pairs = xs.dropRight(1).map(x =>
        (existsLocal(x, ctx), evalLocal(x, ctx)))
      val fallback = evalLocal(xs.last, ctx)
      d => pairs.find(_._1(d)).map(_._2(d)).getOrElse(fallback(d))
    case DocFreqV(_) | IdfV(_) | MaxDocV | NumDocsV | TotalTermFreqV(_) |
        SumTotalTermFreqV =>
      sys.error(s"index-stat constant $vs must be resolved by the " +
        "searcher (resolveStatVs) before evaluation")
  }

  private def boolLocal(x: ValueSrc, ctx: LocalCtx): Long => Boolean =
    x match {
      case ExistsV(_) | NotV(_) | AndV(_) | OrV(_) =>
        val f = evalLocal(x, ctx); d => f(d) != 0f
      case _ =>
        val f = evalLocal(x, ctx); d => f(d).toInt != 0
    }

  /** Local exists: the [[existsCol]] law — FieldV ⇔ the column's null
    * mask says non-NULL, QueryV ⇔ matched, anything else always.
    */
  private def existsLocal(x: ValueSrc, ctx: LocalCtx): Long => Boolean =
    x match {
      case FieldV(f) => ctx.fieldExists(f)
      case qv: QueryV => ctx.queryMatched(qv)
      case _ => _ => true
    }

  /** Direct children of a node (leaves → empty) — shared walker base. */
  def childrenOf(vs: ValueSrc): Seq[ValueSrc] = vs match {
    case SumV(xs) => xs
    case ProductV(xs) => xs
    case MaxV(xs) => xs
    case MinV(xs) => xs
    case DivV(a, b) => Seq(a, b)
    case PowV(a, b) => Seq(a, b)
    case LinearV(x, _, _) => Seq(x)
    case RecipV(x, _, _, _) => Seq(x)
    case RangeMapV(x, _, _, _, _) => Seq(x)
    case ScaleV(x, _, _) => Seq(x)
    case Log10V(x) => Seq(x)
    case LnV(x) => Seq(x)
    case SqrtV(x) => Seq(x)
    case AbsV(x) => Seq(x)
    case IfV(c, t, f) => Seq(c, t, f)
    case ExistsV(x) => Seq(x)
    case NotV(x) => Seq(x)
    case AndV(xs) => xs
    case OrV(xs) => xs
    case DefV(xs) => xs
    case _ => Nil
  }

  /** Bottom-up structural rewrite (children first, then the node). */
  def transform(vs: ValueSrc)(f: ValueSrc => ValueSrc): ValueSrc = {
    val t = vs match {
      case SumV(xs) => SumV(xs.map(transform(_)(f)))
      case ProductV(xs) => ProductV(xs.map(transform(_)(f)))
      case MaxV(xs) => MaxV(xs.map(transform(_)(f)))
      case MinV(xs) => MinV(xs.map(transform(_)(f)))
      case DivV(a, b) => DivV(transform(a)(f), transform(b)(f))
      case PowV(a, b) => PowV(transform(a)(f), transform(b)(f))
      case LinearV(x, s, i) => LinearV(transform(x)(f), s, i)
      case RecipV(x, m, a, b) => RecipV(transform(x)(f), m, a, b)
      case RangeMapV(x, mn, mx, t2, d) =>
        RangeMapV(transform(x)(f), mn, mx, t2, d)
      case ScaleV(x, mn, mx) => ScaleV(transform(x)(f), mn, mx)
      case Log10V(x) => Log10V(transform(x)(f))
      case LnV(x) => LnV(transform(x)(f))
      case SqrtV(x) => SqrtV(transform(x)(f))
      case AbsV(x) => AbsV(transform(x)(f))
      case IfV(c, t2, f2) =>
        IfV(transform(c)(f), transform(t2)(f), transform(f2)(f))
      case ExistsV(x) => ExistsV(transform(x)(f))
      case NotV(x) => NotV(transform(x)(f))
      case AndV(xs) => AndV(xs.map(transform(_)(f)))
      case OrV(xs) => OrV(xs.map(transform(_)(f)))
      case DefV(xs) => DefV(xs.map(transform(_)(f)))
      case leaf => leaf
    }
    f(t)
  }

  /** Terms needing a per-doc tf resolver (TermFreqV/TfV), pre-order. */
  def statTermsOf(vs: ValueSrc): Seq[String] = (vs match {
    case TermFreqV(t) => Seq(t)
    case TfV(t) => Seq(t)
    case _ => Nil
  }) ++ childrenOf(vs).flatMap(statTermsOf)

  /** Whether the tree reads the decoded index-time norm. */
  def needsNorm(vs: ValueSrc): Boolean =
    vs == NormV || childrenOf(vs).exists(needsNorm)
}
