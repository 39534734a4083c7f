package graft.search

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.types._

/** A Searcher's one driver-side cache — the LRUQueryCache analog
  * (`search/LRUQueryCache.java:94`): least-recently-used entries bounded
  * by the heap bytes each is charged. A load runs outside the lock (two
  * threads may both load one key; the later put wins), and an entry
  * larger than the whole budget is returned to its caller but not kept.
  */
private[graft] final class ByteLru(budget: Long) {
  private val map =
    new java.util.LinkedHashMap[Any, (Any, Long)](16, 0.75f, true)
  private var bytes, hits, misses, evictions = 0L

  def get[V](key: Any): Option[V] = synchronized {
    val e = map.get(key)
    if (e == null) { misses += 1; None }
    else { hits += 1; Some(e._1.asInstanceOf[V]) }
  }

  def getOrLoad[V](key: Any)(load: => (V, Long)): V =
    get[V](key).getOrElse { val (v, sz) = load; put(key, v, sz); v }

  def put(key: Any, v: Any, sz: Long): Unit = synchronized {
    if (sz <= budget) {
      val old = map.put(key, (v, sz))
      if (old != null) bytes -= old._2
      bytes += sz
      // eldest first; the new entry alone fits, so it is never reached
      val it = map.values.iterator
      while (bytes > budget) {
        bytes -= it.next()._2
        it.remove()
        evictions += 1
      }
    }
  }

  def clear(): Unit = synchronized { map.clear(); bytes = 0L }

  def stats: ByteLru.Stats =
    synchronized { ByteLru.Stats(map.size, bytes, hits, misses, evictions) }
}

private[graft] object ByteLru {
  final case class Stats(entries: Int, bytes: Long, hits: Long, misses: Long,
      evictions: Long)
}

/** Keys of a Searcher's [[ByteLru]]; a SizeKey holds a string or binary
  * column's measured bytes (the gate's memo).
  */
private[search] final case class BlobKey(term: String)
private[search] final case class ColumnKey(field: String)
private[search] final case class SizeKey(field: String)
private[search] final case class SuggestKey(field: String)
private[search] final case class ScoresKey(q: Query)

/** One docs-table column on the driver, docId ascending — the DocValues
  * analog (SURVEY §1.1): a null mask plus the values at their stored
  * width (integral as long, floating as double, any other type as the
  * row's object), read through long, double and string views. Integral
  * values read as double and string directly, floating ones as long by
  * truncation; every other view evaluates Spark's own Cast, so the
  * driver tier reads what `col(f).cast(…)` reads on the distributed one.
  * A numeric view of a NULL cell throws; the string view reads null.
  */
private[search] final class DocColumn private (val name: String,
    val ids: Array[Long], nulls: java.util.BitSet, dt: DataType,
    longs: Array[Long], doubles: Array[Double], refs: Array[AnyRef],
    tz: String) {

  /** Heap bytes held: 8 per docId, 8 per value slot, and the length of
    * each string or binary value.
    */
  val bytes: Long = 16L * ids.length + (if (refs == null) 0L
    else refs.iterator.map {
      case s: String => s.length.toLong
      case b: Array[Byte] => b.length.toLong
      case _ => 0L
    }.sum)

  private val dense = ids.isEmpty ||
    (ids(0) == 0L && ids(ids.length - 1) == ids.length - 1L)

  /** Row of docId `d`, or -1 when the table has none. */
  def at(d: Long): Int =
    if (dense) { if (d >= 0 && d < ids.length) d.toInt else -1 }
    else math.max(java.util.Arrays.binarySearch(ids, d), -1)

  /** Row of docId `d`; throws when the table has none. */
  def row(d: Long): Int = at(d) match {
    case -1 => throw new NoSuchElementException(s"no docId $d in '$name'")
    case i => i
  }

  def isNull(i: Int): Boolean = nulls.get(i)

  /** The numeric views read NULL as their least value (Long.MinValue,
    * -Inf): where the distributed tier's Spark sort puts NULL, first
    * ascending and last descending.
    */
  def long(i: Int): Long =
    if (isNull(i)) Long.MinValue
    else if (longs != null) longs(i)
    else if (doubles != null) doubles(i).toLong
    else cast(i, LongType).asInstanceOf[Long]

  def double(i: Int): Double =
    if (isNull(i)) Double.NegativeInfinity
    else if (doubles != null) doubles(i)
    else if (longs != null) longs(i).toDouble
    else cast(i, DoubleType).asInstanceOf[Double]

  def string(i: Int): String =
    if (isNull(i)) null
    else if (longs != null) longs(i).toString
    else if (dt == StringType) refs(i).asInstanceOf[String]
    else cast(i, StringType).toString

  def binary(i: Int): Array[Byte] = refs(i).asInstanceOf[Array[Byte]]

  private def cast(i: Int, to: DataType): Any = {
    val v = if (doubles == null) refs(i)
      else if (dt == FloatType) doubles(i).toFloat
      else doubles(i)
    Option(Cast(Literal.create(v, dt), to, Some(tz)).eval()).getOrElse(
      throw new NullPointerException(s"'$name' at docId ${ids(i)} casts to NULL"))
  }
}

private[search] object DocColumn {
  /** A column from its collected (docId, value) rows of type `dt`. */
  def apply(name: String, dt: DataType, rows0: Array[Row],
      tz: String): DocColumn = {
    val rows = rows0.sortBy(_.getLong(0))
    val nulls = new java.util.BitSet(rows.length)
    rows.indices.foreach(i => if (rows(i).isNullAt(1)) nulls.set(i))
    def num[T: scala.reflect.ClassTag](f: Number => T, zero: T): Array[T] =
      rows.map(r => if (r.isNullAt(1)) zero else f(r.getAs[Number](1)))
    val (longs, doubles, refs): (Array[Long], Array[Double], Array[AnyRef]) =
      dt match {
        case ByteType | ShortType | IntegerType | LongType =>
          (num(_.longValue, 0L), null, null)
        case FloatType | DoubleType => (null, num(_.doubleValue, 0d), null)
        case _ => (null, null, rows.map(_.get(1).asInstanceOf[AnyRef]))
      }
    new DocColumn(name, rows.map(_.getLong(0)), nulls, dt, longs, doubles,
      refs, tz)
  }
}
