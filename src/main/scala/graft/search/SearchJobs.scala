package graft.search

import scala.reflect.ClassTag
import org.apache.spark.{Aggregator, HashPartitioner, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String
import graft.search.SegmentSearcher.{ColdRec, SegRow, rowBytes}

/** Every function the Searcher's own RDD jobs hand to Spark. Spark's
  * ClosureCleaner re-reads and ASM-walks the whole class file that
  * declares each closure it cleans, on every call, so the closures live
  * in this small object and not in the Searcher or its companion. For the
  * same reason these jobs call no `groupByKey` and no `RDD.collect`, whose
  * own closures sit in PairRDDFunctions, RDD and SparkContext:
  * [[byShard]] and [[gather]] run the same jobs, stages and tasks with
  * this object's functions. Callers' functions ride along as captured
  * values, which Spark serializes but does not walk.
  */
private[graft] object SearchJobs {

  /** All of `rdd` in partition order: `RDD.collect`'s one job. */
  def gather[T: ClassTag](rdd: RDD[T]): Array[T] =
    rdd.sparkContext.runJob(rdd,
      (_: TaskContext, it: Iterator[T]) => it.toArray,
      0 until rdd.partitions.length).flatten

  /** The buckets (column `bi`) each partition of `rows` holds, in ONE job. */
  def bucketBits(rows: RDD[InternalRow], bi: Int): Array[java.util.BitSet] =
    rows.sparkContext.runJob(rows,
      (_: TaskContext, it: Iterator[InternalRow]) => {
        val bs = new java.util.BitSet
        it.foreach(r => bs.set(r.getInt(bi)))
        bs
      }, 0 until rows.partitions.length)

  /** The rows of `terms` in a pinned segments scan (columns in
    * `SegmentSearcher.SegCols` order). The term is matched on the scan's
    * own bytes, so other rows' blobs are never copied out.
    */
  def segRowsOf(rows: RDD[InternalRow], terms: Set[String]): RDD[SegRow] = {
    val want = terms.map(UTF8String.fromString)
    rows.flatMap { r =>
      if (!want(r.getUTF8String(0))) None
      else Some(SegRow(r.getString(0), r.getInt(1), r.getBinary(2),
        r.getBinary(3), r.getBinary(4), r.getBinary(5)))
    }
  }

  /** The (df, ttf) records of `terms` in a pinned termstats scan. */
  def statRecs(rows: RDD[InternalRow], terms: Set[String]): RDD[ColdRec] = {
    val want = terms.map(UTF8String.fromString)
    rows.flatMap[ColdRec] { r =>
      if (!want(r.getUTF8String(0))) None
      else Some(Left(r.getString(0) -> (r.getLong(1), r.getLong(2))))
    }
  }

  /** Segment-row records: each row whole when its blob bytes fit `share`,
    * else a stub.
    */
  def rowRecs(rows: RDD[SegRow], share: Long): RDD[ColdRec] =
    rows.map[ColdRec](r => Right(r.term -> Some(r).filter(rowBytes(_) <= share)))

  /** `g` over every record of `rdd`. */
  def mapped[A, B: ClassTag](rdd: RDD[A], g: A => B): RDD[B] =
    rdd.map(a => g(a))

  /** `rows` keyed by doc shard — a row whose `saltOf` is ≥ 0 to that
    * shard, any other to every shard; key 0 when unsharded — plus `seed`
    * once per key when given, grouped by ONE shuffle with no map-side
    * combine (`groupByKey`'s), and `f(shard, group, plan)` run per group
    * on the broadcast plan (shard -1 when unsharded). A shard without
    * rows forms no group unless seeded.
    */
  def byShard[V: ClassTag, P, T: ClassTag](rows: RDD[V], saltOf: V => Int,
      seed: Option[V], sharded: Boolean, numShards: Int, bPlan: Broadcast[P])(
      f: (Int, Iterator[V], P) => Iterator[T]): RDD[T] = {
    val sc = rows.sparkContext
    val keyed = rows.flatMap { r =>
      val s = saltOf(r)
      if (!sharded) Iterator.single((0, r))
      else if (s >= 0) Iterator.single((s, r))
      else Iterator.tabulate(numShards)(i => (i, r))
    }
    val nKeys = if (sharded) numShards else 1
    val all = seed.fold(keyed)(v =>
      keyed.union(sc.parallelize(Seq.tabulate(nKeys)(s => (s, v)), 1)))
    new ShuffledRDD[Int, V, List[V]](all, new HashPartitioner(
        math.max(1, math.min(nKeys, sc.defaultParallelism))))
      .setAggregator(Aggregator[Int, V, List[V]](
        v => v :: Nil, (vs, v) => v :: vs, (a, b) => a ::: b))
      .setMapSideCombine(false)
      .flatMap { case (s, vs) =>
        f(if (sharded) s else -1, vs.iterator, bPlan.value)
      }
  }
}
