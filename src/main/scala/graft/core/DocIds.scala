package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic, parallelism-independent global docIDs.
  *
  * The reference's docIDs are dense ints, per-segment local, globalized by
  * `docBase` offsets (`search/IndexSearcher.java:716-718`). We need the same
  * determinism because BM25 ties break by docID asc
  * (`search/HitQueue.java:76-81`). docId here = 0-based global rank under a
  * total order on the given sort columns.
  *
  * Scale note: a naive `row_number().over(Window.orderBy(...))` collapses
  * to ONE partition — unusable at 10^12 rows. This implementation is the
  * distributed equivalent: range-repartition on the sort keys (the same
  * shuffle Catalyst plans for a global sort), count rows per range
  * partition (tiny driver-side cumulative sum — the docBase arithmetic),
  * then per-partition row_number plus the partition's broadcast base.
  */
object DocIds {

  /** `df` with a `docIdCol`, the total row count (free: the per-partition
    * counting pass already computes it), and the range-partitioned input
    * both passes read, pinned ([[CachePins]]) so the sampled range
    * boundaries are identical between them; the caller releases it once
    * the numbered frame is no longer read.
    */
  def withDocIdsCounted(df: DataFrame, sortCols: Seq[String],
      docIdCol: String = "docId",
      numPartitions: Int = 0): (DataFrame, Long, DataFrame) = {
    val spark = df.sparkSession
    val cols: Seq[Column] = sortCols.map(col)
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val ranged = CachePins.acquire(df
      .repartitionByRange(parts, cols: _*)
      .withColumn("_pid", spark_partition_id()))
    // per-partition row counts straight off the cached partitions: ONE
    // narrow job (mapPartitionsWithIndex), versus the groupBy form's
    // hash exchange + two AQE stage-jobs — pure fixed cost on the
    // build's critical path (guide §2.4)
    val counts = ranged.queryExecution.toRdd
      .mapPartitionsWithIndex { (i, it) =>
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        Iterator((i, n))
      }
      .collect().filter(_._2 > 0).sortBy(_._1)
    val bases = counts.map(_._2).scanLeft(0L)(_ + _)
    import spark.implicits._
    val baseDf = counts.map(_._1).zip(bases).toSeq.toDF("_pid", "_base")
    val w = Window.partitionBy("_pid").orderBy(cols: _*)
    val out = ranged
      .withColumn("_local", row_number().over(w).cast("long"))
      .join(broadcast(baseDf), Seq("_pid"))
      .withColumn(docIdCol, col("_base") + col("_local") - 1)
      .drop("_pid", "_base", "_local")
    (out, counts.map(_._2).sum, ranged)
  }
}
