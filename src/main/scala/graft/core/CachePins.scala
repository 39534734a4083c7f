package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The DataFrames holding each cached plan. Spark's CacheManager keeps ONE
  * entry per plan, matched by `sameResult` (canonicalized analyzed plans),
  * so handles over the same input share it: only the first pin persists,
  * only the last release unpersists. A handle releases once; a second
  * release of it is a no-op.
  */
object CachePins {

  private final class Entry(val cacheManager: AnyRef, val plan: LogicalPlan) {
    val holders = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[DataFrame, java.lang.Boolean])
  }
  private val entries = scala.collection.mutable.ArrayBuffer.empty[Entry]

  def acquire(df: DataFrame): DataFrame = entries.synchronized {
    val cm = df.sparkSession.sharedState.cacheManager
    val plan = df.queryExecution.analyzed
    val e = entries.find(e => (e.cacheManager eq cm) && e.plan.sameResult(plan))
      .getOrElse {
        df.persist()
        val n = new Entry(cm, plan)
        entries += n
        n
      }
    e.holders.add(df)
    df
  }

  def release(df: DataFrame): Unit = entries.synchronized {
    entries.find(_.holders.contains(df)).foreach { e =>
      e.holders.remove(df)
      if (e.holders.isEmpty) { entries -= e; df.unpersist() }
    }
  }
}
