package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.index.{IndexBuilder, Merge}
import graft.index.IndexBuilder.BuildConfig

/** Incremental index build via Structured Streaming — the TopicStream /
  * DaemonStream analog (`solr/solrj/.../io/stream/TopicStream.java:67`,
  * `DaemonStream.java:42`): the reference's "streaming" is checkpointed
  * incremental pull by `_version_`, which maps exactly to a file-source
  * stream + checkpointed offsets + `Trigger.AvailableNow` (SURVEY.md
  * §2.10 — no watermarks/event-time needed for index build).
  *
  * Each micro-batch becomes one immutable snapshot (a Lucene "segment
  * generation"); [[compact]] merges snapshots into a single queryable
  * index (the ConcurrentMergeScheduler moment, run on demand).
  *
  * Incoming rows must carry a pre-assigned globally-unique docId column
  * (at ingest scale that's a sequencer/ledger concern, same as Solr's
  * `_version_`).
  */
object StreamingIndex {

  /** Start the incremental build: corpus parquet files appearing under
    * `inputDir` are indexed into `indexDir/snap=<batchId>`.
    */
  def start(spark: SparkSession, inputDir: String, schema: String,
      indexDir: String, checkpointDir: String, cfg: BuildConfig,
      contentCol: String = "content", docIdCol: String = "docId",
      availableNow: Boolean = true): StreamingQuery = {
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(schema))
      .parquet(inputDir)
    val writer = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val ix = IndexBuilder.buildLogical(batch, contentCol,
            Some(docIdCol), Nil, cfg)
          IndexBuilder.writeIndex(ix, s"$indexDir/snap=$batchId",
            s"stream-$batchId", numGroups = 1)
          ix.unpersistCached()
          ix.postings.unpersist()
          ()
        }
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /** Snapshot dirs currently committed under `indexDir`. */
  def snapshots(indexDir: String): Seq[String] = {
    val d = new java.io.File(indexDir)
    if (!d.exists()) Nil
    else d.listFiles().filter(f => f.isDirectory && f.getName.startsWith("snap="))
      .map(_.getAbsolutePath).sorted.toSeq
      .filter(p => IndexBuilder.readManifest(p).isDefined)
  }

  /** RealTimeGet (`solr/core/.../handler/component/RealTimeGetComponent
    * .java` — the /get handler): return the NEWEST version of each id
    * without waiting for compaction, reading ACROSS committed streaming
    * snapshots with last-write-wins by batch order. Batch ids order
    * NUMERICALLY (snap=10 follows snap=9); tier-merged snapshots sort
    * before any live batch — a tier merge only ever contains versions
    * the later batches supersede. One pruned read of the (narrow) docs
    * stores + a per-id window, nothing corpus-sized on the driver.
    */
  /** COMMITTED snapshots are immutable, so their (narrow) docs rows may
    * cache per (path, manifest snapshot id) for a driver-local /get
    * replay — Solr's RealTimeGetComponent serves from the in-memory
    * update log the same way. The snapshot LIST is re-read on every call
    * (new batches must stay visible), and the entries of `indexDir`'s
    * snapshots that left it (merged away by [[compactTiered]]) are
    * dropped then; a snapshot whose docs store exceeds the byte gate —
    * or whose schema drifts from the first snapshot's — marks itself
    * None and the call runs the distributed window plan instead.
    */
  private val snapDocsCache = scala.collection.concurrent.TrieMap.empty[
    (String, String),
    Option[(org.apache.spark.sql.types.StructType,
      Array[org.apache.spark.sql.Row])]]
  /** Snapshot paths whose docs rows are cached (spec hook). */
  private[graft] def cachedSnapshotPaths: Set[String] =
    snapDocsCache.keySet.map(_._1).toSet
  private val rtgMaxLocalBytes: Long = 64L << 20 // compressed file bytes

  def realTimeGet(spark: SparkSession, indexDir: String,
      ids: Seq[Long]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val live = snapshots(indexDir)
      .flatMap(p => IndexBuilder.readManifest(p).map(p -> _.snapshotId))
    val snaps = live.map(_._1)
    require(snaps.nonEmpty, s"no committed snapshots under $indexDir")
    val dir = new java.io.File(indexDir).getAbsolutePath
    snapDocsCache.keys.foreach { key =>
      if (new java.io.File(key._1).getParent == dir && !live.contains(key))
        snapDocsCache.remove(key)
    }
    val SnapN = """snap=(\d+)""".r
    def seqOf(p: String): Long = new java.io.File(p).getName match {
      case SnapN(n) => n.toLong
      case _ => -1L // tiered merge of older batches
    }
    val cached = live.map { case key @ (p, _) =>
      snapDocsCache.getOrElseUpdate(key, {
        val files = Option(new java.io.File(s"$p/docs").listFiles())
          .map(_.filter(_.isFile).toSeq).getOrElse(Nil)
        val bytes =
          if (files.isEmpty) Long.MaxValue else files.map(_.length).sum
        if (bytes > rtgMaxLocalBytes) None
        else {
          val df = spark.read.parquet(s"$p/docs")
          Some((df.schema, df.collect()))
        }
      }).map(v => (seqOf(p), v._1, v._2))
    }
    if (cached.forall(_.isDefined) &&
        cached.flatten.map(_._2).distinct.size == 1) {
      // driver replay of the window law: newest snapSeq wins per id;
      // within a snapshot a docId is unique (committed segments)
      val rows = cached.flatten
      val schema = rows.head._2
        .add("snapSeq", org.apache.spark.sql.types.LongType)
      val idIdx = rows.head._2.fieldIndex("docId")
      val idSet = ids.toSet
      val best = scala.collection.mutable.LongMap
        .empty[(Long, org.apache.spark.sql.Row)]
      rows.foreach { case (seq, _, rs) =>
        rs.foreach { r =>
          val d = r.getLong(idIdx)
          if (idSet(d) &&
              (!best.contains(d) || best(d)._1 < seq))
            best(d) = (seq, r)
        }
      }
      val out = best.values.map { case (seq, r) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ seq)
      }.toSeq
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(out.asJava, schema).coalesce(1)
    } else {
      val dfs = snaps.map(p =>
        spark.read.parquet(s"$p/docs").withColumn("snapSeq", lit(seqOf(p))))
      val w = Window.partitionBy("docId").orderBy(desc("snapSeq"))
      dfs.reduce(_.unionByName(_))
        .filter(col("docId").isin(ids: _*))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .drop("rn")
    }
  }

  /** Merge all committed snapshots into one queryable index. */
  def compact(spark: SparkSession, indexDir: String, outDir: String): Unit = {
    val snaps = snapshots(indexDir)
    require(snaps.nonEmpty, s"no committed snapshots under $indexDir")
    Merge.mergeIndexes(spark, snaps, outDir, s"compact-${snaps.size}")
    ()
  }

  /** Size-tiered compaction — the TieredMergePolicy selection
    * (`lucene/core/src/java/org/apache/lucene/index/TieredMergePolicy.java:75-88`:
    * segsPerTier, maxMergeAtOnce) adapted to snapshot granularity: each
    * round merges the `maxMergeAtOnce` SMALLEST committed snapshots (by
    * docCount) into one new snapshot and deletes the inputs, until at most
    * `segsPerTier` remain. A long-running incremental index pays
    * O(N·log N) total write amplification instead of the O(N²) of
    * re-merging its whole history per compaction (round-1 `compact`).
    *
    * @return number of merge rounds executed (≤ ceil(log_maxMergeAtOnce N))
    */
  def compactTiered(spark: SparkSession, indexDir: String,
      maxMergeAtOnce: Int = 10, segsPerTier: Int = 1): Int = {
    require(maxMergeAtOnce >= 2)
    var round = 0
    var snaps = snapshots(indexDir)
    require(snaps.nonEmpty, s"no committed snapshots under $indexDir")
    // Output names must be unique ACROSS invocations: a second compaction
    // cycle that restarted tier numbering at 0 could overwrite a surviving
    // tier-rN snapshot from an earlier cycle (clobbering live data, or
    // reading-while-overwriting if that snapshot is in the pick). Start
    // past the highest existing tier index and refuse committed targets.
    val TierName = """snap=tier-r(\d+)""".r
    var tier = snaps.map(p => new java.io.File(p).getName).collect {
      case TierName(n) => n.toInt + 1
    }.foldLeft(0)(math.max)
    while (snaps.size > math.max(segsPerTier, 1)) {
      val sized = snaps
        .map(p => (p, IndexBuilder.readManifest(p).get.docCount))
        .sortBy { case (p, n) => (n, p) }
      val pick = sized.take(maxMergeAtOnce).map(_._1)
      val out = s"$indexDir/snap=tier-r$tier"
      require(IndexBuilder.readManifest(out).isEmpty,
        s"refusing to overwrite committed snapshot $out")
      Merge.mergeIndexes(spark, pick, out, s"tier-r$tier")
      pick.foreach(p =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
      round += 1
      tier += 1
      snaps = snapshots(indexDir)
    }
    round
  }
}
