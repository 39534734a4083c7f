package graft.index

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.index.IndexBuilder.Manifest

/** Document deletes — Lucene's tombstone model re-expressed
  * (`index/IndexWriter.java deleteDocuments(Term)`,
  * `index/LiveDocsFormat` per-segment liveDocs, and
  * `IndexWriter.forceMergeDeletes` for the purge):
  *
  *  - A delete NEVER rewrites posting data. It appends a write-once
  *    tombstone batch under `$dir/deletes/` (replication- and
  *    resume-friendly, same convention as every other artifact here).
  *  - Search masks tombstoned docs at collection — the reference's
  *    `scorer.score(leafCollector, liveDocs)` — while collection stats
  *    (df, ttf, docCount, norms) keep counting the deleted docs until a
  *    merge expunges them. That is Lucene's documented law: deleted docs
  *    still influence scores until `forceMergeDeletes`.
  *  - `expunge` rewrites the segments WITHOUT re-tokenizing: decode each
  *    (term, salt) list, drop tombstoned docs, re-encode, recompute
  *    stats from the survivors — after which scores are identical to a
  *    from-scratch build of the surviving corpus (DeleteSpec asserts
  *    exactly that).
  *
  * Scale note: tombstones load as one sorted Long array on the driver
  * and ship inside the Plan (the per-query broadcast). That is the right
  * shape while deletes ≪ corpus — the operational norm; a corpus with
  * corpus-sized tombstones needs `expunge`, which is the cure anyway.
  */
object Deletes {

  /** Append a tombstone batch. Idempotent across batches (load dedups). */
  def deleteIds(spark: SparkSession, dir: String, ids: Seq[Long]): Unit = {
    import spark.implicits._
    require(ids.nonEmpty, "empty delete batch")
    val batch = s"$dir/deletes/del-${java.util.UUID.randomUUID().toString.take(12)}"
    ids.toDF("docId").coalesce(1).write.mode("errorifexists").parquet(batch)
  }

  /** Delete-by-term (`IndexWriter.deleteDocuments(Term)`): resolve the
    * term's posting list — a bucket-pruned segment read, not a corpus
    * scan — and tombstone every matching doc. Returns the count.
    */
  def deleteByTerm(spark: SparkSession, dir: String, term: String): Long = {
    val m = IndexBuilder.readManifest(dir).getOrElse(sys.error(s"no manifest at $dir"))
    val bucket = IndexBuilder.bucketOf(term, m.numBuckets)
    val paths = m.completedGroups.map(g => s"$dir/segments/grp=$g")
    val rows = paths.map(p => spark.read.option("basePath", p).parquet(p))
      .reduce(_ unionByName _)
      .filter(col("bucket") === bucket && col("term") === term)
      .select("docBlocks", "skipData").collect()
    val ids = rows.flatMap(r => PostingsCodec.decode(
      r.getAs[Array[Byte]]("docBlocks"), r.getAs[Array[Byte]]("skipData")).docs)
    if (ids.nonEmpty) deleteIds(spark, dir, ids.toSeq.distinct)
    ids.length.toLong
  }

  /** All tombstoned docIds of an index, sorted distinct; empty when the
    * index has no deletes dir. One Spark job however many batches: one
    * read of every batch with the schema `deleteIds` writes (no
    * per-batch schema-inference job), deduplicated on the driver, where
    * the array lives anyway.
    */
  def load(spark: SparkSession, dir: String): Array[Long] = {
    val f = new java.io.File(s"$dir/deletes")
    if (!f.isDirectory) return Array.empty
    val batches = f.listFiles().filter(_.isDirectory).map(_.getPath)
    if (batches.isEmpty) return Array.empty
    spark.read.schema("docId LONG").parquet(batches.toSeq: _*)
      .collect().map(_.getLong(0)).distinct.sorted
  }

  /** Binary-search membership over the sorted tombstone array. */
  @inline def contains(deletes: Array[Long], docId: Long): Boolean =
    deletes.length > 0 && java.util.Arrays.binarySearch(deletes, docId) >= 0

  /** Purge tombstones (`IndexWriter.forceMergeDeletes`): rewrite segments
    * minus the deleted docs — decode, filter, re-encode, NO re-tokenize —
    * recompute stats/termdict/lineage from the survivors, filter the row
    * store, and commit a tombstone-free snapshot at `outDir`. After this,
    * scores equal a from-scratch build of the surviving corpus.
    */
  def expunge(spark: SparkSession, dir: String, outDir: String,
      snapshotId: String): Manifest = {
    import spark.implicits._
    val m = IndexBuilder.readManifest(dir).getOrElse(sys.error(s"no manifest at $dir"))
    val del = load(spark, dir)
    require(del.nonEmpty, s"no deletes to expunge at $dir")
    val bDel = spark.sparkContext.broadcast(del)
    new java.io.File(outDir).mkdirs()

    val withPos = m.positions
    val withPay = m.payloads.isDefined
    val paths = m.completedGroups.map(g => s"$dir/segments/grp=$g")
    val survived = paths
      .map { p =>
        val raw = spark.read.option("basePath", p).parquet(p)
        val r1 =
          if (raw.columns.contains("posBlocks")) raw
          else raw.withColumn("posBlocks", lit(Array.empty[Byte]))
        if (r1.columns.contains("payBlocks")) r1
        else r1.withColumn("payBlocks", lit(Array.empty[Byte]))
      }
      .reduce(_ unionByName _)
      .select(col("bucket"), col("term"), col("salt"),
        col("docBlocks"), col("skipData"), col("posBlocks"), col("payBlocks"))
      .as[Merge.MergeRow]
      .flatMap { r =>
        val d = bDel.value
        val pl = PostingsCodec.decode(r.docBlocks, r.skipData)
        val keep = pl.docs.indices.filter(i => !contains(d, pl.docs(i)))
        if (keep.isEmpty) None
        else if (keep.length == pl.docs.length) {
          // untouched list: blobs pass through verbatim (the common case)
          Some((r.bucket, r.term, r.salt, pl.docs.length, pl.tfs.max,
            r.docBlocks, r.skipData, r.posBlocks, r.payBlocks,
            pl.tfs.map(_.toLong).sum))
        } else {
          val docs = keep.map(pl.docs).toArray
          val tfs = keep.map(pl.tfs).toArray
          val (body, skip) = PostingsCodec.encode(docs, tfs,
            keep.map(pl.norms).toArray)
          val pb =
            if (!withPos || r.posBlocks.isEmpty) Array.empty[Byte]
            else {
              val pos = PostingsCodec.decodePositions(r.posBlocks, pl.tfs)
              PostingsCodec.encodePositions(keep.map(pos).toArray)
            }
          val yb =
            if (!withPay || r.payBlocks.isEmpty) Array.empty[Byte]
            else {
              val pay = PostingsCodec.decodePayloads(r.payBlocks, pl.tfs)
              PostingsCodec.concatPositionBlocks(
                keep.map(i => PostingsCodec.encodeDocPayloads(pay(i))).toArray)
            }
          Some((r.bucket, r.term, r.salt, docs.length, tfs.max,
            body, skip, pb, yb, tfs.map(_.toLong).sum))
        }
      }
      .toDF("bucket", "term", "salt", "df", "maxTf",
        "docBlocks", "skipData", "posBlocks", "payBlocks", "ttfPart")
      .persist()

    survived.drop("ttfPart")
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$outDir/segments/grp=0")

    // stats from the SURVIVORS (this is what moves scores to the
    // fresh-build law), same layout as writeIndex
    val stats = survived.groupBy("term")
      .agg(sum(col("df")).cast("long").as("df"),
        sum(col("ttfPart")).cast("long").as("ttf"))
      .withColumn("bucket", udf((t: String) =>
        IndexBuilder.bucketOf(t, m.numBuckets)).apply(col("term")))
    stats.write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$outDir/termstats")
    spark.read.parquet(s"$outDir/termstats")
      .select("term", "df", "ttf")
      .withColumn("pfx", graft.index.IndexBuilder.termPfxUdf(col("term")))
      .repartitionByRange(math.max(m.numBuckets, 1), col("term"))
      .sortWithinPartitions("term")
      .write.mode("overwrite").partitionBy("pfx").parquet(s"$outDir/termdict")

    // row store minus tombstones + refreshed lineage
    val delCol = udf((id: Long) => !contains(bDel.value, id))
    spark.read.parquet(s"$dir/docs").filter(delCol(col("docId")))
      .write.mode("overwrite").parquet(s"$outDir/docs")
    spark.read.parquet(s"$outDir/docs")
      .groupBy(shiftright(col("docId"), 12).as("chunk"))
      .agg(count(lit(1)).as("docCount"),
        sha2(concat_ws("\n", sort_array(collect_list(col("contentSha256")))), 256)
          .as("inputSha256"))
      .withColumn("snapshotId", lit(snapshotId))
      .write.mode("overwrite").parquet(s"$outDir/lineage/docs")
    spark.read.parquet(s"$outDir/segments/grp=0")
      .groupBy("bucket")
      .agg(count(lit(1)).as("postingLists"),
        sum("df").cast("long").as("postingCount"),
        sum(length(col("docBlocks")) + length(col("skipData")))
          .cast("long").as("bytesWritten"),
        expr("bit_xor(xxhash64(term, salt, docBlocks))").as("contentDigest"))
      .withColumn("snapshotId", lit(snapshotId))
      .write.mode("overwrite").parquet(s"$outDir/lineage/grp=0")

    val (newCount, newSumTtf) = {
      val r = spark.read.parquet(s"$outDir/docs").agg(count(lit(1))).collect()(0)
      val t = spark.read.parquet(s"$outDir/termstats")
        .agg(coalesce(sum("ttf"), lit(0L))).collect()(0)
      (r.getLong(0), t.getLong(0))
    }
    survived.unpersist()
    val manifest = m.copy(snapshotId = snapshotId, docCount = newCount,
      sumTotalTermFreq = newSumTtf, completedGroups = Seq(0), numGroups = 1)
    IndexBuilder.commitManifest(outDir, manifest)
    manifest
  }
}
