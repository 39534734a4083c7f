package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.SegmentPosting
import graft.index.IndexBuilder.Manifest

/** Segment merge — the SegmentMerger/TieredMergePolicy analog
  * (`index/SegmentMerger.java:80-122`, `index/TieredMergePolicy.java:75-86`):
  * combines several committed index snapshots (e.g. incremental builds
  * over disjoint docId ranges) into one, re-encoding each (term, salt)
  * posting list from its per-snapshot pieces.
  *
  * Spark-first shape: union of segment tables → shuffle by (bucket, salt)
  * → sortWithinPartitions(term, salt) — the Catalyst-planned sort-merge —
  * → streaming per-group k-way merge + re-encode in mapPartitions.
  * Global stats (docCount, sumTotalTermFreq, df, ttf) are re-summed, so
  * post-merge BM25 scores are rank-identical to a from-scratch build of
  * the union corpus (ExactStatsCache semantics by construction).
  */
object Merge {

  final case class MergeRow(bucket: Int, term: String, salt: Int,
      docBlocks: Array[Byte], skipData: Array[Byte], posBlocks: Array[Byte],
      payBlocks: Array[Byte])

  /** Merge the segment data of `dirs` (all built with identical
    * BuildConfig; docId spaces must be disjoint) into `outDir`.
    */
  def mergeIndexes(spark: SparkSession, dirs: Seq[String], outDir: String,
      snapshotId: String): Manifest = {
    import spark.implicits._
    require(dirs.nonEmpty)
    val manifests = dirs.map(d => IndexBuilder.readManifest(d)
      .getOrElse(sys.error(s"no manifest at $d")))
    val head = manifests.head
    // saltThreshold must match too: the hot-set decision below re-salts
    // cold pieces against head.saltThreshold, so a snapshot built with a
    // LOWER threshold could carry salted pieces for terms the merged
    // convention treats as cold — leaving mixed-salt terms whose SegRows
    // silently shadow each other in the searcher's term→row map.
    require(manifests.forall(m => m.numBuckets == head.numBuckets &&
      m.numDocShards == head.numDocShards && m.tokenizer == head.tokenizer &&
      m.k1 == head.k1 && m.b == head.b &&
      m.saltThreshold == head.saltThreshold &&
      m.positions == head.positions && m.offsets == head.offsets &&
      m.payloads == head.payloads),
      "merge requires identical build configs (incl. saltThreshold, positions, offsets, payloads)")

    new java.io.File(outDir).mkdirs()

    // docs: plain union (docId spaces disjoint)
    val docs = dirs.map(d => spark.read.parquet(s"$d/docs")).reduce(_ unionByName _)
    docs.write.mode("overwrite").parquet(s"$outDir/docs")
    spark.read.parquet(s"$outDir/docs")
      .groupBy(shiftright(col("docId"), 12).as("chunk"))
      .agg(count(lit(1)).as("docCount"),
        sha2(concat_ws("\n", sort_array(collect_list(col("contentSha256")))), 256)
          .as("inputSha256"))
      .withColumn("snapshotId", lit(snapshotId))
      .write.mode("overwrite").parquet(s"$outDir/lineage/docs")

    // termstats: re-aggregate (df/ttf sum across snapshots)
    val nb = head.numBuckets
    val bucketUdf = udf((t: String) => IndexBuilder.bucketOf(t, nb))
    dirs.map(d => spark.read.parquet(s"$d/termstats"))
      .reduce(_ unionByName _)
      .groupBy("term")
      .agg(sum("df").as("df"), sum("ttf").as("ttf"))
      .withColumn("bucket", bucketUdf(col("term")))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$outDir/termstats")

    // the sorted prefix-partitioned dictionary must survive compaction
    // too, or merged indexes silently degrade multi-term expansion to
    // the stats-table scan fallback (same layout as writeIndex)
    spark.read.parquet(s"$outDir/termstats")
      .select("term", "df", "ttf")
      .withColumn("pfx", graft.index.IndexBuilder.termPfxUdf(col("term")))
      .repartitionByRange(math.max(nb, 1), col("term"))
      .sortWithinPartitions("term")
      .write.mode("overwrite").partitionBy("pfx").parquet(s"$outDir/termdict")

    // the bloom sidecar must survive compaction too: REBUILT from the
    // merged vocabulary (bitsets of different sizes cannot be unioned),
    // sized against the merged doc count like the original build
    if (manifests.exists(_.bloom))
      IndexBuilder.writeBloomSidecar(spark,
        spark.read.parquet(s"$outDir/termstats"), outDir, nb,
        manifests.map(_.docCount).sum)

    // Salting must be re-decided against the MERGED stats: a term cold in
    // every snapshot can cross the threshold once dfs sum (and a term
    // salted in one snapshot but not another would otherwise leave the
    // index with mixed salt conventions). The hot set is tiny — broadcast.
    val hotTerms = spark.read.parquet(s"$outDir/termstats")
      .filter(col("df") >= head.saltThreshold)
      .select("term").collect().map(_.getString(0)).toSet
    val bHot = spark.sparkContext.broadcast(hotTerms)
    val S = head.numDocShards

    // segments: re-salt each piece locally (split by docId mod S for hot
    // terms — a no-op for pieces already salted), then k-way merge per
    // (term, salt)
    val allRows = dirs.flatMap { d =>
      val m = IndexBuilder.readManifest(d).get
      m.completedGroups.map(g => s"$d/segments/grp=$g")
    }
    val parts = spark.sessionState.conf.numShufflePartitions
    val withPos = head.positions
    val withPay = head.payloads.isDefined
    val merged = allRows
      .map { p =>
        val raw = spark.read.option("basePath", p).parquet(p)
        // pre-positions/pre-payloads segment parquet lacks the sidecar
        // columns — substitute empty blobs
        val r1 =
          if (raw.columns.contains("posBlocks")) raw
          else raw.withColumn("posBlocks", lit(Array.empty[Byte]))
        if (r1.columns.contains("payBlocks")) r1
        else r1.withColumn("payBlocks", lit(Array.empty[Byte]))
      }
      .reduce(_ unionByName _)
      .withColumn("bucket", bucketUdf(col("term")))
      .select(col("bucket"), col("term"), col("salt"),
        col("docBlocks"), col("skipData"), col("posBlocks"), col("payBlocks"))
      .as[MergeRow]
      .flatMap { r =>
        val hot = bHot.value.contains(r.term)
        if (!hot) {
          // merged df below threshold ⇒ no snapshot can have salted it
          Seq(r)
        } else if (r.salt >= 0) {
          Seq(r) // already salted with the same docId-mod function
        } else {
          // split a cold piece into its per-salt sub-lists
          val pl = PostingsCodec.decode(r.docBlocks, r.skipData)
          val pos = if (withPos) PostingsCodec.decodePositions(r.posBlocks, pl.tfs) else null
          val pay = if (withPay) PostingsCodec.decodePayloads(r.payBlocks, pl.tfs) else null
          (0 until S).flatMap { s =>
            val keep = pl.docs.indices.filter(i => (pl.docs(i) % S).toInt == s)
            if (keep.isEmpty) None
            else {
              val (body, skip) = PostingsCodec.encode(
                keep.map(pl.docs).toArray, keep.map(pl.tfs).toArray,
                keep.map(pl.norms).toArray)
              val pb =
                if (pos == null) Array.empty[Byte]
                else PostingsCodec.encodePositions(keep.map(pos).toArray)
              val yb =
                if (pay == null) Array.empty[Byte]
                else PostingsCodec.concatPositionBlocks(
                  keep.map(i => PostingsCodec.encodeDocPayloads(pay(i))).toArray)
              Some(MergeRow(r.bucket, r.term, s, body, skip, pb, yb))
            }
          }
        }
      }
      .repartition(parts, col("bucket"), col("salt"))
      .sortWithinPartitions(col("term"), col("salt"))
      .mapPartitions(it => mergeGroups(it, withPos, withPay))

    merged.toDF()
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$outDir/segments/grp=0")

    // lineage over the merged segments
    spark.read.parquet(s"$outDir/segments/grp=0")
      .groupBy("bucket")
      .agg(count(lit(1)).as("postingLists"),
        sum("df").cast("long").as("postingCount"),
        sum(length(col("docBlocks")) + length(col("skipData")))
          .cast("long").as("bytesWritten"),
        expr("bit_xor(xxhash64(term, salt, docBlocks))").as("contentDigest"))
      .withColumn("snapshotId", lit(snapshotId))
      .write.mode("overwrite").parquet(s"$outDir/lineage/grp=0")

    carryDeletes(dirs, outDir)

    val manifest = Manifest(snapshotId,
      manifests.map(_.docCount).sum,
      manifests.map(_.sumTotalTermFreq).sum,
      head.numBuckets, head.numDocShards, head.saltThreshold,
      head.tokenizer, head.k1, head.b, Seq(0), 1, head.positions,
      // merged indexes keep offsets (docs union carries the column) but
      // drop indexSort like mkManifest's merge convention
      indexSort = None, offsets = head.offsets, payloads = head.payloads,
      bloom = manifests.exists(_.bloom))
    IndexBuilder.commitManifest(outDir, manifest)
    manifest
  }

  /** Carry every input's tombstone batches into `outDir/deletes/`: the
    * merge is a plain docs union over disjoint docId spaces, so a
    * tombstoned docId names the same doc after it, and deletes stay
    * pending until `Deletes.expunge` (Lucene keeps deleted docs in merged
    * stats the same way until forceMergeDeletes). Batches are write-once
    * directories with unique names, so this is a driver-side file copy
    * (no Spark job) that replaces whatever `outDir/deletes` held before,
    * like every other artifact the merge overwrites.
    */
  private def carryDeletes(dirs: Seq[String], outDir: String): Unit = {
    val out = new java.io.File(s"$outDir/deletes")
    org.apache.commons.io.FileUtils.deleteQuietly(out)
    for {
      d <- dirs
      batches <- Option(new java.io.File(s"$d/deletes").listFiles()).toSeq
      b <- batches if b.isDirectory
      target = new java.io.File(out, b.getName)
      if !target.exists()
    } org.apache.commons.io.FileUtils.copyDirectory(b, target)
  }

  /** Stream consecutive (term, salt) groups; merge each group's decoded
    * lists in docId order and re-encode (DocIDMerger analog — global
    * docIds make the remap a no-op, SURVEY.md §2.4).
    */
  private def mergeGroups(it: Iterator[MergeRow],
      withPos: Boolean, withPay: Boolean): Iterator[SegmentPosting] =
    new Iterator[SegmentPosting] {
      private val buf = it.buffered
      def hasNext: Boolean = buf.hasNext
      def next(): SegmentPosting = {
        val head = buf.head
        val pieces = scala.collection.mutable.ArrayBuffer.empty[PostingsCodec.PostingList]
        val piecePays = scala.collection.mutable.ArrayBuffer.empty[Array[Array[Float]]]
        while (buf.hasNext && buf.head.term == head.term && buf.head.salt == head.salt) {
          val r = buf.next()
          val pl = PostingsCodec.decode(r.docBlocks, r.skipData)
          pieces +=
            (if (withPos)
              pl.copy(positions = PostingsCodec.decodePositions(r.posBlocks, pl.tfs))
            else pl)
          if (withPay) piecePays += PostingsCodec.decodePayloads(r.payBlocks, pl.tfs)
        }
        val total = pieces.map(_.docs.length).sum
        val docs = new Array[Long](total)
        val tfs = new Array[Int](total)
        val norms = new Array[Byte](total)
        val poss = if (withPos) new Array[Array[Int]](total) else null
        val pays = if (withPay) new Array[Array[Float]](total) else null
        // k-way merge by docId (pieces are internally sorted; docId spaces
        // of snapshots are usually disjoint ranges → near-concatenation)
        val idx = Array.fill(pieces.length)(0)
        var out = 0
        var maxTf = 0
        while (out < total) {
          var best = -1
          var bestDoc = Long.MaxValue
          var p = 0
          while (p < pieces.length) {
            if (idx(p) < pieces(p).docs.length && pieces(p).docs(idx(p)) < bestDoc) {
              bestDoc = pieces(p).docs(idx(p)); best = p
            }
            p += 1
          }
          docs(out) = pieces(best).docs(idx(best))
          tfs(out) = pieces(best).tfs(idx(best))
          norms(out) = pieces(best).norms(idx(best))
          if (poss != null) poss(out) = pieces(best).positions(idx(best))
          if (pays != null) pays(out) = piecePays(best)(idx(best))
          if (tfs(out) > maxTf) maxTf = tfs(out)
          idx(best) += 1
          out += 1
        }
        val (body, skip) = PostingsCodec.encode(docs, tfs, norms)
        val pb = if (poss == null) Array.empty[Byte]
          else PostingsCodec.encodePositions(poss)
        val yb = if (pays == null) Array.empty[Byte]
          else PostingsCodec.concatPositionBlocks(
            pays.map(PostingsCodec.encodeDocPayloads))
        SegmentPosting(head.bucket, head.term, head.salt, total, maxTf,
          body, skip, pb, yb)
      }
    }
}
