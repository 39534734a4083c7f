package perfbench

import java.io.File
import scala.collection.mutable
import graft.core.Hit
import graft.index.{Deletes, IndexBuilder}
import graft.streaming.StreamingIndex

/** `refresh`: writes beside reads. From a base index, each cycle
  *
  *  1. lands a batch of new files as one Parquet file, plus a new
  *     revision of each probe path, and indexes it with
  *     `StreamingIndex.start(availableNow)`;
  *  2. tombstones the probe revisions the batch replaces (`Deletes.deleteIds`);
  *  3. reads the batch back with `StreamingIndex.realTimeGet`;
  *  4. merges the snapshots with `StreamingIndex.compactTiered`;
  *  5. opens a fresh Searcher that answers a sample of the stream, cold,
  *     and one probe query per probe path.
  *
  * Set-up builds the base index, untimed: it is the JVM's first build and
  * pays its warm-up, so the build rate `refresh` reports is that of its
  * timed builds, the streaming batches. Set-up then runs one untimed,
  * unchecked warm-up cycle that answers a single round of the stream, so
  * that the timed cycles find streaming, deletes, merge and the cold
  * query path compiled: run cold, the first cycle's queries got a third
  * faster from first to last as the JIT caught up, and how fast it caught
  * up depended on the host's load.
  *
  * `Merge.mergeIndexes` drops the inputs' `deletes/`, so every probe query
  * after a compaction returns tombstoned revisions. Those queries count
  * as failed, a fixed share of every cycle, since probe rows and probe
  * queries do not depend on the seed; nothing else may fail.
  */
object Refresh {
  val BaseDocs = 2000
  val BatchDocs = 300
  val Probes = 4
  /** Stream queries per timed cycle: four pattern rounds, so that p75
    * leaves ten samples beyond it even when only one cycle fits a run.
    */
  val StreamPerCycle = 40
  val Schema = "repo STRING, path STRING, commit STRING, lang STRING, content STRING, docId BIGINT"

  final case class Row(repo: String, path: String, commit: String, lang: String,
      content: String, docId: Long)

  /** What one cycle left to check after the timed window. */
  final class Cycle(val n: Int, val ids: Range, val batch: Array[Doc], val tombstoned: Set[Long],
      val newestProbe: Array[Long], val docsAfter: Int) {
    var snapDocs = -1L
    var mergedDocs = -1L
    var rtg: Array[(Long, String)] = Array.empty
    val res = new Results
    val probeHits = mutable.ArrayBuffer.empty[(Int, Array[Hit])]
    var freshS = 0.0
    var batchS = 0.0
    val lat = mutable.ArrayBuffer.empty[Double]
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val gen = new Gen(ctx.seed)
    val base = gen.corpus(BaseDocs, Workloads.MeanTokens, probes = Probes)
    val cfg = Util.config(BaseDocs)
    val idx = ctx.dir("idx")
    val inDir = ctx.dir("in")
    new File(inDir).mkdirs()
    Util.writeTable(spark, base.docs.toSeq, ctx.dir("base-input"), 8)
    Util.buildIndex(ctx, ctx.dir("base-input"), s"$idx/snap=base", "base", cfg, ctx.newReq())
    val queries = new Queries(base, ctx.seed, cfg.saltThreshold)
    val stream = queries.stream(100000)
    var qi = 0

    val docs = mutable.ArrayBuffer.from(base.docs)
    val toks = mutable.ArrayBuffer.from(base.toks)
    val lens = mutable.ArrayBuffer.from(base.lens)
    val tombstoned = mutable.HashSet.empty[Long]
    var probeIds: Array[Long] = Array.tabulate(Probes)(_.toLong)
    require((0 until Probes).forall(p => base.docs(p) == Gen.probeDoc(p, 0)))

    def cycle(n: Int, streamQueries: Int): Cycle = {
      val (rows, rowToks) = gen.rows(BatchDocs, Workloads.MeanTokens, stream = n, recommits = false)
      val batch = rows ++ (0 until Probes).map(p => Gen.probeDoc(p, n))
      val first = docs.size
      val ids = first until first + batch.length
      val replaced = probeIds
      val newest = Array.tabulate(Probes)(p => (first + rows.length + p).toLong)
      docs ++= batch
      toks ++= rowToks ++ Array.fill(Probes)(Array.empty[Int])
      lens ++= rowToks.map(_.length) ++ Array.fill(Probes)(2)
      tombstoned ++= replaced
      probeIds = newest
      val cy = new Cycle(n, ids, batch, tombstoned.toSet, newest, docs.size)

      // land the batch: write aside, then move the one Parquet file in
      import spark.implicits._
      val staging = ctx.dir(s"staging-$n")
      spark.sparkContext.parallelize(batch.indices.map { i =>
        val d = batch(i); Row(d.repo, d.path, d.commit, d.lang, d.content, (first + i).toLong)
      }, 1).toDF().write.parquet(staging)
      val part = new File(staging).listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, new File(inDir, f"batch-$n%04d.parquet").toPath)
      val tLand = System.nanoTime()

      val t = ctx.trace
      t.span("cycle", ctx.newReq()) {
        val before = StreamingIndex.snapshots(idx).toSet
        val tb = System.nanoTime()
        t.span("streaming.batch") {
          val q = StreamingIndex.start(spark, inDir, Schema, idx, ctx.dir("chk"), cfg)
          q.awaitTermination()
          q.exception.foreach(e => throw e)
        }
        cy.batchS = Util.nowS(tb)
        val snap = (StreamingIndex.snapshots(idx).toSet -- before).head
        cy.snapDocs = IndexBuilder.readManifest(snap).get.docCount
        val old = before.head
        t.span("deletes") { Deletes.deleteIds(spark, old, replaced.toSeq) }
        cy.rtg = t.span("rtg") {
          StreamingIndex.realTimeGet(spark, idx, ids.map(_.toLong)).collect()
            .map(r => r.getAs[Long]("docId") -> r.getAs[String]("commit"))
        }
        t.span("merge") { StreamingIndex.compactTiered(spark, idx, maxMergeAtOnce = 10, segsPerTier = 1) }
        val merged = StreamingIndex.snapshots(idx).head
        cy.mergedDocs = IndexBuilder.readManifest(merged).get.docCount
        val (c, firstMs) = Workloads.open(ctx, merged, distributed = false, base.vocab,
          stream(qi), cy.res)
        cy.freshS = Util.nowS(tLand)
        cy.lat += firstMs
        qi += 1
        (1 until streamQueries).foreach { _ =>
          val q = stream(qi)
          val t0 = System.nanoTime()
          cy.res.add(q, c.run(q))
          cy.lat += (System.nanoTime() - t0) / 1e6
          qi += 1
        }
        (0 until Probes).foreach(p => cy.probeHits += p -> c.run(ProbeS(p)))
        c.s.close()
      }
      Util.rm(staging)
      cy
    }

    // the warm-up cycle: like the search workloads' warm-up queries it is
    // neither timed nor counted
    cycle(1, Queries.Pattern.length)
    ctx.setupDone()
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val cycles = mutable.ArrayBuffer.empty[Cycle]
    while (cycles.isEmpty || Util.nowS(t0) < ctx.seconds) cycles += cycle(cycles.size + 2, StreamPerCycle)
    val w1 = System.currentTimeMillis()
    val heap = Util.liveHeapMb()

    cycles.foreach(cy => check(ctx, cy, docs, toks, lens, base.vocab))

    val lat = cycles.flatMap(_.lat).toSeq
    ctx.metric("build_docs_per_s", Util.median(cycles.map(c => c.batch.length / c.batchS).toSeq), "docs/s")
    ctx.metric("index_bytes_per_input_byte",
      Util.dirBytes(StreamingIndex.snapshots(idx).head).toDouble /
        docs.iterator.map(_.content.getBytes("UTF-8").length.toLong).sum, "ratio")
    Workloads.reportQueries(ctx, lat, lat.sum / 1000, tailPct = 75)
    ctx.metric("refresh_p50_s", Util.median(cycles.map(_.freshS).toSeq), "s")
    ctx.metric("live_heap_mb", heap, "MB")
    Layers.report(ctx, w0, w1, ops = cycles.size, measuredBuilds = Nil,
      codecIndex = StreamingIndex.snapshots(idx).head, content = base.docs.map(_.content),
      batchBytes = cycles.map(_.batch.iterator.map(_.content.getBytes("UTF-8").length.toLong).sum).sum)
  }

  private def check(ctx: Ctx, cy: Cycle, docs: collection.Seq[Doc], toks: collection.Seq[Array[Int]],
      lens: collection.Seq[Int], vocab: Array[String]): Unit = {
    ctx.op(if (cy.snapDocs == cy.batch.length) null
      else s"snapshot of batch ${cy.n} holds ${cy.snapDocs} docs, batch ${cy.batch.length}")
    ctx.op(null) // the delete: what it should do is checked by the probes
    val want = cy.ids.map(i => i.toLong -> docs(i).commit).toMap
    ctx.op(if (cy.rtg.toMap == want && cy.rtg.length == want.size) null
      else s"realTimeGet of batch ${cy.n}: ${cy.rtg.length} rows, wrong or missing versions")
    // every doc indexed so far, or those less the tombstoned ones if the
    // merge expunges them
    ctx.op(if (cy.mergedDocs == cy.docsAfter || cy.mergedDocs == cy.docsAfter - cy.tombstoned.size) null
      else s"compacted index holds ${cy.mergedDocs} docs, ${cy.docsAfter} were indexed, " +
        s"${cy.tombstoned.size} of them tombstoned")

    // scores: the merged index may count tombstoned rows in its stats
    // (Lucene's law until they are expunged) or not; both are right
    val corpus = new Corpus(docs.take(cy.docsAfter).toArray, toks.take(cy.docsAfter).toArray,
      lens.take(cy.docsAfter).toArray, vocab)
    val all = new Oracle(corpus)
    lazy val live = new Oracle(corpus, cy.docsAfter - cy.tombstoned.size,
      all.sumTtf - 2L * cy.tombstoned.size)
    cy.res.record(ctx) { (q, hits) =>
      val a = Oracle.check(all, q, hits, -1L)
      if (a == null || Oracle.check(live, q, hits, -1L) == null) null else a
    }
    cy.probeHits.foreach { case (p, hits) =>
      val back = hits.map(_.docId).filter(cy.tombstoned)
      if (back.nonEmpty)
        ctx.op(s"probe $p returned tombstoned docIds ${back.mkString(",")}", known = true)
      else ctx.op(if (hits.exists(_.docId == cy.newestProbe(p))) null
        else s"probe $p: newest revision ${cy.newestProbe(p)} not found")
    }
  }
}
