package perfbench

import graft.index.{IndexBuilder, PostingsCodec}
import graft.search.SegmentSearcher
import Trace.Span

/** Per-layer metrics of a traced run, from its spans and Spark jobs. Every
  * workload reports every metric; a layer the workload never calls reads 0.
  */
object Layers {
  private val MB = 1e6
  /** `writeIndex` jobs that write the docs table, lineage, term stats and
    * dictionary beside the segments.
    */
  private val SideJobs = Seq("graft:docs.write", "graft:docs.lineage", "graft:termstats.write",
    "graft:termdict.write", "graft:lineage grp=", "graft:bloom.write")

  def report(ctx: Ctx, w0: Long, w1: Long, ops: Int, measuredBuilds: Seq[Span],
      codecIndex: String, content: Array[String], batchBytes: Long = 0L): Unit = {
    val t = ctx.trace
    if (!t.enabled) return
    t.finish()
    def put(n: String, v: Double, u: String): Unit = ctx.layer(n, if (v.isNaN) 0.0 else v, u)
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def inWindow(s: Span) = s.startMs >= w0 && s.startMs <= w1
    // spans of the timed window where it has any (refresh), else those of
    // set-up (the one open of a search workload)
    def windowOr(name: String) = {
      val all = t.named(name)
      val w = all.filter(inWindow)
      if (w.nonEmpty) w else all
    }

    // Spark, per operation of the timed window (a build, a query or a cycle)
    val wj = t.jobsBetween(w0, w1)
    put("spark.jobs", wj.size.toDouble / ops, "jobs/op")
    put("spark.tasks", wj.map(_.tasks).sum.toDouble / ops, "tasks/op")
    put("spark.task_s", wj.map(_.runMs).sum / 1e3 / ops, "s/op")
    put("spark.gc_s", wj.map(_.gcMs).sum / 1e3 / ops, "s/op")
    put("spark.shuffle_write_mb", wj.map(_.shuffleWrite).sum / MB / ops, "MB/op")
    put("spark.spill_mb", wj.map(_.spill).sum / MB / ops, "MB/op")

    // build layers, averaged over the run's measured builds
    val builds = measuredBuilds.map { b =>
      val kids = t.children(b)
      val logical = t.jobsUnder(kids.find(_.name == "buildLogical").get)
      val write = kids.find(_.name == "writeIndex").get
      val wjobs = t.jobsUnder(write)
      val docids = logical.filter(_.desc.isEmpty)
      val stats = logical.filter(_.desc == "graft:stats.sumTtf")
      val seg = wjobs.filter(_.desc.startsWith("graft:segments grp="))
      val side = wjobs.filter(j => SideJobs.exists(j.desc.startsWith))
      Map(
        "index.docids.s" -> Trace.unionMs(docids) / 1e3,
        "index.docids.jobs" -> docids.size.toDouble,
        "index.tokenize_stats.s" -> Trace.unionMs(stats) / 1e3,
        "index.tokenize_stats.task_s" -> stats.map(_.runMs).sum / 1e3,
        "index.segments.s" -> Trace.unionMs(seg) / 1e3,
        "index.segments.task_s" -> seg.map(_.runMs).sum / 1e3,
        "index.segments.shuffle_write_mb" -> seg.map(_.shuffleWrite).sum / MB,
        "index.segments.spill_mb" -> seg.map(_.spill).sum / MB,
        "index.segments.output_mb" -> seg.map(_.output).sum / MB,
        "index.side.s" -> Trace.unionMs(side) / 1e3,
        "index.side.task_s" -> side.map(_.runMs).sum / 1e3,
        "index.side.output_mb" -> side.map(_.output).sum / MB,
        "index.commit.s" -> (write.ms - Trace.unionMs(wjobs)) / 1e3)
    }
    Seq("index.docids.s", "index.docids.jobs", "index.tokenize_stats.s",
      "index.tokenize_stats.task_s", "index.segments.s", "index.segments.task_s",
      "index.segments.shuffle_write_mb", "index.segments.spill_mb", "index.segments.output_mb",
      "index.side.s", "index.side.task_s", "index.side.output_mb", "index.commit.s").foreach { n =>
      put(n, mean(builds.map(_(n))),
        if (n.endsWith("jobs")) "count" else if (n.endsWith("_mb")) "MB" else "s")
    }

    // single-thread throughput of the tokenizer and the postings codec
    val tok = IndexBuilder.tokenizerFn("simple")
    val contentMb = content.iterator.map(_.getBytes("UTF-8").length.toLong).sum / MB
    put("core.tokenize.mb_per_s", contentMb / timed(content.foreach(tok)), "MB/s")
    val ix = SegmentSearcher.load(codecIndex)
    val blobs = ctx.spark.read.option("basePath", s"$codecIndex/segments")
      .parquet(ix.segmentPaths: _*).select("docBlocks", "skipData").collect()
      .map(r => (r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1)))
    val blobMb = blobs.iterator.map(b => b._1.length + b._2.length.toLong).sum / MB
    val lists = blobs.map { case (d, s) => PostingsCodec.decode(d, s) }
    put("index.codec.decode_mb_per_s",
      blobMb / timed(blobs.foreach { case (d, s) => PostingsCodec.decode(d, s) }), "MB/s")
    put("index.codec.encode_mb_per_s",
      blobMb / timed(lists.foreach(l => PostingsCodec.encode(l.docs, l.tfs, l.norms))), "MB/s")

    // search layers, over the queries of the timed window
    val qs = t.named("query").filter(inWindow)
    val nq = math.max(qs.size, 1).toDouble
    val qjobs = qs.map(t.jobsUnder)
    def kidMs(q: Span, names: String*) =
      t.children(q).filter(k => names.contains(k.name)).map(_.ms).sum
    put("search.rewrite.us", mean(qs.map(kidMs(_, "rewrite", "expand") * 1e3)), "us")
    put("search.stats.cold_ms", mean(windowOr("stats.cold").map(_.ms)), "ms")
    put("search.stats.warm_us", mean(t.named("stats.warm").filter(inWindow).map(_.ms * 1e3)), "us")
    put("search.jobs_per_query", qjobs.map(_.size).sum / nq, "jobs")
    put("search.job_ms_per_query", qjobs.map(Trace.unionMs).sum / nq, "ms")
    put("search.self_ms_per_query",
      qs.zip(qjobs).map { case (q, js) => q.ms - Trace.unionMs(js) }.sum / nq, "ms")
    put("search.task_ms_per_query", qjobs.map(_.map(_.runMs).sum).sum / nq, "ms")
    put("search.shuffle_kb_per_query", qjobs.map(_.map(_.shuffleWrite).sum).sum / 1e3 / nq, "kB")
    Queries.Shapes.foreach { sh =>
      put(s"search.shape.$sh.p50_ms",
        Util.median(qs.filter(q => ctx.reqShape.get(q.req).contains(sh)).map(_.ms)), "ms")
    }

    // refresh layers, averaged over the timed cycles
    def spanMean(name: String) = mean(t.named(name).filter(inWindow).map(_.ms / 1e3))
    val merges = t.named("merge").filter(inWindow)
    val mergeOut = merges.map(m => t.jobsUnder(m).map(_.output).sum.toDouble)
    put("streaming.batch.s", spanMean("streaming.batch"), "s")
    put("index.deletes.s", spanMean("deletes"), "s")
    put("streaming.rtg.ms", spanMean("rtg") * 1e3, "ms")
    put("index.merge.s", spanMean("merge"), "s")
    put("index.merge.write_mb", mean(mergeOut) / MB, "MB")
    put("index.merge.write_amp", if (batchBytes > 0) mergeOut.sum / batchBytes else 0.0, "ratio")
    put("search.open.s", mean(windowOr("open").map(_.ms / 1e3)), "s")
  }

  /** Seconds per pass of `f`, after one warm-up pass, over >= 0.5 s. */
  private def timed(f: => Unit): Double = {
    f
    var n = 0
    val t0 = System.nanoTime()
    while (n == 0 || System.nanoTime() - t0 < 500000000L) { f; n += 1 }
    (System.nanoTime() - t0) / 1e9 / n
  }
}
