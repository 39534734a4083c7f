package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory spans around the program's public calls, plus a
  * SparkListener that attaches every Spark job (with its stages' task
  * metrics) to the span that started it. With tracing off, [[span]] only
  * runs its body and no listener is registered.
  */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      val j = Job(e.jobId, e.time, -1L,
        p.flatMap(x => Option(x.getProperty("spark.job.description"))).getOrElse(""),
        p.flatMap(x => Option(x.getProperty(SpanProp))).map(_.toInt).getOrElse(-1))
      jobs += j
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.diskBytesSpilled + m.memoryBytesSpilled
        j.output += m.outputMetrics.bytesWritten
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Runs `f` inside a span named `name`. `req` groups the spans of one
    * request (one query, build or refresh cycle).
    */
  def span[A](name: String, req: Long = -1L)(f: => A): A = {
    if (!enabled) return f
    val parent = open.headOption
    val s = Span(spans.size, name, parent.map(_.id).getOrElse(-1),
      if (req >= 0) req else parent.map(_.req).getOrElse(-1L),
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    open = s :: open
    sc.setLocalProperty(SpanProp, s.id.toString)
    try f
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
      sc.setLocalProperty(SpanProp, open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Attaches jobs to spans; call once after the last traced call. Jobs
    * started on the client thread carry their span as a job property; a
    * job started on another thread (writeIndex's concurrent side-writes)
    * goes to the innermost span open when it was submitted.
    */
  def finish(): Unit = if (enabled) {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    listener.synchronized {
      jobs.foreach { j =>
        def within(s: Span) = s.startMs <= j.startMs && j.startMs <= s.endMs
        j.span =
          if (j.prop >= 0 && j.prop < spans.size && within(spans(j.prop))) j.prop
          else spans.filter(within).sortBy(-_.startNs).headOption.map(_.id).getOrElse(-1)
      }
    }
  }

  private lazy val kids: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)
  private lazy val spanJobs: Map[Int, Seq[Job]] = jobs.toSeq.groupBy(_.span)

  def named(name: String): Seq[Span] = spans.iterator.filter(_.name == name).toSeq
  /** Call after [[finish]]. */
  def children(s: Span): Seq[Span] = kids.getOrElse(s.id, Nil)

  /** Jobs attached to `s` or to any span below it; call after [[finish]]. */
  def jobsUnder(s: Span): Seq[Job] =
    spanJobs.getOrElse(s.id, Nil) ++ children(s).flatMap(jobsUnder)

  /** Jobs submitted between two instants (epoch ms), for window totals. */
  def jobsBetween(fromMs: Long, toMs: Long): Seq[Job] =
    jobs.iterator.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toSeq

  def toJson: String = {
    val sb = new StringBuilder("{\"spans\":[")
    spans.iterator.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(',')
      sb.append(s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"req":${s.req},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${selfNs(s)}}""")
    }
    sb.append("],\"jobs\":[")
    jobs.iterator.zipWithIndex.foreach { case (j, i) =>
      if (i > 0) sb.append(',')
      sb.append(s"""{"id":${j.id},"span":${j.span},"desc":${Json.str(j.desc)},""" +
        s""""start_ms":${j.startMs},"end_ms":${j.endMs},"tasks":${j.tasks},"run_ms":${j.runMs},""" +
        s""""gc_ms":${j.gcMs},"shuffle_write":${j.shuffleWrite},"spill":${j.spill},"output":${j.output}}""")
    }
    sb.append("]}").toString
  }

  /** A span's duration minus the part of it its child spans cover. */
  def selfNs(s: Span): Long = {
    val kids = children(s).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (s.endNs - s.startNs) - covered
  }
}

object Trace {
  val SpanProp = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, req: Long,
      startNs: Long, startMs: Long) {
    var endNs: Long = startNs
    var endMs: Long = startMs
    def ms: Double = (endNs - startNs) / 1e6
  }

  final case class Job(id: Int, startMs: Long, var endMs: Long, desc: String,
      prop: Int) {
    var span: Int = -1
    var tasks: Long = 0
    var runMs: Long = 0
    var gcMs: Long = 0
    var shuffleWrite: Long = 0
    var spill: Long = 0
    var output: Long = 0
  }

  /** Wall time the union of the jobs' intervals covers, in ms. */
  def unionMs(js: Seq[Job]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    js.map(j => (j.startMs, math.max(j.startMs, j.endMs))).sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
}
