package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.index.IndexBuilder
import graft.index.IndexBuilder.BuildConfig

/** Entry point: `perfbench.Main workload=<w> seed=<n> seconds=<s> trace=<0|1>
  * cores=<k> work=<dir> traceFile=<file> launchMs=<epoch ms>`. Prints one
  * JSON result as the last line of standard output.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val work = new File(a("work"))
    val cores = a("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", new File(work, "spark").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = new Ctx(spark, work, new Trace(spark.sparkContext, a("trace") == "1"),
      a("seed").toLong, a("seconds").toDouble, a("launchMs").toLong)
    val ok =
      try {
        a("workload") match {
          case "build" => Workloads.build(ctx)
          case "search_local" => Workloads.search(ctx, distributed = false)
          case "search_dist" => Workloads.search(ctx, distributed = true)
          case "refresh" => Refresh.run(ctx)
        }
        true
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          false
      }
    if (ok) {
      if (ctx.trace.enabled) {
        val f = new File(a("traceFile"))
        java.nio.file.Files.writeString(f.toPath, ctx.trace.toJson)
        System.err.println(s"[perfbench] spans written to $f")
      }
      println(ctx.resultJson)
    }
    spark.stop()
    if (!ok) System.exit(1)
  }
}

/** State of one run: the session, the trace, the operation counts and
  * the metrics reported at the end.
  */
final class Ctx(val spark: SparkSession, val work: File, val trace: Trace,
    val seed: Long, val seconds: Double, launchMs: Long) {
  var attempted = 0L
  var failed = 0L
  var correct = true
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Shape of each traced query request. */
  val reqShape = mutable.HashMap.empty[Long, String]
  private var nextReq = 0L
  def newReq(): Long = { nextReq += 1; nextReq }

  /** An end-to-end metric. */
  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  /** A per-layer metric (traced runs only). */
  def layer(name: String, value: Double, unit: String): Unit = layers(name) = (value, unit)

  /** Records one operation's outcome. A `known` failure is the `Merge`
    * fault the benchmark keeps on purpose; any other failure also makes
    * the run incorrect.
    */
  def op(why: String, known: Boolean = false): Unit = {
    attempted += 1
    if (why != null) {
      failed += 1
      if (!known) {
        correct = false
        System.err.println(s"[perfbench] FAILED: $why")
      }
    }
  }

  def setupDone(): Unit =
    metric("setup_s", (System.currentTimeMillis() - launchMs) / 1000.0, "s")

  def dir(name: String): String = new File(work, name).getAbsolutePath

  /** The result line: end-to-end metrics untraced, per-layer traced (the
    * traced run's end-to-end figures go to standard error, to show the
    * tracing overhead).
    */
  def resultJson: String = {
    if (trace.enabled) System.err.println(s"[perfbench] traced end-to-end: ${json(metrics)}")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${json(if (trace.enabled) layers else metrics)}}}"""
  }

  private def json(m: collection.Map[String, (Double, String)]): String =
    m.map { case (k, (v, u)) =>
      s"""${Json.str(k)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}"""
    }.mkString(", ")
}

object Util {
  def nowS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Nearest-rank percentile of unsorted samples. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Heap in use after a full collection, in MB. */
  def liveHeapMb(): Double = {
    System.gc(); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** Bytes of the regular files under `dir`, less the local filesystem's
    * `.crc` checksum side files.
    */
  def dirBytes(dir: String): Long = {
    def go(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(go).sum).getOrElse(0L)
      else if (f.getName.endsWith(".crc")) 0L
      else f.length()
    go(new File(dir))
  }

  def rm(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new File(dir))

  def config(docs: Long): BuildConfig =
    BuildConfig(numBuckets = 8, numDocShards = 4, saltThreshold = docs / 2)

  /** Writes rows as a Parquet table of `parts` files. */
  def writeTable(spark: SparkSession, rows: Seq[Doc], dir: String, parts: Int): Unit = {
    import spark.implicits._
    spark.sparkContext.parallelize(rows, parts).toDF().write.parquet(dir)
  }

  /** Builds an index from a Parquet table, docIds assigned in (repo,
    * path, commit) order, segments written in `groups` bucket groups;
    * returns seconds from the table read to the committed manifest.
    */
  def buildIndex(ctx: Ctx, input: String, dir: String, snapshot: String,
      cfg: BuildConfig, req: Long, groups: Int = 1): Double =
    ctx.trace.span("build", req) {
      val t0 = System.nanoTime()
      val table = ctx.spark.read.parquet(input)
      val ix = ctx.trace.span("buildLogical") {
        IndexBuilder.buildLogical(table, "content", None, Seq("repo", "path", "commit"), cfg)
      }
      ctx.trace.span("writeIndex") { IndexBuilder.writeIndex(ix, dir, snapshot, numGroups = groups) }
      val s = nowS(t0)
      ix.unpersistCached()
      s
    }
}
