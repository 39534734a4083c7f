package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.gate.{OpsGate, SearchGate}

/** The gate over the sf0.001 test tables (TESTDATA.md): every fixture
  * dir comes from one builder and goes with `clearCaches`, and the
  * q_termvectors path matches a recompute from the raw text.
  */
class GateFixtureSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("q_termvectors == a recompute from documents.parquet") {
    // tokens: lowercased [A-Za-z0-9]+ runs (at most 255 chars), positions
    // counted from 0 — none of the engine's tokenizer or postings
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), posexplode(expr(
        "filter(regexp_extract_all(lower(text), '[A-Za-z0-9]+', 0), " +
          "t -> length(t) <= 255)")).as(Seq("pos", "term")))
    val ids = Seq(40L, 41L, 42L)
    val tv = toks.filter(col("doc_id").isin(ids: _*))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), sort_array(collect_list("pos")).as("positions"))
    val dfs = toks.groupBy("term").agg(countDistinct("doc_id").as("df"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id").cast("long"), col("term"), col("tf").cast("long"),
        col("df").cast("long"), col("positions").cast("array<long>"))
        .collect().toSeq
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getSeq[Long](4)))
        .sortBy(r => (r._1, r._2))
    val want = rows(tv.join(dfs, "term"))
    assert(want.map(_._1).distinct === ids)
    assert(rows(SearchGate.queries("q_termvectors")(spark, sf)) === want)
  }

  test("clearCaches deletes every fixture dir and unpins every fixture " +
      "Searcher; a rebuild answers the same") {
    // an analyzed variant and a copy of the base index
    val gates = Seq("q_ngram_term", "q_deleted_term")
    def run(): Seq[Seq[org.apache.spark.sql.Row]] =
      gates.map(q => SearchGate.queries(q)(spark, sf).collect().toSeq)
    SearchGate.clearCaches()
    val before = run()
    assert(before.forall(_.nonEmpty))
    val ann = OpsGate.annIndexDir(spark, sf)
    val dirs = SearchGate.trackedDirs
    // the base index, the two variants and the ANN index
    assert(dirs.size === 4 && dirs.contains(ann))
    assert(dirs.forall(d => new java.io.File(d).isDirectory))
    // reading segmentsDf pins the base index too, which no query read
    val tables = SearchGate.openFixtures.flatMap(s =>
      Seq(s.segmentsDf, s.termStatsDf))
    assert(tables.size === 6)
    assert(tables.forall(TestSpark.cached))
    SearchGate.clearCaches()
    assert(SearchGate.trackedDirs.isEmpty && SearchGate.openFixtures.isEmpty)
    assert(dirs.forall(d => !new java.io.File(d).exists))
    assert(!tables.exists(TestSpark.cached))
    assert(run() === before)
    SearchGate.clearCaches()
  }
}
