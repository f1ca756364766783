package graft

import graft.ext.{Retrieval, SearchIndex}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.ext.SearchIndex]]: persisted BM25 index — maintained topK ≡
  * the one-shot operator over the accumulated corpus bit-for-bit (the
  * per-batch statistics are additive and the scoring core is shared),
  * fold slicing invariant, idempotent generations, compaction
  * invariance, retention + time-travel, and the job budget below the
  * size gate (a query at most 5 jobs, a fold 1). Oracle twin: q331.
  */
class SearchIndexSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def docs(ids: Seq[Long]): DataFrame =
    ids.map { i =>
      val fam = i % 5
      (i, s"alpha w$fam body${i % 3} " +
        (0 until (i % 4).toInt).map(j => s"beta$j").mkString(" "))
    }.toDF("doc_id", "text")

  private val queries =
    Seq((1, "alpha"), (1, "w2"), (2, "beta0"), (2, "body1"), (3, "w4"))

  private def top(df: DataFrame): Seq[(Int, Int, Long, Long)] =
    df.select("query_id", "rank", "doc_id", "score_micro")
      .as[(Int, Int, Long, Long)].collect.toSeq.sorted

  test("maintained topK is bit-identical to the one-shot over the corpus") {
    val dir = tmpDir("sidx_eq")
    val a = docs(0L until 20L)
    val b = docs(20L until 35L)
    SearchIndex.build(spark, a, dir, "s", "doc_id", "text")
    SearchIndex.fold(spark, b, dir, "s", "doc_id", "text")
    val qt = queries.toDF("query_id", "term")
    val maintained = top(SearchIndex.topK(
      spark, qt, dir, "s", "doc_id", k = 5))
    val oneShot = top(Retrieval.bm25TopK(
      a.unionByName(b), qt, "doc_id", "text", k = 5))
    assert(maintained == oneShot && maintained.nonEmpty)
    // fold slicing invariance: three smaller folds, same answer
    val dir2 = tmpDir("sidx_eq3")
    SearchIndex.build(spark, a, dir2, "s", "doc_id", "text")
    SearchIndex.fold(spark, b.filter($"doc_id" < 25L), dir2, "s",
      "doc_id", "text")
    SearchIndex.fold(spark, b.filter($"doc_id" >= 25L && $"doc_id" < 30L),
      dir2, "s", "doc_id", "text")
    SearchIndex.fold(spark, b.filter($"doc_id" >= 30L), dir2, "s",
      "doc_id", "text")
    assert(top(SearchIndex.topK(spark, qt, dir2, "s", "doc_id", k = 5))
      == oneShot)
  }

  test("a committed fold generation replays as a no-op") {
    val dir = tmpDir("sidx_idem")
    val a = docs(0L until 20L)
    val b = docs(20L until 35L)
    SearchIndex.build(spark, a, dir, "s", "doc_id", "text")
    SearchIndex.fold(spark, b, dir, "s", "doc_id", "text",
      generation = Some(9L))
    // at-least-once retry: a double-insert would double every fresh
    // doc's term frequencies AND the collection stats
    SearchIndex.fold(spark, b, dir, "s", "doc_id", "text",
      generation = Some(9L))
    val qt = queries.toDF("query_id", "term")
    assert(top(SearchIndex.topK(spark, qt, dir, "s", "doc_id", k = 5)) ==
      top(Retrieval.bm25TopK(a.unionByName(b), qt, "doc_id", "text", k = 5)))
    intercept[IllegalArgumentException] {
      SearchIndex.fold(spark, docs(40L to 41L), dir, "s", "doc_id",
        "text", generation = Some(3L))
    }
  }

  test("compact re-sums statistics without changing answers; retention + time travel") {
    val dir = tmpDir("sidx_compact")
    val a = docs(0L until 20L)
    SearchIndex.build(spark, a, dir, "s", "doc_id", "text")
    SearchIndex.fold(spark, docs(20L until 35L), dir, "s", "doc_id", "text")
    val qt = queries.toDF("query_id", "term")
    val before = top(SearchIndex.topK(spark, qt, dir, "s", "doc_id", k = 5))
    SearchIndex.compact(spark, dir, "s")
    assert(SearchIndex.versions(spark, dir, "s") == Seq(1, 2))
    assert(top(SearchIndex.topK(spark, qt, dir, "s", "doc_id", k = 5))
      == before)
    // one totals row and one df row per term after the rewrite (totals
    // live in the unified __what-partitioned sign table since r10)
    assert(spark.read
      .parquet(s"$dir/s.searchindex/v2/sign/__what=totals").count() == 1)
    // time-travel: rebuild v3 from only slice `a` — v2 still answers the
    // accumulated state, the new current answers the small one
    SearchIndex.build(spark, a, dir, "s", "doc_id", "text")
    assert(top(SearchIndex.topK(spark, qt, dir, "s", "doc_id", k = 5,
      atVersion = Some(2))) == before)
    assert(top(SearchIndex.topK(spark, qt, dir, "s", "doc_id", k = 5)) ==
      top(Retrieval.bm25TopK(a, qt, "doc_id", "text", k = 5)))
    intercept[IllegalArgumentException] {
      SearchIndex.topK(spark, qt, dir, "s", "doc_id", k = 5,
        atVersion = Some(1))
    }
  }

  private val gate = "spark.graft.smallInput.maxBytes"

  /** Rows of a topK frame acted on directly, so its own plan runs. */
  private def rows(df: DataFrame): Seq[(Int, Int, Long, Long)] =
    df.collect().toSeq.map(r =>
      (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))).sorted

  /** An index over docs 0–34: a build and two folds. */
  private def budgetIndex(prefix: String): String = {
    val dir = tmpDir(prefix)
    SearchIndex.build(spark, docs(0L until 20L), dir, "s", "doc_id", "text")
    SearchIndex.fold(spark, docs(20L until 30L), dir, "s", "doc_id", "text")
    SearchIndex.fold(spark, docs(30L until 35L), dir, "s", "doc_id", "text")
    dir
  }

  test("below the size gate a fold runs one job and a warm query at " +
    "most 5") {
    val dir = tmpDir("sidx_budget")
    SearchIndex.build(spark, docs(0L until 20L), dir, "s", "doc_id", "text")
    assert(jobsRunBy(SearchIndex.fold(spark, docs(20L until 30L), dir, "s",
      "doc_id", "text")) == 1)
    assert(jobsRunBy(SearchIndex.fold(spark, docs(30L until 35L), dir, "s",
      "doc_id", "text")) == 1)
    val qt = queries.toDF("query_id", "term")
    // the first read memoizes the artifact schemas (one footer job each)
    SearchIndex.topK(spark, qt, dir, "s", "doc_id", k = 5)
    var got: Seq[(Int, Int, Long, Long)] = Nil
    val jobs = jobsRunBy {
      got = rows(SearchIndex.topK(spark, qt, dir, "s", "doc_id", k = 5))
    }
    assert(jobs <= 5, s"$jobs jobs")
    assert(got.nonEmpty && got == top(Retrieval.bm25TopK(
      docs(0L until 35L), qt, "doc_id", "text", k = 5)))
  }

  test("at the size gate topK keeps AQE and gives the gated rows") {
    val dir = budgetIndex("sidx_aqe")
    val qt = queries.toDF("query_id", "term")
    def adaptive(df: DataFrame) =
      df.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec]
    val small = SearchIndex.topK(spark, qt, dir, "s", "doc_id", k = 5)
    spark.conf.set(gate, "0")
    val aqe =
      try SearchIndex.topK(spark, qt, dir, "s", "doc_id", k = 5)
      finally spark.conf.unset(gate)
    assert(!adaptive(small) && adaptive(aqe))
    val gated = rows(small)
    assert(gated.nonEmpty && rows(aqe) == gated)
    assert(gated == top(Retrieval.bm25TopK(
      docs(0L until 35L), qt, "doc_id", "text", k = 5)))
  }

  test("a frame derived from topK is planned by its own action and " +
    "answers the same") {
    val dir = budgetIndex("sidx_derived")
    val qt = queries.toDF("query_id", "term")
    val out = SearchIndex.topK(spark, qt, dir, "s", "doc_id", k = 5)
    val ordered = out.orderBy("query_id", "rank")
    assert(rows(ordered) == rows(out))
    assert(ordered.collect().toSeq.map(r => (r.getInt(0), r.getInt(1))) ==
      rows(out).map(r => (r._1, r._2)))
  }
}
