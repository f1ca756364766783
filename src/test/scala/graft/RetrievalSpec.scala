package graft

import graft.ext.{Hits, Retrieval, SearchIndex}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Retrieval.bm25TopK]] against a hand-computed corpus (a duplicated
  * query term counted twice, null-id docs ranked as [[SearchIndex]]
  * ranks them on both sides of the size gate),
  * [[Retrieval.rrfFuse]] exact integer fusion, [[Retrieval.int8TopK]]
  * integer-dot scoring, and [[Hits.hubsAuthorities]] against the
  * hand-unrolled mutual-reinforcement recurrence — all partition-invariant
  * (scores are BIGINT sums, so shuffling must not perturb them).
  */
class RetrievalSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  // 3 docs, lengths 4/4/2; term 'x' appears 2/1/0 times
  private def handDocs = Seq(
    (1L, "x x y z"), (2L, "x y y z"), (3L, "y z")).toDF("doc_id", "text")

  /** One posting's hand-computed Okapi contribution to a query of 'x'
    * over [[handDocs]], in micro-units.
    */
  private def handContrib(c: Long, dl: Long): Long = {
    // N=3 docs, df(x)=2, avgdl=10/3; idf = ln(1 + (3-2+0.5)/(2+0.5))
    val idf = math.log(1.0 + ((3L - 2L) + 0.5) / (2L + 0.5))
    val tfn = (c * 2.2) / (c + 1.2 * (0.25 + 0.75 * (dl / (10.0 / 3))))
    math.floor(idf * tfn * 1000000.0 + 0.5).toLong
  }

  test("bm25TopK matches the hand-computed Okapi score") {
    val qt = Seq((1, "x")).toDF("query_id", "term")
    val out = Retrieval.bm25TopK(handDocs, qt, "doc_id", "text", k = 10)
      .orderBy("rank").collect()
    assert(out.map(r => (r.getLong(2), r.getLong(3))).toSeq ==
      Seq((1L, handContrib(2, 4)), (2L, handContrib(1, 4))))
    // doc 3 has no query term -> absent entirely
    assert(out.length == 2)
  }

  test("bm25TopK scores a query term listed twice as twice its " +
    "contribution, as SearchIndex does") {
    val qt = Seq((1, "x"), (1, "x")).toDF("query_id", "term")
    val out = Retrieval.bm25TopK(handDocs, qt, "doc_id", "text", k = 10)
      .orderBy("rank").collect()
    assert(out.map(r => (r.getLong(2), r.getLong(3))).toSeq ==
      Seq((1L, 2 * handContrib(2, 4)), (2L, 2 * handContrib(1, 4))))
  }

  test("bm25TopK, SearchIndex.topK below the size gate and topK at " +
    "maxBytes=0 return the same rows for null-id docs") {
    val docs = Seq[(Option[Long], String)]((Some(1L), "x x y z"),
      (None, "x y"), (Some(2L), "x y y z"), (None, "y z z"))
      .toDF("doc_id", "text")
    val qt = Seq((1, "x"), (1, "y"), (2, "z")).toDF("query_id", "term")
    val dir = tmpDir("bm25_nullid")
    SearchIndex.build(spark, docs, dir, "s", "doc_id", "text")
    def rows(df: DataFrame) =
      df.collect().toSeq.map(_.toSeq).sortBy(_.toString)
    def topK = SearchIndex.topK(spark, qt, dir, "s", "doc_id", k = 10)
    val oneShot = rows(Retrieval.bm25TopK(docs, qt, "doc_id", "text", k = 10))
    assert(oneShot.count(_(2) == null) == 2, oneShot)
    val below = topK
    assert(below.isLocal)
    assert(rows(below) == oneShot)
    withGate(0L) {
      val gated = topK
      assert(!gated.isLocal)
      assert(rows(gated) == oneShot)
    }
  }

  test("bm25TopK is partition-invariant") {
    val docs = (0 until 200)
      .map(i => (i.toLong, s"a b c${i % 7} d${i % 3} a"))
      .toDF("doc_id", "text")
    val qt = Seq((1, "a"), (1, "c2"), (2, "d1")).toDF("query_id", "term")
    val base = Retrieval.bm25TopK(docs, qt, "doc_id", "text", k = 5)
      .collect().map(_.toSeq).sortBy(_.toString)
    for (parts <- Seq(1, 13)) {
      val got = Retrieval
        .bm25TopK(docs.repartition(parts), qt, "doc_id", "text", k = 5)
        .collect().map(_.toSeq).sortBy(_.toString)
      assert(got.toSeq == base.toSeq)
    }
  }

  test("maxPassageTopK surfaces a buried relevant passage BM25 dilutes") {
    // doc 1: one dense relevant chunk buried in a long document;
    // doc 2: short, mildly relevant throughout. Whole-doc BM25's length
    // normalization punishes doc 1; MaxP scores the buried chunk as its
    // own unit, so doc 1 must win under MaxP.
    val filler = (1 to 300).map(i => s"filler$i").mkString(" ")
    val buried = filler + " spark merge window spark merge window spark " +
      "merge window spark merge window " + filler.replace("filler", "pad")
    val mild = "spark runs here and the merge happens on a window later"
    val docs = Seq((1L, buried), (2L, mild)).toDF("doc_id", "text")
    val qt = Seq((1, "spark"), (1, "merge"), (1, "window"))
      .toDF("query_id", "term")
    val whole = Retrieval.bm25TopK(docs, qt, "doc_id", "text", k = 2)
      .filter(col("rank") === 1).select("doc_id").as[Long].collect().head
    val maxp = Retrieval.maxPassageTopK(
        docs, qt, "doc_id", "text", k = 2, chunkSize = 32, stride = 32)
      .filter(col("rank") === 1).select("doc_id").as[Long].collect().head
    assert(whole == 2L, "whole-doc BM25 should prefer the short doc")
    assert(maxp == 1L, "MaxP should surface the buried passage")
    // the winning chunk is inside the relevant region (tokens 300..312
    // → chunk indexes 9..10 at size 32), not the filler
    val best = Retrieval.maxPassageTopK(
        docs, qt, "doc_id", "text", k = 2, chunkSize = 32, stride = 32)
      .filter(col("doc_id") === 1L)
      .select("best_chunk_idx").as[Long].collect().head
    assert(best == 9L || best == 10L, s"winning chunk $best not in region")
  }

  test("maxPassageTopK is partition-invariant and max-pools per doc") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val qt = Seq((1, "data"), (1, "merge"), (2, "spark"), (2, "window"))
      .toDF("query_id", "term")
    def run(parts: Int) = Retrieval.maxPassageTopK(
      docs.repartition(parts), qt, "doc_id", "text", k = 5)
      .collect().map(_.toSeq).toSet
    val a = run(2)
    assert(a == run(9))
    // one row per (query, doc): max-pooling collapsed chunk granularity
    val dup = Retrieval.maxPassageTopK(docs, qt, "doc_id", "text", k = 5)
      .groupBy("query_id", "doc_id").count().filter(col("count") > 1)
    assert(dup.count() == 0)
  }

  test("rrfFuse is exact integer arithmetic") {
    val lex = Seq((1, 10L, 1), (1, 20L, 2), (1, 30L, 3))
      .toDF("query_id", "id", "r_lex")
    val sem = Seq((1, 10L, 3), (1, 20L, 1), (1, 30L, 2))
      .toDF("query_id", "id", "r_sem")
    val out = Retrieval.rrfFuse(lex, sem, k = 3).orderBy("rank").collect()
    // id 10: 1000000/61 + 1000000/63 = 16393 + 15873 = 32266
    // id 20: 1000000/62 + 1000000/61 = 16129 + 16393 = 32522
    // id 30: 1000000/63 + 1000000/62 = 15873 + 16129 = 32002
    assert(out.map(r => (r.getLong(2), r.getLong(5))).toSeq ==
      Seq((20L, 32522L), (10L, 32266L), (30L, 32002L)))
  }

  test("int8TopK integer dot is exact and ranks by descaled micro-units") {
    // axis-aligned vectors: quantization is exact (maxabs maps to ±127)
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), // query
      (1L, Array(2.0f, 0.0f)), // same direction, bigger scale
      (2L, Array(0.0f, 1.0f)), // orthogonal
      (3L, Array(-1.0f, 0.0f)) // opposite
    ).toDF("vec_id", "embedding")
    val out = Retrieval.int8TopK(
      vecs, vecs.filter(col("vec_id") === 0L), "vec_id", "embedding", k = 3)
      .orderBy("rank").collect()
    // qvec(0)=[127,0] s=1/127; qvec(1)=[127,0] s=2/127; idot=127*127
    assert(out.map(r => (r.getLong(2), r.getLong(3))).toSeq ==
      Seq((1L, 16129L), (2L, 0L), (3L, -16129L)))
    // descaled approx dot of (0,1): (1/127)*(2/127)*16129 = 2.0 (exactly,
    // up to the 9-dp scale rounding) -> micro units ~ 2_000_000
    val micro = out.head.getLong(4)
    assert(math.abs(micro - 2000000L) <= 5)
  }

  test("hubsAuthorities matches the unrolled recurrence") {
    val edges = Seq((1L, 10L), (1L, 20L), (2L, 10L)).toDF("src", "dst")
    val out = Hits.hubsAuthorities(edges, "src", "dst", iterations = 2)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(2)))
      .toSet
    // h1: c1=2, c2=1; a1: p10=3, p20=2; h2: c1=5, c2=3; a2: p10=8, p20=5
    assert(out == Set(
      ("hub", 1L, 5L), ("hub", 2L, 3L),
      ("authority", 10L, 8L), ("authority", 20L, 5L)))
  }

  test("hubsAuthorities is partition- and duplicate-invariant") {
    val edges = (0 until 300)
      .map(i => (i.toLong % 17, i.toLong % 11 + 100))
      .toDF("src", "dst")
    val base = Hits.hubsAuthorities(edges, "src", "dst")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    // duplicated edges must collapse via the internal distinct
    val doubled = edges.union(edges).repartition(7)
    val got = Hits.hubsAuthorities(doubled, "src", "dst")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(got == base)
  }
}
