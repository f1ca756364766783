package graft

import graft.conf.Tuning
import graft.ext.{Retrieval, SearchIndex}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.ext.SearchIndex]]: persisted BM25 index — maintained topK ≡
  * the one-shot operator over the accumulated corpus bit-for-bit (the
  * per-batch statistics are additive and the scoring core is shared),
  * fold slicing invariant, idempotent generations, compaction
  * invariance, retention + time-travel, and the job budget below the
  * size gate: a fold runs 1 job, the first query after it 1 job,
  * described `graft:SearchIndex.topK <name> v<N>`, and a warm query none,
  * with local rows back (the older "at most 5" and "at most 1" tests stay
  * as they were). The driver path, the lazy plan at `maxBytes=0` and a
  * tripped row bound answer alike, and a tripped bound runs no job;
  * resident files stay within the row bound without thrashing indexes
  * queried in turn, and two retained versions stay resident side by side;
  * a rebuild at the same path answers its new corpus; and a
  * property checks fold ≡ one-shot over random batch splits after every
  * fold, after compact and at the retained version, on both sides of the
  * gate. Oracle twin: q331.
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

  /** A 300-doc index over three folds and queries over all its terms. */
  private def wideIndex(prefix: String): String = {
    val dir = tmpDir(prefix)
    SearchIndex.build(spark, docs(0L until 200L), dir, "s", "doc_id", "text")
    SearchIndex.fold(spark, docs(200L until 260L), dir, "s", "doc_id", "text")
    SearchIndex.fold(spark, docs(260L until 300L), dir, "s", "doc_id", "text")
    dir
  }

  private val wideQueries = (queries ++ Seq((3, "alpha"), (4, "body0"),
    (4, "body2"), (4, "beta1"), (5, "beta2"), (5, "w0"), (5, "w1"),
    (5, "w3"))).toDF("query_id", "term")

  test("below the size gate a warm query runs at most 1 job and returns " +
    "local rows") {
    val dir = wideIndex("sidx_driver")
    // the first read memoizes the artifact and output schemas
    SearchIndex.topK(spark, wideQueries, dir, "s", "doc_id", k = 7)
    var out: DataFrame = null
    var got: Seq[(Int, Int, Long, Long)] = Nil
    val jobs = jobsRunBy {
      out = SearchIndex.topK(spark, wideQueries, dir, "s", "doc_id", k = 7)
      got = rows(out)
    }
    assert(jobs <= 1, s"$jobs jobs")
    assert(out.isLocal)
    assert(got.nonEmpty && got == top(Retrieval.bm25TopK(
      docs(0L until 300L), wideQueries, "doc_id", "text", k = 7)))
  }

  /** A gate just above `dir`'s listed bytes: they take the driver path,
    * but its rows, at 64 B a row, do not fit below it.
    */
  private def tripGate(dir: String): Long =
    SearchIndex.index(spark, dir, "s").committedFiles(1).files
      .map(_.bytes).sum + 1

  /** Names and types: a parquet read's columns are nullable, a local
    * frame's need not be.
    */
  private def shape(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))

  test("the driver path, the lazy plan at maxBytes=0 and a tripped row " +
    "bound return the same rows and schema as bm25TopK") {
    val dir = wideIndex("sidx_paths")
    def run = SearchIndex.topK(spark, wideQueries, dir, "s", "doc_id", k = 7)
    val driver = run
    val ungated = withGate(0L)(run)
    // the resident rows, or the footers once nothing is resident, show
    // the index does not fit, and no job reads it before the lazy plan is
    // returned
    val indexRows = Seq("postings", "termdf", "totals")
      .map(w => spark.read.parquet(s"$dir/s.searchindex/v1/sign/__what=$w")
        .count()).sum
    assert(withGate(tripGate(dir))(Tuning.smallInputRows(spark, 64)) <
      indexRows)
    var tripped: DataFrame = null
    assert(jobsRunBy { tripped = withGate(tripGate(dir))(run) } == 0)
    SearchIndex.dropResident()
    var cold: DataFrame = null
    assert(jobsRunBy { cold = withGate(tripGate(dir))(run) } == 0)
    assert(!cold.isLocal && rows(cold) == rows(tripped))
    assert(driver.isLocal && !ungated.isLocal && !tripped.isLocal)
    val oneShot = Retrieval.bm25TopK(
      docs(0L until 300L), wideQueries, "doc_id", "text", k = 7)
    assert(rows(oneShot).size == 5 * 7)
    Seq(driver, ungated, tripped).foreach { df =>
      assert(df.schema == ungated.schema && shape(df) == shape(oneShot))
      assert(rows(df) == rows(oneShot))
    }
  }

  test("topK on either side of the size gate leaves no persisted RDDs") {
    val dir = wideIndex("sidx_rdds")
    Seq(None, Some(0L), Some(tripGate(dir))).foreach { gate =>
      def run = rows(
        SearchIndex.topK(spark, wideQueries, dir, "s", "doc_id", k = 7))
      leavesNoRdds(gate.fold(run)(withGate(_)(run)))
    }
  }

  test("below the size gate the query's one job is described " +
    "graft:SearchIndex.topK <name> v<N> and the caller's description " +
    "comes back") {
    // the measured query is the first after a fold: it reads the new
    // delta; the query after it reads nothing
    val dir = budgetIndex("sidx_desc")
    val qt = queries.toDF("query_id", "term")
    SearchIndex.topK(spark, qt, dir, "s", "doc_id", k = 5)
    SearchIndex.fold(spark, docs(35L until 40L), dir, "s", "doc_id", "text")
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    val descs =
      try {
        val d = jobDescriptions(
          SearchIndex.topK(spark, qt, dir, "s", "doc_id", k = 5))
        assert(sc.getLocalProperty("spark.job.description") == "caller")
        d
      } finally sc.setJobDescription(null)
    assert(descs.size == 1, descs)
    assert(descs == Seq("graft:SearchIndex.topK s v1"))
    var out: DataFrame = null
    var got: Seq[(Int, Int, Long, Long)] = Nil
    val jobs = jobsRunBy {
      out = SearchIndex.topK(spark, qt, dir, "s", "doc_id", k = 5)
      got = rows(out)
    }
    assert(jobs == 0, s"$jobs jobs")
    assert(out.isLocal)
    assert(got.nonEmpty && got == top(Retrieval.bm25TopK(
      docs(0L until 40L), qt, "doc_id", "text", k = 5)))
  }

  test("resident files hold at most the row bound; indexes queried in " +
    "turn beyond it keep the resident ones, and a file queried again " +
    "sooner displaces the least recently used") {
    val qt = queries.toDF("query_id", "term")
    val dirs = (0 until 4).map { i =>
      val dir = tmpDir(s"sidx_lru$i")
      SearchIndex.build(spark, docs(0L until 60L + i), dir, "s", "doc_id",
        "text")
      dir
    }
    def indexRows(dir: String) = Seq("postings", "termdf", "totals")
      .map(w => spark.read.parquet(s"$dir/s.searchindex/v1/sign/__what=$w")
        .count()).sum
    // two indexes fit below the bound, three do not
    val per = dirs.map(indexRows).max
    val bound = 2 * per + per / 2
    withGate(bound * 64 + 1) {
      assert(Tuning.smallInputRows(spark, 64) == bound)
      def query(i: Int): Int = {
        var out: DataFrame = null
        var got: Seq[(Int, Int, Long, Long)] = Nil
        var jobs = 0
        val left = rddsLeftBy {
          jobs = jobsRunBy {
            out = SearchIndex.topK(spark, qt, dirs(i), "s", "doc_id", k = 5)
            got = rows(out)
          }
        }
        assert(left.isEmpty, left.values.mkString("\n"))
        assert(out.isLocal, s"index $i")
        assert(SearchIndex.residentRows <= bound)
        assert(got == top(Retrieval.bm25TopK(
          docs(0L until 60L + i), qt, "doc_id", "text", k = 5)))
        jobs
      }
      // files other tests left would take the free rows
      SearchIndex.dropResident()
      // the first query of each also fills its schema memo; 0 and 1 are
      // kept, 2 and 3 do not fit and are read filtered
      (0 until 4).foreach(query)
      // in turn, 0 and 1 stay resident and 2 and 3 run one filtered read
      // each, every round
      assert((0 until 4).map(query) == Seq(0, 0, 1, 1))
      assert((0 until 4).map(query) == Seq(0, 0, 1, 1))
      // 3, queried again before 0 was, displaces 0; 1 stays
      assert(query(3) == 1 && query(3) == 0 && query(1) == 0)
      // 0 was never read filtered, so its first miss displaces nothing;
      // its second displaces 3, the least recently used
      assert(query(0) == 1 && query(0) == 1 && query(0) == 0)
      assert(query(1) == 0 && query(3) == 1)
    }
  }

  test("queries alternating between two retained versions keep both " +
    "resident") {
    val dir = budgetIndex("sidx_versions")
    val qt = queries.toDF("query_id", "term")
    def at(v: Int): (Int, Seq[(Int, Int, Long, Long)]) = {
      var got: Seq[(Int, Int, Long, Long)] = Nil
      val jobs = jobsRunBy {
        got = rows(SearchIndex.topK(spark, qt, dir, "s", "doc_id", k = 5,
          atVersion = Some(v)))
      }
      (jobs, got)
    }
    at(1)
    SearchIndex.compact(spark, dir, "s")
    // the first read of v2 fills its schema memo and its files
    at(2)
    val expected = top(Retrieval.bm25TopK(
      docs(0L until 35L), qt, "doc_id", "text", k = 5))
    Seq(1, 2, 1, 2).foreach(v => assert(at(v) == ((0, expected)), s"v$v"))
  }

  test("a rebuild at the same path and version answers the new corpus") {
    // q331's staging: delete the index dir, then build and fold again
    val dir = tmpDir("sidx_rebuild")
    val qt = queries.toDF("query_id", "term")
    def stage(base: Seq[Long], delta: Seq[Long]) = {
      graft.io.SingleFile.delete(spark, s"$dir/s.searchindex")
      SearchIndex.build(spark, docs(base), dir, "s", "doc_id", "text")
      SearchIndex.fold(spark, docs(delta), dir, "s", "doc_id", "text")
      assert(SearchIndex.versions(spark, dir, "s") == Seq(1))
      val got = rows(SearchIndex.topK(spark, qt, dir, "s", "doc_id", k = 5))
      assert(got == top(Retrieval.bm25TopK(
        docs(base ++ delta), qt, "doc_id", "text", k = 5)))
      got
    }
    val first = stage(0L until 20L, 20L until 35L)
    val second = stage(100L until 110L, 110L until 113L)
    assert(first.nonEmpty && second.nonEmpty && first != second)
  }

  /** Batches of doc kinds: 0–3 one of four fixed texts (equal texts tie
    * on score), 4 a zero-token text, 5 an empty one; 0–5 docs a batch.
    */
  private val splits: Gen[List[List[Int]]] =
    Gen.choose(2, 4).flatMap(Gen.listOfN(_, Gen.frequency(
        1 -> Gen.const(0), 2 -> Gen.const(1), 3 -> Gen.choose(2, 5))
      .flatMap(Gen.listOfN(_, Gen.choose(0, 5)))))

  private val texts = Seq("red fox red", "red dog", "blue fox jumps high",
    "dog dog blue red", "   ", "")

  /** Up to four queries of 1–3 terms: indexed, unknown ("zebra") or null
    * terms, duplicates allowed.
    */
  private val queryGen: Gen[List[(Int, String)]] =
    Gen.choose(1, 4).flatMap(n => Gen.sequence[List[List[(Int, String)]],
      List[(Int, String)]]((1 to n).map(q => Gen.choose(1, 3).flatMap(
        Gen.listOfN(_, Gen.oneOf("red", "fox", "dog", "blue", "jumps",
          "zebra", null))).map(_.map(q -> _))))).map(_.flatten)

  /** Doc `i`'s id: a Long, or a string with an ASCII, a U+E000–U+FFFF or
    * a supplementary first character, whose UTF-8 byte order differs from
    * `String.compareTo`.
    */
  private def docId(i: Long, strIds: Boolean): Any =
    if (!strIds) i
    else Seq("a", "\uE000", "\uFFFD", "\uD83D\uDE00")(
      (i % 4).toInt) + i

  test("fold ≡ the one-shot bm25TopK over random batch splits, below the " +
    "size gate and at maxBytes=0; duplicated terms agree across the gate") {
    // two fixed splits hold every edge: an empty base, empty, single-row
    // and zero-token-only folds
    val all = List(List(0, 1, 4), Nil, List(4, 5), List(1), List(0, 2, 3)) +:
      List(Nil, List(0, 0), List(1)) +: samples(splits, 4, 43L)
    val qs = samples(queryGen, all.size, 44L)
    all.zip(qs).zipWithIndex.foreach { case ((split, q), i) =>
      val (strIds, longQids) = (i % 2 == 1, i / 2 % 2 == 1)
      val starts = split.scanLeft(0L)(_ + _.size)
      val batches = split.zip(starts).map { case (b, s) =>
        val rs = b.zipWithIndex.map { case (kind, j) =>
          org.apache.spark.sql.Row(docId(s + j, strIds), texts(kind))
        }
        spark.createDataFrame(java.util.Arrays.asList(rs: _*),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              if (strIds) org.apache.spark.sql.types.StringType
              else org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("text",
              org.apache.spark.sql.types.StringType))))
      }
      val qt =
        if (longQids) q.map { case (id, t) => (id.toLong, t) }
          .toDF("query_id", "term")
        else q.toDF("query_id", "term")
      // bm25TopK counts a duplicated term by doubling its tf; the index
      // adds its contribution twice. Compare the one-shot on distinct
      // (query, term) rows; with duplicates, the two index paths agree.
      val distinctQt = qt.distinct()
      val dir = tmpDir("sidx_prop")
      def oneShot(nBatches: Int) = Retrieval.bm25TopK(
        batches.take(nBatches).reduce(_.unionByName(_)), distinctQt,
        "doc_id", "text", k = 3)
      def sorted(df: DataFrame) =
        df.collect().toSeq.map(_.toSeq).sortBy(_.toString)
      def run(qt: DataFrame, at: Option[Int] = None) =
        SearchIndex.topK(spark, qt, dir, "s", "doc_id", k = 3, atVersion = at)
      /** The driver path's answer to the distinct terms equals `want`. */
      def check(step: String, want: DataFrame, at: Option[Int] = None) = {
        val got = run(distinctQt, at)
        val ctx = s"sample $i after $step: $split $q"
        assert(got.isLocal, ctx)
        assert(shape(got) == shape(want), ctx)
        assert(sorted(got) == sorted(want), ctx)
      }
      SearchIndex.build(spark, batches.head, dir, "s", "doc_id", "text")
      check("the build", oneShot(1))
      batches.indices.tail.foreach { j =>
        SearchIndex.fold(spark, batches(j), dir, "s", "doc_id", "text")
        check(s"fold $j", oneShot(j + 1))
      }
      val want = oneShot(batches.size)
      val answers = Seq(None, Some(0L)).map { gate =>
        val Seq(got, dup) =
          Seq(distinctQt, qt).map(t => gate.fold(run(t))(withGate(_)(run(t))))
        val ctx = s"sample $i gate $gate: $split $q"
        assert(got.isLocal == gate.isEmpty && dup.isLocal == gate.isEmpty,
          ctx)
        assert(shape(got) == shape(want), ctx)
        assert(sorted(got) == sorted(want), ctx)
        (dup.schema, sorted(dup))
      }
      assert(answers.distinct.size == 1, s"sample $i: $split $q")
      // compact makes v2; v1 stays retained and answers the same corpus
      SearchIndex.compact(spark, dir, "s")
      check("compact", want)
      check("compact, at v1", want, Some(1))
      assert(sorted(run(qt)) == answers.head._2, s"sample $i: $split $q")
    }
  }
}
