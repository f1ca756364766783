package graft

import graft.ext.{AnnIndex, ApssIndex, ClusterIndex, Clusters, Dedup}
import graft.ext.{DedupIndex, Retrieval, SearchIndex}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.io.VersionedIndex]], the lifecycle layer under every index:
  * empty and zero-token batches leave every `__what` partition in place
  * (so later folds and reads still work), the shared sign union keeps
  * string ids, a rebuild at the same path and version never reads through
  * a stale schema memo, and the checkpoints build/compact/retrain own are
  * released.
  */
class VersionedIndexSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** Near-dup families keyed by id % 10, so pairs cross every slice. */
  private def docs(ids: Seq[Long]): DataFrame =
    ids.map { i =>
      val fam = i % 10
      val body = (0 until 30)
        .map(j => s"w${fam}x${(j * 7 + fam) % 11}").mkString(" ")
      (i, s"$body tail${i / 10} t${i / 10}")
    }.toDF("doc_id", "text")

  private val none = docs(Nil)

  /** `df` with string document ids. */
  private def named(df: DataFrame): DataFrame =
    df.withColumn("doc_id", format_string("d%03d", col("doc_id")))

  /** Documents whose text tokenizes to zero tokens. */
  private def blank(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, " " * (i % 3).toInt)).toDF("doc_id", "text")

  private def dedupPairs(df: DataFrame) =
    df.select("id_a", "id_b", "inter_size", "union_size")
      .as[(Long, Long, Long, Long)].collect.toSet

  private def apssPairs(df: DataFrame) =
    df.select("doc_a", "doc_b", "overlap", "n_a", "n_b", "cos_ppb")
      .as[(Long, Long, Long, Long, Long, Long)].collect.toSet

  private def apssOneShot(stored: DataFrame, fresh: DataFrame) = {
    val ids = fresh.select("doc_id").as[Long].collect.toSet
    apssPairs(Dedup.apssCosinePairs(
      stored.unionByName(fresh), "doc_id", "text", 700))
      .filter(p => ids(p._1) || ids(p._2))
  }

  private val queries =
    Seq((1, "tail1"), (1, "w3x3"), (2, "t2"), (2, "w5x1"))
      .toDF("query_id", "term")

  private def top(df: DataFrame) =
    df.select(col("query_id"), col("rank"), col("doc_id").cast("string"),
      col("score_micro")).as[(Int, Int, String, Long)].collect.toSeq.sorted

  private def searchOneShot(corpus: DataFrame) =
    top(Retrieval.bm25TopK(corpus, queries, "doc_id", "text", k = 4))

  private def searchTop(dir: String) =
    top(SearchIndex.topK(spark, queries, dir, "s", "doc_id", k = 4))

  private def vecs(ids: Seq[Long]): DataFrame =
    ids.map { i =>
      (i, Array.tabulate(8)(d => ((i * 31 + d * 7) % 13).toFloat / 13f))
    }.toDF("vec_id", "embedding")

  private def rmrf(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))

  test("DedupIndex: empty build and fold, then fold and read equal one-shot") {
    val a = docs(0L until 20L)
    val b = docs(20L until 35L)
    val dir = tmpDir("vidx_dedup_empty_build")
    DedupIndex.build(spark, none, dir, "d", "doc_id", "text")
    val fromEmpty = dedupPairs(
      DedupIndex.fold(spark, a, dir, "d", "doc_id", "text"))
    assert(fromEmpty.nonEmpty && fromEmpty == dedupPairs(
      Dedup.minhashNearDupPairsIncremental(none, a, "doc_id", "text")))
    val dir2 = tmpDir("vidx_dedup_empty_fold")
    DedupIndex.build(spark, a, dir2, "d", "doc_id", "text")
    assert(DedupIndex.fold(spark, none, dir2, "d", "doc_id", "text")
      .count() == 0)
    val folded = dedupPairs(
      DedupIndex.fold(spark, b, dir2, "d", "doc_id", "text"))
    assert(folded.nonEmpty && folded == dedupPairs(
      Dedup.minhashNearDupPairsIncremental(a, b, "doc_id", "text")))
    assert(dedupPairs(DedupIndex.pairsWithin(spark, dir2, "d")) ==
      dedupPairs(Dedup.minhashNearDupPairs(a.unionByName(b), "doc_id",
        "text")))
  }

  test("ApssIndex: empty build and fold, then fold and read equal one-shot") {
    val a = docs(0L until 20L)
    val b = docs(20L until 35L)
    val probe = docs(35L until 40L)
    val dir = tmpDir("vidx_apss_empty_build")
    ApssIndex.build(spark, none, dir, "d", "doc_id", "text")
    val fromEmpty = apssPairs(ApssIndex.fold(
      spark, a, dir, "d", "doc_id", "text", thresholdPermil = 700))
    assert(fromEmpty.nonEmpty && fromEmpty == apssOneShot(none, a))
    val dir2 = tmpDir("vidx_apss_empty_fold")
    ApssIndex.build(spark, a, dir2, "d", "doc_id", "text")
    assert(ApssIndex.fold(spark, none, dir2, "d", "doc_id", "text",
      thresholdPermil = 700).count() == 0)
    val folded = apssPairs(ApssIndex.fold(
      spark, b, dir2, "d", "doc_id", "text", thresholdPermil = 700))
    assert(folded.nonEmpty && folded == apssOneShot(a, b))
    assert(apssPairs(ApssIndex.pairsAgainst(spark, probe, dir2, "d",
      "doc_id", "text", thresholdPermil = 700)) ==
      apssOneShot(a.unionByName(b), probe))
  }

  test("SearchIndex: empty build, empty and zero-token folds, then topK " +
    "equals the one-shot") {
    val a = docs(0L until 20L)
    val b = docs(20L until 35L)
    val dir = tmpDir("vidx_search_empty_build")
    SearchIndex.build(spark, none, dir, "s", "doc_id", "text")
    SearchIndex.fold(spark, a, dir, "s", "doc_id", "text")
    assert(searchTop(dir).nonEmpty && searchTop(dir) == searchOneShot(a))
    val dir2 = tmpDir("vidx_search_empty_fold")
    SearchIndex.build(spark, a, dir2, "s", "doc_id", "text")
    SearchIndex.fold(spark, none, dir2, "s", "doc_id", "text")
    SearchIndex.fold(spark, b, dir2, "s", "doc_id", "text")
    assert(searchTop(dir2) == searchOneShot(a.unionByName(b)))
    val dir3 = tmpDir("vidx_search_blank_fold")
    val blanks = blank(100L until 106L)
    SearchIndex.build(spark, a, dir3, "s", "doc_id", "text")
    SearchIndex.fold(spark, blanks, dir3, "s", "doc_id", "text")
    assert(searchTop(dir3) == searchOneShot(a))
    SearchIndex.fold(spark, b, dir3, "s", "doc_id", "text")
    assert(searchTop(dir3) ==
      searchOneShot(a.unionByName(blanks).unionByName(b)))
  }

  test("AnnIndex and ClusterIndex: an empty fold changes nothing") {
    val ann = (dir: String) => AnnIndex.topK(spark, vecs(1L to 4L), dir,
      "e", "vec_id", "embedding", k = 3).orderBy("query_id", "rank")
      .as[(Long, Int, Long, Double)].collect.toSeq
    val dirs = Seq(tmpDir("vidx_ann_ref"), tmpDir("vidx_ann_empty"))
    dirs.foreach(AnnIndex.build(spark, vecs(1L to 40L), _, "e", "vec_id",
      "embedding", numCentroids = 4, dim = 8))
    AnnIndex.fold(spark, vecs(Nil), dirs(1), "e", "vec_id", "embedding")
    dirs.foreach(AnnIndex.fold(spark, vecs(41L to 60L), _, "e", "vec_id",
      "embedding"))
    assert(ann(dirs(1)).nonEmpty && ann(dirs(1)) == ann(dirs(0)))

    val p0 = Seq((1L, 2L), (10L, 11L)).toDF("id_a", "id_b")
    val p1 = Seq((2L, 3L), (11L, 20L)).toDF("id_a", "id_b")
    val dir = tmpDir("vidx_cluster_empty")
    ClusterIndex.build(spark, p0, dir, "c")
    assert(ClusterIndex.fold(spark, p0.limit(0), dir, "c").count() == 0)
    ClusterIndex.fold(spark, p1, dir, "c").count()
    val lab = (df: DataFrame) =>
      df.select("node", "cluster_id").as[(Long, Long)].collect.toMap
    assert(lab(ClusterIndex.labels(spark, dir, "c")) ==
      lab(Clusters.connectedComponents(
        p0.unionByName(p1).toDF("src", "dst"))))
  }

  test("SearchIndex over string ids: topK equals bm25TopK") {
    val a = named(docs(0L until 20L))
    val b = named(docs(20L until 35L))
    val dir = tmpDir("vidx_search_str")
    SearchIndex.build(spark, a, dir, "s", "doc_id", "text")
    SearchIndex.fold(spark, b, dir, "s", "doc_id", "text")
    assert(searchTop(dir).nonEmpty &&
      searchTop(dir) == searchOneShot(a.unionByName(b)))
  }

  test("a rebuild at the same path and version with another id type " +
    "reads correctly") {
    val dir = tmpDir("vidx_cluster_rebuild")
    ClusterIndex.build(spark,
      Seq(("n1", "n2"), ("n2", "n3")).toDF("id_a", "id_b"), dir, "c")
    assert(ClusterIndex.labels(spark, dir, "c").select("cluster_id")
      .as[String].collect.toSet == Set("n1"))
    rmrf(dir)
    ClusterIndex.build(spark, Seq((5L, 6L), (6L, 7L)).toDF("id_a", "id_b"),
      dir, "c")
    assert(ClusterIndex.currentVersion(spark, dir, "c").contains(1))
    assert(ClusterIndex.labels(spark, dir, "c").select("node", "cluster_id")
      .as[(Long, Long)].collect.toMap == Map(5L -> 5L, 6L -> 5L, 7L -> 5L))

    val a = docs(0L until 20L)
    val sdir = tmpDir("vidx_search_rebuild")
    SearchIndex.build(spark, a, sdir, "s", "doc_id", "text")
    assert(searchTop(sdir) == searchOneShot(a))
    rmrf(sdir)
    SearchIndex.build(spark, named(a), sdir, "s", "doc_id", "text")
    assert(SearchIndex.currentVersion(spark, sdir, "s").contains(1))
    assert(searchTop(sdir).nonEmpty &&
      searchTop(sdir) == searchOneShot(named(a)))
  }

  test("reads that share one fold listing never see a later fold") {
    val dir = tmpDir("vidx_listing")
    SearchIndex.build(spark, docs(0L until 20L), dir, "s", "doc_id", "text")
    SearchIndex.fold(spark, docs(20L until 30L), dir, "s", "doc_id", "text")
    val ix = SearchIndex.index(spark, dir, "s")
    val gens = ix.committedFolds(1)
    def counts = Seq("postings", "termdf", "totals")
      .map(ix.signedAt(1, gens, _).count())
    val before = counts
    SearchIndex.fold(spark, docs(30L until 40L), dir, "s", "doc_id", "text")
    assert(ix.committedFolds(1).size == gens.size + 1)
    assert(counts == before)
    assert(ix.signedAt(1, gens, "totals").agg(sum("n_docs")).head.getLong(0)
      == 30L)
  }

  test("describe reads the version, its committed generations and the " +
    "base and delta bytes per artifact from the filesystem alone") {
    val dir = tmpDir("vidx_describe")
    SearchIndex.build(spark, docs(0L until 20L), dir, "s", "doc_id", "text")
    (1 to 3).foreach(g => SearchIndex.fold(spark,
      docs((15L + 5 * g) until (20L + 5 * g)), dir, "s", "doc_id", "text"))
    val root = s"$dir/s.searchindex/v1"
    // an orphan: a delta written without its marker
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$root/deltas/g3"),
      new java.io.File(s"$root/deltas/g4"))
    /** Bytes of the files Spark reads for artifact `w` under `roots`. */
    def bytes(w: String, roots: Seq[String]) =
      spark.read.parquet(roots.map(r => s"$r/sign/__what=$w"): _*)
        .inputFiles.map(f => new java.io.File(new java.net.URI(f)).length)
        .sum
    val ix = SearchIndex.index(spark, dir, "s")
    var d: graft.io.VersionedIndex.Description = null
    assert(jobsRunBy { d = ix.describe() } == 0)
    assert(d.version == 1 && d.generations == Seq(1L, 2L, 3L) &&
      d.deltas == 3)
    assert(d.bytes.keySet == Set("postings", "termdf", "totals"))
    d.bytes.foreach { case (w, b) =>
      assert(b.base > 0 && b.base == bytes(w, Seq(root)), w)
      assert(b.deltas > 0 &&
        b.deltas == bytes(w, (1 to 3).map(g => s"$root/deltas/g$g")), w)
    }
  }

  test("the three folds of an ingest describe every job " +
    "graft:<Index>.fold <name> v<N> g<G> and run 3, 3 and 1 jobs") {
    val dir = tmpDir("vidx_fold_desc")
    DedupIndex.build(spark, docs(0L until 40L), dir, "d", "doc_id", "text")
    ClusterIndex.build(spark,
      DedupIndex.pairsWithin(spark, dir, "d").select("id_a", "id_b"), dir,
      "c")
    SearchIndex.build(spark, docs(0L until 40L), dir, "s", "doc_id", "text")
    /** One ingest of `batch` as generation `g`: each fold's job
      * descriptions.
      */
    def ingest(batch: DataFrame, g: Long) = {
      var pairs: DataFrame = null
      val dedup = jobDescriptions {
        pairs = DedupIndex.fold(spark, batch, dir, "d", "doc_id", "text",
          generation = Some(g)).select("id_a", "id_b")
      }
      val cluster = jobDescriptions(
        ClusterIndex.fold(spark, pairs, dir, "c", generation = Some(g)))
      val search = jobDescriptions(SearchIndex.fold(spark, batch, dir, "s",
        "doc_id", "text", generation = Some(g)))
      (pairs, dedup, cluster, search)
    }
    // the first fold of a version fills the params and schema memos
    ingest(docs(40L until 50L), 1L)
    val sc = spark.sparkContext
    var restored: String = null
    sc.setJobDescription("caller")
    val (pairs, dedup, cluster, search) =
      try ingest(docs(50L until 60L), 2L)
      finally {
        restored = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(null)
      }
    assert(restored == "caller")
    assert(pairs.count() > 0)
    assert(dedup == Seq.fill(3)("graft:DedupIndex.fold d v1 g2"))
    assert(cluster == Seq.fill(3)("graft:ClusterIndex.fold c v1 g2"))
    assert(search == Seq("graft:SearchIndex.fold s v1 g2"))
  }

  test("DedupIndex and ApssIndex pair reads list the folds once and " +
    "never see a later fold") {
    val a = docs(0L until 20L)
    val b = docs(20L until 35L)
    val probe = docs(35L until 40L)
    val ddir = tmpDir("vidx_dedup_listing")
    val adir = tmpDir("vidx_apss_listing")
    DedupIndex.build(spark, a, ddir, "d", "doc_id", "text")
    ApssIndex.build(spark, a, adir, "d", "doc_id", "text")
    val within = DedupIndex.pairsWithin(spark, ddir, "d")
    val against = DedupIndex.pairsAgainst(spark, probe, ddir, "d", "doc_id",
      "text")
    val apss = ApssIndex.pairsAgainst(spark, probe, adir, "d", "doc_id",
      "text", thresholdPermil = 700)
    DedupIndex.fold(spark, b, ddir, "d", "doc_id", "text").count()
    ApssIndex.fold(spark, b, adir, "d", "doc_id", "text",
      thresholdPermil = 700).count()
    val withinA = dedupPairs(Dedup.minhashNearDupPairs(a, "doc_id", "text"))
    assert(withinA.nonEmpty && dedupPairs(within) == withinA)
    assert(dedupPairs(against) == dedupPairs(
      Dedup.minhashNearDupPairsIncremental(a, probe, "doc_id", "text")))
    assert(apssPairs(apss) == apssOneShot(a, probe))
    assert(dedupPairs(DedupIndex.pairsWithin(spark, ddir, "d")) ==
      dedupPairs(Dedup.minhashNearDupPairs(a.unionByName(b), "doc_id",
        "text")))
  }

  test("ApssIndex build and repeated compacts leave no persisted RDDs") {
    val dir = tmpDir("vidx_apss_leak")
    leavesNoRdds(ApssIndex.build(spark, docs(0L until 20L), dir, "d",
      "doc_id", "text"))
    (1 to 3).foreach { i =>
      ApssIndex.fold(spark, docs((20L * i) until (20L * i + 5L)), dir, "d",
        "doc_id", "text", thresholdPermil = 700).count()
      leavesNoRdds(ApssIndex.compact(spark, dir, "d"))
    }
    assert(apssPairs(ApssIndex.pairsAgainst(spark, docs(80L until 85L), dir,
      "d", "doc_id", "text", thresholdPermil = 700)) ==
      apssOneShot(docs((0L until 20L) ++ (1 to 3).flatMap(i =>
        (20L * i) until (20L * i + 5L))), docs(80L until 85L)))
  }

  test("SearchIndex and ClusterIndex repeated compacts leave no " +
    "persisted RDDs") {
    val dir = tmpDir("vidx_search_leak")
    SearchIndex.build(spark, docs(0L until 20L), dir, "s", "doc_id", "text")
    val cdir = tmpDir("vidx_cluster_leak")
    ClusterIndex.build(spark, Seq((1L, 2L)).toDF("id_a", "id_b"), cdir, "c")
    (1 to 3).foreach { i =>
      SearchIndex.fold(spark, docs((20L * i) until (20L * i + 5L)), dir,
        "s", "doc_id", "text")
      leavesNoRdds(SearchIndex.compact(spark, dir, "s"))
      ClusterIndex.fold(spark,
        Seq((10L * i, 10L * i + 1)).toDF("id_a", "id_b"), cdir, "c").count()
      leavesNoRdds(ClusterIndex.compact(spark, cdir, "c"))
    }
    assert(searchTop(dir) == searchOneShot(docs((0L until 20L) ++
      (1 to 3).flatMap(i => (20L * i) until (20L * i + 5L)))))
    assert(ClusterIndex.labels(spark, cdir, "c").count() == 8)
  }

  test("AnnIndex repeated retrains leave no persisted RDDs") {
    val dir = tmpDir("vidx_ann_leak")
    val pq = tmpDir("vidx_annpq_leak")
    AnnIndex.build(spark, vecs(1L to 40L), dir, "e", "vec_id", "embedding",
      numCentroids = 4, dim = 8)
    AnnIndex.buildPq(spark, vecs(1L to 40L), pq, "e", "vec_id", "embedding",
      numCentroids = 4, dim = 8, numSub = 2, codebookSize = 4)
    (1 to 2).foreach { _ =>
      leavesNoRdds(AnnIndex.retrain(spark, dir, "e", "vec_id", "embedding",
        numCentroids = 4, dim = 8))
      leavesNoRdds(AnnIndex.retrainPq(spark, pq, "e", "vec_id", "embedding",
        numCentroids = 4, dim = 8, numSub = 2, codebookSize = 4))
    }
  }
}
