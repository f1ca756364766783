package graft

import graft.ext.{ClusterIndex, Clusters}

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.ext.ClusterIndex]]: maintained connected-component labels —
  * fold(pairs) ≡ one-shot CC over the accumulated pair set under any
  * fold slicing (incl. cross-component merges chained THROUGH a fresh
  * batch and a fresh node becoming the new component min), delta-sized
  * relabels, idempotent generations, compaction invariance, retention +
  * time-travel. Oracle twin: q329.
  */
class ClusterIndexSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def pairs(ps: (Long, Long)*): DataFrame =
    ps.toSeq.toDF("id_a", "id_b")

  private def lab(df: DataFrame): Map[Long, Long] =
    df.select("node", "cluster_id").as[(Long, Long)].collect.toMap

  private def oneShot(all: DataFrame): Map[Long, Long] =
    lab(Clusters.connectedComponents(
      all.toDF("src", "dst")).toDF("node", "cluster_id"))

  test("folds equal one-shot CC over the accumulated pairs, any slicing") {
    val b0 = pairs((1L, 2L), (10L, 11L), (20L, 21L))
    val b1 = pairs((2L, 3L), (11L, 12L), (30L, 31L))
    // chained merge THROUGH the fresh batch: 20–21 and 40–41 are
    // separate stored/new comps until one batch links 21~40
    val b2 = pairs((40L, 41L), (21L, 40L))
    val all = b0.unionByName(b1).unionByName(b2)
    val dir = tmpDir("clidx_eq")
    ClusterIndex.build(spark, b0, dir, "d")
    ClusterIndex.fold(spark, b1, dir, "d").count()
    ClusterIndex.fold(spark, b2, dir, "d").count()
    val maintained = lab(ClusterIndex.labels(spark, dir, "d"))
    assert(maintained == oneShot(all) && maintained.nonEmpty)
    assert(maintained(41L) == 20L) // the chained merge landed
  }

  test("repeated folds in one session leave no persisted RDDs behind") {
    val dir = tmpDir("clidx_leak")
    ClusterIndex.build(spark, pairs((1L, 2L)), dir, "d")
    val before = spark.sparkContext.getPersistentRDDs.size
    (1L to 20L).foreach { i =>
      ClusterIndex.fold(spark, pairs((10 * i, 10 * i + 1)), dir, "d").count()
    }
    assert(spark.sparkContext.getPersistentRDDs.size <= before,
      spark.sparkContext.getPersistentRDDs.values.mkString("\n"))
    assert(lab(ClusterIndex.labels(spark, dir, "d")).size == 42)
  }

  test("a fresh node below the stored min relabels the whole component") {
    val dir = tmpDir("clidx_min")
    ClusterIndex.build(spark, pairs((10L, 11L), (11L, 12L)), dir, "d")
    assert(lab(ClusterIndex.labels(spark, dir, "d"))
      .values.toSet == Set(10L))
    val changed = lab(ClusterIndex.fold(spark, pairs((5L, 12L)), dir, "d"))
    // the delta carries every member's relabel (10, 11, 12 → 5) plus the
    // fresh node's first label
    assert(changed == Map(5L -> 5L, 10L -> 5L, 11L -> 5L, 12L -> 5L))
    assert(lab(ClusterIndex.labels(spark, dir, "d"))
      .values.toSet == Set(5L))
  }

  test("untouched components produce NO delta rows (delta-sized relabel)") {
    val dir = tmpDir("clidx_delta")
    ClusterIndex.build(spark,
      pairs((1L, 2L), (10L, 11L), (20L, 21L)), dir, "d")
    val changed = lab(ClusterIndex.fold(spark, pairs((2L, 3L)), dir, "d"))
    // only the touched component's new node appears: 3 joins cluster 1;
    // members 1, 2 keep their label (root unchanged) — and 10/11/20/21
    // never enter the delta
    assert(changed == Map(3L -> 1L), changed.toString)
  }

  test("a committed generation replays as a no-op instead of double-folding") {
    val dir = tmpDir("clidx_idem")
    ClusterIndex.build(spark, pairs((1L, 2L)), dir, "d")
    val first = lab(ClusterIndex.fold(spark, pairs((2L, 3L)), dir, "d",
      generation = Some(6L)))
    val retry = lab(ClusterIndex.fold(spark, pairs((2L, 3L)), dir, "d",
      generation = Some(6L)))
    assert(retry == first && first.nonEmpty)
    assert(lab(ClusterIndex.labels(spark, dir, "d")) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    intercept[IllegalArgumentException] {
      ClusterIndex.fold(spark, pairs((4L, 5L)), dir, "d",
        generation = Some(2L)).count()
    }
  }

  test("compact collapses deltas; retention + time-travel") {
    val dir = tmpDir("clidx_compact")
    ClusterIndex.build(spark, pairs((1L, 2L), (10L, 11L)), dir, "d")
    ClusterIndex.fold(spark, pairs((2L, 10L)), dir, "d").count()
    val before = lab(ClusterIndex.labels(spark, dir, "d"))
    ClusterIndex.compact(spark, dir, "d")
    assert(ClusterIndex.versions(spark, dir, "d") == Seq(1, 2))
    assert(lab(ClusterIndex.labels(spark, dir, "d")) == before)
    // time-travel to v1 sees the same resolved state (compaction is
    // answer-invariant); a pre-fold view needs a pre-fold version, so
    // REBUILD from only the first batch as v3 and check v2 still
    // answers the merged state
    assert(lab(ClusterIndex.labels(spark, dir, "d", atVersion = Some(1)))
      == before)
    ClusterIndex.build(spark, pairs((1L, 2L)), dir, "d") // v3
    assert(lab(ClusterIndex.labels(spark, dir, "d", atVersion = Some(2)))
      == before)
    assert(lab(ClusterIndex.labels(spark, dir, "d")) == Map(1L -> 1L, 2L -> 1L))
    intercept[IllegalArgumentException] {
      ClusterIndex.labels(spark, dir, "d", atVersion = Some(1))
    }
  }

  /** 2,000 pairs over nodes 0–2,999 (an LCG, so the suite keeps no RNG
    * state): a mix of chains and small components.
    */
  private val seedPairs: DataFrame = {
    var x = 97L
    def next(): Long = { x = (x * 1103515245L + 12345L) % 2147483647L; x }
    (1 to 2000).map(_ => (next() % 3000, next() % 3000)).toDF("id_a", "id_b")
  }

  /** 12 pairs joining stored components to each other and to fresh
    * nodes 5,000+ (one fresh node below no stored min, one a new pair of
    * fresh nodes, one a self-loop).
    */
  private val twelve = pairs((5L, 17L), (17L, 2900L), (44L, 5000L),
    (5000L, 5001L), (5002L, 5003L), (120L, 121L), (2999L, 3L), (8L, 8L),
    (5004L, 300L), (300L, 301L), (1500L, 1501L), (5001L, 1500L))

  /** An index over `seedPairs` after one warm-up fold (schema memo
    * filled), then `twelve` folded: the fold's jobs and changed labels,
    * and the resolved labels after it.
    */
  private def budgetFold(prefix: String)
      : (Int, Map[Long, Long], Map[Long, Long]) = {
    val dir = tmpDir(prefix)
    ClusterIndex.build(spark, seedPairs, dir, "d")
    ClusterIndex.fold(spark, pairs((1L, 2L), (6000L, 6001L)), dir, "d")
    var changed: DataFrame = null
    val jobs = jobsRunBy {
      changed = ClusterIndex.fold(spark, twelve, dir, "d")
    }
    (jobs, lab(changed), lab(ClusterIndex.labels(spark, dir, "d")))
  }

  test("below the size gate a 12-pair fold into a 2,000-pair index runs " +
    "at most 3 jobs; the rounds give the same labels") {
    val (jobs, changed, labels) = budgetFold("clidx_budget")
    assert(jobs <= 3, s"$jobs jobs")
    val (roundJobs, roundChanged, roundLabels) =
      withGate(0L)(budgetFold("clidx_budget_rounds"))
    assert(roundJobs > 3, s"$roundJobs jobs")
    assert(changed.nonEmpty && changed == roundChanged)
    assert(labels == roundLabels)
    val all = seedPairs.unionByName(pairs((1L, 2L), (6000L, 6001L)))
      .unionByName(twelve)
    assert(labels == oneShot(all))
  }

  test("a fold on either side of the size gate leaves no persisted RDDs") {
    Seq(Long.MaxValue, 0L).foreach { gate =>
      withGate(gate) {
        val dir = tmpDir("clidx_fold_rdds")
        ClusterIndex.build(spark, pairs((1L, 2L), (3L, 4L)), dir, "d")
        leavesNoRdds(ClusterIndex.fold(spark, pairs((2L, 3L), (9L, 10L)),
          dir, "d").count())
        assert(lab(ClusterIndex.labels(spark, dir, "d")) ==
          Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 9L -> 9L, 10L -> 9L))
      }
    }
  }

  test("string ids: the driver-local fold orders roots by UTF-8 bytes") {
    // "\uE000" < "\uD83D\uDE00" in UTF-8 byte order, the reverse of
    // String.compareTo; the rounds (gate 0) agree with the local fold
    def sp(ps: (String, String)*) = ps.toSeq.toDF("id_a", "id_b")
    val run = (gate: Long) => withGate(gate) {
      val dir = tmpDir("clidx_utf8")
      ClusterIndex.build(spark, sp(("\uD83D\uDE00", "\uF8FF")), dir, "d")
      ClusterIndex.fold(spark, sp(("\uF8FF", "\uE000"), ("y", "y")), dir,
        "d")
        .count()
      ClusterIndex.labels(spark, dir, "d").select("node", "cluster_id")
        .as[(String, String)].collect.toMap
    }
    val local = run(Long.MaxValue)
    assert(local.values.toSet == Set("\uE000") && local.size == 3)
    assert(run(0L) == local)
  }

  test("below the size gate build writes its labels as one file") {
    val seed = pairs((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L), (9L, 10L))
    val built = (gate: Long) => withGate(gate) {
      val dir = tmpDir("clidx_build_files")
      ClusterIndex.build(spark, seed, dir, "d")
      val parts = new java.io.File(s"$dir/d.clusterindex/v1/labels")
        .list().count(_.endsWith(".parquet"))
      (parts, lab(ClusterIndex.labels(spark, dir, "d")))
    }
    val (parts, labels) = built(Long.MaxValue)
    assert(parts == 1, s"$parts part files")
    assert(labels == oneShot(seed) && labels == built(0L)._2)
  }
}
