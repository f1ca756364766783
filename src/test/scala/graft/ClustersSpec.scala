package graft

import graft.ext.Clusters
import graft.io.VersionedIndex

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

class ClustersSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Clusters.connectedComponents(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Reference union-find over the same edges. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("path graph collapses to its minimum") {
    val edges = (1L until 10L).map(i => (i, i + 1))
    val got = cc(edges)
    assert(got == (1L to 10L).map(_ -> 1L).toMap)
  }

  test("cycle and disjoint components") {
    val edges = Seq((5L, 6L), (6L, 7L), (7L, 5L), (20L, 30L))
    val got = cc(edges)
    assert(got == Map(5L -> 5L, 6L -> 5L, 7L -> 5L, 20L -> 20L, 30L -> 20L))
  }

  test("matches union-find on a pseudo-random graph") {
    // Deterministic LCG so the suite has no RNG state.
    var s = 12345L
    def next(): Long = { s = (s * 1103515245L + 12345) % 2147483647L; s }
    val edges = (1 to 300).map(_ => (next() % 100, next() % 100))
      .filter { case (a, b) => a != b }
    assert(cc(edges) == unionFind(edges))
  }

  test("transitive near-dups land in one cluster (A~B, B~C, no A~C pair)") {
    val got = cc(Seq((1L, 2L), (2L, 3L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("dedupClusters labels singletons and flags one canonical per cluster") {
    val nodes = (1L to 6L).toDF("id")
    val edges = Seq((2L, 4L), (4L, 6L)).toDF("src", "dst")
    val rows = Clusters.dedupClusters(nodes, "id", edges)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)
    assert(rows.toSeq == Seq(
      (1L, 1L, 1L, true), (2L, 2L, 3L, true), (3L, 3L, 1L, true),
      (4L, 2L, 3L, false), (5L, 5L, 1L, true), (6L, 2L, 3L, false)))
    // Exactly one canonical row per cluster.
    val perCluster = rows.groupBy(_._2).values
    assert(perCluster.forall(g => g.count(_._4) == 1))
  }

  test("empty edge set yields empty labels") {
    val empty: DataFrame = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Clusters.connectedComponents(empty).isEmpty)
  }

  private def lpa(edges: Seq[(Long, Long)], iters: Int = 2,
      parts: Int = 3): Map[Long, Long] =
    Clusters.labelPropagation(
      edges.toDF("a", "b").repartition(parts), iters)
      .as[(Long, Long)].collect().toMap

  test("LPA separates two cliques joined by one bridge; CC merges them") {
    val cliqueA = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val cliqueB = for (i <- 11L to 14L; j <- (i + 1) to 14L) yield (i, j)
    val edges = cliqueA ++ cliqueB ++ Seq((4L, 11L)) // one bridge
    val labs = lpa(edges)
    val commA = (1L to 4L).map(labs).toSet
    val commB = (11L to 14L).map(labs).toSet
    assert(commA.size == 1, s"clique A not uniform: $commA")
    assert(commB.size == 1, s"clique B not uniform: $commB")
    assert(commA != commB, "bridge merged the cliques")
    // connected components DO merge them — the contrast LPA exists for
    val ccLabs = cc(edges.map { case (a, b) => (a, b) })
    assert(ccLabs.values.toSet.size == 1)
  }

  test("LPA is deterministic and partition-invariant") {
    val edges = (1L to 30L).flatMap(i =>
      Seq((i, (i * 7) % 30 + 1), (i, (i * 11) % 30 + 1)))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    assert(lpa(edges, parts = 1) == lpa(edges, parts = 13))
    assert(lpa(edges, iters = 1, parts = 2) == lpa(edges, iters = 1, parts = 7))
  }

  /** Reference union-find with min roots under `lt`, dropping null
    * endpoints and self-loops: node → component minimum.
    */
  private def refRoots[T](edges: Seq[(T, T)], lt: (T, T) => Boolean)
      : Map[Any, Any] = {
    val parent = scala.collection.mutable.Map[T, T]()
    def find(x: T): T = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      if (a != null && b != null && a != b) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
      }
    }
    parent.keys.map(k => (k: Any) -> (find(k): Any)).toMap
  }

  /** Spark's string order: unsigned UTF-8 bytes (U+E000–U+FFFF sort
    * before supplementary characters, unlike `String.compareTo`).
    */
  private def utf8Lt(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(
      a.getBytes("UTF-8"), b.getBytes("UTF-8")) < 0

  private def labelsOf(df: DataFrame): Map[Any, Any] =
    df.collect().map(r => r.get(0) -> r.get(1)).toMap

  /** Labels from the driver-local path and from the rounds (gate 0),
    * each checked to have taken its path.
    */
  private def bothPaths(edges: DataFrame): (Map[Any, Any], Map[Any, Any]) = {
    val local = Clusters.connectedComponents(edges)
    assert(local.isLocal, "below the gate the labels are a LocalRelation")
    val rounds = withGate(0L) {
      val out = Clusters.connectedComponents(edges)
      assert(!out.isLocal)
      try labelsOf(out) finally VersionedIndex.releaseCheckpoint(out)
    }
    (labelsOf(local), rounds)
  }

  /** Ids 0–11 (or null): small enough that self-loops, duplicate and
    * reversed edges are common.
    */
  private val longEdges: Gen[List[(Option[Long], Option[Long])]] = {
    val id = Gen.frequency(12 -> Gen.choose(0L, 11L).map(Option(_)),
      1 -> Gen.const(Option.empty[Long]))
    Gen.choose(0, 30).flatMap(Gen.listOfN(_, Gen.zip(id, id)))
  }

  /** One- and two-atom strings mixing ASCII, U+E000–U+FFFF and
    * supplementary characters, or null.
    */
  private val stringEdges: Gen[List[(String, String)]] = {
    val atoms = Seq("a", "b", "\uE000", "\uFFFD", "\uF8FF",
      "\uD83D\uDE00", "\uD800\uDC00")
    val atom = Gen.oneOf(atoms)
    val id = Gen.frequency(
      4 -> atom, 4 -> Gen.zip(atom, atom).map { case (x, y) => x + y },
      1 -> Gen.const(null: String))
    Gen.choose(0, 30).flatMap(Gen.listOfN(_, Gen.zip(id, id)))
  }

  test("driver-local labels equal the rounds and a reference union-find " +
    "on random long-id graphs") {
    (Nil +: samples(longEdges, 8, 20261L)).zipWithIndex.foreach {
      case (es, i) =>
        val (local, rounds) = bothPaths(es.toDF("src", "dst"))
        val want = refRoots[Any](
          es.map { case (a, b) => (a.orNull, b.orNull) },
          (x, y) => x.asInstanceOf[Long] < y.asInstanceOf[Long])
        assert(local == want && rounds == want, s"iteration $i: $es")
    }
  }

  test("driver-local labels equal the rounds and a reference union-find " +
    "on random string-id graphs in UTF-8 byte order") {
    val all = samples(stringEdges, 8, 7331L)
    // the sample must exercise the order where UTF-16 and UTF-8 disagree
    assert(all.exists(es => refRoots[String](es, utf8Lt) !=
      refRoots[String](es, _ < _)))
    (Nil +: all).zipWithIndex.foreach { case (es, i) =>
      val (local, rounds) = bothPaths(es.toDF("src", "dst"))
      assert(local == refRoots[String](es, utf8Lt) && rounds == local,
        s"iteration $i: $es")
    }
  }

  test("below the size gate connectedComponents runs at most 2 jobs and " +
    "releases its checkpoint") {
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L), (3L, 3L)).toDF("src", "dst")
    var out: DataFrame = null
    val jobs = jobsRunBy {
      leavesNoRdds { out = Clusters.connectedComponents(edges) }
    }
    assert(jobs <= 2, s"$jobs jobs")
    assert(jobsRunBy(labelsOf(out)) == 0)
    assert(labelsOf(out) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L,
      8L -> 7L))
  }

  test("the rounds keep only the checkpoint behind the returned frame") {
    val edges = (1L until 12L).map(i => (i + 1, i)).toDF("src", "dst")
    var out: DataFrame = null
    val left = withGate(0L) {
      rddsLeftBy { out = Clusters.connectedComponents(edges) }
    }
    val backing = out.queryExecution.logical.collect {
      case r: LogicalRDD => r.rdd.id
    }.toSet
    assert(backing.size == 1 && left.keySet == backing, left.values)
    assert(labelsOf(out) == (1L to 12L).map(_ -> 1L).toMap)
    VersionedIndex.releaseCheckpoint(out)
  }
}
