package graft.ext

import scala.jdk.CollectionConverters._

import graft.conf.Tuning
import graft.io.VersionedIndex

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Duplicate-cluster resolution: connected components over a near-duplicate
  * pair list, so a dedup pass can pick ONE canonical survivor per cluster
  * (pairs alone under-delete: transitive dups A~B, B~C must collapse to one
  * cluster even when A~C was never emitted as a pair).
  *
  * The reference engine has no graph step at all — its dedup surface stops
  * at per-key `drop_duplicates` (/root/reference/src/etl-utils.ts:333-359,
  * the keep-last PK dedup). Clustering near-dup PAIRS is part of the
  * LLM-training-data extension surface, built Spark-first.
  *
  * Algorithm: alternating large-star / small-star contraction (Kiveris,
  * Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected Components in
  * MapReduce and Beyond", SoCC'14). Each round is two
  * groupBy-shuffles over the EDGE list only (never the vertex cross
  * product); rounds converge in O(log² n) with high probability and in
  * practice 2-4 rounds for near-dup graphs, whose components are tiny
  * relative to the corpus. All arithmetic is deterministic min-comparison,
  * so the result is partition-invariant and oracle-replayable.
  *
  * 100 TB shape: the working set is the edge list (|pairs|, typically ≪
  * |docs|), not the corpus. Each iteration is two shuffles keyed by node id
  * — AQE-splittable equi-aggregations carrying two long columns. Lineage is
  * truncated every round with localCheckpoint so the plan does not grow
  * with iteration count (on a cluster: checkpoint to the shuffle service /
  * reliable storage instead). Convergence is detected with a one-row
  * aggregate (count + order-invariant xxhash64 sum), one job per round.
  *
  * Delta-sized graphs skip the rounds: below the size gate
  * ([[graft.conf.Tuning.isSmallInput]], [[EdgeBytes]] per edge) the edges
  * are collected and solved by a union-find on the driver ([[minRoots]]),
  * which [[ClusterIndex.fold]] shares.
  */
object Clusters {

  /** Bytes one edge is charged against the size gate: a (src, dst) pair
    * with shuffle overhead.
    */
  private[ext] val EdgeBytes = 64L

  /** Id types the driver-local solve takes: their external values hash
    * and compare equal exactly when Spark's `=` says so. Floating,
    * binary, collated-string and nested ids always take the rounds.
    */
  private[ext] def driverSolvable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
        TimestampType | TimestampNTZType | _: DecimalType => true
    case st: StringType => st == StringType
    case _ => false
  }

  /** Union-find with min-id roots over `edges` (external values of a
    * `dt` column): every node of a kept edge mapped to its component's
    * minimum under Spark's ordering for `dt` — for strings the UTF-8 byte
    * order of `UTF8String`, not `String.compareTo`, so the roots equal
    * the rounds' `min`/`least`. Edges with a null endpoint and self-loops
    * are dropped, as `where(src =!= dst)` drops them.
    */
  private[ext] def minRoots(
      edges: Iterator[(Any, Any)], dt: DataType): Map[Any, Any] = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
    val ord = PhysicalDataType.ordering(dt)
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    val key = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      var y = x
      while (y != r) { val p = parent(y); parent(y) = r; y = p }
      r
    }
    def k(x: Any): Any = key.getOrElseUpdate(x, toCatalyst(x))
    edges.foreach { case (a, b) =>
      if (a != null && b != null && a != b) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          if (ord.lt(k(ra), k(rb))) parent(rb) = ra else parent(ra) = rb
        }
      }
    }
    parent.keysIterator.map(n => n -> find(n)).toMap
  }

  /** `pairs` as a two-column `dt` frame over a `LocalRelation`: later
    * plans read a `LocalTableScan`, no job.
    */
  private[ext] def localFrame(
      spark: SparkSession, dt: DataType, pairs: Iterable[(Any, Any)],
      a: String, b: String): DataFrame =
    spark.createDataFrame(
      pairs.iterator.map { case (x, y) => Row(x, y) }.toSeq.asJava,
      StructType(Seq(StructField(a, dt, nullable = false),
        StructField(b, dt, nullable = false))))

  /** One large-star round: every node u connects its strictly-larger
    * neighbors to `m(u) = min(N(u) ∪ u)`. Input must be the symmetric
    * (both-directions) edge view; output is again directed large→small.
    */
  private def largeStar(sym: DataFrame): DataFrame = {
    val m = sym.groupBy("src")
      .agg(min("dst").as("__mn"))
      .select(col("src"), least(col("src"), col("__mn")).as("m"))
    sym.join(m, "src")
      .where(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  /** One small-star round: with edges oriented large→small, every node u
    * connects all of its (smaller) neighbors AND ITSELF to the minimum.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val oriented = e.select(
      greatest(col("src"), col("dst")).as("src"),
      least(col("src"), col("dst")).as("dst"))
    val m = oriented.groupBy("src").agg(min("dst").as("m"))
    val neighborEdges = oriented.join(m, "src")
      .select(col("dst").as("src"), col("m").as("dst"))
    val selfEdges = m.select(col("src"), col("m").as("dst"))
    neighborEdges.union(selfEdges)
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  /** Checkpoint an edge frame and compute its order-invariant
    * fingerprint — (count, sum of per-edge hashes) — IN THE SAME JOB:
    * the fingerprint rides the checkpoint materialization as an
    * `observe()` metric instead of a second aggregation job per round
    * (r10, guide §1.2 — the loop's fixed cost is jobs, not bytes). Two
    * passes of the loop with equal fingerprints ⇒ converged (hash
    * collisions would need a sum-of-xxhash64 collision — and the loop
    * still caps at `maxIters`, so a collision can only stop early on an
    * already-star-shaped set, which the final star check would surface
    * in specs).
    */
  private def checkpointFingerprinted(
      e: DataFrame): (DataFrame, (Long, String)) = {
    // Sum in DECIMAL(38,0): xxhash64 sums overflow LongType under ANSI.
    val obs = org.apache.spark.sql.Observation()
    val ck = e.observe(obs,
      count(lit(1)).as("n"),
      coalesce(sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("h"))
      .localCheckpoint()
    val m = obs.get
    (ck, (m("n").asInstanceOf[Long],
      m("h").asInstanceOf[java.math.BigDecimal].toPlainString))
  }

  /** Connected components of the undirected graph given by `edges`
    * (columns `src`, `dst`, same orderable numeric/string type). Returns
    * one row per node that appears in `edges`: (`node`, `cluster_id`)
    * where `cluster_id` is the component's minimum node id. Deterministic.
    *
    * Below the size gate (the edge count the first checkpoint measures,
    * at [[EdgeBytes]] each) the edges are collected, the checkpoint is
    * released and [[minRoots]] solves them on the driver: two jobs, and
    * the labels come back as a `LocalRelation`. At or above the gate the
    * star-contraction rounds run; each superseded round's checkpoint is
    * released, and the final round's checkpoint backs the returned lazy
    * frame: a caller that owns the last action over it releases it with
    * `VersionedIndex.releaseCheckpoint` (ClusterIndex does); otherwise
    * it stays persisted until a GC lets the context cleaner drop it.
    */
  def connectedComponents(edges: DataFrame, maxIters: Int = 25): DataFrame = {
    val spark = edges.sparkSession
    // NOTE (r9): the eager per-round localCheckpoint here is LOAD-BEARING
    // and must not become a lazy persist — each round's plan references
    // the previous round ~16× (sym doubles it, largeStar/smallStar each
    // reference their input several times), so without severing the
    // LOGICAL plan the tree grows 16^rounds and Catalyst's
    // canonicalization/constraint propagation explodes long before
    // execution (measured: q330 OOM at round ~2 when tried).
    // No distinct here: under AQE its exchange would cost this unscoped
    // action a second job. Duplicates only inflate the gate's count; the
    // driver solve ignores them and every round's output is distinct.
    var (e, prev) = checkpointFingerprinted(
      edges.select(col("src"), col("dst")).where(col("src") =!= col("dst")))
    val dt = e.schema("src").dataType
    if (dt == e.schema("dst").dataType && driverSolvable(dt) &&
        Tuning.isSmallInput(spark, prev._1 * EdgeBytes)) {
      val rows = try e.collect() finally VersionedIndex.releaseCheckpoint(e)
      return localFrame(spark, dt,
        minRoots(rows.iterator.map(r => (r.get(0), r.get(1))), dt),
        "node", "cluster_id")
    }
    var converged = prev._1 == 0L
    var it = 0
    while (!converged && it < maxIters) {
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      // r10: rounds run over the checkpointed (src, dst) long-pair table
      // whose row count the fingerprint just MEASURED — size-gate the
      // fixed-cost scope on those bytes, so small contractions run one job
      // per round while a billion-edge round keeps AQE + default
      // partitions. The INITIAL checkpoint above is deliberately
      // unscoped: its input subtree is the caller's (possibly heavy, e.g.
      // an exact-verify join) plan and must keep its parallelism.
      val (next, cur) = Tuning.withSmallInputScope(
        spark, prev._1 * EdgeBytes) {
        checkpointFingerprinted(smallStar(largeStar(sym)))
      }
      converged = cur == prev
      prev = cur
      VersionedIndex.releaseCheckpoint(e)
      e = next
      it += 1
    }
    // At the fixpoint the edge set is a star forest: (member, root) with
    // root = component min. Roots label themselves; isolated input
    // self-loops were dropped up front, so nodes only ever appear here if
    // they had a real neighbor.
    val members = e.select(col("src").as("node"), col("dst").as("cluster_id"))
    val roots = e.select(col("dst").as("node"), col("dst").as("cluster_id"))
      .distinct()
    members.union(roots).distinct()
  }

  /** Full dedup-cluster assignment: every row of `nodes` gets a
    * `cluster_id` (its component min over `edges`, or itself when it has
    * no near-duplicate), a `cluster_size`, and an `is_canonical` flag
    * marking the single survivor per cluster. The survivor rule — keep the
    * minimum id — is deterministic and needs no tiebreak state.
    */
  def dedupClusters(
      nodes: DataFrame,
      idCol: String,
      edges: DataFrame): DataFrame = {
    val labels = connectedComponents(edges)
    val assigned = nodes.select(col(idCol))
      .join(labels.withColumnRenamed("node", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
    val sizes = assigned.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    assigned.join(sizes, "cluster_id")
      .select(col(idCol), col("cluster_id"), col("cluster_size"),
        (col(idCol) === col("cluster_id")).as("is_canonical"))
  }

  /** Synchronous label propagation (community detection) with a
    * deterministic tie-break: labels start as node ids; each iteration
    * every node adopts the most frequent label among its NEIGHBORS
    * (ties → smallest label). Unlike [[connectedComponents]] (which
    * answers "is there any path"), a few LPA rounds find DENSE groups —
    * two components bridged by one edge stay separate communities.
    * Fixed iteration count + deterministic tie-break = engine-replayable
    * (classic async LPA is run-order-dependent and could never be
    * oracle-adjudicated).
    *
    * `edges`: undirected distinct pairs in columns (a, b), a ≠ b.
    * Output: (v, lab) for every node incident to an edge.
    *
    * 100 TB shape: per iteration, one join of the symmetrized edge list
    * against the |V|-row label table (labels broadcast when V is
    * dimension-sized; otherwise both shuffle on the join key) and one
    * (node, label) count + argmax — the standard DataFrame LPA round.
    * Edge rows carry two longs; labels one long per node.
    */
  def labelPropagation(edges: DataFrame, iters: Int = 2): DataFrame = {
    require(iters >= 1, "labelPropagation: need at least one iteration")
    // r9 execution reshape (guide §2.4): the symmetrized edge list
    // materializes ONCE (eager localCheckpoint — read every iteration);
    // the label chain itself stays LAZY (each round's labels feed exactly
    // one consumer, the next round), so the whole propagation runs inside
    // the caller's single action instead of one eager checkpoint job per
    // round. The fixed small `iters` bounds the plan depth.
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(edges.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint()
    var lbl = sym.select(col("src").as("v")).distinct()
      .withColumn("lab", col("v"))
    for (_ <- 1 to iters) {
      val nb = sym
        .join(lbl.select(col("v").as("__nv"), col("lab").as("nlab")),
          col("dst") === col("__nv"))
        .groupBy("src", "nlab")
        .agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("src").orderBy(col("c").desc, col("nlab"))
      lbl = nb.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("src").as("v"), col("nlab").as("lab"))
    }
    lbl
  }
}
