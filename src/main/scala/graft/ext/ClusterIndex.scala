package graft.ext

import graft.conf.Tuning
import graft.io.{DriverScan, SingleFile}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Persisted, incrementally-maintained dedup-CLUSTER labels — the third
  * stage of the maintained dedup pipeline and the artifact form of
  * [[Clusters.connectedComponents]]: [[DedupIndex]]/[[ApssIndex]] folds
  * emit each ingest batch's near-dup PAIRS; this folds those pairs into
  * persistent component labels so survivor selection (the q69 policy)
  * never recomputes connected components over the accumulated pair
  * history. Same commit discipline as its siblings
  * ([[graft.io.VersionPointer]]: create-only manifest PUTs, marker-gated
  * fold deltas, retention window + time-travel, idempotent
  * caller-supplied fold generations).
  *
  * Maintenance algebra (what makes a fold DELTA-sized): stored
  * components are already collapsed to their min-id representative, so a
  * fresh pair (a, b) carries exactly the information "rep(a) ~ rep(b)".
  * A fold maps each fresh endpoint to its stored representative (itself
  * when unseen), runs connected components over THAT mapped edge list —
  * |batch pairs| edges, never the accumulated graph — and relabels only
  * the members of touched components (a semi-join on the old
  * representative). The min-id invariant is preserved exactly: the
  * merged component's min is the min over its old representatives and
  * its new node ids, which is precisely what the mapped-edge CC
  * computes. Maintained labels are therefore identical to a one-shot
  * [[Clusters.connectedComponents]] over the accumulated pair set
  * (q329 adjudicates; ClusterIndexSpec pins fold-order invariance and
  * the new-node-becomes-min case).
  *
  * Layout: `v<N>/labels` — (node, cluster_id), the base generation;
  * `v<N>/deltas/g<G>/labels` — the CHANGED labels of fold G, committed
  * by a create-only `v<N>/_folds/g<G>.ok` marker. Reads resolve
  * keep-last by generation per node (the [[graft.operators
  * .BucketedSnapshot]] MOR discipline applied to a label table);
  * [[compact]] folds the deltas back into one base. Nodes that never
  * appeared in a pair have no row — the [[Clusters.connectedComponents]]
  * contract; join `labels()` LEFT from the corpus and coalesce to the
  * node id for the every-doc view.
  */
object ClusterIndex {

  private def index(spark: SparkSession, dir: String, name: String) =
    graft.io.VersionedIndex(spark, s"$dir/$name.clusterindex",
      s"cluster index '$name' at $dir")

  def currentVersion(
      spark: SparkSession, dir: String, name: String): Option[Int] =
    index(spark, dir, name).current

  /** Committed versions still inside the retention window. */
  def versions(
      spark: SparkSession, dir: String, name: String): Seq[Int] =
    index(spark, dir, name).versions

  /** Generation `g`'s labels: the base at 0, else fold g's delta — all
    * read with the base's memoized (node, cluster_id) schema.
    */
  private def labelsAt(
      ix: graft.io.VersionedIndex, v: Int, g: Long): DataFrame =
    ix.read(ix.path(v, "labels"),
      if (g == 0L) ix.path(v, "labels") else s"${ix.delta(v, g)}/labels")

  /** Committed labels of version `v` resolved keep-last by generation
    * per node (base = generation 0).
    */
  private def resolved(ix: graft.io.VersionedIndex, v: Int): DataFrame = {
    val all = (0L +: ix.committedFolds(v))
      .map(g => labelsAt(ix, v, g).withColumn("__g", lit(g)))
      .reduce(_.unionByName(_))
    val w = Window.partitionBy("node").orderBy(col("__g").desc)
    all.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select("node", "cluster_id")
  }

  /** Build version 1 (or N+1 — a rebuild) from a pair list
    * (columns `id_a`, `id_b`), then apply the retention window.
    */
  def build(
      spark: SparkSession, pairs: DataFrame, dir: String, name: String,
      retainVersions: Int = 2): Unit = {
    val ix = index(spark, dir, name)
    val v = ix.current.getOrElse(0) + 1
    ix.publish(v, retainVersions) {
      val labels = Clusters.connectedComponents(
        pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      // driver-solved labels are below the gate: one file, as a fold's
      // delta is, since every later resolve opens each of its files
      val out = if (labels.isLocal) labels.coalesce(1) else labels
      // the write is the labels' only reader: release the rounds' final
      // checkpoint behind them (a no-op for driver-solved labels)
      try out.write.mode("errorifexists").parquet(ix.path(v, "labels"))
      finally graft.io.VersionedIndex.releaseCheckpoint(labels)
    }
  }

  /** The maintained labels: (node, cluster_id) for every node that has
    * appeared in any folded pair, resolved to the current (or a retained
    * historical) version's state.
    */
  def labels(
      spark: SparkSession, dir: String, name: String,
      atVersion: Option[Int] = None): DataFrame = {
    val ix = index(spark, dir, name)
    resolved(ix, ix.resolve(atVersion))
  }

  /** The CHANGED labels a batch of fresh pairs implies against prior
    * labels, computed with the distributed [[Clusters.connectedComponents]]
    * rounds — [[fold]]'s path at or above the size gate
    * ([[foldOnDriver]] is the driver twin below it). Output:
    * (node, cluster_id) rows for exactly the nodes whose label changes
    * (including fresh nodes' first labels), plus the cache handle of the
    * mapped-edge CC output so the caller can unpersist it, and release
    * the round checkpoint behind it, once its single action has run —
    * the operator owns the action in [[fold]], so it owns the cleanup too
    * (r10, advisor). `fresh` must already be MATERIALIZED (checkpointed)
    * pairs — the three references below (mapped edges + both endpoint
    * legs) read it without recomputation.
    */
  private def changedLabels(
      fresh: DataFrame, prior: DataFrame): (DataFrame, Seq[DataFrame]) = {
    // endpoints → stored representative (itself when unseen)
    val la = prior.select(col("node").as("id_a"), col("cluster_id").as("ra"))
    val lb = prior.select(col("node").as("id_b"), col("cluster_id").as("rb"))
    val mapped = fresh
      .join(la, Seq("id_a"), "left")
      .join(lb, Seq("id_b"), "left")
      .select(coalesce(col("ra"), col("id_a")).as("src"),
        coalesce(col("rb"), col("id_b")).as("dst"))
    // CC over |batch| mapped edges — representatives and fresh nodes only
    // (persist, not eager checkpoint: referenced twice, materialized by
    // the caller's single write action — r9)
    val cc = Clusters.connectedComponents(mapped)
      .select(col("node").as("rep"), col("cluster_id").as("new_root"))
      .persist()
    // stored members of touched components re-label when the root moved
    val relabeled = prior
      .join(cc, prior("cluster_id") === cc("rep"))
      .filter(col("new_root") =!= col("cluster_id"))
      .select(col("node"), col("new_root").as("cluster_id"))
    // fresh endpoints unseen so far: first labels (their rep is
    // themselves; absent from cc only when their every edge collapsed to
    // a self-loop, i.e. both endpoints shared one stored component —
    // then they were not unseen, contradiction — or the pair was (x, x))
    val endpoints = fresh.select(col("id_a").as("node"))
      .unionByName(fresh.select(col("id_b").as("node"))).distinct()
    val freshFirst = endpoints
      .join(prior.select("node"), Seq("node"), "left_anti")
      .join(cc, endpoints("node") === cc("rep"))
      .select(col("node"), col("new_root").as("cluster_id"))
    (relabeled.unionByName(freshFirst), Seq(cc))
  }

  /** [[changedLabels]] solved by the driver with no Spark job, for the
    * rows of `edges` (`id_a`, `id_b` of type `dt`, readable by
    * [[DriverScan]]), written as the one file of the delta dir `out`.
    * The committed labels of version `v` are read keep-last by generation
    * (one [[DriverScan]] read per generation, base first), the edges
    * mapped to their endpoints' representatives and solved by
    * [[Clusters.minRoots]]; the changed labels are the members of every
    * stored component whose root moved, plus the fresh nodes' first
    * labels. False, with nothing written, when a generation's files are
    * not readable on the driver or the labels held pass the gate's row
    * bound at [[Clusters.EdgeBytes]] each.
    */
  private def foldOnDriver(
      ix: graft.io.VersionedIndex, v: Int, edges: DataFrame, dt: DataType,
      out: String): Boolean = {
    val spark = ix.spark
    val maxRows = Tuning.smallInputRows(spark, Clusters.EdgeBytes)
    val toScala = CatalystTypeConverters.createToScalaConverter(dt)
    def value(r: InternalRow, i: Int): Any =
      if (r.isNullAt(i)) null else toScala(r.get(i, dt))
    val label = collection.mutable.HashMap.empty[Any, Any]
    val stored = (0L +: ix.committedFolds(v)).forall(g =>
      DriverScan.rows(labelsAt(ix, v, g).select("node", "cluster_id"))
        .exists(_.read(_.forall { r =>
          label(value(r, 0)) = value(r, 1)
          label.size <= maxRows
        })))
    val fresh = DriverScan.rows(edges).filter(_ => stored)
      .map(_.read(_.map(r => (value(r, 0), value(r, 1))).toVector))
    fresh.foreach { pairs =>
      def rep(x: Any): Any = label.getOrElse(x, x)
      val roots = Clusters.minRoots(
        pairs.iterator.map { case (a, b) => (rep(a), rep(b)) }, dt)
      val moved = roots.filter { case (r, root) =>
        root != r && label.get(r).contains(r)
      }
      val relabeled = label.iterator.flatMap { case (n, c) =>
        moved.get(c).map(n -> _)
      }
      val firsts = pairs.iterator.flatMap { case (a, b) => Iterator(a, b) }
        .filter(n => n != null && !label.contains(n))
        .flatMap(n => roots.get(n).map(n -> _))
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
      val changed = (relabeled ++ firsts).toMap
      SingleFile.delete(spark, out)
      SingleFile.writeParquetRows(spark,
        changed.iterator.map { case (n, c) =>
          InternalRow(toCatalyst(n), toCatalyst(c))
        },
        labelsAt(ix, v, 0L).select("node", "cluster_id").schema,
        s"$out/part-00000-${java.util.UUID.randomUUID}.parquet")
    }
    fresh.isDefined
  }

  /** Fold a batch of fresh near-dup pairs (columns `id_a`, `id_b` — a
    * [[DedupIndex.fold]]/[[ApssIndex.fold]] result) into the maintained
    * labels: compute the changed labels against the prior state, commit
    * them as this fold's marker-gated delta, and return them
    * (delta-sized — the downstream consumer's incremental feed).
    * `generation` is the caller's batch identity: a committed
    * generation replays its stored delta without writing.
    *
    * Below the size gate a fold runs no job for pairs the driver can
    * read (a [[DedupIndex.fold]] result below the gate is local) and one,
    * the bounded collect of [[DriverScan.local]], for any other: the
    * driver reads the labels, solves and writes the delta
    * ([[foldOnDriver]]). At or above the gate the pairs are checkpointed
    * and the distributed [[changedLabels]] runs.
    */
  def fold(
      spark: SparkSession, fresh: DataFrame, dir: String, name: String,
      generation: Option[Long] = None): DataFrame = {
    val ix = index(spark, dir, name)
    val v = ix.requireCurrent
    def described[A](g: Long)(body: => A) =
      graft.io.VersionedIndex.described(spark, "ClusterIndex.fold", name, v,
        Some(g))(body)
    val g = ix.fold(v, generation) { g => described(g) {
      val out = s"${ix.delta(v, g)}/labels"
      val dt = labelsAt(ix, v, 0L).schema("cluster_id").dataType
      val onDriver = Clusters.driverSolvable(dt) &&
        DriverScan.local(fresh.select(col("id_a").cast(dt).as("id_a"),
          col("id_b").cast(dt).as("id_b")))
          .exists(foldOnDriver(ix, v, _, dt, out))
      // above the gate the caller's fresh frame is typically an
      // UNMATERIALIZED index-fold result (bands join + exact verify over
      // a shingle-exploded working set) — materialize it FIRST, eagerly
      // and UNSCOPED, so the heavy verify keeps its parallelism, counting
      // the pairs on the same action via observe(). The prior resolve,
      // endpoint mapping, CC rounds over |batch| edges and the delta
      // write then run under the size-gated fixed-cost scope.
      if (!onDriver) {
        val obs = org.apache.spark.sql.Observation()
        val freshCk = fresh.select("id_a", "id_b")
          .observe(obs, count(lit(1)).as("n"))
          .localCheckpoint()
        val nPairs = obs.get("n").asInstanceOf[Long]
        val prior = resolved(ix, v)
        // the write is the last action over the checkpointed pairs and
        // the cached frames — release them all afterwards (the returned
        // frame reads the written delta) so a long-lived session calling
        // fold() repeatedly doesn't accumulate blocks
        try Tuning.withSmallInputScope(spark, nPairs * 32L) {
          // persist (not eager checkpoint): prior is referenced four ways
          // in changedLabels; the write action below materializes the
          // cache once
          prior.persist()
          val (changed, handles) = changedLabels(freshCk, prior)
          try changed.write.mode("overwrite").parquet(out)
          finally {
            (prior +: handles).foreach(_.unpersist())
            // the CC rounds' final checkpoint backs the cached output
            graft.io.VersionedIndex.releaseCheckpoint(handles: _*)
          }
        } finally graft.io.VersionedIndex.releaseCheckpoint(freshCk)
      }
    }}
    described(g)(labelsAt(ix, v, g))
  }

  /** Rewrite the resolved labels into one base at version N+1, pointer
    * promote, retention window — the amortized cleanup that bounds the
    * read-time keep-last window as fold deltas accumulate.
    */
  def compact(
      spark: SparkSession, dir: String, name: String,
      retainVersions: Int = 2): Unit = {
    val ix = index(spark, dir, name)
    val v = ix.requireCurrent
    val flat = resolved(ix, v).localCheckpoint()
    // the write is the checkpoint's only consumer
    try ix.publish(v + 1, retainVersions) {
      flat.write.mode("errorifexists").parquet(ix.path(v + 1, "labels"))
    } finally graft.io.VersionedIndex.releaseCheckpoint(flat)
  }
}
