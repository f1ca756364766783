package graft.conf

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scale-adaptive partition sizing (guide §2.2: size partitions to bytes,
  * never to a constant tuned for one box). Everything here derives a
  * partition count from an INPUT-SIZE measurement and two conf knobs, so
  * the same code picks 1 partition for a KB-sized micro-batch on a laptop
  * and thousands for a TB-sized backlog on a cluster:
  *
  *  - `spark.graft.shuffle.targetPartitionBytes` (default 32 MiB): the
  *    post-shuffle bytes one partition should hold. Production guidance is
  *    the guide's 100 MB–1 GB band; the default sits below it because
  *    these helpers size STATEFUL-operator and fold-scoped shuffles,
  *    where per-partition state-store overhead argues for the low end.
  *  - `spark.graft.shuffle.maxScopedPartitions` (default 65536): safety
  *    ceiling.
  *
  * Used by the streaming queries (state-store partition count is pinned
  * into the checkpoint at stream start — it must be sized to expected
  * state volume, not inherited from the session's batch default) and by
  * the index-fold bodies (a fold over a delta-sized batch should not pay
  * 32-task stages per micro-shuffle).
  */
object Tuning {

  private def confLong(
      spark: SparkSession, key: String, dflt: Long): Long =
    spark.conf.getOption(key).map(_.toLong).getOrElse(dflt)

  /** Partition count for `bytes` of expected shuffle/state volume. */
  def partitionsForBytes(spark: SparkSession, bytes: Long): Int = {
    val target = confLong(
      spark, "spark.graft.shuffle.targetPartitionBytes", 32L * 1024 * 1024)
    val ceil = confLong(
      spark, "spark.graft.shuffle.maxScopedPartitions", 65536L)
    val want = (bytes + target - 1) / math.max(1L, target)
    math.max(1L, math.min(want, ceil)).toInt
  }

  /** Total size of the files under `path` (a directory or one file; 0
    * when it does not exist), measured through the Hadoop `FileSystem`
    * of its scheme — the streaming queries' backlog measurement (at
    * stream start the whole backlog is the upper bound of state volume).
    */
  def dirBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    try p.getFileSystem(spark.sessionState.newHadoopConf())
      .getContentSummary(p).getLength
    catch { case _: java.io.FileNotFoundException => 0L }
  }

  /** Summed size estimate of `dfs` from Catalyst statistics (exact file
    * bytes for file-backed frames; estimates propagate through
    * projections), saturating at `Long.MaxValue` — the value a frame
    * without file statistics reports. Cheap — a driver-side plan read, no
    * job.
    */
  def estimatedBytes(dfs: DataFrame*): Long = {
    val s = dfs.map(_.queryExecution.optimizedPlan.stats.sizeInBytes).sum
    if (s.isValidLong) s.toLong else Long.MaxValue
  }

  /** Size-gated fixed-cost scope for index folds / maintenance bodies
    * (guide §1.2 step 1 + §2.2). Under AQE every Exchange materializes
    * as its OWN Spark job (a query stage), each costing ~100 ms of
    * scheduling/planning fixed overhead regardless of data volume — the
    * right trade for TB shuffles (runtime coalescing, skew splits), pure
    * waste for a delta-sized fold whose whole working set is a few MB
    * (measured: q330's maintenance pipeline ran 160 one-stage jobs).
    * Below `spark.graft.smallInput.maxBytes` (default 64 MiB) this runs
    * `body` with AQE off and shuffle partitions derived from `bytes`, so
    * each action is ONE job; at or above the gate `body` runs unchanged —
    * a 100 TB fold keeps the full AQE machinery. The gate input is a
    * MEASURED size (staged backlog bytes or Catalyst scan stats), never a
    * core count, so the decision scales with data, not with the box.
    */
  def withSmallInputScope[A](
      spark: SparkSession, bytes: Long)(body: => A): A =
    if (!isSmallInput(spark, bytes)) body
    else {
      val pKey = "spark.sql.shuffle.partitions"
      val aKey = "spark.sql.adaptive.enabled"
      val prevP = spark.conf.get(pKey)
      val prevA = spark.conf.get(aKey, "true")
      spark.conf.set(pKey, partitionsForBytes(spark, bytes).toString)
      spark.conf.set(aKey, "false")
      try body
      finally { spark.conf.set(pKey, prevP); spark.conf.set(aKey, prevA) }
    }

  /** The size gate itself: `bytes` of measured input is below
    * `spark.graft.smallInput.maxBytes` (default 64 MiB). With
    * [[smallInputRows]], the one place that key is read —
    * [[withSmallInputScope]] and the operators that
    * switch to a driver-local algorithm below the gate decide alike:
    * `Clusters.connectedComponents`; the three ingest folds
    * `DedupIndex.fold` (and `pairsAgainst`), `ClusterIndex.fold` and
    * `SearchIndex.fold`, which read their batch with
    * `io.DriverScan.local` and sign, match, label and write on the
    * driver; `SearchIndex.topK`, whose driver-resident postings hold at
    * most [[smallInputRows]] rows; and the single-file parquet
    * keep-last merge and Singer exact mode, read through `io.DriverScan`.
    */
  def isSmallInput(spark: SparkSession, bytes: Long): Boolean =
    bytes < smallInputMaxBytes(spark)

  /** The most rows of `rowBytes` each that stay below the size gate: the
    * bound for an action that collects rows it has not counted.
    */
  def smallInputRows(spark: SparkSession, rowBytes: Long): Long =
    math.max(0L, smallInputMaxBytes(spark) - 1) / rowBytes

  private def smallInputMaxBytes(spark: SparkSession): Long =
    confLong(spark, "spark.graft.smallInput.maxBytes", 64L * 1024 * 1024)
}
