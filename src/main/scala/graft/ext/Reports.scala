package graft.ext

import graft.io.{VersionPointer, VersionedIndex}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stream-maintained mergeable reports — the library form of the
  * "foreachBatch folds a per-batch report into a persisted running
  * report" pattern (Gopher rule cards, dataset cards, corpus profiles).
  *
  * State lives under `stateDir` as versioned parquet (`v<N>/`) behind
  * the shared [[graft.io.VersionPointer]] manifest: each fold publishes
  * the NEXT version through [[graft.io.VersionedIndex.publish]] — write
  * its dir, then commit it with one create-only manifest PUT
  * — no `java.io.File`, no renames, nothing a rename-less object store
  * can tear. A crash mid-fold leaves an uncommitted orphan dir that
  * readers never see and the retry overwrites; newest-2 version
  * retention keeps the previous state readable for any in-flight reader
  * while superseded versions are GC'd.
  *
  * Scale shape: the state is a REPORT (rules × counters, cards,
  * profiles — bounded rows), so each fold's IO is report-sized, never
  * corpus-sized; the merge runs distributed through whatever `merge`
  * plan the caller supplies. For counter reports keyed by a column set,
  * [[foldSummed]] is the canonical merge: union + groupBy(keys) + sum of
  * every numeric counter, exactly associative, so any batch slicing of
  * the stream folds to the same report as one batch over the union.
  */
object Reports {

  private def versionDir(stateDir: String, v: Int): String =
    s"$stateDir/v$v"

  /** The current committed report, if any fold has committed. */
  def current(spark: SparkSession, stateDir: String): Option[DataFrame] =
    VersionPointer.current(spark, stateDir)
      .map(v => spark.read.parquet(versionDir(stateDir, v)))

  /** Remove all report state (Hadoop FS recursive delete — works on any
    * scheme, unlike a java.io.File delete).
    */
  def reset(spark: SparkSession, stateDir: String): Unit =
    VersionPointer.dropDir(spark, stateDir)

  /** Fold one batch's report into the maintained state: the committed
    * state (if any) merges with `batchReport` via `merge`, the result is
    * written as version N+1 and committed. Single-writer (the streaming
    * foreachBatch contract — micro-batches are sequential).
    */
  def fold(
      spark: SparkSession, stateDir: String, batchReport: DataFrame)(
      merge: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val prev = VersionPointer.current(spark, stateDir)
    val next = prev match {
      case Some(v) =>
        merge(spark.read.parquet(versionDir(stateDir, v)), batchReport)
      case None => batchReport
    }
    val nv = prev.getOrElse(0) + 1
    // newest-2 retention: v(N-1) stays for in-flight readers
    VersionedIndex(spark, stateDir, "report").publish(nv, retainVersions = 2)(
      next.coalesce(1).write.mode("errorifexists")
        .parquet(versionDir(stateDir, nv)))
    spark.read.parquet(versionDir(stateDir, nv))
  }

  /** The canonical counter-report fold: rows keyed by `keys`, every
    * other column an additive counter — union + groupBy + sum, column
    * order preserved from `batchReport`. Exactly associative (integer
    * sums), so stream slicing cannot change the maintained report.
    */
  def foldSummed(
      spark: SparkSession, stateDir: String, batchReport: DataFrame,
      keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "foldSummed: at least one key column")
    val counters = batchReport.columns.filterNot(keys.contains)
    require(counters.nonEmpty,
      "foldSummed: report has no counter columns beside the keys")
    fold(spark, stateDir, batchReport) { (prev, fresh) =>
      prev.unionByName(fresh)
        .groupBy(keys.map(col): _*)
        .agg(sum(counters.head).as(counters.head),
          counters.tail.map(c => sum(c).as(c)): _*)
        .select(batchReport.columns.map(col): _*)
    }
  }
}
