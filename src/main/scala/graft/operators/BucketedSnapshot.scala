package graft.operators

import graft.io.{SingleFile, VersionPointer}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bucketed-by-PK snapshot layout — the 100 TB shape of the reference's
  * snapshot merge (ref: src/etl-utils.ts:258-355 for the semantics;
  * the layout itself is Spark-native extension surface).
  *
  * The plain snapshot merge ([[Upsert.keepLast]]) unions both sides and
  * shuffles EVERYTHING on the PK every fold — at a 100 TB snapshot with a
  * 100 GB nightly delta, that is a 100 TB shuffle to apply a 0.1% change.
  * This layout moves the snapshot's shuffle to write time, once, by
  * persisting it as a Spark bucketed external table (`CLUSTERED BY (pk)
  * INTO n BUCKETS`), and re-shapes the merge so only the DELTA ever
  * crosses the wire:
  *
  *   1. dedup the delta by PK (keep-last within the batch) — ONE shuffle,
  *      delta-sized, explicitly into `buckets` partitions so the join
  *      below needs no second exchange;
  *   2. `old LEFT ANTI JOIN delta` on the PK — the bucketed scan already
  *      satisfies the join's required distribution, so the snapshot side
  *      sort-merges with ZERO Exchange (BucketedSnapshotSpec pins exactly
  *      that plan shape);
  *   3. `unionByName(delta)` (allowMissingColumns — schema drift adds
  *      null-filled columns, same as keepLast);
  *   4. bucketed write of the union WITHOUT a repartition: the anti-join
  *      side is bucket-aligned (one task per bucket) and the delta side
  *      is hash-partitioned with the same key and modulus, so each task
  *      writes into exactly one bucket — at most two files per bucket per
  *      generation, which bucketed scans read natively. No shuffle at
  *      write either.
  *
  * Each fold writes a NEW versioned directory (`v1`, `v2`, …) under
  * `{dir}/{stream}.snapshot.bucketed/` and promotes it with a
  * [[graft.io.VersionPointer]] commit (one create-only manifest PUT —
  * no rename anywhere on the commit path, so the promote is safe on
  * object stores where rename is a non-atomic copy+delete). Versions
  * that fall out of the retention window lose their files and tables
  * after promotion.
  *
  * Catalog note: bucket metadata lives in the session catalog; a fresh
  * session re-registers the external table from the pointer + parquet
  * schema on first read ([[ensureTable]]), so the layout survives
  * restarts without a persistent metastore.
  *
  * Semantics deviations (documented):
  *  - unlike the reference's first-write path, the FIRST bucketed write
  *    also dedups by PK — the unique-PK invariant is what makes every
  *    later anti-join fold equal to [[Upsert.keepLast]], so the layout
  *    establishes it from generation one;
  *  - NULL primary keys are rejected at runtime (see [[dedupBatch]]);
  *    [[Upsert.keepLast]]'s window groups them, but a bucket-aligned
  *    equality join cannot, and silently re-inserting them every fold
  *    would be corruption.
  */
object BucketedSnapshot {

  private def layoutDir(snapshotDir: String, stream: String): String =
    s"$snapshotDir/$stream.snapshot.bucketed"

  /** Deterministic, catalog-legal table name, unique per (dir, stream,
    * version) so two snapshot dirs in one session never collide.
    */
  private def tableName(
      snapshotDir: String, stream: String, version: Int): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(snapshotDir.getBytes("UTF-8"))
      .take(4).map(b => f"$b%02x").mkString
    val safe = stream.replaceAll("[^A-Za-z0-9_]", "_")
    s"graft_snap_${safe}_${h}_v$version"
  }

  /** Current version from the pointer, if the layout exists. */
  private[graft] def currentVersion(
      spark: SparkSession, snapshotDir: String, stream: String): Option[Int] =
    VersionPointer.current(spark, layoutDir(snapshotDir, stream))

  /** One committed pointer state: version, buckets-recorded-at-write,
    * and (MOR layouts only) the highest RESERVED generation — the
    * manifest record `<version> <buckets> [<gen>] ok`. The bucket count
    * rides along so a later session cannot silently re-register the
    * table with a DIFFERENT count (the catalog would then claim an
    * alignment the files don't have — misread, not error); the
    * generation rides along so a MOR fold never has to scan the stored
    * table to find it (see [[foldMor]]).
    */
  private case class Pointer(
      version: Int, buckets: Option[Int], gen: Option[Long])

  private def pointer(
      spark: SparkSession, snapshotDir: String,
      stream: String): Option[Pointer] =
    VersionPointer.record(spark, layoutDir(snapshotDir, stream)).map(r =>
      Pointer(r.version, r.fields.headOption.map(_.toInt), r.fields.lift(1)))

  private def commit(
      spark: SparkSession, snapshotDir: String, stream: String,
      version: Int, buckets: Int, gen: Option[Long] = None): Unit =
    VersionPointer.commit(spark, layoutDir(snapshotDir, stream), version,
      buckets.toLong +: gen.toSeq)

  private def checkBuckets(
      spark: SparkSession, snapshotDir: String, stream: String,
      buckets: Int): Unit =
    pointer(spark, snapshotDir, stream).flatMap(_.buckets).foreach { b =>
      require(b == buckets,
        s"bucketed snapshot '$stream' at $snapshotDir was written with " +
          s"$b buckets; reading/folding with $buckets would misalign the " +
          "bucketed scan — pass the original count (re-bucket via compact " +
          "or a rewrite fold to change it)")
    }

  /** Register the external bucketed table for `version` if this session's
    * catalog doesn't have it yet (fresh-session recovery path).
    */
  private def ensureTable(
      spark: SparkSession, snapshotDir: String, stream: String,
      pk: Seq[String], buckets: Int, version: Int): String = {
    val tbl = tableName(snapshotDir, stream, version)
    if (!spark.catalog.tableExists(tbl)) {
      val path = s"${layoutDir(snapshotDir, stream)}/v$version"
      val schema = spark.read.parquet(path).schema
      val cols = pk.map(c => s"`$c`").mkString(", ")
      spark.sql(
        s"""CREATE TABLE `$tbl` (${schema.toDDL})
           |USING parquet
           |CLUSTERED BY ($cols) SORTED BY ($cols) INTO $buckets BUCKETS
           |LOCATION '$path'""".stripMargin)
    }
    tbl
  }

  /** The current snapshot as a BUCKETED scan (joins/aggs on the PK run
    * exchange-free), or None if no snapshot exists yet.
    */
  def read(
      spark: SparkSession, stream: String, snapshotDir: String,
      pk: Seq[String], buckets: Int): Option[DataFrame] = {
    checkBuckets(spark, snapshotDir, stream, buckets)
    currentVersion(spark, snapshotDir, stream).map { v =>
      spark.table(ensureTable(spark, snapshotDir, stream, pk, buckets, v))
    }
  }

  /** Keep-last dedup of one batch by PK: explicit `buckets`-way hash
    * partitioning (so the downstream join adds no second exchange), then
    * the same row_number discipline as [[Upsert.keepLast]].
    *
    * Null PKs are REJECTED at runtime (a row-level `assert_true` riding
    * the same pass — no extra scan): the merge join must use plain
    * equality to stay bucket-aligned (`<=>` rewrites the join keys to
    * `(coalesce(k), isnull(k))`, which disables the bucketed scan and
    * re-shuffles the whole snapshot), and under plain equality a null PK
    * would never match — it would silently re-insert on every fold.
    * Failing fast is the only non-corrupting option.
    */
  private def dedupBatch(
      df: DataFrame, pk: Seq[String], buckets: Int,
      tieBreak: Seq[String]): DataFrame = {
    // same ordering discipline as keepLast: tieBreak desc; with no
    // tieBreak the pick among in-batch duplicates is engine-arbitrary
    // (exactly keepLast's contract), constant-ordered here because
    // row_number demands SOME ordering
    val w = Window.partitionBy(pk.map(col): _*)
      .orderBy((tieBreak.map(desc) :+ lit(0).asc): _*)
    val nonNull = pk.map(col(_).isNotNull).reduce(_ && _)
    df
      // assert_true yields NULL when the guard holds; the coalesce keeps
      // the filter a tautology so rows pass — but the expression sits in
      // a Filter, which column pruning can never drop
      .filter(coalesce(
        assert_true(nonNull,
          lit(s"bucketed snapshot: NULL primary key (${pk.mkString(",")}) " +
            "— null PKs are not supported by the bucketed layout"))
          .cast("boolean"),
        lit(true)))
      .repartition(buckets, pk.map(col): _*)
      .withColumn("_bs_rn", row_number().over(w))
      .filter(col("_bs_rn") === 1)
      .drop("_bs_rn")
  }

  private def writeVersion(
      df: DataFrame, spark: SparkSession, snapshotDir: String,
      stream: String, pk: Seq[String], buckets: Int, version: Int): String = {
    val path = s"${layoutDir(snapshotDir, stream)}/v$version"
    val tbl = tableName(snapshotDir, stream, version)
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    // a crash between a previous attempt's write and its pointer promote
    // leaves a partial v$version dir; writing into it would mix two
    // attempts' files — clear it first (the pointer still guards reads)
    VersionPointer.dropDir(spark, path)
    df.write
      .format("parquet")
      .bucketBy(buckets, pk.head, pk.tail: _*)
      .sortBy(pk.head, pk.tail: _*)
      .option("path", path)
      .saveAsTable(tbl)
    tbl
  }

  /** Apply the retention window after committing `current`: the
    * [[graft.io.VersionPointer]] window GCs every older version dir, and
    * their catalog tables go with them.
    */
  private def retain(
      spark: SparkSession, snapshotDir: String, stream: String,
      current: Int, keep: Int): Unit =
    VersionPointer.retain(spark, layoutDir(snapshotDir, stream), current, keep)
      .foreach(v => spark.sql(
        s"DROP TABLE IF EXISTS `${tableName(snapshotDir, stream, v)}`"))

  /** One snapshot fold: merge `fresh` over the stored snapshot with
    * keep-last-by-PK semantics (≡ [[Upsert.keepLast]] given the layout's
    * unique-PK invariant — BucketedSnapshotSpec proves the equivalence),
    * persist as the next bucketed version, promote, GC the versions past
    * the `retainVersions` window. Returns the promoted snapshot as a
    * bucketed scan.
    */
  def fold(
      spark: SparkSession, fresh: DataFrame, stream: String,
      snapshotDir: String, pk: Seq[String], buckets: Int,
      tieBreak: Seq[String] = Nil,
      oldTransform: DataFrame => DataFrame = identity,
      retainVersions: Int = 1): DataFrame = {
    require(pk.nonEmpty, "bucketed snapshot requires a primary key")
    require(retainVersions >= 1,
      s"retainVersions must be >= 1, got $retainVersions")
    checkBuckets(spark, snapshotDir, stream, buckets)
    // persist: the delta feeds BOTH merge branches (anti-join probe and
    // union tail); without the cache, column pruning specializes the two
    // subtrees differently and the delta's dedup shuffle runs twice
    val delta = dedupBatch(fresh, pk, buckets, tieBreak)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (merged, nextV) = currentVersion(spark, snapshotDir, stream) match {
        case None => (delta, 1)
        case Some(v) =>
          val old = oldTransform(spark.table(
            ensureTable(spark, snapshotDir, stream, pk, buckets, v)))
          // plain equality — never <=>: null-safe keys rewrite to
          // (coalesce(k), isnull(k)) and disable the bucketed scan.
          // Null PKs were rejected in dedupBatch, so the semantics agree.
          val cond = pk.map(c => old(c) === delta(c)).reduce(_ && _)
          val kept = old.join(delta, cond, "left_anti")
          (kept.unionByName(delta, allowMissingColumns = true), v + 1)
      }
      writeVersion(merged, spark, snapshotDir, stream, pk, buckets, nextV)
      commit(spark, snapshotDir, stream, nextV, buckets)
      // retention window: keep the last `retainVersions` version dirs
      // for time-travel reads ([[readVersion]]); default 1 = GC the
      // superseded versions immediately
      retain(spark, snapshotDir, stream, nextV, retainVersions)
      spark.table(tableName(snapshotDir, stream, nextV))
    } finally { delta.unpersist(); () }
  }

  /** Time-travel read of a RETAINED snapshot version ([[fold]] with
    * `retainVersions` > 1 keeps a trailing window of version dirs): the
    * rollback/debug/diff read every lakehouse keeps — "what did the
    * table say before last night's fold". Fails loudly when the asked
    * version was never written or has been GC'd past the retention
    * window (a silent empty frame would read as "table was empty").
    * The returned scan is bucketed like any current-version read.
    */
  def readVersion(
      spark: SparkSession, stream: String, snapshotDir: String,
      pk: Seq[String], buckets: Int, version: Int): DataFrame = {
    checkBuckets(spark, snapshotDir, stream, buckets)
    val cur = currentVersion(spark, snapshotDir, stream).getOrElse(
      throw new IllegalStateException(
        s"no snapshot '$stream' at $snapshotDir"))
    require(version >= 1 && version <= cur,
      s"version $version out of range [1, $cur] for '$stream'")
    if (!VersionPointer.versionDirs(spark, layoutDir(snapshotDir, stream))
        .contains(version))
      throw new IllegalStateException(
        s"version $version of '$stream' has been GC'd past the " +
          "retention window (fold with retainVersions > 1 to keep it)")
    spark.table(ensureTable(spark, snapshotDir, stream, pk, buckets,
      version))
  }

  /** Generation column for the merge-on-read layout: which fold a row
    * arrived in; read-time keep-last picks the max per PK. Internal —
    * stripped by [[readMor]].
    */
  private[graft] val GenCol = "_graft_gen"

  /** Tombstone column for the CDC merge-on-read layout ([[foldMorCdc]]):
    * true = this generation DELETED the key. Read-time resolve drops
    * keys whose winning (max-generation) row is a tombstone;
    * [[compactMor]] purges tombstones and every superseded row of their
    * keys from the rewritten files (the right-to-erasure write path).
    * Internal — stripped by [[readMor]], exposed as `deleted` by
    * [[readMorSince]] (an incremental CDC consumer needs the deletes).
    */
  private[graft] val DelCol = "_graft_del"

  /** Merge-on-read fold — the true 100 TB nightly shape. [[fold]] avoids
    * the snapshot-side SHUFFLE but still rewrites the full table every
    * merge (write amplification = |snapshot| / |delta|). This variant
    * APPENDS the deduped delta into the SAME bucketed table, stamped with
    * a generation number: fold-time IO is delta-sized, full stop. Bucket
    * alignment is preserved because a bucketed `saveAsTable(Append)`
    * routes each row to its bucket file by the same hash — base and delta
    * rows of one PK land in one bucket, so read-time resolution needs no
    * shuffle either.
    *
    * Keep-last resolves at READ time ([[readMor]]): a row_number window
    * over the PK ordered by generation desc — which the bucketed scan's
    * partitioning already satisfies, so the resolve is a per-bucket local
    * sort, ZERO exchanges (MorSnapshotSpec pins the plan). Read cost
    * grows with accumulated generations; [[compactMor]] folds them back
    * to one (full rewrite, amortized over many cheap appends — the
    * LSM/merge-on-read tradeoff Delta and Hudi make, built here from
    * Spark primitives).
    *
    * Schema drift is NOT supported between compactions (a bucketed append
    * must match the table schema exactly); [[fold]] remains the
    * drift-tolerant form.
    */
  def foldMor(
      spark: SparkSession, fresh: DataFrame, stream: String,
      snapshotDir: String, pk: Seq[String], buckets: Int,
      tieBreak: Seq[String] = Nil): DataFrame = {
    require(!fresh.columns.contains(DelCol),
      s"foldMor: reserved column $DelCol in the input — deletes go " +
        "through foldMorCdc")
    currentVersion(spark, snapshotDir, stream).foreach { v =>
      require(!spark.table(ensureTable(spark, snapshotDir, stream, pk,
        buckets, v)).columns.contains(DelCol),
        s"snapshot '$stream' is a CDC layout (has $DelCol) — fold it " +
          "with foldMorCdc so deletes keep resolving")
    }
    morAppend(spark, fresh, stream, snapshotDir, pk, buckets, tieBreak)
    readMor(spark, stream, snapshotDir, pk, buckets).get
  }

  /** CDC merge-on-read fold: `changes` carries `opCol` ('I' | 'U' | 'D'
    * — the [[graft.ext.Cdc]] convention). Upserts append as data rows,
    * deletes append as TOMBSTONE rows (PK + [[DelCol]] true) in the same
    * delta-sized bucket-aligned write; nothing stored is touched.
    * Read-time resolve ([[readMor]]) picks the max generation per key
    * and DROPS keys whose winner is a tombstone; [[compactMor]] purges
    * tombstoned keys from the rewritten files entirely — combined with
    * retention GC that is the erasure write path (q134's policy needs):
    * after compaction the deleted key's bytes exist in NO live file.
    *
    * Within-batch op conflicts resolve by `tieBreak` (pass the change
    * log's sequence column — with no tieBreak the in-batch pick among
    * same-key changes is engine-arbitrary, exactly [[foldMor]]'s
    * contract). Returns the resolved post-fold snapshot.
    */
  def foldMorCdc(
      spark: SparkSession, changes: DataFrame, stream: String,
      snapshotDir: String, pk: Seq[String], buckets: Int,
      opCol: String = "op", tieBreak: Seq[String] = Nil): DataFrame = {
    require(changes.columns.contains(opCol),
      s"foldMorCdc: op column '$opCol' not in ${changes.columns.toSeq}")
    currentVersion(spark, snapshotDir, stream).foreach { v =>
      require(spark.table(ensureTable(spark, snapshotDir, stream, pk,
        buckets, v)).columns.contains(DelCol),
        s"snapshot '$stream' is not a CDC layout (no $DelCol) — it was " +
          "created by foldMor; compact cannot add deletes retroactively")
    }
    // row-level op validation riding the pass (the null-PK guard idiom):
    // a typo'd op silently treated as an upsert would corrupt the chain
    val validOp = col(opCol).isin("I", "U", "D")
    val prepared = changes
      .filter(coalesce(
        assert_true(validOp,
          lit(s"foldMorCdc: op column '$opCol' must be 'I'|'U'|'D'"))
          .cast("boolean"),
        lit(true)))
      .withColumn(DelCol, col(opCol) === "D")
      .drop(opCol)
    morAppend(spark, prepared, stream, snapshotDir, pk, buckets, tieBreak)
    readMor(spark, stream, snapshotDir, pk, buckets).get
  }

  /** The shared MOR append: dedup the batch, stamp the next generation,
    * bucket-aligned append (or create version 1), record the sidecar.
    */
  private def morAppend(
      spark: SparkSession, fresh: DataFrame, stream: String,
      snapshotDir: String, pk: Seq[String], buckets: Int,
      tieBreak: Seq[String]): Unit = {
    require(pk.nonEmpty, "bucketed snapshot requires a primary key")
    checkBuckets(spark, snapshotDir, stream, buckets)
    pointer(spark, snapshotDir, stream) match {
      case None =>
        val base = dedupBatch(fresh, pk, buckets, tieBreak)
          .withColumn(GenCol, lit(1L))
        writeVersion(base, spark, snapshotDir, stream, pk, buckets, 1)
        recordGen(spark, snapshotDir, stream, 1, 1L,
          listDataFiles(spark, snapshotDir, stream, 1))
        commit(spark, snapshotDir, stream, 1, buckets, Some(1L))
      case Some(ptr) =>
        val v = ptr.version
        val tbl = ensureTable(spark, snapshotDir, stream, pk, buckets, v)
        require(spark.table(tbl).columns.contains(GenCol),
          s"snapshot '$stream' was not created by foldMor (no $GenCol " +
            "column) — use fold() or compact it into the MOR layout first")
        // the generation rides in the pointer so the fold NEVER scans
        // the stored table (the old max(GenCol) was a full-table column
        // scan per append — the exact IO the MOR layout exists to avoid).
        // Legacy pointers without a gen field pay the scan ONCE, then
        // the reservation below records it. coalesce(…, 0): an EMPTY
        // stored table (a first batch that deduped to nothing) has a
        // null max — treat as gen 0 instead of NPE-wedging the snapshot.
        val nextGen = ptr.gen.getOrElse(
          spark.table(tbl)
            .agg(coalesce(max(col(GenCol)), lit(0L))).head.getLong(0)) + 1L
        // RESERVE the generation before appending: a crash after the
        // reservation but before the append leaves only a harmless gap
        // in generation numbers, while the reverse order (append first)
        // could crash into a state where a later fold REUSES the
        // appended generation — two folds sharing a gen would make the
        // read-time keep-last pick arbitrarily between them
        commit(spark, snapshotDir, stream, v, buckets, Some(nextGen))
        val delta = dedupBatch(fresh, pk, buckets, tieBreak)
          .withColumn(GenCol, lit(nextGen))
        // the generation→file sidecar record is the listing DIFF around
        // the append (single-writer layout; concurrent folds were never
        // supported) — metadata-only, no data files are read
        val before = listDataFiles(spark, snapshotDir, stream, v)
        // bucket-aligned append: delta-sized IO, no version rewrite
        delta.write.format("parquet")
          .bucketBy(buckets, pk.head, pk.tail: _*)
          .sortBy(pk.head, pk.tail: _*)
          .mode("append")
          .saveAsTable(tbl)
        recordGen(spark, snapshotDir, stream, v, nextGen,
          listDataFiles(spark, snapshotDir, stream, v) -- before)
    }
  }

  // ---- generation→file sidecar (incremental reads) ----------------------

  private def gensDir(
      snapshotDir: String, stream: String, version: Int): String =
    s"${layoutDir(snapshotDir, stream)}/v$version/_gens"

  /** Data files currently in a version dir (top level; `_`/`.`-prefixed
    * entries — `_gens`, `_SUCCESS` — excluded, matching Spark's own
    * hidden-file convention).
    */
  private def listDataFiles(
      spark: SparkSession, snapshotDir: String, stream: String,
      version: Int): Set[String] = {
    val dir = s"${layoutDir(snapshotDir, stream)}/v$version"
    val p = new org.apache.hadoop.fs.Path(dir)
    val f = SingleFile.fs(spark, dir)
    if (!f.exists(p)) Set.empty
    else f.listStatus(p).toSeq
      .filter(st => st.isFile && {
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      })
      .map(_.getPath.toString).toSet
  }

  /** Record which data files one MOR generation appended: a tiny
    * immutable parquet under `v{N}/_gens/g{gen}` (one dir per
    * generation, overwrite-idempotent on retry). The sidecar is what
    * lets [[readMorSince]] plan an incremental read over ONLY the new
    * generations' files — no listing-by-footer, no scan of the base.
    */
  private def recordGen(
      spark: SparkSession, snapshotDir: String, stream: String,
      version: Int, gen: Long, files: Set[String]): Unit = {
    import spark.implicits._
    files.toSeq.sorted.map(f => (f, gen)).toDF("file", "gen")
      .coalesce(1)
      .write.mode("overwrite")
      .parquet(s"${gensDir(snapshotDir, stream, version)}/g$gen")
  }

  /** Generations with a committed sidecar record in this version. */
  private def recordedGens(
      spark: SparkSession, snapshotDir: String, stream: String,
      version: Int): Set[Long] = {
    val dir = gensDir(snapshotDir, stream, version)
    val p = new org.apache.hadoop.fs.Path(dir)
    val f = SingleFile.fs(spark, dir)
    if (!f.exists(p)) Set.empty
    else f.listStatus(p).toSeq
      .filter(_.isDirectory)
      .flatMap(st => """g(\d+)""".r
        .unapplySeq(st.getPath.getName).flatMap(_.headOption))
      .map(_.toLong).toSet
  }

  /** Incremental read off the MOR snapshot: every row APPENDED after
    * `sinceGen` (the raw upsert feed, pre-resolution — a PK updated in a
    * later generation appears with its new values; its superseded rows
    * do not re-emit), with the generation exposed as `gen`. This is the
    * consumer side of the layout's LSM story: q260 streams INTO the
    * snapshot, this reads delta-sized increments OUT of it.
    *
    * Planning uses the `_gens` sidecar: the read lists ONE tiny parquet
    * table and opens only the files of generations > sinceGen — IO
    * proportional to the increment, never to the snapshot
    * (MorSnapshotSpec proves it by deleting every earlier generation's
    * files and reading anyway). If the sidecar does not cover every
    * reserved generation (a pre-sidecar layout, or a crash between a
    * reservation and its record), the read FALLS BACK to a filtered
    * scan of the full table — correct, just not delta-sized; the next
    * [[compactMor]] re-establishes sidecar coverage.
    */
  def readMorSince(
      spark: SparkSession, stream: String, snapshotDir: String,
      pk: Seq[String], buckets: Int, sinceGen: Long): Option[DataFrame] = {
    require(sinceGen >= 0, s"sinceGen must be >= 0, got $sinceGen")
    checkBuckets(spark, snapshotDir, stream, buckets)
    pointer(spark, snapshotDir, stream).map { ptr =>
      val v = ptr.version
      val tbl = ensureTable(spark, snapshotDir, stream, pk, buckets, v)
      val t = spark.table(tbl)
      require(t.columns.contains(GenCol),
        s"snapshot '$stream' is not a MOR layout (no $GenCol column)")
      val recorded = recordedGens(spark, snapshotDir, stream, v)
      val covered = ptr.gen.exists(g => (1L to g).forall(recorded))
      val inc = if (!covered) {
        // honest fallback: correct rows, table-sized planning
        t.filter(col(GenCol) > sinceGen)
          .withColumnRenamed(GenCol, "gen")
      } else {
        val sidecar = spark.read
          .parquet(s"${gensDir(snapshotDir, stream, v)}/g*")
        val files = sidecar.filter(col("gen") > sinceGen)
          .select("file").collect().map(_.getString(0)).sorted
        if (files.isEmpty)
          t.filter(lit(false)).withColumnRenamed(GenCol, "gen")
        else
          spark.read.schema(t.schema)
            .parquet(files.toIndexedSeq: _*)
            .filter(col(GenCol) > sinceGen)
            .withColumnRenamed(GenCol, "gen")
      }
      // a CDC layout's increments include the tombstones — an
      // incremental consumer must SEE the deletes to apply them
      if (inc.columns.contains(DelCol))
        inc.withColumnRenamed(DelCol, "deleted")
      else inc
    }
  }

  /** The merge-on-read snapshot resolved to current state: keep-last by
    * generation per PK, as a per-bucket local sort over the bucketed scan
    * — no exchange. On a CDC layout ([[foldMorCdc]]) a key whose WINNING
    * row is a tombstone is dropped — the delete resolves at read time,
    * still zero exchanges. Returns None if no snapshot exists.
    */
  def readMor(
      spark: SparkSession, stream: String, snapshotDir: String,
      pk: Seq[String], buckets: Int): Option[DataFrame] =
    read(spark, stream, snapshotDir, pk, buckets).map { t =>
      if (!t.columns.contains(GenCol)) t
      else {
        val w = Window.partitionBy(pk.map(col): _*)
          .orderBy(col(GenCol).desc)
        val resolved = t.withColumn("_bs_rn", row_number().over(w))
          .filter(col("_bs_rn") === 1)
          .drop("_bs_rn", GenCol)
        if (resolved.columns.contains(DelCol))
          resolved.filter(!col(DelCol)).drop(DelCol)
        else resolved
      }
    }

  /** Fold all accumulated generations back into one: full rewrite to the
    * next version (generation reset to 1), pointer promote, every older
    * version dropped. The amortized cost that keeps [[readMor]]'s
    * per-read merge bounded. On a CDC layout the rewrite PURGES
    * tombstones: the resolved state excludes deleted keys, so neither the
    * tombstone row nor any superseded generation of its key reaches the
    * new files — with the older versions' GC, the deleted key's bytes are
    * gone from the layout (the erasure guarantee; MorSnapshotSpec greps
    * the rewritten files raw).
    */
  def compactMor(
      spark: SparkSession, stream: String, snapshotDir: String,
      pk: Seq[String], buckets: Int): DataFrame = {
    val v = currentVersion(spark, snapshotDir, stream).getOrElse(
      throw new IllegalStateException(
        s"no snapshot '$stream' at $snapshotDir to compact"))
    val isCdc = spark
      .table(ensureTable(spark, snapshotDir, stream, pk, buckets, v))
      .columns.contains(DelCol)
    val live = readMor(spark, stream, snapshotDir, pk, buckets).get
    // keep the CDC column (all false post-purge): later foldMorCdc
    // appends must keep matching the table schema
    val resolved = (if (isCdc) live.withColumn(DelCol, lit(false)) else live)
      .withColumn(GenCol, lit(1L))
    writeVersion(resolved, spark, snapshotDir, stream, pk, buckets, v + 1)
    recordGen(spark, snapshotDir, stream, v + 1, 1L,
      listDataFiles(spark, snapshotDir, stream, v + 1))
    commit(spark, snapshotDir, stream, v + 1, buckets, Some(1L))
    retain(spark, snapshotDir, stream, v + 1, keep = 1)
    readMor(spark, stream, snapshotDir, pk, buckets).get
  }

  /** Drop the whole layout (all versions, tables, pointer) — the
    * `overwrite` flag's clean-slate path.
    */
  def reset(
      spark: SparkSession, stream: String, snapshotDir: String): Unit = {
    // best-effort catalog cleanup: reset must succeed even when the
    // pointer is unreadable (that unreadable state is often WHY the
    // caller is resetting) — sweep every version's table name instead
    // of reading the pointer for the current one
    val layout = layoutDir(snapshotDir, stream)
    VersionPointer.versionDirs(spark, layout).foreach(v => spark.sql(
      s"DROP TABLE IF EXISTS `${tableName(snapshotDir, stream, v)}`"))
    VersionPointer.dropDir(spark, layout)
  }

  /** The merge PLAN for spec assertion — identical shape to [[fold]]'s
    * merge but not executed/written, so BucketedSnapshotSpec can count
    * exchanges on exactly what fold runs. Loan pattern: the delta cache
    * the plan shares between its two branches is unpersisted when `use`
    * returns (fold's own try/finally discipline — without it every call
    * leaked one MEMORY_AND_DISK entry for the session's lifetime).
    */
  private[graft] def mergePlan[T](
      spark: SparkSession, fresh: DataFrame, stream: String,
      snapshotDir: String, pk: Seq[String], buckets: Int)(
      use: DataFrame => T): T = {
    val delta = dedupBatch(fresh, pk, buckets, Nil)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val v = currentVersion(spark, snapshotDir, stream).get
      val old = spark.table(
        ensureTable(spark, snapshotDir, stream, pk, buckets, v))
      val cond: Column = pk.map(c => old(c) === delta(c)).reduce(_ && _)
      use(old.join(delta, cond, "left_anti")
        .unionByName(delta, allowMissingColumns = true))
    } finally { delta.unpersist(); () }
  }
}
