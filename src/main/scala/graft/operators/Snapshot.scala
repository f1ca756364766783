package graft.operators

import graft.conf.Tuning
import graft.io.{FooterSchema, SingleFile}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Options for [[Snapshot.snapshotRecords]]
  * (ref: src/etl-utils.ts:258-268 parameter list).
  */
final case class SnapshotOptions(
    pk: Seq[String] = Seq("id"),
    justNew: Boolean = false,
    useCsv: Boolean = false,
    coerceTypes: Boolean = false,
    localizeDatetimeTypes: Boolean = false,
    overwrite: Boolean = false,
    csvOptions: Map[String, String] = Map.empty,
    /** Scale path: persist the snapshot as a BUCKETED external table on
      * the PK ([[BucketedSnapshot]]) so repeated merges never re-shuffle
      * the snapshot side — only the incoming delta crosses the wire.
      * Single-file mode is reference parity for small state. Parquet
      * only (`useCsv` is refused).
      */
    bucketBy: Option[Int] = None)

/** Incremental snapshot maintenance (M1-M3,
  * ref: src/etl-utils.ts:221-355): merge the new batch over the stored
  * snapshot with keep-last-by-PK upsert semantics, then persist.
  *
  * Spark-first deviations from the reference, all deliberate:
  *  - keep-last is the explicit-precedence window in
  *    [[graft.operators.Upsert]] (positional order doesn't exist here);
  *  - the reference overwrites its input file in place mid-read
  *    (ref: src/etl-utils.ts:322-330); Spark re-reads inputs lazily, so the
  *    write goes to a temp path and is promoted by rename *after* the merge
  *    fully materializes — and the returned DataFrame re-reads the new file
  *    so later actions never touch the replaced one;
  *  - at scale the snapshot lives as a PK-bucketed table (`bucketBy`,
  *    [[BucketedSnapshot]]), so a merge shuffles only the delta;
  *    single-file mode is reference parity for small state;
  *  - job budget of a single-file parquet merge below the
  *    [[graft.conf.Tuning.withSmallInputScope]] gate: ONE Spark job (the
  *    shuffle and the write). Both reads resolve their schema from the
  *    footer ([[graft.io.FooterSchema]]) instead of an inference job.
  */
object Snapshot {

  /** S6 (ref: src/etl-utils.ts:221-241): `{dir}/{stream}.snapshot.parquet`,
    * else `.snapshot.csv`, else the current version of a bucketed layout,
    * else None.
    */
  def readSnapshots(
      spark: SparkSession,
      stream: String,
      snapshotDir: String,
      csvOptions: Map[String, String] = Map.empty): Option[DataFrame] = {
    val parquetPath = s"$snapshotDir/$stream.snapshot.parquet"
    val csvPath = s"$snapshotDir/$stream.snapshot.csv"
    if (SingleFile.exists(spark, parquetPath))
      Some(FooterSchema.read(spark, parquetPath))
    else if (SingleFile.exists(spark, csvPath))
      Some(spark.read
        .option("header", "true").option("inferSchema", "true")
        .options(csvOptions).csv(csvPath))
    else
      // a bucketed layout is also honored (plain parquet read of the
      // current version — callers wanting the exchange-free bucketed
      // SCAN use BucketedSnapshot.read with the pk/bucket params this
      // signature doesn't carry); MOR generations resolve to keep-last
      BucketedSnapshot.currentVersion(spark, snapshotDir, stream).map { v =>
        val t = spark.read.parquet(
          s"$snapshotDir/$stream.snapshot.bucketed/v$v")
        if (!t.columns.contains(BucketedSnapshot.GenCol)) t
        else {
          // keep-last resolution needs the PK, which this pk-less
          // signature doesn't carry — exposing unresolved generations
          // would duplicate rows, so a merge-on-read layout is readable
          // here only in its compacted (single-generation) state
          val gens = t.select(BucketedSnapshot.GenCol).distinct().count()
          require(gens == 1L,
            s"snapshot '$stream' is a merge-on-read layout with $gens " +
              "unresolved generations; read it with BucketedSnapshot" +
              ".readMor(pk, buckets) or compact it first")
          t.drop(BucketedSnapshot.GenCol)
        }
      }
  }

  /** UTC normalization hook (P7, ref: src/etl-utils.ts:191-212): session TZ
    * is pinned UTC, so instant-typed columns are already UTC; wall-clock
    * timestamps (NTZ) are reinterpreted as UTC instants, and string columns
    * are NOT touched (the reference's per-value `new Date(...)` fallback has
    * no columnar equivalent — SURVEY §7.4 documented deviation).
    */
  private def localize(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case TimestampNTZType =>
          d.withColumn(f.name, to_utc_timestamp(
            col(f.name).cast(TimestampType), "UTC"))
        case _ => d
      }
    }

  /** Type coercion toward the new batch's schema
    * (ref: src/etl-utils.ts:292-316): booleans stay boolean, int32/int64
    * widen to int64, everything else casts to the new dtype. Cast failures
    * surface as the reference's wrapped error.
    */
  private def coerce(df: DataFrame, target: StructType): DataFrame =
    target.fields.foldLeft(df) { (d, f) =>
      if (!d.columns.contains(f.name)) d
      else {
        val newType = f.dataType match {
          case BooleanType => BooleanType
          case IntegerType | LongType => LongType
          case dt => dt
        }
        d.withColumn(f.name, col(f.name).cast(newType))
      }
    }

  private def snapshotPath(
      snapshotDir: String, stream: String, useCsv: Boolean): String =
    s"$snapshotDir/$stream.snapshot.${if (useCsv) "csv" else "parquet"}"

  private def writeSnapshot(
      spark: SparkSession,
      df: DataFrame,
      path: String,
      opts: SnapshotOptions): Unit =
    if (opts.useCsv)
      SingleFile.write(spark, Export.stringifyComplex(df), path, "csv",
        Export.csvWriteOptions)
    else SingleFile.write(spark, df, path, "parquet")

  /** M3 orchestration (ref: src/etl-utils.ts:258-355). Returns, per the
    * reference's flag matrix:
    *  - merge path: `justNew ? streamData : merged` (merged re-read from the
    *    freshly written snapshot);
    *  - first-snapshot / overwrite path: streamData (also persisted);
    *  - null streamData: `justNew || overwrite ? None : snapshot`.
    */
  def snapshotRecords(
      spark: SparkSession,
      streamData: Option[DataFrame],
      stream: String,
      snapshotDir: String,
      opts: SnapshotOptions = SnapshotOptions()): Option[DataFrame] = {
    opts.bucketBy.foreach { buckets =>
      require(!opts.useCsv, "bucketed snapshots are parquet-only")
      return snapshotRecordsBucketed(spark, streamData, stream, snapshotDir,
        opts, buckets)
    }
    val snapshot = readSnapshots(spark, stream, snapshotDir, opts.csvOptions)
    val path = snapshotPath(snapshotDir, stream, opts.useCsv)

    (streamData, snapshot) match {
      case (Some(data), Some(old)) if !opts.overwrite =>
        val localized = if (opts.localizeDatetimeTypes) localize(old) else old
        val (oldC, dataC) =
          if (opts.coerceTypes)
            try (coerce(localized, data.schema), coerce(data, data.schema))
            catch {
              case e: Exception => throw new RuntimeException(
                "Snapshot failed while trying to convert field during " +
                  s"type coercion: ${e.getMessage}", e)
            }
          else (localized, data)
        val merged = Upsert.keepLast(oldC, dataC, opts.pk)
        // a single-file merge below the size gate runs its shuffle and
        // write as one job
        val scopeBytes = Tuning.estimatedBytes(old, data)
        try Tuning.withSmallInputScope(spark, scopeBytes)(
          writeSnapshot(spark, merged, path, opts))
        catch {
          case e: Exception if opts.coerceTypes => throw new RuntimeException(
            "Snapshot failed while trying to convert field during " +
              s"type coercion: ${e.getMessage}", e)
        }
        if (opts.justNew) Some(data)
        else Some( // re-read: never hand back a plan over the replaced file
          if (opts.useCsv) spark.read
            .option("header", "true").option("inferSchema", "true")
            .options(opts.csvOptions).csv(path)
          else FooterSchema.read(spark, path))

      case (Some(data), _) => // first snapshot or overwrite
        writeSnapshot(spark, data, path, opts)
        Some(data)

      case (None, _) =>
        if (opts.justNew || opts.overwrite) None else snapshot
    }
  }

  /** The bucketed-layout twin of the flag matrix above: same returns,
    * [[BucketedSnapshot.fold]] as the merge. `coerceTypes` /
    * `localizeDatetimeTypes` apply the same transforms; note a PK-type
    * coercion changes the hash of the stored buckets, so that one fold
    * pays a snapshot-side exchange before the layout re-aligns.
    */
  private def snapshotRecordsBucketed(
      spark: SparkSession,
      streamData: Option[DataFrame],
      stream: String,
      snapshotDir: String,
      opts: SnapshotOptions,
      buckets: Int): Option[DataFrame] = {
    val existing =
      BucketedSnapshot.read(spark, stream, snapshotDir, opts.pk, buckets)
    (streamData, existing) match {
      case (Some(data), Some(_)) if !opts.overwrite =>
        val folded = BucketedSnapshot.fold(
          spark, data, stream, snapshotDir, opts.pk, buckets,
          oldTransform = old => {
            val l = if (opts.localizeDatetimeTypes) localize(old) else old
            if (opts.coerceTypes) coerce(l, data.schema) else l
          })
        if (opts.justNew) Some(data) else Some(folded)
      case (Some(data), _) => // first snapshot or overwrite
        if (opts.overwrite)
          BucketedSnapshot.reset(spark, stream, snapshotDir)
        // return the FOLDED frame, not the raw input: the bucketed
        // layout dedups even the first write (its documented deviation),
        // so handing back `data` would diverge from the persisted state
        // whenever the first batch carries duplicate PKs
        Some(BucketedSnapshot.fold(
          spark, data, stream, snapshotDir, opts.pk, buckets))
      case (None, _) =>
        if (opts.justNew || opts.overwrite) None else existing
    }
  }
}
