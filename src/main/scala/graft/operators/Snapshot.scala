package graft.operators

import graft.conf.JobDescription.described
import graft.conf.Tuning
import graft.io.{DriverScan, FooterSchema, SingleFile}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{Project, Union}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

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
  *    [[graft.conf.Tuning.withSmallInputScope]] gate: NO Spark job. Both
  *    sides are read on the driver ([[graft.io.DriverScan]]), keep-last
  *    runs in a hash map keyed by the PK's `UnsafeRow`, and Spark's own
  *    parquet writer writes the file in the caller's thread. This holds
  *    when the PK is not empty, both sides are driver-readable, every PK
  *    type groups by its bytes (not float, double or complex) and the
  *    rows, keys and map entries held stay below the gate's bytes
  *    ([[graft.conf.Tuning.smallInputRows]]); otherwise the merge is ONE
  *    job (the shuffle and the write), with nothing written before it.
  *    Both reads resolve their schema from the footer
  *    ([[graft.io.FooterSchema]]) instead of an inference job;
  *  - row order in the written snapshot is not a contract: the driver
  *    merge keeps the old rows' order and appends new keys, the job
  *    writes its window's order. Within one side, duplicate PKs resolve
  *    to the last row read on the driver and to an arbitrary one of them
  *    in the job (the reference's choice there is engine-arbitrary too).
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

  /** PK types whose binary equality (of their `UnsafeRow` form) is
    * Spark's grouping equality: floats (signed zeros, NaNs), complex
    * types and non-binary collations are grouped by value, not bytes.
    */
  private def binaryKey(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType |
        DateType | TimestampType | TimestampNTZType | BinaryType |
        _: DecimalType => true
    case st: StringType => st == StringType
    case _ => false
  }

  /** Bytes an entry of the driver merge's map holds besides its two rows'
    * data: the map entry, two `UnsafeRow` objects and their byte arrays'
    * headers (compressed pointers), and its slot in the table.
    */
  private val EntryBytes = 160L

  /** The keep-last merge of `dataC` over `oldC` (the parquet snapshot at
    * `path`) on the driver, with no Spark job: each side of their
    * `unionByName` is read through [[graft.io.DriverScan]] (so casts,
    * null-filled missing columns and widened types are the union's own
    * Catalyst expressions), keyed by an `UnsafeProjection` of the PK in a
    * hash map (a fresh row wins, and within one side the last one read),
    * and written by [[graft.io.SingleFile.writeParquetRows]]. False, with
    * nothing written, when the PK is empty, a side is not
    * driver-readable, a PK type is not a [[binaryKey]], or the map would
    * hold more bytes than the size gate
    * ([[graft.conf.Tuning.smallInputRows]]): its rows, keys and entries,
    * counted as they are inserted, after the old side's footer row count
    * at the least bytes an entry holds is checked before any read. The
    * driver keeps nothing after the call.
    */
  private def mergeOnDriver(
      spark: SparkSession,
      oldC: DataFrame,
      dataC: DataFrame,
      pk: Seq[String],
      path: String): Boolean = {
    val union = oldC.unionByName(dataC, allowMissingColumns = true)
    val plan = union.queryExecution.analyzed
    val key = union.select(pk.map(col): _*).queryExecution.analyzed
      .asInstanceOf[Project].projectList
    val heldMax = Tuning.smallInputRows(spark, 1L) // bytes below the gate
    def fixedBytes(fields: Int) =
      UnsafeRow.calculateBitSetWidthInBytes(fields) + 8L * fields
    val leastEntry =
      EntryBytes + fixedBytes(plan.output.size) + fixedBytes(key.size)
    val sides = plan match {
      case Union(Seq(o, n), _, _) if key.nonEmpty &&
          key.forall(k => binaryKey(k.dataType)) &&
          SingleFile.exists(spark, path) &&
          FooterSchema.rows(spark, Seq(path)).sum <=
            Tuning.smallInputRows(spark, leastEntry) =>
        for {
          o <- DriverScan.rows(spark, o)
          n <- DriverScan.rows(spark, n)
        } yield (o, n)
      case _ => None
    }
    sides.exists { case (o, n) =>
      val keyOf = UnsafeProjection.create(key, plan.output)
      val kept = new java.util.LinkedHashMap[UnsafeRow, UnsafeRow]()
      var held = 0L
      val within = o.read(old => n.read(fresh => (old ++ fresh).forall { r =>
        val row = r.copy()
        val k = keyOf(row).copy()
        val prev = kept.put(k, row)
        held += row.getSizeInBytes +
          (if (prev == null) k.getSizeInBytes + EntryBytes
           else -prev.getSizeInBytes)
        held <= heldMax
      }))
      if (within) SingleFile.writeParquetRows(spark,
        kept.values.iterator.asScala, union.schema, path)
      within
    }
  }

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
        // below the size gate a single-file parquet merge runs on the
        // driver; otherwise, or past its row bound, its shuffle and write
        // run as one job
        val scopeBytes = Tuning.estimatedBytes(old, data)
        try described(spark, s"graft:Snapshot.merge $stream")(
          Tuning.withSmallInputScope(spark, scopeBytes) {
            val onDriver = !opts.useCsv &&
              Tuning.isSmallInput(spark, scopeBytes) &&
              mergeOnDriver(spark, oldC, dataC, opts.pk, path)
            if (!onDriver) writeSnapshot(spark,
              Upsert.keepLast(oldC, dataC, opts.pk), path, opts)
          })
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
