package graft

import graft.operators.{Snapshot, SnapshotOptions}
import org.scalatest.funsuite.AnyFunSuite

class SnapshotSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  private def asMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap

  test("first call writes the snapshot and returns the data") {
    // ref: src/etl-utils.ts:336-347
    val dir = tmpDir("snap1")
    val data = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val out = Snapshot.snapshotRecords(spark, Some(data), "s", dir,
      SnapshotOptions(pk = Seq("id")))
    assert(asMap(out.get) == Map(1L -> "a", 2L -> "b"))
    val stored = Snapshot.readSnapshots(spark, "s", dir).get
    assert(asMap(stored) == Map(1L -> "a", 2L -> "b"))
  }

  test("merge: new beats old, exclusives survive, file updated in place") {
    // ref: src/etl-utils.ts:274-332 — including the read-overwrite cycle
    val dir = tmpDir("snap2")
    Snapshot.snapshotRecords(spark,
      Some(Seq((1L, "old1"), (2L, "old2")).toDF("id", "v")), "s", dir,
      SnapshotOptions(pk = Seq("id")))
    val out = Snapshot.snapshotRecords(spark,
      Some(Seq((2L, "new2"), (3L, "new3")).toDF("id", "v")), "s", dir,
      SnapshotOptions(pk = Seq("id")))
    val expected = Map(1L -> "old1", 2L -> "new2", 3L -> "new3")
    assert(asMap(out.get) == expected)
    assert(asMap(Snapshot.readSnapshots(spark, "s", dir).get) == expected)
  }

  test("justNew returns only the new batch but persists the merge") {
    // ref: src/etl-utils.ts:332
    val dir = tmpDir("snap3")
    Snapshot.snapshotRecords(spark,
      Some(Seq((1L, "old1")).toDF("id", "v")), "s", dir,
      SnapshotOptions(pk = Seq("id")))
    val out = Snapshot.snapshotRecords(spark,
      Some(Seq((2L, "new2")).toDF("id", "v")), "s", dir,
      SnapshotOptions(pk = Seq("id"), justNew = true))
    assert(asMap(out.get) == Map(2L -> "new2"))
    assert(asMap(Snapshot.readSnapshots(spark, "s", dir).get) ==
      Map(1L -> "old1", 2L -> "new2"))
  }

  test("overwrite skips the merge entirely") {
    // ref: src/etl-utils.ts:274 + 336-347
    val dir = tmpDir("snap4")
    Snapshot.snapshotRecords(spark,
      Some(Seq((1L, "old1")).toDF("id", "v")), "s", dir,
      SnapshotOptions(pk = Seq("id")))
    val out = Snapshot.snapshotRecords(spark,
      Some(Seq((9L, "nine")).toDF("id", "v")), "s", dir,
      SnapshotOptions(pk = Seq("id"), overwrite = true))
    assert(asMap(out.get) == Map(9L -> "nine"))
    assert(asMap(Snapshot.readSnapshots(spark, "s", dir).get) ==
      Map(9L -> "nine"))
  }

  test("null streamData: returns stored snapshot unless justNew/overwrite") {
    // ref: src/etl-utils.ts:350-354
    val dir = tmpDir("snap5")
    Snapshot.snapshotRecords(spark,
      Some(Seq((1L, "a")).toDF("id", "v")), "s", dir,
      SnapshotOptions(pk = Seq("id")))
    val kept = Snapshot.snapshotRecords(spark, None, "s", dir,
      SnapshotOptions(pk = Seq("id")))
    assert(asMap(kept.get) == Map(1L -> "a"))
    assert(Snapshot.snapshotRecords(spark, None, "s", dir,
      SnapshotOptions(pk = Seq("id"), justNew = true)).isEmpty)
    assert(Snapshot.snapshotRecords(spark, None, "s", dir,
      SnapshotOptions(pk = Seq("id"), overwrite = true)).isEmpty)
  }

  test("useCsv writes and merges through the CSV snapshot file") {
    // ref: src/etl-utils.ts:322-330 useCsv branch
    val dir = tmpDir("snap6")
    Snapshot.snapshotRecords(spark,
      Some(Seq((1L, "a")).toDF("id", "v")), "s", dir,
      SnapshotOptions(pk = Seq("id"), useCsv = true))
    assert(graft.io.SingleFile.exists(spark, s"$dir/s.snapshot.csv"))
    val out = Snapshot.snapshotRecords(spark,
      Some(Seq((1L, "a2"), (2L, "b")).toDF("id", "v")), "s", dir,
      SnapshotOptions(pk = Seq("id"), useCsv = true))
    assert(asMap(out.get) == Map(1L -> "a2", 2L -> "b"))
  }

  test("localizeDatetimeTypes reinterprets NTZ snapshot columns as UTC instants") {
    // ref: src/etl-utils.ts:278-286 — Datetime("ms") → Datetime("ms","UTC")
    val dir = tmpDir("snap9")
    val old = Seq((1L, "2024-01-01 10:00:00"))
      .toDF("id", "ts")
      .withColumn("ts", $"ts".cast("timestamp_ntz"))
    old.coalesce(1).write.parquet(s"$dir/tmpw")
    // promote to a single snapshot file so readSnapshots finds it
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/tmpw"))
      .map(_.getPath).find(_.getName.startsWith("part-")).get
    fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/s.snapshot.parquet"))
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/tmpw"), true)

    val fresh = Seq((2L, java.sql.Timestamp.valueOf("2024-01-02 11:00:00")))
      .toDF("id", "ts")
    val out = Snapshot.snapshotRecords(spark, Some(fresh), "s", dir,
      SnapshotOptions(pk = Seq("id"), localizeDatetimeTypes = true)).get
    assert(out.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val vals = out.orderBy("id").collect()
      .map(_.getTimestamp(1).toString).toSeq
    assert(vals == Seq("2024-01-01 10:00:00.0", "2024-01-02 11:00:00.0"))
  }

  test("coerceTypes widens int32/int64 to int64 and casts to new dtypes") {
    // ref: src/etl-utils.ts:292-316
    val dir = tmpDir("snap7")
    val old = Seq((1L, 10, "1.5")).toDF("id", "n", "x") // n: Int32, x: String
    Snapshot.snapshotRecords(spark, Some(old), "s", dir,
      SnapshotOptions(pk = Seq("id")))
    val fresh = Seq((2L, 20L, 2.5)).toDF("id", "n", "x") // n: Int64, x: Double
    val out = Snapshot.snapshotRecords(spark, Some(fresh), "s", dir,
      SnapshotOptions(pk = Seq("id"), coerceTypes = true)).get
    val schema = out.schema
    assert(schema("n").dataType == org.apache.spark.sql.types.LongType)
    assert(schema("x").dataType == org.apache.spark.sql.types.DoubleType)
    val rows = out.orderBy("id").collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(10L, 20L))
    assert(rows.map(_.getDouble(2)).toSeq == Seq(1.5, 2.5))
  }
}
