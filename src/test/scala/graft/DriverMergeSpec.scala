package graft

import graft.io.{DriverScan, FooterSchema, SingleFile}
import graft.operators.{Snapshot, SnapshotOptions}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import java.math.BigDecimal
import java.sql.{Date, Timestamp}
import java.time.LocalDateTime

import scala.jdk.CollectionConverters._

/** The keep-last merge below the size gate runs on the driver
  * ([[graft.io.DriverScan]] reads both sides, a hash map keeps the last
  * row per PK) and must write what the one-job merge at the gate writes:
  * the same schema and the same rows (row order is not a contract).
  */
class DriverMergeSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  /** A value column: its name, type, whether CSV can carry it, and a
    * value for row `i`.
    */
  private final case class ValueCol(name: String, dt: DataType,
      csv: Boolean, value: Int => Any)

  /** The column types of `JobBudgetSpec.typed`, plus an int that the new
    * side may widen to a long.
    */
  private val valueCols = Seq(
    ValueCol("l", LongType, csv = true, i => i.toLong * 3),
    ValueCol("d", DoubleType, csv = true, i => i / 3.0),
    ValueCol("b", BooleanType, csv = true, i => i % 2 == 0),
    ValueCol("ts", TimestampType, csv = true,
      i => new Timestamp(i * 86400000L + 1234)),
    ValueCol("ntz", TimestampNTZType, csv = true,
      i => LocalDateTime.of(2024, 1 + i % 12, 1 + i % 28, i % 24, 0)),
    ValueCol("dec", DecimalType(12, 3), csv = true,
      i => new BigDecimal(s"$i.125")),
    ValueCol("st",
      StructType(Seq(StructField("a", IntegerType),
        StructField("b", StringType))),
      csv = false, i => Row(i, s"s$i")),
    ValueCol("arr", ArrayType(DoubleType), csv = false,
      i => if (i % 3 == 1) null else Seq(i.toDouble, null)),
    ValueCol("n", IntegerType, csv = true, i => i))

  /** A PK: its columns, and the key of domain value `k` (None: a null
    * key).
    */
  private final case class Pk(name: String, fields: Seq[StructField],
      key: Option[Int] => Seq[Any])

  private val pks = Seq(
    Pk("long", Seq(StructField("id", LongType)),
      k => Seq(k.map(_.toLong).getOrElse(null))),
    Pk("string", Seq(StructField("id", StringType)),
      k => Seq(k.map(k => s"k$k").orNull)),
    Pk("composite", Seq(StructField("ka", IntegerType),
      StructField("kb", StringType)), {
      case Some(k) => Seq(k % 3, s"b${k / 3}")
      case None => Seq(null, "b0")
    }),
    Pk("date", Seq(StructField("id", DateType)),
      k => Seq(k.map(k => Date.valueOf(s"2024-01-${10 + k}")).orNull)),
    Pk("decimal", Seq(StructField("id", DecimalType(20, 2))),
      k => Seq(k.map(k => new BigDecimal(s"$k.50")).orNull)))

  private final case class Case(pk: Pk, source: String, coerce: Boolean,
      localize: Boolean, widen: Boolean, oldDrop: Set[String],
      newDrop: Set[String], oldKeys: Seq[Option[Int]],
      newKeys: Seq[Option[Int]])

  private val sources = Seq("local", "parquet", "csv")

  private val keysGen: Gen[Seq[Option[Int]]] = Gen.choose(0, 7).flatMap(n =>
    Gen.listOfN(n, Gen.frequency(9 -> Gen.choose(0, 8).map(Option(_)),
      1 -> Gen.const(None)))).map(_.distinct)

  private def caseGen(i: Int): Gen[Case] = {
    val names = valueCols.map(_.name)
    for {
      coerce <- Gen.oneOf(true, false)
      localize <- Gen.oneOf(true, false)
      widen <- Gen.oneOf(true, false)
      oldDrop <- Gen.someOf(names.filter(_ != "n")).map(_.toSet.take(2))
      newDrop <- Gen.someOf(names.filter(_ != "n")).map(_.toSet.take(2))
      oldKeys <- keysGen
      newKeys <- keysGen
    } yield Case(pks(i % pks.size), sources((i / pks.size) % sources.size),
      coerce, localize, widen, oldDrop, newDrop, oldKeys, newKeys)
  }

  /** One side's frame: a row per key, value columns less `drop` (and,
    * for CSV, less what CSV cannot hold); `n` a long when `widen`.
    */
  private def side(c: Case, keys: Seq[Option[Int]], drop: Set[String],
      seed: Int, source: String, widen: Boolean): DataFrame = {
    val cols = valueCols.filter(v => !drop(v.name) &&
      (source != "csv" || v.csv))
    def typeOf(v: ValueCol) =
      if (v.name == "n" && widen) LongType else v.dt
    val schema = StructType(c.pk.fields ++
      cols.map(v => StructField(v.name, typeOf(v))))
    val rows = keys.zipWithIndex.map { case (k, j) =>
      val i = seed + j
      Row.fromSeq(c.pk.key(k) ++ cols.map { v =>
        if (v.name == "n" && widen) i.toLong else v.value(i)
      })
    }
    val local = spark.createDataFrame(rows.asJava, schema)
    source match {
      case "local" => local
      case "parquet" =>
        val p = s"${tmpDir("drv_in")}/b.parquet"
        SingleFile.write(spark, local, p, "parquet")
        FooterSchema.read(spark, p)
      case "csv" =>
        val p = s"${tmpDir("drv_in")}/b.csv"
        local.coalesce(1).write.option("header", "true").csv(p)
        spark.read.schema(schema).option("header", "true").csv(p)
    }
  }

  /** Merge `fresh` over a snapshot seeded with `old` in `dir`; the jobs
    * the merge ran and the snapshot file it left.
    */
  private def merge(old: DataFrame, fresh: DataFrame, dir: String,
      opts: SnapshotOptions): (Int, String) = {
    Snapshot.snapshotRecords(spark, Some(old), "t", dir, opts)
    val jobs = jobsRunBy(
      Snapshot.snapshotRecords(spark, Some(fresh), "t", dir, opts))
    (jobs, s"$dir/t.snapshot.parquet")
  }

  /** Two snapshot files hold the same schema (their footers' too, with
    * its nullability) and the same rows.
    */
  private def sameRows(pa: String, pb: String, clue: String): Unit = {
    assert(FooterSchema.of(spark, pa) == FooterSchema.of(spark, pb), clue)
    val (a, b) = (FooterSchema.read(spark, pa), FooterSchema.read(spark, pb))
    assert(a.schema == b.schema, clue)
    assert(a.count() == b.count(), clue)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, clue)
  }

  test("the driver merge equals the one-job merge at the gate: every " +
      "column type, composite, string and null PKs, missing columns, " +
      "coercion and localizing, empty sides, local, parquet and CSV " +
      "batches") {
    val cases = (0 until 30).map(i => samples(caseGen(i), 1, 7000L + i).head)
    cases.zipWithIndex.foreach { case (c, i) =>
      val clue = s"case $i: $c"
      val opts = SnapshotOptions(pk = c.pk.fields.map(_.name),
        coerceTypes = c.coerce, localizeDatetimeTypes = c.localize)
      // the snapshot is always parquet; the old side never widens
      val old = side(c, c.oldKeys, c.oldDrop, 0, "local", widen = false)
      val fresh = side(c, c.newKeys, c.newDrop, 100, c.source, c.widen)
      val (driverJobs, onDriver) = merge(old, fresh, tmpDir("drv_a"), opts)
      assert(driverJobs == 0, clue)
      val (_, withJob) = withGate(0L)(merge(old, fresh, tmpDir("drv_b"), opts))
      sameRows(onDriver, withJob, clue)
    }
    // what the samples cover, so the property means what its name says
    assert(cases.map(_.pk.name).toSet == pks.map(_.name).toSet)
    assert(cases.map(_.source).toSet == sources.toSet)
    assert(cases.exists(c => c.coerce && c.widen))
    assert(cases.exists(c => c.localize && !c.oldDrop("ntz")))
    assert(cases.exists(_.oldKeys.isEmpty) && cases.exists(_.newKeys.isEmpty))
    assert(cases.exists(c => c.oldKeys.contains(None) &&
      c.newKeys.contains(None)))
    assert(cases.exists(c => (c.oldDrop -- c.newDrop).nonEmpty) &&
      cases.exists(c => (c.newDrop -- c.oldDrop).nonEmpty))
    assert(cases.exists(c => c.oldKeys.flatten.toSet
      .intersect(c.newKeys.flatten.toSet).nonEmpty))
  }

  test("a float PK keeps the one-job merge") {
    val dir = tmpDir("drv_float")
    val opts = SnapshotOptions(pk = Seq("k"))
    Snapshot.snapshotRecords(spark,
      Some(Seq((0.5, "a"), (1.5, "b")).toDF("k", "v")), "t", dir, opts)
    assert(jobsRunBy(Snapshot.snapshotRecords(spark,
      Some(Seq((1.5, "c"), (2.5, "d")).toDF("k", "v")), "t", dir, opts)) ==
      1)
    assert(Snapshot.readSnapshots(spark, "t", dir).get.as[(Double, String)]
      .collect().toSet == Set((0.5, "a"), (1.5, "c"), (2.5, "d")))
  }

  test("an empty PK fails below the gate as at it, and leaves the " +
      "snapshot as it was") {
    val dir = tmpDir("drv_nopk")
    Snapshot.snapshotRecords(spark,
      Some(Seq((1L, "a"), (2L, "b")).toDF("id", "v")), "t", dir)
    val e = intercept[IllegalArgumentException](Snapshot.snapshotRecords(
      spark, Some(Seq((3L, "c")).toDF("id", "v")), "t", dir,
      SnapshotOptions(pk = Nil)))
    assert(e.getMessage.contains("primary-key"))
    assert(Snapshot.readSnapshots(spark, "t", dir).get.as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b")))
  }

  test("duplicate PKs within one side resolve to one row of the winning " +
      "side, the last one read on the driver") {
    val old = Seq((1L, "o1"), (1L, "o2"), (3L, "o3"), (3L, "o4"))
      .toDF("id", "v")
    val fresh = Seq((1L, "n1"), (1L, "n2"), (2L, "n3")).toDF("id", "v")
    val (jobs, onDriver) =
      merge(old, fresh, tmpDir("drv_dup"), SnapshotOptions())
    assert(jobs == 0)
    assert(FooterSchema.read(spark, onDriver).as[(Long, String)].collect()
      .toSet ==
      Set((1L, "n2"), (2L, "n3"), (3L, "o4")))
    val (_, withJob) = withGate(0L)(
      merge(old, fresh, tmpDir("drv_dup_job"), SnapshotOptions()))
    // a non-nullable PK column is written as the job writes it
    assert(FooterSchema.of(spark, onDriver) == FooterSchema.of(spark, withJob))
    val byKey = FooterSchema.read(spark, withJob).as[(Long, String)]
      .collect().groupBy(_._1)
    assert(byKey.keySet == Set(1L, 2L, 3L) && byKey.values.forall(_.size == 1))
    assert(Set("n1", "n2")(byKey(1L).head._2) && byKey(2L).head._2 == "n3" &&
      Set("o3", "o4")(byKey(3L).head._2))
  }

  test("DriverScan reads what a job reads, in toLocalIterator order: " +
      "local rows, a projected parquet file, a multi-file CSV directory") {
    val local = Seq((1L, "a"), (2L, null), (3L, "c")).toDF("id", "v")
    val pq = s"${tmpDir("drv_scan")}/t.parquet"
    SingleFile.write(spark, local, pq, "parquet")
    val csv = s"${tmpDir("drv_scan")}/t.csv"
    // files of unequal sizes: Spark orders its splits by length
    spark.range(0, 300)
      .selectExpr("id", "repeat('x', CAST(id % 5 AS INT)) AS v")
      .repartition(3).write.option("header", "true").csv(csv)
    val frames = Seq(
      "local" -> local,
      "projected local" -> local.selectExpr("id * 2 AS x", "upper(v) AS v"),
      "parquet" -> FooterSchema.read(spark, pq)
        .selectExpr("concat(v, CAST(id AS STRING)) AS s"),
      "csv" -> spark.read.schema("id LONG, v STRING")
        .option("header", "true").csv(csv).selectExpr("v", "id + 1 AS id"))
    frames.foreach { case (what, df) =>
      var rows: Seq[Row] = Nil
      assert(jobsRunBy {
        val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToScalaConverter(df.schema)
        rows = DriverScan.rows(df).get
          .read(_.map(r => conv(r).asInstanceOf[Row]).toVector)
      } == 0, what)
      assert(rows == df.toLocalIterator().asScala.toSeq, what)
    }
  }

  test("a DriverScan read that stops early or throws closes the file it " +
      "was reading") {
    val fds = new java.io.File("/proc/self/fd")
    assume(fds.isDirectory, "needs the process's open descriptors listed")
    def opened(path: String): Boolean = {
      val abs = new java.io.File(path).getCanonicalPath
      Option(fds.listFiles()).toSeq.flatten.exists { fd =>
        scala.util.Try(java.nio.file.Files.readSymbolicLink(fd.toPath))
          .toOption.exists(_.toString.startsWith(abs))
      }
    }
    val dir = tmpDir("drv_close")
    val rows = spark.range(0, 5000).selectExpr("id", "CAST(id AS STRING) v")
    val pq = s"$dir/t.parquet"
    SingleFile.write(spark, rows, pq, "parquet")
    val csv = s"$dir/t.csv"
    rows.coalesce(1).write.option("header", "true").csv(csv)
    Seq(pq -> FooterSchema.read(spark, pq),
      csv -> spark.read.schema("id LONG, v STRING").option("header", "true")
        .csv(csv)).foreach { case (path, df) =>
      val scan = DriverScan.rows(df).get
      assert(scan.read { it =>
        it.next()
        opened(path) // the reader is open while it is read
      }, path)
      assert(!opened(path), path)
      intercept[IllegalStateException](scan.read { it =>
        it.next()
        throw new IllegalStateException("stop")
      })
      assert(!opened(path), path)
      assert(scan.read(_.size) == 5000, path)
    }
  }

  test("DriverScan refuses what it cannot read as the job would") {
    val pq = s"${tmpDir("drv_refuse")}/t.parquet"
    SingleFile.write(spark, spark.range(10).toDF("id"), pq, "parquet")
    val parts = s"${tmpDir("drv_refuse")}/p"
    spark.range(10).selectExpr("id", "id % 2 AS k").write.partitionBy("k")
      .parquet(parts)
    val scan = FooterSchema.read(spark, pq)
    Seq("filtered" -> scan.filter("id > 3"),
      "nondeterministic" -> scan.selectExpr("id + rand() AS x"),
      "aggregated" -> scan.groupBy().count(),
      "partitioned" -> spark.read.parquet(parts)).foreach {
      case (what, df) => assert(DriverScan.rows(df).isEmpty, what)
    }
    assert(DriverScan.rows(scan).isDefined)
    assert(withGate(0L)(DriverScan.rows(scan)).isEmpty)
    // a local frame is already on the driver: no gate applies
    assert(withGate(0L)(DriverScan.rows(Seq(1).toDF("x"))).isDefined)
  }
}
