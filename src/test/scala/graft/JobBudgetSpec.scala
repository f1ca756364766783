package graft

import graft.io.{FooterSchema, SingleFile}
import graft.operators.Snapshot
import graft.sources.{Reader, ReaderOptions}

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** The reader → snapshot path's Spark-job budget: schema resolution runs
  * on the driver (parquet footer, CSV header line), so `Reader.get` runs
  * no job and a small keep-last merge runs one. The footer-resolved
  * schema must be the one Spark's inference gives.
  */
class JobBudgetSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  /** The read-only fixture tables of TESTDATA.md, next to the checkout. */
  private val sf0001 =
    Paths.get("..", "testdata", "sf0.001").toAbsolutePath.normalize.toString

  /** One frame per column type a snapshot or export round-trips. */
  private def typed: DataFrame = spark.range(5).selectExpr(
    "id AS l",
    "CAST(id AS DOUBLE) / 3 AS d",
    "id % 2 = 0 AS b",
    "timestamp_seconds(id * 86400) AS ts",
    "CAST(timestamp_seconds(id * 86400) AS TIMESTAMP_NTZ) AS ntz",
    "CAST(id AS DECIMAL(12, 3)) AS dec",
    "named_struct('a', CAST(id AS INT), 'b', CAST(id AS STRING)) AS st",
    "IF(id = 1, NULL, array(CAST(id AS DOUBLE), NULL)) AS arr")

  private def singleFile(df: DataFrame): String = {
    val p = s"${tmpDir("footer")}/t.parquet"
    SingleFile.write(spark, df, p, "parquet")
    p
  }

  test("footer schema equals Spark's inferred schema, Spark-written files") {
    val files = Seq(singleFile(typed),
      singleFile(typed.select("st", "arr", "dec")),
      singleFile(typed.filter("l < 0"))) // empty file
    files.foreach { p =>
      val inferred = spark.read.parquet(p)
      assert(FooterSchema.of(spark, p).contains(inferred.schema), p)
      val read = FooterSchema.read(spark, p)
      assert(read.schema == inferred.schema)
      assert(read.collect().toSeq == inferred.collect().toSeq)
    }
  }

  test("directories and globs keep Spark's inference") {
    val dir = s"${tmpDir("footer_dir")}/t.parquet"
    typed.repartition(2).write.parquet(dir)
    assert(FooterSchema.of(spark, dir).isEmpty)
    assert(FooterSchema.of(spark, s"$dir/*.parquet").isEmpty)
    assert(FooterSchema.read(spark, dir).schema ==
      spark.read.parquet(dir).schema)
  }

  test("footer schema equals Spark's inferred schema, non-Spark files") {
    val files = new java.io.File(sf0001).listFiles()
      .map(_.getPath).filter(_.endsWith(".parquet")).sorted.toSeq
    assert(files.size >= 8, s"fixture tables missing under $sf0001")
    files.foreach { p =>
      assert(FooterSchema.of(spark, p).contains(spark.read.parquet(p).schema),
        p)
    }
  }

  test("TIMESTAMP(NANOS): Spark's error without the legacy conf, its " +
      "schema with it") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val t = MessageTypeParser.parseMessageType(
      "message m { required int64 id; " +
        "optional int64 ts (TIMESTAMP(NANOS,false)); }")
    val p = s"${tmpDir("footer_nanos")}/nanos.parquet"
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(p))
      .withType(t).withConf(spark.sessionState.newHadoopConf()).build()
    try w.write(new SimpleGroupFactory(t).newGroup()
      .append("id", 1L).append("ts", 1700000000123456789L))
    finally w.close()
    def condition(e: Throwable): Option[String] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collectFirst {
        case s: org.apache.spark.SparkThrowable
            if s.getCondition != null => s.getCondition
      }
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      val ours = intercept[Exception](FooterSchema.of(spark, p))
      val sparks = intercept[Exception](spark.read.parquet(p))
      assert(condition(ours).isDefined)
      assert(condition(ours) == condition(sparks), s"$ours vs $sparks")
      spark.conf.set(key, "true")
      val inferred = spark.read.parquet(p)
      assert(FooterSchema.of(spark, p).contains(inferred.schema))
      assert(FooterSchema.read(spark, p).collect().toSeq ==
        inferred.collect().toSeq)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** A sync-output dir with a CSV and a parquet stream, both catalog-typed. */
  private def syncFixture(): (String, String) = {
    val root = tmpDir("budget")
    val sync = Paths.get(root, "sync-output")
    Files.createDirectories(sync)
    Files.write(sync.resolve("orders.csv"),
      "id,amount,active\n1,2.5,true\n2,3.5,false\n"
        .getBytes(StandardCharsets.UTF_8))
    SingleFile.write(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "name"),
      sync.resolve("customers.parquet").toString, "parquet")
    Files.write(Paths.get(root, "catalog.json"),
      """{"streams": [
        |{"stream": "orders", "tap_stream_id": "orders",
        | "schema": {"properties": {"id": {"type": "integer"},
        |   "amount": {"type": "number"}, "active": {"type": "boolean"}}}},
        |{"stream": "customers", "tap_stream_id": "customers",
        | "schema": {"properties": {"id": {"type": "integer"}}}}]}"""
        .stripMargin.getBytes(StandardCharsets.UTF_8))
    (sync.toString, root)
  }

  test("Reader.get runs no job: catalog-typed CSV, single parquet file") {
    val (sync, root) = syncFixture()
    val r = new Reader(spark, sync, root)
    val typedOpts = ReaderOptions(catalogTypes = true)
    var orders, customers, plain: Option[DataFrame] = None
    assert(jobsRunBy { orders = r.get("orders", typedOpts) } == 0)
    assert(jobsRunBy { customers = r.get("customers", typedOpts) } == 0)
    assert(jobsRunBy { plain = r.get("customers") } == 0)
    assert(orders.get.as[(Long, Double, Boolean)].collect().toSet ==
      Set((1L, 2.5, true), (2L, 3.5, false)))
    assert(customers.get.as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    assert(plain.get.schema == customers.get.schema)
  }

  test("a small snapshot merge runs one job; at the gate it keeps AQE") {
    val dir = tmpDir("budget_snap")
    val gate = "spark.graft.smallInput.maxBytes"
    def batch(i: Long) = Seq((1L, s"v$i"), (i + 1, "new")).toDF("id", "v")
    Snapshot.snapshotRecords(spark, Some(batch(1)), "s", dir)
    var merged: Option[DataFrame] = None
    assert(jobsRunBy {
      merged = Snapshot.snapshotRecords(spark, Some(batch(2)), "s", dir)
    } == 1)
    assert(merged.get.as[(Long, String)].collect().toSet ==
      Set((1L, "v2"), (2L, "new"), (3L, "new")))
    assert(jobsRunBy(Snapshot.readSnapshots(spark, "s", dir)) == 0)
    spark.conf.set(gate, "0")
    try assert(jobsRunBy(
      Snapshot.snapshotRecords(spark, Some(batch(3)), "s", dir)) > 1)
    finally spark.conf.unset(gate)
    assert(Snapshot.readSnapshots(spark, "s", dir).get.as[(Long, String)]
      .collect().toSet ==
      Set((1L, "v3"), (2L, "new"), (3L, "new"), (4L, "new")))
  }
}
