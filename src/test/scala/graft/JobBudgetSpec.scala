package graft

import graft.conf.{GluestickConf, Tuning}
import graft.io.{FooterSchema, SingleFile}
import graft.operators.{Export, ExportOptions, Snapshot, SnapshotOptions}
import graft.singer.{SingerOptions, SingerSink}
import graft.sources.{Reader, ReaderOptions}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.util.{Failure, Success, Try}

/** The tenant sync's Spark-job budget: schema resolution runs on the
  * driver (parquet footer, CSV header line), so `Reader.get` runs no job;
  * below the size gate a small keep-last merge and the Singer write run
  * on the driver and the parquet export of the merged frame is a byte
  * copy of the snapshot file, so none of them runs a job. At the gate
  * each job is described by its operator. The footer-resolved schema
  * must be the one Spark's inference gives, and a copied export must read
  * back as the job's output would.
  */
class JobBudgetSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  /** The read-only fixture tables TESTDATA.md names. */
  private val sf0001 = "/root/testdata/sf0.001"

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
    val dir = new java.io.File(sf0001)
    assert(dir.isDirectory, s"fixture dir $sf0001 (TESTDATA.md) is missing")
    val files = dir.listFiles()
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

  test("a small snapshot merge runs no job; at the gate it keeps AQE") {
    val dir = tmpDir("budget_snap")
    def batch(i: Long) = Seq((1L, s"v$i"), (i + 1, "new")).toDF("id", "v")
    Snapshot.snapshotRecords(spark, Some(batch(1)), "s", dir)
    var merged: Option[DataFrame] = None
    assert(jobsRunBy {
      merged = Snapshot.snapshotRecords(spark, Some(batch(2)), "s", dir)
    } == 0)
    assert(merged.get.as[(Long, String)].collect().toSet ==
      Set((1L, "v2"), (2L, "new"), (3L, "new")))
    assert(jobsRunBy(Snapshot.readSnapshots(spark, "s", dir)) == 0)
    assert(withGate(0L)(jobsRunBy(
      Snapshot.snapshotRecords(spark, Some(batch(3)), "s", dir))) > 1)
    assert(Snapshot.readSnapshots(spark, "s", dir).get.as[(Long, String)]
      .collect().toSet ==
      Set((1L, "v3"), (2L, "new"), (3L, "new"), (4L, "new")))
  }

  test("a merge past the driver's byte bound runs the one-job path and " +
      "leaves no partial target") {
    // on the driver each of 2,000 rows of a long and a short string holds
    // at least 48 B (a 32 B row and its 16 B key, before the map's own
    // objects), but they compress to a few KB of parquet: a gate just
    // above the files' bytes holds far fewer rows than they are
    def rows(from: Long, n: Long) = spark.range(from, from + n)
      .selectExpr("id", "CAST(id % 7 AS STRING) AS v")
    def parquet(df: DataFrame): DataFrame = {
      val p = s"${tmpDir("budget_bound_in")}/b.parquet"
      SingleFile.write(spark, df, p, "parquet")
      FooterSchema.read(spark, p)
    }
    Seq("old side" -> (rows(0, 2000), rows(1990, 20)),
      "batch" -> (rows(0, 20), rows(10, 2000))).foreach {
      case (what, (old, fresh)) =>
        val expected = old.join(fresh, Seq("id"), "left_anti")
          .union(fresh).as[(Long, String)].collect().toSet
        def merge(dir: String): Int = {
          Snapshot.snapshotRecords(spark, Some(old), "s", dir)
          val batch = parquet(fresh)
          val gate = Tuning.estimatedBytes(
            FooterSchema.read(spark, s"$dir/s.snapshot.parquet"), batch) +
            1024
          assert(gate < 2000 * 48, what)
          withGate(gate)(jobsRunBy(
            Snapshot.snapshotRecords(spark, Some(batch), "s", dir)))
        }
        val dir = tmpDir("budget_bound")
        assert(merge(dir) == 1, what)
        // no temp dir or partial file left beside the target (the local
        // filesystem keeps a checksum file next to each file)
        assert(new java.io.File(dir).list().filterNot(_.endsWith(".crc"))
          .toSeq == Seq("s.snapshot.parquet"), what)
        assert(Snapshot.readSnapshots(spark, "s", dir).get.as[(Long, String)]
          .collect().toSet == expected, what)
        // the same merge with the rows inside the bound runs no job
        val roomy = tmpDir("budget_bound_roomy")
        Snapshot.snapshotRecords(spark, Some(old), "s", roomy)
        val batch = parquet(fresh)
        assert(jobsRunBy(
          Snapshot.snapshotRecords(spark, Some(batch), "s", roomy)) == 0, what)
        assert(Snapshot.readSnapshots(spark, "s", roomy).get
          .as[(Long, String)].collect().toSet == expected, what)
    }
  }

  private val noEnv = GluestickConf(Map.empty)

  /** The parquet export of `df` as `<dir>/t.parquet`. */
  private def exportParquet(df: DataFrame, dir: String): String = {
    Export.toExport(df, "t", dir,
      ExportOptions(exportFormat = Some("parquet")), noEnv)
    s"$dir/t.parquet"
  }

  /** Two exported files read back to the same schema and rows, in order. */
  private def sameReadBack(a: String, b: String): Unit = {
    val (ra, rb) = (spark.read.parquet(a), spark.read.parquet(b))
    assert(ra.schema == rb.schema, s"$a vs $b")
    assert(ra.collect().toSeq == rb.collect().toSeq, s"$a vs $b")
  }

  private def bytes(p: String) = Files.readAllBytes(Paths.get(p)).toSeq

  test("after a merge the parquet export is a byte copy of the snapshot: " +
      "no job, and it reads back as the job's output, typed and empty") {
    val dir = tmpDir("budget_copy")
    val opts = SnapshotOptions(pk = Seq("l"))
    Snapshot.snapshotRecords(spark, Some(typed), "t", s"$dir/snap", opts)
    val merged = Snapshot.snapshotRecords(spark,
      Some(typed.filter("l >= 2")), "t", s"$dir/snap", opts).get
    val emptyFile = singleFile(typed.filter("l < 0"))
    Seq("typed" -> (merged, s"$dir/snap/t.snapshot.parquet"),
      "empty" -> (FooterSchema.read(spark, emptyFile), emptyFile)
    ).foreach { case (what, (df, source)) =>
      var copy = ""
      assert(jobsRunBy { copy = exportParquet(df, s"$dir/copy_$what") } == 0,
        what)
      assert(bytes(copy) == bytes(source), what)
      var job = ""
      assert(withGate(0L)(jobsRunBy {
        job = exportParquet(df, s"$dir/job_$what")
      }) == 1, what)
      sameReadBack(copy, job)
    }
    assert(spark.read.parquet(s"$dir/copy_typed/t.parquet").count() == 5)
    assert(spark.read.parquet(s"$dir/copy_empty/t.parquet").count() == 0)
  }

  test("a frame that is not an unmodified scan of one parquet file below " +
      "the gate keeps its one export job and its read-back") {
    val dir = tmpDir("budget_nocopy")
    val src = singleFile(typed)
    val parts = s"$dir/parts.parquet"
    typed.repartition(2).write.parquet(parts)
    val subset = StructType(FooterSchema.read(spark, src).schema.take(3))
    val frames = Seq(
      "projected" -> FooterSchema.read(spark, src).select("l", "st"),
      "filtered" -> FooterSchema.read(spark, src).filter("l > 1"),
      "two_parts" -> spark.read.parquet(parts),
      "one_file_twice" -> spark.read.parquet(src, src),
      "column_subset" -> spark.read.schema(subset).parquet(src),
      "read_option" -> spark.read.option("mergeSchema", "false").parquet(src))
    frames.foreach { case (what, df) =>
      var out = ""
      assert(jobsRunBy { out = exportParquet(df, s"$dir/$what") } == 1, what)
      val back = spark.read.parquet(out)
      assert(back.schema == df.schema, what)
      assert(back.orderBy("l").collect().toSeq ==
        df.orderBy("l").collect().toSeq, what)
    }
    val scan = FooterSchema.read(spark, src)
    var gated = ""
    assert(withGate(0L)(jobsRunBy {
      gated = exportParquet(scan, s"$dir/gate0")
    }) == 1)
    sameReadBack(gated, exportParquet(scan, s"$dir/copied"))
    Seq("csv", "jsonl").foreach { fmt =>
      def export(out: String): String = {
        Export.toExport(scan, "t", out,
          ExportOptions(exportFormat = Some(fmt)), noEnv)
        SingleFile.readString(spark, s"$out/t.$fmt")
      }
      var text = ""
      assert(jobsRunBy { text = export(s"$dir/$fmt") } == 1, fmt)
      assert(text.nonEmpty && text == withGate(0L)(export(s"$dir/${fmt}0")),
        fmt)
    }
  }

  test("a file rewritten or touched after its frame was listed is not " +
      "copied: the export runs the job path and ends as it does") {
    val dir = tmpDir("budget_stale")
    def root(e: Throwable) =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    Seq("rewritten", "touched").foreach { what =>
      val src = singleFile(typed)
      val stale = FooterSchema.read(spark, src) // lists the file now
      if (what == "rewritten")
        SingleFile.write(spark, typed.filter("l < 3"), src, "parquet")
      // a touch keeps the bytes and the length: only the time tells
      SingleFile.fs(spark, src).setTimes(new org.apache.hadoop.fs.Path(src),
        System.currentTimeMillis() + 10000, -1)
      def write(out: String): Try[String] =
        Try(SingleFile.write(spark, stale, out, "parquet")).map(_ => out)
      var viaCopy: Try[String] = null
      assert(jobsRunBy { viaCopy = write(s"$dir/${what}_a.parquet") } == 1,
        what)
      val viaJob = withGate(0L)(write(s"$dir/${what}_b.parquet"))
      (viaCopy, viaJob) match {
        case (Success(a), Success(b)) => sameReadBack(a, b)
        case (Failure(a), Failure(b)) =>
          assert(root(a).getClass == root(b).getClass, s"$what: $a vs $b")
        case other => fail(s"$what: copy and job paths differ: $other")
      }
      if (what == "touched") assert(viaJob.isSuccess)
    }
  }

  test("a sync's merge, parquet export and Singer write run 0, 0 and 0 " +
      "jobs; at the gate their jobs are described by their operators, the " +
      "caller's description comes back and the outputs are the same") {
    val (sync, root) = syncFixture()
    val r = new Reader(spark, sync, root)
    val (snap, snapJob) = (tmpDir("budget_sync"), tmpDir("budget_sync_job"))
    val (out, outJob) = (tmpDir("budget_sync_out"), tmpDir("budget_sync_oj"))
    val sc = spark.sparkContext
    def singer(batch: DataFrame, s: String, dir: String): Unit =
      SingerSink.toSinger(batch, s, dir,
        SingerOptions(keys = Seq("id"), filename = s"$s.singer"), noEnv)
    def exportStream(merged: DataFrame, s: String, dir: String): Unit =
      Export.toExport(merged, s, dir,
        ExportOptions(exportFormat = Some("parquet")), noEnv)
    Seq("orders", "customers").foreach { s =>
      val batch = r.get(s, ReaderOptions(catalogTypes = true)).get
      Seq(snap, snapJob).foreach(d =>
        Snapshot.snapshotRecords(spark, Some(batch), s, d))
      var merged: DataFrame = null
      assert(jobsRunBy {
        merged = Snapshot.snapshotRecords(spark, Some(batch), s, snap).get
      } == 0)
      assert(jobsRunBy(exportStream(merged, s, s"$out/export")) == 0)
      assert(jobsRunBy(singer(batch, s, out)) == 0)
      sc.setJobDescription("caller")
      try withGate(0L) {
        var mergedJob: DataFrame = null
        assert(jobDescriptions {
          mergedJob =
            Snapshot.snapshotRecords(spark, Some(batch), s, snapJob).get
        }.distinct == Seq(s"graft:Snapshot.merge $s"))
        assert(jobDescriptions(
          exportStream(mergedJob, s, s"$outJob/export")) ==
          Seq(s"graft:Export.parquet $s"))
        assert(jobDescriptions(singer(batch, s, outJob)).distinct ==
          Seq(s"graft:SingerSink.toSinger $s"))
        assert(sc.getLocalProperty("spark.job.description") == "caller")
      } finally sc.setJobDescription(null)
      val (a, b) = (spark.read.parquet(s"$out/export/$s.parquet"),
        spark.read.parquet(s"$outJob/export/$s.parquet"))
      assert(a.schema == b.schema)
      assert(a.collect().toSet == b.collect().toSet)
      assert(SingleFile.readString(spark, s"$out/$s.singer") ==
        SingleFile.readString(spark, s"$outJob/$s.singer"))
    }
  }
}
