package graft

import graft.operators.{Export, ExportOptions}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.sources.SingerSource]] (DSv2): schema from the SCHEMA message,
  * RECORD parsing, multi-file partitioned reads, column pruning, and
  * non-RECORD message skipping — round-tripped through the real sink.
  */
class SingerSourceSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  private def writeSinger(dir: String, rows: Seq[(Long, String, Double)]): Unit = {
    val df = rows.toDF("id", "name", "score")
    Export.toExport(df, "t", dir,
      ExportOptions(exportFormat = Some("singer"), keys = Seq("id")),
      conf = graft.conf.GluestickConf(Map.empty))
  }

  test("round-trips rows written by the singer sink") {
    val dir = tmpDir("singer_src")
    val rows = Seq((1L, "a", 1.5), (2L, "b", -2.25), (3L, "c", 0.0))
    writeSinger(dir, rows)
    val got = spark.read.format("graft-singer").load(s"$dir/data.singer")
      .orderBy("id").as[(Long, String, Double)].collect.toSeq
    assert(got == rows)
  }

  test("infers the schema from the SCHEMA message") {
    val dir = tmpDir("singer_schema")
    writeSinger(dir, Seq((1L, "a", 1.0)))
    val schema = spark.read.format("graft-singer")
      .load(s"$dir/data.singer").schema
    assert(schema.fieldNames.toSeq == Seq("id", "name", "score"))
    assert(schema("id").dataType.typeName == "long")
    assert(schema("score").dataType.typeName == "double")
  }

  test("reads a directory of files as parallel partitions") {
    val dir = tmpDir("singer_multi")
    val d1 = s"$dir/part1"
    val d2 = s"$dir/part2"
    writeSinger(d1, Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    writeSinger(d2, Seq((3L, "c", 3.0)))
    // collect both data.singer files into one directory
    val merged = tmpDir("singer_merged")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d1/data.singer"),
      java.nio.file.Paths.get(s"$merged/a.singer"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d2/data.singer"),
      java.nio.file.Paths.get(s"$merged/b.singer"))
    val df = spark.read.format("graft-singer").load(merged)
    assert(df.rdd.getNumPartitions == 2, "one partition per file")
    assert(df.agg(sum("id")).head.getLong(0) == 6L)
  }

  test("column pruning reaches the scan") {
    val dir = tmpDir("singer_prune")
    writeSinger(dir, Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    val pruned = spark.read.format("graft-singer")
      .load(s"$dir/data.singer").select("id")
    val scanDesc = pruned.queryExecution.executedPlan.toString
    assert(scanDesc.contains("ReadSchema: struct<id:bigint>"),
      s"pruned schema should reach the scan:\n$scanDesc")
    assert(pruned.as[Long].collect.toSet == Set(1L, 2L))
  }

  test("filter pushdown reaches the scan and prunes records exactly") {
    val dir = tmpDir("singer_filter")
    writeSinger(dir, Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
    val f = spark.read.format("graft-singer").load(s"$dir/data.singer")
      .filter(col("id") >= 2L && col("name") === "b")
    val plan = f.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") &&
      plan.contains("GreaterThanOrEqual(id,2)"),
      s"filters should push into the scan:\n$plan")
    assert(f.select("id").as[Long].collect.toSeq == Seq(2L))
    // null semantics: a comparison never matches a missing field
    val none = spark.read.format("graft-singer").load(s"$dir/data.singer")
      .filter(col("score") > 100.0)
    assert(none.count() == 0L)
  }

  test("pushed filters agree with materialization on coerced/mismatched values") {
    // hand-written stream: name holds a NUMBER (coerces to "5" under the
    // string schema) and one id holds TEXT (materializes null under long)
    val dir = tmpDir("singer_semantics")
    val f = s"$dir/data.singer"
    java.nio.file.Files.write(java.nio.file.Paths.get(f), java.util.Arrays.asList(
      """{"type":"SCHEMA","stream":"t","schema":{"properties":""" +
        """{"id":{"type":["integer","null"]},"name":{"type":["string","null"]}}},""" +
        """"key_properties":["id"]}""",
      """{"type":"RECORD","stream":"t","record":{"id":1,"name":5}}""",
      """{"type":"RECORD","stream":"t","record":{"id":"abc","name":"x"}}"""))
    val df = spark.read.format("graft-singer").load(f)
    // string comparison sees the COERCED text, like the materialized row
    assert(df.filter(col("name") === "5").count() == 1L)
    // a type-mismatched primitive IS null — for IsNull and IsNotNull both
    assert(df.filter(col("id").isNull).count() == 1L)
    assert(df.filter(col("id").isNotNull).count() == 1L)
    assert(df.filter(col("id").isNotNull).select("name")
      .as[String].collect.toSeq == Seq("5"))
  }

  test("streams a directory of singer files, restart reads only new files") {
    val dir = tmpDir("singer_stream")
    val src = s"$dir/src"
    new java.io.File(src).mkdirs()
    def addFile(name: String, rows: Seq[(Long, String, Double)]): Unit = {
      val tmp = tmpDir("singer_stage")
      writeSinger(tmp, rows)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$tmp/data.singer"),
        java.nio.file.Paths.get(s"$src/$name"))
      ()
    }
    addFile("a.singer", Seq((1L, "a", 1.0), (2L, "b", 2.0)))

    // file sink (append-only) so the checkpoint is recoverable — the
    // cumulative output proves each restart consumed ONLY new files
    // (a re-read would duplicate rows)
    def drain(): Seq[(Long, String, Double)] = {
      val q = spark.readStream.format("graft-singer").load(src)
        .writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(s"$dir/out").orderBy("id")
        .as[(Long, String, Double)].collect.toSeq
    }

    assert(drain() == Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    // a later-sorting file arrives; restart from the same checkpoint must
    // consume ONLY it (duplicates of ids 1-2 would appear otherwise)
    addFile("b.singer", Seq((3L, "c", 3.0)))
    assert(drain() == Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
    // nothing new: restart appends nothing
    assert(drain() == Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
  }

  test("scan reports file-size statistics to the optimizer") {
    val dir = tmpDir("singer_stats")
    writeSinger(dir, Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    val fileBytes = new java.io.File(s"$dir/data.singer").length()
    assert(fileBytes > 0)
    val df = spark.read.format("graft-singer").load(s"$dir/data.singer")
    val stats = df.queryExecution.optimizedPlan.stats
    // plan-level sizeInBytes derives from the scan's reported statistic
    // (possibly scaled by column pruning) — it must be finite and of the
    // file's order of magnitude, not the unknown-source default
    assert(stats.sizeInBytes > 0 &&
      stats.sizeInBytes <= BigInt(fileBytes) * 16,
      s"sizeInBytes=${stats.sizeInBytes} fileBytes=$fileBytes")
  }

  test("maxFilesPerTrigger chunks the backlog into ordered batches") {
    val dir = tmpDir("singer_admission")
    val src = s"$dir/src"
    new java.io.File(src).mkdirs()
    def addFile(name: String, rows: Seq[(Long, String, Double)]): Unit = {
      val tmp = tmpDir("singer_adm_stage")
      writeSinger(tmp, rows)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$tmp/data.singer"),
        java.nio.file.Paths.get(s"$src/$name"))
      ()
    }
    addFile("a.singer", Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    addFile("b.singer", Seq((3L, "c", 3.0)))
    val batches = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
    val q = spark.readStream.format("graft-singer")
      .option("maxFilesPerTrigger", "1")
      .load(src)
      .writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += df.select("id").as[Long].collect.toSeq.sorted
        ()
      }
      .start()
    q.awaitTermination()
    assert(batches.toSeq == Seq(Seq(1L, 2L), Seq(3L)),
      s"one file per ordered batch, got $batches")
  }

  test("DSv2 write path round-trips through the DSv2 read path") {
    val dir = tmpDir("singer_write")
    val rows = Seq((1L, "a", 1.5), (2L, "b", -2.25), (3L, "c", 0.0))
    rows.toDF("id", "name", "score")
      .repartition(2)
      .write.format("graft-singer").mode("append")
      .option("stream", "t")
      .save(s"$dir/out")
    // per-partition files, each with its own SCHEMA line
    val files = new java.io.File(s"$dir/out").listFiles
      .filter(_.getName.endsWith(".singer"))
    assert(files.length == 2, s"one file per partition: ${files.toSeq}")
    val got = spark.read.format("graft-singer").load(s"$dir/out")
      .orderBy("id").as[(Long, String, Double)].collect.toSeq
    assert(got == rows)
    // append adds rows; overwrite replaces them
    Seq((4L, "d", 4.0)).toDF("id", "name", "score")
      .coalesce(1)
      .write.format("graft-singer").mode("append").save(s"$dir/out")
    assert(spark.read.format("graft-singer").load(s"$dir/out").count() == 4L)
    Seq((9L, "z", 9.0)).toDF("id", "name", "score")
      .coalesce(1)
      .write.format("graft-singer").mode("overwrite").save(s"$dir/out")
    assert(spark.read.format("graft-singer").load(s"$dir/out")
      .as[(Long, String, Double)].collect.toSeq == Seq((9L, "z", 9.0)))
  }

  test("DSv2 write serializes timestamps the reader parses back") {
    val dir = tmpDir("singer_write_ts")
    val ts = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-03-01T12:34:56.789012Z"))
    Seq((1L, ts)).toDF("id", "ts")
      .write.format("graft-singer").mode("append").save(s"$dir/out")
    val got = spark.read.format("graft-singer").load(s"$dir/out")
      .as[(Long, java.sql.Timestamp)].head
    assert(got == ((1L, ts)))
  }

  test("non-finite doubles survive the write-read round trip") {
    val dir = tmpDir("singer_nan")
    val rows = Seq((1L, Double.NaN), (2L, Double.PositiveInfinity),
      (3L, Double.NegativeInfinity), (4L, 1.5))
    rows.toDF("id", "score")
      .write.format("graft-singer").mode("append").save(s"$dir/out")
    val got = spark.read.format("graft-singer").load(s"$dir/out")
      .orderBy("id").as[(Long, Double)].collect.toSeq
    assert(got(0)._2.isNaN && got(1)._2.isPosInfinity &&
      got(2)._2.isNegInfinity && got(3)._2 == 1.5, s"got $got")
  }

  test("reading an empty directory fails fast instead of dropping data") {
    val dir = tmpDir("singer_empty")
    val e = intercept[Exception] {
      spark.read.format("graft-singer").load(dir).count()
    }
    assert(e.getMessage.contains("no files"), e.getMessage)
  }

  test("maxFilesPerTrigger rejects non-positive and non-numeric values") {
    val dir = tmpDir("singer_badopt")
    writeSinger(dir, Seq((1L, "a", 1.0)))
    for (bad <- Seq("0", "-2", "one")) {
      // the option is validated when the scan builder is created, i.e. at
      // first planning — count() forces it on the batch path
      val e = intercept[Exception] {
        spark.read.format("graft-singer")
          .option("maxFilesPerTrigger", bad)
          .load(s"$dir/data.singer")
          .count()
      }
      assert(e.getMessage.contains("maxFilesPerTrigger"),
        s"'$bad': ${e.getMessage}")
    }
  }

  test("skips SCHEMA and STATE messages interleaved with records") {
    val dir = tmpDir("singer_skip")
    writeSinger(dir, Seq((7L, "x", 9.0)))
    // sink writes SCHEMA, RECORDs, STATE — count rows == records only
    val n = spark.read.format("graft-singer").load(s"$dir/data.singer").count()
    assert(n == 1L)
  }

  test("out-of-lexicographic-order arrival fails fast instead of corrupting") {
    val dir = tmpDir("singer_ooo")
    val src = s"$dir/src"
    new java.io.File(src).mkdirs()
    def addFile(name: String, rows: Seq[(Long, String, Double)]): Unit = {
      val tmp = tmpDir("singer_ooo_stage")
      writeSinger(tmp, rows)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$tmp/data.singer"),
        java.nio.file.Paths.get(s"$src/$name"))
      ()
    }
    def drain(): Unit = {
      val q = spark.readStream.format("graft-singer").load(src)
        .writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    addFile("b.singer", Seq((1L, "a", 1.0)))
    drain()
    // a file sorting BEFORE the committed prefix arrives: the silent
    // outcome would be b.singer re-read (duplicate) + a.singer never read
    addFile("a.singer", Seq((2L, "b", 2.0)))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("lexicographic")),
      s"expected the contract-violation error, got: ${chain(e)}")
  }

  test("streaming write emits epoch-prefixed files a batch read composes") {
    val dir = tmpDir("singer_stream_write")
    val src = s"$dir/src"
    new java.io.File(src).mkdirs()
    def addFile(name: String, rows: Seq[(Long, String, Double)]): Unit = {
      val tmp = tmpDir("singer_sw_stage")
      writeSinger(tmp, rows)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$tmp/data.singer"),
        java.nio.file.Paths.get(s"$src/$name"))
      ()
    }
    addFile("a.singer", Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    addFile("b.singer", Seq((3L, "c", 3.0)))
    val out = s"$dir/out"
    val q = spark.readStream.format("graft-singer")
      .option("maxFilesPerTrigger", "1") // → two epochs
      .load(src)
      .writeStream
      .format("graft-singer")
      .option("path", out)
      .option("stream", "t")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val files = new java.io.File(out).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".singer"))
      .map(_.getName).sorted.toSeq
    assert(files.nonEmpty && files.forall(_.startsWith("epoch-")),
      s"expected epoch-prefixed .singer files, got $files")
    // per-epoch tmp dirs are cleaned up once their epoch commits
    assert(!new java.io.File(out).listFiles()
      .exists(f => f.isDirectory && f.getName.startsWith("_tmp-")),
      "committed epochs must not leave _tmp dirs behind")
    assert(files.map(_.take("epoch-00000000000000000000".length))
      .distinct.size == 2, s"expected two epochs, got $files")
    val got = spark.read.format("graft-singer").load(out)
      .orderBy("id").as[(Long, String, Double)].collect.toSeq
    assert(got == Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
  }

  test("streaming write restarts append new epochs; replayed epochs overwrite") {
    val dir = tmpDir("singer_sw_restart")
    val src = s"$dir/src"
    new java.io.File(src).mkdirs()
    def addFile(name: String, rows: Seq[(Long, String, Double)]): Unit = {
      val tmp = tmpDir("singer_swr_stage")
      writeSinger(tmp, rows)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$tmp/data.singer"),
        java.nio.file.Paths.get(s"$src/$name"))
      ()
    }
    val out = s"$dir/out"
    def drain(): Unit = {
      val q = spark.readStream.format("graft-singer")
        .option("maxFilesPerTrigger", "1")
        .load(src)
        .writeStream
        .format("graft-singer")
        .option("path", out)
        .option("stream", "t")
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    addFile("a.singer", Seq((1L, "a", 1.0)))
    drain()
    // restart from the same checkpoint: only the NEW file becomes a new
    // epoch; committed epochs are untouched
    addFile("b.singer", Seq((2L, "b", 2.0)))
    drain()
    val got = spark.read.format("graft-singer").load(out)
      .orderBy("id").as[(Long, String, Double)].collect.toSeq
    assert(got == Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    val epochs = new java.io.File(out).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".singer"))
      .map(_.getName.take("epoch-00000000000000000000".length)).distinct
    assert(epochs.length == 2, epochs.mkString(", "))

    // idempotent re-commit: plant a stale file claiming an already-used
    // epoch prefix — the next commit of that epoch must REPLACE it, so a
    // pre-crash partial attempt can never double rows. Simulate by
    // clearing the checkpoint (epoch numbering restarts at 0) with a
    // fresh output dir holding a bogus epoch-0 leftover.
    val out2 = s"$dir/out2"
    new java.io.File(out2).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        s"$out2/epoch-00000000000000000000-part-9-9-dead.singer"),
      """{"type":"SCHEMA","stream":"t","schema":{"type":["object","null"],""" +
        """"properties":{"id":{"type":["integer","null"]}}},""" +
        """"key_properties":["id"]}""" + "\n" +
        """{"type":"RECORD","stream":"t","record":{"id":999}}""" + "\n")
    val q2 = spark.readStream.format("graft-singer").load(src)
      .writeStream
      .format("graft-singer")
      .option("path", out2)
      .option("stream", "t")
      .option("checkpointLocation", s"$dir/ckpt2")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    val ids = spark.read.format("graft-singer").load(out2)
      .select("id").as[Long].collect.toSeq.sorted
    assert(!ids.contains(999L),
      s"stale epoch-0 leftover must be replaced, got $ids")
    assert(ids == Seq(1L, 2L), ids.toString)
  }

  test("batch commit garbage-collects stale _tmp dirs, spares fresh ones") {
    val dir = tmpDir("singer_tmp_gc")
    new java.io.File(dir).mkdirs()
    val stale = new java.io.File(s"$dir/_tmp-dead")
    stale.mkdirs()
    assert(stale.setLastModified(System.currentTimeMillis() - 60000))
    val fresh = new java.io.File(s"$dir/_tmp-live")
    fresh.mkdirs() // mtime = now → inside any sane TTL
    // the straggler case: the DIR's mtime is old (every file was created
    // long ago — dir mtime only moves on direct child create/delete) but
    // one task is still writing, so a CONTENT mtime is fresh. Dir-mtime
    // gating would delete this live write mid-commit.
    val straggler = new java.io.File(s"$dir/_tmp-straggler")
    straggler.mkdirs()
    val inFlight = new java.io.File(straggler, "part-00000-0-x.singer")
    val w = new java.io.FileWriter(inFlight); w.write("{}\n"); w.close()
    assert(straggler.setLastModified(System.currentTimeMillis() - 60000))
    Seq((1L, "a", 1.0)).toDF("id", "name", "score")
      .write.format("graft-singer")
      .option("stream", "t")
      .option("staleTmpTtlMs", "30000")
      .mode("append").save(dir)
    assert(!stale.exists(), "stale _tmp dir should be GC'd at commit")
    assert(fresh.exists(), "a live writer's fresh _tmp dir must survive")
    assert(straggler.exists() && inFlight.exists(),
      "a dir whose CONTENTS are fresh must survive even with an old dir mtime")
  }

  test("mergeSchemas composes with the stream option: per-stream widening") {
    val dir = tmpDir("singer_evolve_ms")
    new java.io.File(dir).mkdirs()
    def schemaLine(stream: String, props: String) =
      s"""{"type":"SCHEMA","stream":"$stream","schema":""" +
        s"""{"type":["object","null"],"properties":{$props}},""" +
        """"key_properties":[]}"""
    val idP = """"id":{"type":["integer","null"]}"""
    val nmP = """"nm":{"type":["string","null"]}"""
    val xP = """"x":{"type":["number","null"]}"""
    // file a: stream d (id), stream c (id, x) interleaved
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/a.singer"),
      schemaLine("d", idP) + "\n" +
        """{"type":"RECORD","stream":"d","record":{"id":1}}""" + "\n" +
        schemaLine("c", s"$idP,$xP") + "\n" +
        """{"type":"RECORD","stream":"c","record":{"id":7,"x":0.5}}""" + "\n")
    // file b: stream d WIDENED (id, nm); stream c unchanged
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/b.singer"),
      schemaLine("d", s"$idP,$nmP") + "\n" +
        """{"type":"RECORD","stream":"d","record":{"id":2,"nm":"two"}}""" +
        "\n" + schemaLine("c", s"$idP,$xP") + "\n" +
        """{"type":"RECORD","stream":"c","record":{"id":8,"x":1.5}}""" + "\n")
    // merging is PER-STREAM: d widens to (id, nm) — stream c's fields
    // (x) never leak into d's schema, and c's records never materialize
    val d = spark.read.format("graft-singer")
      .option("stream", "d").option("mergeSchemas", "true").load(dir)
    assert(d.schema.fieldNames.toSeq == Seq("id", "nm"))
    assert(d.orderBy("id").as[(Long, Option[String])].collect.toSeq ==
      Seq((1L, None), (2L, Some("two"))))
    val c = spark.read.format("graft-singer")
      .option("stream", "c").option("mergeSchemas", "true").load(dir)
    assert(c.schema.fieldNames.toSeq == Seq("id", "x"))
    assert(c.orderBy("id").as[(Long, Double)].collect.toSeq ==
      Seq((7L, 0.5), (8L, 1.5)))
  }

  test("streaming write file names are deterministic per (epoch, partition)") {
    val dir = tmpDir("singer_sw_detnames")
    val src = s"$dir/src"
    new java.io.File(src).mkdirs()
    val tmp = tmpDir("singer_swd_stage")
    writeSinger(tmp, Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$tmp/data.singer"),
      java.nio.file.Paths.get(s"$src/a.singer"))
    val out = s"$dir/out"
    val q = spark.readStream.format("graft-singer").load(src)
      .writeStream.format("graft-singer")
      .option("path", out).option("stream", "t")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val names = new java.io.File(out).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".singer"))
      .map(_.getName).sorted.toSeq
    // no task id, no write id: a replayed commit of this epoch would
    // reproduce EXACTLY these names, so a downstream reader's committed
    // offset can never pin a name that replay fails to recreate
    assert(names.forall(_.matches("epoch-\\d{20}-part-\\d{5}\\.singer")),
      names.mkString(", "))
  }

  test("mergeSchemas widens across files; divergence without it fails fast") {
    val dir = tmpDir("singer_evolve")
    new java.io.File(dir).mkdirs()
    // export 1: (id, name); export 2 re-inferred with a NEW column rating
    // (ref src/singer.ts:34-166 — each export derives its own SCHEMA)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/a.singer"),
      """{"type":"SCHEMA","stream":"t","schema":{"type":["object","null"],""" +
        """"properties":{"id":{"type":["integer","null"]},""" +
        """"name":{"type":["string","null"]}}},"key_properties":["id"]}""" +
        "\n" +
        """{"type":"RECORD","stream":"t","record":{"id":1,"name":"a"}}""" +
        "\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/b.singer"),
      """{"type":"SCHEMA","stream":"t","schema":{"type":["object","null"],""" +
        """"properties":{"id":{"type":["integer","null"]},""" +
        """"name":{"type":["string","null"]},""" +
        """"rating":{"type":["number","null"]}}},"key_properties":["id"]}""" +
        "\n" +
        """{"type":"RECORD","stream":"t","record":""" +
        """{"id":2,"name":"b","rating":4.5}}""" + "\n")
    // WITHOUT the option: first-file inference would silently truncate
    // b.singer's records — the reader fails fast instead
    val e = intercept[Exception] {
      spark.read.format("graft-singer").load(dir).collect()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("mergeSchemas")), chain(e).mkString("|"))
    // WITH it: unionByName-style widening, NULL backfill for a.singer
    val merged = spark.read.format("graft-singer")
      .option("mergeSchemas", "true").load(dir)
    assert(merged.schema.fieldNames.toSeq == Seq("id", "name", "rating"))
    val got = merged.orderBy("id")
      .as[(Long, String, Option[Double])].collect.toSeq
    assert(got == Seq((1L, "a", None), (2L, "b", Some(4.5))))
    // a USER-SUPPLIED narrower schema is a deliberate projection, not
    // silent truncation — the divergence check applies to INFERRED
    // schemas only (provenance rides in field metadata)
    val narrow = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    val projected = spark.read.format("graft-singer").schema(narrow)
      .load(dir).as[Long].collect.toSeq.sorted
    assert(projected == Seq(1L, 2L))
    // incompatible evolution (same field, different type) cannot merge
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/c.singer"),
      """{"type":"SCHEMA","stream":"t","schema":{"type":["object","null"],""" +
        """"properties":{"id":{"type":["string","null"]}}},""" +
        """"key_properties":["id"]}""" + "\n")
    val e2 = intercept[IllegalArgumentException] {
      spark.read.format("graft-singer")
        .option("mergeSchemas", "true").load(dir).collect()
    }
    assert(e2.getMessage.contains("incompatible"), e2.getMessage)
  }

  test("float and date columns write with documented widening semantics") {
    val dir = tmpDir("singer_float_date")
    val df = Seq((1L, 1.5f, java.sql.Date.valueOf("2024-06-01")),
        (2L, -0.25f, java.sql.Date.valueOf("1999-12-31")))
      .toDF("id", "f", "d")
    df.write.format("graft-singer").option("stream", "t")
      .mode("append").save(dir)
    val back = spark.read.format("graft-singer").load(dir)
    assert(back.schema("f").dataType.typeName == "double")
    assert(back.schema("d").dataType.typeName == "timestamp")
    val got = back.orderBy("id")
      .select(col("id"), col("f"),
        date_format(col("d"), "yyyy-MM-dd HH:mm:ss").as("d"))
      .as[(Long, Double, String)].collect.toSeq
    assert(got == Seq(
      (1L, 1.5f.toDouble, "2024-06-01 00:00:00"),
      (2L, -0.25f.toDouble, "1999-12-31 00:00:00")))
  }

  test("stream option selects one stream of an interleaved multi-stream file") {
    val dir = tmpDir("singer_multistream")
    new java.io.File(dir).mkdirs()
    // two appended exports with DIFFERENT schemas in one file — the
    // reference's append mode (src/singer.ts:387-391) produces exactly this
    val a = tmpDir("singer_ms_a"); val b = tmpDir("singer_ms_b")
    Export.toExport(Seq((1L, "x"), (2L, "y")).toDF("id", "name"), "alpha", a,
      ExportOptions(exportFormat = Some("singer"), keys = Seq("id")),
      conf = graft.conf.GluestickConf(Map.empty))
    Export.toExport(Seq((10L, 1.5), (20L, 2.5), (30L, 3.5)).toDF("k", "v"),
      "beta", b,
      ExportOptions(exportFormat = Some("singer"), keys = Seq("k")),
      conf = graft.conf.GluestickConf(Map.empty))
    val out = java.nio.file.Paths.get(s"$dir/data.singer")
    val lines =
      java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$a/data.singer")) +
      java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$b/data.singer"))
    java.nio.file.Files.writeString(out, lines)
    val alpha = spark.read.format("graft-singer")
      .option("stream", "alpha").load(out.toString)
    assert(alpha.schema.fieldNames.toSeq == Seq("id", "name"))
    assert(alpha.orderBy("id").as[(Long, String)].collect.toSeq ==
      Seq((1L, "x"), (2L, "y")))
    val beta = spark.read.format("graft-singer")
      .option("stream", "beta").load(out.toString)
    assert(beta.schema.fieldNames.toSeq == Seq("k", "v"))
    assert(beta.orderBy("k").as[(Long, Double)].collect.toSeq ==
      Seq((10L, 1.5), (20L, 2.5), (30L, 3.5)))
    // an unknown stream fails fast at inference, not silently empty
    val e = intercept[Exception] {
      spark.read.format("graft-singer")
        .option("stream", "gamma").load(out.toString).count()
    }
    assert(e.getMessage.contains("gamma"), e.getMessage)
  }

  test("messages=state reads STATE payloads; records mode still skips them") {
    val dir = tmpDir("singer_state")
    new java.io.File(dir).mkdirs()
    val lines = Seq(
      """{"type":"SCHEMA","stream":"t","schema":{"type":["object","null"],""" +
        """"properties":{"id":{"type":["integer","null"]}}},""" +
        """"key_properties":["id"]}""",
      """{"type":"RECORD","stream":"t","record":{"id":1}}""",
      """{"type":"STATE","value":{}}""",
      """{"type":"RECORD","stream":"t","record":{"id":2}}""",
      """{"type":"STATE","stream":"other","value":{"bookmarks":{"b":7}}}""",
      """{"type":"STATE","value":{"bookmarks":{"t":{"max_id":2}}}}""")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/data.singer"), lines.mkString("\n"))
    // records mode unchanged: 2 rows
    assert(spark.read.format("graft-singer")
      .load(s"$dir/data.singer").count() == 2L)
    // state mode: every STATE line, with file + raw value JSON
    val st = spark.read.format("graft-singer")
      .option("messages", "state").load(s"$dir/data.singer")
    assert(st.schema.fieldNames.toSeq == Seq("file", "value"))
    val vals = st.select("value").as[String].collect.toSeq
    assert(vals.size == 3 && vals.contains("{}"), vals.toString)
    assert(vals.exists(_.contains("max_id")), vals.toString)
    // bookmark extraction composes with plain SQL functions
    val maxId = st.select(get_json_object(col("value"),
      "$.bookmarks.t.max_id").cast("long").as("m"))
      .agg(max("m")).as[Option[Long]].collect.head
    assert(maxId.contains(2L))
    // a stream-tagged STATE for another stream is excluded under the filter
    val tagged = spark.read.format("graft-singer")
      .option("messages", "state").option("stream", "t")
      .load(s"$dir/data.singer")
    assert(tagged.count() == 2L) // the two untagged global states
  }

  test("a user-supplied Float/Date schema reads back what the writer wrote") {
    val dir = tmpDir("singer_float_date_read")
    Seq((1L, 2.5f, java.sql.Date.valueOf("2024-06-02")))
      .toDF("id", "f", "d")
      .write.format("graft-singer").option("stream", "t")
      .mode("append").save(dir)
    // explicit schema with the ORIGINAL narrow types: validateSchema
    // admits them, so convert() must materialize them too (narrowing
    // the on-wire double / date-time string back down)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("f",
        org.apache.spark.sql.types.FloatType),
      org.apache.spark.sql.types.StructField("d",
        org.apache.spark.sql.types.DateType)))
    val got = spark.read.format("graft-singer").schema(schema).load(dir)
      .as[(Long, Float, java.sql.Date)].collect.toSeq
    assert(got == Seq((1L, 2.5f, java.sql.Date.valueOf("2024-06-02"))))
  }

  test("a malformed timestamp value coerces to null, not a scan crash") {
    val dir = tmpDir("singer_badts")
    new java.io.File(dir).mkdirs()
    val lines = Seq(
      """{"type":"SCHEMA","stream":"t","schema":{"type":["object","null"],""" +
        """"properties":{"id":{"type":["integer","null"]},""" +
        """"ts":{"format":"date-time","type":["string","null"]}}},""" +
        """"key_properties":["id"]}""",
      """{"type":"RECORD","stream":"t","record":{"id":1,"ts":"2024-06-01T00:00:00.000000Z"}}""",
      """{"type":"RECORD","stream":"t","record":{"id":2,"ts":"not-a-time"}}""")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/data.singer"),
      lines.mkString("\n").getBytes("UTF-8"))
    val df = spark.read.format("graft-singer").load(s"$dir/data.singer")
    assert(df.count() == 2L)
    assert(df.filter(col("ts").isNull).select("id").as[Long].collect.toSeq
      == Seq(2L))
  }

  private def schemaLine(stream: String, props: String) =
    s"""{"type":"SCHEMA","stream":"$stream","schema":""" +
      s"""{"type":["object","null"],"properties":{$props}},""" +
      """"key_properties":[]}"""

  test("mergeSchemas over 1000 files infers via ONE Spark job, not driver opens") {
    val dir = tmpDir("singer_dist_infer")
    new java.io.File(dir).mkdirs()
    val idP = """"id":{"type":["integer","null"]}"""
    val nmP = """"nm":{"type":["string","null"]}"""
    // 1000 exports; from e0357 on the tap gained a column — first-seen
    // merge order must still be (id, nm) regardless of task scheduling
    (0 until 1000).foreach { i =>
      val props = if (i >= 357) s"$idP,$nmP" else idP
      val rec = if (i >= 357)
        s"""{"type":"RECORD","stream":"t","record":{"id":$i,"nm":"x$i"}}"""
      else s"""{"type":"RECORD","stream":"t","record":{"id":$i}}"""
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(f"$dir/e$i%04d.singer"),
        schemaLine("t", props) + "\n" + rec + "\n")
    }
    var schema: org.apache.spark.sql.types.StructType = null
    val jobs = jobsRunBy {
      schema = spark.read.format("graft-singer")
        .option("mergeSchemas", "true").load(dir).schema
    }
    assert(schema.fieldNames.toSeq == Seq("id", "nm"))
    // the whole probe was ONE job (the parallelize over file heads):
    // the driver never opened the 1000 files itself, and nothing ran
    // a per-file job either
    assert(jobs == 1, s"expected exactly 1 inference job, got $jobs")
    // records read back with NULL backfill for the pre-widening files
    val df = spark.read.format("graft-singer")
      .option("mergeSchemas", "true").load(dir)
    assert(df.count() == 1000L)
    assert(df.filter(col("nm").isNotNull).count() == 643L)
  }

  test("mergeSchemas small-directory inference stays on the driver (zero jobs)") {
    val dir = tmpDir("singer_dist_small")
    new java.io.File(dir).mkdirs()
    val idP = """"id":{"type":["integer","null"]}"""
    (0 until 3).foreach { i =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/e$i.singer"),
        schemaLine("t", idP) + "\n" +
          s"""{"type":"RECORD","stream":"t","record":{"id":$i}}""" + "\n")
    }
    val jobs = jobsRunBy {
      val s = spark.read.format("graft-singer")
        .option("mergeSchemas", "true").load(dir).schema
      assert(s.fieldNames.toSeq == Seq("id"))
    }
    assert(jobs == 0, s"small-dir inference must not schedule jobs, got $jobs")
  }

  test("distributed mergeSchemas fails fast on divergence, same error") {
    val dir = tmpDir("singer_dist_diverge")
    new java.io.File(dir).mkdirs()
    (0 until 80).foreach { i =>
      // e0040 re-declares id as string — incompatible evolution
      val idP =
        if (i == 40) """"id":{"type":["string","null"]}"""
        else """"id":{"type":["integer","null"]}"""
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(f"$dir/e$i%04d.singer"),
        schemaLine("t", idP) + "\n")
    }
    val e = intercept[Exception] {
      // force the distributed path at a low threshold
      spark.read.format("graft-singer")
        .option("mergeSchemas", "true")
        .option("mergeSchemasDistributedThreshold", "10")
        .load(dir)
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("cannot merge")), chain(e).mkString("|"))
  }
}
