package graft

import graft.ext.Bucketing
import graft.operators.{BucketedSnapshot, Upsert}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Merge-on-read bucketed snapshot ([[BucketedSnapshot.foldMor]]):
  * append-only folds ≡ keepLast, zero-exchange read-time resolution,
  * delta-sized append IO, and compaction equivalence.
  */
class MorSnapshotSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("three MOR folds equal two chained keepLast folds") {
    val dir = tmpDir("mor_eq")
    val base = (1L to 400L).map(k => (k, s"v0-$k")).toDF("k", "name")
    val u1 = (1L to 400L).filter(_ % 3 == 0)
      .map(k => (k, s"v1-$k")).toDF("k", "name")
    val u2 = ((1L to 400L).filter(_ % 5 == 0).map(k => (k, s"v2-$k")) ++
      Seq((900L, "new"))).toDF("k", "name")
    BucketedSnapshot.foldMor(spark, base, "s", dir, Seq("k"), 4)
    BucketedSnapshot.foldMor(spark, u1, "s", dir, Seq("k"), 4)
    val got = BucketedSnapshot.foldMor(spark, u2, "s", dir, Seq("k"), 4)
      .orderBy("k").as[(Long, String)].collect.toSeq
    val want = Upsert.keepLast(
      Upsert.keepLast(base, u1, Seq("k")), u2, Seq("k"))
      .orderBy("k").as[(Long, String)].collect.toSeq
    assert(got == want)
  }

  test("read-time resolution runs with zero shuffle exchanges") {
    val dir = tmpDir("mor_shuffle")
    val base = (1L to 1000L).map(k => (k, k * 2.0)).toDF("k", "v")
    BucketedSnapshot.foldMor(spark, base, "s", dir, Seq("k"), 4)
    BucketedSnapshot.foldMor(spark,
      (1L to 50L).map(k => (k * 7, k * 1.0)).toDF("k", "v"),
      "s", dir, Seq("k"), 4)
    val resolved = BucketedSnapshot.readMor(
      spark, "s", dir, Seq("k"), 4).get
    resolved.collect()
    assert(Bucketing.shuffleCount(resolved) == 0,
      resolved.queryExecution.executedPlan.toString.take(4000))
  }

  test("a MOR fold appends delta-sized files, not a table rewrite") {
    val dir = tmpDir("mor_io")
    val base = (1L to 2000L).map(k => (k, s"payload-$k" * 8)).toDF("k", "p")
    BucketedSnapshot.foldMor(spark, base, "s", dir, Seq("k"), 4)
    def dataFiles(): Set[(String, Long)] = {
      val vdir = new java.io.File(s"$dir/s.snapshot.bucketed/v1")
      vdir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    }
    val before = dataFiles()
    BucketedSnapshot.foldMor(spark,
      Seq((3L, "x")).toDF("k", "p"), "s", dir, Seq("k"), 4)
    val after = dataFiles()
    // every pre-existing file untouched; only new (delta) files appeared
    assert(before.subsetOf(after), "append must not rewrite base files")
    assert(after.size > before.size)
  }

  test("readMorSince returns exactly the later generations' appends") {
    val dir = tmpDir("mor_since")
    val base = (1L to 300L).map(k => (k, s"v0-$k")).toDF("k", "name")
    val u1 = (1L to 300L).filter(_ % 3 == 0)
      .map(k => (k, s"v1-$k")).toDF("k", "name")
    val u2 = Seq((5L, "v2-5"), (901L, "new")).toDF("k", "name")
    BucketedSnapshot.foldMor(spark, base, "s", dir, Seq("k"), 4)
    BucketedSnapshot.foldMor(spark, u1, "s", dir, Seq("k"), 4)
    BucketedSnapshot.foldMor(spark, u2, "s", dir, Seq("k"), 4)
    def since(g: Long): Set[(Long, String, Long)] =
      BucketedSnapshot.readMorSince(spark, "s", dir, Seq("k"), 4, g)
        .get.as[(Long, String, Long)].collect().toSet
    val want2 = u1.as[(Long, String)].collect().map {
      case (k, n) => (k, n, 2L) }.toSet
    val want3 = u2.as[(Long, String)].collect().map {
      case (k, n) => (k, n, 3L) }.toSet
    assert(since(2L) == want3)
    assert(since(1L) == want2 ++ want3)
    assert(since(0L).size == 300 + want2.size + want3.size)
    assert(since(3L).isEmpty)
  }

  test("an incremental read never opens earlier generations' files") {
    val dir = tmpDir("mor_since_noscan")
    val base = (1L to 500L).map(k => (k, s"v0-$k")).toDF("k", "name")
    BucketedSnapshot.foldMor(spark, base, "s", dir, Seq("k"), 4)
    BucketedSnapshot.foldMor(spark,
      Seq((7L, "v1-7"), (600L, "new")).toDF("k", "name"),
      "s", dir, Seq("k"), 4)
    // destroy every gen-1 data file; only the _gens sidecar knows which
    // files belong to gen 2, so a correct read can't have touched gen 1
    val vdir = new java.io.File(s"$dir/s.snapshot.bucketed/v1")
    val gen2Names = spark.read
      .parquet(s"$dir/s.snapshot.bucketed/v1/_gens/g2")
      .as[(String, Long)].collect()
      .map(p => p._1.split('/').last).toSet
    vdir.listFiles()
      .filter(f => f.getName.endsWith(".parquet") &&
        !gen2Names.contains(f.getName))
      .foreach(f => assert(f.delete(), s"could not delete ${f.getName}"))
    val got = BucketedSnapshot
      .readMorSince(spark, "s", dir, Seq("k"), 4, 1L)
      .get.as[(Long, String, Long)].collect().toSet
    assert(got == Set((7L, "v1-7", 2L), (600L, "new", 2L)))
  }

  test("a reserve-without-record gap falls back to a correct full scan") {
    val dir = tmpDir("mor_since_fallback")
    BucketedSnapshot.foldMor(spark,
      (1L to 100L).map(k => (k, s"v0-$k")).toDF("k", "name"),
      "s", dir, Seq("k"), 4)
    BucketedSnapshot.foldMor(spark,
      Seq((3L, "v1-3")).toDF("k", "name"), "s", dir, Seq("k"), 4)
    // simulate a crash between the gen-2 append and its sidecar record
    val g2 = new java.io.File(s"$dir/s.snapshot.bucketed/v1/_gens/g2")
    assert(g2.exists)
    org.apache.commons.io.FileUtils.deleteDirectory(g2)
    val got = BucketedSnapshot
      .readMorSince(spark, "s", dir, Seq("k"), 4, 1L)
      .get.as[(Long, String, Long)].collect().toSet
    assert(got == Set((3L, "v1-3", 2L)))
  }

  test("compaction collapses generations and preserves state") {
    val dir = tmpDir("mor_compact")
    val base = (1L to 300L).map(k => (k, s"v0-$k")).toDF("k", "name")
    BucketedSnapshot.foldMor(spark, base, "s", dir, Seq("k"), 4)
    BucketedSnapshot.foldMor(spark,
      (1L to 300L).filter(_ % 4 == 0).map(k => (k, s"v1-$k"))
        .toDF("k", "name"), "s", dir, Seq("k"), 4)
    val before = BucketedSnapshot.readMor(spark, "s", dir, Seq("k"), 4).get
      .orderBy("k").as[(Long, String)].collect.toSeq
    val compacted = BucketedSnapshot
      .compactMor(spark, "s", dir, Seq("k"), 4)
      .orderBy("k").as[(Long, String)].collect.toSeq
    assert(compacted == before)
    // physical state: one generation again, old version dropped
    val tbl = BucketedSnapshot.read(spark, "s", dir, Seq("k"), 4).get
    assert(tbl.select(BucketedSnapshot.GenCol).distinct
      .as[Long].collect.toSeq == Seq(1L))
    val names = new java.io.File(s"$dir/s.snapshot.bucketed")
      .listFiles().map(_.getName).toSet
    assert(names.contains("v2") && !names.contains("v1"), names.toString)
    // folds keep working after compaction
    val next = BucketedSnapshot.foldMor(spark,
      Seq((1L, "post-compact")).toDF("k", "name"), "s", dir, Seq("k"), 4)
    assert(next.filter(col("k") === 1L).as[(Long, String)].collect.toSeq
      == Seq((1L, "post-compact")))
  }

  test("a fold never scans the stored table (generation rides the pointer)") {
    val dir = tmpDir("mor_noscan")
    val base = (1L to 200L).map(k => (k, s"v0-$k")).toDF("k", "name")
    BucketedSnapshot.foldMor(spark, base, "s", dir, Seq("k"), 4)
    BucketedSnapshot.foldMor(spark,
      Seq((7L, "v1")).toDF("k", "name"), "s", dir, Seq("k"), 4)
    // make any stored-table scan IMPOSSIBLE: delete every data file,
    // keeping only the layout metadata (pointer manifests + catalog).
    // The old max(_graft_gen)-per-fold shape dies here with
    // FileNotFoundException; the pointer-carried generation appends
    // delta-sized IO without ever planning a read
    val vdir = new java.io.File(s"$dir/s.snapshot.bucketed/v1")
    vdir.listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => assert(f.delete()))
    BucketedSnapshot.foldMor(spark,
      Seq((8L, "v2")).toDF("k", "name"), "s", dir, Seq("k"), 4)
    // the append landed (one new file) and the reserved generation
    // advanced to 3 — all without touching the (now absent) base files
    val files = vdir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    val appended = spark.read.parquet(files.map(_.getAbsolutePath): _*)
    assert(appended.select(BucketedSnapshot.GenCol).distinct
      .as[Long].collect.toSeq == Seq(3L))
  }

  test("generation gaps from a reserve-then-crash are harmless") {
    // the crash window: pointer reserved gen N+1, append never ran. The
    // next fold must skip to N+2 (never reuse), and resolution is
    // unaffected — max-per-PK doesn't care about gaps
    val dir = tmpDir("mor_gap")
    BucketedSnapshot.foldMor(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "name"), "s", dir, Seq("k"), 2)
    // simulate the reservation-only crash: bump the pointer by hand
    val layout = new java.io.File(s"$dir/s.snapshot.bucketed")
    val w = new java.io.FileWriter(new java.io.File(layout, "_current.000000099"))
    w.write("1 2 7 ok"); w.close()
    val got = BucketedSnapshot.foldMor(spark,
      Seq((2L, "B2")).toDF("k", "name"), "s", dir, Seq("k"), 2)
      .orderBy("k").as[(Long, String)].collect.toSeq
    assert(got == Seq((1L, "a"), (2L, "B2")))
    val gens = BucketedSnapshot.read(spark, "s", dir, Seq("k"), 2).get
      .select(BucketedSnapshot.GenCol).distinct.as[Long].collect.toSet
    assert(gens == Set(1L, 8L), gens.toString) // reserved-past-7 fold
  }

  test("a torn no-terminator manifest never carries a stale generation") {
    // the silent-corruption mode the `ok` terminator exists to prevent:
    // a record "1 2 3 ok" observed mid-write as "1 2 1" carries a torn
    // (stale) GEN token. Trusting it, the next fold would reserve an
    // already-used generation and keep-last resolution between the two
    // folds sharing it would be arbitrary. An unterminated record never
    // parses, so with no other manifest the fold fails loudly and
    // appends nothing.
    val dir = tmpDir("mor_torn_gen")
    BucketedSnapshot.foldMor(spark,
      Seq((1L, "g1")).toDF("k", "name"), "s", dir, Seq("k"), 2)
    BucketedSnapshot.foldMor(spark,
      Seq((1L, "g2")).toDF("k", "name"), "s", dir, Seq("k"), 2)
    BucketedSnapshot.foldMor(spark,
      Seq((1L, "g3")).toDF("k", "name"), "s", dir, Seq("k"), 2)
    // replace every manifest with one no-terminator record carrying a
    // stale gen token (as a torn "1 2 <bigger> ok" would read)
    val layout = new java.io.File(s"$dir/s.snapshot.bucketed")
    layout.listFiles().filter(_.getName.startsWith("_current."))
      .foreach(_.delete())
    val w = new java.io.FileWriter(
      new java.io.File(layout, "_current.000000050"))
    w.write("1 2 1"); w.close()
    intercept[IllegalStateException] {
      BucketedSnapshot.foldMor(spark,
        Seq((1L, "g4")).toDF("k", "name"), "s", dir, Seq("k"), 2)
    }
    val stored = spark.read.parquet(s"$dir/s.snapshot.bucketed/v1")
      .agg(max(BucketedSnapshot.GenCol)).as[Long].head()
    assert(stored == 3L, stored.toString)
  }

  test("foldMor refuses a layout created by the rewrite fold") {
    val dir = tmpDir("mor_guard")
    BucketedSnapshot.fold(spark,
      Seq((1L, "a")).toDF("k", "name"), "s", dir, Seq("k"), 2)
    val e = intercept[IllegalArgumentException] {
      BucketedSnapshot.foldMor(spark,
        Seq((2L, "b")).toDF("k", "name"), "s", dir, Seq("k"), 2)
    }
    assert(e.getMessage.contains("foldMor"), e.getMessage)
  }

  test("CDC folds: deletes resolve at read time, re-inserts resurrect") {
    val dir = tmpDir("mor_cdc")
    def batch(rows: (Long, String, String)*) =
      rows.toSeq.toDF("k", "name", "op")
    BucketedSnapshot.foldMorCdc(spark,
      batch((1L, "a1", "I"), (2L, "b1", "I"), (3L, "c1", "I")),
      "s", dir, Seq("k"), 2)
    val afterDel = BucketedSnapshot.foldMorCdc(spark,
      batch((2L, "b2", "U"), (3L, "", "D")),
      "s", dir, Seq("k"), 2)
      .as[(Long, String)].collect.toSet
    assert(afterDel == Set((1L, "a1"), (2L, "b2")), afterDel.toString)
    // resurrect: a later insert of a deleted key wins by generation
    val afterBack = BucketedSnapshot.foldMorCdc(spark,
      batch((3L, "c2", "I")), "s", dir, Seq("k"), 2)
      .as[(Long, String)].collect.toSet
    assert(afterBack == Set((1L, "a1"), (2L, "b2"), (3L, "c2")))
    // the incremental feed EXPOSES the tombstones
    val inc = BucketedSnapshot
      .readMorSince(spark, "s", dir, Seq("k"), 2, sinceGen = 1L).get
      .select("k", "deleted", "gen")
      .as[(Long, Boolean, Long)].collect.toSet
    assert(inc == Set((2L, false, 2L), (3L, true, 2L), (3L, false, 3L)),
      inc.toString)
    // mixing the plain fold into a CDC layout fails loudly
    val e = intercept[IllegalArgumentException] {
      BucketedSnapshot.foldMor(spark,
        Seq((9L, "x")).toDF("k", "name"), "s", dir, Seq("k"), 2)
    }
    assert(e.getMessage.contains("foldMorCdc"), e.getMessage)
    // a bad op code fails the fold instead of upserting silently
    intercept[Exception] {
      BucketedSnapshot.foldMorCdc(spark,
        batch((9L, "x", "Z")), "s", dir, Seq("k"), 2).count()
    }
  }

  test("compaction purges tombstoned keys from every rewritten file (erasure)") {
    val dir = tmpDir("mor_cdc_erase")
    def batch(rows: (Long, String, String)*) =
      rows.toSeq.toDF("k", "name", "op")
    BucketedSnapshot.foldMorCdc(spark,
      batch((1L, "keepme", "I"), (2L, "eraseme", "I")),
      "s", dir, Seq("k"), 2)
    BucketedSnapshot.foldMorCdc(spark,
      batch((2L, "", "D")), "s", dir, Seq("k"), 2)
    // pre-compaction the bytes are still in the layout (gen-1 file)
    val v1 = spark.read
      .parquet(s"$dir/s.snapshot.bucketed/v1")
    assert(v1.filter(col("name") === "eraseme").count() == 1)
    val compacted = BucketedSnapshot
      .compactMor(spark, "s", dir, Seq("k"), 2)
      .as[(Long, String)].collect.toSet
    assert(compacted == Set((1L, "keepme")))
    // erasure: the deleted key appears in NO post-compaction file — not
    // as a superseded row, not as a tombstone (raw read, no resolve)
    val v2 = spark.read.parquet(s"$dir/s.snapshot.bucketed/v2")
    assert(v2.filter(col("k") === 2L).count() == 0)
    assert(v2.filter(col("name") === "eraseme").count() == 0)
    // ...and the pre-compaction version dir is GC'd with its bytes
    assert(!new java.io.File(s"$dir/s.snapshot.bucketed/v1").exists())
    // post-compaction CDC folds keep working against the rewritten table
    val next = BucketedSnapshot.foldMorCdc(spark,
      batch((1L, "", "D"), (4L, "d1", "I")), "s", dir, Seq("k"), 2)
      .as[(Long, String)].collect.toSet
    assert(next == Set((4L, "d1")))
  }
}
