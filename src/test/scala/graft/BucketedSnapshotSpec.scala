package graft

import graft.ext.Bucketing
import graft.operators.{BucketedSnapshot, Snapshot, SnapshotOptions, Upsert}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.operators.BucketedSnapshot]]: fold ≡ keepLast, the versioned
  * pointer lifecycle, schema drift, and the layout's whole point — the
  * snapshot side of the merge runs with ZERO shuffle exchanges (only the
  * delta crosses the wire).
  */
class BucketedSnapshotSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def withForcedSmj[A](body: => A): A = {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(k => spark.conf.set(k, "-1"))
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("two folds equal the keepLast reference fold, read back from disk") {
    val dir = tmpDir("bsnap_eq")
    val base = (1L to 500L).map(k => (k, s"v0-$k")).toDF("k", "name")
    // duplicates in-batch (k=7 twice), updates, inserts
    val upd = (Seq((7L, "dup-a"), (7L, "dup-b")) ++
      (1L to 500L).filter(_ % 5 == 0).map(k => (k, s"v1-$k")) ++
      Seq((901L, "new-1"), (902L, "new-2"))).toDF("k", "name")
    BucketedSnapshot.fold(spark, base, "s", dir, Seq("k"), 4,
      tieBreak = Seq("name"))
    val got = BucketedSnapshot.fold(spark, upd, "s", dir, Seq("k"), 4,
      tieBreak = Seq("name"))
      .orderBy("k").as[(Long, String)].collect.toSeq
    val want = Upsert.keepLast(base, upd, Seq("k"), tieBreak = Seq("name"))
      .orderBy("k").as[(Long, String)].collect.toSeq
    assert(got == want)
    // reading through the public API sees the same state
    val reread = BucketedSnapshot.read(spark, "s", dir, Seq("k"), 4).get
      .orderBy("k").as[(Long, String)].collect.toSeq
    assert(reread == want)
    // superseded version is gone; only v2 + pointer remain
    val names = new java.io.File(s"$dir/s.snapshot.bucketed")
      .listFiles().map(_.getName).toSet
    assert(names.contains("v2") && !names.contains("v1"), names.toString)
  }

  test("merge plan has zero snapshot-side shuffles; delta-only exchange") {
    val dir = tmpDir("bsnap_shuffle")
    val base = (1L to 2000L).map(k => (k, k * 2.0)).toDF("k", "v")
    BucketedSnapshot.fold(spark, base, "s", dir, Seq("k"), 4)
    val delta = (1L to 100L).map(k => (k * 3, k * 5.0)).toDF("k", "v")
    withForcedSmj {
      BucketedSnapshot.mergePlan(spark, delta, "s", dir, Seq("k"), 4) {
        plan =>
        plan.collect()
        val s = plan.queryExecution.executedPlan.toString
        // the snapshot feeds the anti-join through its BUCKETED scan …
        assert(s.contains("SortMergeJoin") && s.contains("Bucketed: true"),
          s.take(4000))
        // … and the merge itself adds NO exchange: the only shuffle (the
        // delta's dedup repartition) lives inside the cached delta, which
        // both merge branches share — nothing snapshot-sized moves
        assert(Bucketing.shuffleCount(plan) == 0,
          s"expected zero merge-level shuffles, got " +
            s"${Bucketing.shuffleCount(plan)}\n" + s.take(8000))
      }
      // the loan released the delta cache — no clearCache compensation.
      // Scope the check to THIS operator's RDDs: the session is shared
      // across concurrently-running suites, so a global isEmpty races
      // against any peer's cache/localCheckpoint (the r8 transient).
      // (an RDD's toString carries its creation call site)
      val leaked = spark.sparkContext.getPersistentRDDs.values
        .filter(_.toString.contains("BucketedSnapshot"))
      assert(leaked.isEmpty,
        s"mergePlan must unpersist its delta when the loan returns: $leaked")
      // control: the union+window keepLast shape shuffles the whole union
      val naive = Upsert.keepLast(
        spark.read.parquet(s"$dir/s.snapshot.bucketed/v1"), delta, Seq("k"))
      naive.collect()
      assert(Bucketing.shuffleCount(naive) >= 1)
    }
  }

  test("pointer promote survives a crash between write-new and GC-old") {
    // object-store discipline: the commit is a single new-manifest PUT;
    // simulate the non-atomic failure mode (new manifest landed, old one
    // never deleted — on S3 a rename's copy half without its delete
    // half) and assert readers still take the newest COMMITTED state
    val dir = tmpDir("bsnap_manifest")
    val base = Seq((1L, "a")).toDF("k", "name")
    BucketedSnapshot.fold(spark, base, "s", dir, Seq("k"), 2)
    BucketedSnapshot.fold(spark, Seq((2L, "b")).toDF("k", "name"),
      "s", dir, Seq("k"), 2)
    val layout = new java.io.File(s"$dir/s.snapshot.bucketed")
    val manifests = layout.listFiles()
      .filter(_.getName.startsWith("_current.")).map(_.getName).sorted
    // both folds' manifests coexist (writer keeps the previous one);
    // the reader resolved the newer — v2
    assert(manifests.length == 2, manifests.mkString(","))
    assert(BucketedSnapshot.currentVersion(spark, dir, "s").contains(2))
    // a TORN manifest with a higher seq (partial write crash) is skipped,
    // not trusted: readers fall back to the newest valid one — including
    // the insidious digit-prefix tear ("1" observed from an intended
    // "1 2 ok"), which the `ok` terminator rejects
    val torn = new java.io.File(layout, "_current.999999999")
    val w = new java.io.FileWriter(torn); w.write("garb"); w.close()
    assert(BucketedSnapshot.currentVersion(spark, dir, "s").contains(2))
    val w2 = new java.io.FileWriter(torn); w2.write("1"); w2.close()
    assert(BucketedSnapshot.currentVersion(spark, dir, "s").contains(2))
    assert(BucketedSnapshot.read(spark, "s", dir, Seq("k"), 2).get
      .orderBy("k").as[(Long, String)].collect.toSeq ==
      Seq((1L, "a"), (2L, "b")))
    torn.delete()
  }

  test("snapshotRecords flag matrix routes through the bucketed layout") {
    val dir = tmpDir("bsnap_flags")
    val opts = SnapshotOptions(pk = Seq("k"), bucketBy = Some(4))
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "name")
    val upd = Seq((2L, "B"), (3L, "c")).toDF("k", "name")
    // first write returns the stream data
    val first = Snapshot.snapshotRecords(spark, Some(base), "s", dir, opts)
    assert(first.get.orderBy("k").as[(Long, String)].collect.toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // merge returns the folded snapshot (a bucketed scan)
    val merged = Snapshot.snapshotRecords(spark, Some(upd), "s", dir, opts)
    assert(merged.get.orderBy("k").as[(Long, String)].collect.toSeq ==
      Seq((1L, "a"), (2L, "B"), (3L, "c")))
    // justNew returns only the batch, but still folds
    val jn = Snapshot.snapshotRecords(spark, Some(Seq((4L, "d")).toDF(
      "k", "name")), "s", dir, opts.copy(justNew = true))
    assert(jn.get.as[(Long, String)].collect.toSeq == Seq((4L, "d")))
    // null streamData reads the persisted state
    val readBack = Snapshot.snapshotRecords(spark, None, "s", dir, opts)
    assert(readBack.get.orderBy("k").as[(Long, String)].collect.toSeq ==
      Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d")))
    // overwrite resets to exactly the new batch
    val ow = Snapshot.snapshotRecords(spark, Some(Seq((9L, "z")).toDF(
      "k", "name")), "s", dir, opts.copy(overwrite = true))
    assert(ow.get.as[(Long, String)].collect.toSeq == Seq((9L, "z")))
    assert(Snapshot.snapshotRecords(spark, None, "s", dir, opts).get
      .as[(Long, String)].collect.toSeq == Seq((9L, "z")))
  }

  test("schema drift null-fills both directions, like keepLast") {
    val dir = tmpDir("bsnap_drift")
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "name")
    BucketedSnapshot.fold(spark, base, "s", dir, Seq("k"), 2)
    // new batch adds a column and drops one
    val upd = Seq((2L, 99L), (3L, 42L)).toDF("k", "score")
    val got = BucketedSnapshot.fold(spark, upd, "s", dir, Seq("k"), 2)
      .orderBy("k")
      .select("k", "name", "score")
      .as[(Long, Option[String], Option[Long])].collect.toSeq
    assert(got == Seq(
      (1L, Some("a"), None),
      (2L, None, Some(99L)),
      (3L, None, Some(42L))))
  }

  test("a fresh session re-registers the table from the pointer") {
    val dir = tmpDir("bsnap_recover")
    val base = Seq((1L, "a")).toDF("k", "name")
    BucketedSnapshot.fold(spark, base, "s", dir, Seq("k"), 2)
    // simulate a session restart: drop the catalog entry, keep the files
    val v = BucketedSnapshot.currentVersion(spark, dir, "s").get
    spark.catalog.listTables().collect()
      .filter(_.name.startsWith("graft_snap_s_"))
      .foreach(t => spark.sql(s"DROP TABLE `${t.name}`"))
    val back = BucketedSnapshot.read(spark, "s", dir, Seq("k"), 2)
    assert(back.get.as[(Long, String)].collect.toSeq == Seq((1L, "a")))
    assert(BucketedSnapshot.currentVersion(spark, dir, "s").contains(v))
  }

  test("null PKs are rejected at runtime, not silently re-inserted") {
    val dir = tmpDir("bsnap_nullpk")
    val base = Seq((Some(1L), "a"), (None, "nullrow")).toDF("k", "name")
    // a null PK can never match the bucket-aligned equality join — it
    // would duplicate on every fold, so the layout fails fast instead
    val e = intercept[Exception] {
      BucketedSnapshot.fold(spark, base, "s", dir, Seq("k"), 2)
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("NULL primary key")),
      chain(e).mkString(" | "))
    // nothing was promoted
    assert(BucketedSnapshot.read(spark, "s", dir, Seq("k"), 2).isEmpty)
  }

  // ---- retention window + time travel (oracle twin: q299) ----

  test("retention keeps a trailing version window; older dirs are GC'd") {
    val dir = tmpDir("bs_retain")
    def vdirs() = {
      val d = new java.io.File(s"$dir/s.snapshot.bucketed")
      if (!d.exists) Set.empty[String]
      else d.listFiles().filter(_.getName.startsWith("v"))
        .map(_.getName).toSet
    }
    def fold(rows: Seq[(Long, String)]) = BucketedSnapshot.fold(
      spark, rows.toDF("k", "name"), "s", dir, Seq("k"), 2,
      retainVersions = 2)
    fold((1L to 50L).map(k => (k, s"v0-$k")))
    fold((1L to 50L).filter(_ % 3 == 0).map(k => (k, s"v1-$k")))
    assert(vdirs() == Set("v1", "v2"))
    fold(Seq((7L, "v2-7")))
    assert(vdirs() == Set("v2", "v3"), "v1 must be GC'd, v2 retained")
    // time travel: v2 state is the keepLast of the first two batches
    val prev = BucketedSnapshot
      .readVersion(spark, "s", dir, Seq("k"), 2, 2)
      .as[(Long, String)].collect().toMap
    assert(prev(3L) == "v1-3" && prev(7L) == "v0-7")
    assert(prev.size == 50)
    val cur = BucketedSnapshot
      .readVersion(spark, "s", dir, Seq("k"), 2, 3)
      .as[(Long, String)].collect().toMap
    assert(cur(7L) == "v2-7" && cur.size == 50)
    // past the window → loud failure, never a silent empty frame
    val e = intercept[IllegalStateException] {
      BucketedSnapshot.readVersion(spark, "s", dir, Seq("k"), 2, 1)
    }
    assert(e.getMessage.contains("retention window"))
    // out of range is a different, equally loud error
    intercept[IllegalArgumentException] {
      BucketedSnapshot.readVersion(spark, "s", dir, Seq("k"), 2, 9)
    }
    ()
  }

  test("default retention is 1 — the superseded version drops at once") {
    val dir = tmpDir("bs_retain1")
    BucketedSnapshot.fold(spark,
      Seq((1L, "a")).toDF("k", "name"), "s", dir, Seq("k"), 2)
    BucketedSnapshot.fold(spark,
      Seq((2L, "b")).toDF("k", "name"), "s", dir, Seq("k"), 2)
    val d = new java.io.File(s"$dir/s.snapshot.bucketed")
    val vs = d.listFiles().filter(_.getName.startsWith("v"))
      .map(_.getName).toSet
    assert(vs == Set("v2"))
  }

  test("lowering retainVersions GCs the whole window, tables included") {
    val dir = tmpDir("bs_retain_lower")
    def fold(k: Long, keep: Int) = BucketedSnapshot.fold(spark,
      Seq((k, s"n$k")).toDF("k", "name"), "s", dir, Seq("k"), 2,
      retainVersions = keep)
    (1L to 3L).foreach(fold(_, 3))
    fold(4L, 1)
    val vs = new java.io.File(s"$dir/s.snapshot.bucketed").listFiles()
      .filter(_.getName.startsWith("v")).map(_.getName).toSet
    assert(vs == Set("v4"), vs.toString)
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map(b => f"$b%02x").mkString
    val tables = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(s"graft_snap_s_${h}_")).toSet
    assert(tables == Set(s"graft_snap_s_${h}_v4"), tables.toString)
  }
}
