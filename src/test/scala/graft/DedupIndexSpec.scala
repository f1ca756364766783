package graft

import graft.ext.{Dedup, DedupIndex}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.ext.DedupIndex]]: versioned persisted MinHash-LSH dedup index —
  * fold/pairsAgainst ≡ the in-memory incremental operator on either side
  * of the size gate, marker-gated delta commits, params frozen in the
  * artifact, compaction is a pure rewrite. Below the gate a warm fold runs
  * at most 3 jobs and returns local rows. Oracle twin: q313.
  */
class DedupIndexSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** Small corpus with planted near-dups across slices: doc 3k+1 and
    * 3k+2 and 3k share a long common body with tiny per-doc tails, other
    * families are mutually far.
    */
  private def docs(ids: Seq[Long]): DataFrame =
    ids.map { i =>
      val fam = i / 3
      val body = (0 until 30)
        .map(j => s"w${fam}x${(j * 7 + fam) % 11}").mkString(" ")
      (i, s"$body tail${i % 3} t${i % 3}")
    }.toDF("doc_id", "text")

  /** Docs `ids` all near-dups of family `fam`: its shared body plus a
    * per-doc tail.
    */
  private def family(ids: Seq[Long], fam: Long): DataFrame =
    ids.map { i =>
      val body = (0 until 30)
        .map(j => s"w${fam}x${(j * 7 + fam) % 11}").mkString(" ")
      (i, s"$body tail$i t$i")
    }.toDF("doc_id", "text")

  private def pairs(df: DataFrame): Set[(Long, Long, Long, Long)] =
    df.select("id_a", "id_b", "inter_size", "union_size")
      .as[(Long, Long, Long, Long)].collect.toSet

  test("fold pairs equal the in-memory incremental operator") {
    val dir = tmpDir("didx_eq")
    val base = docs(0L until 30L)
    val fresh = docs(30L until 45L)
    DedupIndex.build(spark, base, dir, "d", "doc_id", "text")
    val folded = pairs(DedupIndex.fold(
      spark, fresh, dir, "d", "doc_id", "text"))
    val oneShot = pairs(Dedup.minhashNearDupPairsIncremental(
      base, fresh, "doc_id", "text"))
    assert(folded == oneShot && folded.nonEmpty)
  }

  test("pairsAgainst previews without committing; a later fold still sees g1") {
    val dir = tmpDir("didx_ro")
    DedupIndex.build(spark, docs(0L until 30L), dir, "d", "doc_id", "text")
    val fresh = docs(30L until 45L)
    val preview = pairs(DedupIndex.pairsAgainst(
      spark, fresh, dir, "d", "doc_id", "text"))
    // nothing committed: no fold markers, version unchanged
    assert(DedupIndex.currentVersion(spark, dir, "d").contains(1))
    assert(!new java.io.File(s"$dir/d.dedupindex/v1/_folds").exists())
    val folded = pairs(DedupIndex.fold(
      spark, fresh, dir, "d", "doc_id", "text"))
    assert(folded == preview)
  }

  test("second-generation fold joins base + committed delta") {
    val dir = tmpDir("didx_g2")
    val a = docs(0L until 30L)
    val b = docs(30L until 45L)
    val c = docs(45L until 60L)
    DedupIndex.build(spark, a, dir, "d", "doc_id", "text")
    DedupIndex.fold(spark, b, dir, "d", "doc_id", "text").count()
    val g2 = pairs(DedupIndex.fold(spark, c, dir, "d", "doc_id", "text"))
    val oneShot = pairs(Dedup.minhashNearDupPairsIncremental(
      a.unionByName(b), c, "doc_id", "text"))
    assert(g2 == oneShot && g2.nonEmpty)
  }

  test("an uncommitted orphan delta is invisible and the retry overwrites it") {
    val dir = tmpDir("didx_orphan")
    val a = docs(0L until 30L)
    val fresh = docs(30L until 45L)
    DedupIndex.build(spark, a, dir, "d", "doc_id", "text")
    // fake a crashed fold: delta dir for g1 with GARBAGE content, no marker
    val orphan = s"$dir/d.dedupindex/v1/deltas/g1"
    docs(900L until 905L).write.parquet(s"$orphan/sets")
    val before = pairs(DedupIndex.pairsAgainst(
      spark, fresh, dir, "d", "doc_id", "text"))
    val clean = pairs(Dedup.minhashNearDupPairsIncremental(
      a, fresh, "doc_id", "text"))
    assert(before == clean, "orphan delta must be invisible")
    // the retry takes generation 1 again, overwrites the garbage, commits
    val folded = pairs(DedupIndex.fold(
      spark, fresh, dir, "d", "doc_id", "text"))
    assert(folded == clean)
    val again = pairs(DedupIndex.pairsAgainst(
      spark, docs(60L until 63L), dir, "d", "doc_id", "text"))
    assert(again.forall(p => p._1 < 900L || p._1 >= 60L),
      s"garbage rows must never surface: $again")
  }

  test("banding params are frozen in the artifact and honored by folds") {
    val dir = tmpDir("didx_params")
    val a = docs(0L until 30L)
    val fresh = docs(30L until 45L)
    // non-default scheme: bigram shingles, 64 hashes, 4-row bands
    DedupIndex.build(spark, a, dir, "d", "doc_id", "text",
      k = 2, numHashes = 64, bandRows = 4)
    val folded = pairs(DedupIndex.fold(
      spark, fresh, dir, "d", "doc_id", "text"))
    val oneShot = pairs(Dedup.minhashNearDupPairsIncremental(
      a, fresh, "doc_id", "text", k = 2, numHashes = 64, bandRows = 4))
    assert(folded == oneShot)
  }

  test("compact rewrites deltas into one base with identical answers") {
    val dir = tmpDir("didx_compact")
    val a = docs(0L until 30L)
    val b = docs(30L until 45L)
    DedupIndex.build(spark, a, dir, "d", "doc_id", "text")
    DedupIndex.fold(spark, b, dir, "d", "doc_id", "text").count()
    val probe = docs(45L until 60L)
    val before = pairs(DedupIndex.pairsAgainst(
      spark, probe, dir, "d", "doc_id", "text"))
    DedupIndex.compact(spark, dir, "d")
    assert(DedupIndex.currentVersion(spark, dir, "d").contains(2))
    val after = pairs(DedupIndex.pairsAgainst(
      spark, probe, dir, "d", "doc_id", "text"))
    assert(after == before && after.nonEmpty)
    val names = new java.io.File(s"$dir/d.dedupindex")
      .listFiles().map(_.getName).toSet
    // newest-2 retention: the compacted-away v1 SURVIVES the v2 commit
    assert(names.contains("v2") && names.contains("v1"), names.toString)
    assert(!new java.io.File(s"$dir/d.dedupindex/v2/deltas").exists())
    // a second compact promotes v3 and GCs v1 (window slides)
    DedupIndex.compact(spark, dir, "d")
    val names2 = new java.io.File(s"$dir/d.dedupindex")
      .listFiles().map(_.getName).toSet
    assert(names2.contains("v3") && names2.contains("v2") &&
      !names2.contains("v1"), names2.toString)
    assert(DedupIndex.versions(spark, dir, "d") == Seq(2, 3))
  }

  test("in-flight reader of v(N) survives a concurrent compact commit") {
    val dir = tmpDir("didx_race")
    val a = docs(0L until 30L)
    DedupIndex.build(spark, a, dir, "d", "doc_id", "text")
    DedupIndex.fold(spark, docs(30L until 45L), dir, "d", "doc_id", "text")
      .count()
    val probe = docs(45L until 60L)
    // the reader resolves the pointer (v1) NOW; evaluation comes later
    val inFlight = DedupIndex.pairsAgainst(
      spark, probe, dir, "d", "doc_id", "text")
    val expected = pairs(DedupIndex.pairsAgainst(
      spark, probe, dir, "d", "doc_id", "text"))
    DedupIndex.compact(spark, dir, "d") // commits v2
    // falsifiability (q293 idiom): delete v2 entirely — if the in-flight
    // plan still answers, it really reads v1's retained files
    graft.io.VersionPointer.dropDir(spark, s"$dir/d.dedupindex/v2")
    assert(pairs(inFlight) == expected && expected.nonEmpty)
  }

  test("time-travel: atVersion queries a retained historical version") {
    val dir = tmpDir("didx_tt")
    val a = docs(0L until 30L)
    val ab = docs(0L until 45L)
    DedupIndex.build(spark, a, dir, "d", "doc_id", "text") // v1 = slice a
    DedupIndex.build(spark, ab, dir, "d", "doc_id", "text") // v2 = a + b
    // probe: fresh ids carrying slice-b families, so v1 (which lacks b)
    // and v2 answer DIFFERENTLY
    val probe = docs(30L until 45L)
      .select((col("doc_id") + 1000L).as("doc_id"), col("text"))
    val atV1 = pairs(DedupIndex.pairsAgainst(
      spark, probe, dir, "d", "doc_id", "text", atVersion = Some(1)))
    val current = pairs(DedupIndex.pairsAgainst(
      spark, probe, dir, "d", "doc_id", "text"))
    assert(atV1 == pairs(Dedup.minhashNearDupPairsIncremental(
      a, probe, "doc_id", "text")))
    assert(current == pairs(Dedup.minhashNearDupPairsIncremental(
      ab, probe, "doc_id", "text")))
    assert(atV1.nonEmpty && atV1 != current)
    // uncommitted / GC'd versions are refused loudly
    intercept[IllegalArgumentException] {
      DedupIndex.pairsAgainst(spark, probe, dir, "d", "doc_id", "text",
        atVersion = Some(3))
    }
    DedupIndex.build(spark, ab, dir, "d", "doc_id", "text") // v3 GCs v1
    intercept[IllegalArgumentException] {
      DedupIndex.pairsAgainst(spark, probe, dir, "d", "doc_id", "text",
        atVersion = Some(1))
    }
  }

  test("a committed generation replays as a no-op instead of double-inserting") {
    val dir = tmpDir("didx_idem")
    val a = docs(0L until 30L)
    val fresh = docs(30L until 45L)
    DedupIndex.build(spark, a, dir, "d", "doc_id", "text")
    val first = pairs(DedupIndex.fold(
      spark, fresh, dir, "d", "doc_id", "text", generation = Some(7L)))
    // at-least-once retry: same batch identity AFTER the marker committed
    val retry = pairs(DedupIndex.fold(
      spark, fresh, dir, "d", "doc_id", "text", generation = Some(7L)))
    assert(retry == first && first.nonEmpty)
    // the index holds ONE copy of the fold: a later preview against a
    // third slice matches the clean two-slice incremental answer
    val probe = docs(45L until 60L)
    val preview = pairs(DedupIndex.pairsAgainst(
      spark, probe, dir, "d", "doc_id", "text"))
    assert(preview == pairs(Dedup.minhashNearDupPairsIncremental(
      a.unionByName(fresh), probe, "doc_id", "text")))
    // out-of-order batch identities are refused loudly
    intercept[IllegalArgumentException] {
      DedupIndex.fold(spark, probe, dir, "d", "doc_id", "text",
        generation = Some(3L)).count()
    }
  }

  test("pairsWithin equals the one-shot pairs over the indexed corpus") {
    val dir = tmpDir("didx_within")
    val a = docs(0L until 30L)
    val b = docs(30L until 45L)
    DedupIndex.build(spark, a, dir, "d", "doc_id", "text")
    DedupIndex.fold(spark, b, dir, "d", "doc_id", "text").count()
    // computed entirely off the stored artifacts (base + committed
    // delta) — must equal re-signing the accumulated corpus from text
    val within = pairs(DedupIndex.pairsWithin(spark, dir, "d"))
    val oneShot = pairs(Dedup.minhashNearDupPairs(
      a.unionByName(b), "doc_id", "text",
      k = 3, numHashes = 128, bandRows = 2,
      thresholdNum = 7, thresholdDen = 10))
    assert(within == oneShot && within.nonEmpty)
  }

  test("build refuses an indivisible banding scheme; fold requires an index") {
    val dir = tmpDir("didx_req")
    intercept[IllegalArgumentException] {
      DedupIndex.build(spark, docs(0L until 3L), dir, "d", "doc_id",
        "text", numHashes = 10, bandRows = 3)
    }
    intercept[IllegalArgumentException] {
      DedupIndex.fold(spark, docs(0L until 3L), dir, "nope", "doc_id",
        "text")
    }
  }

  /** A 2,000-doc index with one warm-up fold (the first read of a
    * version's artifacts pays one footer job each), then `body` on it.
    */
  private def warmIndex[A](prefix: String)(body: String => A): A = {
    val dir = tmpDir(prefix)
    DedupIndex.build(spark, docs(0L until 2000L), dir, "d", "doc_id", "text")
    DedupIndex.fold(spark, docs(2000L until 2010L), dir, "d", "doc_id",
      "text").collect()
    body(dir)
  }

  test("below the size gate a 200-doc fold into a 2,000-doc index runs " +
    "at most 3 jobs and returns local rows") {
    warmIndex("didx_budget") { dir =>
      var out: DataFrame = null
      val jobs = jobsRunBy {
        out = DedupIndex.fold(spark, docs(2010L until 2210L), dir, "d",
          "doc_id", "text")
        out.collect()
      }
      assert(jobs <= 3, s"$jobs jobs")
      assert(out.isLocal)
      assert(jobsRunBy(out.collect()) == 0)
      assert(pairs(out) == pairs(Dedup.minhashNearDupPairsIncremental(
        docs(0L until 2010L), docs(2010L until 2210L), "doc_id", "text")))
      assert(pairs(out).size > 100)
    }
  }

  /** A 30-doc base, then a fresh batch of 60 near-dups of one stored
    * 3-doc family: 1,950 pairs whose sets far outweigh the index files.
    */
  private val hotBase = docs(0L until 30L)
  private val hotBatch = family(1000L until 1060L, 4L)

  /** Fold `hotBatch` into a fresh index over `hotBase`, with the gate at
    * `gate` (None: the default) — the pairs and the index dir's bytes.
    */
  private def hotFold(gate: Option[Long]): (DataFrame, Long) = {
    val dir = tmpDir("didx_hot")
    DedupIndex.build(spark, hotBase, dir, "d", "doc_id", "text")
    def run = DedupIndex.fold(spark, hotBatch, dir, "d", "doc_id", "text")
    val out = gate.fold(run)(withGate(_)(run))
    (out, graft.conf.Tuning.dirBytes(spark, s"$dir/d.dedupindex"))
  }

  /** A gate above the index files' bytes and below the hot batch's band
    * matches (most of 1,950 pairs share most of 64 bands) at 64 B each.
    */
  private val matchGate = 1L << 20

  test("folds with the gate on, off (0) and tripped by the band matches " +
    "return the same rows and schema as the in-memory incremental operator") {
    val (gated, _) = hotFold(None)
    val (ungated, _) = hotFold(Some(0L))
    val (matchesAbove, indexBytes) = hotFold(Some(matchGate))
    // the band matches ran below the gate; only their count was above it
    assert(indexBytes < matchGate, s"$indexBytes index bytes")
    assert(gated.isLocal && !ungated.isLocal && !matchesAbove.isLocal)
    val oneShot = Dedup.minhashNearDupPairsIncremental(
      hotBase, hotBatch, "doc_id", "text")
    assert(pairs(oneShot).size == 1950)
    Seq(ungated, matchesAbove, oneShot).foreach { df =>
      assert(pairs(df) == pairs(gated))
    }
    Seq(ungated, matchesAbove).foreach(df => assert(df.schema == gated.schema))
  }

  test("a fold on either side of the size gate leaves no persisted RDDs") {
    Seq(None, Some(0L), Some(matchGate)).foreach { gate =>
      leavesNoRdds(pairs(hotFold(gate)._1))
    }
  }

  test("pairsAgainst below the size gate returns local rows and releases " +
    "its checkpoints; above it only the two behind the frame stay") {
    val dir = tmpDir("didx_against_rdds")
    val a = docs(0L until 30L)
    DedupIndex.build(spark, a, dir, "d", "doc_id", "text")
    val probe = docs(30L until 45L)
    val want = pairs(Dedup.minhashNearDupPairsIncremental(
      a, probe, "doc_id", "text"))
    var out: DataFrame = null
    val left = rddsLeftBy {
      out = DedupIndex.pairsAgainst(spark, probe, dir, "d", "doc_id", "text")
    }
    assert(left.isEmpty, left.values.mkString("\n"))
    assert(out.isLocal && pairs(out) == want && want.nonEmpty)
    val above = withGate(0L) {
      rddsLeftBy {
        out = DedupIndex.pairsAgainst(spark, probe, dir, "d", "doc_id",
          "text")
      }
    }
    val backing = out.queryExecution.logical.collect {
      case r: LogicalRDD => r.rdd.id
    }.toSet
    assert(backing.size == 2 && above.keySet == backing, above.values)
    assert(pairs(out) == want)
    above.values.foreach(_.unpersist(blocking = false))
  }

  /** Build + fold batches: each doc is one of 4 families (near-dups
    * within a family), a zero-token text (fewer than k = 3 tokens) or an
    * empty text; batches hold 0–5 docs.
    */
  private val splits: Gen[List[List[Int]]] =
    Gen.choose(2, 4).flatMap(Gen.listOfN(_, Gen.frequency(
        1 -> Gen.const(0), 2 -> Gen.const(1), 3 -> Gen.choose(2, 5))
      .flatMap(Gen.listOfN(_, Gen.choose(0, 5)))))

  private def batchDocs(kinds: Seq[Int], from: Long): DataFrame =
    kinds.zipWithIndex.map { case (kind, j) =>
      val i = from + j
      val text =
        if (kind < 4) (0 until 30)
          .map(w => s"w${kind}x${(w * 7 + kind) % 11}")
          .mkString(" ") + s" tail$i t$i"
        else if (kind == 4) s"w$i z$i"
        else ""
      (i, text)
    }.toDF("doc_id", "text")

  test("fold ≡ the in-memory incremental operator over random batch " +
    "splits, below the size gate and at maxBytes=0") {
    // two fixed splits hold every edge: an empty base, empty,
    // single-row and zero-token-only folds
    val all = List(List(0, 1, 4), Nil, List(4, 5), List(1), List(0, 2)) +:
      List(Nil, List(0, 0), List(1)) +: samples(splits, 3, 41L)
    all.zipWithIndex.foreach { case (split, i) =>
      val starts = split.scanLeft(0L)(_ + _.size)
      val batches = split.zip(starts).map { case (b, s) => batchDocs(b, s) }
      val want = batches.indices.tail.map { n =>
        pairs(Dedup.minhashNearDupPairsIncremental(
          batches.take(n).reduce(_.unionByName(_)), batches(n),
          "doc_id", "text"))
      }
      Seq(None, Some(0L)).foreach { gate =>
        def run = {
          val dir = tmpDir("didx_prop")
          DedupIndex.build(spark, batches.head, dir, "d", "doc_id", "text")
          batches.tail.map(b => DedupIndex.fold(
            spark, b, dir, "d", "doc_id", "text"))
            .map(df => (df.isLocal, pairs(df)))
        }
        val got = gate.fold(run)(withGate(_)(run))
        assert(got.forall(_._1 == gate.isEmpty), s"sample $i gate $gate")
        assert(got.map(_._2) == want, s"sample $i gate $gate: $split")
      }
    }
  }
}
