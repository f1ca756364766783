package graft.ext

import scala.collection.mutable

import graft.conf.Tuning
import graft.io.DriverScan

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Persisted, incrementally-maintained MinHash-LSH dedup index — the
  * artifact form of [[Dedup.minhashNearDupPairsIncremental]]. That
  * operator's scaladoc already names this shape: "a production deployment
  * persists the banded corpus AND the incoming bands/sets between
  * batches". This is that artifact, under the same commit discipline as
  * [[AnnIndex]] (shared [[graft.io.VersionPointer]]: create-only manifest
  * PUTs, `ok` terminator, newest-2 retention, no renames — object-store
  * safe).
  *
  * Layout, one version dir per build/compact:
  *  - `v<N>/params` — one row (k, num_hashes, band_rows): the banding
  *    scheme, FROZEN for the index's lifetime. [[fold]] reads it instead
  *    of taking parameters, so a fold can never band differently than
  *    the stored corpus (bucket equality across generations is the whole
  *    correctness argument).
  *  - `v<N>/sign` — the two artifacts as one `__what`-partitioned table
  *    (r10: a batch commits in ONE write action; readers address the
  *    partition subdirs directly): `__what=sets` (doc_id, hsh) — each
  *    indexed doc's distinct 60-bit shingle-hash set, the
  *    exact-verification side; `__what=bands` (doc_id, band, bucket) —
  *    the LSH candidate-join side.
  *  - `v<N>/deltas/g<G>/sign` — one unified delta PER FOLD,
  *    committed by a create-only `v<N>/_folds/g<G>.ok` marker. A crash
  *    mid-fold leaves an invisible orphan; the retry recomputes the same
  *    generation, overwrites it, and commits — never double-inserted.
  *
  * [[fold]] is the per-ingest-batch dedup step a 100 TB pipeline runs
  * daily: shingle+sign ONLY the fresh docs (the fused one-pass exprs —
  * write IO is delta-sized), join fresh bands against stored ∪ fresh
  * bands (ids-only equi-join; the asymmetric join's skew exposure is
  * bounded by the batch side's bucket width), verify candidates with the
  * exact integer Jaccard against their own stored or fresh sets (below
  * the size gate; above it the lazy plan joins every stored set), RETURN
  * the qualifying pairs (every pair involves ≥ 1 fresh doc), and commit
  * the fresh delta so the next batch sees it. Maintained pair sets are
  * identical to a one-shot [[Dedup.minhashNearDupPairs]] over the
  * accumulated corpus restricted to fresh involvement — same fused
  * signature expr, same banding, same verify arithmetic (q313
  * adjudicates; DedupIndexSpec pins fold ≡ the in-memory incremental
  * operator).
  *
  * Contract: fold ids must be NEW (dedup corpora are append-only;
  * reprocessing is a rebuild concern) and the index is single-writer
  * (the marker create fails loudly if a concurrent fold wins the
  * generation). [[compact]] folds the delta dirs back into one base at
  * version N+1 (pure rewrite — nothing is re-signed) with a pointer
  * promote.
  *
  * Retention + time-travel (the [[graft.operators.BucketedSnapshot]]
  * discipline): [[build]] and [[compact]] keep the newest
  * `retainVersions` (default 2) version dirs and GC older ones — so a
  * reader that resolved the pointer to v(N) mid-scan survives a
  * concurrent compact's v(N+1) commit; [[pairsAgainst]] takes
  * `atVersion` to query a retained historical version, and [[versions]]
  * lists what is readable.
  *
  * Fold idempotency: at-least-once callers (streaming `foreachBatch`)
  * pass their batch identity as `generation` — a retry of an
  * ALREADY-COMMITTED generation becomes a pure replay (recompute the
  * pairs from the stored delta against the state below it; nothing is
  * re-written), so the same docs are never double-inserted even when
  * the failure happened after the marker PUT. Auto-numbered folds
  * (generation omitted) are safe against pre-marker crashes only.
  */
object DedupIndex {

  private def index(spark: SparkSession, dir: String, name: String) =
    graft.io.VersionedIndex(spark, s"$dir/$name.dedupindex",
      s"dedup index '$name' at $dir",
      Seq("sets" -> Seq("doc_id", "hsh"),
        "bands" -> Seq("doc_id", "band", "bucket")))

  def currentVersion(
      spark: SparkSession, dir: String, name: String): Option[Int] =
    index(spark, dir, name).current

  /** Committed versions still inside the retention window — the
    * time-travel targets [[pairsAgainst]]'s `atVersion` accepts.
    */
  def versions(
      spark: SparkSession, dir: String, name: String): Seq[Int] =
    index(spark, dir, name).versions

  /** The frozen banding scheme: (k, numHashes, bandRows) — memoized per
    * version (r9: every fold / pairsAgainst on a long-lived index skips a
    * head() job).
    */
  private def readParams(ix: graft.io.VersionedIndex, v: Int) = {
    val row = ix.params(v)
    (row.getAs[Int]("k"), row.getAs[Int]("num_hashes"),
      row.getAs[Int]("band_rows"))
  }

  /** (sets, bands) of `docs` under the index's scheme — the SAME fused
    * exprs and band transform as [[Dedup.minhashNearDupPairs]], so a
    * doc's buckets are identical whether signed at build or at any later
    * fold.
    */
  private def signAndBand(
      docs: DataFrame, idCol: String, textCol: String, k: Int,
      numHashes: Int, bandRows: Int): (DataFrame, DataFrame) = {
    // persisted (r9): sets and bands are materialized by SEPARATE write
    // actions at build/fold — without the cache the bands write re-runs
    // the whole fused shingle + minhash pass
    val sets = Dedup.withShingleHashSets(docs, idCol, textCol, k).persist()
    (sets, bandsOf(sets, numHashes, bandRows))
  }

  /** `sets` with the minhash signature `sig` of each `hsh`. */
  private def withSig(sets: DataFrame, numHashes: Int): DataFrame =
    sets.select(col("doc_id"), col("hsh"),
      expr(s"graft_minhash(hsh, $numHashes)").as("sig"))

  /** The bucket array of a `sig` column: band b's bucket is its
    * `bandRows` minhash values joined by ':'.
    */
  private def buckets(numHashes: Int, bandRows: Int): Column = expr(
    s"transform(sequence(0, ${numHashes / bandRows - 1}), b -> " +
      s"concat_ws(':', transform(slice(sig, b * $bandRows + 1, $bandRows), " +
      "x -> CAST(x AS STRING))))")

  /** (doc_id, band, bucket) of `sets`: the [[buckets]] array exploded by
    * position.
    */
  private def bandsOf(
      sets: DataFrame, numHashes: Int, bandRows: Int): DataFrame =
    withSig(sets, numHashes).select(col("doc_id"),
      posexplode(buckets(numHashes, bandRows)).as(Seq("band", "bucket")))

  /** [[signAndBand]] run by the driver for `docs` over a `LocalRelation`
    * (no job): Catalyst's `ConvertToLocalRelation` folds the same fused
    * exprs and the [[buckets]] array, [[DriverScan]] reads them, and each
    * doc's bands are its buckets' positions. The (sets, bands) come back
    * over `LocalRelation`s with [[signAndBand]]'s schemas; None when the
    * projection is not readable on the driver.
    */
  private def signOnDriver(
      docs: DataFrame, idCol: String, textCol: String, k: Int,
      numHashes: Int, bandRows: Int): Option[(DataFrame, DataFrame)] = {
    val sets = Dedup.withShingleHashSets(docs, idCol, textCol, k)
    val bands = bandsOf(sets, numHashes, bandRows)
    val idType = sets.schema("doc_id").dataType
    DriverScan.rows(withSig(sets, numHashes).select(col("doc_id"),
        col("hsh"), buckets(numHashes, bandRows).as("buckets")))
      .map(_.read { it =>
        val setRows = Vector.newBuilder[InternalRow]
        val bandOut = Vector.newBuilder[InternalRow]
        it.foreach { r =>
          val row = r.copy()
          val id = if (row.isNullAt(0)) null else row.get(0, idType)
          setRows += InternalRow(id, row.getArray(1))
          val bs = row.getArray(2)
          (0 until bs.numElements).foreach(b =>
            bandOut += InternalRow(id, b, bs.getUTF8String(b)))
        }
        val spark = docs.sparkSession
        (DriverScan.frame(spark, sets.schema, setRows.result()),
          DriverScan.frame(spark, bands.schema, bandOut.result()))
      })
  }

  /** Write the params and the (sets, bands) sign table of (unpublished)
    * version `version` — r10: both artifacts in ONE write action.
    */
  private def writeVersion(
      ix: graft.io.VersionedIndex, sets: DataFrame, bands: DataFrame,
      k: Int, numHashes: Int, bandRows: Int, version: Int): Unit = {
    import ix.spark.implicits._
    Seq((k, numHashes, bandRows)).toDF("k", "num_hashes", "band_rows")
      .coalesce(1).write.mode("errorifexists")
      .parquet(ix.path(version, "params"))
    ix.writeSigned(ix.dir(version), "errorifexists", sets, bands)
  }

  /** Sign + index `corpus` as version 1 (or N+1 — a manual rebuild),
    * then apply the retention window (newest `retainVersions` version
    * dirs kept; an in-flight reader of the previous version keeps its
    * files at the default 2). The sign write runs under the size gate,
    * sized by `corpus`' estimated bytes.
    */
  def build(
      spark: SparkSession, corpus: DataFrame, dir: String, name: String,
      idCol: String, textCol: String, k: Int = 3, numHashes: Int = 128,
      bandRows: Int = 2, retainVersions: Int = 2): Unit = {
    require(numHashes % bandRows == 0,
      s"numHashes ($numHashes) must be divisible by bandRows ($bandRows)")
    graft.functions.VectorExpressions.register(spark)
    val ix = index(spark, dir, name)
    val v = ix.current.getOrElse(0) + 1
    ix.publish(v, retainVersions) {
      Tuning.withSmallInputScope(spark, Tuning.estimatedBytes(corpus)) {
        val (sets, bands) =
          signAndBand(corpus, idCol, textCol, k, numHashes, bandRows)
        // the write is this operator's only action over the cached sign
        // pass — release it afterwards (r10, advisor: operators that own
        // their action own the cleanup)
        try writeVersion(ix, sets, bands, k, numHashes, bandRows, v)
        finally sets.unpersist()
      }
    }
  }

  /** Band matches = fresh bands ⋈ (prior ∪ fresh) bands (ids only), in
    * canonical unordered form (id_a, id_b) — one row per shared band, so
    * fresh×fresh pairs meet twice.
    */
  private def bandMatches(
      bandsI: DataFrame, priorBands: DataFrame): DataFrame =
    bandsI.select(col("doc_id").as("id_n"), col("band"), col("bucket"))
      .join(priorBands.unionByName(bandsI)
        .select(col("doc_id").as("id_o"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("id_n") =!= col("id_o"))
      .select(least(col("id_n"), col("id_o")).as("id_a"),
        greatest(col("id_n"), col("id_o")).as("id_b"))

  /** The incremental pair algebra shared by [[fold]] and
    * [[pairsAgainst]], as one lazy plan: the candidates verified with the
    * exact integer Jaccard via the family's exploded-hash overlap join
    * over every prior ∪ fresh set.
    */
  private def pairsOf(
      setsI: DataFrame, bandsI: DataFrame, priorSets: DataFrame,
      priorBands: DataFrame, thresholdNum: Int,
      thresholdDen: Int): DataFrame =
    Dedup.withOverlapExploded(
        bandMatches(bandsI, priorBands).dropDuplicates("id_a", "id_b"),
        priorSets.unionByName(setsI))
      .filter(col("inter_size") * thresholdDen >=
        col("union_size") * thresholdNum)

  /** [[pairsOf]]'s output schema per input schemas, since building the
    * lazy plan to read it costs about 0.2 s.
    */
  private val pairsSchemas =
    new java.util.concurrent.ConcurrentHashMap[Seq[StructType], StructType]()

  /** [[pairsOf]] under the size gate. When the four frames are below it,
    * [[DriverScan]] reads them and their ids are a type whose values
    * compare like Spark's `=` ([[Clusters.driverSolvable]]), the driver
    * computes the pairs with no job ([[pairsOnDriver]]) and returns them
    * as a `LocalRelation` with [[pairsOf]]'s schema. Otherwise, or past
    * the band-match bound, the lazy [[pairsOf]] plan is returned.
    */
  private def gatedPairs(
      setsI: DataFrame, bandsI: DataFrame, priorSets: DataFrame,
      priorBands: DataFrame, thresholdNum: Int,
      thresholdDen: Int): DataFrame = {
    val spark = setsI.sparkSession
    lazy val lazyPairs = pairsOf(setsI, bandsI, priorSets, priorBands,
      thresholdNum, thresholdDen)
    val frames = Seq(setsI, bandsI, priorSets, priorBands)
    val idType = bandsI.schema("doc_id").dataType
    val readable =
      if (!Tuning.isSmallInput(spark, Tuning.estimatedBytes(frames: _*)) ||
          !Clusters.driverSolvable(idType)) Nil
      else frames.flatMap(DriverScan.rows)
    val pairs = readable match {
      case Seq(si, bi, ps, pb) => pairsOnDriver(si, bi, ps, pb, idType,
        Tuning.smallInputRows(spark, Clusters.EdgeBytes))
      case _ => None
    }
    pairs.fold(lazyPairs) { ps =>
      val schema = pairsSchemas.computeIfAbsent(frames.map(_.schema),
        _ => lazyPairs.schema)
      val qualifying = ps.collect {
        case (a, b, inter, union)
            if inter * thresholdDen >= union * thresholdNum =>
          InternalRow.fromSeq(schema.fieldNames.toSeq.map(Map("id_a" -> a,
            "id_b" -> b, "inter_size" -> inter, "union_size" -> union)))
      }
      DriverScan.frame(spark, schema, qualifying)
    }
  }

  /** The candidate pairs of [[pairsOf]] with their exact (intersection,
    * union) sizes, computed by the driver from the rows of the fresh and
    * prior (sets, bands). The fresh (band, bucket) keys go into one hash
    * map per band; every prior and fresh band row probes it, and each
    * match of two distinct ids is a candidate in canonical order (Spark's
    * ordering for `idType`, as `least`/`greatest`). Only the candidates'
    * sets are then kept, sorted, and intersected by a merge (`hsh` is a
    * distinct set). None once the band matches, counted one per shared
    * band as the lazy join emits them, pass `maxMatches`.
    */
  private def pairsOnDriver(
      setsI: DriverScan.Rows, bandsI: DriverScan.Rows,
      priorSets: DriverScan.Rows, priorBands: DriverScan.Rows,
      idType: DataType,
      maxMatches: Long): Option[Seq[(Any, Any, Long, Long)]] = {
    val ord = PhysicalDataType.ordering(idType)
    val fresh =
      mutable.HashMap.empty[Int, mutable.HashMap[UTF8String, List[Any]]]
    bandsI.read(_.foreach { r =>
      val byBucket =
        fresh.getOrElseUpdate(r.getInt(1), mutable.HashMap.empty)
      val b = r.getUTF8String(2).clone()
      val id = if (r.isNullAt(0)) null
        else InternalRow.copyValue(r.get(0, idType))
      byBucket(b) = id :: byBucket.getOrElse(b, Nil)
    })
    val cands = mutable.HashSet.empty[(Any, Any)]
    var matches = 0L
    def probe(r: InternalRow): Boolean = {
      for (ns <- fresh.get(r.getInt(1)).flatMap(_.get(r.getUTF8String(2)))) {
        val o = if (r.isNullAt(0)) null
          else InternalRow.copyValue(r.get(0, idType))
        ns.foreach { n =>
          if (n != null && o != null && n != o) {
            matches += 1
            cands += (if (ord.lt(n, o)) (n, o) else (o, n))
          }
        }
      }
      matches <= maxMatches
    }
    if (!priorBands.read(_.forall(probe)) || !bandsI.read(_.forall(probe))) {
      return None
    }
    val ids = cands.flatMap { case (a, b) => Seq(a, b) }
    val sets = mutable.HashMap.empty[Any, Array[Long]]
    Seq(priorSets, setsI).foreach(_.read(_.foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1) && ids(r.get(0, idType))) {
        val h = r.getArray(1).toLongArray()
        java.util.Arrays.sort(h)
        sets(InternalRow.copyValue(r.get(0, idType))) = h
      }
    }))
    Some(cands.toSeq.flatMap { case (a, b) =>
      for (x <- sets.get(a); y <- sets.get(b)) yield {
        val inter = overlap(x, y)
        (a, b, inter, x.length + y.length - inter)
      }
    })
  }

  /** Values two ascending arrays of distinct longs share. */
  private def overlap(a: Array[Long], b: Array[Long]): Long = {
    var (i, j, n) = (0, 0, 0L)
    while (i < a.length && j < b.length) {
      if (a(i) < b(j)) i += 1
      else if (a(i) > b(j)) j += 1
      else { n += 1; i += 1; j += 1 }
    }
    n
  }

  /** READ-ONLY preview of an ingest batch against the index: every
    * qualifying near-dup pair involving ≥ 1 `fresh` doc, under the
    * index's frozen banding scheme — nothing is written or committed
    * (the admission check a pipeline runs before deciding what to keep;
    * [[fold]] is the committing form). The fresh side is signed once, so
    * the candidate and verify legs never re-shingle it.
    * `atVersion` time-travels to a retained historical version (its
    * committed folds included) — auditing what an admission decision
    * WOULD have been against last week's corpus.
    *
    * Below the size gate ([[DriverScan.local]]) the fresh side is signed
    * on the driver and the pairs come from [[gatedPairs]], with no
    * checkpoint. Above it the signed side is lineage-cut, and the
    * returned lazy frame reads the two checkpoints,
    * so they stay persisted until a GC lets the context cleaner drop
    * them.
    */
  def pairsAgainst(
      spark: SparkSession, fresh: DataFrame, dir: String, name: String,
      idCol: String, textCol: String, thresholdNum: Int = 7,
      thresholdDen: Int = 10, atVersion: Option[Int] = None): DataFrame = {
    val ix = index(spark, dir, name)
    val v = ix.resolve(atVersion)
    graft.functions.VectorExpressions.register(spark)
    val (k, numHashes, bandRows) = readParams(ix, v)
    val Seq(sets, bands) = ix.committedSigned(v, Seq("sets", "bands"))
    DriverScan.local(fresh)
      .flatMap(signOnDriver(_, idCol, textCol, k, numHashes, bandRows))
      .fold {
        val (setsI0, bandsI0) =
          signAndBand(fresh, idCol, textCol, k, numHashes, bandRows)
        val setsI = setsI0.localCheckpoint()
        val bandsI = bandsI0.localCheckpoint()
        // both checkpoints are materialized — the sign-pass cache has no
        // consumers left (the pair plan reads the checkpoints)
        setsI0.unpersist()
        pairsOf(setsI, bandsI, sets, bands, thresholdNum, thresholdDen)
      } { case (setsI, bandsI) =>
        gatedPairs(setsI, bandsI, sets, bands, thresholdNum, thresholdDen)
      }
  }

  /** Every qualifying near-dup pair WITHIN the indexed corpus itself —
    * computed entirely from the stored (sets, bands) artifacts, nothing
    * re-shingled: the audit entry for "what duplication does the index
    * already hold" (and the seed-pair source for a maintained
    * [[ClusterIndex]] — q330 uses it so the pipeline signs each document
    * exactly once, at build/fold time). Same candidate/verify algebra as
    * the fold path; `atVersion` time-travels.
    */
  def pairsWithin(
      spark: SparkSession, dir: String, name: String,
      thresholdNum: Int = 7, thresholdDen: Int = 10,
      atVersion: Option[Int] = None): DataFrame = {
    val ix = index(spark, dir, name)
    val v = ix.resolve(atVersion)
    graft.functions.VectorExpressions.register(spark)
    val Seq(sets, bands) = ix.committedSigned(v, Seq("sets", "bands"))
    val cands = bands.select(col("doc_id").as("id_n"),
        col("band"), col("bucket"))
      .join(bands.select(col("doc_id").as("id_o"), col("band"),
        col("bucket")), Seq("band", "bucket"))
      .filter(col("id_n") < col("id_o"))
      .select(col("id_n").as("id_a"), col("id_o").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    Dedup.withOverlapExploded(cands, sets)
      .filter(col("inter_size") * thresholdDen >=
        col("union_size") * thresholdNum)
  }

  /** Fold an ingest batch: sign ONLY `fresh`, return every qualifying
    * near-dup pair involving ≥ 1 fresh doc (verified with the exact
    * integer Jaccard at `thresholdNum/thresholdDen`), and commit the
    * fresh (sets, bands) delta so later batches join against it. The
    * returned frame is computed from the delta just written plus the
    * PREVIOUSLY committed state — stable against concurrent readers.
    * Pairs where BOTH sides are fresh appear once (canonical unordered
    * form).
    *
    * `generation` is the caller's batch identity (a streaming batchId):
    * when the named generation is ALREADY COMMITTED, the call is a pure
    * replay — the stored delta's pairs against the state below it are
    * recomputed and returned, nothing is written — so an at-least-once
    * caller retrying after a post-commit failure never double-inserts.
    * Omitted, the generation auto-increments (safe against pre-marker
    * crashes only; at-least-once callers must pass their identity).
    *
    * Below the size gate a fold runs no job for a batch the driver can
    * read (a local or small file-backed frame) and one, the bounded
    * collect of [[DriverScan.local]], for any other (a streaming
    * `foreachBatch` batch): the driver signs the batch, writes the delta
    * ([[graft.io.VersionedIndex.writeSignedOnDriver]]), matches its
    * bands against the committed ones and runs the exact verify, and the
    * returned frame is a local one that holds no cached blocks. Above
    * the gate the sign write is a job, and the pairs a lazy plan over
    * every stored set and band.
    */
  def fold(
      spark: SparkSession, fresh: DataFrame, dir: String, name: String,
      idCol: String, textCol: String, thresholdNum: Int = 7,
      thresholdDen: Int = 10, generation: Option[Long] = None): DataFrame = {
    val ix = index(spark, dir, name)
    val v = ix.requireCurrent
    graft.functions.VectorExpressions.register(spark)
    def described[A](g: Long)(body: => A) =
      graft.io.VersionedIndex.described(spark, "DedupIndex.fold", name, v,
        Some(g))(body)
    val g = ix.fold(v, generation) { g => described(g) {
      val (k, numHashes, bandRows) = readParams(ix, v)
      // overwrite mode: a retry of a crashed fold recomputes the same
      // generation and replaces the orphan before committing
      DriverScan.local(fresh)
        .flatMap(signOnDriver(_, idCol, textCol, k, numHashes, bandRows))
        .fold(Tuning.withSmallInputScope(spark, Tuning.estimatedBytes(fresh)) {
          val (setsI, bandsI) =
            signAndBand(fresh, idCol, textCol, k, numHashes, bandRows)
          // both artifacts commit in ONE __what-partitioned write (one job
          // instead of two); it is the sign-pass cache's only consumer —
          // release it afterwards
          try ix.writeSigned(ix.delta(v, g), "overwrite", setsI, bandsI)
          finally setsI.unpersist()
        }) { case (setsI, bandsI) =>
          ix.writeSignedOnDriver(ix.delta(v, g), setsI, bandsI)
        }
    }}
    // pairs off the generation's stored delta (read back — not the
    // lineage of the input frame, so the verify never re-signs fresh
    // docs; on a replay the delta is immutable, an at-least-once source
    // redelivers the same batch) against exactly the committed state
    // that preceded it
    described(g) {
      val Seq(sets, bands) =
        ix.committedSigned(v, Seq("sets", "bands"), belowGen = g)
      gatedPairs(ix.deltaSigned(v, g, "sets"),
        ix.deltaSigned(v, g, "bands"), sets, bands, thresholdNum,
        thresholdDen)
    }
  }

  /** Compact the delta dirs back into one base at version N+1 — a pure
    * rewrite of already-signed rows (nothing re-shingles), pointer
    * promote, then the retention window (newest `retainVersions` version
    * dirs kept — the just-compacted v(N) survives at the default 2, so a
    * reader that resolved the pointer to it mid-scan still has its
    * parquet). The amortized cleanup once fold deltas accumulate (the
    * MOR compaction tradeoff).
    */
  def compact(
      spark: SparkSession, dir: String, name: String,
      retainVersions: Int = 2): Unit = {
    val ix = index(spark, dir, name)
    val v = ix.requireCurrent
    val (k, numHashes, bandRows) = readParams(ix, v)
    val Seq(sets, bands) = ix.committedSigned(v, Seq("sets", "bands"))
    ix.publish(v + 1, retainVersions) {
      writeVersion(ix, sets, bands, k, numHashes, bandRows, v + 1)
    }
  }
}
