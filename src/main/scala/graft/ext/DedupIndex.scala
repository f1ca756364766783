package graft.ext

import scala.jdk.CollectionConverters._

import graft.conf.Tuning
import graft.io.VersionedIndex.releaseCheckpoint

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
    val numBands = numHashes / bandRows
    // persisted (r9): sets and bands are materialized by SEPARATE write
    // actions at build/fold — without the cache the bands write re-runs
    // the whole fused shingle + minhash pass
    val sets = Dedup.withShingleHashSets(docs, idCol, textCol, k).persist()
    val bands = sets
      .select(col("doc_id"),
        expr(s"graft_minhash(hsh, $numHashes)").as("sig"))
      .select(
        col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, ${numBands - 1}), b -> concat_ws(':', " +
            s"transform(slice(sig, b * $bandRows + 1, $bandRows), " +
            "x -> CAST(x AS STRING))))"))
          .as(Seq("band", "bucket")))
    (sets, bands)
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

  /** [[pairsOf]] under the size gate, decided in two steps. When the
    * sets and bands it reads are below the gate, one job collects the
    * band matches, at most as many as stay below the gate at
    * [[Clusters.EdgeBytes]] each. When they fit, a second job collects
    * the candidates' own sets (an `InSet` filter on their ids: a subset
    * of the sets just measured), the exact Jaccard runs on the driver
    * (`hsh` is a distinct set, so `|A ∩ B|` is the overlap join's count),
    * and the qualifying pairs come back as a `LocalRelation` with
    * [[pairsOf]]'s schema: two jobs, nothing persisted. Above either
    * gate, or for ids whose external values do not compare like Spark's
    * `=` ([[Clusters.driverSolvable]]), the lazy [[pairsOf]] plan is
    * returned. The shuffled-hash hint keeps the fresh bands from being
    * broadcast, which costs a job with AQE off.
    */
  private def gatedPairs(
      setsI: DataFrame, bandsI: DataFrame, priorSets: DataFrame,
      priorBands: DataFrame, thresholdNum: Int,
      thresholdDen: Int): DataFrame = {
    val spark = setsI.sparkSession
    lazy val lazyPairs = pairsOf(setsI, bandsI, priorSets, priorBands,
      thresholdNum, thresholdDen)
    val readBytes = Tuning.estimatedBytes(setsI, bandsI, priorSets, priorBands)
    if (!Tuning.isSmallInput(spark, readBytes) ||
        !Clusters.driverSolvable(bandsI.schema("doc_id").dataType)) {
      return lazyPairs
    }
    val maxRows = Tuning.smallInputRows(spark, Clusters.EdgeBytes)
    val matches = Tuning.withSmallInputScope(spark, readBytes) {
      bandMatches(bandsI.hint("shuffle_hash"), priorBands)
        .limit(math.min(maxRows, Int.MaxValue - 1L).toInt + 1).collect()
    }
    if (matches.length > maxRows) return lazyPairs
    val cands = matches.iterator.map(r => (r.get(0), r.get(1))).toSet
    val sets = priorSets.unionByName(setsI)
      .filter(col("doc_id").isInCollection(
        cands.iterator.flatMap { case (a, b) => Iterator(a, b) }.toSet))
      .collect().iterator.map(r => r.get(0) -> r.getSeq[Long](1).toSet)
      .toMap
    val schema = pairsSchemas.computeIfAbsent(
      Seq(setsI, bandsI, priorSets, priorBands).map(_.schema),
      _ => lazyPairs.schema)
    val out = for {
      (ida, idb) <- cands.toSeq
      a <- sets.get(ida)
      b <- sets.get(idb)
      inter = a.count(b).toLong
      union = a.size + b.size - inter
      if inter * thresholdDen >= union * thresholdNum
    } yield Row.fromSeq(schema.fieldNames.toSeq.map(Map("id_a" -> ida,
      "id_b" -> idb, "inter_size" -> inter, "union_size" -> union)))
    spark.createDataFrame(out.asJava, schema)
  }

  /** READ-ONLY preview of an ingest batch against the index: every
    * qualifying near-dup pair involving ≥ 1 `fresh` doc, under the
    * index's frozen banding scheme — nothing is written or committed
    * (the admission check a pipeline runs before deciding what to keep;
    * [[fold]] is the committing form). The fresh side is signed once and
    * lineage-cut so the candidate and verify legs can't re-shingle it.
    * `atVersion` time-travels to a retained historical version (its
    * committed folds included) — auditing what an admission decision
    * WOULD have been against last week's corpus.
    *
    * Below the size gate the pairs are collected and returned as a local
    * frame, and the fresh side's two checkpoints are released. Above it
    * the returned lazy frame reads them, so they stay persisted until a
    * GC lets the context cleaner drop them.
    */
  def pairsAgainst(
      spark: SparkSession, fresh: DataFrame, dir: String, name: String,
      idCol: String, textCol: String, thresholdNum: Int = 7,
      thresholdDen: Int = 10, atVersion: Option[Int] = None): DataFrame = {
    val ix = index(spark, dir, name)
    val v = ix.resolve(atVersion)
    graft.functions.VectorExpressions.register(spark)
    val (k, numHashes, bandRows) = readParams(ix, v)
    val (setsI0, bandsI0) =
      signAndBand(fresh, idCol, textCol, k, numHashes, bandRows)
    val setsI = setsI0.localCheckpoint()
    val bandsI = bandsI0.localCheckpoint()
    // both checkpoints are materialized — the sign-pass cache has no
    // consumers left (the pair path reads the checkpoints)
    setsI0.unpersist()
    val Seq(sets, bands) = ix.committedSigned(v, Seq("sets", "bands"))
    val out = gatedPairs(setsI, bandsI, sets, bands, thresholdNum,
      thresholdDen)
    if (out.isLocal) releaseCheckpoint(setsI, bandsI)
    out
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
    * Below the size gate a fold runs three jobs: the delta's sign write
    * (gated on `fresh`'s estimated bytes), one collect of the candidates
    * and one of their sets; the exact verify runs on the driver and the
    * returned frame is a local one that holds no cached blocks. Above
    * the gate it is a lazy plan over every stored set and band.
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
      Tuning.withSmallInputScope(spark, Tuning.estimatedBytes(fresh)) {
        val (setsI, bandsI) =
          signAndBand(fresh, idCol, textCol, k, numHashes, bandRows)
        // overwrite mode: a retry of a crashed fold recomputes the same
        // generation and replaces the orphan before committing. r10: both
        // artifacts commit in ONE __what-partitioned write (one job
        // instead of two); it is the sign-pass cache's only consumer —
        // release it afterwards (advisor).
        try ix.writeSigned(ix.delta(v, g), "overwrite", setsI, bandsI)
        finally setsI.unpersist()
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
