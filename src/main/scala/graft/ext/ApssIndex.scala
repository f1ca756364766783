package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted, incrementally-maintained EXACT all-pairs-similarity index —
  * the artifact form of [[Dedup.apssCosinePairs]] (Bayardo, Ma & Srikant
  * 2007), the way [[DedupIndex]] is the artifact form of the MinHash
  * family. MinHash trades recall for speed; this is the
  * guaranteed-recall side: a daily ingest folds its batch against the
  * stored corpus and gets EVERY pair at cosine ≥ threshold, adjudicable
  * against the brute definition. Same commit discipline as its siblings
  * (shared [[graft.io.VersionPointer]]: create-only manifest PUTs, `ok`
  * terminator, marker-gated fold deltas, retention window + time-travel,
  * idempotent caller-supplied fold generations).
  *
  * Layout, one version dir per build/compact:
  *  - `v<N>/params`  — one row (k, floor_permil): the shingle length and
  *    the THRESHOLD FLOOR, frozen for the index's lifetime. Prefixes are
  *    stored at the floor, so any fold/query at threshold ≥ floor is
  *    lossless by monotonicity (the [[Dedup.apssCosineCurve]] argument);
  *    below-floor queries are refused loudly.
  *  - `v<N>/dforder` — (h, df): each shingle hash's document frequency
  *    in the BUILD corpus — the FROZEN global total order (df asc, h
  *    asc; hashes unseen at build order at df 0). The prefix-filter
  *    proof needs one total order shared by every side of every
  *    candidate join, and ANY total order is sound — df-asc is only the
  *    performance heuristic (rarest-first prefixes) — so freezing it at
  *    build keeps every later fold's prefixes join-compatible with the
  *    stored ones without re-signing anything. [[compact]]/a rebuild
  *    re-derives it when drift erodes the heuristic.
  *  - `v<N>/sign` — the three sign artifacts as one `__what`-partitioned
  *    table (r10: a batch commits in ONE write action; readers address
  *    the partition subdirs directly so each artifact scans only its own
  *    files): `__what=tokens` (doc_id, h) full distinct shingle-hash
  *    rows — the exact-verification side; `__what=sizes` (doc_id, n)
  *    distinct-set sizes; `__what=prefix` (doc_id, h) each doc's first
  *    `n − o + 1` hashes under the frozen order
  *    (`o = ceil(floor² · n / 10⁶)`) — the candidate-join side.
  *  - `v<N>/deltas/g<G>/sign` — one unified delta PER FOLD, committed by
  *    a create-only `v<N>/_folds/g<G>.ok` marker.
  *
  * [[fold]] signs ONLY the fresh batch (write IO is delta-sized), joins
  * fresh prefixes against stored ∪ fresh prefixes (ids-only equi-join on
  * the hash — fanout bounded by rare-shingle df exactly as in the
  * one-shot), verifies candidates with exact integer overlap counts
  * against stored ∪ fresh tokens, returns the qualifying pairs (every
  * pair involves ≥ 1 fresh doc, bit-identical to the one-shot
  * [[Dedup.apssCosinePairs]] over the accumulated corpus restricted to
  * fresh involvement — q326 adjudicates), and commits the delta.
  *
  * Contract: fold ids must be NEW (append-only corpora; reprocessing is
  * a rebuild concern) and the index is single-writer. Reference for
  * semantics parity: the reference library has no similarity operators
  * (SURVEY §2.0) — this extends the LLM-pipeline surface.
  */
object ApssIndex {

  private def index(spark: SparkSession, dir: String, name: String) =
    graft.io.VersionedIndex(spark, s"$dir/$name.apssindex",
      s"apss index '$name' at $dir",
      Seq("tokens" -> Seq("doc_id", "h"), "sizes" -> Seq("doc_id", "n"),
        "prefix" -> Seq("doc_id", "h")))

  def currentVersion(
      spark: SparkSession, dir: String, name: String): Option[Int] =
    index(spark, dir, name).current

  /** Committed versions still inside the retention window. */
  def versions(
      spark: SparkSession, dir: String, name: String): Seq[Int] =
    index(spark, dir, name).versions

  /** The frozen (k, floorPermil) — memoized per version (r9: folds skip
    * a head() job).
    */
  private def readParams(ix: graft.io.VersionedIndex, v: Int) = {
    val row = ix.params(v)
    (row.getAs[Int]("k"), row.getAs[Int]("floor_permil"))
  }

  /** (tokens, sizes, prefix) of `docs` under the index's frozen scheme —
    * the SAME fused shingle-hash expr as [[Dedup.apssCosinePairs]], the
    * prefix under the frozen df order at the frozen floor, so a doc's
    * prefix is identical whether signed at build or at any later fold.
    */
  private def signFrozen(
      docs: DataFrame, idCol: String, textCol: String, k: Int,
      floorPermil: Int,
      dforder: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // persisted (r9): the three outputs are materialized by SEPARATE
    // write actions (tokens / sizes / prefix) — without the cache each
    // write re-runs the fused shingle pass. The 4th element of the
    // return is the hs cache handle so callers can unpersist both caches
    // once their actions have run (r10, advisor).
    val hs = Dedup.withShingleHashSets(docs, idCol, textCol, k).persist()
    val tokens = Dedup.shingleHashes(hs).persist()
    val sizes = hs.select(col("doc_id"), size(col("hsh")).cast("long").as("n"))
    (tokens, sizes, prefixOf(tokens, sizes, dforder, floorPermil), hs)
  }

  /** Each doc's first `n − o + 1` hashes under `dforder` (df asc, h asc;
    * hashes it lacks order at df 0), `o = ceil(floor² · n / 10⁶)`.
    */
  private def prefixOf(
      tokens: DataFrame, sizes: DataFrame, dforder: DataFrame,
      floorPermil: Int): DataFrame = {
    val tf2 = floorPermil.toLong * floorPermil
    val pos = tokens
      .join(dforder.withColumnRenamed("df", "__df"), Seq("h"), "left")
      .withColumn("__df0", coalesce(col("__df"), lit(0L)))
      .withColumn("__pos", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("__df0"), col("h"))))
    pos.join(sizes, "doc_id")
      .withColumn("__o", expr(s"($tf2 * n + 999999) div 1000000"))
      .filter(col("__pos") <= col("n") - col("__o") + 1)
      .select("doc_id", "h")
  }

  /** Write the params, the frozen df order and the (tokens, sizes,
    * prefix) sign table of (unpublished) version `version` — r10: the
    * three sign artifacts in ONE write action (one job + one commit
    * instead of three).
    */
  private def writeVersion(
      ix: graft.io.VersionedIndex, tokens: DataFrame, sizes: DataFrame,
      prefix: DataFrame, dforder: DataFrame, k: Int, floorPermil: Int,
      version: Int): Unit = {
    import ix.spark.implicits._
    Seq((k, floorPermil)).toDF("k", "floor_permil")
      .coalesce(1).write.mode("errorifexists")
      .parquet(ix.path(version, "params"))
    dforder.write.mode("errorifexists").parquet(ix.path(version, "dforder"))
    ix.writeSigned(ix.dir(version), "errorifexists", tokens, sizes, prefix)
  }

  /** Sign + index `corpus` as version 1 (or N+1 — a manual rebuild),
    * deriving the frozen df order FROM this corpus, then apply the
    * retention window.
    */
  def build(
      spark: SparkSession, corpus: DataFrame, dir: String, name: String,
      idCol: String, textCol: String, floorPermil: Int = 500, k: Int = 3,
      retainVersions: Int = 2): Unit = {
    require(floorPermil >= 1 && floorPermil <= 1000,
      s"build: floorPermil must be in [1, 1000], got $floorPermil")
    val ix = index(spark, dir, name)
    val v = ix.current.getOrElse(0) + 1
    ix.publish(v, retainVersions) {
      val hs = Dedup.withShingleHashSets(corpus, idCol, textCol, k)
      val dforder = Dedup.shingleHashes(hs)
        .groupBy("h").agg(count(lit(1)).as("df"))
      // the order table feeds the prefix window AND persists: cut its
      // lineage so the window's sort doesn't recompute the df aggregation
      val frozen = dforder.localCheckpoint()
      val (tokens, sizes, prefix, hsCache) =
        signFrozen(corpus, idCol, textCol, k, floorPermil, frozen)
      // writeVersion's writes are the cached sign pass's and the
      // checkpoint's only consumers — release them afterwards (r10,
      // advisor)
      try writeVersion(ix, tokens, sizes, prefix, frozen, k, floorPermil, v)
      finally {
        tokens.unpersist(); hsCache.unpersist()
        graft.io.VersionedIndex.releaseCheckpoint(frozen)
      }
    }
  }

  /** The incremental pair algebra shared by [[fold]] and
    * [[pairsAgainst]]: candidates = fresh prefixes ⋈ (prior ∪ fresh)
    * prefixes on the hash (ids only, canonical unordered form —
    * fresh×fresh pairs meet twice and collapse), verified with exact
    * integer overlap counts off (prior ∪ fresh) tokens, thresholded by
    * the cross-multiplied integer test. Output = the q309 contract:
    * (doc_a, doc_b, overlap, n_a, n_b, cos_ppb).
    */
  private def pairsOf(
      freshTokens: DataFrame, freshSizes: DataFrame, freshPrefix: DataFrame,
      priorTokens: DataFrame, priorSizes: DataFrame, priorPrefix: DataFrame,
      thresholdPermil: Int): DataFrame = {
    val tpm2 = thresholdPermil.toLong * thresholdPermil
    val allPrefix = priorPrefix.unionByName(freshPrefix)
    val allTokens = priorTokens.unionByName(freshTokens)
    val allSizes = priorSizes.unionByName(freshSizes)
    val cand = freshPrefix.select(col("doc_id").as("id_n"), col("h"))
      .join(allPrefix.select(col("doc_id").as("id_o"), col("h")), "h")
      .filter(col("id_n") =!= col("id_o"))
      .select(least(col("id_n"), col("id_o")).as("doc_a"),
        greatest(col("id_n"), col("id_o")).as("doc_b"))
      .distinct()
    val ov = cand
      .join(allTokens.select(col("doc_id").as("doc_a"), col("h")), "doc_a")
      .join(allTokens.select(col("doc_id").as("doc_b"), col("h")),
        Seq("doc_b", "h"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("overlap"))
    ov
      .join(allSizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")),
        "doc_a")
      .join(allSizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")),
        "doc_b")
      .filter(col("overlap") * col("overlap") * 1000000L >=
        lit(tpm2) * col("n_a") * col("n_b"))
      .select(col("doc_a"), col("doc_b"), col("overlap"),
        col("n_a"), col("n_b"),
        floor(col("overlap").cast("double") * 1e9 /
          sqrt((col("n_a") * col("n_b")).cast("double")) + lit(0.5))
          .cast("long").as("cos_ppb"))
  }

  private def requireThreshold(
      thresholdPermil: Int, floorPermil: Int): Unit =
    require(thresholdPermil >= floorPermil && thresholdPermil <= 1000,
      s"thresholdPermil $thresholdPermil is below the index's frozen " +
        s"floor $floorPermil (stored prefixes are lossless only at or " +
        "above the floor) or above 1000 — rebuild with a lower floor " +
        "for looser joins")

  /** READ-ONLY preview: every qualifying pair at `thresholdPermil`
    * (≥ the frozen floor) involving ≥ 1 `fresh` doc, against the
    * committed corpus — nothing written. `atVersion` time-travels to a
    * retained historical version.
    */
  def pairsAgainst(
      spark: SparkSession, fresh: DataFrame, dir: String, name: String,
      idCol: String, textCol: String, thresholdPermil: Int,
      atVersion: Option[Int] = None): DataFrame = {
    val ix = index(spark, dir, name)
    val v = ix.resolve(atVersion)
    val (k, floorPermil) = readParams(ix, v)
    requireThreshold(thresholdPermil, floorPermil)
    val (t0, s0, p0, hsCache) = signFrozen(fresh, idCol, textCol, k,
      floorPermil, ix.artifact(v, "dforder"))
    // sign once, lineage-cut: the candidate and verify legs must not
    // re-shingle the fresh side
    val (ti, si, pi) =
      (t0.localCheckpoint(), s0.localCheckpoint(), p0.localCheckpoint())
    // the checkpoints are materialized — the sign-pass caches have no
    // consumers left (the returned plan reads the checkpoints)
    t0.unpersist(); hsCache.unpersist()
    val Seq(tokens, sizes, prefix) =
      ix.committedSigned(v, Seq("tokens", "sizes", "prefix"))
    pairsOf(ti, si, pi, tokens, sizes, prefix, thresholdPermil)
  }

  /** Fold an ingest batch: sign ONLY `fresh` under the frozen scheme,
    * return every qualifying pair at `thresholdPermil` involving ≥ 1
    * fresh doc, and commit the fresh (tokens, sizes, prefix) delta so
    * later batches join against it. `generation` is the caller's batch
    * identity (streaming batchId): a retry of an ALREADY-COMMITTED
    * generation is a pure replay — recompute the stored delta's pairs
    * against the state below it, write nothing (the [[DedupIndex.fold]]
    * idempotency contract).
    */
  def fold(
      spark: SparkSession, fresh: DataFrame, dir: String, name: String,
      idCol: String, textCol: String, thresholdPermil: Int,
      generation: Option[Long] = None): DataFrame = {
    val ix = index(spark, dir, name)
    val v = ix.requireCurrent
    val (k, floorPermil) = readParams(ix, v)
    requireThreshold(thresholdPermil, floorPermil)
    val g = ix.fold(v, generation) { g =>
      val (ti, si, pi, hsCache) = signFrozen(fresh, idCol, textCol, k,
        floorPermil, ix.artifact(v, "dforder"))
      // overwrite: a retry of a PRE-marker crash replaces the orphan.
      // r10: the three artifacts commit in ONE `__what`-partitioned write
      // (one job instead of three); it is the sign-pass caches' only
      // consumer — release them afterwards (advisor).
      try ix.writeSigned(ix.delta(v, g), "overwrite", ti, si, pi)
      finally { ti.unpersist(); hsCache.unpersist(); () }
    }
    // pairs off the generation's stored delta (read back, never
    // re-signed) against the committed state below it
    val Seq(tokens, sizes, prefix) =
      ix.committedSigned(v, Seq("tokens", "sizes", "prefix"), belowGen = g)
    pairsOf(ix.deltaSigned(v, g, "tokens"), ix.deltaSigned(v, g, "sizes"),
      ix.deltaSigned(v, g, "prefix"), tokens, sizes, prefix, thresholdPermil)
  }

  /** Re-derive the df order over the accumulated corpus and rewrite the
    * delta triples into one base at version N+1 (prefixes RE-CUT under
    * the new order — unlike [[DedupIndex.compact]] this is more than a
    * row move, because the order is what fold drift erodes), pointer
    * promote, retention window.
    */
  def compact(
      spark: SparkSession, dir: String, name: String,
      retainVersions: Int = 2): Unit = {
    val ix = index(spark, dir, name)
    val v = ix.requireCurrent
    val (k, floorPermil) = readParams(ix, v)
    val Seq(tokens0, sizes0) = ix.committedSigned(v, Seq("tokens", "sizes"))
    val tokens = tokens0.localCheckpoint()
    val sizes = sizes0.localCheckpoint()
    val dforder = tokens.groupBy("h").agg(count(lit(1)).as("df"))
      .localCheckpoint()
    val prefix = prefixOf(tokens, sizes, dforder, floorPermil)
    // the write is the three checkpoints' only consumer
    try ix.publish(v + 1, retainVersions) {
      writeVersion(ix, tokens, sizes, prefix, dforder, k, floorPermil, v + 1)
    } finally graft.io.VersionedIndex.releaseCheckpoint(tokens, sizes, dforder)
  }
}
