package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted, incrementally-maintained IVF ANN index — the artifact form
  * of [[Similarity.ivfTopKLloyd]]. Training inside every query call
  * re-pays the quantizer fit per invocation; real pipelines train once,
  * then FOLD new vectors into the index as the corpus grows (FAISS's
  * train()/add() split). The index is two versioned artifacts under a
  * manifest pointer (the [[graft.operators.BucketedSnapshot]] commit
  * discipline — create-only manifest PUTs, `ok` terminator, newest-2
  * retention, no renames on the commit path, object-store safe):
  *
  *  - `v<N>/centroids`  — the trained coarse quantizer (numCentroids
  *    rows), FROZEN between retrains: a fold assigns new vectors
  *    against it without touching stored postings, so maintained cell
  *    membership is identical to a one-shot assignment of the whole
  *    corpus — maintained topK ≡ one-shot topK under the same
  *    quantizer, exactly (q271 adjudicates this; the assignment is the
  *    SHARED [[Similarity.assignCells]], so drift is impossible by
  *    construction).
  *  - `v<N>/postings`   — (id, vector) parquet PARTITIONED BY CELL: the
  *    inverted lists from the build/retrain. A query joins postings to
  *    its probed cells, so only probed partitions' files are read.
  *  - `v<N>/deltas/g<G>` — one cell-partitioned delta dir PER FOLD,
  *    committed by a create-only `v<N>/_folds/g<G>.ok` marker (single
  *    PUT). Readers union the base with COMMITTED deltas only, so a
  *    crash mid-fold leaves an invisible orphan dir — never a
  *    partially-visible delta — and the retry recomputes the same
  *    generation and overwrites the orphan before committing (no
  *    double-insert). Fold IO stays delta-sized (AnnIndexSpec proves a
  *    fold plans no scan of stored postings by deleting them first).
  *
  * Contract: fold ids must be NEW (an ANN corpus is append-only; updates
  * are a retrain concern), and the index is single-writer (the foldMor
  * contract). [[retrain]] re-trains the quantizer over the accumulated
  * corpus (base + committed deltas) into version N+1 with a pointer
  * promote — the amortized rewrite that also compacts the delta dirs
  * back to one base, exactly the MOR compaction tradeoff.
  *
  * Retention + time-travel (the [[graft.operators.BucketedSnapshot]]
  * discipline): every version-producing entry ([[build]], [[retrain]],
  * [[buildPq]], [[retrainPq]]) keeps the newest `retainVersions`
  * (default 2) version dirs and GCs older ones, so a reader that
  * resolved the pointer to v(N) mid-scan survives a concurrent commit
  * of v(N+1); [[topK]]/[[topKPq]]/[[centroids]] take `atVersion` to
  * query a retained historical version, and [[versions]] lists what is
  * readable.
  *
  * Scale shape: build/fold cost is the assignment broadcast join (cent
  * is numCentroids rows) + a partitioned write of the delta; queries
  * broadcast (queries × probes) cell rows against a partition-pruned
  * postings scan and re-rank exactly inside probed cells only.
  */
object AnnIndex {

  private def index(spark: SparkSession, dir: String, name: String) =
    graft.io.VersionedIndex(spark, s"$dir/$name.annindex",
      s"ann index '$name' at $dir")

  /** Newest committed version, if the index exists — the shared
    * [[graft.io.VersionPointer]] contract: `<version> ok` records,
    * create-only PUTs, torn manifests skipped, present-but-unreadable
    * pointers fail loudly.
    */
  def currentVersion(
      spark: SparkSession, dir: String, name: String): Option[Int] =
    index(spark, dir, name).current

  /** Committed versions still inside the retention window — the
    * time-travel targets the readers' `atVersion` accepts.
    */
  def versions(
      spark: SparkSession, dir: String, name: String): Seq[Int] =
    index(spark, dir, name).versions

  /** The frozen quantizer of the current (or a retained historical)
    * version.
    */
  def centroids(
      spark: SparkSession, dir: String, name: String,
      atVersion: Option[Int] = None): DataFrame = {
    val ix = index(spark, dir, name)
    ix.artifact(ix.resolve(atVersion), "centroids")
  }

  /** Writes the IVF artifacts of (unpublished) version `version`. */
  private def writeVersion(
      ix: graft.io.VersionedIndex, corpus: DataFrame, idCol: String,
      vecCol: String, numCentroids: Int, dim: Int, version: Int): Unit = {
    // lloydCentroids' seed assignment uses the fused graft_ivf_cells —
    // register here so a fresh session can build without having run an
    // ivfTopK* query first
    graft.functions.VectorExpressions.register(ix.spark)
    graft.functions.HyperplaneExpressions.register(ix.spark)
    val cent = Similarity.lloydCentroids(
      corpus, idCol, vecCol, numCentroids, dim)
    cent.coalesce(1).write.mode("errorifexists")
      .parquet(ix.path(version, "centroids"))
    val frozen = ix.artifact(version, "centroids")
    Similarity.assignCells(corpus, idCol, vecCol, frozen, probes = 1)
      .select(col(idCol), col(vecCol), col("__cell").as("cell"))
      .write.mode("errorifexists").partitionBy("cell")
      .parquet(ix.path(version, "postings"))
  }

  /** Train + write version 1 (or N+1 over an existing index — a manual
    * retrain entry). The quantizer is trained on THIS corpus and frozen;
    * later [[fold]]s extend the postings under it.
    */
  def build(
      spark: SparkSession, corpus: DataFrame, dir: String, name: String,
      idCol: String, vecCol: String, numCentroids: Int = 16,
      dim: Int = 64, retainVersions: Int = 2): Unit = {
    val ix = index(spark, dir, name)
    val v = ix.current.getOrElse(0) + 1
    ix.publish(v, retainVersions) {
      writeVersion(ix, corpus, idCol, vecCol, numCentroids, dim, v)
    }
  }

  /** All committed postings of version `v`: the base plus every
    * committed fold delta. Uncommitted (orphan) delta dirs are invisible
    * — the marker is the commit. Each root is read on its own (they are
    * sibling partitioned layouts, which a single multi-path read rejects
    * as conflicting directory structures) and unioned by name; the cell
    * partition column prunes per branch exactly as it does on one root.
    */
  private def readPostings(ix: graft.io.VersionedIndex, v: Int): DataFrame =
    (ix.path(v, "postings") +: ix.committedFolds(v).map(ix.delta(v, _)))
      .map(ix.read(ix.path(v, "postings"), _))
      .reduce(_.unionByName(_))

  /** Fold new vectors into the current version: assign against the
    * FROZEN centroids (numCentroids-row broadcast — stored postings are
    * never read, the IO is delta-sized), write them as this fold's OWN
    * cell-partitioned delta dir, then commit it with one create-only
    * marker PUT. A crash before the marker leaves an orphan dir no
    * reader sees; the retry recomputes the same generation, overwrites
    * the orphan, and commits — idempotent, never double-inserted. Ids
    * must be new to the index; writers are single (the marker create
    * fails loudly if a concurrent fold won the generation).
    *
    * `generation` is the caller's batch identity (a streaming batchId):
    * a retry of an ALREADY-COMMITTED generation is a no-op, so an
    * at-least-once `foreachBatch` caller never double-inserts its
    * postings even when the failure happened AFTER the marker PUT.
    * Omitted, the generation auto-increments (safe against pre-marker
    * crashes only).
    */
  def fold(
      spark: SparkSession, fresh: DataFrame, dir: String, name: String,
      idCol: String, vecCol: String,
      generation: Option[Long] = None): Unit = {
    val ix = index(spark, dir, name)
    val v = ix.requireCurrent
    require(!hasCodebooks(ix, v),
      s"ann index '$name' at $dir is a PQ index — fold() would leave its " +
        "code postings stale; use foldPq()")
    val cent = ix.artifact(v, "centroids")
    ix.fold(v, generation) { g =>
      Similarity.assignCells(fresh, idCol, vecCol, cent, probes = 1)
        .select(col(idCol), col(vecCol), col("__cell").as("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(ix.delta(v, g))
    }
  }

  /** Re-train the quantizer over the accumulated corpus into version
    * N+1, promote the pointer, apply the retention window (v(N)
    * survives at the default `retainVersions` = 2, so in-flight readers
    * keep their files) — the amortized rewrite that keeps cells adapted
    * as folds shift the distribution.
    */
  def retrain(
      spark: SparkSession, dir: String, name: String, idCol: String,
      vecCol: String, numCentroids: Int = 16, dim: Int = 64,
      retainVersions: Int = 2): Unit = {
    val ix = index(spark, dir, name)
    val v = ix.requireCurrent
    require(!hasCodebooks(ix, v),
      s"ann index '$name' at $dir is a PQ index — retrain() would drop " +
        "its codebooks and codes; use retrainPq()")
    val corpus = readPostings(ix, v)
      .select(col(idCol), col(vecCol))
      // materialize before the promote: the lazy plan reads version v,
      // which retainVersions = 1 GCs right after
      .localCheckpoint()
    try ix.publish(v + 1, retainVersions) {
      writeVersion(ix, corpus, idCol, vecCol, numCentroids, dim, v + 1)
    } finally graft.io.VersionedIndex.releaseCheckpoint(corpus)
  }

  // ---- persisted IVF-PQ: codebooks + packed code postings ----------------

  private def codesDelta(
      ix: graft.io.VersionedIndex, v: Int, g: Long): String =
    ix.path(v, s"codes_deltas/g$g")

  private def hasCodebooks(ix: graft.io.VersionedIndex, v: Int): Boolean =
    ix.exists(ix.path(v, "codebooks"))

  /** All committed code postings of version `v` (base + committed fold
    * deltas), UNPACKED to (cid, cell, m, cw) rows for the ADC join.
    */
  private def readCodes(
      ix: graft.io.VersionedIndex, v: Int, idCol: String): DataFrame =
    (ix.path(v, "codes") +: ix.committedFolds(v).map(codesDelta(ix, v, _)))
      .map(ix.read(ix.path(v, "codes"), _))
      .reduce(_.unionByName(_))
      .select(col(idCol).as("cid"), col("cell"),
        posexplode(col("codes")).as(Seq("m", "cw")))

  /** Encode `df` against FROZEN centroids + codebooks into packed code
    * rows (id, codes: array<int> ordered by sub-space, cell) — the
    * 8-bytes-per-vector artifact at the default 8 sub-spaces. Shared by
    * [[buildPq]] and [[foldPq]]: the encode is
    * [[Similarity.pqResidualSubRows]] + the same argmin as the one-shot
    * [[Similarity.ivfPqTopK]], so maintained codes can never diverge
    * from a one-shot encode under the same artifacts.
    */
  private def encodePacked(
      df: DataFrame, idCol: String, vecCol: String, cent: DataFrame,
      cb: DataFrame, numSub: Int, subDim: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cid", "m").orderBy(col("d2u"), col("cw"))
    Similarity
      .pqResidualSubRows(df, idCol, vecCol, cent, 1, numSub, subDim, "cid")
      .join(broadcast(cb), "m")
      .withColumn("d2u", Similarity.pqD2u)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .groupBy(col("cid"), col("cell"))
      .agg(expr("transform(sort_array(collect_list(struct(m, cw))), " +
        "t -> t.cw)").as("codes"))
      .select(col("cid").as(idCol), col("codes"), col("cell"))
  }

  /** Sub-space count and sub-vector width, derived from the persisted
    * codebooks artifact (two scalar aggregates over a
    * numSub×codebookSize-row table — metadata, not data).
    */
  private def codebookShape(cb: DataFrame): (Int, Int) = {
    val row = cb.agg(max("m"), max(size(col("cvec")))).head()
    (row.getInt(0) + 1, row.getInt(1))
  }

  /** Train + write an IVF-PQ version: the plain-IVF artifacts (frozen
    * Lloyd quantizer + cell-partitioned float postings, so [[topK]]'s
    * exact re-rank works unchanged) PLUS residual PQ codebooks (frozen
    * between retrains, trained with the one-shot's md5 seed + one
    * fixed-point k-means step) and packed code postings. [[topKPq]]
    * ADC-scans the codes — at 100 TB the codes table is what fits in
    * memory (8 bytes/vector at the defaults) while the float postings
    * ride on disk for the candidates-sized exact re-rank.
    */
  def buildPq(
      spark: SparkSession, corpus: DataFrame, dir: String, name: String,
      idCol: String, vecCol: String, numCentroids: Int = 16,
      dim: Int = 64, numSub: Int = 8, codebookSize: Int = 16,
      retainVersions: Int = 2): Unit = {
    val ix = index(spark, dir, name)
    val v = ix.current.getOrElse(0) + 1
    ix.publish(v, retainVersions) {
      buildPqAt(ix, corpus, idCol, vecCol, numCentroids, dim, numSub,
        codebookSize, v)
    }
  }

  /** Writes (unpublished) PQ version `version`: IVF artifacts via
    * [[writeVersion]], then the frozen-seed codebooks and the packed code
    * postings.
    */
  private def buildPqAt(
      ix: graft.io.VersionedIndex, corpus: DataFrame, idCol: String,
      vecCol: String, numCentroids: Int, dim: Int, numSub: Int,
      codebookSize: Int, version: Int): Unit = {
    require(dim % numSub == 0,
      s"buildPq: dim $dim not divisible by numSub $numSub")
    val subDim = dim / numSub
    writeVersion(ix, corpus, idCol, vecCol, numCentroids, dim, version)
    val cent = ix.artifact(version, "centroids")
    val cSub = Similarity.pqResidualSubRows(
      corpus, idCol, vecCol, cent, 1, numSub, subDim, "cid")
    val seed = {
      import ix.spark.implicits._
      Similarity.pqCodebook(numSub, codebookSize, subDim, tag = "ivfpq")
        .toDF("m", "cw", "cvec")
    }
    Similarity.pqTrainCore(cSub.select("cid", "m", "sub"), seed, subDim)
      .coalesce(1).write.mode("errorifexists")
      .parquet(ix.path(version, "codebooks"))
    val cb = ix.artifact(version, "codebooks")
    encodePacked(corpus, idCol, vecCol, cent, cb, numSub, subDim)
      .write.mode("errorifexists").partitionBy("cell")
      .parquet(ix.path(version, "codes"))
  }

  /** Fold new vectors into a PQ index: assign + encode against the
    * FROZEN centroids and codebooks (two tiny broadcasts — stored
    * postings and codes are never read), write the float delta AND the
    * code delta, then commit BOTH with the one marker PUT — a crash
    * leaves both invisible, never a codes/postings split-brain.
    */
  def foldPq(
      spark: SparkSession, fresh: DataFrame, dir: String, name: String,
      idCol: String, vecCol: String,
      generation: Option[Long] = None): Unit = {
    val ix = index(spark, dir, name)
    val v = ix.requireCurrent
    require(hasCodebooks(ix, v),
      s"ann index '$name' at $dir has no PQ codebooks — buildPq() it, " +
        "or use fold() for a plain IVF index")
    val cent = ix.artifact(v, "centroids")
    val cb = ix.artifact(v, "codebooks")
    val (numSub, subDim) = codebookShape(cb)
    ix.fold(v, generation) { g =>
      Similarity.assignCells(fresh, idCol, vecCol, cent, probes = 1)
        .select(col(idCol), col(vecCol), col("__cell").as("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(ix.delta(v, g))
      encodePacked(fresh, idCol, vecCol, cent, cb, numSub, subDim)
        .write.mode("overwrite").partitionBy("cell")
        .parquet(codesDelta(ix, v, g))
    }
  }

  /** Re-train quantizer AND codebooks over the accumulated corpus into
    * version N+1 (pointer promote, GC N) — also the compaction that
    * folds the delta dirs back into one base.
    */
  def retrainPq(
      spark: SparkSession, dir: String, name: String, idCol: String,
      vecCol: String, numCentroids: Int = 16, dim: Int = 64,
      numSub: Int = 8, codebookSize: Int = 16,
      retainVersions: Int = 2): Unit = {
    val ix = index(spark, dir, name)
    val v = ix.requireCurrent
    // materialize before the destination version is written: the plan
    // reads version v, which retainVersions = 1 GCs after the promote
    val staged = readPostings(ix, v)
      .select(col(idCol), col(vecCol))
      .localCheckpoint()
    try ix.publish(v + 1, retainVersions) {
      buildPqAt(ix, staged, idCol, vecCol, numCentroids, dim, numSub,
        codebookSize, v + 1)
    } finally graft.io.VersionedIndex.releaseCheckpoint(staged)
  }

  /** ADC top-k against the persisted PQ index: queries price per-probe
    * distance tables against the FROZEN codebooks (broadcast), the
    * packed code postings are scanned cell-pruned and summed to integer
    * ADC distances, the best `candidates` ids per query are re-ranked
    * exactly against the float postings. Same output contract as
    * [[Similarity.ivfPqTopK]]: (query_id, rank, neighbor_id, cos_sim) —
    * and bit-identical to it when the index holds the same corpus the
    * one-shot trained on (AnnIndexSpec pins this).
    */
  def topKPq(
      spark: SparkSession, queries: DataFrame, dir: String, name: String,
      idCol: String, vecCol: String, k: Int, numProbes: Int = 2,
      candidates: Int = 50, atVersion: Option[Int] = None): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    val ix = index(spark, dir, name)
    val v = ix.resolve(atVersion)
    require(hasCodebooks(ix, v),
      s"ann index '$name' at $dir has no PQ codebooks — buildPq() it, " +
        "or use topK() for a plain IVF index")
    val cent = ix.artifact(v, "centroids")
    val cb = ix.artifact(v, "codebooks")
    val (numSub, subDim) = codebookShape(cb)
    val qt = Similarity
      .pqResidualSubRows(queries, idCol, vecCol, cent, numProbes, numSub,
        subDim, "qid")
      .join(broadcast(cb), "m")
      .withColumn("qd2u", Similarity.pqD2u)
      .select(col("qid"), col("cell").as("qcell"), col("m").as("qm"),
        col("cw").as("qcw"), col("qd2u"))
    val wCand = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("ad2u"), col("cid"))
    val cand = readCodes(ix, v, idCol)
      .join(broadcast(qt),
        col("cell") === col("qcell") && col("m") === col("qm") &&
          col("cw") === col("qcw"))
      .filter(col("cid") =!= col("qid"))
      .groupBy("qid", "cid")
      .agg(sum("qd2u").as("ad2u"))
      .withColumn("crk", row_number().over(wCand))
      .filter(col("crk") <= candidates)
      .select(col("qid"), col("cid"))
    val c = readPostings(ix, v)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("v_c"),
        Similarity.selfNormFast(vecCol).as("n_c"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("v_q"), Similarity.selfNormFast(vecCol).as("n_q"))
    val scored = cand
      .join(c, col("cid") === col("neighbor_id"))
      .join(broadcast(q), col("qid") === col("query_id"))
      .withColumn("cosine",
        Similarity.dotFast("v_q", "v_c") / (col("n_q") * col("n_c")))
    Similarity.topK(scored, k)
  }

  /** Probe + exact re-rank against the persisted index: queries assign
    * to their `numProbes` nearest frozen centroids (broadcast), postings
    * join on the PARTITION column `cell` (only probed partitions' files
    * matter — the scan is cell-pruned), cosines re-rank exactly inside.
    * Same output contract as [[Similarity.ivfTopKLloyd]]:
    * (query_id, rank, neighbor_id, cos_sim).
    */
  def topK(
      spark: SparkSession, queries: DataFrame, dir: String, name: String,
      idCol: String, vecCol: String, k: Int,
      numProbes: Int = 2, atVersion: Option[Int] = None): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    val ix = index(spark, dir, name)
    val v = ix.resolve(atVersion)
    val cent = ix.artifact(v, "centroids")
    val q = Similarity.assignCells(queries, idCol, vecCol, cent, numProbes)
      .select(col(idCol).as("query_id"), col(vecCol).as("v_q"),
        Similarity.selfNormFast(vecCol).as("n_q"),
        col("__cell").as("cell"))
    val c = readPostings(ix, v)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("v_c"),
        Similarity.selfNormFast(vecCol).as("n_c"), col("cell"))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        Similarity.dotFast("v_q", "v_c") / (col("n_q") * col("n_c")))
    Similarity.topK(scored, k)
  }
}
