package graft.ext

import graft.conf.Tuning

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted, incrementally-maintained BM25 search index — the artifact
  * form of [[Retrieval.bm25TopK]]: a query-time scorer should join
  * prepared postings, not re-tokenize 100 TB per query, and a daily
  * ingest should extend those postings delta-sized. Same commit
  * discipline as the sibling artifacts ([[graft.io.VersionPointer]]:
  * create-only manifest PUTs, marker-gated fold deltas, retention window
  * + time-travel, idempotent caller-supplied fold generations).
  *
  * EXACT maintenance — no frozen-statistics compromise: every BM25
  * collection statistic is ADDITIVE over disjoint document batches
  * (fold ids are new, the family contract), so per-batch partials sum to
  * the whole-corpus values bit-for-bit:
  *  - `v<N>/sign` — the three artifacts as one `__what`-partitioned
  *    table (r10: a batch commits in ONE write action; readers address
  *    the partition subdirs directly so each artifact scans only its
  *    own files):
  *    `__what=postings` (term, doc_id, c, dl): per-doc term frequencies
  *    with the document length DENORMALIZED onto every posting (the
  *    norms-in-postings layout real engines use) — scoring needs dl only
  *    for matched postings, so queries never touch a corpus-sized
  *    lengths table; `__what=termdf` (term, df): per-BATCH document
  *    frequencies — readers SUM them per term; `__what=totals` one row
  *    per batch (n_docs, total_len) — readers sum both.
  * [[topK]] therefore answers IDENTICALLY to a one-shot
  * [[Retrieval.bm25TopK]] over the accumulated corpus — not just
  * approximately: the scoring runs through the shared
  * [[Retrieval.bm25ScoreFromPostings]] core, so the double expression
  * sequence (idf, length normalization, micro-unit rounding) is the same
  * code (q331 adjudicates against the from-scratch SQL replay).
  *
  * Scale shape: a query joins its (few) terms against the postings —
  * per-term fanout is that term's df, the inverted-index property; df
  * summing is restricted to query terms before aggregation; totals are
  * one row per fold. Fold IO is delta-sized (sign only the fresh batch;
  * nothing stored is read or rewritten).
  */
object SearchIndex {

  private[graft] def index(spark: SparkSession, dir: String, name: String) =
    graft.io.VersionedIndex(spark, s"$dir/$name.searchindex",
      s"search index '$name' at $dir",
      Seq("postings" -> Seq("term", "doc_id", "c", "dl"),
        "termdf" -> Seq("term", "df"),
        "totals" -> Seq("n_docs", "total_len")))

  def currentVersion(
      spark: SparkSession, dir: String, name: String): Option[Int] =
    index(spark, dir, name).current

  /** Committed versions still inside the retention window. */
  def versions(
      spark: SparkSession, dir: String, name: String): Seq[Int] =
    index(spark, dir, name).versions

  /** One batch's three artifacts, normalized to internal column names —
    * the SAME tokenization as [[Retrieval.bm25TopK]] ([[Dedup.tokens]]),
    * empty-token docs excluded from every table (the in-memory path's
    * `size > 0` filter). The document length rides denormalized on every
    * posting row (a batch-sized one-time join at sign time buys a
    * lengths-table-free query plan forever).
    */
  private def sign(
      docs: DataFrame, idCol: String,
      textCol: String): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // persisted (r9): the tokenizer pass feeds the postings, termdf and
    // totals legs, which are materialized by SEPARATE write actions —
    // without the cache it re-tokenizes per write. The 4th element is
    // the cache handle: callers unpersist once their writes have run
    // (r10, advisor).
    val tk = docs
      .select(col(idCol).as("doc_id"), Dedup.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)
      .withColumn("dl", size(col("toks")).cast("long"))
      .persist()
    val tc = tk.select(col("doc_id"), col("dl"),
      explode(col("toks")).as("term"))
    val postings = tc.groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).as("c"))
      .select("term", "doc_id", "c", "dl")
    val termdf = tc.groupBy("term").agg(countDistinct("doc_id").as("df"))
    val totals = tk.agg(count(lit(1)).as("n_docs"),
      coalesce(sum("dl"), lit(0L)).as("total_len"))
    (postings, termdf, totals, tk)
  }

  /** Sign `docs` and write the batch to `root`, under the size gate
    * sized by `docs`' estimated bytes: below it the tokenizer cache and
    * the sign write run as one job (a frame without file statistics
    * stays ungated).
    */
  private def write(
      ix: graft.io.VersionedIndex, docs: DataFrame, idCol: String,
      textCol: String, root: String, mode: String): Unit =
    Tuning.withSmallInputScope(docs.sparkSession,
        Tuning.estimatedBytes(docs)) {
      val (p, t, s, tkCache) = sign(docs, idCol, textCol)
      try ix.writeSigned(root, mode, p, t, s)
      finally tkCache.unpersist()
    }

  /** Sign + index `corpus` as version 1 (or N+1 — a rebuild), then apply
    * the retention window.
    */
  def build(
      spark: SparkSession, corpus: DataFrame, dir: String, name: String,
      idCol: String, textCol: String, retainVersions: Int = 2): Unit = {
    val ix = index(spark, dir, name)
    val v = ix.current.getOrElse(0) + 1
    ix.publish(v, retainVersions)(write(ix, corpus, idCol, textCol,
      ix.dir(v), "errorifexists"))
  }

  /** Fold an ingest batch: sign ONLY `fresh` (ids must be new — the
    * append-only family contract that makes every statistic additive),
    * write its three delta tables, commit with one marker PUT.
    * `generation` is the caller's batch identity: a committed
    * generation is a pure no-op on retry.
    */
  def fold(
      spark: SparkSession, fresh: DataFrame, dir: String, name: String,
      idCol: String, textCol: String,
      generation: Option[Long] = None): Unit = {
    val ix = index(spark, dir, name)
    val v = ix.requireCurrent
    ix.fold(v, generation)(g =>
      write(ix, fresh, idCol, textCol, ix.delta(v, g), "overwrite"))
  }

  /** BM25 top-`k` per query against the maintained index — the
    * [[Retrieval.bm25TopK]] output contract
    * (query_id, rank, <idCol>, score_micro), computed from summed
    * per-batch statistics through the SHARED scoring core, so the answer
    * is bit-identical to the one-shot operator over the accumulated
    * corpus. `atVersion` time-travels to a retained historical version.
    *
    * The three artifacts come from one fold listing, so a fold that
    * commits meanwhile is invisible to all of them. The plan is made
    * under the size gate, sized by the committed bytes it reads: below
    * it an action on the returned frame runs AQE-free (about 5 jobs).
    * The gate holds when the returned frame is acted on directly; a
    * frame derived from it (`.orderBy`, a join) is planned by its own
    * action, with the session's settings.
    */
  def topK(
      spark: SparkSession, queryTerms: DataFrame, dir: String,
      name: String, idCol: String, k: Int, k1: Double = 1.2,
      b: Double = 0.75, atVersion: Option[Int] = None): DataFrame = {
    val ix = index(spark, dir, name)
    val v = ix.resolve(atVersion)
    val Seq(postings, termdf, totals) =
      ix.committedSigned(v, Seq("postings", "termdf", "totals"))
    Tuning.withSmallInputScope(spark,
        Tuning.estimatedBytes(postings, termdf, totals)) {
      val qt = broadcast(queryTerms.select(col("query_id"), col("term")))
      // postings carry dl: the shared core skips the lengths join
      val tf = postings.join(qt, "term")
        .select(col("query_id"), col("term"), col("doc_id").as(idCol),
          col("c"), col("dl"))
      // per-batch dfs SUM to collection dfs (disjoint doc sets); restrict
      // to query terms before the aggregate
      val dft = termdf.join(qt, Seq("term"), "left_semi")
        .groupBy("term").agg(sum("df").as("df"))
      val stats = totals
        .agg(sum("n_docs").as("n_docs"), sum("total_len").as("total"))
      val out = Retrieval.bm25RankCut(
        Retrieval.bm25ScoreFromPostings(tf, dft, tf, stats, idCol, k1, b),
        idCol, k)
      // AQE and shuffle partitions are read when the plan is made, not
      // when the frame is built: plan here, inside the gate
      out.queryExecution.executedPlan
      out
    }
  }

  /** Rewrite the accumulated artifacts into one base at version N+1
    * (postings row moves; termdf re-summed per term; totals re-summed
    * to one row), pointer promote, retention window.
    */
  def compact(
      spark: SparkSession, dir: String, name: String,
      retainVersions: Int = 2): Unit = {
    val ix = index(spark, dir, name)
    val v = ix.requireCurrent
    val Seq(postings, termdf, totals) =
      ix.committedSigned(v, Seq("postings", "termdf", "totals"))
    val p = postings.localCheckpoint()
    val t = termdf.groupBy("term").agg(sum("df").as("df")).localCheckpoint()
    val s = totals
      .agg(coalesce(sum("n_docs"), lit(0L)).as("n_docs"),
        coalesce(sum("total_len"), lit(0L)).as("total_len"))
      .localCheckpoint()
    // the write is the three checkpoints' only consumer
    try ix.publish(v + 1, retainVersions) {
      ix.writeSigned(ix.dir(v + 1), "errorifexists", p, t, s)
    } finally graft.io.VersionedIndex.releaseCheckpoint(p, t, s)
  }
}
