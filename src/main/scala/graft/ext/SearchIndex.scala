package graft.ext

import scala.jdk.CollectionConverters._

import graft.conf.Tuning

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
  * approximately: both score through the shared
  * [[Retrieval.bm25ContribMicro]] formula, so the double expression
  * sequence (idf, length normalization, micro-unit rounding) is the same
  * code (q331 adjudicates against the from-scratch SQL replay).
  *
  * Scale shape: a query keeps only its (few) terms' postings — per-term
  * fanout is that term's df, the inverted-index property; df summing is
  * restricted to query terms before aggregation; totals are one row per
  * fold. Below the size gate those rows are collected and ranked on the
  * driver in one job. Fold IO is delta-sized (sign only the fresh batch;
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

  /** The lazy BM25 top-`k` plan over the committed artifacts: query
    * terms broadcast against the postings, dfs summed per query term,
    * totals summed, scored by the shared core.
    */
  private def lazyTopK(
      qt: DataFrame, postings: DataFrame, termdf: DataFrame,
      totals: DataFrame, idCol: String, k: Int, k1: Double,
      b: Double): DataFrame = {
    val bqt = broadcast(qt)
    // postings carry dl: the shared core skips the lengths join
    val tf = postings.join(bqt, "term")
      .select(col("query_id"), col("term"), col("doc_id").as(idCol),
        col("c"), col("dl"))
    // per-batch dfs SUM to collection dfs (disjoint doc sets); restrict
    // to query terms before the aggregate
    val dft = termdf.join(bqt, Seq("term"), "left_semi")
      .groupBy("term").agg(sum("df").as("df"))
    val stats = totals
      .agg(sum("n_docs").as("n_docs"), sum("total_len").as("total"))
    Retrieval.bm25RankCut(
      Retrieval.bm25ScoreFromPostings(tf, dft, tf, stats, idCol, k1, b),
      idCol, k)
  }

  /** Bytes one collected artifact row is charged against the size gate:
    * a (term, doc_id, c, dl) posting with row overhead.
    */
  private val PostingBytes = 64L

  /** [[lazyTopK]]'s output schema per input schemas and id column, since
    * building the lazy plan to read it costs planning time per query.
    */
  private val topKSchemas = new java.util.concurrent.ConcurrentHashMap[
    (Seq[StructType], String), StructType]()

  /** BM25 top-`k` per query against the maintained index — the
    * [[Retrieval.bm25TopK]] output contract
    * (query_id, rank, <idCol>, score_micro), computed from summed
    * per-batch statistics through the SHARED contribution formula
    * ([[Retrieval.bm25ContribMicro]]), so the answer is bit-identical to
    * the one-shot operator over the accumulated corpus. `atVersion`
    * time-travels to a retained historical version. The three artifacts
    * come from one fold listing, so a fold that commits meanwhile is
    * invisible to all of them.
    *
    * Below the size gate (the committed reads and the query terms each
    * below it, ids that [[Clusters.driverSolvable]] accepts) the query
    * runs ONE job, described `graft:SearchIndex.topK <name> v<N>`: a
    * collect of the query terms' postings and termdf rows and the
    * totals, bounded at [[PostingBytes]] a row. The contributions are
    * the shared formula evaluated over the collected rows as a local
    * projection (no job); sums and the rank cut (score descending, then
    * id in Spark's ordering) run on the driver, and the result is a
    * `LocalRelation` with the lazy plan's schema, so a frame derived
    * from it reads local rows. When the rows pass the bound, or above
    * either gate, the lazy plan is returned, planned under the size
    * gate sized by the committed bytes (below it AQE-free). That gate
    * holds when the returned frame is acted on directly; a frame derived
    * from it (`.orderBy`, a join) is planned by its own action, with the
    * session's settings.
    */
  def topK(
      spark: SparkSession, queryTerms: DataFrame, dir: String,
      name: String, idCol: String, k: Int, k1: Double = 1.2,
      b: Double = 0.75, atVersion: Option[Int] = None): DataFrame = {
    val ix = index(spark, dir, name)
    val v = ix.resolve(atVersion)
    val Seq(postings, termdf, totals) =
      ix.committedSigned(v, Seq("postings", "termdf", "totals"))
    val qt = queryTerms.select(col("query_id"), col("term"))
    val readBytes = Tuning.estimatedBytes(postings, termdf, totals)
    def lazyOut = Tuning.withSmallInputScope(spark, readBytes) {
      val out = lazyTopK(qt, postings, termdf, totals, idCol, k, k1, b)
      // AQE and shuffle partitions are read when the plan is made, not
      // when the frame is built: plan here, inside the gate
      out.queryExecution.executedPlan
      out
    }
    val idType = postings.schema("doc_id").dataType
    if (!Tuning.isSmallInput(spark, readBytes) ||
        !Tuning.isSmallInput(spark, Tuning.estimatedBytes(qt)) ||
        !Clusters.driverSolvable(idType) ||
        !Clusters.driverSolvable(qt.schema("query_id").dataType) ||
        qt.schema("term").dataType != StringType) {
      return lazyOut
    }
    // a local frame collects with no job; null terms match nothing
    val qterms = qt.collect().toSeq.map(r => (r.get(0), r.getString(1)))
      .filter(_._2 != null)
    val maxRows = Tuning.smallInputRows(spark, PostingBytes)
    val rows = Tuning.withSmallInputScope(spark, readBytes) {
      val sc = spark.sparkContext
      val descKey = "spark.job.description"
      val prevDesc = sc.getLocalProperty(descKey)
      sc.setJobDescription(s"graft:SearchIndex.topK $name v$v")
      // one partition: the bounded collect is one job, not a take() loop
      try matchedRows(postings, termdf, totals, qterms.map(_._2).distinct)
        .coalesce(1).limit(math.min(maxRows, Int.MaxValue - 1L).toInt + 1)
        .collect()
      finally sc.setLocalProperty(descKey, prevDesc)
    }
    if (rows.length > maxRows) return lazyOut
    val schema = topKSchemas.computeIfAbsent(
      (Seq(qt, postings, termdf, totals).map(_.schema), idCol),
      _ => lazyTopK(qt, postings, termdf, totals, idCol, k, k1, b).schema)
    val top = rankOnDriver(spark, rows, qterms, idType, k, k1, b)
    spark.createDataFrame(top.asJava, schema)
  }

  /** The rows one query reads, as (what, term, doc_id, x, y) tagged by
    * artifact: 0 for the query terms' postings (x = c, y = dl), 1 for
    * their termdf rows (x = df) and 2 for the totals (x = n_docs,
    * y = total_len).
    */
  private def matchedRows(
      postings: DataFrame, termdf: DataFrame, totals: DataFrame,
      terms: Seq[String]): DataFrame = {
    val idType = postings.schema("doc_id").dataType
    val inTerms = col("term").isInCollection(terms)
    def tagged(df: DataFrame, what: Int, term: Column, id: Column,
        x: String, y: Column) =
      df.select(lit(what).as("what"), term.as("term"), id.as("doc_id"),
        col(x).cast("long").as("x"), y.cast("long").as("y"))
    tagged(postings.filter(inTerms), 0, col("term"), col("doc_id"), "c",
      col("dl"))
      .union(tagged(termdf.filter(inTerms), 1, col("term"),
        lit(null).cast(idType), "df", lit(null)))
      .union(tagged(totals, 2, lit(null).cast(StringType),
        lit(null).cast(idType), "n_docs", col("total_len")))
  }

  /** Score and rank [[matchedRows]] on the driver, as the lazy plan
    * does: the collection df of a term is the sum of its per-batch dfs,
    * a query term's duplicate rows each count (the join repeats them),
    * a term with no postings adds nothing, and each query keeps its `k`
    * best ids by score descending, then id ascending in Spark's ordering
    * for the id type (nulls first). Rows are (query_id, rank, id,
    * score_micro).
    */
  private def rankOnDriver(
      spark: SparkSession, rows: Array[Row], qterms: Seq[(Any, String)],
      idType: DataType, k: Int, k1: Double, b: Double): Seq[Row] = {
    val (postingRows, statRows) = rows.partition(_.getInt(0) == 0)
    val df = statRows.filter(_.getInt(0) == 1)
      .groupMapReduce(_.getString(1))(_.getLong(3))(_ + _)
    val totals = statRows.filter(_.getInt(0) == 2)
    val (nDocs, total) =
      (totals.map(_.getLong(3)).sum, totals.map(_.getLong(4)).sum)
    // a posting whose term has no df row is dropped, as the join drops it
    val hits = postingRows.filter(r => df.contains(r.getString(1)))
    def key(r: Row) = (r.getString(1), r.getLong(3), r.getLong(4))
    // the shared formula once per distinct (term, c, dl): a projection of
    // a LocalRelation, which Catalyst folds on the driver (no job)
    val inSchema = StructType(Seq("term" -> StringType, "c" -> LongType,
      "dl" -> LongType, "df" -> LongType, "n_docs" -> LongType,
      "total" -> LongType).map { case (n, t) => StructField(n, t) })
    val micro = spark.createDataFrame(hits.map(key).distinct.toSeq.map {
        case (t, c, dl) => Row(t, c, dl, df(t), nDocs, total)
      }.asJava, inSchema)
      .select(col("term"), col("c"), col("dl"),
        Retrieval.bm25ContribMicro(k1, b))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    val byTerm = hits.groupMap(_.getString(1))(r => (r.get(2), micro(key(r))))
    val scores = scala.collection.mutable.HashMap.empty[(Any, Any), Long]
    for ((q, t) <- qterms; (id, c) <- byTerm.getOrElse(t, Array.empty))
      scores((q, id)) = scores.getOrElse((q, id), 0L) + c
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(idType)
    val ord = PhysicalDataType.ordering(idType)
    val byScore = Ordering.fromLessThan[(Long, Any)] {
      case ((s1, i1), (s2, i2)) =>
        if (s1 != s2) s1 > s2
        else if (i1 == null || i2 == null) i1 == null && i2 != null
        else ord.lt(i1, i2)
    }
    scores.toSeq.groupBy(_._1._1).toSeq.flatMap { case (q, qs) =>
      qs.map { case ((_, id), s) => (s, toCatalyst(id), id) }
        .sortBy(h => (h._1, h._2))(byScore).take(math.max(k, 0))
        .zipWithIndex.map { case ((s, _, id), i) => Row(q, i + 1, id, s) }
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
