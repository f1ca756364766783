package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical / hybrid retrieval over a document corpus — the query-side
  * counterpart of the dedup and ANN families: given a handful of queries,
  * rank a (100 TB) corpus without ever moving it.
  *
  * Scale shapes (all three operators):
  *  - the query set is tiny and BROADCAST — the corpus is scanned once
  *    map-side; no corpus shuffle ever happens for candidate generation.
  *  - [[bm25TopK]] prunes at the tokenizer: the exploded (term, doc)
  *    stream semi-joins the broadcast query-term list FIRST, so only
  *    postings of query terms survive into the two aggregations
  *    (postings per (term, doc); df per term). Both are partial-agg
  *    (map-side combine) shuffles of id-sized rows, and they form the
  *    same artifacts [[SearchIndex]] stores, scored by the same plan.
  *  - scoring is float-minimal: every per-term BM25 contribution is
  *    rounded to integer micro-units and summed as BIGINT, so the final
  *    score is order-independent (double addition is not associative;
  *    integer addition is — the q98/q107 fixed-point discipline applied
  *    to retrieval). The only libm call is the idf `ln`, computed on a
  *    handful of distinct (N, df) pairs.
  *
  * No counterpart exists in the reference (gluestick-ts delegates all
  * analytics to Polars and has no retrieval surface); this family is part
  * of the LLM-pipeline extension set alongside dedup and ANN.
  */
object Retrieval {

  /** Okapi BM25 (Lucene idf form: `ln(1 + (N - df + 0.5)/(df + 0.5))`,
    * always positive) top-`k` documents per query.
    *
    * @param docs   corpus with `idCol` and `textCol`
    * @param queryTerms (query_id, term) pairs — the broadcast side
    * @param k1 term-frequency saturation (default 1.2)
    * @param b  length normalization (default 0.75)
    *
    * Output: (query_id, rank, <idCol>, score_micro BIGINT) where
    * score_micro is the BM25 score in integer micro-units: each term
    * contribution is `floor(contrib * 1e6 + 0.5)` and the per-doc sum is
    * exact BIGINT — hash-stable across engines and partitionings. The
    * plan is [[SearchIndex]]'s over a one-batch index, so both answer
    * alike: a (query, term) row listed twice adds its contribution twice,
    * and docs with a null id rank as one null id.
    */
  def bm25TopK(
      docs: DataFrame,
      queryTerms: DataFrame, // (query_id, term)
      idCol: String,
      textCol: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    bm25RankCut(
      bm25ScoresMicro(docs, queryTerms, idCol, textCol, k1, b), idCol, k)
  }

  /** The BM25 scoring stage without the rank cut: exact integer
    * micro-unit scores per (query, unit) off [[bm25Artifacts]] of the
    * query terms, scored as [[SearchIndex.topK]] scores its stored ones —
    * [[bm25TopK]] ranks whole documents off it; [[maxPassageTopK]] scores
    * CHUNKS off it and max-pools per document.
    */
  private def bm25ScoresMicro(
      docs: DataFrame,
      queryTerms: DataFrame,
      idCol: String,
      textCol: String,
      k1: Double,
      b: Double): DataFrame = {
    val qt = queryTerms.select(col("query_id"), col("term"))
    val Seq(postings, termdf, totals) =
      bm25Artifacts(bm25Tokens(docs, idCol, textCol), Some(qt))
    bm25Scores(qt, postings, termdf, totals, idCol, k1, b)
  }

  /** (doc_id, toks, dl) of `docs`: the [[Dedup.tokens]] of `textCol`,
    * empty-token docs excluded.
    */
  private[ext] def bm25Tokens(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), Dedup.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)
      .withColumn("dl", size(col("toks")).cast("long"))

  /** The three BM25 artifacts of [[bm25Tokens]] rows — the one plan
    * that forms them, for the one-shot and for [[SearchIndex]]'s sign:
    *  - postings (term, doc_id, c, dl): per-doc term frequencies with the
    *    document length denormalized onto every posting, so scoring never
    *    joins a corpus-sized lengths table;
    *  - termdf (term, df): distinct non-null doc ids per term;
    *  - totals, one row (n_docs, total_len).
    * With `terms` (a `term` column), only their postings and dfs are
    * formed: a `left_semi` join against the broadcast terms prunes the
    * exploded stream before any shuffle.
    */
  private[ext] def bm25Artifacts(
      tk: DataFrame, terms: Option[DataFrame] = None): Seq[DataFrame] = {
    val all = tk.select(col("doc_id"), col("dl"),
      explode(col("toks")).as("term"))
    val tc = terms.fold(all)(t =>
      all.join(broadcast(t.select("term")), Seq("term"), "left_semi"))
    val postings = tc.groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).as("c"))
      .select("term", "doc_id", "c", "dl")
    val termdf = tc.groupBy("term").agg(countDistinct("doc_id").as("df"))
    val totals = tk.agg(count(lit(1)).as("n_docs"),
      coalesce(sum("dl"), lit(0L)).as("total_len"))
    Seq(postings, termdf, totals)
  }

  /** BM25 micro-unit scores per (query_id, <idCol>) off [[bm25Artifacts]]
    * — one batch's, or the per-batch artifacts of an index, since every
    * statistic is additive over disjoint batches: dfs are summed per
    * query term, totals summed. Query terms are broadcast against the
    * postings; a duplicated (query, term) row counts its contribution
    * once per row. Null doc ids group as one id.
    */
  private[ext] def bm25Scores(
      queryTerms: DataFrame, // (query_id, term)
      postings: DataFrame,
      termdf: DataFrame,
      totals: DataFrame,
      idCol: String,
      k1: Double,
      b: Double): DataFrame = {
    val qt = broadcast(queryTerms.select(col("query_id"), col("term")))
    // restrict to query terms before the aggregate
    val df = termdf.join(qt, Seq("term"), "left_semi")
      .groupBy("term").agg(sum("df").as("df"))
    val stats = totals
      .agg(sum("n_docs").as("n_docs"), sum("total_len").as("total"))
    postings.join(qt, "term")
      .join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .withColumn("cmicro", bm25ContribMicro(k1, b))
      .groupBy(col("query_id"), col("doc_id").as(idCol))
      .agg(sum("cmicro").as("score_micro"))
  }

  /** One posting's BM25 contribution in integer micro-units, over the
    * columns `c` (term frequency), `dl` (unit length), `df`, `n_docs`
    * and `total` — the one formula [[bm25Scores]] and
    * [[SearchIndex.topK]]'s driver path both evaluate.
    */
  private[ext] def bm25ContribMicro(k1: Double, b: Double): Column = {
    val avgdl = col("total").cast("double") / col("n_docs")
    val idf = log(lit(1.0) +
      ((col("n_docs") - col("df")) + lit(0.5)) / (col("df") + lit(0.5)))
    val contrib = idf * ((col("c") * lit(k1 + 1)) /
      (col("c") + lit(k1) * (lit(1 - b) +
        lit(b) * (col("dl").cast("double") / avgdl))))
    // integer micro-units: the per-doc SUM is exact and order-free
    floor(contrib * lit(1000000.0) + lit(0.5)).cast("long")
  }

  /** The rank cut shared by [[bm25TopK]] and [[SearchIndex.topK]]. */
  private[ext] def bm25RankCut(
      sm: DataFrame, idCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_micro").desc, col(idCol))
    sm.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol), col("score_micro"))
  }

  /** Passage-level BM25 with MaxP document ranking (Dai & Callan 2019,
    * "Deeper Text Understanding for IR with Contextual Neural Language
    * Modeling" — the passage-scoring trick that transfers to lexical
    * ranking): documents are cut into fixed token windows, every CHUNK
    * is BM25-scored as its own unit (chunk-level lengths and statistics,
    * so a long document's one relevant passage is not diluted by its
    * length), and each document's score is its BEST chunk's score
    * (max-pooling; ties prefer the earliest chunk). Long-document
    * retrieval quality is the reason real pipelines index passages, not
    * documents.
    *
    * Deterministic end to end: chunking is an arithmetic slice; chunk
    * scores are the [[bm25TopK]] exact integer micro-units; max-pooling
    * and both rank cuts tie on (chunk index, doc id). 100 TB shape:
    * chunks explode once (narrow, ids-only after tokenization); scoring
    * inherits the postings-prune-before-shuffle BM25 plan with the
    * chunk key replacing the doc key; max-pool is one map-side-
    * combinable aggregate back to doc granularity.
    */
  def maxPassageTopK(
      docs: DataFrame,
      queryTerms: DataFrame, // (query_id, term)
      idCol: String,
      textCol: String,
      k: Int,
      chunkSize: Int = 32,
      stride: Int = 32,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(chunkSize > 0 && stride > 0,
      s"maxPassageTopK: chunkSize/stride must be > 0, got $chunkSize/$stride")
    val chunks = docs
      .select(col(idCol), Dedup.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .withColumn("__n", size(col("__toks")))
      .withColumn("__start", explode(expr(s"sequence(1, __n, $stride)")))
      .select(col(idCol),
        expr(s"CAST((__start - 1) div $stride AS BIGINT)").as("chunk_idx"),
        concat_ws(" ", expr(
          s"slice(__toks, __start, least($chunkSize, __n - __start + 1))"))
          .as("__ctext"))
      .withColumn("__ckey", concat(col(idCol).cast("string"), lit("#"),
        col("chunk_idx").cast("string")))
    val scores = bm25ScoresMicro(
      chunks.select(col("__ckey"), col("__ctext")),
      queryTerms, "__ckey", "__ctext", k1, b)
    val wBest = Window.partitionBy(col("query_id"), col(idCol))
      .orderBy(col("score_micro").desc, col("chunk_idx").asc)
    val best = scores
      .join(chunks.select(col("__ckey"), col(idCol), col("chunk_idx")),
        "__ckey")
      .withColumn("__wr", row_number().over(wBest))
      .filter(col("__wr") === 1)
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_micro").desc, col(idCol))
    best.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol),
        col("chunk_idx").as("best_chunk_idx"), col("score_micro"))
  }

  /** Reciprocal-rank fusion of a lexical and a semantic ranking — the
    * standard hybrid-retrieval combiner (`score = Σ 1/(rrfK + rank)`),
    * kept ENTIRELY in integer arithmetic: each list contributes
    * `1000000 DIV (rrfK + rank)`, so fusion has zero float operations and
    * is trivially hash-stable. Inputs are two (query_id, id, rank) frames
    * over the SAME candidate universe (inner-joined on (query_id, id)).
    */
  def rrfFuse(
      lex: DataFrame, // (query_id, id, r_lex)
      sem: DataFrame, // (query_id, id, r_sem)
      k: Int,
      rrfK: Int = 60): DataFrame = {
    val fused = lex.join(sem, Seq("query_id", "id"))
      .withColumn("rrf_micro",
        expr(s"CAST(1000000 DIV ($rrfK + r_lex) + " +
          s"1000000 DIV ($rrfK + r_sem) AS BIGINT)"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_micro").desc, col("id"))
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id"),
        col("r_lex"), col("r_sem"), col("rrf_micro"))
  }

  /** Exact full ranking (not top-k) of every corpus candidate per query by
    * token-set Jaccard against the query document — the lexical leg of
    * [[rrfFuse]]. Candidates arrive with a distinct-token-set column
    * (`tsetCol`); queries are broadcast. Ties rank by id.
    */
  def jaccardRanks(
      cand: DataFrame, // (id, tset)
      queries: DataFrame): DataFrame = { // (query_id, q_tset)
    val scored = cand.crossJoin(broadcast(queries))
      .filter(col("id") =!= col("query_id"))
      .withColumn("inter",
        size(array_intersect(col("tset"), col("q_tset"))))
      .withColumn("uni",
        size(col("tset")) + size(col("q_tset")) - col("inter"))
      .withColumn("jac", col("inter").cast("double") / col("uni"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("jac").desc, col("id"))
    scored.withColumn("r_lex", row_number().over(w))
      .select(col("query_id"), col("id"), col("r_lex"))
  }

  /** Exact full cosine ranking per query — the semantic leg of
    * [[rrfFuse]]; [[Similarity]]'s codegen'd fold arithmetic, queries
    * broadcast, corpus scanned in place.
    */
  def cosineRanks(
      cand: DataFrame, // (id, v)
      queries: DataFrame, // (query_id, q_v)
      spark: SparkSession): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    val c = cand.withColumn("nrm", sqrt(expr("graft_dot(v, v)")))
    val q = queries.withColumn("q_nrm", sqrt(expr("graft_dot(q_v, q_v)")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("id") =!= col("query_id"))
      .withColumn("cosine",
        expr("graft_dot(v, q_v)") / (col("nrm") * col("q_nrm")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("id"))
    scored.withColumn("r_sem", row_number().over(w))
      .select(col("query_id"), col("id"), col("r_sem"))
  }

  /** Int8 integer-dot-product ANN top-k: corpus and queries quantized with
    * [[Similarity.quantizeInt8]] (per-vector abs-max scale), candidates
    * scored by the EXACT integer dot of the code vectors and ranked by the
    * de-scaled approximate dot in integer micro-units. The integer dot is
    * the 100 TB payoff: 4× less memory traffic than float32 and the inner
    * loop is a pure int16-accumulate (SIMD-friendly); the only floats are
    * two per-vector scales multiplied once per pair — deterministic, and
    * the ranking key itself (`approx_dot_micro`) is BIGINT, so ordering is
    * engine- and partitioning-independent.
    */
  def int8TopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val qc = Similarity.quantizeInt8(corpus, idCol, vecCol)
      .select(col("vec_id").as("neighbor_id"), col("qvec").as("q_c"),
        col("scale").as("s_c"))
    val qq = Similarity.quantizeInt8(queries, idCol, vecCol)
      .select(col("vec_id").as("query_id"), col("qvec").as("q_q"),
        col("scale").as("s_q"))
    val scored = qc.crossJoin(broadcast(qq))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("idot",
        expr("aggregate(zip_with(q_q, q_c, (x, y) -> " +
          "CAST(x AS BIGINT) * y), 0L, (acc, v) -> acc + v)"))
      .withColumn("approx_dot_micro",
        floor((col("s_q") * col("s_c")) * col("idot") * lit(1000000.0) +
          lit(0.5)).cast("long"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("approx_dot_micro").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("idot"), col("approx_dot_micro"))
  }

  /** The nDCG discount `1/log2(rank+1)` in integer micro-units — computed
    * ONCE here in Scala and interpolated literally into the SQL oracle, so
    * both engines share bit-identical weights and no libm log runs inside
    * either engine's query.
    */
  def ndcgWeightMicro(rank: Int): Long =
    math.floor(1e6 / (math.log(rank + 1.0) / math.log(2.0)) + 0.5).toLong

  /** nDCG@k (Järvelin & Kekäläinen 2002) of a ranking against GRADED
    * relevance — the position-discounted eval metric beside the binary
    * family (MRR/prec@10 q243, recall@k q220, RBO q203).
    *
    *  - `ranking`: (query_id, rank, <idCol>) — e.g. [[bm25TopK]] output;
    *  - `grades`:  (query_id, <idCol>, grade INT ≥ 1) — graded relevance,
    *    absent pairs grade 0;
    *  - `queries`: (query_id) — the eval universe, so a query with no
    *    relevant document reports ndcg_ppm = 0, not an absent row.
    *
    * Gains are `2^grade − 1`; discounts enter as the precomputed integer
    * [[ndcgWeightMicro]] weights broadcast as a k-row table, so DCG and
    * ideal-DCG are EXACT integer sums (`Σ gain·w_micro`) and
    * `ndcg_ppm = dcg·10⁶ div idcg` is one exact integer division — the
    * whole metric replays bit-for-bit in SQL. The ideal ranking orders
    * grades desc with id tie-breaks. Scale shape: one bounded window per
    * side (top-k each), the grade join is rank-bounded, weights broadcast.
    *
    * `grades` is normalized to one row per (query_id, id) — max grade
    * wins — before either join: a duplicate grade row would otherwise
    * double-count its gain in DCG and enter the ideal ranking twice,
    * pushing ndcg_ppm past 1e6.
    */
  def ndcgAtK(
      ranking: DataFrame, // (query_id, rank, idCol)
      grades: DataFrame, // (query_id, idCol, grade)
      queries: DataFrame, // (query_id)
      idCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"ndcgAtK: k must be >= 1, got $k")
    val sess = ranking.sparkSession
    import sess.implicits._
    val w = broadcast(
      (1 to k).map(r => (r, ndcgWeightMicro(r))).toDF("rank", "w_micro"))
    // normalize to one grade row per (query, id): max wins
    val g1 = grades.groupBy(col("query_id"), col(idCol))
      .agg(max("grade").as("grade"))
    // gain 2^grade − 1 as an exact integer shift (grades are small ints)
    val gain =
      expr("shiftleft(1L, CAST(coalesce(grade, 0) AS INT)) - 1L")
    val dcg = ranking.filter(col("rank") <= k)
      .join(g1, Seq("query_id", idCol), "left")
      .join(w, "rank")
      .groupBy("query_id")
      .agg(sum(gain * col("w_micro")).as("dcg_micro"))
    val iw = Window.partitionBy("query_id")
      .orderBy(col("grade").desc, col(idCol))
    val idcg = g1.filter(col("grade") >= 1)
      .withColumn("irank", row_number().over(iw))
      .filter(col("irank") <= k)
      .join(w.withColumnRenamed("rank", "irank"), "irank")
      .groupBy("query_id")
      .agg(sum(gain * col("w_micro")).as("idcg_micro"))
    queries.select("query_id").distinct()
      .join(dcg, Seq("query_id"), "left")
      .join(idcg, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("dcg_micro"), lit(0L)).as("dcg_micro"),
        coalesce(col("idcg_micro"), lit(0L)).as("idcg_micro"),
        coalesce(expr("dcg_micro * 1000000 div idcg_micro"), lit(0L))
          .as("ndcg_ppm"))
  }
}
