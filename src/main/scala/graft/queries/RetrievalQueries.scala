package graft.queries

import graft.ext.{Dedup, Retrieval}

import org.apache.spark.sql.functions._

/** Retrieval operators ([[graft.ext.Retrieval]]): BM25 lexical ranking and
  * lexical+semantic reciprocal-rank fusion — the query side of an LLM data
  * pipeline (dedup and ANN are the build side). Oracles replay the exact
  * arithmetic; every ranking key the gate hashes is a BIGINT.
  */
object RetrievalQueries {

  private val toksSql =
    "list_filter(string_split_regex(lower(trim(text)), '\\s+'), " +
      "x -> x <> '')"

  // BM25 constants. The derived literals (k1+1, 1-b) are interpolated into
  // the oracle SQL from the SAME Scala doubles the Spark side uses, so both
  // engines see bit-identical constants (a hand-written 2.2 could round
  // differently than Scala's 1.2 + 1).
  private val K1 = 1.2
  private val B = 0.75

  private val QueryTerms: Seq[(Int, String)] = Seq(
    1 -> "merge", 1 -> "sort", 1 -> "window",
    2 -> "spark", 2 -> "stream", 2 -> "join",
    3 -> "customer", 3 -> "data", 3 -> "filter")

  private def queryTermsSql: String =
    QueryTerms.map { case (q, t) => s"($q, '$t')" }
      .mkString("(VALUES ", ", ", ") AS t(query_id, term)")

  /** Okapi BM25 top-10 per query ([[graft.ext.Retrieval.bm25TopK]], Lucene
    * idf). Hash stability: each per-term contribution is floored to integer
    * micro-units and the per-doc score is an exact BIGINT sum — double
    * addition is not associative, integer addition is, so the score is
    * independent of Spark's partial-aggregation order (the q98 fixed-point
    * discipline). The idf `ln` is the only libm call; both engines compute
    * it over identical IEEE operands on ~9 distinct df values, and the
    * micro-unit floor absorbs any sub-micro representation noise. Scale:
    * postings prune against the broadcast query-term list before any
    * shuffle; tf and df are partial-agg shuffles of id-sized rows; the
    * corpus never moves.
    */
  val q198Bm25TopK: QuerySpec = QuerySpec.oracled(
    "q198_bm25_topk",
    s"""WITH tk AS (
       |  SELECT doc_id, $toksSql AS toks FROM documents),
       |dl AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tk
       |  WHERE len(toks) > 0),
       |st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(dl) AS BIGINT) AS total FROM dl),
       |qt AS (SELECT * FROM $queryTermsSql),
       |tc AS (SELECT doc_id, unnest(toks) AS term FROM tk),
       |tf AS (
       |  SELECT q.query_id, q.term, t.doc_id, CAST(count(*) AS BIGINT) AS c
       |  FROM tc t JOIN qt q ON t.term = q.term GROUP BY 1, 2, 3),
       |df AS (
       |  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tc
       |  WHERE term IN (SELECT term FROM qt) GROUP BY term),
       |sc AS (
       |  SELECT f.query_id, f.doc_id,
       |    CAST(floor(
       |      ln(1.0 + ((s.n - d.df) + 0.5) / (d.df + 0.5)) *
       |      ((f.c * ${K1 + 1}) / (f.c + $K1 * (${1 - B} +
       |        $B * (l.dl / (CAST(s.total AS DOUBLE) / s.n)))))
       |      * 1000000.0 + 0.5) AS BIGINT) AS cmicro
       |  FROM tf f JOIN df d ON f.term = d.term
       |  JOIN dl l ON f.doc_id = l.doc_id
       |  CROSS JOIN st s),
       |sm AS (
       |  SELECT query_id, doc_id, CAST(sum(cmicro) AS BIGINT) AS score_micro
       |  FROM sc GROUP BY 1, 2),
       |r AS (
       |  SELECT query_id, doc_id, score_micro,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY score_micro DESC, doc_id) AS rnk
       |  FROM sm)
       |SELECT query_id, CAST(rnk AS INTEGER) AS rank, doc_id, score_micro
       |FROM r WHERE rnk <= 10
       |ORDER BY query_id, rank""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Retrieval.bm25TopK(
      docs = spark.read.parquet(s"$dir/documents.parquet"),
      queryTerms = QueryTerms.toDF("query_id", "term"),
      idCol = "doc_id", textCol = "text", k = 10, k1 = K1, b = B)
      .orderBy("query_id", "rank")
  }

  /** Passage-level BM25 with MaxP document ranking
    * ([[graft.ext.Retrieval.maxPassageTopK]] — Dai & Callan 2019):
    * documents cut into 32-token windows, every chunk BM25-scored as
    * its own unit (chunk-level df/length statistics), each document
    * ranked by its BEST chunk — the passage-indexing recipe that keeps
    * one relevant paragraph from being diluted by document length. The
    * oracle replays chunking, chunk-level BM25 (exact micro-units),
    * max-pooling (ties to the earliest chunk), and the rank cut.
    */
  val q285MaxPassage: QuerySpec = QuerySpec.oracled(
    "q285_maxp_bm25",
    s"""WITH tk AS (
       |  SELECT doc_id, $toksSql AS toks FROM documents),
       |ck AS (
       |  SELECT doc_id, (s.st - 1) // 32 AS chunk_idx,
       |    doc_id::VARCHAR || '#' || ((s.st - 1) // 32)::VARCHAR AS ckey,
       |    list_slice(toks, s.st, least(s.st + 31, len(toks))) AS ctoks
       |  FROM tk, UNNEST(range(1, len(toks) + 1, 32)) AS s(st)
       |  WHERE len(toks) > 0),
       |dl AS (
       |  SELECT ckey, CAST(len(ctoks) AS BIGINT) AS dl FROM ck
       |  WHERE len(ctoks) > 0),
       |st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(dl) AS BIGINT) AS total FROM dl),
       |qt AS (SELECT * FROM $queryTermsSql),
       |tc AS (SELECT ckey, unnest(ctoks) AS term FROM ck),
       |tf AS (
       |  SELECT q.query_id, q.term, t.ckey, CAST(count(*) AS BIGINT) AS c
       |  FROM tc t JOIN qt q ON t.term = q.term GROUP BY 1, 2, 3),
       |df AS (
       |  SELECT term, CAST(count(DISTINCT ckey) AS BIGINT) AS df FROM tc
       |  WHERE term IN (SELECT term FROM qt) GROUP BY term),
       |sc AS (
       |  SELECT f.query_id, f.ckey,
       |    CAST(floor(
       |      ln(1.0 + ((s.n - d.df) + 0.5) / (d.df + 0.5)) *
       |      ((f.c * ${K1 + 1}) / (f.c + $K1 * (${1 - B} +
       |        $B * (l.dl / (CAST(s.total AS DOUBLE) / s.n)))))
       |      * 1000000.0 + 0.5) AS BIGINT) AS cmicro
       |  FROM tf f JOIN df d ON f.term = d.term
       |  JOIN dl l ON f.ckey = l.ckey
       |  CROSS JOIN st s),
       |sm AS (
       |  SELECT query_id, ckey, CAST(sum(cmicro) AS BIGINT) AS score_micro
       |  FROM sc GROUP BY 1, 2),
       |wn AS (
       |  SELECT sm.query_id, ck.doc_id, ck.chunk_idx, sm.score_micro,
       |    row_number() OVER (PARTITION BY sm.query_id, ck.doc_id
       |                       ORDER BY sm.score_micro DESC, ck.chunk_idx)
       |      AS wr
       |  FROM sm JOIN ck ON sm.ckey = ck.ckey),
       |bp AS (SELECT * FROM wn WHERE wr = 1),
       |r AS (
       |  SELECT query_id, doc_id, chunk_idx, score_micro,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY score_micro DESC, doc_id) AS rnk
       |  FROM bp)
       |SELECT query_id, CAST(rnk AS INTEGER) AS rank, doc_id,
       |  chunk_idx AS best_chunk_idx, score_micro
       |FROM r WHERE rnk <= 10
       |ORDER BY query_id, rank""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Retrieval.maxPassageTopK(
      docs = spark.read.parquet(s"$dir/documents.parquet"),
      queryTerms = QueryTerms.toDF("query_id", "term"),
      idCol = "doc_id", textCol = "text", k = 10,
      chunkSize = 32, stride = 32, k1 = K1, b = B)
      .orderBy("query_id", "rank")
  }

  /** Hybrid retrieval: reciprocal-rank fusion of a token-set-Jaccard
    * lexical ranking and an embedding-cosine semantic ranking over the
    * SAME candidate universe (ids present in BOTH `documents` and
    * `embeddings` — well-defined at every sf even where the tables have
    * different cardinalities). Fusion is float-free: each list contributes
    * `1000000 DIV (60 + rank)`, integers end-to-end
    * ([[graft.ext.Retrieval.rrfFuse]]). The cosine leg reuses the
    * q21-verified left-fold arithmetic; the Jaccard leg is integer
    * set-overlap with one final division. Scale: 5 broadcast queries ×
    * map-side corpus scan per leg, two bounded per-query rank windows.
    */
  val q199RrfFusion: QuerySpec = QuerySpec.oracled(
    "q199_rrf_fusion",
    s"""WITH dt AS (
       |  SELECT doc_id AS id, list_distinct($toksSql) AS tset
       |  FROM documents),
       |ev AS (SELECT vec_id AS id, embedding FROM embeddings),
       |cand AS (
       |  SELECT d.id, d.tset, e.embedding
       |  FROM dt d JOIN ev e USING (id)),
       |q AS (
       |  SELECT id AS query_id, tset AS q_tset, embedding AS q_v
       |  FROM cand WHERE id < 5),
       |sc AS (
       |  SELECT q.query_id, c.id,
       |    CAST(len(list_intersect(c.tset, q.q_tset)) AS DOUBLE) /
       |      (len(c.tset) + len(q.q_tset) -
       |       len(list_intersect(c.tset, q.q_tset))) AS jac,
       |    ${SimilarityQueries.dotSql("c.embedding", "q.q_v")} /
       |      (sqrt(${SimilarityQueries.dotSql("c.embedding", "c.embedding")})
       |       * sqrt(${SimilarityQueries.dotSql("q.q_v", "q.q_v")}))
       |      AS cosine
       |  FROM cand c JOIN q ON c.id <> q.query_id),
       |rk AS (
       |  SELECT query_id, id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY jac DESC, id) AS r_lex,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cosine DESC, id) AS r_sem
       |  FROM sc),
       |f AS (
       |  SELECT query_id, id, r_lex, r_sem,
       |    CAST(1000000 // (60 + r_lex) + 1000000 // (60 + r_sem)
       |      AS BIGINT) AS rrf_micro
       |  FROM rk),
       |r AS (
       |  SELECT query_id, id, r_lex, r_sem, rrf_micro,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY rrf_micro DESC, id) AS rnk
       |  FROM f)
       |SELECT query_id, CAST(rnk AS INTEGER) AS rank, id,
       |  CAST(r_lex AS INTEGER) AS r_lex, CAST(r_sem AS INTEGER) AS r_sem,
       |  rrf_micro
       |FROM r WHERE rnk <= 10
       |ORDER BY query_id, rank""".stripMargin) { (spark, dir) =>
    val dt = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").as("id"),
        array_distinct(Dedup.tokens(col("text"))).as("tset"))
    val ev = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val cand = dt.join(ev, "id")
    val qs = cand.filter(col("id") < 5)
    val lex = Retrieval.jaccardRanks(
      cand.select("id", "tset"),
      qs.select(col("id").as("query_id"), col("tset").as("q_tset")))
    val sem = Retrieval.cosineRanks(
      cand.select("id", "v"),
      qs.select(col("id").as("query_id"), col("v").as("q_v")), spark)
    Retrieval.rrfFuse(lex, sem, k = 10).orderBy("query_id", "rank")
  }

  /** Rank-biased overlap (RBO, truncated at depth 10) between the lexical
    * and semantic rankings q199 fuses — the retrieval diagnostic that says
    * HOW MUCH the two legs agree (fusion helps most when they don't).
    * Persistence p = 1/2 makes every weight a power of two, so RBO becomes
    * EXACT integer arithmetic: the depth-d term is
    * `(1000000 · |topd(L) ∩ topd(S)|) DIV (2^d · d)` and the sum is BIGINT
    * — no float ever enters (the one RBO formulation an exact-hash gate
    * can adjudicate; truncated RBO@10 max = 999022 ppm — per-term floors
    * shave 1.4 ppm off the exact 1e6·(1 − 2⁻¹⁰)).
    * Scale: the rank legs are q199's broadcast scans; the depth loop runs
    * on |queries| × 10 rows.
    */
  val q203RankAgreement: QuerySpec = QuerySpec.oracled(
    "q203_rank_agreement",
    s"""WITH dt AS (
       |  SELECT doc_id AS id, list_distinct($toksSql) AS tset
       |  FROM documents),
       |ev AS (SELECT vec_id AS id, embedding FROM embeddings),
       |cand AS (
       |  SELECT d.id, d.tset, e.embedding
       |  FROM dt d JOIN ev e USING (id)),
       |q AS (
       |  SELECT id AS query_id, tset AS q_tset, embedding AS q_v
       |  FROM cand WHERE id < 5),
       |sc AS (
       |  SELECT q.query_id, c.id,
       |    CAST(len(list_intersect(c.tset, q.q_tset)) AS DOUBLE) /
       |      (len(c.tset) + len(q.q_tset) -
       |       len(list_intersect(c.tset, q.q_tset))) AS jac,
       |    ${SimilarityQueries.dotSql("c.embedding", "q.q_v")} /
       |      (sqrt(${SimilarityQueries.dotSql("c.embedding", "c.embedding")})
       |       * sqrt(${SimilarityQueries.dotSql("q.q_v", "q.q_v")}))
       |      AS cosine
       |  FROM cand c JOIN q ON c.id <> q.query_id),
       |rk AS (
       |  SELECT query_id, id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY jac DESC, id) AS r_lex,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cosine DESC, id) AS r_sem
       |  FROM sc),
       |ov AS (
       |  SELECT rk.query_id, d.d,
       |    CAST(count(*) FILTER (WHERE r_lex <= d.d AND r_sem <= d.d)
       |      AS BIGINT) AS ov
       |  FROM rk CROSS JOIN (SELECT unnest(range(1, 11)) AS d) d
       |  GROUP BY 1, 2)
       |SELECT query_id,
       |  CAST(sum((1000000 * ov) // ((1 << d) * d)) AS BIGINT) AS rbo_ppm
       |FROM ov GROUP BY query_id
       |ORDER BY query_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val dt = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").as("id"),
        array_distinct(Dedup.tokens(col("text"))).as("tset"))
    val ev = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val cand = dt.join(ev, "id")
    val qs = cand.filter(col("id") < 5)
    val lex = Retrieval.jaccardRanks(
      cand.select("id", "tset"),
      qs.select(col("id").as("query_id"), col("tset").as("q_tset")))
    val sem = Retrieval.cosineRanks(
      cand.select("id", "v"),
      qs.select(col("id").as("query_id"), col("v").as("q_v")), spark)
    val ranked = lex.join(sem, Seq("query_id", "id"))
    // (depth, 2^depth) precomputed — the SQL mirror's (1 << d)
    val depths = broadcast(
      (1 to 10).map(d => (d, 1L << d)).toDF("d", "w"))
    ranked.crossJoin(depths)
      .groupBy("query_id", "d", "w")
      .agg(count(when(col("r_lex") <= col("d") &&
        col("r_sem") <= col("d"), 1)).as("ov"))
      .groupBy("query_id")
      .agg(sum(expr("(1000000 * ov) DIV (w * d)")).as("rbo_ppm"))
      .orderBy("query_id")
  }

  /** MRR + precision@10 evaluation of the q198 BM25 ranking against a
    * DETERMINISTIC relevance oracle — relevant(q, d) ⟺ d contains EVERY
    * term of q (AND-containment, replayable in SQL, no human labels).
    * Completes the eval-metric family (recall@k q220, pass@k q211, RBO
    * q203) for the lexical leg: `mrr_ppm = 1e6 div first_rank` and
    * `prec10_ppm = hits·1e5` are exact integers, and queries with no
    * relevant doc in the top-10 report 0, not an absent row. Scale: the
    * relevance join prunes against the broadcast term list exactly like
    * the ranking it audits.
    */
  /** The shared oracle prefix of q243/q310: tokenization, query terms,
    * graded term-match counts (`relc.m` — q243 binarizes at full-AND,
    * q310 uses it as the nDCG grade), and the exact-integer BM25 top
    * ranking `r` the two metrics both audit.
    */
  private val bm25RankCtes =
    s"""WITH tk AS (
       |  SELECT doc_id, $toksSql AS toks FROM documents),
       |qt AS (SELECT * FROM $queryTermsSql),
       |tc AS (SELECT doc_id, unnest(toks) AS term FROM tk),
       |nq AS (
       |  SELECT query_id, CAST(count(*) AS BIGINT) AS nt FROM qt
       |  GROUP BY 1),
       |relc AS (
       |  SELECT q.query_id, t.doc_id,
       |    CAST(count(DISTINCT t.term) AS BIGINT) AS m
       |  FROM tc t JOIN qt q ON t.term = q.term GROUP BY 1, 2),
       |dl AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tk
       |  WHERE len(toks) > 0),
       |st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(dl) AS BIGINT) AS total FROM dl),
       |tf AS (
       |  SELECT q.query_id, q.term, t.doc_id, CAST(count(*) AS BIGINT) AS c
       |  FROM tc t JOIN qt q ON t.term = q.term GROUP BY 1, 2, 3),
       |df AS (
       |  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tc
       |  WHERE term IN (SELECT term FROM qt) GROUP BY term),
       |sc AS (
       |  SELECT f.query_id, f.doc_id,
       |    CAST(floor(
       |      ln(1.0 + ((s.n - d.df) + 0.5) / (d.df + 0.5)) *
       |      ((f.c * ${K1 + 1}) / (f.c + $K1 * (${1 - B} +
       |        $B * (l.dl / (CAST(s.total AS DOUBLE) / s.n)))))
       |      * 1000000.0 + 0.5) AS BIGINT) AS cmicro
       |  FROM tf f JOIN df d ON f.term = d.term
       |  JOIN dl l ON f.doc_id = l.doc_id
       |  CROSS JOIN st s),
       |sm AS (
       |  SELECT query_id, doc_id, CAST(sum(cmicro) AS BIGINT) AS score_micro
       |  FROM sc GROUP BY 1, 2),
       |r AS (
       |  SELECT query_id, doc_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY score_micro DESC, doc_id) AS rnk
       |  FROM sm)""".stripMargin

  val q243MrrEval: QuerySpec = QuerySpec.oracled(
    "q243_mrr_eval",
    s"""$bm25RankCtes,
       |rel AS (
       |  SELECT relc.query_id, relc.doc_id
       |  FROM relc JOIN nq USING (query_id) WHERE relc.m = nq.nt),
       |hit AS (
       |  SELECT r.query_id, r.rnk FROM r
       |  JOIN rel ON r.query_id = rel.query_id AND r.doc_id = rel.doc_id
       |  WHERE r.rnk <= 10),
       |agg AS (
       |  SELECT query_id, min(rnk) AS first_rank,
       |    CAST(count(*) AS BIGINT) AS n_top
       |  FROM hit GROUP BY 1),
       |tot AS (
       |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel_total
       |  FROM rel GROUP BY 1)
       |SELECT q.query_id,
       |  CAST(coalesce(tot.n_rel_total, 0) AS BIGINT) AS n_rel_total,
       |  CAST(coalesce(agg.n_top, 0) AS BIGINT) AS n_rel_top10,
       |  CAST(coalesce(1000000 // agg.first_rank, 0) AS BIGINT) AS mrr_ppm,
       |  CAST(coalesce(agg.n_top, 0) * 100000 AS BIGINT) AS prec10_ppm
       |FROM (SELECT DISTINCT query_id FROM qt) q
       |LEFT JOIN agg USING (query_id)
       |LEFT JOIN tot USING (query_id)
       |ORDER BY q.query_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val qt = QueryTerms.toDF("query_id", "term")
    val topk = Retrieval.bm25TopK(
      docs = docs, queryTerms = qt,
      idCol = "doc_id", textCol = "text", k = 10, k1 = K1, b = B)
    // same tokenizer as the ranking it audits (and q199/q203)
    val tc2 = docs.select(col("doc_id"),
      explode(Dedup.tokens(col("text"))).as("term"))
    val nq = qt.groupBy("query_id").agg(count(lit(1)).as("nt"))
    val rel = tc2.join(broadcast(qt), "term")
      .groupBy("query_id", "doc_id")
      .agg(countDistinct("term").as("m"))
      .join(broadcast(nq), "query_id")
      .filter(col("m") === col("nt"))
      .select("query_id", "doc_id")
    val hit = topk.join(rel, Seq("query_id", "doc_id"))
      .filter(col("rank") <= 10)
      .select("query_id", "rank")
    val agg0 = hit.groupBy("query_id")
      .agg(min("rank").as("first_rank"), count(lit(1)).as("n_top"))
    val tot = rel.groupBy("query_id")
      .agg(count(lit(1)).as("n_rel_total"))
    qt.select("query_id").distinct()
      .join(agg0, Seq("query_id"), "left")
      .join(tot, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_rel_total"), lit(0L)).as("n_rel_total"),
        coalesce(col("n_top"), lit(0L)).as("n_rel_top10"),
        coalesce(expr("1000000 div first_rank"), lit(0L)).as("mrr_ppm"),
        (coalesce(col("n_top"), lit(0L)) * 100000).as("prec10_ppm"))
      .orderBy("query_id")
  }

  /** nDCG@10 ([[graft.ext.Retrieval.ndcgAtK]] — Järvelin & Kekäläinen
    * 2002) of the q198 BM25 ranking against GRADED relevance: the grade
    * of (query, doc) is how many distinct query terms the doc contains
    * (q243's `relc.m`, used as the 0..3 grade instead of binarized).
    * Gains are `2^grade − 1`; the `1/log2(rank+1)` discounts enter as
    * integer micro-weights computed once in Scala and interpolated
    * literally into this SQL, so DCG/IDCG are exact integer sums and
    * `ndcg_ppm` one exact division — no libm log in either engine.
    */
  val q310NdcgEval: QuerySpec = QuerySpec.oracled(
    "q310_ndcg_eval",
    s"""$bm25RankCtes,
       |wts AS (SELECT * FROM (VALUES ${(1 to 10).map(r =>
              s"($r, ${Retrieval.ndcgWeightMicro(r)})").mkString(", ")})
       |  AS t(rnk, w)),
       |dcg AS (
       |  SELECT r.query_id,
       |    CAST(sum(((1 << coalesce(relc.m, 0)) - 1) * wts.w) AS BIGINT)
       |      AS dcg_micro
       |  FROM r JOIN wts ON r.rnk = wts.rnk
       |  LEFT JOIN relc
       |    ON r.query_id = relc.query_id AND r.doc_id = relc.doc_id
       |  WHERE r.rnk <= 10 GROUP BY 1),
       |ideal AS (
       |  SELECT query_id, m,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY m DESC, doc_id) AS irank
       |  FROM relc WHERE m >= 1),
       |idcg AS (
       |  SELECT query_id,
       |    CAST(sum(((1 << m) - 1) * wts.w) AS BIGINT) AS idcg_micro
       |  FROM ideal JOIN wts ON ideal.irank = wts.rnk
       |  WHERE irank <= 10 GROUP BY 1)
       |SELECT q.query_id,
       |  CAST(coalesce(dcg.dcg_micro, 0) AS BIGINT) AS dcg_micro,
       |  CAST(coalesce(idcg.idcg_micro, 0) AS BIGINT) AS idcg_micro,
       |  CAST(coalesce(dcg.dcg_micro * 1000000 // idcg.idcg_micro, 0)
       |    AS BIGINT) AS ndcg_ppm
       |FROM (SELECT DISTINCT query_id FROM qt) q
       |LEFT JOIN dcg USING (query_id)
       |LEFT JOIN idcg USING (query_id)
       |ORDER BY q.query_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val qt = QueryTerms.toDF("query_id", "term")
    val topk = Retrieval.bm25TopK(
      docs = docs, queryTerms = qt,
      idCol = "doc_id", textCol = "text", k = 10, k1 = K1, b = B)
    // graded relevance: distinct query terms contained (q243's relc.m)
    val grades = docs
      .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("term"))
      .join(broadcast(qt), "term")
      .groupBy("query_id", "doc_id")
      .agg(countDistinct("term").as("grade"))
    Retrieval.ndcgAtK(
        ranking = topk, grades = grades,
        queries = qt.select("query_id"), idCol = "doc_id", k = 10)
      .orderBy("query_id")
  }

  private val q331Staging = new QuerySpec.StagingCache[String]

  /** Stage the q331 search index once per (JVM, sf dir): build on the
    * doc_id % 2 == 0 slice, fold the odd slice as committed delta g1.
    */
  private def stageQ331(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    q331Staging.getOrStage(dir) {
      import graft.ext.SearchIndex
      val idxDir = QuerySpec.stagedPath("q331_search", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxDir))
      new java.io.File(idxDir).mkdirs()
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      SearchIndex.build(spark, docs.filter(col("doc_id") % 2 === 0),
        idxDir, "docs", "doc_id", "text")
      SearchIndex.fold(spark, docs.filter(col("doc_id") % 2 === 1),
        idxDir, "docs", "doc_id", "text")
      idxDir
    }

  /** Persisted BM25 search index ([[graft.ext.SearchIndex]] — postings +
    * per-batch ADDITIVE collection statistics under the version-pointer
    * discipline): built on the even slice, the odd slice folded in as a
    * marker-gated delta (sign-only — nothing stored is read or
    * rewritten), then queried. Every BM25 statistic sums exactly over
    * disjoint batches and the scoring runs through the same expression
    * core as the one-shot operator, so the maintained index must answer
    * q198's from-scratch definition BIT-FOR-BIT — the oracle is q198's
    * SQL verbatim, blind to the index machinery.
    */
  val q331SearchIndex: QuerySpec = QuerySpec.oracled(
    "q331_search_index",
    s"""WITH tk AS (
       |  SELECT doc_id, $toksSql AS toks FROM documents),
       |dl AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tk
       |  WHERE len(toks) > 0),
       |st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(dl) AS BIGINT) AS total FROM dl),
       |qt AS (SELECT * FROM $queryTermsSql),
       |tc AS (SELECT doc_id, unnest(toks) AS term FROM tk),
       |tf AS (
       |  SELECT q.query_id, q.term, t.doc_id, CAST(count(*) AS BIGINT) AS c
       |  FROM tc t JOIN qt q ON t.term = q.term GROUP BY 1, 2, 3),
       |df AS (
       |  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tc
       |  WHERE term IN (SELECT term FROM qt) GROUP BY term),
       |sc AS (
       |  SELECT f.query_id, f.doc_id,
       |    CAST(floor(
       |      ln(1.0 + ((s.n - d.df) + 0.5) / (d.df + 0.5)) *
       |      ((f.c * ${K1 + 1}) / (f.c + $K1 * (${1 - B} +
       |        $B * (l.dl / (CAST(s.total AS DOUBLE) / s.n)))))
       |      * 1000000.0 + 0.5) AS BIGINT) AS cmicro
       |  FROM tf f JOIN df d ON f.term = d.term
       |  JOIN dl l ON f.doc_id = l.doc_id
       |  CROSS JOIN st s),
       |sm AS (
       |  SELECT query_id, doc_id, CAST(sum(cmicro) AS BIGINT) AS score_micro
       |  FROM sc GROUP BY 1, 2),
       |r AS (
       |  SELECT query_id, doc_id, score_micro,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY score_micro DESC, doc_id) AS rnk
       |  FROM sm)
       |SELECT query_id, CAST(rnk AS INTEGER) AS rank, doc_id, score_micro
       |FROM r WHERE rnk <= 10
       |ORDER BY query_id, rank""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val idxDir = stageQ331(spark, dir)
    graft.ext.SearchIndex.topK(spark,
      QueryTerms.toDF("query_id", "term"),
      idxDir, "docs", "doc_id", k = 10, k1 = K1, b = B)
      .orderBy("query_id", "rank")
  }.withSetup((s, d) => { stageQ331(s, d); () })

  private val q339Staging = new QuerySpec.StagingCache[String]

  /** Stage the q339 stream feed: the odd slice as two flat parquet
    * files (one micro-batch each, parity-split by % 4).
    */
  private def stageQ339(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    q339Staging.getOrStage(dir) {
      val staged = new java.io.File(QuerySpec.stagedPath("q339_docs", dir))
      org.apache.commons.io.FileUtils.deleteQuietly(staged)
      staged.mkdirs()
      val d1 = spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 2 === 1)
      d1.filter(col("doc_id") % 4 === 1).coalesce(1)
        .write.parquet(s"$staged/00")
      QuerySpec.flattenPart(spark, staged.toString, "00", "a.parquet")
      d1.filter(col("doc_id") % 4 === 3).coalesce(1)
        .write.parquet(s"$staged/01")
      QuerySpec.flattenPart(spark, staged.toString, "01", "b.parquet")
      staged.toString
    }

  /** q331's persisted BM25 index MAINTAINED over a real micro-batch
    * stream: build on the even slice, each streamed micro-batch of new
    * docs FOLDS via `foreachBatch` with the batchId as its idempotent
    * generation (sign-only delta writes, marker-gated commits), query
    * after the drain. Per-batch statistics stay exactly additive under
    * any stream slicing, so the maintained index answers q198's
    * from-scratch definition bit-for-bit — same oracle SQL (the
    * stream ≡ batch discipline; the retrieval family's entry in the
    * q281/q314/q327/q330 set).
    */
  val q339SearchIndexStream: QuerySpec = QuerySpec.oracled(
    "q339_search_index_stream",
    s"""WITH tk AS (
       |  SELECT doc_id, $toksSql AS toks FROM documents),
       |dl AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tk
       |  WHERE len(toks) > 0),
       |st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(dl) AS BIGINT) AS total FROM dl),
       |qt AS (SELECT * FROM $queryTermsSql),
       |tc AS (SELECT doc_id, unnest(toks) AS term FROM tk),
       |tf AS (
       |  SELECT q.query_id, q.term, t.doc_id, CAST(count(*) AS BIGINT) AS c
       |  FROM tc t JOIN qt q ON t.term = q.term GROUP BY 1, 2, 3),
       |df AS (
       |  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tc
       |  WHERE term IN (SELECT term FROM qt) GROUP BY term),
       |sc AS (
       |  SELECT f.query_id, f.doc_id,
       |    CAST(floor(
       |      ln(1.0 + ((s.n - d.df) + 0.5) / (d.df + 0.5)) *
       |      ((f.c * ${K1 + 1}) / (f.c + $K1 * (${1 - B} +
       |        $B * (l.dl / (CAST(s.total AS DOUBLE) / s.n)))))
       |      * 1000000.0 + 0.5) AS BIGINT) AS cmicro
       |  FROM tf f JOIN df d ON f.term = d.term
       |  JOIN dl l ON f.doc_id = l.doc_id
       |  CROSS JOIN st s),
       |sm AS (
       |  SELECT query_id, doc_id, CAST(sum(cmicro) AS BIGINT) AS score_micro
       |  FROM sc GROUP BY 1, 2),
       |r AS (
       |  SELECT query_id, doc_id, score_micro,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY score_micro DESC, doc_id) AS rnk
       |  FROM sm)
       |SELECT query_id, CAST(rnk AS INTEGER) AS rank, doc_id, score_micro
       |FROM r WHERE rnk <= 10
       |ORDER BY query_id, rank""".stripMargin) { (spark, dir) =>
    import graft.ext.SearchIndex
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val staged = stageQ339(spark, dir)
    val idxDir = QuerySpec.stagedPath("q339_search", dir)
    val ckpt = QuerySpec.stagedPath("q339_ckpt", dir)
    Seq(idxDir, ckpt).foreach { d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
      new java.io.File(d).mkdirs()
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    SearchIndex.build(spark, docs.filter(col("doc_id") % 2 === 0),
      idxDir, "docs", "doc_id", "text")
    val schema = spark.read.parquet(s"$staged/a.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged)
    spark.streams.active.filter(_.name == "q339_fold").foreach(_.stop())
    val q = stream.writeStream
      .queryName("q339_fold")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        SearchIndex.fold(batch.sparkSession, batch, idxDir, "docs",
          "doc_id", "text", generation = Some(batchId + 1))
      }
      .start()
    q.awaitTermination()
    SearchIndex.topK(spark, QueryTerms.toDF("query_id", "term"),
      idxDir, "docs", "doc_id", k = 10, k1 = K1, b = B)
      .orderBy("query_id", "rank")
  }.withSetup((s, d) => { stageQ339(s, d); () })

  val all: Seq[QuerySpec] =
    Seq(q198Bm25TopK, q199RrfFusion, q203RankAgreement, q243MrrEval,
      q285MaxPassage, q310NdcgEval, q331SearchIndex,
      q339SearchIndexStream)
}
