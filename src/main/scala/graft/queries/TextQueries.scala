package graft.queries

import graft.ext.TextStats

import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents`, each with a DuckDB oracle that
  * replays the identical integer/IEEE arithmetic.
  */
object TextQueries {

  private val toksSql = "string_split_regex(lower(trim(text)), '\\s+')"

  private def markersSql(markers: Seq[String]): String =
    markers.map(m => s"'$m'").mkString("[", ", ", "]")

  /** score_<lang> columns in SQL, kept in sync with
    * [[graft.ext.TextStats.LangMarkers]].
    */
  private val scoreSelects: String = TextStats.LangMarkers.map {
    case (lang, markers) =>
      s"len(list_distinct(list_intersect(toks, ${markersSql(markers)})))::BIGINT AS score_$lang"
  }.mkString(",\n    ")

  private val detectedCase: String = {
    val langs = TextStats.LangMarkers.map(_._1)
    val whens = langs.init.map { lang =>
      val conds = langs.filter(_ != lang)
        .map(o => s"score_$lang >= score_$o").mkString(" AND ")
      s"WHEN $conds THEN '$lang'"
    }
    s"CASE ${whens.mkString(" ")} ELSE '${langs.last}' END"
  }

  val q23LangId: QuerySpec = QuerySpec.oracled(
    "q23_lang_id",
    s"""WITH tk AS (
       |  SELECT doc_id, $toksSql AS toks FROM documents),
       |scored AS (
       |  SELECT doc_id,
       |    $scoreSelects
       |  FROM tk)
       |SELECT doc_id, score_en, score_es, score_de, score_fr, score_zh,
       |  $detectedCase AS detected
       |FROM scored
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    TextStats.langId(
      spark.read.parquet(s"$dir/documents.parquet"), "text")
      .select("doc_id", "score_en", "score_es", "score_de", "score_fr",
        "score_zh", "detected")
      .orderBy("doc_id")
  }

  val q24QualityScore: QuerySpec = QuerySpec.oracled(
    "q24_quality_score",
    s"""WITH f AS (
       |  SELECT doc_id,
       |    length(text)::BIGINT AS n_chars,
       |    len($toksSql)::BIGINT AS n_tokens,
       |    len(list_distinct($toksSql))::BIGINT AS n_uniq
       |  FROM documents)
       |SELECT doc_id, n_chars, n_tokens, n_uniq,
       |  round(n_uniq::DOUBLE / n_tokens, 4) AS uniq_ratio,
       |  round((n_chars - (n_tokens - 1))::DOUBLE / n_tokens, 4) AS mean_token_len,
       |  CASE WHEN n_tokens < 20 THEN 'too_short'
       |       WHEN round(n_uniq::DOUBLE / n_tokens, 4) < 0.3 THEN 'repetitive'
       |       ELSE 'ok' END AS quality
       |FROM f
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    TextStats.qualityFeatures(
      spark.read.parquet(s"$dir/documents.parquet"), "text")
      .select("doc_id", "n_chars", "n_tokens", "n_uniq", "uniq_ratio",
        "mean_token_len", "quality")
      .orderBy("doc_id")
  }

  val q25TokenStats: QuerySpec = QuerySpec.oracled(
    "q25_token_stats",
    s"""WITH t AS (
       |  SELECT lang, $toksSql AS toks,
       |    len(regexp_extract_all(lower(text),
       |      '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::BIGINT AS re_tokens
       |  FROM documents),
       |agg AS (
       |  SELECT lang, count(*) AS n_docs,
       |    CAST(sum(len(toks)) AS BIGINT) AS total_ws_tokens,
       |    CAST(sum(re_tokens) AS BIGINT) AS total_re_tokens
       |  FROM t GROUP BY lang),
       |vocab AS (
       |  SELECT lang, count(DISTINCT tok) AS vocab_size
       |  FROM (SELECT lang, unnest(toks) AS tok FROM t) GROUP BY lang)
       |SELECT a.lang, n_docs, total_ws_tokens, total_re_tokens, vocab_size
       |FROM agg a JOIN vocab v ON a.lang = v.lang
       |ORDER BY a.lang""".stripMargin) { (spark, dir) =>
    val docs = TextStats.tokenCounts(
      spark.read.parquet(s"$dir/documents.parquet"), "text")
    val agg = docs.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      sum("ws_tokens").as("total_ws_tokens"),
      sum("re_tokens").as("total_re_tokens"))
    val vocab = docs
      .select(col("lang"),
        explode(TextStats.tokensCol("text")).as("tok"))
      .groupBy("lang")
      .agg(countDistinct("tok").as("vocab_size"))
    agg.join(vocab, "lang").orderBy("lang")
  }

  /** Approximate (HLL++) per-language vocabulary — the form a user actually
    * runs at 100 TB, where q25's exact `count(DISTINCT tok)` would shuffle
    * every distinct token: `approx_count_distinct` is one pass, fixed-size
    * sketches, mergeable map-side. DuckDB's HLL is a different sketch, so
    * the oracle cannot replay the estimate itself; instead the query emits
    * the exact vocabulary plus a BOOLEAN claiming the estimate lands within
    * 5% of it, and the oracle recomputes the exact count and expects TRUE —
    * the error bound is adjudicated as a hard row, not a spec shrug. (HLL
    * is deterministic for fixed input, so this is stable, and the exact
    * column exists only to make the claim checkable — the production
    * operator is the sketch alone.) VocabApproxSpec asserts the measured
    * relative error per language at the gate sf.
    */
  val q56VocabApprox: QuerySpec = QuerySpec.oracled(
    "q56_vocab_approx",
    s"""WITH tok AS (
       |  SELECT lang, unnest($toksSql) AS tok FROM documents)
       |SELECT lang, count(DISTINCT tok) AS vocab_size,
       |  TRUE AS approx_within_5pct
       |FROM tok GROUP BY lang
       |ORDER BY lang""".stripMargin) { (spark, dir) =>
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("lang"), explode(TextStats.tokensCol("text")).as("tok"))
      .groupBy("lang")
      .agg(
        countDistinct("tok").as("vocab_size"),
        approx_count_distinct("tok", 0.02).as("__approx"))
      .select(col("lang"), col("vocab_size"),
        (abs(col("__approx") - col("vocab_size")) <=
          col("vocab_size") * 0.05).as("approx_within_5pct"))
      .orderBy("lang")
  }

  /** Punctuation + stopword ratios (the filtering signals a training-data
    * quality pass actually thresholds on). Kept as its own query so q24's
    * original oracle stays byte-stable.
    */
  val q47QualityRatios: QuerySpec = QuerySpec.oracled(
    "q47_quality_ratios",
    s"""WITH f AS (
       |  SELECT doc_id,
       |    length(text)::BIGINT AS n_chars,
       |    len($toksSql)::BIGINT AS n_tokens,
       |    len(regexp_extract_all(text, '[[:punct:]]'))::BIGINT AS n_punct,
       |    len(list_filter($toksSql, t -> list_contains(
       |      ${markersSql(TextStats.LangMarkers.head._2)}, t)))::BIGINT
       |      AS n_stopwords
       |  FROM documents)
       |SELECT doc_id, n_punct, n_stopwords,
       |  CASE WHEN n_chars > 0
       |    THEN round(n_punct::DOUBLE / n_chars, 4) END AS punct_ratio,
       |  round(n_stopwords::DOUBLE / n_tokens, 4) AS stopword_ratio
       |FROM f
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    TextStats.qualityFeatures(
      spark.read.parquet(s"$dir/documents.parquet"), "text")
      .select("doc_id", "n_punct", "n_stopwords", "punct_ratio",
        "stopword_ratio")
      .orderBy("doc_id")
  }

  val q26Fingerprint: QuerySpec = QuerySpec.oracled(
    "q26_fingerprint",
    """SELECT doc_id,
      |  list_reduce(list_prepend(0::BIGINT,
      |    list_transform(string_split(text, ''), c -> ascii(c)::BIGINT)),
      |    (a, b) -> (a * 31 + b) % 1000000007) AS fp
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    graft.functions.VectorExpressions.register(spark)
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), TextStats.fingerprint("text").as("fp"))
      .orderBy("doc_id")
  }

  /** Deterministic stratified sampling (training-mix construction): keep
    * 30% of en, 10% of es, 100% of zh, drop the rest — reproducible via
    * the md5 basis-point rule the oracle replays. Aggregated per lang so
    * the oracle row count stays small while every kept/dropped decision
    * still feeds the hash compare.
    */
  val q49StratifiedSample: QuerySpec = QuerySpec.oracled(
    "q49_stratified_sample",
    """WITH kept AS (
      |  SELECT doc_id, lang FROM documents
      |  WHERE ('0x' || substr(md5('mix1:' || doc_id::VARCHAR), 1, 15))
      |      ::BIGINT % 10000
      |    < CASE lang WHEN 'en' THEN 3000 WHEN 'es' THEN 1000
      |        WHEN 'zh' THEN 10000 ELSE 0 END)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(doc_id) AS BIGINT) AS id_sum
      |FROM kept GROUP BY lang
      |ORDER BY lang""".stripMargin) { (spark, dir) =>
    TextStats.stratifiedSample(
      spark.read.parquet(s"$dir/documents.parquet"),
      idCol = "doc_id", strataCol = "lang",
      rates = Map("en" -> 0.3, "es" -> 0.1, "zh" -> 1.0))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"))
      .orderBy("lang")
  }

  /** PII-style redaction: emails/URLs → placeholder tokens; the oracle
    * replays the same RE2/Java-common regexes with DuckDB's 'g' flag
    * (DuckDB regexp_replace is first-match-only by default; Spark's is
    * global). Output carries md5(redacted) instead of the full text.
    */
  val q52Redact: QuerySpec = QuerySpec.oracled(
    "q52_redact",
    s"""SELECT doc_id,
       |  len(regexp_extract_all(text,
       |    '${TextStats.EmailRe}'))::BIGINT AS n_emails,
       |  len(regexp_extract_all(text,
       |    '${TextStats.UrlRe}'))::BIGINT AS n_urls,
       |  md5(regexp_replace(regexp_replace(text,
       |    '${TextStats.EmailRe}', '<EMAIL>', 'g'),
       |    '${TextStats.UrlRe}', '<URL>', 'g')) AS redacted_md5
       |FROM documents
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    TextStats.redact(
      spark.read.parquet(s"$dir/documents.parquet"), "text")
      .select(col("doc_id"), col("n_emails"), col("n_urls"),
        md5(col("redacted")).as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** Benchmark decontamination ([[graft.ext.Decontaminate]]): the
    * benchmark "suite" is the deterministic doc_id % 20 == 0 slice, the
    * corpus is everything else; a corpus doc is contaminated when ≥ 3 of
    * its distinct token 5-grams appear in the benchmark gram set. The
    * sf0.01 fixture's planted near-dups make this a real positive test:
    * two corpus docs overlap a benchmark doc (32 and 76 shared grams).
    */
  val q58Decontaminate: QuerySpec = QuerySpec.oracled(
    "q58_decontaminate",
    """WITH tk AS (
      |  SELECT doc_id, list_filter(
      |    string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 3),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
      |         toks[i+3] || ' ' || toks[i+4])) AS s
      |  FROM tk),
      |bg AS (SELECT DISTINCT unnest(s) AS gram FROM g WHERE doc_id % 20 = 0),
      |cg AS (SELECT doc_id, unnest(s) AS gram FROM g WHERE doc_id % 20 <> 0),
      |hits AS (
      |  SELECT cg.doc_id, count(*) AS n_overlap
      |  FROM cg JOIN bg USING (gram) GROUP BY cg.doc_id)
      |SELECT d.doc_id, coalesce(h.n_overlap, 0) AS n_overlap,
      |  coalesce(h.n_overlap, 0) >= 3 AS contaminated
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
      |LEFT JOIN hits h USING (doc_id)
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    graft.ext.Decontaminate.flagContaminated(
      corpus = docs.filter(col("doc_id") % 20 =!= 0),
      benchmark = docs.filter(col("doc_id") % 20 === 0),
      idCol = "doc_id", textCol = "text", k = 5, minOverlap = 3)
      .orderBy("doc_id")
  }

  /** Intra-document repetition ([[graft.ext.TextStats.repetition]]): the
    * Spark side is a ZERO-shuffle narrow projection (max-run scan over the
    * sorted per-doc bigram array); the oracle replays the same numbers via
    * the naive explode → group-count formulation, which doubles as the
    * semantic definition the fused scan must match.
    */
  val q60Repetition: QuerySpec = QuerySpec.oracled(
    "q60_repetition",
    s"""WITH tk AS (
       |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, len(toks) AS n_tokens,
       |    len(list_distinct(toks)) AS n_distinct,
       |    list_transform(range(1, len(toks)),
       |      i -> toks[i] || ' ' || toks[i+1]) AS bigrams
       |  FROM tk),
       |bx AS (SELECT doc_id, unnest(bigrams) AS b FROM bg),
       |bc AS (SELECT doc_id, b, count(*) AS c FROM bx GROUP BY doc_id, b),
       |topb AS (
       |  SELECT doc_id, max(c) AS top_bigram_count FROM bc GROUP BY doc_id)
       |SELECT g.doc_id, g.n_tokens, g.n_distinct,
       |  round(1.0 - g.n_distinct::DOUBLE / g.n_tokens, 4)
       |    AS dup_token_ratio,
       |  coalesce(t.top_bigram_count, 0) AS top_bigram_count,
       |  CASE WHEN g.n_tokens >= 2 THEN
       |    round(t.top_bigram_count::DOUBLE / (g.n_tokens - 1), 4)
       |  END AS top_bigram_frac
       |FROM bg g LEFT JOIN topb t USING (doc_id)
       |WHERE g.n_tokens > 0
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    TextStats.repetition(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
      .orderBy("doc_id")
  }

  /** Per-document top-3 terms by tf-idf. The score is the RATIONAL form
    * `(c · N) / (n_toks · df)` — both products are exact small integers
    * and the single division is correctly rounded in IEEE, so Spark and
    * DuckDB produce bit-identical doubles (a log-idf would hinge on two
    * libms agreeing to the last ulp; a rational idf ranks identically for
    * fixed N). Ties break on the token string. Scale shape: token counts
    * and document frequencies are two partial-aggregated shuffles; the
    * df join is vocab-sized; the top-3 is a bounded per-doc window.
    */
  val q62TfIdf: QuerySpec = QuerySpec.oracled(
    "q62_tfidf_top_terms",
    s"""WITH tk AS (
       |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks
       |  FROM documents),
       |tc AS (SELECT doc_id, unnest(toks) AS tok FROM tk),
       |cnt AS (SELECT doc_id, tok, count(*) AS c FROM tc
       |        GROUP BY doc_id, tok),
       |nt AS (SELECT doc_id, len(toks) AS n_toks FROM tk
       |       WHERE len(toks) > 0),
       |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tc
       |       GROUP BY tok),
       |nd AS (SELECT count(*) AS n FROM nt),
       |scored AS (
       |  SELECT cnt.doc_id, cnt.tok,
       |    (cnt.c * nd.n)::DOUBLE / (nt.n_toks * df.df) AS score
       |  FROM cnt CROSS JOIN nd
       |  JOIN nt USING (doc_id) JOIN df USING (tok)),
       |r AS (
       |  SELECT doc_id, tok, score,
       |    row_number() OVER (PARTITION BY doc_id
       |                       ORDER BY score DESC, tok) AS rnk
       |  FROM scored)
       |SELECT doc_id, CAST(rnk AS INTEGER) AS rnk, tok,
       |  round(score, 6) AS score
       |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin) {
    (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val tk = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), graft.ext.Dedup.tokens(col("text")).as("toks"))
      val nt = tk.filter(size(col("toks")) > 0)
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"))
      val tc = tk.select(col("doc_id"), explode(col("toks")).as("tok"))
      val cnt = tc.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      val dft = tc.groupBy("tok").agg(countDistinct("doc_id").as("df"))
      val nd = nt.agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("tok").asc)
      cnt.join(nt, "doc_id").join(dft, "tok")
        .crossJoin(broadcast(nd))
        .withColumn("score",
          (col("c") * col("n")).cast("double") / (col("n_toks") * col("df")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk"), col("tok"),
          round(col("score"), 6).as("score"))
        .orderBy("doc_id", "rnk")
  }

  /** Token chunking with stride ([[graft.ext.TextStats.chunkTokens]]):
    * 64-token windows every 48 tokens (16-token overlap), trailing window
    * kept short. Chunks leave as md5 + count — fixed-width rows.
    */
  val q66Chunking: QuerySpec = QuerySpec.oracled(
    "q66_chunking",
    s"""WITH tk AS (
       |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks
       |  FROM documents),
       |st AS (
       |  SELECT doc_id, toks, len(toks) AS n,
       |    range(1, len(toks) + 1, 48) AS starts
       |  FROM tk WHERE len(toks) > 0),
       |ch AS (SELECT doc_id, n, unnest(starts) AS start FROM st),
       |cc AS (
       |  SELECT ch.doc_id, ch.start,
       |    list_slice(tk.toks, ch.start, least(ch.start + 63, ch.n))
       |      AS chunk
       |  FROM ch JOIN tk USING (doc_id))
       |SELECT doc_id,
       |  CAST((start - 1) // 48 AS INTEGER) AS chunk_idx,
       |  CAST(start - 1 AS BIGINT) AS start_off,
       |  CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
       |  md5(array_to_string(chunk, ' ')) AS chunk_md5
       |FROM cc ORDER BY doc_id, chunk_idx""".stripMargin) { (spark, dir) =>
    TextStats.chunkTokens(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
      chunkSize = 64, stride = 48)
      .orderBy("doc_id", "chunk_idx")
  }

  /** Sequence packing ([[graft.ext.TextStats.packSequences]]): 32 bucket
    * streams, 256-token blocks, straddlers span block_first < block_last.
    * The oracle replays the running-sum layout with a window; integer
    * division is `//` on both sides (DuckDB `/` yields DOUBLE and CAST
    * ROUNDS — `CAST(255/256 AS BIGINT)` is 1, a silent off-by-one-block).
    */
  val q67SequencePacking: QuerySpec = QuerySpec.oracled(
    "q67_sequence_packing",
    s"""WITH tk AS (
       |  SELECT doc_id,
       |    len(list_filter($toksSql, x -> x <> '')) AS n_toks
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, doc_id % 32 AS bucket, n_toks,
       |    sum(n_toks) OVER (PARTITION BY doc_id % 32 ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM tk WHERE n_toks > 0)
       |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
       |  CAST(n_toks AS BIGINT) AS n_toks,
       |  CAST(cum - n_toks AS BIGINT) AS start_off,
       |  CAST((cum - n_toks) // 256 AS BIGINT) AS block_first,
       |  CAST((cum - 1) // 256 AS BIGINT) AS block_last
       |FROM w ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    TextStats.packSequences(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
      blockSize = 256, buckets = 32)
      .orderBy("doc_id")
  }

  /** Packing-efficiency curve ([[graft.ext.TextStats.packingCurve]]):
    * blocks needed, exact padding-waste ppm, and boundary-split doc
    * counts at context lengths 128/512/2048, all off q67's ONE
    * cumulative packing pass — the audit behind choosing a training
    * context length. The oracle replays the cumsum and every rung's
    * integer divisions.
    */
  val q296PackingCurve: QuerySpec = QuerySpec.oracled(
    "q296_packing_curve",
    s"""WITH tk AS (
       |  SELECT doc_id,
       |    len(list_filter($toksSql, x -> x <> '')) AS n_toks
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, doc_id % 32 AS bucket, n_toks,
       |    sum(n_toks) OVER (PARTITION BY doc_id % 32 ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM tk WHERE n_toks > 0),
       |rg AS (SELECT unnest([128, 512, 2048]) AS block_size),
       |sp AS (
       |  SELECT block_size, CAST(count(*) AS BIGINT) AS n_split_docs
       |  FROM w, rg
       |  WHERE (cum - n_toks) // block_size <> (cum - 1) // block_size
       |  GROUP BY block_size),
       |bt AS (SELECT bucket, max(cum) AS t FROM w GROUP BY bucket),
       |ag AS (
       |  SELECT block_size,
       |    CAST(sum((t + block_size - 1) // block_size) AS BIGINT)
       |      AS n_blocks,
       |    CAST(sum(t) AS BIGINT) AS total_tokens
       |  FROM bt, rg GROUP BY block_size)
       |SELECT CAST(ag.block_size AS BIGINT) AS block_size, n_blocks,
       |  total_tokens,
       |  CAST((n_blocks * ag.block_size - total_tokens) * 1000000 //
       |    (n_blocks * ag.block_size) AS BIGINT) AS waste_ppm,
       |  coalesce(sp.n_split_docs, 0) AS n_split_docs
       |FROM ag LEFT JOIN sp ON ag.block_size = sp.block_size
       |ORDER BY block_size""".stripMargin) { (spark, dir) =>
    TextStats.packingCurve(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
      blockSizes = Seq(128, 512, 2048), buckets = 32)
      .orderBy("block_size")
  }

  /** T5 span-corruption builder ([[graft.ext.TextStats.spanCorrupt]] —
    * Raffel et al. 2020): every document becomes a model-ready
    * (input, target) denoising pair with hash-decided sentinel spans.
    * The oracle replays the md5 start decisions and the entire
    * span-suppressing left fold string-for-string — input and target
    * texts hash-compare exactly.
    */
  val q297SpanCorrupt: QuerySpec = QuerySpec.oracled(
    "q297_span_corrupt",
    s"""WITH tk AS (
       |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks
       |  FROM documents),
       |w AS (SELECT doc_id, toks FROM tk WHERE len(toks) >= 1),
       |f AS (
       |  SELECT doc_id, len(toks) AS n,
       |    list_reduce(list_prepend('0|0||',
       |      list_transform(range(1, len(toks) + 1),
       |        x -> CAST(x AS VARCHAR))),
       |      (a, i) -> CASE
       |        WHEN CAST(i AS INT) <= CAST(split_part(a, '|', 1) AS INT)
       |          THEN split_part(a, '|', 1) || '|' ||
       |            split_part(a, '|', 2) || '|' ||
       |            split_part(a, '|', 3) || '|' ||
       |            split_part(a, '|', 4) || ' ' || toks[CAST(i AS INT)]
       |        WHEN ('0x' || substr(md5('t5:' ||
       |            CAST(doc_id AS VARCHAR) || ':' || i), 1, 15))::BIGINT
       |            % 20 = 0
       |          THEN CAST(CAST(i AS INT) + 2 AS VARCHAR) || '|' ||
       |            CAST(CAST(split_part(a, '|', 2) AS INT) + 1
       |              AS VARCHAR) || '|' ||
       |            split_part(a, '|', 3) || ' <extra_id_' ||
       |            split_part(a, '|', 2) || '>' || '|' ||
       |            split_part(a, '|', 4) || ' <extra_id_' ||
       |            split_part(a, '|', 2) || '> ' || toks[CAST(i AS INT)]
       |        ELSE split_part(a, '|', 1) || '|' ||
       |          split_part(a, '|', 2) || '|' ||
       |          split_part(a, '|', 3) || ' ' || toks[CAST(i AS INT)] ||
       |          '|' || split_part(a, '|', 4)
       |      END) AS st
       |  FROM w)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       |  CAST(split_part(st, '|', 2) AS BIGINT) AS n_spans,
       |  ltrim(split_part(st, '|', 3)) AS input_text,
       |  ltrim(split_part(st, '|', 4) || ' <extra_id_' ||
       |    split_part(st, '|', 2) || '>') AS target_text
       |FROM f ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    TextStats.spanCorrupt(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
      rate = 20, spanLen = 3, salt = "t5")
      .orderBy("doc_id")
  }

  /** Fill-in-the-middle transformation
    * ([[graft.ext.TextStats.fimTransform]] — Bavarian et al. 2022 PSM
    * format): hash-decided prefix/middle/suffix cuts, re-serialized for
    * infill training. The oracle replays the md5 cut points and the
    * three slices string-for-string.
    */
  val q298FimTransform: QuerySpec = QuerySpec.oracled(
    "q298_fim_transform",
    s"""WITH tk AS (
       |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks
       |  FROM documents),
       |w AS (SELECT doc_id, toks, len(toks) AS n FROM tk
       |      WHERE len(toks) >= 1),
       |c AS (
       |  SELECT doc_id, toks, n,
       |    CAST(('0x' || substr(md5('fim1:' ||
       |      CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % (n + 1)
       |      AS INT) AS c1
       |  FROM w),
       |c2t AS (
       |  SELECT *, CAST(c1 + ('0x' || substr(md5('fim2:' ||
       |    CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % (n - c1 + 1)
       |    AS INT) AS c2
       |  FROM c)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       |  CAST(c1 AS BIGINT) AS cut1, CAST(c2 AS BIGINT) AS cut2,
       |  '<fim_prefix> ' ||
       |  coalesce(array_to_string(list_slice(toks, 1, c1), ' '), '')
       |  || ' <fim_suffix> ' ||
       |  coalesce(array_to_string(list_slice(toks, c2 + 1, n), ' '), '')
       |  || ' <fim_middle> ' ||
       |  coalesce(array_to_string(list_slice(toks, c1 + 1, c2), ' '), '')
       |    AS fim_text
       |FROM c2t ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    TextStats.fimTransform(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
      salt = "fim")
      .orderBy("doc_id")
  }

  /** Cross-document boilerplate detection (the paragraph-dedup family,
    * CCNet-style, on 8-token segments): a segment appearing in ≥ 2
    * distinct documents is boilerplate; each doc reports its boilerplate
    * fraction. Scale shape: segments rides [[TextStats.chunkTokens]]
    * (zero-shuffle fan-out), then ONE partial-aggregated shuffle keyed by
    * segment hash for document frequencies and an equi-join back on the
    * same key — rows carry (hash, id) scalars only, never text.
    */
  val q68Boilerplate: QuerySpec = QuerySpec.oracled(
    "q68_boilerplate",
    s"""WITH tk AS (
       |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks
       |  FROM documents),
       |st AS (
       |  SELECT doc_id, toks, len(toks) AS n,
       |    range(1, len(toks) + 1, 8) AS starts
       |  FROM tk WHERE len(toks) > 0),
       |sg AS (
       |  SELECT doc_id,
       |    md5(array_to_string(
       |      list_slice(toks, start, least(start + 7, n)), ' ')) AS seg
       |  FROM (SELECT doc_id, toks, n, unnest(starts) AS start FROM st)),
       |df AS (SELECT seg, count(DISTINCT doc_id) AS n_docs FROM sg
       |       GROUP BY seg),
       |j AS (
       |  SELECT sg.doc_id,
       |    count(*) AS n_segments,
       |    sum(CASE WHEN df.n_docs >= 2 THEN 1 ELSE 0 END) AS n_boilerplate
       |  FROM sg JOIN df USING (seg) GROUP BY sg.doc_id)
       |SELECT doc_id, CAST(n_segments AS BIGINT) AS n_segments,
       |  CAST(n_boilerplate AS BIGINT) AS n_boilerplate,
       |  round(n_boilerplate::DOUBLE / n_segments, 4) AS boilerplate_frac
       |FROM j ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val sg = TextStats.chunkTokens(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
      chunkSize = 8, stride = 8)
      .select(col("doc_id"), col("chunk_md5").as("seg"))
    val dfreq = sg.groupBy("seg")
      .agg(countDistinct("doc_id").as("n_docs"))
    sg.join(dfreq, "seg")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L))
          .as("n_boilerplate"))
      .select(col("doc_id"), col("n_segments"), col("n_boilerplate"),
        round(col("n_boilerplate").cast("double") / col("n_segments"), 4)
          .as("boilerplate_frac"))
      .orderBy("doc_id")
  }

  /** Language-capped resampling: keep at most 60 docs per language — the
    * training-mix balancing step after stratified sampling (q49). The cap
    * is deterministic: rank within language by md5(doc_id) (a stable
    * pseudo-random order reproducible on any engine/partitioning), tie-broken
    * by doc_id. One shuffle on `lang`; per-language window state is a
    * single counter. At 100 TB the refinement for mega-languages is a
    * two-phase cap (per-partition pre-cap at N, then exact window over the
    * ≤ N·partitions survivors) — same result, bounded per-key row count.
    */
  val q73LangCap: QuerySpec = QuerySpec.oracled(
    "q73_lang_cap",
    """SELECT doc_id, lang FROM (
      |  SELECT doc_id, lang,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents) WHERE rn <= 60
      |ORDER BY lang, doc_id""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 60)
      .select("doc_id", "lang")
      .orderBy("lang", "doc_id")
  }

  /** Deterministic train/val/test split assignment (80/10/10): each doc's
    * split comes from a salted md5 basis-point bucket — the q49 hashing
    * rule applied to partitioning instead of sampling. The same doc lands
    * in the same split on every run, engine, and cluster layout, and a
    * doc can never leak across splits (the property RNG-based splitters
    * lose on re-partitioning). Zero shuffles before the summary agg.
    */
  val q92SplitAssign: QuerySpec = QuerySpec.oracled(
    "q92_split_assign",
    """WITH s AS (
      |  SELECT doc_id, lang,
      |    ('0x' || substr(md5('split1:' || CAST(doc_id AS VARCHAR)), 1, 15))
      |      ::BIGINT % 10000 AS bp
      |  FROM documents)
      |SELECT lang,
      |  CASE WHEN bp < 8000 THEN 'train' WHEN bp < 9000 THEN 'val'
      |       ELSE 'test' END AS split,
      |  count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum
      |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    val bp = conv(substring(md5(concat(lit("split1:"),
        col("doc_id").cast("string"))), 1, 15), 16, 10)
      .cast("long") % 10000
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"), bp.as("bp"))
      .withColumn("split",
        when(col("bp") < 8000, "train")
          .when(col("bp") < 9000, "val").otherwise("test"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n"), sum("doc_id").as("id_sum"))
      .orderBy("lang", "split")
  }

  /** Exact corpus heavy hitters (tokens covering > 1% of all token
    * occurrences) via the two-pass sketch-verify plan: pass 1 folds the
    * whole stream into ONE [[graft.functions.MisraGriesAgg]] sketch
    * (≤ 256 counters per partial, merged map-side — the only shuffle is
    * k-entry sketches, one per partition) plus the exact total count;
    * pass 2 exact-counts ONLY the ≤ 256 candidates (an `isin` filter the
    * scan evaluates before any shuffle) and applies the threshold. The
    * MG guarantee (any item with freq > n/257 is in the sketch, for any
    * row order or partition layout) makes the final set EXACT for the 1%
    * threshold, so the oracle is the plain groupBy-HAVING — which at
    * 100 TB would shuffle the entire vocabulary; the sketch plan shuffles
    * ≤ 256 rows per partition plus the candidate counts.
    */
  val q94HeavyHitters: QuerySpec = QuerySpec.oracled(
    "q94_heavy_hitters",
    s"""WITH tok AS (
       |  SELECT unnest($toksSql) AS tok FROM documents),
       |tot AS (SELECT count(*) AS n FROM tok)
       |SELECT tok, count(*) AS cnt
       |FROM tok, tot
       |GROUP BY tok, n
       |HAVING count(*) * 100 > n
       |ORDER BY cnt DESC, tok""".stripMargin) { (spark, dir) =>
    graft.functions.VectorExpressions.register(spark)
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(TextStats.tokensCol("text")).as("tok"))
    // pass 1: one row out — the driver holds a ≤256-entry sketch, the
    // broadcast-sized artifact this pattern is built around
    val sketch = toks.agg(
      count(lit(1)).as("n"),
      expr("graft_misra_gries(tok, 256)").as("cand")).head()
    val n = sketch.getLong(0)
    val cand = sketch.getSeq[String](1)
    // pass 2: exact counts for candidates only; threshold is exact
    toks.filter(col("tok").isin(cand: _*))
      .groupBy("tok")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * 100 > n)
      .orderBy(col("cnt").desc, col("tok"))
  }

  /** The planted decoration, in explicitly DECOMPOSED form (base letter
    * + combining mark as separate code points -- composed source literals
    * would make the NFC check vacuous): Cafe+U+0301, u+U+0308, strasse
    * with U+00DF (no decomposition, must pass through), n+U+0303. Built
    * from escapes so no editor/tool can silently NFC the source file.
    */
  private val rawPrefix = "Cafe\u0301 "
  private val rawSuffix = " u\u0308ber stra\u00dfe n\u0303"

  /** Unicode normalization ([[graft.functions.NfcNormalizeExpr]] /
    * [[graft.functions.StripAccentsExpr]]): text with combining sequences
    * (e+U+0301, u+U+0308, n+U+0303 — planted around each customer name,
    * since the TPC-H corpus is pure ASCII) is NFC-composed and accent-
    * stripped. Both are standard Unicode algorithms, so DuckDB's
    * utf8proc `nfc_normalize`/`strip_accents` reproduce the bytes
    * exactly — the len_raw→len_norm drop (3 per row) adjudicates that
    * composition really happened. Narrow per-row codegen'd projection:
    * zero shuffles, and the ASCII fast path skips the String round-trip
    * on the (at corpus scale, dominant) pure-ASCII rows.
    */
  val q99Normalize: QuerySpec = QuerySpec.oracled(
    "q99_normalize",
    s"""WITH r AS (
       |  SELECT c_custkey,
       |    '$rawPrefix' || c_name || '$rawSuffix'
       |      AS raw
       |  FROM customer WHERE c_custkey % 10 = 0)
       |SELECT c_custkey, length(raw) AS len_raw,
       |  nfc_normalize(raw) AS norm,
       |  length(nfc_normalize(raw)) AS len_norm,
       |  strip_accents(nfc_normalize(raw)) AS stripped
       |FROM r ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    graft.functions.VectorExpressions.register(spark)
    spark.read.parquet(s"$dir/customer.parquet")
      .filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"),
        concat(lit(rawPrefix), col("c_name"),
          lit(rawSuffix)).as("raw"))
      .select(col("c_custkey"),
        length(col("raw")).cast("long").as("len_raw"),
        expr("graft_nfc(raw)").as("norm"))
      .select(col("c_custkey"), col("len_raw"), col("norm"),
        length(col("norm")).cast("long").as("len_norm"),
        expr("graft_strip_accents(norm)").as("stripped"))
      .orderBy("c_custkey")
  }

  /** Token-budget selection: per language, greedily keep the largest
    * documents (n_chars desc, doc_id tiebreak) until a fixed token budget
    * is exhausted — the training-mix assembly step after capping (q73) and
    * split assignment (q92). One shuffle on `lang`; the running-sum window
    * holds a single counter per language. The budget test is on the
    * PREFIX-INCLUSIVE sum, so a doc is kept iff it fits entirely — no
    * fractional documents, same rule both engines.
    */
  val q115TokenBudget: QuerySpec = QuerySpec.oracled(
    "q115_token_budget",
    s"""WITH tk AS (
       |  SELECT doc_id, lang, n_chars,
       |    len(list_filter($toksSql, x -> x <> ''))::BIGINT AS n_toks
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, lang, n_toks,
       |    sum(n_toks) OVER (PARTITION BY lang
       |      ORDER BY n_chars DESC, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum_toks
       |  FROM tk)
       |SELECT lang, doc_id, n_toks, CAST(cum_toks AS BIGINT) AS cum_toks
       |FROM w WHERE cum_toks <= 4000
       |ORDER BY lang, doc_id""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang")
      .orderBy(col("n_chars").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        size(graft.ext.Dedup.tokens(col("text"))).cast("long").as("n_toks"))
      .withColumn("cum_toks", sum(col("n_toks")).over(w))
      .filter(col("cum_toks") <= 4000)
      .select("lang", "doc_id", "n_toks", "cum_toks")
      .orderBy("lang", "doc_id")
  }

  /** Boilerplate REMOVAL — the transform twin of q68's detection: segments
    * appearing in ≥ 2 documents are dropped and each doc reports its kept
    * segment count plus an order-preserving fingerprint of the surviving
    * segments (md5 over the chunk-index-sorted kept hashes), which is what
    * makes the rewrite adjudicable without shipping text. Same 100 TB
    * shape as q68 — segment fan-out is shuffle-free, document frequencies
    * are one partial-aggregated shuffle keyed by segment hash, and rows
    * carry (hash, id, idx) scalars only; the per-doc reassembly state is
    * the doc's own segment list, bounded by document length.
    */
  val q116StripBoilerplate: QuerySpec = QuerySpec.oracled(
    "q116_strip_boilerplate",
    s"""WITH tk AS (
       |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks
       |  FROM documents),
       |st AS (
       |  SELECT doc_id, toks, len(toks) AS n,
       |    range(1, len(toks) + 1, 8) AS starts
       |  FROM tk WHERE len(toks) > 0),
       |sg AS (
       |  SELECT doc_id, CAST((start - 1) // 8 AS INT) AS idx,
       |    md5(array_to_string(
       |      list_slice(toks, start, least(start + 7, n)), ' ')) AS seg
       |  FROM (SELECT doc_id, toks, n, unnest(starts) AS start FROM st)),
       |df AS (SELECT seg, count(DISTINCT doc_id) AS n_docs FROM sg
       |       GROUP BY seg),
       |j AS (
       |  SELECT sg.doc_id, sg.idx, sg.seg,
       |    CASE WHEN df.n_docs = 1 THEN 1 ELSE 0 END AS k
       |  FROM sg JOIN df USING (seg))
       |SELECT doc_id,
       |  count(*) AS n_segments,
       |  CAST(sum(k) AS BIGINT) AS n_kept,
       |  md5(coalesce(array_to_string(list_transform(
       |    list_filter(list_sort(list(struct_pack(i := idx, k := k,
       |      s := seg))), x -> x.k = 1), x -> x.s), ' '), '')) AS kept_md5
       |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val sg = TextStats.chunkTokens(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
      chunkSize = 8, stride = 8)
      .select(col("doc_id"), col("chunk_idx").as("i"),
        col("chunk_md5").as("s"))
    val dfreq = sg.groupBy("s")
      .agg(countDistinct("doc_id").as("n_docs"))
    sg.join(dfreq, "s")
      .withColumn("k", when(col("n_docs") === 1, 1).otherwise(0))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_segments"),
        sum(col("k")).as("n_kept"),
        sort_array(collect_list(struct(col("i"), col("k"), col("s"))))
          .as("arr"))
      .select(col("doc_id"), col("n_segments"), col("n_kept"),
        expr("md5(array_join(transform(filter(arr, x -> x.k = 1)," +
          " x -> x.s), ' '))").as("kept_md5"))
      .orderBy("doc_id")
  }

  /** Global top-25 bigram frequencies — the n-gram table that seeds
    * tokenizer/vocab work and repetition filters. Bigram fan-out is a
    * zero-shuffle columnar transform over the token array (positions
    * 1..n-1 zip their successor); the count is one partial-aggregated
    * shuffle on the bigram string, and only 25 rows survive the
    * total-ordered (count desc, bigram) limit, which Spark runs as
    * TakeOrderedAndProject — no global sort materializes.
    */
  val q117TopNgrams: QuerySpec = QuerySpec.oracled(
    "q117_top_ngrams",
    s"""WITH tk AS (
       |  SELECT list_filter($toksSql, x -> x <> '') AS toks
       |  FROM documents),
       |b AS (
       |  SELECT toks[i] || ' ' || toks[i + 1] AS bigram
       |  FROM (SELECT toks, unnest(range(1, len(toks))) AS i
       |        FROM tk WHERE len(toks) >= 2))
       |SELECT bigram, count(*) AS n FROM b GROUP BY bigram
       |ORDER BY n DESC, bigram LIMIT 25""".stripMargin) { (spark, dir) =>
    spark.read.parquet(s"$dir/documents.parquet")
      .select(graft.ext.Dedup.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(toks) - 1)," +
          " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"))
        .as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram")).limit(25)
  }

  /** Weighted (importance) sampling: each doc keeps with probability
    * proportional to its length — the training-mix upsampling rule —
    * decided by the q49/q92 deterministic hashing discipline: keep iff
    * the doc's salted md5 basis-point is below its OWN rate
    * (min(10000, 20·n_chars) bp — median doc ≈ 61%, long docs cap at 100%). No RNG state, so the sample is
    * identical on any engine, partitioning, or rerun, and per-doc
    * inclusion is auditable (the rate rides along). Zero shuffles before
    * the ordering.
    */
  val q131WeightedSample: QuerySpec = QuerySpec.oracled(
    "q131_weighted_sample",
    """WITH s AS (
      |  SELECT doc_id, lang,
      |    least(10000, n_chars * 20) AS rate_bp,
      |    ('0x' || substr(md5('wsample:' || CAST(doc_id AS VARCHAR)),
      |      1, 15))::BIGINT % 10000 AS bp
      |  FROM documents)
      |SELECT doc_id, lang, CAST(rate_bp AS BIGINT) AS rate_bp
      |FROM s WHERE bp < rate_bp
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val bp = conv(substring(md5(concat(lit("wsample:"),
        col("doc_id").cast("string"))), 1, 15), 16, 10)
      .cast("long") % 10000
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"),
        least(lit(10000L), expr("n_chars * 20")).as("rate_bp"),
        bp.as("bp"))
      .filter(col("bp") < col("rate_bp"))
      .select("doc_id", "lang", "rate_bp")
      .orderBy("doc_id")
  }

  /** Feature hashing ([[graft.ext.TextStats.hashedFeatures]]): the
    * vocab-free text vectorizer — token → md5-60-bit hash → one of 256
    * buckets, long-form (lang, bucket) rows with term counts and the
    * distinct-token collision diagnostic. The oracle replays the exact
    * hash arithmetic ('0x'-prefixed 15-hex-char md5 slice → BIGINT).
    */
  val q144FeatureHash: QuerySpec = QuerySpec.oracled(
    "q144_feature_hash",
    s"""WITH tk AS (
       |  SELECT lang,
       |    unnest(list_filter($toksSql, x -> x <> '')) AS tok
       |  FROM documents)
       |SELECT lang,
       |  ('0x' || substr(md5(tok), 1, 15))::BIGINT % 256 AS bucket,
       |  count(*) AS n_terms,
       |  count(DISTINCT tok) AS n_uniq
       |FROM tk GROUP BY 1, 2
       |ORDER BY lang, bucket""".stripMargin) { (spark, dir) =>
    TextStats.hashedFeatures(
      spark.read.parquet(s"$dir/documents.parquet"), "lang", "text", 256)
      .orderBy("lang", "bucket")
  }

  /** Source purity via Gini impurity of the language mix: per source,
    * `1 − Σ p_lang²` — the probability two random docs from the source
    * differ in language. Log-free diversity (entropy's ln is not
    * correctly-rounded across libms; Gini is pure rational arithmetic):
    * exact integer counts, squares summed in decimal(38,0) (per-source doc
    * counts at 100 TB reach 10¹⁰, so squares overflow int64), ONE final
    * IEEE division. Two cheap aggregates — (source, lang) then source —
    * both map-side combinable; output is |sources| rows at any scale.
    */
  val q147SourceGini: QuerySpec = QuerySpec.oracled(
    "q147_source_gini",
    """WITH c AS (
      |  SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2)
      |SELECT source, CAST(sum(c) AS BIGINT) AS n_docs, count(*) AS n_langs,
      |  1 - CAST(sum(CAST(c AS DECIMAL(38,0)) * c) AS DOUBLE) /
      |      CAST(CAST(sum(c) AS DECIMAL(38,0)) * sum(c) AS DOUBLE)
      |      AS gini
      |FROM c GROUP BY source
      |ORDER BY source""".stripMargin) { (spark, dir) =>
    val c = spark.read.parquet(s"$dir/documents.parquet")
      .groupBy("source", "lang").agg(count(lit(1)).as("c"))
    c.groupBy("source")
      .agg(sum("c").as("n_docs"), count(lit(1)).as("n_langs"),
        (lit(1) - sum(col("c").cast("decimal(38,0)") * col("c"))
            .cast("double") /
          (sum("c").cast("decimal(38,0)") * sum("c")).cast("double"))
          .as("gini"))
      .orderBy("source")
  }

  /** Filter-funnel audit: the per-language kill report every corpus
    * cleaning pipeline publishes — each doc attributed to the FIRST rule
    * it fails (too_short → repetitive → low_alpha → pass), then (lang,
    * verdict) counts and basis-point shares. One narrow projection
    * computes every signal in a single pass over `text`; thresholds
    * compare exact integers cross-multiplied (never a float ratio), and
    * the share division runs over the |langs|×|verdicts| aggregate, not
    * the corpus. The oracle replays the identical rule chain.
    */
  val q149FilterFunnel: QuerySpec = QuerySpec.oracled(
    "q149_filter_funnel",
    s"""WITH f AS (
       |  SELECT lang,
       |    len(list_filter($toksSql, x -> x <> '')) AS nt,
       |    len(list_distinct(list_filter($toksSql, x -> x <> ''))) AS nd,
       |    length(text) AS nc,
       |    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha
       |  FROM documents),
       |v AS (
       |  SELECT lang, CASE WHEN nt < 50 THEN 'too_short'
       |    WHEN (nt - nd) * 10 > nt * 3 THEN 'repetitive'
       |    WHEN alpha * 2 < nc THEN 'low_alpha'
       |    ELSE 'pass' END AS verdict
       |  FROM f),
       |c AS (SELECT lang, verdict, count(*) AS n_docs FROM v GROUP BY 1, 2)
       |SELECT lang, verdict, n_docs,
       |  CAST(n_docs * 10000 AS DOUBLE) /
       |  CAST(sum(n_docs) OVER (PARTITION BY lang) AS DOUBLE) AS share_bp
       |FROM c ORDER BY lang, verdict""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("lang"),
        graft.ext.Dedup.tokens(col("text")).as("__toks"),
        length(col("text")).as("__nc"),
        length(regexp_replace(col("text"), "[^A-Za-z]", "")).as("__alpha"))
      .withColumn("__nt", size(col("__toks")))
      .withColumn("__nd", size(array_distinct(col("__toks"))))
      .withColumn("verdict",
        when(col("__nt") < 50, "too_short")
          .when((col("__nt") - col("__nd")) * 10 > col("__nt") * 3,
            "repetitive")
          .when(col("__alpha") * 2 < col("__nc"), "low_alpha")
          .otherwise("pass"))
    val counts = d.groupBy("lang", "verdict").agg(count(lit(1)).as("n_docs"))
    counts
      .withColumn("share_bp", (col("n_docs") * 10000).cast("double") /
        sum("n_docs").over(Window.partitionBy("lang")).cast("double"))
      .orderBy("lang", "verdict")
  }

  /** Training-MIXTURE assembly: apportion a global token budget across
    * languages by target mixture weights (en 40 / zh 20 / es 15 / de 15 /
    * fr 10), then fill each stratum's quota with an unbiased deterministic
    * sample. The apportionment is Hamilton's largest-remainder method in
    * exact integers — floor quotas `(B·w) div 100`, then the leftover
    * `B − Σfloor` tokens go to the largest remainders (lang tiebreak) —
    * the standard apportionment that sums EXACTLY to the budget, where
    * naive per-stratum rounding over- or under-shoots. Selection inside a
    * stratum orders by `md5('mix2:' ‖ doc_id)` (the q49 deterministic-
    * uniform rule — RNG-free, partition-invariant) and keeps whole docs
    * while the prefix-inclusive running sum fits (q115's rule). 100 TB
    * shape: one fact pass for token counts; the apportionment arithmetic
    * runs on the |strata|-row weight table (the only single-partition
    * window, 5 rows); selection is one per-lang window over (id, n_toks)
    * scalars. This is the data-mixing step an LLM pipeline runs after
    * dedup/quality: hit domain weights exactly, reproducibly, without
    * materializing text.
    */
  val q169MixtureAllocate: QuerySpec = QuerySpec.oracled(
    "q169_mixture_allocate",
    s"""WITH wt(lang, w) AS (VALUES ('de', 15), ('en', 40), ('es', 15),
       |    ('fr', 10), ('zh', 20)),
       |tk AS (
       |  SELECT doc_id, lang,
       |    len(list_filter($toksSql, x -> x <> ''))::BIGINT AS n_toks
       |  FROM documents),
       |tot AS (
       |  SELECT CAST(sum(n_toks) AS BIGINT) * 3 // 10 AS b FROM tk),
       |ap AS (
       |  SELECT lang, w, b, (b * w) // 100 AS q0, (b * w) % 100 AS rem
       |  FROM wt CROSS JOIN tot),
       |r AS (
       |  SELECT lang, w, q0, b, sum(q0) OVER () AS sq,
       |    row_number() OVER (ORDER BY rem DESC, lang) AS rn
       |  FROM ap),
       |qa AS (
       |  SELECT lang, w,
       |    CAST(q0 + CASE WHEN rn <= b - sq THEN 1 ELSE 0 END AS BIGINT)
       |      AS quota
       |  FROM r),
       |sel AS (
       |  SELECT lang, doc_id, n_toks,
       |    sum(n_toks) OVER (PARTITION BY lang
       |      ORDER BY md5('mix2:' || doc_id::VARCHAR), doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM tk),
       |kept AS (
       |  SELECT sel.lang, sel.doc_id, sel.n_toks
       |  FROM sel JOIN qa USING (lang) WHERE sel.cum <= qa.quota)
       |SELECT qa.lang, qa.w AS weight, qa.quota AS quota_toks,
       |  count(kept.doc_id) AS n_docs,
       |  coalesce(CAST(sum(kept.n_toks) AS BIGINT), 0) AS sel_toks
       |FROM qa LEFT JOIN kept ON kept.lang = qa.lang
       |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val wt = Seq(("de", 15), ("en", 40), ("es", 15), ("fr", 10),
      ("zh", 20)).toDF("lang", "w")
    val tk = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"),
        size(graft.ext.Dedup.tokens(col("text"))).cast("long").as("n_toks"))
    val tot = tk.agg(expr("CAST(sum(n_toks) AS BIGINT) * 3 div 10").as("b"))
    // apportionment over the |strata|-row weight table: the ONLY
    // single-partition window, bounded by stratum count, never data size
    val ap = wt.crossJoin(tot)
      .withColumn("q0", expr("b * w div 100"))
      .withColumn("rem", expr("(b * w) % 100"))
    val r = ap
      .withColumn("sq", sum("q0").over(Window.partitionBy()))
      .withColumn("rn", row_number().over(
        Window.orderBy(col("rem").desc, col("lang"))))
    val qa = r.select(col("lang"), col("w"),
      expr("q0 + IF(rn <= b - sq, 1L, 0L)").as("quota"))
    val sel = tk.withColumn("cum", sum("n_toks").over(
      Window.partitionBy("lang")
        .orderBy(expr("md5(concat('mix2:', CAST(doc_id AS STRING)))"),
          col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)))
    val kept = sel.join(qa.select("lang", "quota"), "lang")
      .filter(col("cum") <= col("quota"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("sel_toks"))
    qa.join(kept, Seq("lang"), "left")
      .select(col("lang"), col("w").as("weight"),
        col("quota").as("quota_toks"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("sel_toks"), lit(0L)).as("sel_toks"))
      .orderBy("lang")
  }

  /** Inverted-index build: the search-index artifact itself — per term,
    * document frequency, collection frequency, and the head of the
    * posting list (first 8 doc ids ascending, serialized as a CSV string
    * so the driver hash adjudicates it; a real sink would keep the
    * array). Distinct from q62 (per-DOC top terms) and q117 (corpus
    * n-gram counts): this is the term→docs direction a retrieval or
    * contamination-lookup pipeline serves from.
    *
    * 100 TB shape: tokenize+explode is a narrow fan-out; (term, doc) tf
    * is ONE map-side-combinable groupBy; df/cf and the posting head both
    * roll up from that table partitioned BY TERM — the window and the
    * final agg reuse the same exchange, and per-term state is bounded by
    * the rn ≤ 8 cutoff before any collect_list materializes. Top-50 by
    * df is a driver-side limit over |vocab| rows, not facts.
    */
  val q178InvertedIndex: QuerySpec = QuerySpec.oracled(
    "q178_inverted_index",
    s"""WITH tk AS (
       |  SELECT doc_id,
       |    unnest(list_filter($toksSql, x -> x <> '')) AS term
       |  FROM documents),
       |tf AS (
       |  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
       |  FROM tk GROUP BY 1, 2),
       |agg AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS df,
       |    CAST(sum(tf) AS BIGINT) AS cf
       |  FROM tf GROUP BY 1),
       |post AS (
       |  SELECT term,
       |    string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS postings
       |  FROM (SELECT term, doc_id,
       |          row_number() OVER (PARTITION BY term ORDER BY doc_id)
       |            AS rn
       |        FROM tf)
       |  WHERE rn <= 8 GROUP BY 1)
       |SELECT agg.term, agg.df, agg.cf, post.postings
       |FROM agg JOIN post USING (term)
       |ORDER BY df DESC, term LIMIT 50""".stripMargin) { (spark, dir) =>
    val tf = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        explode(graft.ext.Dedup.tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("term").orderBy("doc_id")
    // sort numerically BEFORE casting to string ("10" < "2" lexically)
    val post = tf.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 8)
      .groupBy("term")
      .agg(expr("concat_ws(',', transform(sort_array(collect_list(doc_id))," +
        " x -> cast(x AS string)))").as("postings"))
    tf.groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").cast("long").as("cf"))
      .join(post, "term")
      .orderBy(col("df").desc, col("term")).limit(50)
  }

  /** Cohen's kappa between two quality-filter RULE VERSIONS per source —
    * the chance-corrected agreement metric every labeling/eval pipeline
    * reports when comparing annotators or filter revisions (raw accuracy
    * rewards majority-class guessing; kappa subtracts marginal-product
    * chance agreement). Rater A is the q24 verdict rule, rater B a
    * revision with different cutoffs; both decide on exact cross-
    * multiplied integers (never a float ratio). All counts exact BIGINT;
    * kappa itself is ONE IEEE division of two exact integers (the q147
    * discipline — correctly rounded, bit-identical cross-engine), null
    * when chance agreement is total (denominator 0). (A gold-vs-language-
    * ID kappa would be the same shape, but this corpus's synthetic text
    * makes every language-ID constant — kappa 0 by construction — so the
    * registered pair is the one that actually varies.)
    *
    * 100 TB shape: rating is a narrow per-row projection; then three
    * map-side-combinable aggregates (per-source n/agree, rater-A
    * marginals, rater-B marginals) and a marginal-product join over
    * |sources|·|classes| rows — the fact table is scanned once.
    */
  val q182KappaAgreement: QuerySpec = QuerySpec.oracled(
    "q182_kappa_agreement",
    s"""WITH f AS (
       |  SELECT doc_id, source, length(text)::BIGINT AS n_chars,
       |    len($toksSql)::BIGINT AS n_tokens,
       |    len(list_distinct($toksSql))::BIGINT AS n_uniq
       |  FROM documents),
       |d AS (
       |  SELECT doc_id, source,
       |    CASE WHEN n_tokens < 20 THEN 'short'
       |         WHEN n_uniq * 10 < n_tokens * 3 THEN 'rep'
       |         ELSE 'ok' END AS rater_a,
       |    CASE WHEN n_chars < 120 THEN 'short'
       |         WHEN n_uniq * 5 < n_tokens * 2 THEN 'rep'
       |         ELSE 'ok' END AS rater_b
       |  FROM f),
       |base AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN rater_a = rater_b THEN 1 ELSE 0 END)
       |      AS BIGINT) AS agree
       |  FROM d GROUP BY 1),
       |ra AS (
       |  SELECT source, rater_a AS cls, CAST(count(*) AS BIGINT) AS ca
       |  FROM d GROUP BY 1, 2),
       |rb AS (
       |  SELECT source, rater_b AS cls, CAST(count(*) AS BIGINT) AS cb
       |  FROM d GROUP BY 1, 2),
       |sx AS (
       |  SELECT ra.source, CAST(sum(ra.ca * rb.cb) AS BIGINT) AS s
       |  FROM ra JOIN rb ON ra.source = rb.source AND ra.cls = rb.cls
       |  GROUP BY 1)
       |SELECT base.source, base.n, base.agree,
       |  coalesce(sx.s, 0) AS chance_s,
       |  CASE WHEN base.n * base.n = coalesce(sx.s, 0) THEN NULL
       |    ELSE round(
       |      CAST(base.n * base.agree - coalesce(sx.s, 0) AS DOUBLE) /
       |      CAST(base.n * base.n - coalesce(sx.s, 0) AS DOUBLE), 6)
       |  END AS kappa
       |FROM base LEFT JOIN sx ON sx.source = base.source
       |ORDER BY base.source""".stripMargin) { (spark, dir) =>
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val d = TextStats.qualityFeatures(docs, "text")
      .select(col("doc_id"), col("source"),
        TextStats.qualityVerdictExact(col("n_tokens"), col("n_uniq"),
          "short", "rep").as("rater_a"),
        when(col("n_chars") < 120, "short")
          .when(col("n_uniq") * 5 < col("n_tokens") * 2, "rep")
          .otherwise("ok").as("rater_b"))
    val base = d.groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(when(col("rater_a") === col("rater_b"), 1L).otherwise(0L))
          .cast("long").as("agree"))
    val ra = d.groupBy(col("source").as("src_a"),
        col("rater_a").as("cls_a"))
      .agg(count(lit(1)).as("ca"))
    val rb = d.groupBy(col("source").as("src_b"),
        col("rater_b").as("cls_b"))
      .agg(count(lit(1)).as("cb"))
    val sx = ra.join(rb,
        col("src_a") === col("src_b") && col("cls_a") === col("cls_b"))
      .groupBy(col("src_a").as("source"))
      .agg(sum(col("ca") * col("cb")).cast("long").as("s"))
    base.join(sx, Seq("source"), "left")
      .select(col("source"), col("n"), col("agree"),
        coalesce(col("s"), lit(0L)).as("chance_s"),
        when(col("n") * col("n") === coalesce(col("s"), lit(0L)),
          lit(null).cast("double"))
          .otherwise(round(
            (col("n") * col("agree") - coalesce(col("s"), lit(0L)))
              .cast("double") /
            (col("n") * col("n") - coalesce(col("s"), lit(0L)))
              .cast("double"), 6))
          .as("kappa"))
      .orderBy("source")
  }

  /** Group-leakage-safe train/val/test split: assignment hashes the
    * SOURCE, not the document — every doc of a source lands in the same
    * split, so correlated or near-duplicate docs within a source can
    * never straddle train and eval (the leakage q92's row-level split
    * permits and dedup can't fully catch). Same salted-md5 basis-point
    * rule as q49/q92, applied one level up; emits per-split source/doc/
    * char tallies plus `leaky_sources` (sources in > 1 split) — zero by
    * construction, adjudicated as a hard column. At 100 TB: the split
    * table is |sources| rows, broadcast to tag the corpus in one
    * map-side join.
    */
  val q188GroupSplit: QuerySpec = QuerySpec.oracled(
    "q188_group_split",
    """WITH s AS (SELECT DISTINCT source FROM documents),
      |a AS (
      |  SELECT source,
      |    CASE
      |      WHEN ('0x' || substr(md5('gsplit:' || source), 1, 15))::BIGINT
      |        % 10000 < 8000 THEN 'train'
      |      WHEN ('0x' || substr(md5('gsplit:' || source), 1, 15))::BIGINT
      |        % 10000 < 9000 THEN 'val'
      |      ELSE 'test' END AS split
      |  FROM s),
      |leak AS (
      |  SELECT CAST(sum(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS leaky_sources
      |  FROM (SELECT source, count(DISTINCT split) AS n_splits
      |        FROM a GROUP BY 1))
      |SELECT a.split, CAST(count(DISTINCT d.source) AS BIGINT)
      |    AS n_sources,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(d.n_chars) AS BIGINT) AS n_chars,
      |  any_value(leak.leaky_sources) AS leaky_sources
      |FROM documents d JOIN a USING (source) CROSS JOIN leak
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val bp = conv(substring(md5(concat(lit("gsplit:"), col("source"))),
      1, 15), 16, 10).cast("long") % 10000
    val a = docs.select("source").distinct()
      .select(col("source"),
        when(bp < 8000, "train").when(bp < 9000, "val")
          .otherwise("test").as("split"))
    val leak = a.groupBy("source")
      .agg(countDistinct("split").as("n_splits"))
      .agg(sum(when(col("n_splits") > 1, 1L).otherwise(0L))
        .cast("long").as("leaky_sources"))
    docs.join(broadcast(a), "source")
      .crossJoin(broadcast(leak))
      .groupBy("split")
      .agg(countDistinct("source").as("n_sources"),
        count(lit(1)).as("n_docs"),
        sum("n_chars").cast("long").as("n_chars"),
        first("leaky_sources").as("leaky_sources"))
      .orderBy("split")
  }

  /** Dataset card: the datasheet a corpus release ships with, as ONE
    * query — corpus totals, language mix, quality-verdict mix (the q24
    * rule), and the exact-duplicate rate (docs whose full-text hash
    * appears ≥ 2 times), emitted as (section, item, n) rows so the card
    * is itself a table a release gate can diff against the previous
    * snapshot's. Every number is an exact BIGINT count.
    *
    * 100 TB shape: four independent map-side-combinable aggregates over
    * one corpus scan each (Spark shares the scan via exchange reuse
    * where shapes allow), unioned into a |rows|≈|langs|+|verdicts|+6
    * artifact — the card is always tiny no matter the corpus.
    */
  val q191DatasetCard: QuerySpec = QuerySpec.oracled(
    "q191_dataset_card",
    s"""WITH f AS (
       |  SELECT doc_id, lang, source, n_chars,
       |    len($toksSql)::BIGINT AS n_tokens,
       |    len(list_distinct($toksSql))::BIGINT AS n_uniq,
       |    md5(text) AS h
       |  FROM documents),
       |corpus AS (
       |  SELECT 'corpus' AS section, x.item, x.n FROM (
       |    SELECT CAST(count(*) AS BIGINT) AS docs,
       |      CAST(sum(n_chars) AS BIGINT) AS chars,
       |      CAST(sum(n_tokens) AS BIGINT) AS tokens,
       |      CAST(count(DISTINCT lang) AS BIGINT) AS langs,
       |      CAST(count(DISTINCT source) AS BIGINT) AS sources
       |    FROM f) t,
       |    LATERAL (VALUES ('docs', t.docs), ('chars', t.chars),
       |      ('tokens', t.tokens), ('langs', t.langs),
       |      ('sources', t.sources)) x(item, n)),
       |langs AS (
       |  SELECT 'lang' AS section, lang AS item,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM f GROUP BY lang),
       |quality AS (
       |  SELECT 'quality' AS section,
       |    CASE WHEN n_tokens < 20 THEN 'too_short'
       |         WHEN n_uniq * 10 < n_tokens * 3 THEN 'repetitive'
       |         ELSE 'ok' END AS item,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM f GROUP BY 2),
       |dup AS (
       |  SELECT 'dup' AS section, 'exact_dup_docs' AS item,
       |    CAST(coalesce(sum(c), 0) AS BIGINT) AS n
       |  FROM (SELECT count(*) AS c FROM f GROUP BY h HAVING count(*) >= 2))
       |SELECT section, item, n FROM corpus
       |UNION ALL SELECT * FROM langs
       |UNION ALL SELECT * FROM quality
       |UNION ALL SELECT * FROM dup
       |ORDER BY section, item""".stripMargin) { (spark, dir) =>
    val f = TextStats.qualityFeatures(
        spark.read.parquet(s"$dir/documents.parquet"), "text")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("n_tokens"), col("n_uniq"), md5(col("text")).as("h"))
    val corpus = f.agg(count(lit(1)).as("docs"),
        sum("n_chars").cast("long").as("chars"),
        sum("n_tokens").cast("long").as("tokens"),
        countDistinct("lang").as("langs"),
        countDistinct("source").as("sources"))
      .select(explode(expr(
        "array(struct('docs' AS item, docs AS n)," +
          " struct('chars' AS item, chars AS n)," +
          " struct('tokens' AS item, tokens AS n)," +
          " struct('langs' AS item, langs AS n)," +
          " struct('sources' AS item, sources AS n))"))
        .as("e"))
      .select(lit("corpus").as("section"), col("e.item").as("item"),
        col("e.n").as("n"))
    val langs = f.groupBy(col("lang").as("item"))
      .agg(count(lit(1)).as("n"))
      .select(lit("lang").as("section"), col("item"), col("n"))
    val quality = f
      .select(TextStats.qualityVerdictExact(col("n_tokens"), col("n_uniq"),
        "too_short", "repetitive").as("item"))
      .groupBy("item").agg(count(lit(1)).as("n"))
      .select(lit("quality").as("section"), col("item"), col("n"))
    val dup = f.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .agg(coalesce(sum("c"), lit(0L)).cast("long").as("n"))
      .select(lit("dup").as("section"),
        lit("exact_dup_docs").as("item"), col("n"))
    corpus.unionByName(langs).unionByName(quality).unionByName(dup)
      .orderBy("section", "item")
  }

  /** Source-level vocabulary overlap: pairwise exact Jaccard between
    * each source's DISTINCT-token vocabulary — the corpus-granularity
    * dedup signal for mixture design (two crawls of the same site look
    * unrelated to doc-level dedup once boilerplate is stripped, but
    * their vocabularies overlap near-totally; down-weight one before
    * training). Integer-exact: intersection via a (token) equi-join on
    * the deduped (source, token) table, union by inclusion–exclusion,
    * floor-div ppm.
    *
    * 100 TB shape: the (source, token) table is the corpus collapsed to
    * vocab entries (map-side-combinable distinct); the self-join is on
    * the token key — hot tokens (stopwords present in every source) are
    * the skew axis, handled exactly like the dedup family's hot buckets
    * ([[graft.ext.Dedup.saltedSelfJoin]] / stop-token drop) when
    * |sources| is large. Output is |source-pairs| rows — tiny.
    */
  val q193SourceOverlap: QuerySpec = QuerySpec.oracled(
    "q193_source_overlap",
    s"""WITH tk AS (
       |  SELECT source, tok FROM (
       |    SELECT source,
       |      unnest(list_filter($toksSql, x -> x <> '')) AS tok
       |    FROM documents) GROUP BY 1, 2),
       |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS sz
       |       FROM tk GROUP BY 1),
       |ix AS (
       |  SELECT a.source AS sa, b.source AS sb,
       |    CAST(count(*) AS BIGINT) AS inter
       |  FROM tk a JOIN tk b ON a.tok = b.tok AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT ix.sa, ix.sb, ix.inter,
       |  x.sz + y.sz - ix.inter AS union_sz,
       |  CAST((1000000 * ix.inter) // (x.sz + y.sz - ix.inter) AS BIGINT)
       |    AS jaccard_ppm
       |FROM ix JOIN sz x ON x.source = ix.sa
       |JOIN sz y ON y.source = ix.sb
       |ORDER BY jaccard_ppm DESC, sa, sb LIMIT 30""".stripMargin) {
    (spark, dir) =>
    val tk = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source"),
        explode(graft.ext.Dedup.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .distinct()
    val sz = tk.groupBy(col("source").as("__szs"))
      .agg(count(lit(1)).as("sz"))
    val ix = tk.select(col("source").as("sa"), col("tok"))
      .join(tk.select(col("source").as("sb"), col("tok").as("tok_b")),
        col("tok") === col("tok_b") && col("sa") < col("sb"))
      .groupBy("sa", "sb")
      .agg(count(lit(1)).as("inter"))
    ix.join(broadcast(sz.select(col("__szs").as("__sa"),
        col("sz").as("sz_a"))), col("sa") === col("__sa"))
      .join(broadcast(sz.select(col("__szs").as("__sb"),
        col("sz").as("sz_b"))), col("sb") === col("__sb"))
      .select(col("sa"), col("sb"), col("inter"),
        (col("sz_a") + col("sz_b") - col("inter")).as("union_sz"),
        expr("CAST((1000000 * inter) DIV (sz_a + sz_b - inter) AS BIGINT)")
          .as("jaccard_ppm"))
      .orderBy(col("jaccard_ppm").desc, col("sa"), col("sb"))
      .limit(30)
  }

  /** N-gram novelty scoring: per document, the ppm of its DISTINCT
    * bigrams absent from the corpus's 500 most frequent — the inverse of
    * q58's contamination join (there: kill text matching a reference
    * set; here: SCORE text by how much it departs from the corpus head).
    * Low novelty = template/boilerplate documents that per-doc
    * repetition (q60) misses because each instance is internally clean.
    * Exact integers end to end (distinct-bigram counts, floor-div ppm);
    * ties at the top-500 boundary break by bigram text, so the vocab
    * set is deterministic in both engines.
    *
    * 100 TB shape: the head vocabulary is a corpus-wide count + top-k —
    * tiny — then BROADCAST; per-doc scoring is a map-side left-anti
    * membership count, no shuffle of the corpus after the vocab build.
    */
  val q194NgramNovelty: QuerySpec = QuerySpec.oracled(
    "q194_ngram_novelty",
    s"""WITH tk AS (
       |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks)),
       |    i -> toks[i] || ' ' || toks[i+1])) AS bgs
       |  FROM tk WHERE len(toks) >= 2),
       |db AS (SELECT doc_id, unnest(bgs) AS bigram FROM bg),
       |top AS (
       |  SELECT bigram FROM (
       |    SELECT bigram, count(*) AS n FROM (
       |      SELECT toks[i] || ' ' || toks[i+1] AS bigram
       |      FROM (SELECT toks, unnest(range(1, len(toks))) AS i
       |            FROM tk WHERE len(toks) >= 2))
       |    GROUP BY bigram ORDER BY n DESC, bigram LIMIT 500)),
       |sc AS (
       |  SELECT db.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |    CAST(sum(CASE WHEN top.bigram IS NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_oov
       |  FROM db LEFT JOIN top ON db.bigram = top.bigram
       |  GROUP BY 1)
       |SELECT doc_id, n_bigrams, n_oov,
       |  (1000000 * n_oov) // n_bigrams AS novelty_ppm
       |FROM sc ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val tk = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), graft.ext.Dedup.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
    val db = tk.select(col("doc_id"), explode(array_distinct(expr(
      "transform(sequence(1, size(toks) - 1)," +
        " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))")))
      .as("bigram"))
    val top = tk.select(explode(expr(
        "transform(sequence(1, size(toks) - 1)," +
          " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"))
        .as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram")).limit(500)
      .select(col("bigram").as("top_bigram"))
    db.join(broadcast(top), col("bigram") === col("top_bigram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("top_bigram").isNull, 1L).otherwise(0L))
          .cast("long").as("n_oov"))
      .select(col("doc_id"), col("n_bigrams"), col("n_oov"),
        expr("(1000000 * n_oov) DIV n_bigrams").as("novelty_ppm"))
      .orderBy("doc_id")
  }

  /** Token-balanced shard assignment (serpentine / boustrophedon): docs
    * sorted by token count descending, dealt into 8 shards snake-wise
    * (block 0 → shards 0..7, block 1 → 7..0, …) — the deterministic,
    * one-pass alternative to greedy LPT bin packing (LPT's "assign to the
    * currently lightest shard" is inherently sequential; serpentine needs
    * only each doc's global rank and gets within one document of LPT's
    * balance in practice). This is how training shards are kept
    * token-balanced so no data-parallel worker straggles. Scale: the rank
    * is q120's distributed-rank shape (sampled RangePartitioning sort +
    * `zipWithIndex` — NO single-partition window), assignment is map-side
    * arithmetic, and the output is an 8-row rollup. `id_sum` adjudicates
    * exact per-shard MEMBERSHIP, not just totals.
    */
  val q204BalancedShards: QuerySpec = QuerySpec.oracled(
    "q204_balanced_shards",
    s"""WITH tk AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter($toksSql, x -> x <> '')) AS BIGINT)
       |      AS n_toks
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, n_toks,
       |    row_number() OVER (ORDER BY n_toks DESC, doc_id) - 1 AS idx
       |  FROM tk),
       |a AS (
       |  SELECT doc_id, n_toks,
       |    CASE WHEN (idx // 8) % 2 = 0 THEN idx % 8
       |         ELSE 7 - (idx % 8) END AS shard
       |  FROM r)
       |SELECT CAST(shard AS INTEGER) AS shard,
       |  count(*) AS n_docs,
       |  CAST(sum(n_toks) AS BIGINT) AS tok_sum,
       |  CAST(sum(doc_id) AS BIGINT) AS id_sum
       |FROM a GROUP BY shard
       |ORDER BY shard""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val numShards = 8
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        size(graft.ext.Dedup.tokens(col("text"))).cast("long").as("n_toks"))
      .orderBy(col("n_toks").desc, col("doc_id"))
      .as[(Long, Long)].rdd.zipWithIndex
      .map { case ((id, n), idx) =>
        val pos = (idx % numShards).toInt
        val shard =
          if ((idx / numShards) % 2 == 0) pos else numShards - 1 - pos
        (shard, id, n)
      }
      .toDF("shard", "doc_id", "n_toks")
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("tok_sum"),
        sum("doc_id").as("id_sum"))
      .orderBy("shard")
  }

  /** Temperature-based multilingual mixture (α = 1/2): language sampling
    * weights w_l = √(token count) — THE standard low-resource upsampling
    * rule (α = 1 is proportional, α → 0 uniform), with a fixed token
    * budget apportioned by q169's Hamilton rule. Unlike q169 the weights
    * come FROM the data, and √ is the one non-rational op the gate can
    * still adjudicate: IEEE sqrt is CORRECTLY ROUNDED (unlike ln/exp — a
    * general-α temperature would be libm-exposed), and the weight total
    * is a fold in fixed language order on both engines, so quotas and
    * remainders are engine-identical doubles before the integer floor.
    * `rate_ppm` (quota/corpus in ppm) > 1e6 marks upsampled
    * (low-resource) languages.
    * Scale: one map-side-combinable (lang) aggregate; everything after is
    * |langs|-row arithmetic.
    */
  val q209TemperatureMix: QuerySpec = QuerySpec.oracled(
    "q209_temperature_mix",
    s"""WITH tk AS (
       |  SELECT lang,
       |    CAST(sum(len(list_filter($toksSql, x -> x <> ''))) AS BIGINT)
       |      AS c
       |  FROM documents GROUP BY lang),
       |ws AS (
       |  SELECT list_reduce(list_prepend(0.0, list_transform(
       |    list_sort(list({'lang': lang, 'w': sqrt(c)})),
       |    r -> r.w)), (a, b) -> a + b) AS wsum
       |  FROM tk),
       |ap AS (
       |  SELECT lang, c, sqrt(c) AS w, wsum,
       |    CAST(floor((100000 * sqrt(c)) / wsum) AS BIGINT) AS q0,
       |    (100000 * sqrt(c)) / wsum
       |      - floor((100000 * sqrt(c)) / wsum) AS rem
       |  FROM tk CROSS JOIN ws),
       |r AS (
       |  SELECT lang, c, q0, sum(q0) OVER () AS sq,
       |    row_number() OVER (ORDER BY rem DESC, lang) AS rn
       |  FROM ap)
       |SELECT lang, c AS c_toks,
       |  CAST(q0 + CASE WHEN rn <= 100000 - sq THEN 1 ELSE 0 END
       |    AS BIGINT) AS quota_toks,
       |  CAST(((q0 + CASE WHEN rn <= 100000 - sq THEN 1 ELSE 0 END)
       |    * 1000000) // c AS BIGINT) AS rate_ppm
       |FROM r ORDER BY lang""".stripMargin) { (spark, dir) =>
    val tk = spark.read.parquet(s"$dir/documents.parquet")
      .groupBy("lang")
      .agg(sum(size(graft.ext.Dedup.tokens(col("text"))).cast("long"))
        .as("c"))
    // Σ√c in fixed lang order: both engines fold the sorted list, so the
    // double total is bit-identical (q140's ordered-fold discipline)
    val ws = tk.agg(
      expr("aggregate(transform(array_sort(collect_list(" +
        "named_struct('lang', lang, 'w', sqrt(c)))), x -> x.w), 0.0D, (a, b) -> a + b)")
        .as("wsum"))
    val ap = tk.crossJoin(broadcast(ws))
      .withColumn("w", sqrt(col("c")))
      .withColumn("q0",
        floor((lit(100000) * sqrt(col("c"))) / col("wsum")).cast("long"))
      .withColumn("rem",
        (lit(100000) * sqrt(col("c"))) / col("wsum") -
          floor((lit(100000) * sqrt(col("c"))) / col("wsum")))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    val wRem = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
      .orderBy(col("rem").desc, col("lang"))
    ap.withColumn("sq", sum("q0").over(wAll))
      .withColumn("rn", row_number().over(wRem))
      .withColumn("quota_toks",
        (col("q0") + when(col("rn") <= lit(100000) - col("sq"), 1L)
          .otherwise(0L)).cast("long"))
      .select(col("lang"), col("c").as("c_toks"), col("quota_toks"),
        expr("CAST((quota_toks * 1000000) DIV c AS BIGINT)")
          .as("rate_ppm"))
      .orderBy("lang")
  }

  /** Literal substring search via trigram-index pruning ("grep at 100 TB"):
    * a doc containing the pattern necessarily contains every trigram of
    * the pattern, so the index join (doc-trigrams ⋈ broadcast
    * pattern-trigrams, require ALL of them) yields a SOUND candidate set
    * and only candidates pay the exact `contains` verify — the corpus is
    * never regex-scanned. Correctness never depends on the index (the
    * oracle is plain brute-force `contains` over every doc); the index is
    * pure pruning, which is what makes it safe to tune. The never-matching
    * third pattern adjudicates the empty-result path (rows survive via the
    * left join, n_matches = 0). Scale: posting lists are (trigram, id)
    * rows; candidate verification is id-joined, pattern table broadcasts.
    */
  val q210IndexedGrep: QuerySpec = QuerySpec.oracled(
    "q210_indexed_grep",
    """WITH pt AS (
      |  SELECT * FROM (VALUES (1, 'table scan'), (2, 'stream join'),
      |    (3, 'quantum flux')) AS t(pattern_id, pat))
      |SELECT pt.pattern_id,
      |  count(*) FILTER (WHERE contains(d.text, pt.pat)) AS n_matches,
      |  CAST(coalesce(sum(d.doc_id)
      |    FILTER (WHERE contains(d.text, pt.pat)), 0) AS BIGINT) AS id_sum
      |FROM pt CROSS JOIN documents d
      |GROUP BY pt.pattern_id
      |ORDER BY pattern_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val patterns = Seq((1, "table scan"), (2, "stream join"),
      (3, "quantum flux"))
    val matches = graft.ext.Search.literalMatches(
      spark.read.parquet(s"$dir/documents.parquet"),
      idCol = "doc_id", textCol = "text", patterns = patterns)
      .groupBy("pattern_id")
      .agg(count(lit(1)).as("n_matches"), sum("id").as("id_sum"))
    patterns.map(_._1).toDF("pattern_id")
      .join(matches, Seq("pattern_id"), "left")
      .select(col("pattern_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("id_sum"), lit(0L)).as("id_sum"))
      .orderBy("pattern_id")
  }

  /** Deterministic per-epoch data-loader shuffle: epoch e's order is the
    * md5('ep:e:doc_id') sort — a reproducible permutation per epoch with
    * no RNG state to checkpoint (the q49/q92 hash-randomness discipline
    * applied to epoch shuffling: any worker can recompute any epoch's
    * order from scratch, which is what makes mid-epoch restart trivial).
    * `perm_checksum = Σ doc_id·rank` adjudicates each ENTIRE permutation
    * as one BIGINT; `head3_sum` pins the head. Scale: per epoch one
    * sampled RangePartitioning sort + `zipWithIndex` (the q120
    * distributed-rank shape — no single-partition window), and epochs are
    * independent parallel jobs.
    */
  val q223EpochShuffle: QuerySpec = QuerySpec.oracled(
    "q223_epoch_shuffle",
    """WITH ep AS (SELECT unnest(range(0, 3)) AS epoch),
      |r AS (
      |  SELECT ep.epoch, d.doc_id,
      |    row_number() OVER (PARTITION BY ep.epoch
      |      ORDER BY md5('ep:' || ep.epoch::VARCHAR || ':'
      |        || d.doc_id::VARCHAR), d.doc_id) AS rnk
      |  FROM documents d CROSS JOIN ep)
      |SELECT CAST(epoch AS INTEGER) AS epoch, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN rnk <= 3 THEN doc_id ELSE 0 END) AS BIGINT)
      |    AS head3_sum,
      |  CAST(sum(doc_id * rnk) AS BIGINT) AS perm_checksum
      |FROM r GROUP BY epoch
      |ORDER BY epoch""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val ids = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"))
    val perEpoch = (0 until 3).map { e =>
      ids
        .withColumn("key",
          md5(concat(lit(s"ep:$e:"), col("doc_id").cast("string"))))
        .orderBy(col("key"), col("doc_id"))
        .select(col("doc_id")).as[Long]
        .rdd.zipWithIndex
        .map { case (id, idx) => (e, id, idx + 1) }
        .toDF("epoch", "doc_id", "rnk")
    }
    perEpoch.reduce(_ unionByName _)
      .groupBy("epoch")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rnk") <= 3, col("doc_id")).otherwise(0L))
          .as("head3_sum"),
        sum(col("doc_id") * col("rnk")).as("perm_checksum"))
      .orderBy("epoch")
  }

  /** Phrase search via a POSITIONAL inverted index: docs where the phrase's
    * tokens occur ADJACENTLY, found by joining the (doc, token, position)
    * posting table against itself on `pos₂ = pos₁ + 1` — the scale path
    * for phrase/proximity queries (q210's trigram index answers substring
    * containment; position lists answer token adjacency, and extend to
    * within-k proximity by changing one predicate). Both engines define
    * the match positionally — this is index-as-semantics, not
    * index-as-pruning, so the oracle replays the position join itself
    * (DuckDB's 1-based list indexing over a 0-based range, the q140
    * idiom). Never-matching third phrase adjudicates the empty path.
    * Scale: postings are (tok, doc, pos) rows partitioned by token; the
    * phrase join touches only the phrase's two posting lists.
    */
  val q224PhraseIndex: QuerySpec = QuerySpec.oracled(
    "q224_phrase_index",
    s"""WITH pt AS (
       |  SELECT * FROM (VALUES (1, 'table', 'scan'), (2, 'stream', 'join'),
       |    (3, 'quantum', 'flux')) AS t(phrase_id, tok1, tok2)),
       |tk AS (
       |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks
       |  FROM documents),
       |px AS (
       |  SELECT doc_id, CAST(t.p AS BIGINT) AS pos, toks[t.p + 1] AS tok
       |  FROM tk, UNNEST(range(len(toks))) AS t(p)),
       |hit AS (
       |  SELECT pt.phrase_id, a.doc_id
       |  FROM pt
       |  JOIN px a ON a.tok = pt.tok1
       |  JOIN px b ON b.doc_id = a.doc_id AND b.tok = pt.tok2
       |    AND b.pos = a.pos + 1),
       |agg AS (
       |  SELECT phrase_id, count(*) AS n_occurrences,
       |    count(DISTINCT doc_id) AS n_docs,
       |    CAST(sum(DISTINCT doc_id) AS BIGINT) AS id_sum
       |  FROM hit GROUP BY phrase_id)
       |SELECT pt.phrase_id,
       |  CAST(coalesce(agg.n_docs, 0) AS BIGINT) AS n_docs,
       |  CAST(coalesce(agg.n_occurrences, 0) AS BIGINT) AS n_occurrences,
       |  CAST(coalesce(agg.id_sum, 0) AS BIGINT) AS id_sum
       |FROM pt LEFT JOIN agg ON pt.phrase_id = agg.phrase_id
       |ORDER BY pt.phrase_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val phrases = Seq((1, "table", "scan"), (2, "stream", "join"),
      (3, "quantum", "flux"))
    val hits = graft.ext.Search.phraseMatches(
      spark.read.parquet(s"$dir/documents.parquet"),
      idCol = "doc_id", textCol = "text", phrases = phrases)
    val agg = hits.groupBy("phrase_id")
      .agg(countDistinct("id").as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        sum_distinct(col("id")).as("id_sum"))
    phrases.map(_._1).toDF("phrase_id")
      .join(agg, Seq("phrase_id"), "left")
      .select(col("phrase_id"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_occurrences"), lit(0L)).as("n_occurrences"),
        coalesce(col("id_sum"), lit(0L)).as("id_sum"))
      .orderBy("phrase_id")
  }

  /** One BPE merge iteration as oracle CTEs: pair counts from `srcCte`,
    * deterministic best pair, fold-applied merge — mirrors
    * [[graft.ext.Bpe.trainMerges]] exactly (same tie-breaks, same
    * leftmost-greedy string fold).
    */
  private def bpeIterSql(src: String, p: String, b: String, out: String): String =
    s"""$p AS (SELECT t[i] AS a, t[i+1] AS b, CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM (SELECT string_split(ts, ' ') AS t, freq FROM $src),
       |    UNNEST(range(1, len(t))) AS u(i)
       |  GROUP BY 1, 2),
       |$b AS (SELECT a, b, cnt FROM $p ORDER BY cnt DESC, a, b LIMIT 1),
       |$out AS (SELECT list_reduce(list_prepend('', string_split(ts, ' ')),
       |    (acc, x) -> CASE
       |      WHEN acc <> '' AND (acc = $b.a OR ends_with(acc, ' ' || $b.a))
       |        AND x = $b.b THEN acc || x
       |      WHEN acc = '' THEN x
       |      ELSE acc || ' ' || x END) AS ts, freq
       |  FROM $src CROSS JOIN $b)""".stripMargin

  /** BPE merge-rule induction ([[graft.ext.Bpe.trainMerges]]): the first 3
    * merges learned from the corpus word-frequency dictionary, every
    * decision deterministic (ties on pair lexicographic order) so the
    * oracle replays TRAINING itself — pair counting, best-pair selection,
    * and leftmost-greedy merge application — as chained CTEs. The corpus
    * is scanned once to build the word dictionary; all iterations run over
    * that vocabulary-sized table, which is what makes tokenizer training
    * tractable at 100 TB.
    */
  val q231BpeMerges: QuerySpec = QuerySpec.oracled(
    "q231_bpe_merges",
    s"""WITH tok AS (
       |  SELECT unnest($toksSql) AS w FROM documents),
       |wf AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM tok
       |  WHERE regexp_full_match(w, '[a-z]+') GROUP BY w),
       |s0 AS (
       |  SELECT rtrim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS ts, freq
       |  FROM wf),
       |${bpeIterSql("s0", "p1", "b1", "s1")},
       |${bpeIterSql("s1", "p2", "b2", "s2")},
       |${bpeIterSql("s2", "p3", "b3", "s3")}
       |SELECT 1 AS merge_rank, a AS left_tok, b AS right_tok,
       |  cnt AS pair_count FROM b1
       |UNION ALL SELECT 2, a, b, cnt FROM b2
       |UNION ALL SELECT 3, a, b, cnt FROM b3
       |ORDER BY merge_rank""".stripMargin) { (spark, dir) =>
    graft.ext.Bpe.trainMerges(
      spark.read.parquet(s"$dir/documents.parquet"), "text", numMerges = 3)
      .orderBy("merge_rank")
  }

  /** One LEFT-joined merge application over a word-tokenization CTE —
    * mirrors [[graft.ext.Bpe.applyMerges]]: a NULL rule (exhausted rank)
    * is the identity re-join, never an emptying cross join.
    */
  private def bpeApplySql(src: String, b: String, out: String): String =
    s"""$out AS (SELECT w, list_reduce(list_prepend('', string_split(ts, ' ')),
       |    (acc, x) -> CASE
       |      WHEN $b.a IS NOT NULL AND acc <> ''
       |        AND (acc = $b.a OR ends_with(acc, ' ' || $b.a))
       |        AND x = $b.b THEN acc || x
       |      WHEN acc = '' THEN x
       |      ELSE acc || ' ' || x END) AS ts
       |  FROM $src LEFT JOIN $b ON TRUE)""".stripMargin

  /** BPE merge APPLICATION ([[graft.ext.Bpe.applyMerges]]) — the other
    * half of q231's training: the 3 learned rules tokenize the corpus,
    * and the per-document subword accounting (words, subwords, subwords
    * per word in ppm) is the compression measurement a tokenizer choice
    * is judged by. The rules replay from the training CTEs, application
    * runs once per DISTINCT word (vocabulary-sized, the property that
    * makes corpus-wide tokenization cheap), and the per-doc rollup is a
    * (w) equi-join + map-side-combinable aggregate — the q232 shape.
    */
  val q241BpeApply: QuerySpec = QuerySpec.oracled(
    "q241_bpe_apply",
    s"""WITH tok AS (
       |  SELECT doc_id, unnest($toksSql) AS w FROM documents),
       |aw AS (SELECT doc_id, w FROM tok WHERE regexp_full_match(w, '[a-z]+')),
       |wf AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM aw GROUP BY w),
       |s0 AS (
       |  SELECT rtrim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS ts, freq
       |  FROM wf),
       |${bpeIterSql("s0", "p1", "b1", "s1")},
       |${bpeIterSql("s1", "p2", "b2", "s2")},
       |${bpeIterSql("s2", "p3", "b3", "s3")},
       |v0 AS (
       |  SELECT w, rtrim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS ts
       |  FROM (SELECT DISTINCT w FROM aw)),
       |${bpeApplySql("v0", "b1", "v1")},
       |${bpeApplySql("v1", "b2", "v2")},
       |${bpeApplySql("v2", "b3", "v3")},
       |vn AS (
       |  SELECT w, CAST(len(string_split(ts, ' ')) AS BIGINT) AS n_sub
       |  FROM v3)
       |SELECT aw.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(vn.n_sub) AS BIGINT) AS n_subwords,
       |  CAST(sum(vn.n_sub) * 1000000 // count(*) AS BIGINT)
       |    AS sub_per_word_ppm
       |FROM aw JOIN vn USING (w)
       |GROUP BY aw.doc_id
       |ORDER BY aw.doc_id""".stripMargin) { (spark, dir) =>
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val rules = graft.ext.Bpe.trainMerges(docs, "text", numMerges = 3)
    val aw = docs
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
    val vn = graft.ext.Bpe.applyMerges(
        aw.select("w").distinct(), rules, numMerges = 3)
      .select(col("w"),
        size(split(col("ts"), " ")).cast("long").as("n_sub"))
    aw.join(vn, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("n_sub").as("n_subwords"))
      .withColumn("sub_per_word_ppm",
        expr("n_subwords * 1000000 div n_words"))
      .orderBy("doc_id")
  }

  /** Vocabulary growth curve (the Heaps'-law saturation audit: is more
    * data still adding new tokens, or has the corpus's vocabulary
    * plateaued?): each token's FIRST-SEEN document (min doc_id) is one
    * map-side-combinable aggregate, and the cumulative vocabulary at each
    * decile boundary of the doc_id range is a tiny broadcast-ladder
    * rollup over |vocab| rows — no per-prefix recount, which is what
    * makes the curve computable in one corpus pass at 100 TB. Boundaries
    * derive from max(doc_id) so the query is closed over its input.
    */
  val q242VocabGrowth: QuerySpec = QuerySpec.oracled(
    "q242_vocab_growth",
    s"""WITH tok AS (
       |  SELECT doc_id, unnest($toksSql) AS tok FROM documents),
       |fs AS (SELECT tok, min(doc_id) AS first_doc FROM tok GROUP BY tok),
       |mx AS (SELECT max(doc_id) AS m FROM documents),
       |dec AS (SELECT unnest(range(1, 11)) AS decile),
       |bound AS (
       |  SELECT decile, (mx.m + 1) * decile // 10 - 1 AS b
       |  FROM dec CROSS JOIN mx)
       |SELECT CAST(bound.decile AS BIGINT) AS decile,
       |  CAST(bound.b AS BIGINT) AS max_doc_id,
       |  CAST(count(*) FILTER (fs.first_doc <= bound.b) AS BIGINT)
       |    AS vocab_cum
       |FROM bound CROSS JOIN fs
       |GROUP BY bound.decile, bound.b
       |ORDER BY decile""".stripMargin) { (spark, dir) =>
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val fs = docs
      .select(col("doc_id"), explode(TextStats.tokensCol("text")).as("tok"))
      .groupBy("tok")
      .agg(min("doc_id").as("first_doc"))
    val bound = docs.agg(max("doc_id").as("m"))
      .crossJoin(spark.range(1, 11).toDF("decile"))
      .select(col("decile"),
        expr("(m + 1) * decile div 10 - 1").as("b"))
    fs.crossJoin(broadcast(bound))
      .groupBy("decile", "b")
      .agg(sum(when(col("first_doc") <= col("b"), 1L).otherwise(0L))
        .as("vocab_cum"))
      .select(col("decile"), col("b").as("max_doc_id"), col("vocab_cum"))
      .orderBy("decile")
  }

  /** Integer unigram surprisal ([[graft.ext.TextStats.surprisalBits]]):
    * per-token `floor(log2(N div c))` via `length(bin(N div c)) - 1` — a
    * perplexity-style quality signal with NO floating log anywhere, so both
    * engines agree bit-for-bit.
    */
  val q232SurprisalBits: QuerySpec = QuerySpec.oracled(
    "q232_surprisal_bits",
    s"""WITH tok AS (
       |  SELECT doc_id, unnest($toksSql) AS tok FROM documents),
       |vc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY tok),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM vc),
       |sc AS (
       |  SELECT t.doc_id,
       |    CAST(length(bin(tot.n // vc.c)) - 1 AS BIGINT) AS bits
       |  FROM tok t JOIN vc ON t.tok = vc.tok CROSS JOIN tot)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
       |  CAST(sum(bits) AS BIGINT) AS surprisal_bits,
       |  CAST(sum(bits) * 1000 // count(*) AS BIGINT) AS avg_millibits
       |FROM sc GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    graft.ext.TextStats.surprisalBits(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
      .orderBy("doc_id")
  }

  /** Fixed-weight linear quality classifier
    * ([[graft.ext.TextStats.classifierMargin]]): integer margin from capped
    * token count + stopword/digit/uppercase densities in basis points —
    * the fastText-style keep/drop filter as a zero-shuffle projection.
    */
  val q233ClassifierMargin: QuerySpec = QuerySpec.oracled(
    "q233_classifier_margin",
    s"""WITH f AS (
       |  ${TextStats.classifierFeatureSql("doc_id")}),
       |bp AS (
       |  ${TextStats.classifierBpSql})
       |SELECT doc_id, n_chars, n_toks, n_stop, n_digit, n_upper,
       |  stop_bp, digit_bp, upper_bp,
       |  ${TextStats.classifierMarginSqlExpr} AS margin,
       |  (${TextStats.classifierMarginSqlExpr}) > 0 AS keep
       |FROM bp
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    graft.ext.TextStats.classifierMargin(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
      .orderBy("doc_id")
  }

  /** End-to-end curation pipeline — the three new scoring operators
    * COMPOSED in the order a real training-data build runs them:
    * (1) quality gate ([[graft.ext.TextStats.classifierMargin]], keep
    * only margin > 0), (2) exact dedup on md5(text) keeping the lowest
    * doc_id, (3) integer surprisal over the SURVIVING corpus (vocab
    * counts see only curated text — order matters and the oracle replays
    * it), banded low/mid/high. One adjudicated report row per
    * (lang, band): doc count, token total, id checksum. Every stage is
    * the already-audited scale shape (zero-shuffle gate, one hash
    * aggregate, the q232 join) — composition adds no new shuffle class.
    */
  val q235CurationPipeline: QuerySpec = QuerySpec.oracled(
    "q235_curation_pipeline",
    s"""WITH f AS (
       |  ${TextStats.classifierFeatureSql("doc_id")}),
       |bp AS (
       |  ${TextStats.classifierBpSql}),
       |kp AS (
       |  SELECT doc_id FROM bp
       |  WHERE (${TextStats.classifierMarginSqlExpr}) > 0),
       |k AS (
       |  SELECT d.doc_id, d.lang, d.text
       |  FROM documents d JOIN kp ON d.doc_id = kp.doc_id),
       |sv AS (
       |  SELECT min(doc_id) AS doc_id FROM k GROUP BY md5(text)),
       |c AS (SELECT k.* FROM k JOIN sv ON k.doc_id = sv.doc_id),
       |tok AS (
       |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)),
       |    '\\s+')) AS tok FROM c),
       |vc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY tok),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM vc),
       |sc AS (
       |  SELECT t.doc_id,
       |    CAST(length(bin(tot.n // vc.c)) - 1 AS BIGINT) AS bits
       |  FROM tok t JOIN vc ON t.tok = vc.tok CROSS JOIN tot),
       |d2 AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
       |    CAST(sum(bits) * 1000 // count(*) AS BIGINT) AS avg_millibits
       |  FROM sc GROUP BY doc_id),
       |rep AS (
       |  SELECT c.lang,
       |    CASE WHEN d2.avg_millibits < 4050 THEN 'low'
       |         WHEN d2.avg_millibits < 4250 THEN 'mid'
       |         ELSE 'high' END AS band,
       |    c.doc_id, d2.n_toks
       |  FROM c JOIN d2 ON c.doc_id = d2.doc_id)
       |SELECT lang, band, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_toks) AS BIGINT) AS total_toks,
       |  CAST(sum(doc_id) AS BIGINT) AS id_sum
       |FROM rep GROUP BY lang, band
       |ORDER BY lang, band""".stripMargin) { (spark, dir) =>
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val kept = TextStats.classifierMargin(docs, "doc_id", "text")
      .filter(col("keep")).select("doc_id")
    val k = docs.join(kept, "doc_id")
    val surv = k.groupBy(md5(col("text")).as("__h"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val curated = k.join(surv, "doc_id")
    val sb = TextStats.surprisalBits(curated, "doc_id", "text")
      .select(col("doc_id"), col("n_toks"), col("avg_millibits"))
    curated.select(col("doc_id"), col("lang"))
      .join(sb, "doc_id")
      .withColumn("band",
        when(col("avg_millibits") < 4050, "low")
          .when(col("avg_millibits") < 4250, "mid")
          .otherwise("high"))
      .groupBy("lang", "band")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_toks").as("total_toks"),
        sum("doc_id").as("id_sum"))
      .orderBy("lang", "band")
  }

  /** DSIR-shaped data selection ([[graft.ext.Dsir]]): every document
    * scored by its summed integer log₂ target/source feature ratios
    * (hashed unigram presence, add-one smoothing, 2²⁰ fixed point), then
    * the deterministic top-200 selected — the importance-resampling
    * recipe for steering a 100 TB crawl toward a target distribution
    * (here: English), with the Gumbel noise replaced by the
    * temperature-0 total order so the oracle replays feature hashing,
    * the ratio table, every score, and the selection boundary exactly.
    * Adjudicated as the selected set's per-language census — the
    * mixture shift IS the result.
    */
  val q264DsirSelection: QuerySpec = QuerySpec.oracled(
    "q264_dsir_selection",
    s"""WITH tok AS (
       |  SELECT doc_id, lang,
       |    unnest(list_filter($toksSql, x -> x <> '')) AS tok
       |  FROM documents),
       |pr AS (
       |  SELECT DISTINCT doc_id, lang,
       |    ('0x' || substr(md5('dsir:' || tok), 1, 15))::BIGINT % 4096
       |      AS feat
       |  FROM tok),
       |fb AS (
       |  SELECT feat,
       |    CAST(length(bin(
       |      ((count(CASE WHEN lang = 'en' THEN 1 END) + 1) * 1048576)
       |        // (count(*) + 1))) - 1 - 20 AS BIGINT) AS bits
       |  FROM pr GROUP BY feat),
       |sc AS (
       |  SELECT pr.doc_id, pr.lang, CAST(sum(fb.bits) AS BIGINT)
       |    AS score_bits
       |  FROM pr JOIN fb USING (feat) GROUP BY 1, 2),
       |sel AS (
       |  SELECT * FROM (
       |    SELECT doc_id, lang, score_bits,
       |      row_number() OVER (ORDER BY score_bits DESC, doc_id) AS rn
       |    FROM sc) WHERE rn <= 200)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_sel,
       |  CAST(sum(score_bits) AS BIGINT) AS score_sum,
       |  CAST(sum(doc_id) AS BIGINT) AS id_sum
       |FROM sel GROUP BY lang ORDER BY lang""".stripMargin) { (spark, dir) =>
    import graft.ext.Dsir
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val scored = Dsir.importanceScores(docs, "doc_id", "text",
      col("lang") === "en", buckets = 4096, carryCols = Seq("lang"))
    Dsir.selectTopN(scored, "doc_id", 200)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sel"),
        sum("score_bits").as("score_sum"),
        sum("doc_id").as("id_sum"))
      .orderBy("lang")
  }

  private val q270Staging = new QuerySpec.StagingCache[String]

  /** Stage `documents` as TWO parquet files (doc_id parity split — each
    * document arrives WHOLE in one batch, the precondition for presence
    * counts to be mergeable) for the DSIR maintenance stream. Memoized
    * per sf dir.
    */
  private def stageQ270(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    q270Staging.getOrStage(dir) {
      val staged = new java.io.File(QuerySpec.stagedPath("q270_docs", dir))
      org.apache.commons.io.FileUtils.deleteQuietly(staged)
      staged.mkdirs()
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "lang", "text")
      docs.filter(col("doc_id") % 2 === 0).coalesce(1)
        .write.parquet(s"$staged/00")
      QuerySpec.flattenPart(spark, staged.toString, "00", "a.parquet")
      docs.filter(col("doc_id") % 2 === 1).coalesce(1)
        .write.parquet(s"$staged/01")
      QuerySpec.flattenPart(spark, staged.toString, "01", "b.parquet")
      staged.toString
    }

  /** q264's DSIR fit MAINTAINED over a two-file document stream
    * ([[graft.ext.Dsir.countsFromPairs]]/[[graft.ext.Dsir.mergeCounts]]):
    * each micro-batch's (feat, t_c, s_c) presence-count table merges into
    * the persisted table by per-feature integer sum (temp-write + swap,
    * the q256/q259 state discipline). Counts are the fit's SUFFICIENT
    * STATISTIC and integer sums are order-independent, so the maintained
    * ratio table — and every bit score and the top-200 selection off it —
    * equals the one-shot batch fit EXACTLY, at any ingest split that
    * delivers documents whole. State is ≤ `buckets` rows per fold at any
    * corpus scale. Adjudicated as q264's selection census PLUS the ratio
    * table's own fingerprint (count / Σbits / Σfeat·bits), both replayed
    * by the oracle from scratch.
    */
  val q270DsirStream: QuerySpec = QuerySpec.oracled(
    "q270_dsir_stream",
    s"""WITH tok AS (
       |  SELECT doc_id, lang,
       |    unnest(list_filter($toksSql, x -> x <> '')) AS tok
       |  FROM documents),
       |pr AS (
       |  SELECT DISTINCT doc_id, lang,
       |    ('0x' || substr(md5('dsir:' || tok), 1, 15))::BIGINT % 4096
       |      AS feat
       |  FROM tok),
       |fb AS (
       |  SELECT feat,
       |    CAST(length(bin(
       |      ((count(CASE WHEN lang = 'en' THEN 1 END) + 1) * 1048576)
       |        // (count(*) + 1))) - 1 - 20 AS BIGINT) AS bits
       |  FROM pr GROUP BY feat),
       |fp AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_feats,
       |    CAST(sum(bits) AS BIGINT) AS bits_sum,
       |    CAST(sum(feat * bits) AS BIGINT) AS bits_fp
       |  FROM fb),
       |sc AS (
       |  SELECT pr.doc_id, pr.lang, CAST(sum(fb.bits) AS BIGINT)
       |    AS score_bits
       |  FROM pr JOIN fb USING (feat) GROUP BY 1, 2),
       |sel AS (
       |  SELECT * FROM (
       |    SELECT doc_id, lang, score_bits,
       |      row_number() OVER (ORDER BY score_bits DESC, doc_id) AS rn
       |    FROM sc) WHERE rn <= 200)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_sel,
       |  CAST(sum(score_bits) AS BIGINT) AS score_sum,
       |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
       |  fp.n_feats, fp.bits_sum, fp.bits_fp
       |FROM sel CROSS JOIN fp
       |GROUP BY lang, fp.n_feats, fp.bits_sum, fp.bits_fp
       |ORDER BY lang""".stripMargin) { (spark, dir) =>
    import graft.ext.Dsir
    import org.apache.spark.sql.streaming.Trigger
    val buckets = 4096
    val staged = stageQ270(spark, dir)
    val stateDir = QuerySpec.stagedPath("q270_state", dir)
    val ckpt = QuerySpec.stagedPath("q270_ckpt", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stateDir))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val schema = spark.read.parquet(s"$staged/a.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged)
    spark.streams.active.filter(_.name == "q270_fold").foreach(_.stop())
    val q = stream.writeStream
      .queryName("q270_fold")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // r10: the per-batch fit state is ≤ `buckets` rows and the
        // count aggregation's working set is the batch's feature
        // explosion — size-gate the fixed-cost scope on the staged
        // backlog bytes (one job per state swap below the gate)
        graft.conf.Tuning.withSmallInputScope(batch.sparkSession,
          graft.conf.Tuning.dirBytes(batch.sparkSession, staged)) {
          val batchCounts = Dsir.countsFromPairs(
            Dsir.hashedFeatures(
              batch.withColumn("_dsir_target", col("lang") === "en"),
              "doc_id", "text", buckets, carryCols = Seq("_dsir_target")),
            "_dsir_target")
          val state = new java.io.File(stateDir)
          val next =
            if (state.exists())
              Dsir.mergeCounts(batchCounts,
                batch.sparkSession.read.parquet(stateDir))
            else batchCounts
          val tmp = s"${stateDir}__next"
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
          next.coalesce(1).write.parquet(tmp)
          org.apache.commons.io.FileUtils.deleteQuietly(state)
          if (!new java.io.File(tmp).renameTo(state))
            throw new IllegalStateException(s"state swap failed: $tmp")
        }
        ()
      }
      .start()
    q.awaitTermination()
    // the maintained table IS the fit: bits + fingerprint come straight
    // off the persisted state, no corpus rescan
    val counts = spark.read.parquet(stateDir)
    val bits = Dsir.bitsFromCounts(counts)
    val fp = bits.agg(
      count(lit(1)).as("n_feats"),
      sum("bits").as("bits_sum"),
      sum(col("feat") * col("bits")).as("bits_fp"))
    // scoring rescans the corpus by definition (every document needs a
    // score); the RATIO TABLE is what the stream maintained
    val docs = spark.read.parquet(s"$staged/a.parquet")
      .unionByName(spark.read.parquet(s"$staged/b.parquet"))
    val pairs = Dsir.hashedFeatures(
      docs, "doc_id", "text", buckets, carryCols = Seq("lang"))
    val scored = Dsir.scoresFromPairs(pairs, bits, "doc_id",
      carryCols = Seq("lang"))
    Dsir.selectTopN(scored, "doc_id", 200)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sel"),
        sum("score_bits").as("score_sum"),
        sum("doc_id").as("id_sum"))
      .crossJoin(broadcast(fp))
      .orderBy("lang")
  }.withSetup((s, d) => { stageQ270(s, d); () })

  /** q272's oracle, generated: the whole unigram-LM training loop
    * ([[graft.ext.Unigram.train]]) unrolled in DuckDB — seeding, then
    * each hard-EM round's cost table, the per-word Viterbi DP position
    * by position (each position takes the (cost, np, seg)-lexicographic
    * minimum over its ≤ `maxPieceLen` predecessors — the same total
    * tie-break order as the Spark `array_min` over structs), the
    * recount from best segmentations, and the prune. Generating the
    * string (rounds × word positions of CTEs) keeps the operation order
    * in lockstep with the Scala loop, the q262 technique.
    */
  private def q272OracleSql(
      rounds: Int, multiKeep: Int, maxPieceLen: Int,
      maxWordLen: Int, applyCensus: Boolean = false): String = {
    val scale = 1L << 20
    def costCtes(r: Int, vocab: String): String =
      s"""t$r AS MATERIALIZED (
         |  SELECT sum(cnt) + count(*) AS d FROM $vocab),
         |c$r AS MATERIALIZED (
         |  SELECT piece,
         |    CAST(21 - length(bin(((cnt + 1) * $scale) // t.d)) AS BIGINT)
         |      AS bits
         |  FROM $vocab, t$r t)""".stripMargin
    def dpCtes(r: Int): String = {
      val perPos = (1 to maxWordLen).map { j =>
        val preds = (math.max(0, j - maxPieceLen) until j).map { i =>
          s"""  SELECT d.w, d.freq, d.cost + c.bits AS cost,
             |    d.np + 1 AS np,
             |    CASE WHEN d.seg = '' THEN substr(d.w, ${i + 1}, ${j - i})
             |         ELSE d.seg || ' ' || substr(d.w, ${i + 1}, ${j - i})
             |         END AS seg
             |  FROM d${r}_$i d JOIN c$r c
             |    ON c.piece = substr(d.w, ${i + 1}, ${j - i})
             |  WHERE len(d.w) >= $j""".stripMargin
        }.mkString("\n  UNION ALL\n")
        s"""d${r}_${j}c AS MATERIALIZED (
           |$preds),
           |d${r}_$j AS MATERIALIZED (
           |  SELECT w, freq, cost, np, seg FROM (
           |    SELECT *, row_number() OVER (PARTITION BY w
           |      ORDER BY cost, np, seg) AS rk
           |    FROM d${r}_${j}c) WHERE rk = 1)""".stripMargin
      }.mkString(",\n")
      s"""d${r}_0 AS MATERIALIZED (
         |  SELECT w, freq, CAST(0 AS BIGINT) AS cost, 0 AS np, '' AS seg
         |  FROM wf),
         |$perPos""".stripMargin
    }
    def roundCtes(r: Int, prevVocab: String): String = {
      val fin = (1 to maxWordLen)
        .map(j => s"  SELECT freq, seg FROM d${r}_$j WHERE len(w) = $j")
        .mkString("\n  UNION ALL\n")
      s"""${costCtes(r, prevVocab)},
         |${dpCtes(r)},
         |f$r AS MATERIALIZED (
         |$fin),
         |n$r AS MATERIALIZED (
         |  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq, unnest(string_split(seg, ' ')) AS piece
         |    FROM f$r)
         |  GROUP BY piece),
         |rc$r AS MATERIALIZED (
         |  SELECT v.piece, CAST(COALESCE(n.cnt, 0) AS BIGINT) AS cnt
         |  FROM $prevVocab v LEFT JOIN n$r n USING (piece)),
         |v$r AS MATERIALIZED (
         |  SELECT piece, cnt FROM rc$r WHERE len(piece) = 1
         |  UNION ALL
         |  SELECT piece, cnt FROM (
         |    SELECT piece, cnt,
         |      row_number() OVER (ORDER BY cnt DESC, piece) AS rk
         |    FROM rc$r WHERE len(piece) > 1 AND cnt > 0)
         |  WHERE rk <= $multiKeep)""".stripMargin
    }
    val body = (1 to rounds)
      .map(r => roundCtes(r, if (r == 1) "v0" else s"v${r - 1}"))
      .mkString(",\n")
    val prefix = s"""WITH wf AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest($toksSql) AS w FROM documents)
       |  WHERE regexp_matches(w, '^[a-z]+${"$"}') AND len(w) <= $maxWordLen
       |  GROUP BY w),
       |seed AS MATERIALIZED (
       |  SELECT substr(w, CAST(i AS INT), CAST(l AS INT)) AS piece,
       |    CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM wf, range(1, ${maxWordLen + 1}) t1(i),
       |    range(1, ${maxPieceLen + 1}) t2(l)
       |  WHERE i + l - 1 <= len(w)
       |  GROUP BY 1),
       |v0 AS MATERIALIZED (
       |  SELECT piece, cnt FROM seed WHERE len(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt,
       |      row_number() OVER (ORDER BY cnt DESC, piece) AS rk
       |    FROM seed WHERE len(piece) > 1 AND cnt > 0)
       |  WHERE rk <= $multiKeep),
       |$body""".stripMargin
    if (!applyCensus)
      s"""$prefix,
         |tfin AS MATERIALIZED (SELECT sum(cnt) + count(*) AS d FROM v$rounds)
         |SELECT piece, cnt,
         |  CAST(21 - length(bin(((cnt + 1) * $scale) // t.d)) AS BIGINT)
         |    AS bits
         |FROM v$rounds, tfin t
         |ORDER BY piece""".stripMargin
    else {
      // the APPLY pass: one more cost table (over the FINAL vocab — the
      // same scores [[graft.ext.Unigram.train]] returns) + one more
      // Viterbi sweep, then the per-document subword census
      val ar = rounds + 1
      val fa = (1 to maxWordLen)
        .map(j => s"  SELECT w, seg FROM d${ar}_$j WHERE len(w) = $j")
        .mkString("\n  UNION ALL\n")
      s"""$prefix,
         |${costCtes(ar, s"v$rounds")},
         |${dpCtes(ar)},
         |fa AS MATERIALIZED (
         |$fa),
         |vn AS MATERIALIZED (
         |  SELECT w, CAST(len(string_split(seg, ' ')) AS BIGINT) AS n_sub
         |  FROM fa),
         |aw AS (
         |  SELECT doc_id, w FROM (
         |    SELECT doc_id, unnest($toksSql) AS w FROM documents)
         |  WHERE regexp_matches(w, '^[a-z]+${"$"}') AND len(w) <= $maxWordLen)
         |SELECT aw.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(vn.n_sub) AS BIGINT) AS n_subwords,
         |  CAST(sum(vn.n_sub) * 1000000 // count(*) AS BIGINT)
         |    AS sub_per_word_ppm
         |FROM aw JOIN vn USING (w)
         |GROUP BY aw.doc_id
         |ORDER BY aw.doc_id""".stripMargin
    }
  }

  /** Unigram-LM (SentencePiece-style) tokenizer induction
    * ([[graft.ext.Unigram.train]]): the second tokenizer family beside
    * BPE (q231/q241), trained as deterministic hard-EM — whole-bit
    * surprisal costs, Viterbi segmentation under a total tie-break
    * order, exact-integer recounts, coverage-preserving prune — so the
    * oracle REPLAYS the entire training loop (two rounds, every DP
    * position) and the learned vocabulary with per-piece counts and
    * scores must match hash-exact, the q262 adjudication standard
    * applied to tokenizer training.
    */
  val q272UnigramVocab: QuerySpec = QuerySpec.oracled(
    "q272_unigram_vocab",
    q272OracleSql(rounds = 2, multiKeep = 120, maxPieceLen = 3,
      maxWordLen = 10)) { (spark, dir) =>
    graft.ext.Unigram.train(
      spark.read.parquet(s"$dir/documents.parquet"), "text",
      rounds = 2, multiKeep = 120, maxPieceLen = 3, maxWordLen = 10)
      .orderBy("piece")
  }

  /** Unigram tokenization APPLIED at corpus scale
    * ([[graft.ext.Unigram.segment]]) — q241's BPE-apply census with the
    * q272 vocabulary: the corpus's trainable words segment ONCE on the
    * distinct-word dictionary (the vocab rides along as a one-row
    * broadcast map), then per-word subword counts broadcast-join back
    * onto the full token stream for the per-document census — the
    * token-budget accounting a pretraining pipeline runs, with the
    * corpus never leaving the one explode + join + aggregate shape.
    * The oracle replays TRAINING AND APPLICATION end to end.
    */
  val q273UnigramApply: QuerySpec = QuerySpec.oracled(
    "q273_unigram_apply",
    q272OracleSql(rounds = 2, multiKeep = 120, maxPieceLen = 3,
      maxWordLen = 10, applyCensus = true)) { (spark, dir) =>
    import graft.ext.Unigram
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val trained = Unigram.train(docs, "text",
      rounds = 2, multiKeep = 120, maxPieceLen = 3, maxWordLen = 10)
    val aw = docs
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .filter(col("w").rlike("^[a-z]+$") && length(col("w")) <= 10)
    val vn = Unigram.segment(aw.select("w").distinct(), trained,
      maxPieceLen = 3)
      .select(col("w"), size(split(col("seg"), " ")).cast("long")
        .as("n_sub"))
    aw.join(vn, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("n_sub").as("n_subwords"))
      .withColumn("sub_per_word_ppm",
        expr("n_subwords * 1000000 div n_words"))
      .orderBy("doc_id")
  }

  /** Bigram conditional surprisal
    * ([[graft.ext.TextStats.bigramSurprisalBits]]): −⌊log₂ P(w₂|w₁)⌋
    * summed per document in exact integers — the repetition-sensitive
    * quality signal q232's unigram model misses (rare words in
    * predictable sequences score high there, low here). Same libm-free
    * floor-log₂, replayed in full by the oracle.
    */
  val q265BigramSurprisal: QuerySpec = QuerySpec.oracled(
    "q265_bigram_surprisal",
    s"""WITH tk AS (
       |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, toks[t.p + 1] AS w1,
       |    toks[t.p + 1] || ' ' || toks[t.p + 2] AS bgm
       |  FROM tk, UNNEST(range(len(toks) - 1)) AS t(p)),
       |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
       |c12 AS (SELECT bgm, count(*) AS c12 FROM bg GROUP BY bgm),
       |sc AS (
       |  SELECT b.doc_id,
       |    CAST(length(bin(c1.c1 // c12.c12)) - 1 AS BIGINT) AS bits
       |  FROM bg b JOIN c12 ON b.bgm = c12.bgm JOIN c1 ON b.w1 = c1.w1)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |  CAST(sum(bits) AS BIGINT) AS bigram_bits,
       |  CAST(sum(bits) * 1000 // count(*) AS BIGINT) AS avg_millibits
       |FROM sc GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    graft.ext.TextStats.bigramSurprisalBits(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
      .orderBy("doc_id")
  }

  /** Decontamination sensitivity curve
    * ([[graft.ext.Decontaminate.sensitivityCurve]]): the q58 rule
    * evaluated at gram lengths 3/5/8 against the same benchmark split —
    * the audit that justifies a gram size before the production
    * decontamination pass (short grams over-flag, long grams miss
    * paraphrase). One broadcast semi-join per rung; the oracle replays
    * each rung's gram build, overlap counts, and the exact-ppm rollup.
    */
  val q284DecontamCurve: QuerySpec = QuerySpec.oracled(
    "q284_decontam_curve", {
      def gramExpr(k: Int): String =
        (0 until k).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
      val rungs = Seq(3, 5, 8)
      val ctes = rungs.map { k =>
        s"""g$k AS (
           |  SELECT doc_id, list_distinct(list_transform(
           |    range(1, len(toks) - ${k - 2}), i -> ${gramExpr(k)})) AS s
           |  FROM tk),
           |bg$k AS (SELECT DISTINCT unnest(s) AS gram FROM g$k
           |         WHERE doc_id % 20 = 0),
           |cg$k AS (SELECT doc_id, unnest(s) AS gram FROM g$k
           |         WHERE doc_id % 20 <> 0),
           |h$k AS (
           |  SELECT cg$k.doc_id, count(*) AS n_overlap
           |  FROM cg$k JOIN bg$k USING (gram) GROUP BY 1),
           |r$k AS (
           |  SELECT CAST($k AS BIGINT) AS gram_k,
           |    CAST(count(*) AS BIGINT) AS n_docs,
           |    CAST(sum(CASE WHEN coalesce(h$k.n_overlap, 0) >= 3
           |      THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           |    CAST(sum(CASE WHEN coalesce(h$k.n_overlap, 0) >= 3
           |      THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
           |      AS flagged_ppm,
           |    CAST(sum(coalesce(h$k.n_overlap, 0)) AS BIGINT)
           |      AS total_overlap
           |  FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
           |  LEFT JOIN h$k ON h$k.doc_id = d.doc_id)""".stripMargin
      }.mkString(",\n")
      val union = rungs.map(k => s"SELECT * FROM r$k")
        .mkString("\n  UNION ALL ")
      s"""WITH tk AS (
         |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks
         |  FROM documents),
         |$ctes
         |$union
         |ORDER BY gram_k""".stripMargin
    }) { (spark, dir) =>
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    graft.ext.Decontaminate.sensitivityCurve(
      corpus = docs.filter(col("doc_id") % 20 =!= 0),
      benchmark = docs.filter(col("doc_id") % 20 === 0),
      idCol = "doc_id", textCol = "text", ks = Seq(3, 5, 8),
      minOverlap = 3)
      .orderBy("gram_k")
  }

  /** q276's stupid-backoff scoring as a reusable WITH-body: per-trigram
    * (doc_id, lvl, bits) rows in `sc`, trained on the even-id half —
    * shared by q276 (per-doc rollup) and q287 (CCNet bucketing on top).
    */
  /** The shared token/trigram CTEs every backoff replay starts from. */
  private val backoffBaseCtes: String =
    s"""tk AS (
       |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks
       |  FROM documents),
       |tg AS (
       |  SELECT doc_id, toks[t.p + 1] AS w1, toks[t.p + 2] AS w2,
       |    toks[t.p + 3] AS w3
       |  FROM tk, UNNEST(range(len(toks) - 2)) AS t(p))""".stripMargin

  /** One trained backoff LM's count + scoring CTEs, name-prefixed with
    * `p` so two LMs (q291's in-domain vs general) coexist in one WITH.
    * `trainPred` is a boolean over `doc_id` selecting the training docs.
    * With p = "" and the even-id predicate this is exactly q276's chain.
    */
  private def backoffLmCtes(p: String, trainPred: String): String =
    s"""${p}ttg AS (SELECT * FROM tg WHERE $trainPred),
       |${p}tbg AS (
       |  SELECT toks[t.p + 1] AS w2, toks[t.p + 2] AS w3
       |  FROM tk, UNNEST(range(len(toks) - 1)) AS t(p)
       |  WHERE $trainPred),
       |${p}tun AS (
       |  SELECT unnest(toks) AS w FROM tk WHERE $trainPred),
       |${p}c123 AS (SELECT w1, w2, w3, count(*) AS c123 FROM ${p}ttg
       |         GROUP BY 1, 2, 3),
       |${p}c12 AS (SELECT w1, w2, count(*) AS c12 FROM ${p}ttg
       |         GROUP BY 1, 2),
       |${p}c23 AS (SELECT w2, w3, count(*) AS c23 FROM ${p}tbg
       |         GROUP BY 1, 2),
       |${p}c2 AS (SELECT w2, count(*) AS c2 FROM ${p}tbg GROUP BY 1),
       |${p}c3 AS (SELECT w AS w3, count(*) AS c3 FROM ${p}tun
       |         GROUP BY 1),
       |${p}nn AS (SELECT count(*) AS n FROM ${p}tun),
       |${p}sc AS (
       |  SELECT tg.doc_id,
       |    CASE WHEN c123.c123 IS NOT NULL THEN 0
       |         WHEN c23.c23 IS NOT NULL THEN 1 ELSE 2 END AS lvl,
       |    CASE WHEN c123.c123 IS NOT NULL
       |           THEN length(bin(c12.c12 // c123.c123)) - 1
       |         WHEN c23.c23 IS NOT NULL
       |           THEN 2 + length(bin(c2.c2 // c23.c23)) - 1
       |         ELSE 4 + length(bin(nn.n //
       |           greatest(coalesce(c3.c3, 0), 1))) - 1 END AS bits
       |  FROM tg
       |  LEFT JOIN ${p}c123 c123 ON tg.w1 = c123.w1 AND tg.w2 = c123.w2
       |    AND tg.w3 = c123.w3
       |  LEFT JOIN ${p}c12 c12 ON tg.w1 = c12.w1 AND tg.w2 = c12.w2
       |  LEFT JOIN ${p}c23 c23 ON tg.w2 = c23.w2 AND tg.w3 = c23.w3
       |  LEFT JOIN ${p}c2 c2 ON tg.w2 = c2.w2
       |  LEFT JOIN ${p}c3 c3 ON tg.w3 = c3.w3
       |  CROSS JOIN ${p}nn nn)""".stripMargin

  private val backoffScoreCtes: String =
    backoffBaseCtes + ",\n" + backoffLmCtes("", "doc_id % 2 = 0")

  /** Stupid-backoff trigram scoring
    * ([[graft.ext.TextStats.trigramBackoffBits]] — Brants et al. 2007):
    * counts train on the even-id half of the corpus, ALL documents score
    * against them, so held-out odd-id documents genuinely exercise the
    * trigram → bigram → unigram backoff ladder (2 exact bits per level,
    * α = 1/4). The oracle replays counts, the three-way CASE, and the
    * per-doc rollup in pure integer arithmetic.
    */
  val q276TrigramBackoff: QuerySpec = QuerySpec.oracled(
    "q276_trigram_backoff",
    s"""WITH $backoffScoreCtes
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
       |  CAST(sum(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tri,
       |  CAST(sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bi,
       |  CAST(sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_uni,
       |  CAST(sum(bits) AS BIGINT) AS backoff_bits,
       |  CAST(sum(bits) * 1000 // count(*) AS BIGINT) AS avg_millibits
       |FROM sc GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    graft.ext.TextStats.trigramBackoffBits(
      docs.filter(col("doc_id") % 2 === 0), docs, "doc_id", "text")
      .orderBy("doc_id")
  }

  /** CCNet perplexity bucketing
    * ([[graft.ext.TextStats.perplexityBuckets]] — Wenzek et al. 2020
    * head/middle/tail): per-language tertile thresholds fit on the
    * q276 trigram-LM scores (values at ranks ⌈n/3⌉ and ⌈2n/3⌉ in
    * (score, doc_id) order), every scored doc assigned BY VALUE against
    * the broadcast threshold table — the fit-then-map-side-assign split
    * that scales. The oracle replays the scoring CTEs, the rank
    * extraction, and the value assignment in exact integers.
    */
  val q287PerplexityBuckets: QuerySpec = QuerySpec.oracled(
    "q287_perplexity_buckets",
    s"""WITH $backoffScoreCtes,
       |pd AS (
       |  SELECT doc_id, CAST(sum(bits) * 1000 // count(*) AS BIGINT)
       |    AS avg_millibits
       |  FROM sc GROUP BY doc_id),
       |sl AS (
       |  SELECT pd.doc_id, d.lang, pd.avg_millibits
       |  FROM pd JOIN documents d ON pd.doc_id = d.doc_id),
       |rk AS (
       |  SELECT sl.*,
       |    row_number() OVER (PARTITION BY lang
       |      ORDER BY avg_millibits, doc_id) AS r,
       |    count(*) OVER (PARTITION BY lang) AS n
       |  FROM sl),
       |th AS (
       |  SELECT lang,
       |    min(CASE WHEN r = (n + 2) // 3 THEN avg_millibits END) AS t1,
       |    min(CASE WHEN r = (2 * n + 2) // 3 THEN avg_millibits END)
       |      AS t2
       |  FROM rk WHERE r = (n + 2) // 3 OR r = (2 * n + 2) // 3
       |  GROUP BY lang)
       |SELECT sl.doc_id, sl.lang, sl.avg_millibits,
       |  CASE WHEN sl.avg_millibits <= th.t1 THEN 'head'
       |       WHEN sl.avg_millibits <= th.t2 THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM sl JOIN th ON sl.lang = th.lang
       |ORDER BY sl.doc_id""".stripMargin) { (spark, dir) =>
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    graft.ext.TextStats.perplexityBuckets(
      docs.filter(col("doc_id") % 2 === 0), docs,
      "doc_id", "text", "lang")
      .orderBy("doc_id")
  }

  /** Shared WITH-body replaying [[graft.ext.TextStats.gopherRuleCard]]:
    * per-doc independent rule booleans in `gc`. Used by q288 (the card)
    * and q289 (the attribution report).
    */
  private val gopherCardCtes: String = {
    val stops = graft.ext.TextStats.GopherStopWords
      .map(s => s"'$s'").mkString("[", ", ", "]")
    s"""tk AS (
       |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks,
       |    string_split(text, chr(10)) AS lns, text
       |  FROM documents),
       |gc AS (
       |  SELECT doc_id,
       |    CAST(len(toks) AS BIGINT) AS n_words,
       |    (len(toks) BETWEEN 50 AND 100000) AS ok_word_count,
       |    (coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
       |      BETWEEN 3 * len(toks) AND 10 * len(toks)) AS ok_mean_len,
       |    ((length(text) - length(replace(text, '#', ''))
       |      + len(regexp_extract_all(text, '\\.\\.\\.'))) * 10
       |      <= len(toks)) AS ok_symbols,
       |    (len(list_filter(lns, l -> regexp_matches(trim(l),
       |      '^[-*•]'))) * 10 <= len(lns) * 9) AS ok_bullets,
       |    (len(list_filter(lns, l -> regexp_matches(trim(l),
       |      '(\\.\\.\\.|…)${"$"}'))) * 10 <= len(lns) * 3) AS ok_ellipsis,
       |    (len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) * 5
       |      >= len(toks) * 4) AS ok_alpha,
       |    (len(list_intersect(list_distinct(toks), $stops)) >= 2)
       |      AS ok_stops
       |  FROM tk)""".stripMargin
  }

  private val gopherRuleNames = Seq("ok_word_count", "ok_mean_len",
    "ok_symbols", "ok_bullets", "ok_ellipsis", "ok_alpha", "ok_stops")

  /** Gopher rule card ([[graft.ext.TextStats.gopherRuleCard]] — Rae et
    * al. 2021 App. A1.1): the seven named quality rules as INDEPENDENT
    * per-doc booleans (q149's funnel is first-fail; threshold tuning
    * needs the full matrix). All arithmetic is integer
    * cross-multiplication; the oracle replays every rule expression.
    */
  val q288GopherCard: QuerySpec = QuerySpec.oracled(
    "q288_gopher_card",
    s"""WITH $gopherCardCtes
       |SELECT doc_id, n_words, ${gopherRuleNames.mkString(", ")},
       |  (${gopherRuleNames.mkString(" AND ")}) AS pass
       |FROM gc ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    graft.ext.TextStats.gopherRuleCard(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
      .orderBy("doc_id")
  }

  /** Per-rule failure report with marginal attribution
    * ([[graft.ext.TextStats.gopherRuleReport]]): n_fail per rule plus
    * n_only_fail — docs that relaxing exactly that rule would recover.
    * The report a rule-threshold review reads before changing anything.
    */
  val q289GopherReport: QuerySpec = QuerySpec.oracled(
    "q289_gopher_report",
    s"""WITH $gopherCardCtes,
       |nf AS (
       |  SELECT gc.*,
       |    (${gopherRuleNames
             .map(r => s"(CASE WHEN $r THEN 0 ELSE 1 END)")
             .mkString(" + ")}) AS nfails
       |  FROM gc),
       |st AS (
       |${gopherRuleNames
           .map(r => s"  SELECT '$r' AS rule, $r AS ok, nfails FROM nf")
           .mkString("", "\n  UNION ALL\n", "")})
       |SELECT rule,
       |  CAST(sum(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_fail,
       |  CAST(sum(CASE WHEN NOT ok AND nfails = 1 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_only_fail
       |FROM st GROUP BY rule ORDER BY rule""".stripMargin) {
    (spark, dir) =>
    graft.ext.TextStats.gopherRuleReport(
      graft.ext.TextStats.gopherRuleCard(
        spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text"))
      .orderBy("rule")
  }

  /** Vocabulary coverage curve
    * ([[graft.ext.TextStats.vocabCoverageCurve]]): token-occurrence
    * coverage of the top-4/16/64 vocabulary types — the Zipf-tail audit
    * behind vocab-size decisions. The Spark side bounds the ordered set
    * with TakeOrdered(max rung); the oracle replays the full ranking.
    */
  val q290VocabCoverage: QuerySpec = QuerySpec.oracled(
    "q290_vocab_coverage",
    s"""WITH tok AS (
       |  SELECT unnest(list_filter($toksSql, x -> x <> '')) AS tok
       |  FROM documents),
       |cnt AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
       |tot AS (SELECT sum(c) AS total FROM cnt),
       |rk AS (
       |  SELECT tok, c, row_number() OVER (ORDER BY c DESC, tok) AS rk
       |  FROM cnt),
       |rg AS (SELECT unnest([4, 16, 64]) AS rung)
       |SELECT CAST(rg.rung AS BIGINT) AS rung,
       |  CAST(count(*) AS BIGINT) AS n_types,
       |  CAST(sum(rk.c) AS BIGINT) AS covered_tokens,
       |  CAST(tot.total AS BIGINT) AS total_tokens,
       |  CAST(sum(rk.c) * 1000000 // tot.total AS BIGINT)
       |    AS coverage_ppm
       |FROM rg, rk, tot
       |WHERE rk.rk <= rg.rung
       |GROUP BY rg.rung, tot.total
       |ORDER BY rung""".stripMargin) { (spark, dir) =>
    graft.ext.TextStats.vocabCoverageCurve(
      spark.read.parquet(s"$dir/documents.parquet"),
      "doc_id", "text", rungs = Seq(4, 16, 64))
      .orderBy("rung")
  }

  /** Moore–Lewis cross-entropy-difference selection
    * ([[graft.ext.TextStats.crossEntropySelect]] — Moore & Lewis 2010):
    * in-domain LM trains on one source's docs (src18), the general LM
    * on the even-id half; the 50 docs with the lowest in − general
    * millibit difference are selected. The oracle replays BOTH trained
    * LMs (prefixed CTE chains), the difference, and the rank cut; the
    * Spark side's broadcast threshold selection must agree row-for-row.
    */
  val q291CrossEntropySelect: QuerySpec = QuerySpec.oracled(
    "q291_cross_entropy_select",
    s"""WITH $backoffBaseCtes,
       |${backoffLmCtes("i_",
          "doc_id IN (SELECT doc_id FROM documents WHERE source = 'src18')")},
       |${backoffLmCtes("g_", "doc_id % 2 = 0")},
       |i_pd AS (
       |  SELECT doc_id, CAST(sum(bits) * 1000 // count(*) AS BIGINT)
       |    AS in_millibits
       |  FROM i_sc GROUP BY doc_id),
       |g_pd AS (
       |  SELECT doc_id, CAST(sum(bits) * 1000 // count(*) AS BIGINT)
       |    AS gen_millibits
       |  FROM g_sc GROUP BY doc_id),
       |j AS (
       |  SELECT i_pd.doc_id, in_millibits, gen_millibits,
       |    CAST(in_millibits - gen_millibits AS BIGINT)
       |      AS diff_millibits
       |  FROM i_pd JOIN g_pd ON i_pd.doc_id = g_pd.doc_id)
       |SELECT doc_id, in_millibits, gen_millibits, diff_millibits,
       |  (row_number() OVER (ORDER BY diff_millibits, doc_id) <= 50)
       |    AS selected
       |FROM j ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    graft.ext.TextStats.crossEntropySelect(
      inDomainTrain = docs.filter(col("source") === "src18"),
      generalTrain = docs.filter(col("doc_id") % 2 === 0),
      docs = docs, idCol = "doc_id", textCol = "text", n = 50)
      .orderBy("doc_id")
  }

  /** PII audit card ([[graft.ext.TextStats.piiAudit]]): emails, 16-digit
    * card candidates split by the Luhn checksum, IPv4 candidates split
    * by octet-range validity. The corpus text carries no PII, so both
    * sides append the SAME deterministic synthetic tail (an email, a
    * doc_id-derived 16-digit number whose Luhn validity varies with the
    * id, and an IP whose second octet walks past 255) — the detector
    * arithmetic, not the fixture, is what the oracle adjudicates.
    */
  val q292PiiAudit: QuerySpec = QuerySpec.oracled(
    "q292_pii_audit",
    s"""WITH aug AS (
       |  SELECT doc_id, text || ' u' || CAST(doc_id AS VARCHAR)
       |    || '@ex.com '
       |    || lpad(CAST(doc_id * 123456789 + 987654321 AS VARCHAR),
       |         16, '0')
       |    || ' 10.' || CAST(doc_id % 300 AS VARCHAR) || '.0.1' AS t
       |  FROM documents),
       |x AS (
       |  SELECT doc_id,
       |    regexp_extract_all(t, '${TextStats.EmailRe}') AS em,
       |    regexp_extract_all(t, '\\d{16}') AS cc,
       |    regexp_extract_all(t,
       |      '\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}') AS ip
       |  FROM aug)
       |SELECT doc_id,
       |  CAST(len(em) AS BIGINT) AS n_emails,
       |  CAST(len(cc) AS BIGINT) AS n_cards,
       |  CAST(len(list_filter(cc, c ->
       |    list_sum(list_transform(range(1, 17), j ->
       |      CASE WHEN j % 2 = 1 THEN
       |        CASE WHEN CAST(substr(c, j::INT, 1) AS INT) * 2 > 9
       |          THEN CAST(substr(c, j::INT, 1) AS INT) * 2 - 9
       |          ELSE CAST(substr(c, j::INT, 1) AS INT) * 2 END
       |        ELSE CAST(substr(c, j::INT, 1) AS INT) END)) % 10 = 0))
       |    AS BIGINT) AS n_cards_valid,
       |  CAST(len(ip) AS BIGINT) AS n_ips,
       |  CAST(len(list_filter(ip, p ->
       |    len(list_filter(string_split(p, '.'),
       |      o -> CAST(o AS INT) > 255)) = 0)) AS BIGINT) AS n_ips_valid
       |FROM x ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val aug = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("text", concat(col("text"),
        lit(" u"), col("doc_id").cast("string"), lit("@ex.com "),
        lpad((col("doc_id") * 123456789L + 987654321L).cast("string"),
          16, "0"),
        lit(" 10."), (col("doc_id") % 300).cast("string"), lit(".0.1")))
    graft.ext.TextStats.piiAudit(aug, "doc_id", "text")
      .orderBy("doc_id")
  }

  /** q289's Gopher rule report MAINTAINED over a micro-batch document
    * stream (the q256 fold loop): per-doc verdicts are independent, so
    * per-batch reports are integer sums that fold exactly — the
    * maintained report equals the one-shot q289 report row-for-row
    * (stream ≡ batch), which is how a continuously-ingesting corpus
    * keeps a live rule-attribution dashboard without rescans.
    */
  val q301GopherReportStream: QuerySpec = QuerySpec.oracled(
    "q301_gopher_report_stream",
    s"""WITH $gopherCardCtes,
       |nf AS (
       |  SELECT gc.*,
       |    (${gopherRuleNames
             .map(r => s"(CASE WHEN $r THEN 0 ELSE 1 END)")
             .mkString(" + ")}) AS nfails
       |  FROM gc),
       |st AS (
       |${gopherRuleNames
           .map(r => s"  SELECT '$r' AS rule, $r AS ok, nfails FROM nf")
           .mkString("", "\n  UNION ALL\n", "")})
       |SELECT rule,
       |  CAST(sum(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_fail,
       |  CAST(sum(CASE WHEN NOT ok AND nfails = 1 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_only_fail
       |FROM st GROUP BY rule ORDER BY rule""".stripMargin) {
    (spark, dir) =>
    import org.apache.spark.sql.streaming.Trigger
    val staged = stageQ270(spark, dir)
    val stateDir = QuerySpec.stagedPath("q301_state", dir)
    val ckpt = QuerySpec.stagedPath("q301_ckpt", dir)
    graft.ext.Reports.reset(spark, stateDir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val schema = spark.read.parquet(s"$staged/a.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged)
    spark.streams.active.filter(_.name == "q301_fold").foreach(_.stop())
    val q = stream.writeStream
      .queryName("q301_fold")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // the library fold: versioned state behind a create-only
        // manifest commit (ext/Reports) — no renames, object-store safe
        graft.ext.Reports.foldSummed(
          batch.sparkSession, stateDir,
          graft.ext.TextStats.gopherRuleReport(
            graft.ext.TextStats.gopherRuleCard(batch, "doc_id", "text")),
          keys = Seq("rule"))
        ()
      }
      .start()
    q.awaitTermination()
    graft.ext.Reports.current(spark, stateDir).get.orderBy("rule")
  }.withSetup((s, d) => { stageQ270(s, d); () })

  /** q308's oracle, generated: the SOFT-EM unigram training loop
    * ([[graft.ext.Unigram.trainSoft]]) unrolled in DuckDB — seeding and
    * prune as q272, but each round's E-step is the true
    * forward-backward: α per word position (each an EXPLICITLY
    * PARENTHESIZED ascending-i chain of IEEE additions — the same order
    * the Spark HOF folds, so the doubles match bit-for-bit), β per
    * position descending, Z = α(len), and every piece occurrence's
    * posterior `freq·α·p·β/Z` fixed-pointed to 2²⁰ units by the same
    * left-to-right multiply/divide chain before the integer recount.
    */
  private def q308OracleSql(
      rounds: Int, multiKeep: Int, maxPieceLen: Int,
      maxWordLen: Int): String = {
    val scale = 1L << 20
    def costCtes(r: Int, vocab: String): String =
      s"""t$r AS MATERIALIZED (
         |  SELECT sum(cnt) + count(*) AS d FROM $vocab),
         |c$r AS MATERIALIZED (
         |  SELECT piece,
         |    CAST(21 - length(bin(((cnt + 1) * $scale) // t.d)) AS BIGINT)
         |      AS bits
         |  FROM $vocab, t$r t)""".stripMargin
    def fwdCtes(r: Int): String = {
      val perPos = (1 to maxWordLen).map { j =>
        val is = (math.max(0, j - maxPieceLen) until j).toSeq
        val joins = is.map { i =>
          s"""  LEFT JOIN fa${r}_$i f$i ON f$i.w = w.w
             |  LEFT JOIN c$r ca$i
             |    ON ca$i.piece = substr(w.w, ${i + 1}, ${j - i})"""
            .stripMargin
        }.mkString("\n")
        val terms = is.map { i =>
          s"""CASE WHEN ca$i.piece IS NULL THEN CAST(0.0 AS DOUBLE)
             |     ELSE f$i.a * power(2.0, -CAST(ca$i.bits AS DOUBLE))
             |     END""".stripMargin
        }.reduce((a, b) => s"($a\n + $b)")
        s"""fa${r}_$j AS MATERIALIZED (
           |  SELECT w.w, w.freq,
           |$terms AS a
           |  FROM wf w
           |$joins
           |  WHERE len(w.w) >= $j)""".stripMargin
      }.mkString(",\n")
      s"""fa${r}_0 AS MATERIALIZED (
         |  SELECT w, freq, CAST(1.0 AS DOUBLE) AS a FROM wf),
         |$perPos""".stripMargin
    }
    def bwdCtes(r: Int): String =
      (maxWordLen to 0 by -1).map { i =>
        val ds = (1 to maxPieceLen).filter(i + _ <= maxWordLen)
        val joins = ds.map { d =>
          s"""  LEFT JOIN fb${r}_${i + d} b$d ON b$d.w = w.w
             |  LEFT JOIN c$r cb$d
             |    ON cb$d.piece = substr(w.w, ${i + 1}, $d)""".stripMargin
        }.mkString("\n")
        val terms =
          if (ds.isEmpty) "CAST(0.0 AS DOUBLE)"
          else ds.map { d =>
            s"""CASE WHEN $i + $d > len(w.w) OR cb$d.piece IS NULL
               |       THEN CAST(0.0 AS DOUBLE)
               |     ELSE power(2.0, -CAST(cb$d.bits AS DOUBLE)) * b$d.b
               |     END""".stripMargin
          }.reduce((a, b) => s"($a\n + $b)")
        s"""fb${r}_$i AS MATERIALIZED (
           |  SELECT w.w,
           |    CASE WHEN len(w.w) = $i THEN CAST(1.0 AS DOUBLE)
           |         ELSE
           |$terms
           |         END AS b
           |  FROM wf w
           |$joins
           |  WHERE len(w.w) >= $i)""".stripMargin
      }.mkString(",\n")
    def roundCtes(r: Int, prevVocab: String): String = {
      val fz = (1 to maxWordLen)
        .map(j => s"  SELECT w, freq, a AS z FROM fa${r}_$j WHERE len(w) = $j")
        .mkString("\n  UNION ALL\n")
      val branches = (for {
        i <- 0 until maxWordLen
        d <- 1 to maxPieceLen if i + d <= maxWordLen
      } yield
        s"""  SELECT c.piece,
           |    CAST(floor(w.freq::DOUBLE * f.a *
           |      power(2.0, -CAST(c.bits AS DOUBLE)) * b.b / z.z *
           |      1048576.0 + 0.5) AS BIGINT) AS ec
           |  FROM wf w
           |  JOIN fa${r}_$i f ON f.w = w.w
           |  JOIN fb${r}_${i + d} b ON b.w = w.w
           |  JOIN fz$r z ON z.w = w.w
           |  JOIN c$r c ON c.piece = substr(w.w, ${i + 1}, $d)
           |  WHERE len(w.w) >= ${i + d}""".stripMargin)
        .mkString("\n  UNION ALL\n")
      s"""${costCtes(r, prevVocab)},
         |${fwdCtes(r)},
         |${bwdCtes(r)},
         |fz$r AS MATERIALIZED (
         |$fz),
         |n$r AS MATERIALIZED (
         |  SELECT piece, CAST(sum(ec) AS BIGINT) AS cnt FROM (
         |$branches)
         |  GROUP BY piece),
         |rc$r AS MATERIALIZED (
         |  SELECT v.piece, CAST(COALESCE(n.cnt, 0) AS BIGINT) AS cnt
         |  FROM $prevVocab v LEFT JOIN n$r n USING (piece)),
         |v$r AS MATERIALIZED (
         |  SELECT piece, cnt FROM rc$r WHERE len(piece) = 1
         |  UNION ALL
         |  SELECT piece, cnt FROM (
         |    SELECT piece, cnt,
         |      row_number() OVER (ORDER BY cnt DESC, piece) AS rk
         |    FROM rc$r WHERE len(piece) > 1 AND cnt > 0)
         |  WHERE rk <= $multiKeep)""".stripMargin
    }
    val body = (1 to rounds)
      .map(r => roundCtes(r, if (r == 1) "v0" else s"v${r - 1}"))
      .mkString(",\n")
    s"""WITH wf AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest($toksSql) AS w FROM documents)
       |  WHERE regexp_matches(w, '^[a-z]+${"$"}') AND len(w) <= $maxWordLen
       |  GROUP BY w),
       |seed AS MATERIALIZED (
       |  SELECT substr(w, CAST(i AS INT), CAST(l AS INT)) AS piece,
       |    CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM wf, range(1, ${maxWordLen + 1}) t1(i),
       |    range(1, ${maxPieceLen + 1}) t2(l)
       |  WHERE i + l - 1 <= len(w)
       |  GROUP BY 1),
       |v0 AS MATERIALIZED (
       |  SELECT piece, cnt FROM seed WHERE len(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt,
       |      row_number() OVER (ORDER BY cnt DESC, piece) AS rk
       |    FROM seed WHERE len(piece) > 1 AND cnt > 0)
       |  WHERE rk <= $multiKeep),
       |$body,
       |tfin AS MATERIALIZED (SELECT sum(cnt) + count(*) AS d FROM v$rounds)
       |SELECT piece, cnt,
       |  CAST(21 - length(bin(((cnt + 1) * $scale) // t.d)) AS BIGINT)
       |    AS bits
       |FROM v$rounds, tfin t
       |ORDER BY piece""".stripMargin
  }

  /** Soft-EM unigram training ([[graft.ext.Unigram.trainSoft]] — the
    * true SentencePiece E-step, closing the hard-EM-only deviation):
    * expected piece counts over ALL segmentations via forward-backward,
    * made oracle-replayable by the ordered-IEEE-chain + immediate
    * fixed-point discipline. The oracle unrolls both rounds' α/β tables
    * position by position and must match the learned vocabulary, every
    * scaled expected count, and every score hash-exact.
    */
  val q308UnigramSoft: QuerySpec = QuerySpec.oracled(
    "q308_unigram_soft",
    q308OracleSql(rounds = 2, multiKeep = 120, maxPieceLen = 3,
      maxWordLen = 10)) { (spark, dir) =>
    graft.ext.Unigram.trainSoft(
      spark.read.parquet(s"$dir/documents.parquet"), "text",
      rounds = 2, multiKeep = 120, maxPieceLen = 3, maxWordLen = 10)
      .orderBy("piece")
  }

  /** Preference-pair builder ([[graft.ext.TextStats.preferencePairs]] —
    * the DPO/RLHF training-example shape beside q297/q298): per
    * (lang, source) group, the best uniq-ratio document (exact ppm,
    * raw-split counting convention) pairs with the worst, kept only when
    * the gap is positive; ties at both ends break on ascending doc_id.
    * Both picks ride ONE group-partitioned exchange.
    */
  val q307PreferencePairs: QuerySpec = QuerySpec.oracled(
    "q307_preference_pairs",
    """WITH t AS (
      |  SELECT doc_id, lang, source,
      |    CAST(len(list_distinct(string_split_regex(lower(trim(text)),
      |      '\s+'))) * 1000000 //
      |      len(string_split_regex(lower(trim(text)), '\s+'))
      |      AS BIGINT) AS score
      |  FROM documents),
      |c AS (
      |  SELECT lang, source, doc_id AS chosen_id, score AS chosen_score,
      |    row_number() OVER (PARTITION BY lang, source
      |      ORDER BY score DESC, doc_id) AS rb
      |  FROM t),
      |r AS (
      |  SELECT lang, source, doc_id AS rejected_id,
      |    score AS rejected_score,
      |    row_number() OVER (PARTITION BY lang, source
      |      ORDER BY score ASC, doc_id) AS rw
      |  FROM t)
      |SELECT c.lang, c.source, c.chosen_id, r.rejected_id,
      |  c.chosen_score, r.rejected_score,
      |  c.chosen_score - r.rejected_score AS gap
      |FROM c JOIN r ON c.lang = r.lang AND c.source = r.source
      |WHERE c.rb = 1 AND r.rw = 1 AND c.chosen_id <> r.rejected_id
      |  AND c.chosen_score - r.rejected_score >= 1
      |ORDER BY c.lang, c.source""".stripMargin) { (spark, dir) =>
    val scored = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("source"),
        expr("CAST(size(array_distinct(split(lower(trim(text)), " +
          "'\\\\s+'))) AS BIGINT) * 1000000L div " +
          "CAST(size(split(lower(trim(text)), '\\\\s+')) AS BIGINT)")
          .as("score"))
    TextStats.preferencePairs(
      scored, groupCols = Seq("lang", "source"), idCol = "doc_id",
      scoreCol = "score", minGap = 1L)
      .orderBy("lang", "source")
  }

  /** Calibration reliability report of the q233 classifier
    * ([[graft.ext.TextStats.calibrationBins]] — Guo et al. 2017 ECE
    * binning): margin squashed to confidence bp, outcome = q232 unigram
    * surprisal under the q235 band boundary, per-bin population / mean
    * confidence / accuracy / exact ECE numerator, all integer bp.
    */
  val q311CalibrationBins: QuerySpec = QuerySpec.oracled(
    "q311_calibration_bins",
    s"""WITH f AS (
       |  ${TextStats.classifierFeatureSql("doc_id")}),
       |bp AS (
       |  ${TextStats.classifierBpSql}),
       |mg AS (
       |  SELECT doc_id, ${TextStats.classifierMarginSqlExpr} AS margin
       |  FROM bp),
       |tok AS (
       |  SELECT doc_id, unnest($toksSql) AS tok FROM documents),
       |vc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY tok),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM vc),
       |sc AS (
       |  SELECT t.doc_id,
       |    CAST(length(bin(tot.n // vc.c)) - 1 AS BIGINT) AS bits
       |  FROM tok t JOIN vc ON t.tok = vc.tok CROSS JOIN tot),
       |sb AS (
       |  SELECT doc_id,
       |    CAST(sum(bits) * 1000 // count(*) AS BIGINT) AS avg_millibits
       |  FROM sc GROUP BY doc_id),
       |sc2 AS (
       |  SELECT mg.doc_id,
       |    least(greatest(mg.margin // 80, 0), 10000) AS conf_bp,
       |    CASE WHEN sb.avg_millibits < 4250 THEN 1 ELSE 0 END AS pos
       |  FROM mg JOIN sb USING (doc_id)),
       |b AS (
       |  SELECT least(conf_bp * 10 // 10000, 9) AS bin,
       |    conf_bp, pos
       |  FROM sc2)
       |SELECT CAST(bin AS BIGINT) AS bin,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(pos) AS BIGINT) AS n_pos,
       |  CAST(sum(conf_bp) // count(*) AS BIGINT) AS avg_conf_bp,
       |  CAST(sum(pos) * 10000 // count(*) AS BIGINT) AS acc_bp,
       |  CAST(abs(sum(conf_bp) - 10000 * sum(pos)) AS BIGINT) AS ece_num
       |FROM b GROUP BY bin
       |ORDER BY bin""".stripMargin) { (spark, dir) =>
    TextStats.calibrationBins(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
      .orderBy("bin")
  }

  /** One WORDPIECE merge iteration as oracle CTEs: pair counts AND unit
    * counts from `srcCte`, the likelihood-best pair
    * (`cnt·10⁹ // (ua·ub)`, ties cnt desc then lex), fold-applied merge —
    * mirrors [[graft.ext.Bpe.trainWordpiece]] exactly.
    */
  private def wpIterSql(
      src: String, p: String, u: String, b: String, out: String): String =
    s"""$p AS (SELECT t[i] AS a, t[i+1] AS b, CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM (SELECT string_split(ts, ' ') AS t, freq FROM $src),
       |    UNNEST(range(1, len(t))) AS uu(i)
       |  GROUP BY 1, 2),
       |$u AS (SELECT u, CAST(sum(freq) AS BIGINT) AS uc
       |  FROM (SELECT unnest(string_split(ts, ' ')) AS u, freq FROM $src)
       |  GROUP BY 1),
       |$b AS (SELECT a, b, cnt,
       |    CAST(cnt * 1000000000 // (ua.uc * ub.uc) AS BIGINT) AS score
       |  FROM $p JOIN $u ua ON $p.a = ua.u JOIN $u ub ON $p.b = ub.u
       |  ORDER BY score DESC, cnt DESC, a, b LIMIT 1),
       |$out AS (SELECT list_reduce(list_prepend('', string_split(ts, ' ')),
       |    (acc, x) -> CASE
       |      WHEN acc <> '' AND (acc = $b.a OR ends_with(acc, ' ' || $b.a))
       |        AND x = $b.b THEN acc || x
       |      WHEN acc = '' THEN x
       |      ELSE acc || ' ' || x END) AS ts, freq
       |  FROM $src CROSS JOIN $b)""".stripMargin

  /** WordPiece merge-rule induction ([[graft.ext.Bpe.trainWordpiece]] —
    * Schuster & Nakajima 2012 likelihood-gain selection, the third
    * tokenizer family beside BPE q231 and unigram-LM q272/q308): the
    * first 3 merges learned by maximizing `count(ab)/(count(a)·count(b))`
    * in exact 1e9 fixed point, the oracle replaying TRAINING itself —
    * pair+unit counting, likelihood best-pair, merge fold — as chained
    * CTEs. Same scale story as q231: one corpus scan, then
    * vocabulary-sized iterations.
    */
  val q312WordpieceMerges: QuerySpec = QuerySpec.oracled(
    "q312_wordpiece_merges",
    s"""WITH tok AS (
       |  SELECT unnest($toksSql) AS w FROM documents),
       |wf AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM tok
       |  WHERE regexp_full_match(w, '[a-z]+') GROUP BY w),
       |s0 AS (
       |  SELECT rtrim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS ts, freq
       |  FROM wf),
       |${wpIterSql("s0", "p1", "u1", "b1", "s1")},
       |${wpIterSql("s1", "p2", "u2", "b2", "s2")},
       |${wpIterSql("s2", "p3", "u3", "b3", "s3")}
       |SELECT 1 AS merge_rank, a AS left_tok, b AS right_tok,
       |  cnt AS pair_count, score AS score_fix FROM b1
       |UNION ALL SELECT 2, a, b, cnt, score FROM b2
       |UNION ALL SELECT 3, a, b, cnt, score FROM b3
       |ORDER BY merge_rank""".stripMargin) { (spark, dir) =>
    graft.ext.Bpe.trainWordpiece(
      spark.read.parquet(s"$dir/documents.parquet"), "text", numMerges = 3)
      .orderBy("merge_rank")
  }

  /** Per-term corpus dispersion ([[graft.ext.TextStats.termDispersion]]
    * — Gries 2008 DP): the top-20 burstiest terms (count ≥ 50) across
    * `source` parts, `DP = ½·Σ|observed − expected share|` in exact
    * integer ppm — present parts via one cross-multiplied numerator,
    * absent parts folded to a single closed term (no term×part grid).
    * The burstiness audit beside the frequency ladder (q94/q117) and the
    * per-source Gini (q147).
    */
  val q315TermDispersion: QuerySpec = QuerySpec.oracled(
    "q315_term_dispersion",
    s"""WITH tok AS (
       |  SELECT source AS part, unnest($toksSql) AS tok FROM documents),
       |cws AS (
       |  SELECT part, tok, CAST(count(*) AS BIGINT) AS c_ws FROM tok
       |  GROUP BY 1, 2),
       |ts AS (
       |  SELECT part, CAST(count(*) AS BIGINT) AS t_s FROM tok GROUP BY 1),
       |tot AS (SELECT CAST(sum(t_s) AS BIGINT) AS t FROM ts),
       |cw AS (
       |  SELECT tok, CAST(sum(c_ws) AS BIGINT) AS c_w FROM cws GROUP BY 1),
       |a AS (
       |  SELECT cws.tok, any_value(cw.c_w) AS c,
       |    CAST(count(*) AS BIGINT) AS n_parts,
       |    any_value(tot.t) AS t, CAST(sum(ts.t_s) AS BIGINT) AS pres,
       |    CAST(sum(abs(cws.c_ws * tot.t - ts.t_s * cw.c_w)) AS BIGINT)
       |      AS nump
       |  FROM cws JOIN ts USING (part) JOIN cw USING (tok) CROSS JOIN tot
       |  GROUP BY cws.tok),
       |b AS (
       |  SELECT tok, c, n_parts, nump + c * (t - pres) AS num, c * t AS den
       |  FROM a WHERE c >= 50)
       |SELECT tok, CAST(c AS BIGINT) AS c,
       |  CAST(n_parts AS BIGINT) AS n_parts,
       |  CAST(num * 500000 // den AS BIGINT) AS dp_ppm
       |FROM b
       |ORDER BY dp_ppm DESC, c DESC, tok LIMIT 20""".stripMargin) {
    (spark, dir) =>
      TextStats.termDispersion(
        spark.read.parquet(s"$dir/documents.parquet"),
        textCol = "text", partCol = "source", minCount = 50L, topK = 20)
  }

  /** Interpolated Kneser–Ney bigram scoring
    * ([[graft.ext.TextStats.knBigramBits]] — Kneser & Ney 1995, the
    * interpolated Chen & Goodman form at D = 1/2): counts train on the
    * even-id half, all docs score; every probability is ONE exact
    * rational (seen-bigram discount + continuation mass over a common
    * denominator), position cost is the repo's integer-log₂ whole-bits
    * surprisal. The principled-smoothing sibling of q276's stupid
    * backoff — continuation counts are what it adds (the "francisco"
    * correction), visible in the lvl split the gate reports.
    */
  val q316KnBigram: QuerySpec = QuerySpec.oracled(
    "q316_kn_bigram",
    s"""WITH tk AS (
       |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, toks[t.p + 1] AS u, toks[t.p + 2] AS w
       |  FROM tk, UNNEST(range(len(toks) - 1)) AS t(p)),
       |tb AS (SELECT u, w FROM bg WHERE doc_id % 2 = 0),
       |cuw AS (
       |  SELECT u, w, CAST(count(*) AS BIGINT) AS c_uw FROM tb
       |  GROUP BY 1, 2),
       |cu AS (
       |  SELECT u, CAST(count(*) AS BIGINT) AS c_u,
       |    CAST(count(DISTINCT w) AS BIGINT) AS n1_u
       |  FROM tb GROUP BY 1),
       |nleft AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS n1_w FROM cuw GROUP BY 1),
       |ntot AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM cuw),
       |sc AS (
       |  SELECT bg.doc_id,
       |    CASE WHEN cuw.c_uw IS NOT NULL THEN 0
       |         WHEN cu.c_u IS NOT NULL THEN 1 ELSE 2 END AS lvl,
       |    greatest(CASE
       |        WHEN cuw.c_uw IS NOT NULL THEN
       |          (cuw.c_uw * 2 - 1) * ntot.n_types +
       |            cu.n1_u * coalesce(nleft.n1_w, 0)
       |        WHEN cu.c_u IS NOT NULL THEN
       |          cu.n1_u * coalesce(nleft.n1_w, 0)
       |        ELSE coalesce(nleft.n1_w, 0) END, 1) AS num,
       |    CASE WHEN cu.c_u IS NOT NULL THEN cu.c_u * 2 * ntot.n_types
       |         ELSE ntot.n_types END AS den
       |  FROM bg
       |  LEFT JOIN cuw ON bg.u = cuw.u AND bg.w = cuw.w
       |  LEFT JOIN cu ON bg.u = cu.u
       |  LEFT JOIN nleft ON bg.w = nleft.w
       |  CROSS JOIN ntot),
       |sb AS (
       |  SELECT doc_id, lvl, length(bin(den // num)) - 1 AS bits FROM sc)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |  CAST(sum(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_seen,
       |  CAST(sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_backed,
       |  CAST(sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_novel_ctx,
       |  CAST(sum(bits) AS BIGINT) AS kn_bits,
       |  CAST(sum(bits) * 1000 // count(*) AS BIGINT) AS avg_millibits
       |FROM sb GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    graft.ext.TextStats.knBigramBits(
      docs.filter(col("doc_id") % 2 === 0), docs, "doc_id", "text")
      .orderBy("doc_id")
  }

  /** Per-document language segmentation
    * ([[graft.ext.TextStats.langSpans]] — the multilingual-doc splitter:
    * 16-token chunks language-ID'd independently with q23's
    * distinct-marker rule, consecutive same-language chunks merged into
    * spans by the gaps-and-islands running sum). Docs with >1 span are
    * the mixed-language routing cases. The oracle replays chunking,
    * marker scoring, the priority argmax, and both windows — markers
    * interpolated from the SAME Scala list the operator uses.
    */
  val q318LangSpans: QuerySpec = QuerySpec.oracled(
    "q318_lang_spans",
    s"""WITH tk AS (
       |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks
       |  FROM documents),
       |tok AS (
       |  SELECT doc_id, t.p // 16 AS chunk, toks[t.p + 1] AS tok
       |  FROM tk, UNNEST(range(len(toks))) AS t(p)),
       |uni AS (SELECT DISTINCT doc_id, chunk FROM tok),
       |mk AS (SELECT * FROM (VALUES ${TextStats.LangMarkers.zipWithIndex
              .flatMap { case ((lang, ms), i) =>
                ms.map(m => s"('$lang', $i, '$m')") }.mkString(", ")})
       |  AS m(lang, prio, marker)),
       |hit AS (
       |  SELECT DISTINCT t.doc_id, t.chunk, mk.lang, mk.prio, t.tok
       |  FROM tok t JOIN mk ON t.tok = mk.marker),
       |sc AS (
       |  SELECT doc_id, chunk, lang, prio, CAST(count(*) AS BIGINT)
       |    AS score
       |  FROM hit GROUP BY 1, 2, 3, 4),
       |best AS (
       |  SELECT doc_id, chunk, lang FROM (
       |    SELECT sc.*, row_number() OVER (PARTITION BY doc_id, chunk
       |      ORDER BY score DESC, prio) AS rn
       |    FROM sc) WHERE rn = 1),
       |ch AS (
       |  SELECT uni.doc_id, uni.chunk, coalesce(best.lang, '${TextStats.LangMarkers.head._1}') AS lang
       |  FROM uni LEFT JOIN best USING (doc_id, chunk)),
       |fl AS (
       |  SELECT *, CASE WHEN lag(lang) OVER
       |      (PARTITION BY doc_id ORDER BY chunk) IS NULL
       |    OR lag(lang) OVER (PARTITION BY doc_id ORDER BY chunk) <> lang
       |    THEN 1 ELSE 0 END AS nw
       |  FROM ch),
       |sp AS (
       |  SELECT *, CAST(sum(nw) OVER (PARTITION BY doc_id ORDER BY chunk)
       |    AS BIGINT) AS span_idx
       |  FROM fl)
       |SELECT doc_id, span_idx, lang,
       |  CAST(min(chunk) AS BIGINT) AS chunk_from,
       |  CAST(max(chunk) AS BIGINT) AS chunk_to,
       |  CAST(count(*) AS BIGINT) AS n_chunks
       |FROM sp GROUP BY doc_id, span_idx, lang
       |ORDER BY doc_id, span_idx""".stripMargin) { (spark, dir) =>
    TextStats.langSpans(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
      window = 16)
      .orderBy("doc_id", "span_idx")
  }

  /** Stream-maintained dataset card
    * ([[graft.ext.TextStats.datasetCardBatch]] folded by
    * [[graft.ext.Reports.foldSummed]] — the second consumer of the
    * generic maintained-report operator beside q301's Gopher card):
    * per-batch additive card rows (corpus totals, per-lang / per-source
    * counts, quality histogram) fold exactly under any stream slicing;
    * distinct-language/source totals DERIVE from the maintained
    * sections at read time. q191's `exact_dup_docs` row is the
    * documented non-mergeable member (corpus-sized hash state) — dup
    * accounting streams through the q313/q314 dedup index instead. The
    * oracle is the batch definition over the whole corpus: stream ≡
    * batch because integer sums are associative.
    */
  private val q319Staging = new QuerySpec.StagingCache[String]

  /** Stage documents (with lang + source) as two stream files for the
    * q319 card fold.
    */
  private def stageQ319(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    q319Staging.getOrStage(dir) {
      val staged = new java.io.File(QuerySpec.stagedPath("q319_docs", dir))
      org.apache.commons.io.FileUtils.deleteQuietly(staged)
      staged.mkdirs()
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "lang", "source", "text")
      docs.filter(col("doc_id") % 2 === 0).coalesce(1)
        .write.parquet(s"$staged/00")
      QuerySpec.flattenPart(spark, staged.toString, "00", "a.parquet")
      docs.filter(col("doc_id") % 2 === 1).coalesce(1)
        .write.parquet(s"$staged/01")
      QuerySpec.flattenPart(spark, staged.toString, "01", "b.parquet")
      staged.toString
    }

  val q319DatasetCardStream: QuerySpec = QuerySpec.oracled(
    "q319_dataset_card_stream",
    s"""WITH f AS (
       |  SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars,
       |    len($toksSql)::BIGINT AS n_tokens,
       |    len(list_distinct($toksSql))::BIGINT AS n_uniq
       |  FROM documents),
       |corpus AS (
       |  SELECT 'corpus' AS section, x.item, x.n FROM (
       |    SELECT CAST(count(*) AS BIGINT) AS docs,
       |      CAST(sum(n_chars) AS BIGINT) AS chars,
       |      CAST(sum(n_tokens) AS BIGINT) AS tokens
       |    FROM f) t,
       |    LATERAL (VALUES ('docs', t.docs), ('chars', t.chars),
       |      ('tokens', t.tokens)) x(item, n)),
       |langs AS (
       |  SELECT 'lang' AS section, lang AS item,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM f GROUP BY lang),
       |sources AS (
       |  SELECT 'source' AS section, source AS item,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM f GROUP BY source),
       |quality AS (
       |  SELECT 'quality' AS section,
       |    CASE WHEN n_tokens < 20 THEN 'too_short'
       |         WHEN n_uniq * 10 < n_tokens * 3 THEN 'repetitive'
       |         ELSE 'ok' END AS item,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM f GROUP BY 2),
       |base AS (
       |  SELECT * FROM corpus UNION ALL SELECT * FROM langs
       |  UNION ALL SELECT * FROM sources UNION ALL SELECT * FROM quality),
       |der AS (
       |  SELECT 'corpus' AS section,
       |    CASE WHEN section = 'lang' THEN 'langs' ELSE 'sources' END
       |      AS item,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM base WHERE section IN ('lang', 'source') GROUP BY base.section)
       |SELECT section, item, n FROM base
       |UNION ALL SELECT section, item, n FROM der
       |ORDER BY section, item""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.streaming.Trigger
    val staged = stageQ319(spark, dir)
    val stateDir = QuerySpec.stagedPath("q319_state", dir)
    val ckpt = QuerySpec.stagedPath("q319_ckpt", dir)
    graft.ext.Reports.reset(spark, stateDir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val schema = spark.read.parquet(s"$staged/a.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged)
    spark.streams.active.filter(_.name == "q319_fold").foreach(_.stop())
    val q = stream.writeStream
      .queryName("q319_fold")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.ext.Reports.foldSummed(
          batch.sparkSession, stateDir,
          TextStats.datasetCardBatch(batch, "text"),
          keys = Seq("section", "item"))
        ()
      }
      .start()
    q.awaitTermination()
    TextStats.datasetCardFinish(
      graft.ext.Reports.current(spark, stateDir).get)
  }.withSetup((s, d) => { stageQ319(s, d); () })

  /** One batch-perceptron iteration as an oracle CTE: misclassified
    * count + weight updates under the PREVIOUS iteration's weights
    * (carried by cross join, grouped to stay scalar) — mirrors
    * [[graft.ext.TextStats.perceptronTrain]]'s integer update exactly.
    */
  private def perceptronIterSql(i: Int): String = {
    val m = s"y * (p.w0 + p.w1 * x1 + p.w2 * x2 + p.w3 * x3 + " +
      s"p.w4 * x4) <= 0"
    s"""it$i AS (
       |  SELECT
       |    CAST(sum(CASE WHEN $m THEN 1 ELSE 0 END) AS BIGINT) AS n_mis,
       |    p.w0 + CAST(sum(CASE WHEN $m THEN y ELSE 0 END) AS BIGINT)
       |      AS w0,
       |    p.w1 + CAST(sum(CASE WHEN $m THEN y * x1 ELSE 0 END)
       |      AS BIGINT) AS w1,
       |    p.w2 + CAST(sum(CASE WHEN $m THEN y * x2 ELSE 0 END)
       |      AS BIGINT) AS w2,
       |    p.w3 + CAST(sum(CASE WHEN $m THEN y * x3 ELSE 0 END)
       |      AS BIGINT) AS w3,
       |    p.w4 + CAST(sum(CASE WHEN $m THEN y * x4 ELSE 0 END)
       |      AS BIGINT) AS w4
       |  FROM fx CROSS JOIN it${i - 1} p
       |  GROUP BY p.w0, p.w1, p.w2, p.w3, p.w4)""".stripMargin
  }

  /** Distributed batch-perceptron training of a linear quality filter
    * ([[graft.ext.TextStats.perceptronTrain]] — Rosenblatt's rule in
    * Collins 2002's batch form): q233's integer features, labels from
    * the independent q232 surprisal signal, `w ← w + Σ_mis y·x` per
    * iteration (order-free integer sums — no float, no learning-rate
    * knob). The oracle replays TRAINING itself: five unrolled
    * iterations, each a scalar CTE carrying the weights forward. The
    * adjudicated artifact is the training trajectory — per-iteration
    * misclassified counts and weights; the final weights drop into the
    * q233 evaluation shape unchanged.
    */
  val q322PerceptronTrain: QuerySpec = QuerySpec.oracled(
    "q322_perceptron_train",
    s"""WITH f AS (
       |  ${TextStats.classifierFeatureSql("doc_id")}),
       |bp AS (
       |  ${TextStats.classifierBpSql}),
       |tok AS (
       |  SELECT doc_id, unnest($toksSql) AS tok FROM documents),
       |vc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY tok),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM vc),
       |sc AS (
       |  SELECT t.doc_id,
       |    CAST(length(bin(tot.n // vc.c)) - 1 AS BIGINT) AS bits
       |  FROM tok t JOIN vc ON t.tok = vc.tok CROSS JOIN tot),
       |sb AS (
       |  SELECT doc_id,
       |    CAST(sum(bits) * 1000 // count(*) AS BIGINT) AS avg_millibits
       |  FROM sc GROUP BY doc_id),
       |fx AS (
       |  SELECT bp.doc_id, CAST(least(bp.n_toks, 512) AS BIGINT) AS x1,
       |    bp.stop_bp AS x2, bp.digit_bp AS x3, bp.upper_bp AS x4,
       |    CASE WHEN sb.avg_millibits < 4250 THEN 1 ELSE -1 END AS y
       |  FROM bp JOIN sb USING (doc_id)),
       |it0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
       |  CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3,
       |  CAST(0 AS BIGINT) AS w4),
       |${(1 to 5).map(perceptronIterSql).mkString(",\n")}
       |${(1 to 5).map(i =>
            s"SELECT CAST($i AS INTEGER) AS iter, n_mis, w0 AS w_bias, " +
              s"w1 AS w_toks, w2 AS w_stop, w3 AS w_digit, w4 AS w_upper " +
              s"FROM it$i").mkString("", "\nUNION ALL ", "")}
       |ORDER BY iter""".stripMargin) { (spark, dir) =>
    TextStats.perceptronTrain(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
      iters = 5)
      .orderBy("iter")
  }

  private val q328Staging = new QuerySpec.StagingCache[String]

  /** Stage the q328 tokenizer artifact once per (JVM, sf dir): train the
    * 3-merge BPE on the corpus and commit it under the version pointer.
    */
  private def stageQ328(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    q328Staging.getOrStage(dir) {
      val tokDir = QuerySpec.stagedPath("q328_tok", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tokDir))
      new java.io.File(tokDir).mkdirs()
      graft.ext.TokenizerIndex.build(spark,
        spark.read.parquet(s"$dir/documents.parquet"),
        tokDir, "bpe", "text", numMerges = 3)
      tokDir
    }

  /** Persisted tokenizer artifact ([[graft.ext.TokenizerIndex]] — the
    * train()/apply() split applied to the BPE family, q304's discipline
    * for the tokenizer): the merges train ONCE into a versioned artifact
    * and the gate tokenizes the corpus off the FROZEN stored rules —
    * no inline training anywhere in the query. The oracle is q241's SQL
    * verbatim (training + application replayed from scratch), so the
    * artifact round-trip is adjudicated to be exactly the rules the
    * corpus induces: a stale, truncated, or re-trained-differently
    * artifact hash-mismatches.
    */
  val q328TokenizerIndex: QuerySpec = QuerySpec.oracled(
    "q328_tokenizer_index",
    s"""WITH tok AS (
       |  SELECT doc_id, unnest($toksSql) AS w FROM documents),
       |aw AS (SELECT doc_id, w FROM tok WHERE regexp_full_match(w, '[a-z]+')),
       |wf AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM aw GROUP BY w),
       |s0 AS (
       |  SELECT rtrim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS ts, freq
       |  FROM wf),
       |${bpeIterSql("s0", "p1", "b1", "s1")},
       |${bpeIterSql("s1", "p2", "b2", "s2")},
       |${bpeIterSql("s2", "p3", "b3", "s3")},
       |v0 AS (
       |  SELECT w, rtrim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS ts
       |  FROM (SELECT DISTINCT w FROM aw)),
       |${bpeApplySql("v0", "b1", "v1")},
       |${bpeApplySql("v1", "b2", "v2")},
       |${bpeApplySql("v2", "b3", "v3")},
       |vn AS (
       |  SELECT w, CAST(len(string_split(ts, ' ')) AS BIGINT) AS n_sub
       |  FROM v3)
       |SELECT aw.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(vn.n_sub) AS BIGINT) AS n_subwords,
       |  CAST(sum(vn.n_sub) * 1000000 // count(*) AS BIGINT)
       |    AS sub_per_word_ppm
       |FROM aw JOIN vn USING (w)
       |GROUP BY aw.doc_id
       |ORDER BY aw.doc_id""".stripMargin) { (spark, dir) =>
    val tokDir = stageQ328(spark, dir)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val aw = docs
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
    val vn = graft.ext.TokenizerIndex.tokenizeWords(spark,
        aw.select("w").distinct(), tokDir, "bpe")
      .select(col("w"),
        size(split(col("ts"), " ")).cast("long").as("n_sub"))
    aw.join(vn, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("n_sub").as("n_subwords"))
      .withColumn("sub_per_word_ppm",
        expr("n_subwords * 1000000 div n_words"))
      .orderBy("doc_id")
  }.withSetup((s, d) => { stageQ328(s, d); () })

  private val q333Staging = new QuerySpec.StagingCache[String]

  /** Stage the q333 unigram artifact once per (JVM, sf dir): q273's
    * training configuration committed under the version pointer.
    */
  private def stageQ333(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    q333Staging.getOrStage(dir) {
      val tokDir = QuerySpec.stagedPath("q333_tok", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tokDir))
      new java.io.File(tokDir).mkdirs()
      graft.ext.TokenizerIndex.buildUnigram(spark,
        spark.read.parquet(s"$dir/documents.parquet"),
        tokDir, "uni", "text",
        rounds = 2, multiKeep = 120, maxPieceLen = 3, maxWordLen = 10)
      tokDir
    }

  /** Persisted UNIGRAM tokenizer artifact
    * ([[graft.ext.TokenizerIndex.buildUnigram]] — q328's train-once/
    * apply-frozen discipline for the other tokenizer family): the
    * vocabulary trains once into a versioned artifact and the gate
    * Viterbi-segments the corpus off the FROZEN stored (piece, bits)
    * costs and DP piece length — no inline training. The oracle is
    * q273's from-scratch replay (seed → 2 EM-ish rounds → segment →
    * per-doc census), so a stale or divergent artifact hash-mismatches.
    */
  val q333UnigramIndex: QuerySpec = QuerySpec.oracled(
    "q333_unigram_index",
    q272OracleSql(rounds = 2, multiKeep = 120, maxPieceLen = 3,
      maxWordLen = 10, applyCensus = true)) { (spark, dir) =>
    val tokDir = stageQ333(spark, dir)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val aw = docs
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .filter(col("w").rlike("^[a-z]+$") && length(col("w")) <= 10)
    val vn = graft.ext.TokenizerIndex.segmentWords(spark,
        aw.select("w").distinct(), tokDir, "uni")
      .select(col("w"), size(split(col("seg"), " ")).cast("long")
        .as("n_sub"))
    aw.join(vn, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("n_sub").as("n_subwords"))
      .withColumn("sub_per_word_ppm",
        expr("n_subwords * 1000000 div n_words"))
      .orderBy("doc_id")
  }.withSetup((s, d) => { stageQ333(s, d); () })

  /** Shared oracle CTEs for the classifier-eval family: margin (mg) and
    * surprisal-derived labels (sb) joined to (doc_id, margin, pos) —
    * q311's construction, factored for q334/q335.
    */
  private def classifierLabeledCtes: String =
    s"""WITH f AS (
       |  ${TextStats.classifierFeatureSql("doc_id")}),
       |bp AS (
       |  ${TextStats.classifierBpSql}),
       |mg AS (
       |  SELECT doc_id, ${TextStats.classifierMarginSqlExpr} AS margin
       |  FROM bp),
       |tok AS (
       |  SELECT doc_id, unnest($toksSql) AS tok FROM documents),
       |vc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY tok),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM vc),
       |sc AS (
       |  SELECT t.doc_id,
       |    CAST(length(bin(tot.n // vc.c)) - 1 AS BIGINT) AS bits
       |  FROM tok t JOIN vc ON t.tok = vc.tok CROSS JOIN tot),
       |sb AS (
       |  SELECT doc_id,
       |    CAST(sum(bits) * 1000 // count(*) AS BIGINT) AS avg_millibits
       |  FROM sc GROUP BY doc_id),
       |lb AS (
       |  SELECT mg.doc_id, mg.margin,
       |    CASE WHEN sb.avg_millibits < 4250 THEN 1 ELSE 0 END AS pos
       |  FROM mg JOIN sb USING (doc_id))""".stripMargin

  /** ROC-AUC of the quality classifier ([[graft.ext.TextStats.rocAuc]]
    * — Mann–Whitney U with midrank ties, exact integers throughout):
    * the threshold-free discrimination metric completing the learned-
    * filter eval family — train (q322), calibrate (q311), discriminate
    * (here), operating points (q335). The quotient/remainder ppm fix
    * means no intermediate ever exceeds den·10⁶; the oracle replays
    * ranks, ties, and the decomposition arithmetic in full.
    */
  val q334RocAuc: QuerySpec = QuerySpec.oracled(
    "q334_roc_auc",
    s"""$classifierLabeledCtes,
       |g AS (
       |  SELECT margin, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(pos) AS BIGINT) AS np
       |  FROM lb GROUP BY margin),
       |r AS (
       |  SELECT *, CAST(sum(n) OVER (ORDER BY margin) AS BIGINT) AS cum
       |  FROM g),
       |agg AS (
       |  SELECT CAST(sum(np * (2 * cum - n + 1)) AS BIGINT) AS s2,
       |    CAST(sum(np) AS BIGINT) AS n_pos,
       |    CAST(sum(n) - sum(np) AS BIGINT) AS n_neg
       |  FROM r)
       |SELECT n_pos, n_neg,
       |  CAST(((s2 - n_pos * (n_pos + 1)) // (2 * n_pos * n_neg))
       |      * 1000000
       |    + (((s2 - n_pos * (n_pos + 1)) % (2 * n_pos * n_neg))
       |      * 1000000) // (2 * n_pos * n_neg) AS BIGINT) AS auc_ppm
       |FROM agg""".stripMargin) { (spark, dir) =>
    TextStats.rocAuc(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
  }

  /** Precision/recall operating points of the quality classifier over a
    * margin-threshold ladder ([[graft.ext.TextStats.prCurve]] — the
    * audit-curve discipline applied to the learned filter): per rung,
    * confusion counts + precision/recall in exact floor-div ppm, one
    * margin+label pass feeding every rung.
    */
  val q335PrCurve: QuerySpec = QuerySpec.oracled(
    "q335_pr_curve",
    s"""$classifierLabeledCtes,
       |t AS (SELECT * FROM (VALUES (150000), (250000), (350000),
       |  (450000), (550000)) AS tt(threshold)),
       |q AS (
       |  SELECT t.threshold,
       |    CASE WHEN lb.margin >= t.threshold THEN 1 ELSE 0 END AS pred,
       |    lb.pos
       |  FROM lb CROSS JOIN t)
       |SELECT CAST(threshold AS BIGINT) AS threshold,
       |  CAST(sum(pred * pos) AS BIGINT) AS tp,
       |  CAST(sum(pred * (1 - pos)) AS BIGINT) AS fp,
       |  CAST(sum((1 - pred) * pos) AS BIGINT) AS fn,
       |  CAST(coalesce(sum(pred * pos) * 1000000 //
       |    nullif(sum(pred * pos) + sum(pred * (1 - pos)), 0), 0)
       |    AS BIGINT) AS precision_ppm,
       |  CAST(coalesce(sum(pred * pos) * 1000000 //
       |    nullif(sum(pred * pos) + sum((1 - pred) * pos), 0), 0)
       |    AS BIGINT) AS recall_ppm
       |FROM q GROUP BY threshold
       |ORDER BY threshold""".stripMargin) { (spark, dir) =>
    TextStats.prCurve(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
      thresholds = Seq(150000L, 250000L, 350000L, 450000L, 550000L))
      .orderBy("threshold")
  }

  val all: Seq[QuerySpec] =
    Seq(q23LangId, q24QualityScore, q25TokenStats, q26Fingerprint,
      q47QualityRatios, q49StratifiedSample, q52Redact, q56VocabApprox,
      q58Decontaminate, q60Repetition, q62TfIdf, q66Chunking,
      q67SequencePacking, q68Boilerplate, q73LangCap, q92SplitAssign,
      q94HeavyHitters, q99Normalize, q115TokenBudget, q116StripBoilerplate,
      q117TopNgrams, q131WeightedSample, q144FeatureHash, q147SourceGini,
      q149FilterFunnel, q169MixtureAllocate, q178InvertedIndex,
      q182KappaAgreement, q188GroupSplit, q191DatasetCard,
      q193SourceOverlap, q194NgramNovelty, q204BalancedShards,
      q209TemperatureMix, q210IndexedGrep, q223EpochShuffle,
      q224PhraseIndex, q231BpeMerges, q232SurprisalBits,
      q233ClassifierMargin, q235CurationPipeline, q241BpeApply,
      q242VocabGrowth, q264DsirSelection, q265BigramSurprisal,
      q270DsirStream, q272UnigramVocab, q273UnigramApply,
      q276TrigramBackoff, q284DecontamCurve, q287PerplexityBuckets,
      q288GopherCard, q289GopherReport, q290VocabCoverage,
      q291CrossEntropySelect, q292PiiAudit, q296PackingCurve,
      q297SpanCorrupt, q298FimTransform, q301GopherReportStream,
      q307PreferencePairs, q308UnigramSoft, q311CalibrationBins,
      q312WordpieceMerges, q315TermDispersion, q316KnBigram,
      q318LangSpans, q319DatasetCardStream, q322PerceptronTrain,
      q328TokenizerIndex, q333UnigramIndex, q334RocAuc, q335PrCurve)
}
