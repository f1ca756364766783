package graft.queries

import graft.ext.Dedup

import org.apache.spark.sql.functions._

/** Near-duplicate detection over the `documents` table, oracle-verified: the
  * DuckDB oracle recomputes the *exact* similarity over all pairs with the
  * same md5-derived hashes and shingle definitions, so the LSH/banded Spark
  * paths must find precisely the true pair set (their pruning is
  * probabilistically lossless at these parameters).
  */
object DedupQueries {

  /** Shared DuckDB CTEs: trigram shingles per doc, then their distinct
    * 60-bit md5 hash sets — the oracle replay of
    * [[graft.functions.ShingleHashExpr]] (DuckDB range() is end-exclusive,
    * Spark sequence() inclusive — hence len-1 vs size-2).
    */
  private val shingleCte =
    """WITH tk AS (
      |  SELECT doc_id, list_filter(
      |    string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
      |  FROM tk),
      |hs AS (
      |  SELECT doc_id, list_distinct(list_transform(s,
      |    x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS h
      |  FROM sh
      |  WHERE len(s) > 0)""".stripMargin

  val q18MinhashNearDup: QuerySpec = QuerySpec.oracled(
    "q18_minhash_near_dup",
    s"""$shingleCte,
       |p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    len(list_intersect(a.h, b.h)) AS inter_size,
       |    len(a.h) + len(b.h) - len(list_intersect(a.h, b.h)) AS union_size
       |  FROM hs a JOIN hs b ON a.doc_id < b.doc_id)
       |SELECT id_a, id_b, inter_size, union_size FROM p
       |WHERE inter_size * 10 >= union_size * 7
       |ORDER BY id_a, id_b""".stripMargin) { (spark, dir) =>
    Dedup.minhashNearDupPairs(
      spark.read.parquet(s"$dir/documents.parquet"),
      idCol = "doc_id", textCol = "text",
      k = 3, numHashes = 128, bandRows = 2,
      thresholdNum = 7, thresholdDen = 10)
      .orderBy("id_a", "id_b")
  }

  val q19SimhashNearDup: QuerySpec = QuerySpec.oracled(
    "q19_simhash_near_dup",
    s"""$shingleCte,
       |sig AS (
       |  SELECT doc_id, CAST(list_sum(list_transform(range(0, 16), j ->
       |    CASE WHEN list_sum(list_transform(h, v ->
       |      CASE WHEN (v >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
       |    THEN 1::BIGINT << j ELSE 0 END)) AS BIGINT) AS sig
       |  FROM hs)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= 3
       |ORDER BY id_a, id_b""".stripMargin) { (spark, dir) =>
    Dedup.simhashNearDupPairs(
      spark.read.parquet(s"$dir/documents.parquet"),
      idCol = "doc_id", textCol = "text", k = 3, maxHamming = 3)
      .orderBy("id_a", "id_b")
  }

  val q20NgramJaccard: QuerySpec = QuerySpec.oracled(
    "q20_ngram_jaccard",
    """WITH tk AS (
      |  SELECT doc_id, lang, source, list_filter(
      |    string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, lang, source,
      |    list_distinct(list_transform(range(1, len(toks)),
      |      i -> toks[i] || ' ' || toks[i+1])) AS s
      |  FROM tk),
      |hs2 AS (
      |  SELECT doc_id, lang, source,
      |    list_distinct(list_transform(s,
      |      x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS h
      |  FROM sh
      |  WHERE len(s) > 0),
      |p AS (
      |  SELECT a.lang, a.source, a.doc_id AS id_a, b.doc_id AS id_b,
      |    len(list_intersect(a.h, b.h)) AS inter_size,
      |    len(a.h) + len(b.h) - len(list_intersect(a.h, b.h)) AS union_size
      |  FROM hs2 a JOIN hs2 b ON a.lang = b.lang AND a.source = b.source
      |    AND a.doc_id < b.doc_id)
      |SELECT lang, source, id_a, id_b, inter_size, union_size FROM p
      |WHERE inter_size * 2 >= union_size * 1
      |ORDER BY lang, source, id_a, id_b""".stripMargin) { (spark, dir) =>
    Dedup.ngramJaccardPairs(
      spark.read.parquet(s"$dir/documents.parquet"),
      idCol = "doc_id", textCol = "text", blockCols = Seq("lang", "source"),
      k = 2, thresholdNum = 1, thresholdDen = 2)
      .select("lang", "source", "id_a", "id_b", "inter_size", "union_size")
      .orderBy("lang", "source", "id_a", "id_b")
  }

  private val pairStaging = new QuerySpec.StagingCache[String]

  /** Stage the q18 MinHash near-dup pair table once per sf dir — the
    * cluster-resolution operators (q57/q69) consume a PAIR TABLE, which in
    * a real pipeline is the persisted output of the upstream near-dup pass
    * (q18), not something recomputed per downstream consumer. Staging it
    * as an untimed fixture (the same convention as the streaming source
    * dirs) makes the q57/q69 bench numbers measure cluster resolution
    * itself rather than a third and fourth repetition of q18.
    */
  def stagePairs(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    pairStaging.getOrStage(dir) {
      val path = QuerySpec.stagedPath("neardup_pairs", dir)
      Dedup.minhashNearDupPairs(
        spark.read.parquet(s"$dir/documents.parquet"),
        idCol = "doc_id", textCol = "text",
        k = 3, numHashes = 128, bandRows = 2,
        thresholdNum = 7, thresholdDen = 10)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
        .write.mode("overwrite").parquet(path)
      path
    }

  /** Duplicate-CLUSTER resolution over the q18 pair set: connected
    * components via alternating star contraction
    * ([[graft.ext.Clusters.connectedComponents]]), then one canonical
    * survivor (the min doc_id) per cluster. This is the step q18's pairs
    * feed at 100 TB — pairs alone under-delete transitive dups (A~B, B~C
    * with no A~C pair must still collapse to one survivor; the sf0.01
    * fixture contains such a size-3 cluster). The oracle replays the
    * component labels with a recursive min-label CTE over the same exact
    * pair set.
    */
  val q57DupClusters: QuerySpec = QuerySpec.oracled(
    "q57_dup_clusters",
    s"""${shingleCte.replaceFirst("WITH", "WITH RECURSIVE")},
       |p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM hs a JOIN hs b ON a.doc_id < b.doc_id
       |  WHERE len(list_intersect(a.h, b.h)) * 10 >=
       |    (len(a.h) + len(b.h) - len(list_intersect(a.h, b.h))) * 7),
       |e AS (SELECT id_a AS src, id_b AS dst FROM p
       |      UNION ALL SELECT id_b, id_a FROM p),
       |walk(node, lbl) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, w.lbl FROM walk w JOIN e ON e.src = w.node),
       |lab AS (
       |  SELECT node AS doc_id, min(lbl) AS cluster_id FROM walk
       |  GROUP BY node),
       |cs AS (
       |  SELECT cluster_id, count(*) AS cluster_size FROM lab
       |  GROUP BY cluster_id)
       |SELECT l.doc_id, l.cluster_id, cs.cluster_size,
       |  l.doc_id = l.cluster_id AS is_canonical
       |FROM lab l JOIN cs USING (cluster_id)
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val pairs = spark.read.parquet(stagePairs(spark, dir))
    graft.ext.Clusters.dedupClusters(docs.select("doc_id"), "doc_id", pairs)
      .orderBy("doc_id")
  }.withSetup((s, d) => { stagePairs(s, d); () })

  /** Policy-based survivor selection on top of q57's clusters: keep the
    * LONGEST document per duplicate cluster (tie → min doc_id) — the
    * most-complete-version rule a production dedup actually applies,
    * rather than q57's neutral min-id. One extra bounded window over the
    * (tiny) labeled set; the policy is any orderable column list, so
    * source-priority or quality-score policies are the same plan shape.
    */
  val q69ClusterSurvivor: QuerySpec = QuerySpec.oracled(
    "q69_cluster_survivor",
    s"""${shingleCte.replaceFirst("WITH", "WITH RECURSIVE")},
       |p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM hs a JOIN hs b ON a.doc_id < b.doc_id
       |  WHERE len(list_intersect(a.h, b.h)) * 10 >=
       |    (len(a.h) + len(b.h) - len(list_intersect(a.h, b.h))) * 7),
       |e AS (SELECT id_a AS src, id_b AS dst FROM p
       |      UNION ALL SELECT id_b, id_a FROM p),
       |walk(node, lbl) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, w.lbl FROM walk w JOIN e ON e.src = w.node),
       |lab AS (
       |  SELECT node AS doc_id, min(lbl) AS cluster_id FROM walk
       |  GROUP BY node),
       |r AS (
       |  SELECT l.doc_id, l.cluster_id, d.n_chars,
       |    row_number() OVER (PARTITION BY l.cluster_id
       |      ORDER BY d.n_chars DESC, l.doc_id) AS rnk
       |  FROM lab l JOIN documents d USING (doc_id))
       |SELECT doc_id, cluster_id, CAST(n_chars AS BIGINT) AS n_chars,
       |  rnk = 1 AS is_survivor
       |FROM r ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val pairs = spark.read.parquet(stagePairs(spark, dir))
    val labels = graft.ext.Clusters
      .dedupClusters(docs.select("doc_id"), "doc_id", pairs)
      .select("doc_id", "cluster_id")
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    labels.join(docs.select(col("doc_id"), col("n_chars").cast("long")
        .as("n_chars")), "doc_id")
      .withColumn("rnk", row_number().over(w))
      .select(col("doc_id"), col("cluster_id"), col("n_chars"),
        (col("rnk") === 1).as("is_survivor"))
      .orderBy("doc_id")
  }.withSetup((s, d) => { stagePairs(s, d); () })

  /** Containment near-dup ([[graft.ext.Dedup.containmentPairs]]): pairs
    * with |A∩B| / min ≥ 0.8 over trigram shingle-hash sets, found via the
    * lossless prefix filter (rarest-first canonical order) — the
    * subset-duplication case Jaccard-calibrated MinHash bands miss by
    * construction. The oracle replays exact all-pairs containment with
    * the same hashes; ContainmentSpec separately proves prefix ⋈ full ≡
    * all-pairs on adversarial subset fixtures.
    */
  val q148Containment: QuerySpec = QuerySpec.oracled(
    "q148_containment",
    s"""$shingleCte,
       |p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    len(list_intersect(a.h, b.h)) AS inter_size,
       |    least(len(a.h), len(b.h)) AS min_size
       |  FROM hs a JOIN hs b ON a.doc_id < b.doc_id)
       |SELECT id_a, id_b, inter_size, min_size FROM p
       |WHERE inter_size * 10 >= min_size * 8
       |ORDER BY id_a, id_b""".stripMargin) { (spark, dir) =>
    Dedup.containmentPairs(
      spark.read.parquet(s"$dir/documents.parquet"),
      idCol = "doc_id", textCol = "text",
      k = 3, thresholdNum = 8, thresholdDen = 10)
      .orderBy("id_a", "id_b")
  }

  /** Incremental near-dup maintenance
    * ([[graft.ext.Dedup.minhashNearDupPairsIncremental]]): documents with
    * `doc_id % 7 = 0` play the freshly-ingested batch, the rest the
    * already-deduplicated corpus; the result is every qualifying pair
    * touching the batch — corpus × corpus pairs are structurally excluded
    * from candidate generation, which is what keeps per-batch dedup cost
    * proportional to the batch, not the 100 TB history. The oracle replays
    * exact all-pairs Jaccard restricted to pairs with an incoming member.
    */
  val q155IncrementalNearDup: QuerySpec = QuerySpec.oracled(
    "q155_incremental_neardup",
    s"""$shingleCte,
       |p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    len(list_intersect(a.h, b.h)) AS inter_size,
       |    len(a.h) + len(b.h) - len(list_intersect(a.h, b.h)) AS union_size
       |  FROM hs a JOIN hs b ON a.doc_id < b.doc_id
       |  WHERE a.doc_id % 7 = 0 OR b.doc_id % 7 = 0)
       |SELECT id_a, id_b, inter_size, union_size FROM p
       |WHERE inter_size * 10 >= union_size * 7
       |ORDER BY id_a, id_b""".stripMargin) { (spark, dir) =>
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    Dedup.minhashNearDupPairsIncremental(
      corpus = docs.filter(col("doc_id") % 7 =!= 0),
      incoming = docs.filter(col("doc_id") % 7 === 0),
      idCol = "doc_id", textCol = "text",
      k = 3, numHashes = 128, bandRows = 2,
      thresholdNum = 7, thresholdDen = 10)
      .orderBy("id_a", "id_b")
  }

  private val q161Staging = new QuerySpec.StagingCache[String]

  /** Split the documents table into three doc_id-striped parquet files,
    * backdated oldest-first so the file stream drains them as three
    * ordered ingest batches. Memoized per sf dir.
    */
  def stageQ161(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    q161Staging.getOrStage(dir) {
      val staged = new java.io.File(QuerySpec.stagedPath("q161_docs", dir))
      org.apache.commons.io.FileUtils.deleteQuietly(staged)
      staged.mkdirs()
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text")
      (0 until 3).foreach { i =>
        val sub = s"b0$i"
        docs.filter(col("doc_id") % 3 === i).coalesce(1)
          .write.parquet(s"$staged/$sub")
        QuerySpec.flattenPart(spark, staged.toString, sub, s"$sub.parquet")
        QuerySpec.backdate(s"$staged/$sub.parquet", (3 - i) * 60000L)
      }
      staged.toString
    }

  /** STREAMING near-dup maintenance: the documents table arrives as three
    * ingest batches over a file stream; each `foreachBatch` runs
    * [[graft.ext.Dedup.minhashNearDupPairsIncremental]] of the batch
    * against the corpus PERSISTED so far (a parquet dir, exactly the
    * artifact a production pipeline keeps between ingests), appends the
    * discovered pairs to a result dir, then folds the batch into the
    * corpus. Every qualifying pair is emitted exactly once — in the batch
    * where its LATER member arrives (same-batch pairs via the
    * incoming × incoming leg) — so the union over batches must equal the
    * one-shot all-pairs result: the oracle is q18's full exact-Jaccard
    * SQL, unfiltered. No batch ever pays a corpus × corpus join; this is
    * the continuous-ingest dedup shape at 100 TB (per-batch cost ∝ batch,
    * checkpointed source progress, idempotent-by-batchId writes being the
    * production hardening of the append used here).
    */
  val q161StreamIncrementalDedup: QuerySpec = QuerySpec.oracled(
    "q161_stream_incr_dedup",
    s"""$shingleCte,
       |p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    len(list_intersect(a.h, b.h)) AS inter_size,
       |    len(a.h) + len(b.h) - len(list_intersect(a.h, b.h)) AS union_size
       |  FROM hs a JOIN hs b ON a.doc_id < b.doc_id)
       |SELECT id_a, id_b, inter_size, union_size FROM p
       |WHERE inter_size * 10 >= union_size * 7
       |ORDER BY id_a, id_b""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.streaming.Trigger
    val staged = stageQ161(spark, dir)
    val run = new java.io.File(
      QuerySpec.stagedPath("q161_run", dir + "#" + System.nanoTime()))
    // r9 (guide §8 — move heavy bytes once): the corpus persisted between
    // batches is now the SIGNED state (shingle-hash sets + LSH bands),
    // not raw text — each batch signs only itself and joins against
    // stored signatures, so per-batch cost is ∝ |batch| instead of
    // re-running the fused shingle/minhash pass over the whole
    // accumulated corpus every batch (the operator scaladoc's own
    // production note, now honored by the loop itself).
    val setsDir = s"$run/sets"
    val bandsDir = s"$run/bands"
    val pairsDir = s"$run/pairs"
    val schema = spark.read.parquet(s"$staged/b00.parquet").schema
    def stateFiles(d: String): Array[java.io.File] =
      Option(new java.io.File(d).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
    // scope the shuffle-partition override BEFORE start(): the streaming
    // runtime snapshots session conf when the query starts. r10: the
    // count derives from the staged backlog bytes (scale-adaptive, the
    // drainScoped discipline) instead of the r9 hard-coded 8 — measured
    // against both that 8 and no-override/AQE-32, the bytes-derived
    // count is fastest here (the per-batch joins are fixed-cost-bound
    // at this state size; at TB backlogs the same code derives
    // thousands of partitions).
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, graft.conf.Tuning.partitionsForBytes(
      spark, graft.conf.Tuning.dirBytes(spark, staged)).toString)
    try {
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val (setsI0, bandsI0) = Dedup.signedSetsAndBands(
            batch, "doc_id", "text", k = 3, numHashes = 128, bandRows = 2)
          // sign the batch ONCE: candidates, verify, and the state
          // append all read these materialized frames
          val setsI = setsI0.localCheckpoint()
          val bandsI = bandsI0.localCheckpoint()
          val (priorSets, priorBands) =
            if (stateFiles(setsDir).isEmpty)
              (setsI.limit(0), bandsI.limit(0))
            else (spark.read.parquet(setsDir), spark.read.parquet(bandsDir))
          Dedup.minhashPairsFromSigned(setsI, bandsI, priorSets, priorBands,
              thresholdNum = 7, thresholdDen = 10)
            .write.mode("append").parquet(pairsDir)
          setsI.write.mode("append").parquet(setsDir)
          bandsI.write.mode("append").parquet(bandsDir)
          // all three consumers (pairs write + two state appends) have
          // run — drop the checkpoint blocks so they don't accumulate
          // across batches for the life of the stream (r10, advisor)
          setsI.unpersist()
          bandsI.unpersist()
          ()
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$run/ckpt")
        .start()
        .awaitTermination()
    } finally spark.conf.set(key, prev)
    spark.read.parquet(pairsDir)
      .select("id_a", "id_b", "inter_size", "union_size")
      .orderBy("id_a", "id_b")
  }.withSetup((s, d) => { stageQ161(s, d); () })

  /** Sorted-neighborhood near-dup pairs
    * ([[graft.ext.Dedup.sortedNeighborhoodPairs]]): LINEAR-candidate
    * blocking — normalized 24-char prefix key, global range-partitioned
    * sort, each doc paired only with its 3 successors, so candidates are
    * exactly 3n (1,494 at sf0.01 vs ~n²/2 ≈ 125k all-pairs) before the
    * exact bigram-Jaccard verify at 0.3. The oracle replays the same key,
    * the same total order (row_number over (key, doc_id)), the same rank-
    * window candidates, and the same integer-arithmetic verify.
    */
  val q172SortedNeighborhood: QuerySpec = QuerySpec.oracled(
    "q172_sorted_neighborhood",
    """WITH ky AS (
      |  SELECT doc_id,
      |    substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
      |      1, 24) AS key
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, row_number() OVER (ORDER BY key, doc_id) AS rn
      |  FROM ky),
      |c AS (
      |  SELECT least(a.doc_id, b.doc_id) AS id_a,
      |    greatest(a.doc_id, b.doc_id) AS id_b
      |  FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 3),
      |tk AS (
      |  SELECT doc_id, list_filter(
      |    string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks)),
      |    i -> toks[i] || ' ' || toks[i+1])) AS s
      |  FROM tk),
      |hs AS (
      |  SELECT doc_id, list_distinct(list_transform(s,
      |    x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS h
      |  FROM sh WHERE len(s) > 0),
      |p AS (
      |  SELECT c.id_a, c.id_b,
      |    len(list_intersect(x.h, y.h)) AS inter_size,
      |    len(x.h) + len(y.h) - len(list_intersect(x.h, y.h)) AS union_size
      |  FROM c JOIN hs x ON x.doc_id = c.id_a JOIN hs y ON y.doc_id = c.id_b)
      |SELECT id_a, id_b, inter_size, union_size FROM p
      |WHERE inter_size * 10 >= union_size * 3
      |ORDER BY id_a, id_b""".stripMargin) { (spark, dir) =>
    Dedup.sortedNeighborhoodPairs(
      spark.read.parquet(s"$dir/documents.parquet"),
      idCol = "doc_id", textCol = "text",
      window = 4, keyLen = 24, k = 2, thresholdNum = 3, thresholdDen = 10)
      .orderBy("id_a", "id_b")
  }

  /** Duplicated-span fraction ([[graft.ext.Dedup.duplicatedSpanFraction]]):
    * per-document ppm of 64-char windows (stride 32) whose hash occurs in
    * ≥ 2 DISTINCT documents — the span-level dedup signal the doc-level
    * MinHash/SimHash family cannot see (shared boilerplate below the
    * doc-similarity threshold). Intra-doc repeats don't count (that is
    * q60's signal). All-integer output, exact floor-div ppm.
    */
  val q177DupSpans: QuerySpec = QuerySpec.oracled(
    "q177_dup_spans",
    """WITH d AS (
      |  SELECT doc_id, text, n_chars FROM documents WHERE n_chars >= 64),
      |ix AS (
      |  SELECT doc_id, text,
      |    unnest(range(0, (n_chars - 64) // 32 + 1)) AS i
      |  FROM d),
      |w AS (
      |  SELECT doc_id, md5(substr(text, (i * 32 + 1)::INT, 64)) AS h
      |  FROM ix),
      |nd AS (SELECT h, count(DISTINCT doc_id) AS nd FROM w GROUP BY 1),
      |per AS (
      |  SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_windows,
      |    CAST(sum(CASE WHEN nd.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_dup
      |  FROM w JOIN nd USING (h) GROUP BY 1)
      |SELECT doc_id, n_windows, n_dup,
      |  n_dup * 1000000 // n_windows AS dup_ppm
      |FROM per ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Dedup.duplicatedSpanFraction(
      spark.read.parquet(s"$dir/documents.parquet"),
      idCol = "doc_id", textCol = "text", nCharsCol = "n_chars",
      width = 64, stride = 32)
      .orderBy("doc_id")
  }

  /** Exact duplicated-span removal
    * ([[graft.ext.Dedup.removeDuplicatedSpans]] — Lee et al. 2022
    * ExactSubstr, hash-window form): q177 SCORES span duplication; this
    * REWRITES the corpus — 64-char windows (stride 32) whose hash occurs
    * in ≥ 2 distinct documents merge into maximal per-doc intervals
    * (gaps-and-islands) and are excised from every document. The oracle
    * rebuilds each cleaned text as the concatenation of kept gaps —
    * provably equal to the Spark side's right-to-left excision fold —
    * and both sides report the rewrite as (span count, removed chars,
    * clean length, clean md5), hash-exact.
    */
  val q275DupSpanRemoval: QuerySpec = QuerySpec.oracled(
    "q275_dup_span_removal",
    """WITH d AS (SELECT doc_id, text, n_chars FROM documents),
      |ix AS (
      |  SELECT doc_id, text,
      |    unnest(range(0, (n_chars - 64) // 32 + 1)) AS i
      |  FROM d WHERE n_chars >= 64),
      |w AS (
      |  SELECT doc_id, (i * 32)::BIGINT AS s,
      |    md5(substr(text, (i * 32 + 1)::INT, 64)) AS h
      |  FROM ix),
      |nd AS (SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
      |dw AS (SELECT w.doc_id, w.s, w.s + 64 AS e FROM w JOIN nd USING (h)),
      |mk AS (
      |  SELECT doc_id, s, e,
      |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
      |        ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING
      |        AND 1 PRECEDING), -1)
      |      THEN 1 ELSE 0 END AS brk
      |  FROM dw),
      |gi AS (
      |  SELECT doc_id, s, e,
      |    sum(brk) OVER (PARTITION BY doc_id ORDER BY s, e
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
      |  FROM mk),
      |mg AS (SELECT doc_id, min(s) AS s, max(e) AS e FROM gi
      |       GROUP BY doc_id, g),
      |ag AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
      |    CAST(sum(e - s) AS BIGINT) AS removed_chars
      |  FROM mg GROUP BY doc_id),
      |gaps AS (
      |  SELECT doc_id,
      |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS gs,
      |    s AS ge
      |  FROM mg
      |  UNION ALL
      |  SELECT m2.doc_id, m2.gs, d.n_chars AS ge
      |  FROM (SELECT doc_id, max(e) AS gs FROM mg GROUP BY doc_id) m2
      |  JOIN d ON d.doc_id = m2.doc_id),
      |cl AS (
      |  SELECT g.doc_id,
      |    string_agg(substr(d.text, (g.gs + 1)::INT, (g.ge - g.gs)::INT),
      |      '' ORDER BY g.gs) AS clean
      |  FROM gaps g JOIN d ON d.doc_id = g.doc_id
      |  WHERE g.ge > g.gs
      |  GROUP BY g.doc_id)
      |SELECT d.doc_id,
      |  coalesce(ag.n_spans, 0) AS n_spans,
      |  coalesce(ag.removed_chars, 0) AS removed_chars,
      |  CAST(length(CASE WHEN ag.doc_id IS NULL THEN d.text
      |    ELSE coalesce(cl.clean, '') END) AS BIGINT) AS clean_len,
      |  md5(CASE WHEN ag.doc_id IS NULL THEN d.text
      |    ELSE coalesce(cl.clean, '') END) AS clean_md5
      |FROM d
      |LEFT JOIN ag ON ag.doc_id = d.doc_id
      |LEFT JOIN cl ON cl.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin) { (spark, dir) =>
    Dedup.removeDuplicatedSpans(
      spark.read.parquet(s"$dir/documents.parquet"),
      idCol = "doc_id", textCol = "text", nCharsCol = "n_chars",
      width = 64, stride = 32)
      .orderBy("doc_id")
  }

  /** Variable-length exact-substring dedup
    * ([[graft.ext.Dedup.removeExactSubstr]] — Lee et al. 2022
    * ExactSubstr, the suffix-array policy as duplicated-L-gram
    * coverage): duplicates are PLANTED deterministically — docs 0–19
    * each get the first 24 tokens of doc (id+100) appended — so
    * variable-length duplicated runs (the 24-token splices plus whatever
    * natural repetition exists) must be found at every occurrence,
    * merged into maximal token intervals, and excised; both engines
    * replay the plant, the stride-1 gram marking, the islands merge,
    * and the token rewrite hash-exactly. q275's fixed-window form
    * remains the stride-aligned char-level sibling.
    */
  val q305ExactSubstr: QuerySpec = QuerySpec.oracled(
    "q305_exact_substr",
    """WITH d0 AS (SELECT doc_id, text FROM documents),
      |sp AS (
      |  SELECT doc_id - 100 AS doc_id,
      |    array_to_string(list_slice(
      |      list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |        t -> t <> ''), 1, 24), ' ') AS splice
      |  FROM d0 WHERE doc_id >= 100 AND doc_id < 120),
      |d AS (
      |  SELECT d0.doc_id,
      |    CASE WHEN sp.splice IS NULL THEN d0.text
      |         ELSE d0.text || ' ' || sp.splice END AS text
      |  FROM d0 LEFT JOIN sp ON sp.doc_id = d0.doc_id),
      |tk AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |      t -> t <> '') AS toks
      |  FROM d),
      |ta AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS nt FROM tk),
      |gr AS (
      |  SELECT doc_id, toks,
      |    unnest(range(0, nt - 12 + 1)) AS p
      |  FROM ta WHERE nt >= 12),
      |g2 AS (
      |  SELECT doc_id, p::BIGINT AS p,
      |    md5(array_to_string(
      |      list_slice(toks, (p + 1)::INT, (p + 12)::INT), chr(1))) AS h
      |  FROM gr),
      |nd AS (SELECT h FROM g2 GROUP BY h HAVING count(*) >= 2),
      |dw AS (SELECT g2.doc_id, g2.p AS s, g2.p + 12 AS e
      |       FROM g2 JOIN nd USING (h)),
      |mk AS (
      |  SELECT doc_id, s, e,
      |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
      |        ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING
      |        AND 1 PRECEDING), -1)
      |      THEN 1 ELSE 0 END AS brk
      |  FROM dw),
      |gi AS (
      |  SELECT doc_id, s, e,
      |    sum(brk) OVER (PARTITION BY doc_id ORDER BY s, e
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
      |  FROM mk),
      |mg AS (SELECT doc_id, min(s) AS s, max(e) AS e FROM gi
      |       GROUP BY doc_id, g),
      |ag AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
      |    CAST(sum(e - s) AS BIGINT) AS removed_toks
      |  FROM mg GROUP BY doc_id),
      |pos AS (
      |  SELECT doc_id, unnest(range(0, nt))::BIGINT AS q FROM ta),
      |kept AS (
      |  SELECT p.doc_id, p.q
      |  FROM pos p
      |  WHERE NOT EXISTS (SELECT 1 FROM mg
      |    WHERE mg.doc_id = p.doc_id AND p.q >= mg.s AND p.q < mg.e)),
      |kt AS (
      |  SELECT k.doc_id, k.q, ta.toks[(k.q + 1)::INT] AS tok
      |  FROM kept k JOIN ta ON ta.doc_id = k.doc_id),
      |cl AS (
      |  SELECT ta.doc_id,
      |    coalesce(string_agg(kt.tok, ' ' ORDER BY kt.q), '') AS clean
      |  FROM ta LEFT JOIN kt ON kt.doc_id = ta.doc_id
      |  GROUP BY ta.doc_id)
      |SELECT ta.doc_id,
      |  coalesce(ag.n_spans, 0) AS n_spans,
      |  coalesce(ag.removed_toks, 0) AS removed_toks,
      |  ta.nt - coalesce(ag.removed_toks, 0) AS clean_ntoks,
      |  md5(cl.clean) AS clean_md5
      |FROM ta
      |JOIN cl ON cl.doc_id = ta.doc_id
      |LEFT JOIN ag ON ag.doc_id = ta.doc_id
      |ORDER BY ta.doc_id""".stripMargin) { (spark, dir) =>
    val d0 = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val sp = d0.filter(col("doc_id") >= 100 && col("doc_id") < 120)
      .select((col("doc_id") - 100).as("doc_id"),
        concat_ws(" ",
          slice(Dedup.tokens(col("text")), 1, 24)).as("splice"))
    val planted = d0.join(sp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("splice").isNull, col("text"))
          .otherwise(concat(col("text"), lit(" "), col("splice")))
          .as("text"))
    Dedup.removeExactSubstr(planted, "doc_id", "text", minLen = 12)
      .orderBy("doc_id")
  }

  /** The planted-corpus + tokenized-array CTE prefix shared by q305's
    * oracle and q306's generated per-rung chains. */
  private val exactSubstrBaseCtes =
    """d0 AS (SELECT doc_id, text FROM documents),
      |sp AS (
      |  SELECT doc_id - 100 AS doc_id,
      |    array_to_string(list_slice(
      |      list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |        t -> t <> ''), 1, 24), ' ') AS splice
      |  FROM d0 WHERE doc_id >= 100 AND doc_id < 120),
      |d AS (
      |  SELECT d0.doc_id,
      |    CASE WHEN sp.splice IS NULL THEN d0.text
      |         ELSE d0.text || ' ' || sp.splice END AS text
      |  FROM d0 LEFT JOIN sp ON sp.doc_id = d0.doc_id),
      |tk AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |      t -> t <> '') AS toks
      |  FROM d),
      |ta AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS nt FROM tk)"""
      .stripMargin

  /** One rung's gram → dup → islands chain, CTE-prefixed `r<L>_`. */
  private def exactSubstrRungCtes(l: Int): String =
    s"""r${l}_gr AS (
       |  SELECT doc_id, toks, unnest(range(0, nt - $l + 1)) AS p
       |  FROM ta WHERE nt >= $l),
       |r${l}_g2 AS (
       |  SELECT doc_id, p::BIGINT AS p,
       |    md5(array_to_string(
       |      list_slice(toks, (p + 1)::INT, (p + $l)::INT), chr(1))) AS h
       |  FROM r${l}_gr),
       |r${l}_nd AS (SELECT h FROM r${l}_g2 GROUP BY h HAVING count(*) >= 2),
       |r${l}_dw AS (SELECT g.doc_id, g.p AS s, g.p + $l AS e
       |             FROM r${l}_g2 g JOIN r${l}_nd USING (h)),
       |r${l}_mk AS (
       |  SELECT doc_id, s, e,
       |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
       |        ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING
       |        AND 1 PRECEDING), -1)
       |      THEN 1 ELSE 0 END AS brk
       |  FROM r${l}_dw),
       |r${l}_gi AS (
       |  SELECT doc_id, s, e,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY s, e
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
       |  FROM r${l}_mk),
       |r${l}_mg AS (SELECT doc_id, min(s) AS s, max(e) AS e FROM r${l}_gi
       |             GROUP BY doc_id, g)""".stripMargin

  /** Exact-substring minLen sensitivity curve
    * ([[graft.ext.Dedup.exactSubstrCurve]] — the audit behind choosing
    * the q305 gram length, the q284/q296 curve discipline): rungs
    * 8/16/32 over the SAME planted corpus — the 24-token splices are
    * caught whole at 8 and 16 and vanish at 32, so the curve's shape is
    * the planted signal; every rung's full gram → dup → islands chain
    * replays in the generated oracle, removal rates in exact
    * floor-div ppm of the corpus token count.
    */
  val q306ExactSubstrCurve: QuerySpec = QuerySpec.oracled(
    "q306_exact_substr_curve",
    s"""WITH $exactSubstrBaseCtes,
       |${Seq(8, 16, 32).map(exactSubstrRungCtes).mkString(",\n")},
       |tt AS (SELECT CAST(sum(nt) AS BIGINT) AS tot FROM ta),
       |rows0 AS (
       |${Seq(8, 16, 32).map(l =>
           s"""  SELECT CAST($l AS BIGINT) AS min_len,
              |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_hit,
              |    CAST(count(*) AS BIGINT) AS n_spans,
              |    CAST(coalesce(sum(e - s), 0) AS BIGINT) AS removed_toks
              |  FROM r${l}_mg""".stripMargin)
         .mkString("", "\n  UNION ALL\n", "")})
       |SELECT min_len, n_docs_hit, n_spans, removed_toks,
       |  CAST(removed_toks * 1000000 // tt.tot AS BIGINT) AS removed_ppm
       |FROM rows0, tt
       |ORDER BY min_len""".stripMargin) { (spark, dir) =>
    val d0 = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val sp = d0.filter(col("doc_id") >= 100 && col("doc_id") < 120)
      .select((col("doc_id") - 100).as("doc_id"),
        concat_ws(" ",
          slice(Dedup.tokens(col("text")), 1, 24)).as("splice"))
    val planted = d0.join(sp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("splice").isNull, col("text"))
          .otherwise(concat(col("text"), lit(" "), col("splice")))
          .as("text"))
    Dedup.exactSubstrCurve(planted, "doc_id", "text", Seq(8, 16, 32))
      .orderBy("min_len")
  }

  /** Dedup-ablation report: the artifact a data team publishes after a
    * dedup pass — per language, how many documents and characters the
    * near-dup pipeline (q18 pairs → q57 clusters → min-id survivors)
    * REMOVED, with the removal rate in exact floor-div ppm. Strings the
    * whole family into one adjudicated end-to-end row set: pairs,
    * transitive clustering, survivor policy, and the per-stratum
    * accounting all have to agree with the oracle's recursive-CTE
    * replay for this to hash-match.
    *
    * 100 TB shape: reuses q57's staged pair table and cluster labels
    * (|dups| rows, never corpus-wide); the report is one broadcast-
    * joinable label lookup + a map-side-combinable per-lang rollup.
    */
  val q196DedupAblation: QuerySpec = QuerySpec.oracled(
    "q196_dedup_ablation",
    s"""${shingleCte.replaceFirst("WITH", "WITH RECURSIVE")},
       |p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM hs a JOIN hs b ON a.doc_id < b.doc_id
       |  WHERE len(list_intersect(a.h, b.h)) * 10 >=
       |    (len(a.h) + len(b.h) - len(list_intersect(a.h, b.h))) * 7),
       |e AS (SELECT id_a AS src, id_b AS dst FROM p
       |      UNION ALL SELECT id_b, id_a FROM p),
       |walk(node, lbl) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, w.lbl FROM walk w JOIN e ON e.src = w.node),
       |lab AS (
       |  SELECT node AS doc_id, min(lbl) AS cluster_id FROM walk
       |  GROUP BY node),
       |rep AS (
       |  SELECT d.lang,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CASE WHEN l.doc_id <> l.cluster_id THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_removed,
       |    CAST(sum(d.n_chars) AS BIGINT) AS chars_total,
       |    CAST(sum(CASE WHEN l.doc_id <> l.cluster_id THEN d.n_chars
       |      ELSE 0 END) AS BIGINT) AS chars_removed
       |  FROM lab l JOIN documents d USING (doc_id)
       |  GROUP BY 1)
       |SELECT lang, n_docs, n_removed, chars_total, chars_removed,
       |  (1000000 * chars_removed) // chars_total AS removed_ppm
       |FROM rep ORDER BY lang""".stripMargin) { (spark, dir) =>
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val pairs = spark.read.parquet(stagePairs(spark, dir))
    val lab = graft.ext.Clusters
      .dedupClusters(docs.select("doc_id"), "doc_id", pairs)
      .select(col("doc_id"), col("cluster_id"))
    docs.select(col("doc_id"), col("lang"), col("n_chars"))
      .join(lab, "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("cluster_id"), 1L).otherwise(0L))
          .cast("long").as("n_removed"),
        sum("n_chars").cast("long").as("chars_total"),
        sum(when(col("doc_id") =!= col("cluster_id"), col("n_chars"))
          .otherwise(0L)).cast("long").as("chars_removed"))
      .withColumn("removed_ppm",
        expr("(1000000 * chars_removed) DIV chars_total"))
      .orderBy("lang")
  }.withSetup((s, d) => { stagePairs(s, d); () })

  /** Threshold-sensitivity curve ([[graft.ext.Dedup.jaccardThresholdCurve]]):
    * qualifying-pair and touched-doc counts at a ladder of Jaccard
    * thresholds, from ONE exploded-hash pair computation — the audit that
    * justifies a dedup threshold before a corpus-wide run (pair the curve
    * with q196's post-hoc retention report). The oracle replays the exact
    * all-pairs Jaccard ladder; thresholds whose qualifying set is empty
    * emit no row in either engine.
    */
  val q236ThresholdCurve: QuerySpec = QuerySpec.oracled(
    "q236_threshold_curve",
    s"""$shingleCte,
       |p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    len(list_intersect(a.h, b.h)) AS inter_size,
       |    len(a.h) + len(b.h) - len(list_intersect(a.h, b.h)) AS union_size
       |  FROM hs a JOIN hs b ON a.doc_id < b.doc_id),
       |t(threshold_pct) AS (VALUES (50), (60), (70), (80), (90)),
       |q AS (
       |  SELECT CAST(t.threshold_pct AS BIGINT) AS threshold_pct, id_a, id_b
       |  FROM p CROSS JOIN t
       |  WHERE inter_size * 100 >= union_size * t.threshold_pct),
       |pc AS (
       |  SELECT threshold_pct, CAST(count(*) AS BIGINT) AS n_pairs
       |  FROM q GROUP BY 1),
       |dc AS (
       |  SELECT threshold_pct, CAST(count(DISTINCT id) AS BIGINT) AS n_docs
       |  FROM (SELECT threshold_pct, unnest([id_a, id_b]) AS id FROM q)
       |  GROUP BY 1)
       |SELECT pc.threshold_pct, n_pairs, n_docs
       |FROM pc JOIN dc USING (threshold_pct)
       |ORDER BY threshold_pct""".stripMargin) { (spark, dir) =>
    Dedup.jaccardThresholdCurve(
      spark.read.parquet(s"$dir/documents.parquet"),
      idCol = "doc_id", textCol = "text", k = 3,
      thresholdsPct = Seq(50, 60, 70, 80, 90))
      .orderBy("threshold_pct")
  }

  /** Exact all-pairs set-cosine join with lossless prefix filtering
    * ([[graft.ext.Dedup.apssCosinePairs]] — Bayardo, Ma & Srikant 2007):
    * every pair whose distinct-trigram-shingle-set cosine reaches 0.55,
    * found by joining only each doc's rarest `n − ceil(t²n) + 1`
    * shingles (a global df-asc total order), then verifying candidates
    * with exact integer overlap counts. The pruning is provably
    * lossless, so the ORACLE is the brute all-pairs definition — the
    * Spark side runs the pruned scale shape, DuckDB the exhaustive one,
    * and they must agree row-for-row (q41's banded≡exact discipline).
    * All comparisons are cross-multiplied integers; the reported cosine
    * fixes to ppb with one correctly-rounded division.
    */
  val q309ApssCosine: QuerySpec = QuerySpec.oracled(
    "q309_apss_cosine",
    s"""$shingleCte,
       |nn AS (
       |  SELECT doc_id, CAST(len(h) AS BIGINT) AS n FROM hs),
       |tc AS (SELECT doc_id, unnest(h) AS h FROM hs),
       |ov AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(count(*) AS BIGINT) AS overlap
       |  FROM tc a JOIN tc b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT o.doc_a, o.doc_b, o.overlap, na.n AS n_a, nb.n AS n_b,
       |  CAST(floor(o.overlap * 1000000000.0 /
       |    sqrt((na.n * nb.n)::DOUBLE) + 0.5) AS BIGINT) AS cos_ppb
       |FROM ov o
       |JOIN nn na ON o.doc_a = na.doc_id
       |JOIN nn nb ON o.doc_b = nb.doc_id
       |WHERE o.overlap * o.overlap * 1000000 >= 302500 * na.n * nb.n
       |ORDER BY o.doc_a, o.doc_b""".stripMargin) { (spark, dir) =>
    graft.ext.Dedup.apssCosinePairs(
      spark.read.parquet(s"$dir/documents.parquet"),
      idCol = "doc_id", textCol = "text", thresholdPermil = 550)
      .orderBy("doc_a", "doc_b")
  }

  private val q313Staging = new QuerySpec.StagingCache[String]

  /** Stage the q313 dedup index once per (JVM, sf dir): build on the
    * doc_id % 3 == 1 slice, fold the % 3 == 2 slice as committed delta
    * g1 — so the gate query's read path crosses base + delta + fresh.
    */
  private def stageQ313(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    q313Staging.getOrStage(dir) {
      import graft.ext.DedupIndex
      val idxDir = QuerySpec.stagedPath("q313_index", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxDir))
      new java.io.File(idxDir).mkdirs()
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      DedupIndex.build(spark, docs.filter(col("doc_id") % 3 === 1),
        idxDir, "docs", "doc_id", "text",
        k = 3, numHashes = 128, bandRows = 2)
      DedupIndex.fold(spark, docs.filter(col("doc_id") % 3 === 2),
        idxDir, "docs", "doc_id", "text").count()
      idxDir
    }

  /** Persisted dedup-index lifecycle
    * ([[graft.ext.DedupIndex]] — the q271 AnnIndex discipline applied to
    * the MinHash family): the index is built on one corpus slice, a
    * second slice folds in as a committed marker-gated delta, and the
    * gate queries the third slice READ-ONLY against base + delta + fresh
    * ([[graft.ext.DedupIndex.pairsAgainst]], the admission check). The
    * maintained result must equal the one-shot q18 definition restricted
    * to fresh involvement — same fused signature expr, same banding,
    * same exact integer verify regardless of which generation signed
    * each side — so the oracle is q18's EXHAUSTIVE all-pairs SQL with
    * the fresh-involvement filter.
    */
  val q313DedupIndex: QuerySpec = QuerySpec.oracled(
    "q313_dedup_index",
    s"""$shingleCte,
       |p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    len(list_intersect(a.h, b.h)) AS inter_size,
       |    len(a.h) + len(b.h) - len(list_intersect(a.h, b.h)) AS union_size
       |  FROM hs a JOIN hs b ON a.doc_id < b.doc_id)
       |SELECT id_a, id_b, inter_size, union_size FROM p
       |WHERE inter_size * 10 >= union_size * 7
       |  AND (id_a % 3 = 0 OR id_b % 3 = 0)
       |ORDER BY id_a, id_b""".stripMargin) { (spark, dir) =>
    val idxDir = stageQ313(spark, dir)
    graft.ext.DedupIndex.pairsAgainst(spark,
      spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 3 === 0),
      idxDir, "docs", "doc_id", "text",
      thresholdNum = 7, thresholdDen = 10)
      .select("id_a", "id_b", "inter_size", "union_size")
      .orderBy("id_a", "id_b")
  }.withSetup((s, d) => { stageQ313(s, d); () })

  private val q314Staging = new QuerySpec.StagingCache[String]

  /** Stage the % 3 == 2 slice as two flat parquet files — the q314
    * micro-batch feed (oldest-first file source, one file per trigger).
    */
  private def stageQ314(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    q314Staging.getOrStage(dir) {
      val staged = new java.io.File(QuerySpec.stagedPath("q314_docs", dir))
      org.apache.commons.io.FileUtils.deleteQuietly(staged)
      staged.mkdirs()
      val d2 = spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 3 === 2)
      d2.filter(col("doc_id") % 6 === 2).coalesce(1)
        .write.parquet(s"$staged/00")
      QuerySpec.flattenPart(spark, staged.toString, "00", "a.parquet")
      d2.filter(col("doc_id") % 6 === 5).coalesce(1)
        .write.parquet(s"$staged/01")
      QuerySpec.flattenPart(spark, staged.toString, "01", "b.parquet")
      staged.toString
    }

  /** q313's persisted dedup index MAINTAINED over a real micro-batch
    * stream: build on the % 3 == 1 slice, then each streamed micro-batch
    * of new docs FOLDS via `foreachBatch` (delta-sized sign+write per
    * trigger, marker-gated commits), and the gate previews the % 3 == 0
    * slice read-only against the final state. Folds are append-only
    * under a frozen banding scheme, so the maintained index is
    * independent of fold slicing and equals q313's batch-built state
    * EXACTLY — same oracle SQL (the q256/q281 stream ≡ batch discipline
    * applied to the dedup artifact).
    */
  val q314DedupIndexStream: QuerySpec = QuerySpec.oracled(
    "q314_dedup_index_stream",
    s"""$shingleCte,
       |p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    len(list_intersect(a.h, b.h)) AS inter_size,
       |    len(a.h) + len(b.h) - len(list_intersect(a.h, b.h)) AS union_size
       |  FROM hs a JOIN hs b ON a.doc_id < b.doc_id)
       |SELECT id_a, id_b, inter_size, union_size FROM p
       |WHERE inter_size * 10 >= union_size * 7
       |  AND (id_a % 3 = 0 OR id_b % 3 = 0)
       |ORDER BY id_a, id_b""".stripMargin) { (spark, dir) =>
    import graft.ext.DedupIndex
    import org.apache.spark.sql.streaming.Trigger
    val staged = stageQ314(spark, dir)
    val idxDir = QuerySpec.stagedPath("q314_index", dir)
    val ckpt = QuerySpec.stagedPath("q314_ckpt", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxDir))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    new java.io.File(idxDir).mkdirs()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // build and folds take the size gate themselves
    DedupIndex.build(spark, docs.filter(col("doc_id") % 3 === 1),
      idxDir, "docs", "doc_id", "text",
      k = 3, numHashes = 128, bandRows = 2)
    val schema = spark.read.parquet(s"$staged/a.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged)
    spark.streams.active.filter(_.name == "q314_fold").foreach(_.stop())
    val q = stream.writeStream
      .queryName("q314_fold")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        // the batchId IS the fold generation: foreachBatch is
        // at-least-once, and a retried batch replaying its own committed
        // generation is a no-op instead of a double-insert
        DedupIndex.fold(batch.sparkSession, batch, idxDir, "docs",
          "doc_id", "text", generation = Some(batchId + 1))
        ()
      }
      .start()
    q.awaitTermination()
    DedupIndex.pairsAgainst(spark,
      docs.filter(col("doc_id") % 3 === 0),
      idxDir, "docs", "doc_id", "text",
      thresholdNum = 7, thresholdDen = 10)
      .select("id_a", "id_b", "inter_size", "union_size")
      .orderBy("id_a", "id_b")
  }.withSetup((s, d) => { stageQ314(s, d); () })

  /** APSS threshold-sensitivity curve
    * ([[graft.ext.Dedup.apssCosineCurve]] — the q236 audit discipline
    * applied to the exact cosine join): pairs/docs qualifying at
    * 0.55 / 0.90 / 0.95 / 0.99, one loosest-rung prefix-filtered pass
    * feeding every rung (lossless by monotonicity), run SAMPLE-FIRST
    * the way the 100 TB audit would: a deterministic 40% md5 ppm doc
    * slice (the q49 rule — the loose bottom rung's candidate join
    * approaches all-pairs on boilerplate corpora, so the audit samples
    * and the chosen threshold runs on the corpus via q309). The oracle
    * replays the identical slice, then the brute per-rung definition;
    * the planted near-dup families separate only at the top rungs —
    * the curve's knee IS the planted signal.
    */
  val q317ApssCurve: QuerySpec = QuerySpec.oracled(
    "q317_apss_curve",
    s"""WITH dsamp AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE ('0x' || substr(md5('curve' || ':' ||
       |    CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 < 400000),
       |${shingleCte.stripPrefix("WITH ").replace("FROM documents", "FROM dsamp")},
       |nn AS (
       |  SELECT doc_id, CAST(len(h) AS BIGINT) AS n FROM hs),
       |tc AS (SELECT doc_id, unnest(h) AS h FROM hs),
       |ov AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM tc a JOIN tc b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |j AS (
       |  SELECT ov.doc_a, ov.doc_b, ov.c, na.n AS n_a, nb.n AS n_b
       |  FROM ov
       |  JOIN nn na ON ov.doc_a = na.doc_id
       |  JOIN nn nb ON ov.doc_b = nb.doc_id),
       |lad AS (SELECT * FROM (VALUES (550), (900), (950), (990))
       |  AS t(threshold_permil)),
       |q AS (
       |  SELECT lad.threshold_permil, j.doc_a, j.doc_b
       |  FROM j CROSS JOIN lad
       |  WHERE j.c * j.c * 1000000 >=
       |    lad.threshold_permil * lad.threshold_permil * j.n_a * j.n_b),
       |p2 AS (
       |  SELECT threshold_permil, CAST(count(*) AS BIGINT) AS n_pairs
       |  FROM q GROUP BY 1),
       |d2 AS (
       |  SELECT threshold_permil, CAST(count(DISTINCT id) AS BIGINT)
       |    AS n_docs
       |  FROM (SELECT threshold_permil, unnest([doc_a, doc_b]) AS id
       |        FROM q)
       |  GROUP BY 1)
       |SELECT CAST(p2.threshold_permil AS BIGINT) AS threshold_permil,
       |  p2.n_pairs, d2.n_docs
       |FROM p2 JOIN d2 USING (threshold_permil)
       |ORDER BY threshold_permil""".stripMargin) { (spark, dir) =>
    graft.ext.Dedup.apssCosineCurve(
      spark.read.parquet(s"$dir/documents.parquet"),
      idCol = "doc_id", textCol = "text",
      thresholdsPermil = Seq(550, 900, 950, 990),
      samplePpm = 400000)
  }

  private val q323Staging = new QuerySpec.StagingCache[String]

  /** Stage the q323 two-version index once per (JVM, sf dir): v1 indexes
    * the doc_id % 3 == 1 slice; a REBUILD (new corpus = mod-1 ∪ mod-2
    * slices) commits v2 and — under the default newest-2 retention —
    * RETAINS v1 for time-travel.
    */
  private def stageQ323(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    q323Staging.getOrStage(dir) {
      import graft.ext.DedupIndex
      val idxDir = QuerySpec.stagedPath("q323_index", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxDir))
      new java.io.File(idxDir).mkdirs()
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      DedupIndex.build(spark, docs.filter(col("doc_id") % 3 === 1),
        idxDir, "docs", "doc_id", "text",
        k = 3, numHashes = 128, bandRows = 2)
      DedupIndex.build(spark,
        docs.filter(col("doc_id") % 3 === 1 || col("doc_id") % 3 === 2),
        idxDir, "docs", "doc_id", "text",
        k = 3, numHashes = 128, bandRows = 2)
      idxDir
    }

  /** Index time-travel ([[graft.ext.DedupIndex.pairsAgainst]] with
    * `atVersion` — the retention window that closes the compact-time
    * reader race, queried deliberately): the staged index holds v1
    * (mod-1 slice) and current v2 (mod-1 ∪ mod-2), and the gate runs the
    * mod-0 admission preview AGAINST VERSION 1 — "what would last week's
    * corpus have said". The oracle is the brute all-pairs Jaccard
    * restricted to v1's world: both endpoints outside the mod-2 slice,
    * ≥ 1 endpoint fresh (mod-0). A reader that accidentally resolved v2
    * would surface mod-2 partners and hash-mismatch.
    */
  val q323DedupIndexTimeTravel: QuerySpec = QuerySpec.oracled(
    "q323_dedup_index_time_travel",
    s"""$shingleCte,
       |p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    len(list_intersect(a.h, b.h)) AS inter_size,
       |    len(a.h) + len(b.h) - len(list_intersect(a.h, b.h)) AS union_size
       |  FROM hs a JOIN hs b ON a.doc_id < b.doc_id)
       |SELECT id_a, id_b, inter_size, union_size FROM p
       |WHERE inter_size * 10 >= union_size * 7
       |  AND (id_a % 3 = 0 OR id_b % 3 = 0)
       |  AND id_a % 3 <> 2 AND id_b % 3 <> 2
       |ORDER BY id_a, id_b""".stripMargin) { (spark, dir) =>
    val idxDir = stageQ323(spark, dir)
    graft.ext.DedupIndex.pairsAgainst(spark,
      spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 3 === 0),
      idxDir, "docs", "doc_id", "text",
      thresholdNum = 7, thresholdDen = 10, atVersion = Some(1))
      .select("id_a", "id_b", "inter_size", "union_size")
      .orderBy("id_a", "id_b")
  }.withSetup((s, d) => { stageQ323(s, d); () })

  private val q326Staging = new QuerySpec.StagingCache[String]

  /** Stage the q326 exact-APSS index once per (JVM, sf dir): build on
    * the doc_id % 3 == 1 slice (frozen df order + floor-550 prefixes),
    * fold the % 3 == 2 slice as committed delta g1.
    */
  private def stageQ326(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    q326Staging.getOrStage(dir) {
      import graft.ext.ApssIndex
      val idxDir = QuerySpec.stagedPath("q326_index", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxDir))
      new java.io.File(idxDir).mkdirs()
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      ApssIndex.build(spark, docs.filter(col("doc_id") % 3 === 1),
        idxDir, "docs", "doc_id", "text", floorPermil = 550, k = 3)
      ApssIndex.fold(spark, docs.filter(col("doc_id") % 3 === 2),
        idxDir, "docs", "doc_id", "text", thresholdPermil = 550).count()
      idxDir
    }

  /** Persisted exact-APSS index ([[graft.ext.ApssIndex]] — the q313
    * artifact discipline applied to the guaranteed-recall q309 join):
    * built on one corpus slice under a FROZEN df-asc order and
    * floor-550 prefixes, a second slice folded in as a marker-gated
    * delta (signed under the same frozen order — prefixes stay
    * join-compatible without re-signing anything), and the gate
    * previews the third slice read-only against base + delta + fresh.
    * The prefix filter is lossless under ANY total order, so the
    * maintained result must equal the brute all-pairs definition over
    * the whole corpus restricted to fresh involvement — the oracle IS
    * q309's exhaustive SQL with the fresh filter, bit-for-bit (overlap,
    * sizes, and the ppb-fixed cosine all integer-exact).
    */
  val q326ApssIndex: QuerySpec = QuerySpec.oracled(
    "q326_apss_index",
    s"""$shingleCte,
       |nn AS (
       |  SELECT doc_id, CAST(len(h) AS BIGINT) AS n FROM hs),
       |tc AS (SELECT doc_id, unnest(h) AS h FROM hs),
       |ov AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(count(*) AS BIGINT) AS overlap
       |  FROM tc a JOIN tc b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT o.doc_a, o.doc_b, o.overlap, na.n AS n_a, nb.n AS n_b,
       |  CAST(floor(o.overlap * 1000000000.0 /
       |    sqrt((na.n * nb.n)::DOUBLE) + 0.5) AS BIGINT) AS cos_ppb
       |FROM ov o
       |JOIN nn na ON o.doc_a = na.doc_id
       |JOIN nn nb ON o.doc_b = nb.doc_id
       |WHERE o.overlap * o.overlap * 1000000 >= 302500 * na.n * nb.n
       |  AND (o.doc_a % 3 = 0 OR o.doc_b % 3 = 0)
       |ORDER BY o.doc_a, o.doc_b""".stripMargin) { (spark, dir) =>
    val idxDir = stageQ326(spark, dir)
    graft.ext.ApssIndex.pairsAgainst(spark,
      spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 3 === 0),
      idxDir, "docs", "doc_id", "text", thresholdPermil = 550)
      .orderBy("doc_a", "doc_b")
  }.withSetup((s, d) => { stageQ326(s, d); () })

  /** q326's persisted exact-APSS index MAINTAINED over a real
    * micro-batch stream: build on the % 3 == 1 slice, each streamed
    * micro-batch of new docs FOLDS via `foreachBatch` with the batchId
    * as its idempotent generation (delta-sized sign+write per trigger,
    * marker-gated commits, committed generations replay as no-ops under
    * at-least-once redelivery), and the gate previews the % 3 == 0
    * slice read-only against the final state. Folds sign under the
    * FROZEN build-time df order, so the maintained index is independent
    * of fold slicing and equals q326's batch-built state EXACTLY —
    * same oracle SQL (the q314 stream ≡ batch discipline applied to the
    * guaranteed-recall family).
    */
  val q327ApssIndexStream: QuerySpec = QuerySpec.oracled(
    "q327_apss_index_stream",
    s"""$shingleCte,
       |nn AS (
       |  SELECT doc_id, CAST(len(h) AS BIGINT) AS n FROM hs),
       |tc AS (SELECT doc_id, unnest(h) AS h FROM hs),
       |ov AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(count(*) AS BIGINT) AS overlap
       |  FROM tc a JOIN tc b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT o.doc_a, o.doc_b, o.overlap, na.n AS n_a, nb.n AS n_b,
       |  CAST(floor(o.overlap * 1000000000.0 /
       |    sqrt((na.n * nb.n)::DOUBLE) + 0.5) AS BIGINT) AS cos_ppb
       |FROM ov o
       |JOIN nn na ON o.doc_a = na.doc_id
       |JOIN nn nb ON o.doc_b = nb.doc_id
       |WHERE o.overlap * o.overlap * 1000000 >= 302500 * na.n * nb.n
       |  AND (o.doc_a % 3 = 0 OR o.doc_b % 3 = 0)
       |ORDER BY o.doc_a, o.doc_b""".stripMargin) { (spark, dir) =>
    import graft.ext.ApssIndex
    import org.apache.spark.sql.streaming.Trigger
    val staged = stageQ314(spark, dir) // the same two-file %3==2 feed
    val idxDir = QuerySpec.stagedPath("q327_index", dir)
    val ckpt = QuerySpec.stagedPath("q327_ckpt", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxDir))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    new java.io.File(idxDir).mkdirs()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // r10: size-gated fixed-cost scope over the build and the per-batch
    // folds (AQE off + bytes-derived partitions below the gate — each
    // action one job instead of one per exchange; unchanged at scale)
    val corpusBytes =
      graft.conf.Tuning.dirBytes(spark, s"$dir/documents.parquet")
    graft.conf.Tuning.withSmallInputScope(spark, corpusBytes) {
      ApssIndex.build(spark, docs.filter(col("doc_id") % 3 === 1),
        idxDir, "docs", "doc_id", "text", floorPermil = 550, k = 3)
    }
    val schema = spark.read.parquet(s"$staged/a.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged)
    spark.streams.active.filter(_.name == "q327_fold").foreach(_.stop())
    val q = stream.writeStream
      .queryName("q327_fold")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        graft.conf.Tuning.withSmallInputScope(
          batch.sparkSession, corpusBytes) {
          ApssIndex.fold(batch.sparkSession, batch, idxDir, "docs",
            "doc_id", "text", thresholdPermil = 550,
            generation = Some(batchId + 1))
        }
        ()
      }
      .start()
    q.awaitTermination()
    ApssIndex.pairsAgainst(spark,
      docs.filter(col("doc_id") % 3 === 0),
      idxDir, "docs", "doc_id", "text", thresholdPermil = 550)
      .orderBy("doc_a", "doc_b")
  }.withSetup((s, d) => { stageQ314(s, d); () })

  private val q329Staging = new QuerySpec.StagingCache[String]

  /** Stage the q329 maintained cluster labels once per (JVM, sf dir):
    * build on half the q18 pair set (parity split), fold the other half
    * as committed delta g1.
    */
  private def stageQ329(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    q329Staging.getOrStage(dir) {
      import graft.ext.ClusterIndex
      val idxDir = QuerySpec.stagedPath("q329_clusters", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxDir))
      new java.io.File(idxDir).mkdirs()
      val pairs = spark.read.parquet(stagePairs(spark, dir))
        .select(col("src").as("id_a"), col("dst").as("id_b"))
      ClusterIndex.build(spark,
        pairs.filter((col("id_a") + col("id_b")) % 2 === 0),
        idxDir, "dups")
      ClusterIndex.fold(spark,
        pairs.filter((col("id_a") + col("id_b")) % 2 === 1),
        idxDir, "dups").count()
      idxDir
    }

  /** Maintained dedup-cluster labels ([[graft.ext.ClusterIndex]] — the
    * artifact form of q57's connected components, completing the
    * maintained dedup pipeline: index → pairs → CLUSTERS): labels built
    * from half the q18 pair set, the other half FOLDED in as a
    * marker-gated delta-sized relabel (fresh endpoints map to their
    * stored representatives, components run over |batch| mapped edges,
    * only touched components re-label). The min-id invariant is
    * preserved exactly through the merge, so the maintained labels must
    * equal a one-shot connected-components over the FULL pair set — the
    * oracle replays q57's recursive walk seeded from the pair nodes.
    */
  val q329ClusterIndex: QuerySpec = QuerySpec.oracled(
    "q329_cluster_index",
    s"""${shingleCte.replaceFirst("WITH", "WITH RECURSIVE")},
       |p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM hs a JOIN hs b ON a.doc_id < b.doc_id
       |  WHERE len(list_intersect(a.h, b.h)) * 10 >=
       |    (len(a.h) + len(b.h) - len(list_intersect(a.h, b.h))) * 7),
       |e AS (SELECT id_a AS src, id_b AS dst FROM p
       |      UNION ALL SELECT id_b, id_a FROM p),
       |nodes AS (SELECT id_a AS node FROM p UNION SELECT id_b FROM p),
       |walk(node, lbl) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT e.dst, w.lbl FROM walk w JOIN e ON e.src = w.node)
       |SELECT node, CAST(min(lbl) AS BIGINT) AS cluster_id
       |FROM walk GROUP BY node
       |ORDER BY node""".stripMargin) { (spark, dir) =>
    val idxDir = stageQ329(spark, dir)
    graft.ext.ClusterIndex.labels(spark, idxDir, "dups")
      .orderBy("node")
  }.withSetup((s, d) => { stageQ329(s, d); () })

  private val q330Staging = new QuerySpec.StagingCache[String]

  /** Stage the q330 stream feed: the doc_id % 2 == 1 slice as two flat
    * parquet files (one micro-batch each, parity-split by % 4).
    */
  private def stageQ330(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    q330Staging.getOrStage(dir) {
      val staged = new java.io.File(QuerySpec.stagedPath("q330_docs", dir))
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

  /** The WHOLE maintained dedup pipeline over one stream — index →
    * pairs → clusters, each stage a persisted artifact: the dedup index
    * builds on the even slice (and the cluster labels seed from its
    * internal one-shot pairs); each streamed micro-batch of odd-slice
    * docs then FOLDS the index (emitting exactly the near-dup pairs its
    * docs are involved in) and immediately FOLDS those pairs into the
    * maintained cluster labels, both keyed by the batchId (idempotent
    * under at-least-once redelivery). Every pair over the full corpus is
    * emitted exactly once — internal to the seed slice at build, or by
    * the fold whose batch carried its later endpoint — so the final
    * maintained labels must equal a from-scratch connected-components
    * over ALL pairs: the oracle replays the brute pair definition plus
    * the recursive walk, blind to any of the streaming machinery.
    */
  val q330DedupPipelineStream: QuerySpec = QuerySpec.oracled(
    "q330_dedup_pipeline_stream",
    s"""${shingleCte.replaceFirst("WITH", "WITH RECURSIVE")},
       |p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM hs a JOIN hs b ON a.doc_id < b.doc_id
       |  WHERE len(list_intersect(a.h, b.h)) * 10 >=
       |    (len(a.h) + len(b.h) - len(list_intersect(a.h, b.h))) * 7),
       |e AS (SELECT id_a AS src, id_b AS dst FROM p
       |      UNION ALL SELECT id_b, id_a FROM p),
       |nodes AS (SELECT id_a AS node FROM p UNION SELECT id_b FROM p),
       |walk(node, lbl) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT e.dst, w.lbl FROM walk w JOIN e ON e.src = w.node)
       |SELECT node, CAST(min(lbl) AS BIGINT) AS cluster_id
       |FROM walk GROUP BY node
       |ORDER BY node""".stripMargin) { (spark, dir) =>
    import graft.ext.{ClusterIndex, DedupIndex}
    import org.apache.spark.sql.streaming.Trigger
    val staged = stageQ330(spark, dir)
    val idxDir = QuerySpec.stagedPath("q330_index", dir)
    val clDir = QuerySpec.stagedPath("q330_clusters", dir)
    val ckpt = QuerySpec.stagedPath("q330_ckpt", dir)
    Seq(idxDir, clDir, ckpt).foreach { d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
      new java.io.File(d).mkdirs()
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val seed = docs.filter(col("doc_id") % 2 === 0)
    // the index build takes the size gate on the corpus' bytes. The
    // CLUSTER seeding stays UNSCOPED: its input is the pairsWithin
    // exact-verify join (a shingle-exploded working set far larger than
    // the input bytes — serializing it was measured at +6 s), and
    // connectedComponents decides on the edge count its first checkpoint
    // measures: below the size gate it solves on the driver, above it the
    // contraction rounds run size-gated.
    DedupIndex.build(spark, seed, idxDir, "docs", "doc_id", "text",
      k = 3, numHashes = 128, bandRows = 2)
    // seed labels from the index's OWN stored artifacts — the corpus is
    // signed exactly once (at build); nothing re-shingles here
    ClusterIndex.build(spark,
      DedupIndex.pairsWithin(spark, idxDir, "docs",
        thresholdNum = 7, thresholdDen = 10)
        .select("id_a", "id_b"),
      clDir, "dups")
    val schema = spark.read.parquet(s"$staged/a.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged)
    spark.streams.active.filter(_.name == "q330_fold").foreach(_.stop())
    val q = stream.writeStream
      .queryName("q330_fold")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        // both folds take the size gate themselves: below it the index
        // fold verifies its candidates' sets and returns its pairs as
        // local rows, and the cluster fold solves them on the driver
        val prs = DedupIndex.fold(batch.sparkSession, batch, idxDir,
          "docs", "doc_id", "text", generation = Some(batchId + 1))
          .select("id_a", "id_b")
        // fold() commits its delta eagerly — the old .count() on the
        // returned (already-written) delta read was a pure extra job
        ClusterIndex.fold(batch.sparkSession, prs, clDir, "dups",
          generation = Some(batchId + 1))
        ()
      }
      .start()
    q.awaitTermination()
    ClusterIndex.labels(spark, clDir, "dups").orderBy("node")
  }.withSetup((s, d) => { stageQ330(s, d); () })

  /** Survivor selection off the MAINTAINED cluster labels — the final
    * stage of the maintained pipeline (index → pairs → clusters →
    * SURVIVORS), consuming q329's staged artifact instead of a
    * from-scratch component run: per multi-member cluster, the q69
    * longest-document policy (tie → min doc_id) picks the keeper. Only
    * pair-involved nodes carry labels (the [[graft.ext.ClusterIndex]]
    * contract); singletons are trivially their own survivors and are
    * out of scope here, so the oracle restricts its replay to the pair
    * nodes — everything else (walk, labels, policy window) is the q69
    * discipline verbatim.
    */
  val q332MaintainedSurvivors: QuerySpec = QuerySpec.oracled(
    "q332_maintained_survivors",
    s"""${shingleCte.replaceFirst("WITH", "WITH RECURSIVE")},
       |p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM hs a JOIN hs b ON a.doc_id < b.doc_id
       |  WHERE len(list_intersect(a.h, b.h)) * 10 >=
       |    (len(a.h) + len(b.h) - len(list_intersect(a.h, b.h))) * 7),
       |e AS (SELECT id_a AS src, id_b AS dst FROM p
       |      UNION ALL SELECT id_b, id_a FROM p),
       |nodes AS (SELECT id_a AS node FROM p UNION SELECT id_b FROM p),
       |walk(node, lbl) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT e.dst, w.lbl FROM walk w JOIN e ON e.src = w.node),
       |lab AS (
       |  SELECT node AS doc_id, min(lbl) AS cluster_id FROM walk
       |  GROUP BY node),
       |r AS (
       |  SELECT l.cluster_id, l.doc_id, d.n_chars,
       |    row_number() OVER (PARTITION BY l.cluster_id
       |      ORDER BY d.n_chars DESC, l.doc_id) AS rnk
       |  FROM lab l JOIN documents d USING (doc_id))
       |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
       |  CAST(min(CASE WHEN rnk = 1 THEN doc_id END) AS BIGINT)
       |    AS survivor_id,
       |  CAST(sum(CASE WHEN rnk = 1 THEN 0 ELSE n_chars END) AS BIGINT)
       |    AS chars_removed
       |FROM r GROUP BY cluster_id
       |ORDER BY cluster_id""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val idxDir = stageQ329(spark, dir)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val labels = graft.ext.ClusterIndex.labels(spark, idxDir, "dups")
      .select(col("node").as("doc_id"), col("cluster_id"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    labels
      .join(docs.select(col("doc_id"),
        col("n_chars").cast("long").as("n_chars")), "doc_id")
      .withColumn("rnk", row_number().over(w))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        min(when(col("rnk") === 1, col("doc_id"))).as("survivor_id"),
        sum(when(col("rnk") === 1, 0L).otherwise(col("n_chars")))
          .as("chars_removed"))
      .orderBy("cluster_id")
  }.withSetup((s, d) => { stageQ329(s, d); () })

  /** Analytic MinHash S-curve planner ([[graft.ext.Dedup.lshPlanner]] —
    * MMDS §3.4 banding analysis): `p = 1 − (1 − s^r)^b` for every
    * (rows × bands) split of 128 lanes over a 5%-step similarity grid,
    * in exact 1e9 fixed point (powers as integer multiply-floor chains),
    * each split scored by FP-below + FN-above the 0.7 design threshold
    * and the minimizer flagged — the DESIGN-side twin of q215's
    * measured calibration. The flagged balanced pick is r = 8; the
    * family's bandRows = 2 default is the recall-heavy corner (fn ≈ 0,
    * FP paid in candidate verification) — the planner quantifies that
    * trade rather than hiding it.
    */
  val q320LshPlanner: QuerySpec = QuerySpec.oracled(
    "q320_lsh_planner",
    """WITH splits AS (
      |  SELECT * FROM (VALUES (1, 128), (2, 64), (4, 32), (8, 16),
      |    (16, 8)) t(r, b)),
      |grid AS (
      |  SELECT p AS pct, CAST(p * 10000000 AS BIGINT) AS s
      |  FROM (SELECT unnest(range(5, 100, 5)) AS p)),
      |c AS (
      |  SELECT r, b, pct, s,
      |    CASE WHEN r = 1 THEN s ELSE
      |      list_reduce(list_prepend(s, list_transform(range(2, r + 1),
      |        x -> s)), (acc, y) -> acc * y // 1000000000) END AS sr
      |  FROM splits CROSS JOIN grid),
      |c2 AS (
      |  SELECT r, b, pct,
      |    1000000000 - list_reduce(list_prepend(1000000000 - sr,
      |      list_transform(range(2, b + 1), x -> 1000000000 - sr)),
      |      (acc, y) -> acc * y // 1000000000) AS p
      |  FROM c),
      |w AS (
      |  SELECT r, b, pct, p,
      |    sum(CASE WHEN pct < 70 THEN p ELSE 0 END)
      |      OVER (PARTITION BY r, b) AS fp_fix,
      |    sum(CASE WHEN pct >= 70 THEN 1000000000 - p ELSE 0 END)
      |      OVER (PARTITION BY r, b) AS fn_fix
      |  FROM c2),
      |w2 AS (SELECT *, fp_fix + fn_fix AS cost_fix FROM w)
      |SELECT CAST(r AS INTEGER) AS r, CAST(b AS INTEGER) AS b,
      |  CAST(pct AS INTEGER) AS pct, CAST(p AS BIGINT) AS p_fix,
      |  CAST(fp_fix AS BIGINT) AS fp_fix,
      |  CAST(fn_fix AS BIGINT) AS fn_fix,
      |  CAST(cost_fix AS BIGINT) AS cost_fix,
      |  (dense_rank() OVER (ORDER BY cost_fix, r)) = 1 AS is_best
      |FROM w2 ORDER BY r, pct""".stripMargin) { (spark, dir) =>
    graft.ext.Dedup.lshPlanner(spark)
  }

  val all: Seq[QuerySpec] =
    Seq(q18MinhashNearDup, q19SimhashNearDup, q20NgramJaccard,
      q57DupClusters, q69ClusterSurvivor, q148Containment,
      q155IncrementalNearDup, q161StreamIncrementalDedup,
      q172SortedNeighborhood, q177DupSpans, q196DedupAblation,
      q212SplitLeakage, q215MinhashCalibration, q222ContrastiveTriplets,
      q236ThresholdCurve, q275DupSpanRemoval, q305ExactSubstr,
      q306ExactSubstrCurve, q309ApssCosine, q313DedupIndex,
      q314DedupIndexStream, q317ApssCurve, q320LshPlanner,
      q323DedupIndexTimeTravel, q326ApssIndex, q327ApssIndexStream,
      q329ClusterIndex, q330DedupPipelineStream, q332MaintainedSurvivors)

  /** Contrastive training triplets from the dedup machinery: per anchor
    * document, its MOST similar same-block partner (the positive) and its
    * LEAST similar (the hard negative, still same lang×source — harder
    * than a random negative by construction), with exact bigram-Jaccard
    * ppm for both — the (anchor, positive, negative) dataset an embedding
    * model trains on, extracted deterministically (ties → smallest
    * partner id) so the whole training set is reproducible and
    * adjudicated. Scale: q20's blocked+salted pair machinery with the
    * threshold removed; two bounded per-anchor rank windows pick the
    * extremes.
    */
  lazy val q222ContrastiveTriplets: QuerySpec = QuerySpec.oracled(
    "q222_contrastive_triplets",
    """WITH tk AS (
      |  SELECT doc_id, lang, source, list_filter(
      |    string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')
      |    AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, lang, source,
      |    list_distinct(list_transform(range(1, len(toks)),
      |      i -> toks[i] || ' ' || toks[i+1])) AS s
      |  FROM tk),
      |hs2 AS (
      |  SELECT doc_id, lang, source,
      |    list_distinct(list_transform(s,
      |      x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS h
      |  FROM sh
      |  WHERE len(s) > 0),
      |p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    len(list_intersect(a.h, b.h)) AS i,
      |    len(a.h) + len(b.h) - len(list_intersect(a.h, b.h)) AS u
      |  FROM hs2 a JOIN hs2 b
      |    ON a.lang = b.lang AND a.source = b.source
      |    AND a.doc_id < b.doc_id),
      |sym AS (
      |  SELECT id_a AS anchor, id_b AS partner,
      |    (i * 1000000) // u AS jppm FROM p
      |  UNION ALL
      |  SELECT id_b, id_a, (i * 1000000) // u FROM p),
      |r AS (
      |  SELECT anchor, partner, jppm,
      |    row_number() OVER (PARTITION BY anchor
      |                       ORDER BY jppm DESC, partner) AS rp,
      |    row_number() OVER (PARTITION BY anchor
      |                       ORDER BY jppm ASC, partner) AS rng
      |  FROM sym)
      |SELECT p.anchor,
      |  p.partner AS pos_id, CAST(p.jppm AS BIGINT) AS pos_jppm,
      |  n.partner AS neg_id, CAST(n.jppm AS BIGINT) AS neg_jppm
      |FROM (SELECT * FROM r WHERE rp = 1) p
      |JOIN (SELECT * FROM r WHERE rng = 1) n USING (anchor)
      |ORDER BY anchor""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val pairs = Dedup.ngramJaccardPairs(
      spark.read.parquet(s"$dir/documents.parquet"),
      idCol = "doc_id", textCol = "text",
      blockCols = Seq("lang", "source"),
      k = 2, thresholdNum = 0, thresholdDen = 1)
      .select(col("id_a"), col("id_b"),
        expr("(CAST(inter_size AS BIGINT) * 1000000) DIV union_size")
          .as("jppm"))
    val sym = pairs.select(col("id_a").as("anchor"),
        col("id_b").as("partner"), col("jppm"))
      .unionByName(pairs.select(col("id_b").as("anchor"),
        col("id_a").as("partner"), col("jppm")))
    val wp = Window.partitionBy("anchor")
      .orderBy(col("jppm").desc, col("partner"))
    val wn = Window.partitionBy("anchor")
      .orderBy(col("jppm").asc, col("partner"))
    val ranked = sym.withColumn("rp", row_number().over(wp))
      .withColumn("rng", row_number().over(wn))
    ranked.filter(col("rp") === 1)
      .select(col("anchor"), col("partner").as("pos_id"),
        col("jppm").as("pos_jppm"))
      .join(ranked.filter(col("rng") === 1)
        .select(col("anchor"), col("partner").as("neg_id"),
          col("jppm").as("neg_jppm")), "anchor")
      .orderBy("anchor")
  }

  /** MinHash estimator calibration audit: for every pair with exact
    * Jaccard ≥ 0.5, the 128-lane signature agreement rate
    * (`matched/128`) against the exact ratio, bucketed by exact-Jaccard
    * decile with mean and max absolute error — the monitoring artifact
    * that justifies the sketch's band/threshold parameters in production
    * (if the 0.5–0.6 bucket shows 80k ppm max error, a 0.7 cut needs
    * margin). All ppm values are integer floor-divs; the oracle replays
    * the full lane arithmetic `(A_i·(h mod P) + B_i) mod P` per doc from
    * the same md5 hash sets, so estimates — not just exacts — are
    * adjudicated. Scale: signatures are per-doc scalars; only the
    * candidate pairs (banding at the relaxed 0.5 cut, miss probability
    * (1−J²)⁶⁴ ≤ 1e-8) carry the two 128-lane arrays through a join.
    */
  lazy val q215MinhashCalibration: QuerySpec = QuerySpec.oracled(
    "q215_minhash_calibration",
    s"""$shingleCte,
       |sig AS (
       |  SELECT doc_id, list_transform(range(0, 128), i ->
       |    list_min(list_transform(h, v ->
       |      (((1103515245 * i + 12345) % 1000000007) * (v % 1000000007)
       |       + (69069 * i + 1) % 1000000007) % 1000000007))) AS sig
       |  FROM hs),
       |p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    len(list_intersect(a.h, b.h)) AS inter_size,
       |    len(a.h) + len(b.h) - len(list_intersect(a.h, b.h))
       |      AS union_size
       |  FROM hs a JOIN hs b ON a.doc_id < b.doc_id),
       |np AS (
       |  SELECT id_a, id_b, inter_size, union_size FROM p
       |  WHERE inter_size * 2 >= union_size * 1),
       |m AS (
       |  SELECT np.id_a, np.id_b,
       |    len(list_filter(range(1, 129), i -> sa.sig[i] = sb.sig[i]))
       |      AS matched,
       |    np.inter_size, np.union_size
       |  FROM np JOIN sig sa ON np.id_a = sa.doc_id
       |  JOIN sig sb ON np.id_b = sb.doc_id),
       |er AS (
       |  SELECT (inter_size * 1000000) // union_size // 100000 AS bucket,
       |    abs((matched * 1000000) // 128
       |      - (inter_size * 1000000) // union_size) AS err_ppm
       |  FROM m)
       |SELECT CAST(bucket AS INTEGER) AS decile, count(*) AS n_pairs,
       |  CAST(sum(err_ppm) // count(*) AS BIGINT) AS mean_err_ppm,
       |  CAST(max(err_ppm) AS BIGINT) AS max_err_ppm
       |FROM er GROUP BY bucket
       |ORDER BY decile""".stripMargin) { (spark, dir) =>
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val sets = Dedup.withShingleHashSets(docs, "doc_id", "text", 3)
    val sig = sets.select(col("doc_id"),
      expr("graft_minhash(hsh, 128)").as("sig"))
    val pairs = Dedup.minhashNearDupPairs(docs,
      idCol = "doc_id", textCol = "text",
      k = 3, numHashes = 128, bandRows = 2,
      thresholdNum = 1, thresholdDen = 2)
      .select("id_a", "id_b", "inter_size", "union_size")
    pairs
      .join(sig.select(col("doc_id").as("id_a"), col("sig").as("sig_a")),
        "id_a")
      .join(sig.select(col("doc_id").as("id_b"), col("sig").as("sig_b")),
        "id_b")
      .withColumn("matched", expr(
        "CAST(size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), " +
          "b -> b)) AS BIGINT)"))
      .withColumn("err_ppm", abs(
        expr("(matched * 1000000L) DIV 128") -
          expr("(CAST(inter_size AS BIGINT) * 1000000L) DIV union_size")))
      .withColumn("decile", expr(
        "CAST((CAST(inter_size AS BIGINT) * 1000000L) DIV union_size " +
          "DIV 100000 AS INT)"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_pairs"),
        expr("CAST(sum(err_ppm) DIV count(1) AS BIGINT)")
          .as("mean_err_ppm"),
        max("err_ppm").as("max_err_ppm"))
      .orderBy("decile")
  }

  /** Cross-split near-duplicate leakage audit: q18's near-dup pairs
    * (Jaccard ≥ 0.7 on trigram shingles) joined against q92's
    * hash-derived train/val/test assignment, rolled up per unordered
    * split pair — the report that tells you whether your eval set is
    * contaminated by near-copies of training documents (the failure
    * row-level random splits guarantee on crawled corpora; q188's
    * source-level split is the fix, this query is the detector).
    * Same-split rows stay in the matrix so the report is complete and
    * never empty. Scale: rides the q18 banded pair machinery (ids-only
    * candidates); the split tag is one broadcast-sized md5 expression per
    * endpoint; the rollup touches |pairs| rows.
    */
  lazy val q212SplitLeakage: QuerySpec = QuerySpec.oracled(
    "q212_split_leakage",
    s"""$shingleCte,
       |p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    len(list_intersect(a.h, b.h)) AS inter_size,
       |    len(a.h) + len(b.h) - len(list_intersect(a.h, b.h))
       |      AS union_size
       |  FROM hs a JOIN hs b ON a.doc_id < b.doc_id),
       |np AS (
       |  SELECT id_a, id_b FROM p
       |  WHERE inter_size * 10 >= union_size * 7),
       |sp AS (
       |  SELECT doc_id,
       |    CASE WHEN bp < 8000 THEN 'train' WHEN bp < 9000 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM (
       |    SELECT doc_id,
       |      ('0x' || substr(md5('split1:' || CAST(doc_id AS VARCHAR)),
       |        1, 15))::BIGINT % 10000 AS bp
       |    FROM documents)),
       |tag AS (
       |  SELECT least(sa.split, sb.split) AS split_lo,
       |    greatest(sa.split, sb.split) AS split_hi,
       |    np.id_a, np.id_b
       |  FROM np JOIN sp sa ON np.id_a = sa.doc_id
       |  JOIN sp sb ON np.id_b = sb.doc_id)
       |SELECT split_lo, split_hi, count(*) AS n_pairs,
       |  CAST(sum(id_a + id_b) AS BIGINT) AS pair_id_sum,
       |  CASE WHEN split_lo <> split_hi THEN 1 ELSE 0 END AS is_leak
       |FROM tag GROUP BY split_lo, split_hi
       |ORDER BY split_lo, split_hi""".stripMargin) { (spark, dir) =>
    val pairs = Dedup.minhashNearDupPairs(
      spark.read.parquet(s"$dir/documents.parquet"),
      idCol = "doc_id", textCol = "text",
      k = 3, numHashes = 128, bandRows = 2,
      thresholdNum = 7, thresholdDen = 10)
      .select("id_a", "id_b")
    def splitOf(idc: org.apache.spark.sql.Column) = {
      val bp = conv(substring(md5(concat(lit("split1:"),
        idc.cast("string"))), 1, 15), 16, 10).cast("long") % 10000
      when(bp < 8000, "train").when(bp < 9000, "val").otherwise("test")
    }
    pairs
      .withColumn("split_a", splitOf(col("id_a")))
      .withColumn("split_b", splitOf(col("id_b")))
      .select(least(col("split_a"), col("split_b")).as("split_lo"),
        greatest(col("split_a"), col("split_b")).as("split_hi"),
        col("id_a"), col("id_b"))
      .groupBy("split_lo", "split_hi")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("id_a") + col("id_b")).as("pair_id_sum"))
      .withColumn("is_leak",
        when(col("split_lo") =!= col("split_hi"), 1).otherwise(0))
      .orderBy("split_lo", "split_hi")
  }
}
