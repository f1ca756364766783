package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`), two tiers:
  *
  *  - [[bruteForceTopK]]: exact cosine top-k. The query batch is broadcast,
  *    so the corpus is scanned once map-side with zero shuffle for the
  *    join; only the per-query top-k window shuffles (queries × k rows).
  *    This is the right shape whenever |queries| ≪ |corpus| — at 100 TB the
  *    corpus never moves.
  *  - [[lshTopK]]: random-hyperplane (signed random projection) bucketing —
  *    the scale path. Corpus and queries hash to an `numPlanes`-bit bucket;
  *    candidates are an equi-join on the bucket id, then exact cosine top-k
  *    within the bucket. Recall is tunable by `numPlanes` (fewer bits →
  *    bigger buckets) and multi-probe would flip bucket bits — kept
  *    single-probe here for oracle determinism.
  *
  * All arithmetic is IEEE-double left-folds over the array order, so an
  * oracle engine replaying the same formula produces bit-identical cosines
  * (no epsilon compares needed). Hyperplanes are md5-derived rationals
  * (k/1000), exactly representable as decimal literals in any engine.
  */
object Similarity {

  /** Deterministic md5-derived component in [-1, 1]: first 15 md5 hex chars
    * of "{tag}{i}:{d}" mod 2001, shifted and scaled by 1/1000 — k/1000
    * rationals, exactly representable as decimal literals in any engine.
    */
  def mdComponent(tag: String, i: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$tag$i:$d".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 15)
    ((java.lang.Long.parseLong(hex, 16) % 2001L) - 1000L) / 1000.0
  }

  /** Hyperplane component (the LSH plane family). */
  def planeComponent(p: Int, d: Int): Double = mdComponent("plane", p, d)

  /** The plane matrix as Scala data (numPlanes × dim). */
  def planes(numPlanes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until numPlanes).map(p => (0 until dim).map(d => planeComponent(p, d)))

  /** The IVF coarse-quantizer centroid matrix (numCentroids × dim) — a
    * distinct md5 namespace from the LSH planes.
    */
  def centroids(numCentroids: Int, dim: Int): Seq[Seq[Double]] =
    (0 until numCentroids).map(c =>
      (0 until dim).map(d => mdComponent("ivf", c, d)))

  /** Left-fold dot product of two array columns as doubles — the
    * engine-portable formulation (same fold order everywhere).
    */
  def dot(a: String, b: String): Column = expr(
    s"aggregate(zip_with(`$a`, `$b`, (x, y) -> CAST(x AS DOUBLE) * " +
      s"CAST(y AS DOUBLE)), 0.0D, (acc, v) -> acc + v)")

  /** Same fold, as the native codegen'd [[graft.functions.FloatDot]] —
    * bit-identical result, no interpreted lambda dispatch. Callers must
    * have run [[graft.functions.VectorExpressions.register]].
    */
  private[graft] def dotFast(a: String, b: String): Column =
    expr(s"graft_dot(`$a`, `$b`)")

  private[graft] def selfNormFast(a: String): Column = sqrt(dotFast(a, a))

  /** `numPlanes`-bit signed-random-projection bucket of a vector column —
    * the fused codegen'd [[graft.functions.HyperplaneBucket]] (bit-parity
    * with [[hyperplaneBucketComposed]], see HyperplaneParitySpec). Callers
    * must have run [[graft.functions.HyperplaneExpressions.register]].
    */
  def hyperplaneBucket(vecCol: String, numPlanes: Int, dim: Int): Column =
    expr(s"graft_hyperplane_bucket(`$vecCol`, $numPlanes, $dim)")

  /** The composed (HOF) form of [[hyperplaneBucket]]: `numPlanes`
    * interpreted `aggregate(zip_with(...))` folds per row. Kept as the
    * engine-portable reference formulation the fused expression is
    * parity-tested against.
    */
  def hyperplaneBucketComposed(
      vecCol: String, numPlanes: Int, dim: Int): Column = {
    val terms = planes(numPlanes, dim).zipWithIndex.map { case (plane, p) =>
      val lit = plane.map(v => s"${v}D").mkString("array(", ", ", ")")
      s"IF(aggregate(zip_with(`$vecCol`, $lit, (x, y) -> " +
        s"CAST(x AS DOUBLE) * y), 0.0D, (acc, v) -> acc + v) > 0, " +
        s"${1L << p}L, 0L)"
    }
    expr(terms.mkString("(", " + ", ")"))
  }

  /** Bucket over an arbitrary SLICE of the plane family (planes
    * `fromPlane until fromPlane + numPlanes`) — what lets several
    * INDEPENDENT LSH tables share one deterministic plane matrix (table t
    * = slice t·b..(t+1)·b). Composed-HOF form (the slice is cold-path
    * seeding, not the hot bucket loop).
    */
  def hyperplaneBucketSliced(
      vecCol: String, fromPlane: Int, numPlanes: Int, dim: Int): Column = {
    val ps = planes(fromPlane + numPlanes, dim).slice(
      fromPlane, fromPlane + numPlanes)
    val terms = ps.zipWithIndex.map { case (plane, p) =>
      val lit = plane.map(v => s"${v}D").mkString("array(", ", ", ")")
      s"IF(aggregate(zip_with(`$vecCol`, $lit, (x, y) -> " +
        s"CAST(x AS DOUBLE) * y), 0.0D, (acc, v) -> acc + v) > 0, " +
        s"${1L << p}L, 0L)"
    }
    expr(terms.mkString("(", " + ", ")"))
  }

  private[graft] def topK(
      scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 6).as("cos_sim"))
  }

  /** Exact cosine top-k of each query against the whole corpus. */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    graft.functions.VectorExpressions.register(corpus.sparkSession)
    val c = corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("v_c"),
      selfNormFast(vecCol).as("n_c"))
    val q = queries.select(
      col(idCol).as("query_id"), col(vecCol).as("v_q"),
      selfNormFast(vecCol).as("n_q"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", dotFast("v_q", "v_c") / (col("n_q") * col("n_c")))
    topK(scored, k)
  }

  /** Embedding-cosine near-duplicate pairs: all pairs with cosine ≥
    * `threshold` (exact). This is the verification-grade form — at corpus
    * scale, generate candidates with [[lshTopK]]'s hyperplane buckets (or
    * ANN indexes) first and run this exact filter only on candidates; the
    * quadratic form here is the oracle-checkable ground truth.
    */
  def cosineNearDupPairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    graft.functions.VectorExpressions.register(corpus.sparkSession)
    val a = corpus.select(col(idCol).as("id_a"), col(vecCol).as("v_a"),
      selfNormFast(vecCol).as("n_a"))
    val b = corpus.select(col(idCol).as("id_b"), col(vecCol).as("v_b"),
      selfNormFast(vecCol).as("n_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", dotFast("v_a", "v_b") / (col("n_a") * col("n_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cos_sim"))
  }

  /** Bucketed ANN: equi-join on the hyperplane bucket, exact re-rank inside.
    *
    * `numProbes > 1` enables multi-probe on the QUERY side: each query also
    * probes the buckets reached by flipping its lowest-|margin| plane bits
    * ([[graft.functions.HyperplaneProbes]]) — recall recovers without
    * touching the corpus side, whose one-bucket-per-row layout is what keeps
    * the join equi and the corpus un-replicated at scale. Probe buckets are
    * distinct, and each corpus row has one bucket, so a (query, neighbor)
    * candidate appears at most once — no post-join dedup needed.
    *
    * Dim mismatches throw per-row inside the bucket expression (plan-level;
    * no driver-side probe jobs) — a silent mismatch would collapse vectors
    * into one bucket and un-prune the join.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numPlanes: Int = 8,
      dim: Int = 64,
      numProbes: Int = 1): DataFrame = {
    require(numProbes >= 1 && numProbes <= numPlanes + 1,
      s"lshTopK: numProbes must be in [1, numPlanes + 1], got $numProbes")
    graft.functions.VectorExpressions.register(corpus.sparkSession)
    graft.functions.HyperplaneExpressions.register(corpus.sparkSession)
    val c = corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("v_c"),
      selfNormFast(vecCol).as("n_c"),
      hyperplaneBucket(vecCol, numPlanes, dim).as("bucket"))
    val q = queries.select(
      col(idCol).as("query_id"), col(vecCol).as("v_q"),
      selfNormFast(vecCol).as("n_q"),
      explode(expr(
        s"graft_hyperplane_probes(`$vecCol`, $numPlanes, $dim, $numProbes)"))
        .as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", dotFast("v_q", "v_c") / (col("n_q") * col("n_c")))
    topK(scored, k)
  }

  /** Label-error audit via kNN agreement (the confident-learning signal:
    * a row whose nearest neighbors vote for a different class is a likely
    * labeling error). Neighbors come from the hyperplane-LSH bucket — the
    * all-vs-all form stays a bucket equi-SELF-join (Σ|bucket|² pairs,
    * never n², AQE-splittable), because unlike [[lshTopK]] the query side
    * here IS the corpus and cannot be broadcast. Within a bucket the top-k
    * by exact cosine votes; majority ties break on the smaller label, so
    * the verdict is deterministic. Rows whose bucket holds no other vector
    * get `n_neigh = 0` and a NULL verdict rather than a fake agreement.
    */
  def labelAudit(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int = 5,
      numPlanes: Int = 8,
      dim: Int = 64): DataFrame = {
    graft.functions.VectorExpressions.register(emb.sparkSession)
    graft.functions.HyperplaneExpressions.register(emb.sparkSession)
    val b = emb.select(
      col(idCol).cast("long").as("vec_id"),
      col(labelCol).cast("long").as("label"),
      col(vecCol).as("v"),
      selfNormFast(vecCol).as("n"),
      hyperplaneBucket(vecCol, numPlanes, dim).as("bucket"))
    val q = b.select(col("vec_id").as("query_id"), col("v").as("v_q"),
      col("n").as("n_q"), col("bucket"))
    val c = b.select(col("vec_id").as("neighbor_id"),
      col("label").as("n_label"), col("v").as("v_c"), col("n").as("n_c"),
      col("bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    val ranked = q.join(c, Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", dotFast("v_q", "v_c") / (col("n_q") * col("n_c")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "n_label")
    val nn = ranked.groupBy("query_id")
      .agg(count(lit(1)).as("n_neigh"))
    val vw = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("n_label").asc)
    val top = ranked.groupBy("query_id", "n_label")
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(vw))
      .filter(col("vr") === 1)
      .select(col("query_id"), col("n_label").as("top_label"),
        col("votes").as("top_votes"))
    b.select(col("vec_id"), col("label"))
      .join(nn.withColumnRenamed("query_id", "vec_id"), Seq("vec_id"), "left")
      .join(top.withColumnRenamed("query_id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"),
        coalesce(col("n_neigh"), lit(0L)).as("n_neigh"),
        col("top_label"), col("top_votes"),
        (col("top_label") === col("label")).as("agree"))
  }

  /** Symmetric per-vector int8 quantization (the storage/bandwidth path for
    * embedding tables: 4× smaller than float32, standard for ANN serving):
    * `q[i] = floor(v[i] * 127 / max|v| + 0.5)`, scale carried per row for
    * dequantization. All-zero vectors quantize to zeros with scale 0.
    * Engine-portable: floor(x + 0.5) and the abs-max reduction replay
    * exactly in SQL — no round-half-even ambiguity.
    */
  def quantizeInt8(
      corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    corpus
      .select(col(idCol).as("vec_id"), col(vecCol).as("__v"))
      .withColumn("__maxabs",
        expr("array_max(transform(__v, x -> abs(CAST(x AS DOUBLE))))"))
      .select(
        col("vec_id"),
        expr("""IF(__maxabs > 0D,
                |  transform(__v, x -> CAST(floor(
                |    CAST(x AS DOUBLE) * 127.0D / __maxabs + 0.5D) AS INT)),
                |  transform(__v, x -> 0))""".stripMargin).as("qvec"),
        round(when(col("__maxabs") > 0d,
          col("__maxabs") / 127.0d).otherwise(0d), 9).as("scale"))

  /** The PQ codebook: `numSub` independent sub-space codebooks of
    * `codebookSize` codewords each, components md5-derived in a distinct
    * namespace (k/1000 rationals — exactly representable as decimal
    * literals in any engine, the [[mdComponent]] discipline). `tag`
    * separates independent codebook families (plain PQ vs IVF-PQ residual
    * codebooks) without sharing seeds; the default preserves the q180
    * family bit-for-bit.
    */
  def pqCodebook(
      numSub: Int, codebookSize: Int,
      subDim: Int, tag: String = "pq"): Seq[(Int, Int, Seq[Double])] =
    for { m <- 0 until numSub; c <- 0 until codebookSize }
      yield (m, c, (0 until subDim).map(d => mdComponent(s"$tag$m|", c, d)))

  /** Product-quantization ANN (ADC scan): the memory-bound scale path the
    * float-vector families can't offer — each corpus vector compresses to
    * `numSub` one-byte codes (argmin-L2 codeword per sub-space), and a
    * query scans the CODES, never the vectors: it prices every (sub-space,
    * codeword) pair once into a distance table, and a candidate's
    * approximate distance is the sum of `numSub` table lookups. At 64
    * float dims → 8 codes that is a 32× smaller index; at 100 TB the
    * codes table is what fits in memory while the float table rides on
    * disk for the final exact re-rank of `candidates` ids per query.
    *
    * Engine-replayable by the repo's float discipline: per-(sub-space,
    * codeword) squared distances are ordered left-folds over identical
    * doubles (bit-exact both engines), then IMMEDIATELY fixed-pointed
    * (`floor(d² · 1e6 + 0.5)` as int64), so the ADC sum is an integer sum
    * — partial-aggregation order cannot change it — and ties (argmin and
    * candidate rank) break on the integer + id. The exact re-rank is the
    * q21 bit-exact cosine.
    *
    * 100 TB shape: encode = explode(numSub) × broadcast(codebook) argmin,
    * one narrow pass, output `numSub` ints per vector; query tables are
    * |queries|·numSub·codebookSize rows — broadcast; the ADC scan is a
    * broadcast-hash join of the codes table against the query tables
    * followed by ONE map-side-combinable (query, candidate) integer sum.
    * The corpus float vectors move only for the `candidates`-sized
    * re-rank join.
    */
  private[graft] def pqSubRows(
      df: DataFrame, idCol: String, vecCol: String, idAs: String,
      numSub: Int, subDim: Int): DataFrame = df.select(
    col(idCol).as(idAs),
    explode(expr(s"transform(sequence(0, ${numSub - 1}), " +
      s"mi -> struct(mi AS m, " +
      s"slice(`$vecCol`, mi * $subDim + 1, $subDim) AS sub))")).as("e"))
    .select(col(idAs), col("e.m").as("m"), col("e.sub").as("sub"))

  /** Squared L2 between `sub` and `cvec` in 1e-6 fixed point: ordered
    * left-fold (bit-exact both engines), floored IMMEDIATELY to int64 so
    * every downstream sum/compare is integer arithmetic. */
  private[graft] val pqD2u: Column = expr(
    "CAST(floor(aggregate(zip_with(sub, cvec, " +
      "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), " +
      "0.0D, (a, v) -> a + v) * 1000000 + 0.5) AS BIGINT)")

  /** One deterministic k-means step per sub-space over the corpus: assign
    * each sub-vector to its nearest md5 seed codeword, recompute each
    * codeword as the fixed-point member mean (exact int64 component sums
    * → one double division — aggregation order cannot change it, the q55
    * Lloyd discipline), keep the seed for empty codewords. Random
    * codebooks quantize real embeddings poorly — measured recall@3 on the
    * gate corpus roughly doubles at a tight re-rank budget (0.07 → 0.12
    * at 10 candidates; 0.38 at the registered 50) — training IS part of
    * PQ, and this fixed-point form is oracle-replayable.
    * Output: (m, cw, cvec) — numSub·codebookSize rows, never collected.
    */
  def pqTrainedCodebook(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numSub: Int = 8,
      codebookSize: Int = 16,
      dim: Int = 64): DataFrame = {
    val subDim = dim / numSub
    val spark = corpus.sparkSession
    import spark.implicits._
    val seed = pqCodebook(numSub, codebookSize, subDim)
      .toDF("m", "cw", "cvec")
    pqTrainCore(
      pqSubRows(corpus, idCol, vecCol, "cid", numSub, subDim), seed, subDim)
  }

  /** One deterministic k-means step over pre-sliced sub-vector rows
    * (`cid`, `m`, `sub`) against `seed` (`m`, `cw`, `cvec`) — the shared
    * training core of [[pqTrainedCodebook]] (float corpus slices) and
    * [[ivfPqTopK]] (double residual slices); `pqD2u` casts elements, so
    * both input element types train identically.
    */
  private[graft] def pqTrainCore(
      subRows: DataFrame, seed: DataFrame, subDim: Int): DataFrame = {
    val wEnc = Window.partitionBy("cid", "m").orderBy(col("d2u"), col("cw"))
    // the winning row CARRIES its sub-vector, so no re-join (and no
    // shared-lineage ambiguity) is needed for the member means
    val asg = subRows
      .join(broadcast(seed), "m")
      .withColumn("d2u", pqD2u)
      .withColumn("rk", row_number().over(wEnc))
      .filter(col("rk") === 1)
      .select(col("m"), col("cw"), col("sub"))
    val cent = asg
      .select(col("m"), col("cw"),
        explode(expr(s"transform(sequence(1, $subDim), i -> struct(i AS i, " +
          "CAST(floor(CAST(element_at(sub, i) AS DOUBLE) * 1000000 + 0.5) " +
          "AS BIGINT) AS f))")).as("e"))
      .groupBy(col("m"), col("cw"), col("e.i").as("i"))
      .agg(sum("e.f").as("s"), count(lit(1)).as("cnt"))
      .groupBy("m", "cw")
      .agg(expr("transform(sort_array(collect_list(struct(i, s, cnt))), " +
        "t -> CAST(t.s AS DOUBLE) / t.cnt / 1000000.0)").as("tvec"))
    seed.join(cent, Seq("m", "cw"), "left")
      .select(col("m"), col("cw"),
        coalesce(col("tvec"), col("cvec")).as("cvec"))
  }

  /** The shared PQ machinery: encode the corpus, price the query
    * tables, ADC-rank every candidate — returns (qid, cid, crk), the
    * per-query ADC rank, unfiltered. [[pqTopK]] cuts it at one budget;
    * [[pqRerankCurve]] cuts the SAME ranking at a ladder of budgets.
    */
  private def pqAdcRanked(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      numSub: Int,
      codebookSize: Int,
      dim: Int,
      train: Boolean): DataFrame = {
    require(dim % numSub == 0, s"pq: dim $dim not divisible by $numSub")
    val subDim = dim / numSub
    val spark = corpus.sparkSession
    graft.functions.VectorExpressions.register(spark)
    import spark.implicits._
    // corpus sub-rows feed both codebook training and the encode pass —
    // checkpoint once (the q274 lineage-cut discipline; values unchanged)
    val cSub = pqSubRows(corpus, idCol, vecCol, "cid", numSub, subDim)
      .localCheckpoint()
    val cb = broadcast(
      if (train)
        pqTrainCore(cSub,
          pqCodebook(numSub, codebookSize, subDim).toDF("m", "cw", "cvec"),
          subDim)
      else pqCodebook(numSub, codebookSize, subDim).toDF("m", "cw", "cvec"))
    val wEnc = Window.partitionBy("cid", "m").orderBy(col("d2u"), col("cw"))
    val enc = cSub
      .join(cb, "m")
      .withColumn("d2u", pqD2u)
      .withColumn("rk", row_number().over(wEnc))
      .filter(col("rk") === 1)
      .select(col("cid"), col("m"), col("cw"))
    val qt = pqSubRows(queries, idCol, vecCol, "qid", numSub, subDim)
      .join(cb, "m")
      .withColumn("qd2u", pqD2u)
      .select(col("qid"), col("m").as("qm"), col("cw").as("qcw"),
        col("qd2u"))
    val wCand = Window.partitionBy("qid").orderBy(col("ad2u"), col("cid"))
    enc
      .join(broadcast(qt),
        col("m") === col("qm") && col("cw") === col("qcw"))
      .filter(col("cid") =!= col("qid"))
      .groupBy("qid", "cid")
      .agg(sum("qd2u").as("ad2u"))
      .withColumn("crk", row_number().over(wCand))
      .select(col("qid"), col("cid"), col("crk"))
  }

  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numSub: Int = 8,
      codebookSize: Int = 16,
      dim: Int = 64,
      candidates: Int = 10,
      train: Boolean = true): DataFrame = {
    val cand = pqAdcRanked(corpus, queries, idCol, vecCol, numSub,
        codebookSize, dim, train)
      .filter(col("crk") <= candidates)
      .select(col("qid"), col("cid"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("v_c"), selfNormFast(vecCol).as("n_c"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("v_q"), selfNormFast(vecCol).as("n_q"))
    val scored = cand
      .join(c, col("cid") === col("neighbor_id"))
      .join(broadcast(q), col("qid") === col("query_id"))
      .withColumn("cosine", dotFast("v_q", "v_c") / (col("n_q") * col("n_c")))
    topK(scored, k)
  }

  /** PQ re-rank budget curve — the audit a team runs BEFORE picking the
    * `candidates` budget (the jaccardThresholdCurve discipline applied
    * to ANN): ONE encode + ADC ranking + exact re-rank at the LARGEST
    * budget, then every smaller budget is a prefix cut of the same
    * ranking (budgets are nested by construction: ADC rank ≤ 10 ⊂
    * ≤ 25 ⊂ ≤ 50), scored against the exact brute-force top-k. One row
    * per budget: pairs, matches, recall ppm. At 100 TB the whole ladder
    * costs one scan more than a single-budget run — the re-rank join
    * runs once at max(budgets) and cuts are window filters.
    */
  def pqRerankCurve(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      budgets: Seq[Int],
      numSub: Int = 8,
      codebookSize: Int = 16,
      dim: Int = 64,
      train: Boolean = true): DataFrame = {
    require(budgets.nonEmpty && budgets.forall(_ >= 1),
      s"pqRerankCurve: budgets must be >= 1, got $budgets")
    require(budgets.distinct.size == budgets.size,
      s"pqRerankCurve: duplicate budgets would duplicate rows: $budgets")
    val maxB = budgets.max
    val cand = pqAdcRanked(corpus, queries, idCol, vecCol, numSub,
        codebookSize, dim, train)
      .filter(col("crk") <= maxB)
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("v_c"), selfNormFast(vecCol).as("n_c"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("v_q"), selfNormFast(vecCol).as("n_q"))
    val scored = cand
      .join(c, col("cid") === col("neighbor_id"))
      .join(broadcast(q), col("qid") === col("query_id"))
      .withColumn("cosine", dotFast("v_q", "v_c") / (col("n_q") * col("n_c")))
      .select(col("query_id"), col("neighbor_id"), col("crk"),
        col("cosine"))
    val truth = bruteForceTopK(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("__m"))
    val wB = Window.partitionBy(col("budget"), col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      .withColumn("budget", explode(array(budgets.map(b => lit(b.toLong)): _*)))
      .filter(col("crk") <= col("budget"))
      .withColumn("rank", row_number().over(wB))
      .filter(col("rank") <= k)
      .join(truth, Seq("query_id", "neighbor_id"), "left")
      .groupBy("budget")
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(col("__m"), lit(0L))).as("n_matched"))
      .withColumn("recall_ppm", expr("n_matched * 1000000 div n_pairs"))
  }

  /** IVF-PQ with ADC (the FAISS IVFPQ composition — Jégou et al. 2011,
    * "Product Quantization for Nearest Neighbor Search", §IV): the Lloyd
    * coarse quantizer partitions the corpus into inverted lists, each
    * vector stores only the PQ CODES of its RESIDUAL (v − centroid), and
    * a query prices a distance table per probed cell over its own
    * residual, scans codes in probed cells only, and exact-re-ranks the
    * top `candidates`. This composes the repo's two ANN scale paths:
    * q55's cell pruning (a query never touches unprobed lists) × q180's
    * 32× code compression (the scanned index is bytes, not floats).
    *
    * Residual quantization is what makes the composition better than
    * either part: residuals within a cell are centered near zero, so one
    * codebook family shared across cells quantizes them far better than
    * it quantizes raw vectors. Codebooks train on residuals with the
    * same one-step fixed-point k-means as [[pqTrainedCodebook]] (distinct
    * md5 namespace `ivfpq`).
    *
    * Engine-replayable end-to-end: the Lloyd mean is the q55 exact
    * int64-sum fixed point; residuals are element-wise double subtraction
    * of identical doubles; sub-space d² folds fix to int64 immediately
    * (`floor(d²·1e6 + 0.5)`), so ADC sums are integer sums and every
    * argmin/rank ties on (integer, id). The oracle replays training,
    * encode, probe, scan, and re-rank bit-for-bit.
    *
    * 100 TB shape: centroids and codebooks are tiny broadcasts (≤ 16
    * rows, numSub·codebookSize rows); encode is one narrow pass over the
    * corpus; the ADC scan joins the codes table against a broadcast
    * (queries × probes × numSub × codebookSize) distance table ON THE
    * CELL, so only probed lists are scanned (a cell-partitioned codes
    * layout prunes the scan at the file level, the [[AnnIndex]]
    * discipline); float vectors move only for the `candidates`-sized
    * re-rank.
    */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numCentroids: Int = 16,
      dim: Int = 64,
      numProbes: Int = 2,
      numSub: Int = 8,
      codebookSize: Int = 16,
      candidates: Int = 50): DataFrame = {
    require(dim % numSub == 0, s"ivfPqTopK: dim $dim not divisible by $numSub")
    require(numProbes >= 1 && numProbes <= numCentroids,
      s"ivfPqTopK: numProbes must be in [1, numCentroids], got $numProbes")
    val subDim = dim / numSub
    val spark = corpus.sparkSession
    graft.functions.VectorExpressions.register(spark)
    graft.functions.HyperplaneExpressions.register(spark)
    import spark.implicits._
    // the centroid table is referenced by THREE subtrees (corpus
    // assignment, query assignment, residual join) and the corpus
    // residual sub-rows by two (codebook training, encode) — without
    // lineage cuts each reference re-derives its whole upstream
    // (audited: 14 corpus scans in the uncut plan). localCheckpoint is
    // the ext/Bfs / nnDescent truncation discipline; the materialized
    // sub-row table is corpus×numSub narrow rows — the codes-build
    // working set any PQ trainer materializes. r10 note: the lazy
    // persist() reshape (r9 verdict item 4) was tried here and measured
    // WORSE in a matched A/B (4.0 → 4.5-5.1 s): the columnar cache
    // build of these array<double>-heavy rows costs more than the two
    // eager checkpoint jobs it removes (the q222 overlap-core lesson).
    val cent = lloydCentroids(corpus, idCol, vecCol, numCentroids, dim)
      .localCheckpoint()
    def subRows(df: DataFrame, probes: Int, idAs: String): DataFrame =
      pqResidualSubRows(df, idCol, vecCol, cent, probes, numSub, subDim,
        idAs)
    val cSub = subRows(corpus, 1, "cid").localCheckpoint()
    val seed = pqCodebook(numSub, codebookSize, subDim, tag = "ivfpq")
      .toDF("m", "cw", "cvec")
    val cb = broadcast(
      pqTrainCore(cSub.select("cid", "m", "sub"), seed, subDim))
    val wEnc = Window.partitionBy("cid", "m").orderBy(col("d2u"), col("cw"))
    val enc = cSub.join(cb, "m")
      .withColumn("d2u", pqD2u)
      .withColumn("rk", row_number().over(wEnc))
      .filter(col("rk") === 1)
      .select(col("cid"), col("cell"), col("m"), col("cw"))
    // the full per-(query, probed cell) ADC distance table: one priced
    // row per codeword, NOT an argmin — codes look their distance up
    val qt = subRows(queries, numProbes, "qid")
      .join(cb, "m")
      .withColumn("qd2u", pqD2u)
      .select(col("qid"), col("cell").as("qcell"), col("m").as("qm"),
        col("cw").as("qcw"), col("qd2u"))
    val wCand = Window.partitionBy("qid").orderBy(col("ad2u"), col("cid"))
    val cand = enc.join(broadcast(qt),
        col("cell") === col("qcell") && col("m") === col("qm") &&
          col("cw") === col("qcw"))
      .filter(col("cid") =!= col("qid"))
      .groupBy("qid", "cid")
      .agg(sum("qd2u").as("ad2u"))
      .withColumn("crk", row_number().over(wCand))
      .filter(col("crk") <= candidates)
      .select(col("qid"), col("cid"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("v_c"), selfNormFast(vecCol).as("n_c"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("v_q"), selfNormFast(vecCol).as("n_q"))
    val scored = cand
      .join(c, col("cid") === col("neighbor_id"))
      .join(broadcast(q), col("qid") === col("query_id"))
      .withColumn("cosine", dotFast("v_q", "v_c") / (col("n_q") * col("n_c")))
    topK(scored, k)
  }

  /** IVF (inverted-file) ANN: the second coarse-quantizer family beside
    * hyperplane LSH. Each corpus vector is assigned to its nearest centroid
    * by dot product (home cell = one inverted list per centroid —
    * [[graft.functions.IvfCells]] element 0); each query probes its
    * `numProbes` nearest cells and re-ranks exactly inside them. Centroids
    * are fixed md5-derived vectors (deterministic, engine-replayable);
    * production refinements (Lloyd iterations over a corpus sample) would
    * reshape cells but not the query plan, which is the part that must
    * scale: corpus partitioned once by cell, un-replicated; probes explode
    * on the broadcast query side only.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numCentroids: Int = 16,
      dim: Int = 64,
      numProbes: Int = 2): DataFrame = {
    require(numProbes >= 1 && numProbes <= numCentroids,
      s"ivfTopK: numProbes must be in [1, numCentroids], got $numProbes")
    graft.functions.VectorExpressions.register(corpus.sparkSession)
    graft.functions.HyperplaneExpressions.register(corpus.sparkSession)
    val c = corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("v_c"),
      selfNormFast(vecCol).as("n_c"),
      expr(s"element_at(graft_ivf_cells(`$vecCol`, $numCentroids, $dim, 1), 1)")
        .as("cell"))
    val q = queries.select(
      col(idCol).as("query_id"), col(vecCol).as("v_q"),
      selfNormFast(vecCol).as("n_q"),
      explode(expr(
        s"graft_ivf_cells(`$vecCol`, $numCentroids, $dim, $numProbes)"))
        .as("cell"))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", dotFast("v_q", "v_c") / (col("n_q") * col("n_c")))
    topK(scored, k)
  }

  /** IVF with ONE deterministic Lloyd refinement step: corpus vectors are
    * assigned to their nearest md5 seed centroid ([[ivfTopK]]'s coarse
    * quantizer), each cell's centroid is recomputed as the member mean, and
    * both corpus and queries are re-assigned against the refined centroids
    * before the usual probe + exact re-rank. This is the production answer
    * to "fixed md5 centroids make cell balance luck" — one k-means step
    * adapts cells to the actual embedding distribution.
    *
    * Engine-replayable by construction (the reason this is NOT MLlib
    * KMeans): the mean is computed in fixed-point — per dimension,
    * `sum(floor(x * 1e6 + 0.5))` as exact int64, divided by the member
    * count in one double division — so partial-aggregation order cannot
    * change the result, and the DuckDB oracle replays it bit-for-bit.
    * Everything stays distributed: the refined-centroid table is
    * numCentroids rows (aggregated, never collected to the driver) and
    * re-assignment is a broadcast join against it; at corpus scale the
    * added cost is one explode-aggregate over (cell, dim) and one
    * broadcast nested-loop scan per vector over numCentroids candidates.
    */
  def ivfTopKLloyd(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numCentroids: Int = 16,
      dim: Int = 64,
      numProbes: Int = 2): DataFrame = {
    graft.functions.VectorExpressions.register(corpus.sparkSession)
    graft.functions.HyperplaneExpressions.register(corpus.sparkSession)
    val cent = lloydCentroids(corpus, idCol, vecCol, numCentroids, dim)
    def assigned(df: DataFrame, probes: Int): DataFrame =
      assignCells(df, idCol, vecCol, cent, probes)

    val c = assigned(corpus, 1).select(
      col(idCol).as("neighbor_id"), col(vecCol).as("v_c"),
      selfNormFast(vecCol).as("n_c"), col("__cell").as("cell"))
    val q = assigned(queries, numProbes).select(
      col(idCol).as("query_id"), col(vecCol).as("v_q"),
      selfNormFast(vecCol).as("n_q"), col("__cell").as("cell"))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", dotFast("v_q", "v_c") / (col("n_q") * col("n_c")))
    topK(scored, k)
  }

  /** Per-cell residual sub-vector rows (`idAs`, `cell`, `m`, `sub`):
    * assign `df` to its `probes` nearest centroids, subtract THAT cell's
    * centroid, slice the residual into `numSub` sub-vectors. The shared
    * front half of IVF-PQ — [[ivfPqTopK]] (one-shot) and
    * [[AnnIndex]]'s persisted-PQ build/fold/query all call this, so a
    * maintained index can never residualize differently from the
    * one-shot operator.
    */
  private[graft] def pqResidualSubRows(
      df: DataFrame, idCol: String, vecCol: String, cent: DataFrame,
      probes: Int, numSub: Int, subDim: Int, idAs: String): DataFrame =
    assignCells(df, idCol, vecCol, cent, probes)
      .join(broadcast(cent), Seq("__cell"))
      .withColumn("__resid", expr(
        s"zip_with(`$vecCol`, __cvec, (x, y) -> CAST(x AS DOUBLE) - y)"))
      .select(
        col(idCol).as(idAs), col("__cell").as("cell"),
        explode(expr(s"transform(sequence(0, ${numSub - 1}), " +
          s"mi -> struct(mi AS m, " +
          s"slice(__resid, mi * $subDim + 1, $subDim) AS sub))")).as("e"))
      .select(col(idAs), col("cell"), col("e.m").as("m"),
        col("e.sub").as("sub"))

  /** Nearest-centroid assignment against an explicit (`__cell`,
    * `__cvec: array<double>`) centroid frame: dot(float vec, double
    * centroid) as the portable HOF fold — numCentroids rows per vector
    * via broadcast, so the interpreted lambda runs a constant number of
    * times per row; ties to the lower cell. Shared by [[ivfTopKLloyd]]
    * (fresh centroids) and [[AnnIndex]] (persisted centroids), so a
    * maintained index can never assign differently from the one-shot
    * build.
    */
  private[graft] def assignCells(
      df: DataFrame, idCol: String, vecCol: String, cent: DataFrame,
      probes: Int): DataFrame = {
    val scored = df.crossJoin(broadcast(cent))
      .withColumn("__d", expr(
        s"aggregate(zip_with(`$vecCol`, __cvec, (x, y) -> " +
          "CAST(x AS DOUBLE) * y), 0.0D, (acc, v) -> acc + v)"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("__d").desc, col("__cell").asc)
    scored.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= probes)
      .drop("__d", "__cvec")
  }

  /** One Lloyd step's refined centroids as a (numCentroids)-row frame
    * (`__cell`, `__cvec: array<double>`): members grouped by md5-seed home
    * cell, fixed-point mean per dimension (see [[ivfTopKLloyd]]). Cells
    * with no members keep no centroid (their seed attracted nothing — the
    * refined quantizer simply has fewer, denser cells).
    */
  private[graft] def lloydCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numCentroids: Int,
      dim: Int): DataFrame =
    corpus
      .select(
        expr(s"element_at(graft_ivf_cells(`$vecCol`, $numCentroids, $dim, 1), 1)")
          .as("__cell"),
        posexplode(col(vecCol)).as(Seq("__i", "__x")))
      .groupBy("__cell", "__i")
      .agg(
        sum(expr("CAST(floor(CAST(__x AS DOUBLE) * 1000000D + 0.5D) AS BIGINT)"))
          .as("__s"),
        count(lit(1)).as("__cnt"))
      .withColumn("__v",
        col("__s").cast("double") / col("__cnt").cast("double") / lit(1000000.0d))
      .groupBy("__cell")
      .agg(expr("transform(array_sort(collect_list(struct(__i, __v))), " +
        "p -> p.__v)").as("__cvec"))

  /** Margin-based aligned-pair mining (Artetxe & Schwenk 2019, "Margin
    * based Parallel Corpus Mining with Multilingual Sentence Embeddings"
    * — the ratio-margin criterion behind CCMatrix-style mined corpora):
    * a source item's best target is scored not by raw cosine but by the
    * cosine RELATIVE to both items' neighborhoods,
    * `margin(x,y) = cos(x,y) / ((avgₖ(x) + avgₖ(y)) / 2)`, which kills
    * the hub vectors that are "close to everything"; pairs where the two
    * directions pick each other are flagged `mutual` (the
    * precision-grade subset real pipelines keep).
    *
    * Integerized so every engine replays it exactly: cosines fix to
    * 1e-9 units and CLAMP AT ZERO (a negative cosine is never a
    * candidate alignment, and clamping keeps every later division
    * non-negative — floor-division semantics diverge across engines on
    * negatives); neighborhood averages stay as top-k integer SUMS, so
    * `margin_ppm = cfix · 2k · 10⁶ div (Σₖ(x) + Σₖ(y))` is one exact
    * division. Sources whose combined neighborhood sum is zero have no
    * defined margin and emit no row.
    *
    * The 100 TB entry point is [[marginFromCandidates]]: the margin
    * algebra never touches vectors again after the cosine, so it runs
    * unchanged on (src_id, tgt_id, cfix) candidate rows from the ANN
    * families — [[marginCandidatesIvf]] for the IVF cell-join form. This
    * brute form IS `marginFromCandidates(marginCandidatesBrute(...))`,
    * kept as the exact oracle twin (cross join — only run it when one
    * side is small enough to broadcast).
    */
  def marginMiningPairs(
      source: DataFrame,
      target: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 4): DataFrame =
    marginFromCandidates(
      marginCandidatesBrute(source, target, idCol, vecCol), k)

  /** Exhaustive (src_id, tgt_id, cfix) candidate pairs — the cross join.
    * The exact twin for [[marginFromCandidates]]; a scale-forbidden shape
    * unless one side broadcasts. cfix = cosine in 1e-9 units, clamped at
    * zero (see [[marginMiningPairs]] for why).
    */
  def marginCandidatesBrute(
      source: DataFrame,
      target: DataFrame,
      idCol: String,
      vecCol: String): DataFrame = {
    graft.functions.VectorExpressions.register(source.sparkSession)
    val s = source.select(col(idCol).as("src_id"), col(vecCol).as("v_s"),
      selfNormFast(vecCol).as("n_s"))
    val t = target.select(col(idCol).as("tgt_id"), col(vecCol).as("v_t"),
      selfNormFast(vecCol).as("n_t"))
    s.crossJoin(t)
      .withColumn("cfix", greatest(
        floor(dotFast("v_s", "v_t") / (col("n_s") * col("n_t")) *
          lit(1000000000.0) + lit(0.5)).cast("long"),
        lit(0L)))
      .select(col("src_id"), col("tgt_id"), col("cfix"))
  }

  /** IVF-bucketed (src_id, tgt_id, cfix) candidate pairs — the scale
    * path for margin mining. Lloyd-refined centroids are trained on the
    * TARGET corpus (the indexed side, as in production); each target
    * lands in its 1 nearest cell, each source probes its `numProbes`
    * nearest cells, and candidates are the cell-equi-join — an ids+cell
    * shuffle, never n². A (src, tgt) pair appears at most once (the
    * target side is assigned exactly one cell). Shares
    * [[assignCells]]/[[lloydCentroids]] with [[ivfTopKLloyd]] and
    * [[AnnIndex]], so candidates here are exactly the pairs an IVF
    * retrieval at the same probe count would score.
    *
    * Recall semantics: with `numProbes < numCentroids` the candidate set
    * is approximate; margins computed over it equal the brute twin's
    * exactly when each item's decisive neighbors fall in probed cells
    * (the gate pins this at its corpus/parameters — q41's banded≡exact
    * discipline).
    */
  def marginCandidatesIvf(
      source: DataFrame,
      target: DataFrame,
      idCol: String,
      vecCol: String,
      numCentroids: Int = 16,
      dim: Int = 64,
      numProbes: Int = 8): DataFrame = {
    require(numProbes >= 1,
      s"marginCandidatesIvf: numProbes must be >= 1, got $numProbes")
    graft.functions.VectorExpressions.register(source.sparkSession)
    graft.functions.HyperplaneExpressions.register(source.sparkSession)
    val cent = lloydCentroids(target, idCol, vecCol, numCentroids, dim)
    val t = assignCells(target, idCol, vecCol, cent, 1).select(
      col(idCol).as("tgt_id"), col(vecCol).as("v_t"),
      selfNormFast(vecCol).as("n_t"), col("__cell").as("cell"))
    val s = assignCells(source, idCol, vecCol, cent, numProbes).select(
      col(idCol).as("src_id"), col(vecCol).as("v_s"),
      selfNormFast(vecCol).as("n_s"), col("__cell").as("cell"))
    t.join(s, Seq("cell"))
      .withColumn("cfix", greatest(
        floor(dotFast("v_s", "v_t") / (col("n_s") * col("n_t")) *
          lit(1000000000.0) + lit(0.5)).cast("long"),
        lit(0L)))
      .select(col("src_id"), col("tgt_id"), col("cfix"))
  }

  /** The margin algebra over candidate rows (src_id, tgt_id, cfix):
    * per-side top-k neighborhood sums, one exact integer division per
    * pair, forward best-margin pick, mutuality flag. Pure relational ops
    * on ids — no vectors — so it runs identically on brute pairs (the
    * oracle twin) and on ANN candidates (the 100 TB path). Pairs absent
    * from the candidate set can neither be picked nor count toward a
    * neighborhood sum — candidate recall IS the approximation.
    */
  def marginFromCandidates(pairs: DataFrame, k: Int = 4): DataFrame = {
    require(k >= 1, s"marginFromCandidates: k must be >= 1, got $k")
    val wS = Window.partitionBy("src_id")
      .orderBy(col("cfix").desc, col("tgt_id").asc)
    val sumS = pairs.withColumn("__r", row_number().over(wS))
      .filter(col("__r") <= k)
      .groupBy("src_id").agg(sum("cfix").as("sum_s"))
    val wT = Window.partitionBy("tgt_id")
      .orderBy(col("cfix").desc, col("src_id").asc)
    val sumT = pairs.withColumn("__r", row_number().over(wT))
      .filter(col("__r") <= k)
      .groupBy("tgt_id").agg(sum("cfix").as("sum_t"))
    val m = pairs.join(sumS, "src_id").join(sumT, "tgt_id")
      .filter(col("sum_s") + col("sum_t") > 0)
      .withColumn("margin_ppm",
        expr(s"cfix * ${2L * k} * 1000000 div (sum_s + sum_t)"))
    val wBestS = Window.partitionBy("src_id")
      .orderBy(col("margin_ppm").desc, col("tgt_id").asc)
    val fwd = m.withColumn("__br", row_number().over(wBestS))
      .filter(col("__br") === 1)
      .select(col("src_id"), col("tgt_id"), col("cfix").as("cos_fix"),
        col("margin_ppm"))
    val wBestT = Window.partitionBy("tgt_id")
      .orderBy(col("margin_ppm").desc, col("src_id").asc)
    val bwd = m.withColumn("__tr", row_number().over(wBestT))
      .filter(col("__tr") === 1)
      .select(col("src_id").as("__bs"), col("tgt_id").as("__bt"),
        lit(true).as("__mu"))
    fwd.join(bwd,
        fwd("src_id") === bwd("__bs") && fwd("tgt_id") === bwd("__bt"),
        "left")
      .select(col("src_id"), col("tgt_id"), col("cos_fix"),
        col("margin_ppm"), coalesce(col("__mu"), lit(false)).as("mutual"))
  }

  /** k-center greedy (farthest-point) coreset selection — Gonzalez 1985's
    * 2-approximation, the diversity-first data-selection rule of Sener &
    * Savarese 2018 ("Active Learning for CNNs: A Core-Set Approach"):
    * start from the lowest id, then repeatedly add the point whose
    * distance TO the selected set (min over centers) is LARGEST — the
    * pick that maximally covers the embedding space, the opposite end of
    * the spectrum from prototypicality pruning ([[prototypicalityPrune]]
    * keeps cluster cores; this keeps the frontier).
    *
    * Squared L2 distances `|a|²+|b|²−2a·b` fix to 1e-6 units (clamped at
    * zero — fp cancellation on near-identical vectors can dip epsilon
    * negative) at EACH round, and the running min-distance column folds
    * with integer `least`, so every round's pick — and therefore the
    * whole trajectory — replays exactly in any engine. Ties break on id.
    *
    * Scale shape: the running min-distance table is maintained
    * incrementally — each round joins ONE broadcast center row against
    * the corpus and folds with `least` (k passes of map-side work, the
    * canonical k-center cost), with a localCheckpoint per round (the
    * ext/Bfs round-truncation discipline). The driver holds only the k
    * selected ids, never vectors-at-large.
    */
  def kCenterGreedy(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"kCenterGreedy: k must be >= 1, got $k")
    val spark = corpus.sparkSession
    graft.functions.VectorExpressions.register(spark)
    import spark.implicits._
    val base = corpus
      .select(col(idCol).as("vec_id"), col(vecCol).as("v"),
        dotFast("v", "v").as("n2"))
      .localCheckpoint()
    val dfix = greatest(
      floor((col("n2") + col("c_n2") - lit(2.0) * dotFast("v", "c_v")) *
        lit(1000000.0) + lit(0.5)).cast("long"),
      lit(0L))
    def centerRow(id: Long) = broadcast(
      base.filter(col("vec_id") === id)
        .select(col("v").as("c_v"), col("n2").as("c_n2")))
    // agg(min) on an empty corpus yields one null row — guard before the
    // getLong unboxes it into an opaque NPE
    val seedRow = base.agg(min("vec_id")).head()
    require(!seedRow.isNullAt(0),
      "kCenterGreedy: corpus is empty — no seed point to select")
    val seed = seedRow.getLong(0)
    val picks = scala.collection.mutable.ListBuffer((1, seed, 0L))
    var cur = base.crossJoin(centerRow(seed))
      .withColumn("md", dfix)
      .select("vec_id", "v", "n2", "md")
      .localCheckpoint()
    (2 to k).foreach { r =>
      val chosen = picks.map(_._2).toSeq
      val top = cur.filter(!col("vec_id").isInCollection(chosen))
        .orderBy(col("md").desc, col("vec_id").asc)
        .select("vec_id", "md").limit(1).collect()
      if (top.nonEmpty) {
        val (id, md) = (top(0).getLong(0), top(0).getLong(1))
        picks += ((r, id, md))
        if (r < k)
          cur = cur.crossJoin(centerRow(id))
            .withColumn("md", least(col("md"), dfix))
            .select("vec_id", "v", "n2", "md")
            .localCheckpoint()
      }
    }
    picks.toSeq.toDF("round", "vec_id", "dist_fix")
      .select(col("round").cast("long").as("round"),
        col("vec_id"), col("dist_fix"))
  }

  /** Embedding-truncation recall audit (the Matryoshka serving question
    * — Kusupati et al. 2022: how much of full-dimension retrieval
    * survives if only the first d′ components are stored/scanned): for
    * each prefix length, exact top-k under prefix-cosine is compared
    * against the full-dimension top-k, one recall row per prefix. The
    * audit a team runs BEFORE picking a truncation for the 100 TB
    * serving index — bandwidth scales linearly with d′, recall does not.
    *
    * Exact and deterministic at every prefix (double left-folds over the
    * slice, ties on id), so the oracle replays each ladder rung. The
    * full-dimension rung rides along as the 1.0-recall sanity row.
    * Scale shape: each rung is the [[bruteForceTopK]] broadcast pattern
    * (query batch broadcast, corpus scanned map-side); rungs union into
    * one plan, and the recall rollup is |prefixes| rows.
    */
  def truncationRecallAudit(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      prefixes: Seq[Int],
      dim: Int = 64): DataFrame = {
    require(prefixes.nonEmpty && prefixes.forall(d => d >= 1 && d <= dim),
      s"truncationRecallAudit: prefixes must be in [1, $dim], got $prefixes")
    require(prefixes.distinct.size == prefixes.size,
      s"truncationRecallAudit: duplicate prefixes, got $prefixes")
    val truth = bruteForceTopK(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("__m"))
      // truth feeds the full-dim sanity rung AND the recall join below
      .localCheckpoint()
    val per = prefixes.map {
      // the full-dimension rung IS the truth ranking — reuse it instead
      // of running the most expensive brute-force scan a second time
      case d if d == dim =>
        truth.select(lit(d.toLong).as("dim_prefix"), col("query_id"),
          col("neighbor_id"))
      case d =>
        val c = corpus.select(col(idCol),
          expr(s"slice(`$vecCol`, 1, $d)").as(vecCol))
        val q = queries.select(col(idCol),
          expr(s"slice(`$vecCol`, 1, $d)").as(vecCol))
        bruteForceTopK(c, q, idCol, vecCol, k)
          .select(lit(d.toLong).as("dim_prefix"), col("query_id"),
            col("neighbor_id"))
    }.reduce(_ unionByName _)
    per.join(truth, Seq("query_id", "neighbor_id"), "left")
      .groupBy("dim_prefix")
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(col("__m"), lit(0L))).as("n_matched"))
      .withColumn("recall_ppm", expr("n_matched * 1000000 div n_pairs"))
  }

  /** Prototypicality pruning (Sorscher et al. 2022, "Beyond neural
    * scaling laws: beating power law scaling via data pruning" — the
    * self-supervised prune metric): each vector's prototypicality is its
    * cosine to its Lloyd-cell centroid; within every cell the HARDEST
    * `keepHardestPct`% (lowest cosine — the examples far from the
    * prototype) are kept and the rest marked pruned. The paper's core
    * finding — with abundant data, keeping hard examples beats random —
    * makes this the embedding-side companion to the DSIR/classifier text
    * filters. The per-cell quota (⌈n·pct/100⌉, ranks tie on id) keeps
    * the selection stratified: no cell is emptied wholesale, which a
    * global threshold would do to tight clusters.
    *
    * Deterministic end to end (fixed-point Lloyd means, double-fold
    * cosines, total rank order), so the oracle replays the full prune
    * decision. 100 TB shape: one centroid broadcast + a per-cell rank
    * window — no pairwise anything; the output is corpus-sized but
    * narrow (id, cell, score, rank, flag).
    */
  def prototypicalityPrune(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      keepHardestPct: Int,
      numCentroids: Int = 16,
      dim: Int = 64): DataFrame = {
    require(keepHardestPct >= 1 && keepHardestPct <= 100,
      s"prototypicalityPrune: keepHardestPct must be in [1, 100], " +
        s"got $keepHardestPct")
    graft.functions.VectorExpressions.register(corpus.sparkSession)
    graft.functions.HyperplaneExpressions.register(corpus.sparkSession)
    val cent = lloydCentroids(corpus, idCol, vecCol, numCentroids, dim)
    val asg = assignCells(corpus, idCol, vecCol, cent, probes = 1)
      .join(broadcast(cent), Seq("__cell"))
      .withColumn("__cn", expr(
        "sqrt(aggregate(zip_with(__cvec, __cvec, (x, y) -> x * y), " +
          "0.0D, (acc, v) -> acc + v))"))
      .withColumn("__proto",
        expr(s"aggregate(zip_with(`$vecCol`, __cvec, (x, y) -> " +
          "CAST(x AS DOUBLE) * y), 0.0D, (acc, v) -> acc + v)") /
          (selfNormFast(vecCol) * col("__cn")))
    val w = Window.partitionBy(col("__cell"))
      .orderBy(col("__proto").asc, col(idCol).asc)
    val wn = Window.partitionBy(col("__cell"))
    asg
      .withColumn("hard_rank", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wn))
      .select(col(idCol), col("__cell").as("cell"),
        round(col("__proto"), 6).as("proto_cos"),
        col("hard_rank"),
        (col("hard_rank") <=
          expr(s"(__n * $keepHardestPct + 99) div 100")).as("kept"))
  }

  /** Banded-LSH embedding near-dup pairs — the bucketed replacement for
    * [[cosineNearDupPairs]]'s all-pairs crossJoin: `numBands` independent
    * `bandBits`-plane signatures per vector (one fused-expression pass),
    * posexplode → equi-self-join per (band, bucket) carrying ids only,
    * distinct candidate pairs, then the exact cosine filter re-attaches
    * vectors by id and keeps pairs ≥ `threshold`. Precision is exact (same
    * filter as the brute form); recall is the banded-LSH catch probability
    * 1 - (1 - p^bandBits)^numBands with p = 1 - θ/π.
    *
    * Parameter honesty: banding wins when the threshold is high. At
    * cosine ≥ 0.9 (p ≈ 0.86), 16 bands × 8 bits catch ≥ 97% of true pairs
    * while candidate joins touch ~2% of the n² pairs. At the oracle's
    * threshold 0.4 (p ≈ 0.63, the indexing-hostile regime — LSH exponent
    * ρ ≈ 0.66), 100% recall needs enough bands that candidates approach
    * all-pairs, so this form matches the brute oracle exactly but prunes
    * little — the win at 0.4 is the SHAPE (bounded per-bucket equi-joins
    * that AQE can split, ids-only candidate rows), not the candidate count.
    * Defaults (4 bits × 48 bands) catch every ≥ 0.4 pair in the test corpora
    * at sf0.001/0.01/0.1, verified deterministically (md5-derived planes).
    */
  def cosineNearDupPairsBucketed(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      bandBits: Int = 4,
      numBands: Int = 48,
      dim: Int = 64): DataFrame = {
    graft.functions.VectorExpressions.register(corpus.sparkSession)
    graft.functions.HyperplaneExpressions.register(corpus.sparkSession)
    val banded = corpus.select(
      col(idCol).as("id"),
      posexplode(expr(
        s"graft_hyperplane_bands(`$vecCol`, $bandBits, $numBands, $dim)"))
        .as(Seq("band", "sig")))
    val candidates = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    val vecs = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      selfNormFast(vecCol).as("n"))
    candidates
      .join(vecs.withColumnsRenamed(
        Map("id" -> "id_a", "v" -> "v_a", "n" -> "n_a")), Seq("id_a"))
      .join(vecs.withColumnsRenamed(
        Map("id" -> "id_b", "v" -> "v_b", "n" -> "n_b")), Seq("id_b"))
      .withColumn("cosine", dotFast("v_a", "v_b") / (col("n_a") * col("n_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cos_sim"))
  }

  /** Semantic deduplication (SemDeDup-shaped): vectors are coarse-clustered
    * to their nearest centroid (the IVF home cell), and WITHIN each cluster
    * a vector is dropped when a lower-id member sits above the cosine
    * threshold — the deterministic min-id survivor rule, replayable in any
    * engine. Returns every vector with its cluster and a `kept` flag.
    *
    * Cluster-scoping is what makes this the scale path: candidate pairs
    * are one equi-self-join on the cell id (one shuffle to co-partition by
    * cell; cross-cluster pairs are never formed), so the pair count is
    * Σ|cell|² instead of n² — and at 100 TB you raise `numCentroids` so
    * cells stay bounded (the published SemDeDup recipe: k ≈ n/10⁴). The
    * deliberate approximation vs full near-dup ([[cosineNearDupPairsBucketed]])
    * is that near-identical vectors straddling a centroid boundary are
    * missed — the accepted trade for never touching cross-cluster pairs.
    */
  def semanticDedup(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      numCentroids: Int = 16,
      dim: Int = 64): DataFrame = {
    graft.functions.VectorExpressions.register(corpus.sparkSession)
    graft.functions.HyperplaneExpressions.register(corpus.sparkSession)
    val c = corpus.select(
      col(idCol).as("vec_id"), col(vecCol).as("v"),
      selfNormFast(vecCol).as("n"),
      expr(s"element_at(graft_ivf_cells(`$vecCol`, $numCentroids, $dim, 1), 1)")
        .as("cell"))
    val a = c.select(col("vec_id").as("id_a"), col("v").as("v_a"),
      col("n").as("n_a"), col("cell"))
    val b = c.select(col("vec_id").as("id_b"), col("v").as("v_b"),
      col("n").as("n_b"), col("cell").as("cell_b"))
    val dropped = a.join(b,
        col("cell") === col("cell_b") && col("id_a") < col("id_b"))
      .filter(dotFast("v_a", "v_b") / (col("n_a") * col("n_b")) >= threshold)
      .select(col("id_b").as("vec_id"))
      .distinct()
    c.join(dropped.withColumn("__drop", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("__drop"), lit(false)).unary_!.as("kept"))
  }

  /** NN-descent kNN-graph construction (Dong, Moses, Li 2011, "Efficient
    * K-Nearest Neighbor Graph Construction for Generic Similarity
    * Measures") — the graph-based ANN family (the construction step HNSW
    * descendants build on), expressed as joins + windows so every round
    * is one deterministic dataflow:
    *
    *   init:  `seedTables` INDEPENDENT hyperplane-LSH tables (disjoint
    *          slices of the shared plane matrix, `seedPlanes` bits each)
    *          bucket equi-self-joined and unioned → exact-cosine top-k
    *          per node. Multiple coarse tables are what make the seed
    *          CONNECTED — a single fine-grained table leaves tiny
    *          disconnected components that neighbors-of-neighbors can
    *          never escape (NN-descent's random init, made deterministic
    *          as an LSH forest);
    *   round: neighbors-of-neighbors refinement. Each node's combined
    *          list = its out-neighbors ∪ its top-k REVERSE neighbors
    *          (the reverse cap is NN-descent's sampling made
    *          deterministic: rank by cosine, tie on id). Lists are
    *          re-keyed by the shared member m and capped at `2k` entries
    *          per m, so candidate generation is an equi-join on m
    *          producing ≤ 4k² pairs per member — Σ n·4k² total, never
    *          n². New candidates union the current edges, exact cosine
    *          re-scores, top-k keeps the best k per node.
    *
    * Every choice (bucket seed, caps, tie-breaks) is rank-deterministic,
    * so a SQL oracle replays construction EXACTLY — recall is audited by
    * value, not statistically. At 100 TB every stage is an id-keyed
    * narrow shuffle (float vectors join back in only for scoring).
    */
  def nnDescentTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rounds: Int = 1,
      seedTables: Int = 4,
      seedPlanes: Int = 6,
      dim: Int = 64): DataFrame =
    nnDescentTopKCounted(corpus, idCol, vecCol, k, rounds, seedTables,
      seedPlanes, dim, roundsRun = null)

  /** [[nnDescentTopK]] with an observable round counter — the spec hook
    * that pins the convergence early-exit (`roundsRun`, when non-null,
    * is set to the number of refinement rounds actually executed).
    */
  private[graft] def nnDescentTopKCounted(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rounds: Int = 1,
      seedTables: Int = 4,
      seedPlanes: Int = 6,
      dim: Int = 64,
      roundsRun: java.util.concurrent.atomic.AtomicInteger = null)
      : DataFrame = {
    require(k >= 1 && rounds >= 0, s"nnDescentTopK: bad k=$k rounds=$rounds")
    require(seedTables >= 1 && seedPlanes >= 1,
      s"nnDescentTopK: bad seedTables=$seedTables seedPlanes=$seedPlanes")
    graft.functions.VectorExpressions.register(corpus.sparkSession)
    graft.functions.HyperplaneExpressions.register(corpus.sparkSession)
    val vecs = corpus.select(
      col(idCol).cast("long").as("vec_id"), col(vecCol).as("v"),
      selfNormFast(vecCol).as("n"))
    // one row per (vector, table): the table index keys the equi-join so
    // L tables bucket-join in ONE shuffle instead of L passes
    val bucketed = (0 until seedTables).map { t =>
      corpus.select(
        col(idCol).cast("long").as("vec_id"),
        lit(t).as("tbl"),
        hyperplaneBucketSliced(vecCol, t * seedPlanes, seedPlanes, dim)
          .as("bucket"))
    }.reduce(_ unionByName _)

    def scoreTopK(pairs: DataFrame): DataFrame = {
      // pairs: (u, m) id-only; join the vectors back in, exact cosine,
      // keep each u's best k
      val scored = pairs
        .join(vecs.select(col("vec_id").as("u"), col("v").as("v_u"),
          col("n").as("n_u")), Seq("u"))
        .join(vecs.select(col("vec_id").as("m"), col("v").as("v_m"),
          col("n").as("n_m")), Seq("m"))
        .withColumn("cosine",
          dotFast("v_u", "v_m") / (col("n_u") * col("n_m")))
      val w = Window.partitionBy(col("u"))
        .orderBy(col("cosine").desc, col("m").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("u"), col("m"), col("cosine"), col("rank"))
    }

    // The graph var is referenced by THREE subtrees per round (forward
    // edges, reverse edges, candidate union) and vecs by two joins per
    // scoring pass — without lineage cuts the final plan re-derives the
    // seed once per reference (52 redundant scans at rounds=1, audited).
    // localCheckpoint per round + persisted inputs is the same
    // per-round-truncation discipline as ext/Bfs and ext/Sssp.
    import org.apache.spark.storage.StorageLevel
    val vecsP = vecs.persist(StorageLevel.MEMORY_AND_DISK)
    val bucketedP = bucketed.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // deterministic seed: same-(table, bucket) candidates (ids only,
      // distinct across tables), top-k
      val seedPairs = bucketedP
        .select(col("vec_id").as("u"), col("tbl"), col("bucket"))
        .join(bucketedP.select(col("vec_id").as("m"), col("tbl"),
          col("bucket")), Seq("tbl", "bucket"))
        .filter(col("u") =!= col("m"))
        .select("u", "m")
        .distinct()
      var graph = scoreTopK(seedPairs).localCheckpoint()

      // `rounds` is a CAP, not a fixed cost: NN-descent converges when a
      // refinement round improves no neighbor list, and every later
      // round would recompute the identical graph (the dataflow is
      // deterministic). The change probe is an anti-join on the id-only
      // (u, m) edge lists — both sides already materialized by their
      // checkpoints — with limit(1): an existence check, not a count.
      var r = 0
      var converged = false
      while (r < rounds && !converged) {
        val wRev = Window.partitionBy(col("u"))
          .orderBy(col("cosine").desc, col("m").asc)
        val rev = graph.select(col("m").as("u"), col("u").as("m"),
            col("cosine"))
          .withColumn("rr", row_number().over(wRev))
          .filter(col("rr") <= k)
          .select("u", "m", "cosine")
        // combined neighbor list, deduped keep-best, then capped per
        // MEMBER so a popular node can't quadratically explode the m-join
        val und = graph.select("u", "m", "cosine")
          .unionByName(rev)
          .groupBy("u", "m").agg(max(col("cosine")).as("cosine"))
        val wCap = Window.partitionBy(col("m"))
          .orderBy(col("cosine").desc, col("u").asc)
        val capped = und.withColumn("cm", row_number().over(wCap))
          .filter(col("cm") <= 2 * k)
          .select("u", "m")
        val cand = capped.select(col("u").as("a"), col("m"))
          .join(capped.select(col("u").as("b"), col("m")), Seq("m"))
          .filter(col("a") =!= col("b"))
          .select(col("a").as("u"), col("b").as("m"))
        val all = cand.unionByName(graph.select("u", "m")).distinct()
        val next = scoreTopK(all).localCheckpoint()
        // top-k per node is unique under the (cosine desc, id asc) total
        // order, so "no new edge" ⟺ the graphs are identical ⟺ every
        // later round is a fixed point
        converged = next.select("u", "m")
          .join(graph.select("u", "m"), Seq("u", "m"), "left_anti")
          .limit(1).isEmpty
        graph = next
        r += 1
        if (roundsRun != null) roundsRun.set(r)
      }
      graph.select(col("u").as("query_id"), col("rank"),
        col("m").as("neighbor_id"), round(col("cosine"), 6).as("cos_sim"))
    } finally {
      // safe to release: every round's result is already materialized in
      // its checkpoint, so the returned frame no longer reads these
      vecsP.unpersist(); bucketedP.unpersist(); ()
    }
  }
}
