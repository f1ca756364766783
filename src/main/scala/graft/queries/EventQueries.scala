package graft.queries

import graft.operators.AsofJoin

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Event-stream operators: the custom as-of join, gap-based sessionization,
  * and a Structured Streaming windowed aggregation whose result is checked
  * against a batch DuckDB oracle (stream/batch consistency).
  */
object EventQueries {

  private val q30Staging = new QuerySpec.StagingCache[String]
  private val q38Staging = new QuerySpec.StagingCache[String]

  /** Stage the events parquet into a directory (file-source streams need a
    * directory, not a file), normalized through [[CoreQueries.events]] so
    * the staged `ts` is the canonical epoch-nanos BIGINT regardless of the
    * fixture's physical timestamp type — every downstream stream transform
    * does `ts div 1000` against this one schema. Memoized per sf dir; Bench
    * calls this untimed via the spec's setup hook, Verify hits it inside
    * the query body.
    */
  def stageQ30(spark: org.apache.spark.sql.SparkSession, dir: String): String =
    q30Staging.getOrStage(dir) {
      val staged = new java.io.File(
        QuerySpec.stagedPath("q30_events", dir))
      org.apache.commons.io.FileUtils.deleteQuietly(staged)
      staged.mkdirs()
      CoreQueries.events(spark, dir).coalesce(1)
        .write.parquet(s"$staged/00")
      flattenPart(spark, staged.toString, "00", "events.parquet")
      staged.toString
    }

  /** Start and drain a (memory-sink, AvailableNow) stream with
    * `spark.sql.shuffle.partitions` temporarily scoped to the staged
    * backlog's size ([[graft.conf.Tuning.partitionsForBytes]]). Stateful
    * operators commit one state-store delta PER state partition PER
    * micro-batch, so a small backlog drained over a few micro-batches
    * pays partitions × batches × stores in fixed commit cost no matter
    * how little data flows — at 32 partitions that overhead dominated the
    * stream-stream joins' bench time (q89: 8.0 s, mostly store commits).
    * State-partition count is pinned per query at START time (it lives in
    * the checkpoint), which is why the conf is scoped here and restored.
    * r10: the count derives from the backlog bytes (the state volume's
    * upper bound for these drain-a-backlog streams) instead of the old
    * constant 8 — the same code picks 1 partition for a KB-sized staging
    * and thousands for a TB backlog, which is how a production deployment
    * sizes state partitions (keyspace × state volume), parameterised by
    * `spark.graft.shuffle.targetPartitionBytes`.
    */
  private def drainScoped(
      spark: org.apache.spark.sql.SparkSession, stagedDir: String)(
      start: => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, graft.conf.Tuning.partitionsForBytes(
      spark, graft.conf.Tuning.dirBytes(spark, stagedDir)).toString)
    try start.awaitTermination() finally spark.conf.set(key, prev)
  }

  /** Collapse the part-directory `staged/sub` (a coalesce(1) write) into
    * the single file `staged/name` — the two-file stream stagers need
    * flat, name-ordered files, not part directories. Shared by
    * stageQ38/stageQ89/stageQ100.
    */
  private def flattenPart(spark: org.apache.spark.sql.SparkSession,
      staged: String, sub: String, name: String): Unit =
    QuerySpec.flattenPart(spark, staged, sub, name)

  /** Backdate `path` by 60 s so the oldest-first file source (with
    * maxFilesPerTrigger=1) drains it before its sibling.
    */
  private def backdate(path: String): Unit =
    QuerySpec.backdate(path, 60000L)

  /** Stage the q38 two-file stream: events (with µs timestamps) plus a
    * far-future sentinel file that advances the watermark so every real
    * session closes. Memoized per sf dir.
    */
  def stageQ38(spark: org.apache.spark.sql.SparkSession, dir: String): String =
    q38Staging.getOrStage(dir) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val staged = new java.io.File(
        QuerySpec.stagedPath("q38_events", dir))
      org.apache.commons.io.FileUtils.deleteQuietly(staged)
      staged.mkdirs()
      val base = CoreQueries.events(spark, dir)
        .select(col("user_id"), col("event_id"),
          timestamp_micros(expr("ts div 1000")).as("ts_ts"))
      base.coalesce(1).write.parquet(s"$staged/00")
      // max event time from the just-written staging output — no second scan
      // of the source
      val maxTs = spark.read.parquet(s"$staged/00")
        .agg(max(unix_micros(col("ts_ts")))).head().getLong(0)
      // sentinel 10 days later pushes the watermark past every real session
      base.sparkSession.sql(
        s"SELECT -1L AS user_id, -1L AS event_id, " +
          s"timestamp_micros(${maxTs + 864000000000L}L) AS ts_ts")
        .coalesce(1).write.parquet(s"$staged/01")
      flattenPart(spark, staged.toString, "00", "00.parquet")
      flattenPart(spark, staged.toString, "01", "01.parquet")
      backdate(s"$staged/00.parquet")
      staged.toString
    }

  /** Self as-of: each order matched to the customer's most recent strictly
    * earlier order (right side deduped to one row per (customer, date) so
    * the as-of pick is unambiguous in both engines).
    */
  val q28AsofJoin: QuerySpec = QuerySpec.oracled(
    "q28_asof_join",
    """WITH ded AS (
      |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS prev_orderkey
      |  FROM orders GROUP BY o_custkey, o_orderdate)
      |SELECT l.o_orderkey, d.prev_orderkey,
      |  CAST(epoch_us(l.o_orderdate) - epoch_us(d.o_orderdate) AS BIGINT)
      |    AS gap_us
      |FROM orders l ASOF JOIN ded d
      |  ON l.o_custkey = d.o_custkey AND l.o_orderdate > d.o_orderdate
      |ORDER BY l.o_orderkey""".stripMargin) { (spark, dir) =>
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val ded = orders.groupBy("o_custkey", "o_orderdate")
      .agg(max("o_orderkey").as("prev_orderkey"))
      .withColumnRenamed("o_orderdate", "prev_date")
    AsofJoin.asofBackward(
      left = orders,
      right = ded,
      keyCols = Seq("o_custkey"),
      leftTimeCol = "o_orderdate",
      rightTimeCol = "prev_date",
      rightValueCols = Seq("prev_orderkey", "prev_date"),
      strict = true)
      .filter(col("asof_prev_orderkey").isNotNull) // inner-join semantics
      .select(
        col("o_orderkey"),
        col("asof_prev_orderkey").as("prev_orderkey"),
        // o_orderdate arrives as TIMESTAMP_NTZ; with the session pinned to
        // UTC the cast reads it as the same instant DuckDB's epoch_us sees.
        (unix_micros(col("o_orderdate").cast("timestamp")) -
          unix_micros(col("asof_prev_date").cast("timestamp"))).as("gap_us"))
      .orderBy("o_orderkey")
  }

  /** Forward as-of: each order matched to the customer's earliest strictly
    * later order (DuckDB `ASOF JOIN ... ON l.t < r.t` picks the smallest
    * future right time).
    */
  val q40AsofForward: QuerySpec = QuerySpec.oracled(
    "q40_asof_forward",
    """WITH ded AS (
      |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS next_orderkey
      |  FROM orders GROUP BY o_custkey, o_orderdate)
      |SELECT l.o_orderkey, d.next_orderkey,
      |  CAST(epoch_us(d.o_orderdate) - epoch_us(l.o_orderdate) AS BIGINT)
      |    AS wait_us
      |FROM orders l ASOF JOIN ded d
      |  ON l.o_custkey = d.o_custkey AND l.o_orderdate < d.o_orderdate
      |ORDER BY l.o_orderkey""".stripMargin) { (spark, dir) =>
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val ded = orders.groupBy("o_custkey", "o_orderdate")
      .agg(max("o_orderkey").as("next_orderkey"))
      .withColumnRenamed("o_orderdate", "next_date")
    AsofJoin.asofForward(
      left = orders,
      right = ded,
      keyCols = Seq("o_custkey"),
      leftTimeCol = "o_orderdate",
      rightTimeCol = "next_date",
      rightValueCols = Seq("next_orderkey", "next_date"),
      strict = true)
      .filter(col("asof_next_orderkey").isNotNull)
      .select(
        col("o_orderkey"),
        col("asof_next_orderkey").as("next_orderkey"),
        (unix_micros(col("asof_next_date").cast("timestamp")) -
          unix_micros(col("o_orderdate").cast("timestamp"))).as("wait_us"))
      .orderBy("o_orderkey")
  }

  /** Tolerance as-of: q28's backward match, but a previous order farther
    * than 7 days nulls out (Polars/pandas `tolerance` semantics — dropped,
    * not replaced by an older candidate). DuckDB has no ASOF tolerance, so
    * the oracle filters the picked match on the same gap bound — identical
    * result under inner-join semantics.
    */
  val q51AsofTolerance: QuerySpec = QuerySpec.oracled(
    "q51_asof_tolerance",
    """WITH ded AS (
      |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS prev_orderkey
      |  FROM orders GROUP BY o_custkey, o_orderdate)
      |SELECT l.o_orderkey, d.prev_orderkey,
      |  CAST(epoch_us(l.o_orderdate) - epoch_us(d.o_orderdate) AS BIGINT)
      |    AS gap_us
      |FROM orders l ASOF JOIN ded d
      |  ON l.o_custkey = d.o_custkey AND l.o_orderdate > d.o_orderdate
      |WHERE epoch_us(l.o_orderdate) - epoch_us(d.o_orderdate)
      |  <= 604800000000
      |ORDER BY l.o_orderkey""".stripMargin) { (spark, dir) =>
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val ded = orders.groupBy("o_custkey", "o_orderdate")
      .agg(max("o_orderkey").as("prev_orderkey"))
      .withColumnRenamed("o_orderdate", "prev_date")
    AsofJoin.asofBackward(
      left = orders,
      right = ded,
      keyCols = Seq("o_custkey"),
      leftTimeCol = "o_orderdate",
      rightTimeCol = "prev_date",
      rightValueCols = Seq("prev_orderkey", "prev_date"),
      strict = true,
      tolerance = Some(expr("INTERVAL 7 DAYS")))
      .filter(col("asof_prev_orderkey").isNotNull)
      .select(
        col("o_orderkey"),
        col("asof_prev_orderkey").as("prev_orderkey"),
        (unix_micros(col("o_orderdate").cast("timestamp")) -
          unix_micros(col("asof_prev_date").cast("timestamp"))).as("gap_us"))
      .orderBy("o_orderkey")
  }

  /** Gap-based sessionization (30-minute inactivity) via lag + running
    * flags — the batch form of session windows.
    */
  val q29Sessionize: QuerySpec = QuerySpec.oracled(
    "q29_sessionize",
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
      |l AS (
      |  SELECT user_id, tus,
      |    lag(tus) OVER (PARTITION BY user_id
      |                   ORDER BY tus, event_id) AS prev
      |  FROM e),
      |f AS (
      |  SELECT user_id, tus,
      |    CASE WHEN prev IS NULL OR tus - prev >= 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM l)
      |SELECT user_id,
      |  count(*) AS n_events,
      |  CAST(sum(new_sess) AS BIGINT) AS n_sessions,
      |  min(tus) AS first_us,
      |  max(tus) AS last_us
      |FROM f GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (spark, dir) =>
    val e = CoreQueries.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("tus")) // ns → µs (integer division —
        // a double division would lose precision past 2^53)
    val w = Window.partitionBy("user_id")
      .orderBy(col("tus").asc, col("event_id").asc)
    e.withColumn("prev", lag("tus", 1).over(w))
      // >= : the exact-gap boundary starts a new session, matching
      // session_window's end-exclusive semantics (q38) and SessionWindows
      .withColumn("new_sess",
        when(col("prev").isNull ||
          col("tus") - col("prev") >= 1800000000L, 1L).otherwise(0L))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        sum("new_sess").as("n_sessions"),
        min("tus").as("first_us"),
        max("tus").as("last_us"))
      .orderBy("user_id")
  }

  /** Structured Streaming tumbling-window counts (6h windows, 1h watermark)
    * over the events file driven as a stream; the oracle recomputes the same
    * windows in batch — stream results must equal batch results.
    */
  val q30StreamingWindow: QuerySpec = QuerySpec.oracled(
    "q30_streaming_window",
    """SELECT
      |  CAST(epoch_us(ts) - epoch_us(ts) % 21600000000 AS BIGINT)
      |    AS window_start_us,
      |  event_type,
      |  count(*) AS n
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY window_start_us, event_type""".stripMargin) { (spark, dir) =>
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staged = stageQ30(spark, dir)
    val schema = spark.read.parquet(s"$staged/events.parquet").schema
    val stream = spark.readStream
      .schema(schema)
      .parquet(staged)
      .withColumn("ts_ts", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ts_ts", "1 hour")
      .groupBy(window(col("ts_ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"))

    spark.streams.active
      .filter(_.name == "q30_mem").foreach(_.stop())
    drainScoped(spark, staged)(stream.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("q30_mem")
      .trigger(Trigger.AvailableNow())
      .start())

    spark.table("q30_mem")
      .select(
        unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"),
        col("n"))
      .orderBy("window_start_us", "event_type")
  }.withSetup((s, d) => { stageQ30(s, d); () })

  /** Streaming session windows (native `session_window` + watermark,
    * append-final) checked against a batch gap-rule oracle. A far-future
    * sentinel event in a second source file advances the watermark so every
    * real session closes and emits.
    */
  val q38SessionWindow: QuerySpec = QuerySpec.oracled(
    "q38_session_window",
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
      |l AS (
      |  SELECT user_id, event_id, tus,
      |    lag(tus) OVER (PARTITION BY user_id
      |                   ORDER BY tus, event_id) AS prev
      |  FROM e),
      |f AS (
      |  SELECT user_id, event_id, tus,
      |    CASE WHEN prev IS NULL OR tus - prev >= 1800000000
      |         THEN 1 ELSE 0 END AS brk
      |  FROM l),
      |g AS (
      |  SELECT user_id, tus,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY tus, event_id
      |                   ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM f)
      |SELECT user_id,
      |  min(tus) AS session_start_us,
      |  max(tus) + 1800000000 AS session_end_us,
      |  count(*) AS n_events
      |FROM g GROUP BY user_id, sid
      |ORDER BY user_id, session_start_us""".stripMargin) { (spark, dir) =>
    import graft.streaming.SessionWindows
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staged = stageQ38(spark, dir)
    val schema = spark.read.parquet(s"$staged/00.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged)
    val sessions = SessionWindows.sessionWindowStream(stream)

    spark.streams.active.filter(_.name == "q38_mem").foreach(_.stop())
    drainScoped(spark, staged)(sessions.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("q38_mem")
      .trigger(Trigger.AvailableNow())
      .start())

    spark.table("q38_mem")
      .filter(col("user_id") >= 0)
      .orderBy("user_id", "session_start_us")
  }.withSetup((s, d) => { stageQ38(s, d); () })

  /** Structured Streaming SLIDING windows (6h span, 3h slide — each event
    * lands in exactly two windows) over the same staged events stream as
    * q30; the oracle replays both candidate windows per event in batch.
    * Completes the tumbling (q30) / sliding (q50) / session (q38) triple.
    */
  val q50StreamingSliding: QuerySpec = QuerySpec.oracled(
    "q50_streaming_sliding",
    """WITH w AS (
      |  SELECT CAST(epoch_us(ts) - (epoch_us(ts) % 10800000000) AS BIGINT)
      |      AS w0,
      |    epoch_us(ts) AS tus, event_type
      |  FROM events),
      |cand AS (
      |  SELECT w0 AS ws, tus, event_type FROM w
      |  UNION ALL
      |  SELECT w0 - 10800000000 AS ws, tus, event_type FROM w)
      |SELECT ws AS window_start_us, event_type, count(*) AS n
      |FROM cand
      |WHERE tus >= ws AND tus < ws + 21600000000
      |GROUP BY 1, 2
      |ORDER BY window_start_us, event_type""".stripMargin) { (spark, dir) =>
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staged = stageQ30(spark, dir)
    val schema = spark.read.parquet(s"$staged/events.parquet").schema
    val stream = spark.readStream
      .schema(schema)
      .parquet(staged)
      .withColumn("ts_ts", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ts_ts", "1 hour")
      .groupBy(window(col("ts_ts"), "6 hours", "3 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    spark.streams.active.filter(_.name == "q50_mem").foreach(_.stop())
    drainScoped(spark, staged)(stream.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("q50_mem")
      .trigger(Trigger.AvailableNow())
      .start())
    spark.table("q50_mem")
      .select(
        unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"),
        col("n"))
      .orderBy("window_start_us", "event_type")
  }.withSetup((s, d) => { stageQ30(s, d); () })

  /** Streaming exact deduplication: the documents file driven as a stream,
    * `dropDuplicates` on the content hash, append-mode emission — the
    * incremental form of q15's batch exact dedup, checked against the batch
    * DISTINCT oracle (stream ≡ batch). Emits content keys (not a surviving
    * doc_id): first-seen-row identity is partition-order-dependent, the
    * distinct key set is not. All-history `dropDuplicates` state grows
    * unboundedly on a real stream — [[q54StreamingDedupBounded]] is the
    * watermark-bounded variant for that case; AvailableNow over a finite
    * backlog here keeps exact all-history semantics.
    */
  val q43StreamingDedup: QuerySpec = QuerySpec.oracled(
    "q43_streaming_dedup",
    """SELECT DISTINCT md5(text) AS content_key FROM documents
      |ORDER BY content_key""".stripMargin) { (spark, dir) =>
    val staged = stageQ43(spark, dir)
    val schema = spark.read.parquet(s"$staged/documents.parquet").schema
    val distinctKeys = spark.readStream
      .schema(schema)
      .parquet(staged)
      .select(md5(col("text")).as("content_key"))
      .dropDuplicates("content_key")
    spark.streams.active.filter(_.name == "q43_mem").foreach(_.stop())
    drainScoped(spark, staged)(distinctKeys.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("q43_mem")
      .trigger(Trigger.AvailableNow())
      .start())
    spark.table("q43_mem").orderBy("content_key")
  }.withSetup((s, d) => { stageQ43(s, d); () })

  /** Bounded-state streaming dedup: q43's incremental exact dedup with the
    * state bound a real unbounded stream needs —
    * `dropDuplicatesWithinWatermark` evicts a key's state once the
    * watermark passes its event time + delay, so state is O(keys per
    * horizon), not O(all history). Event time here is a deterministic
    * per-doc timestamp and the whole backlog fits one AvailableNow batch
    * inside the horizon, so the emitted key set equals batch DISTINCT (the
    * oracle); the eviction/re-emission behavior past the horizon — which
    * no batch oracle can express — is pinned by BoundedDedupSpec on a
    * two-file staged stream.
    */
  val q54StreamingDedupBounded: QuerySpec = QuerySpec.oracled(
    "q54_streaming_dedup_bounded",
    """SELECT DISTINCT md5(text) AS content_key FROM documents
      |ORDER BY content_key""".stripMargin) { (spark, dir) =>
    val staged = stageQ43(spark, dir)
    val schema = spark.read.parquet(s"$staged/documents.parquet").schema
    val distinctKeys = spark.readStream
      .schema(schema)
      .parquet(staged)
      // +1 day: doc_id 0 would land exactly on the initial watermark (epoch
      // 0) and be dropped as late
      .select(md5(col("text")).as("content_key"),
        timestamp_micros((col("doc_id") + 86400L) * 1000000L).as("event_ts"))
      .withWatermark("event_ts", "1 hour")
      .dropDuplicatesWithinWatermark("content_key")
      .select("content_key")
    spark.streams.active.filter(_.name == "q54_mem").foreach(_.stop())
    drainScoped(spark, staged)(distinctKeys.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("q54_mem")
      .trigger(Trigger.AvailableNow())
      .start())
    spark.table("q54_mem").orderBy("content_key")
  }.withSetup((s, d) => { stageQ43(s, d); () })

  private val q239Staging = new QuerySpec.StagingCache[String]

  /** Stage the documents table through the real Singer sink once per sf
    * dir — the export the connector then streams. */
  private def stageQ239(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    q239Staging.getOrStage(dir) {
      import graft.operators.{Export, ExportOptions}
      val out = QuerySpec.stagedPath("q239_singer_stream", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      Export.toExport(
        spark.read.parquet(s"$dir/documents.parquet"), "documents_rt", out,
        ExportOptions(exportFormat = Some("singer"), keys = Seq("doc_id")),
        conf = graft.conf.GluestickConf(Map.empty))
      out
    }

  /** The Singer DSv2 connector driven as a STREAM
    * ([[graft.sources.SingerSource]] micro-batch path): the staged export
    * directory reads through `spark.readStream.format("graft-singer")`,
    * one micro-batch per file backlog, into a running per-lang aggregate
    * — the tap-to-table ingestion loop as a structured stream, stream ≡
    * batch adjudicated against the parquet original. SingerSourceSpec
    * pins the incremental contract (a restart consumes only new files).
    */
  val q239SingerStream: QuerySpec = QuerySpec.oracled(
    "q239_singer_stream",
    """SELECT lang, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
      |  CAST(sum(n_chars) AS BIGINT) AS chars_sum
      |FROM documents GROUP BY lang
      |ORDER BY lang""".stripMargin) { (spark, dir) =>
    val staged = stageQ239(spark, dir)
    val agg = spark.readStream.format("graft-singer")
      .load(s"$staged/data.singer")
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum("doc_id").as("id_sum"),
        sum("n_chars").as("chars_sum"))
    spark.streams.active.filter(_.name == "q239_mem").foreach(_.stop())
    drainScoped(spark, staged)(agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("q239_mem")
      .trigger(Trigger.AvailableNow())
      .start())
    spark.table("q239_mem").orderBy("lang")
  }.withSetup((s, d) => { stageQ239(s, d); () })

  private val q245Staging = new QuerySpec.StagingCache[String]

  /** Stage the q245 backlog: file a = the full documents export, file b =
    * a correction batch (doc_id < 100 with n_chars + 1000) — keep-last
    * must land on b's values. Lexicographic names give the connector's
    * offset contract the right order. Memoized per sf dir.
    */
  private def stageQ245(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    q245Staging.getOrStage(dir) {
      import graft.operators.{Export, ExportOptions}
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val out = QuerySpec.stagedPath("q245_singer_backlog", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      new java.io.File(out).mkdirs()
      def export(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
        val tmp = QuerySpec.stagedPath(s"q245_tmp_$name", dir)
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
        Export.toExport(df, "documents_rt", tmp,
          ExportOptions(exportFormat = Some("singer"), keys = Seq("doc_id")),
          conf = graft.conf.GluestickConf(Map.empty))
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(s"$tmp/data.singer"),
          java.nio.file.Paths.get(s"$out/$name"))
        ()
      }
      export(docs, "a.singer")
      export(
        docs.filter(col("doc_id") < 100)
          .withColumn("n_chars", col("n_chars") + 1000),
        "b.singer")
      out
    }

  /** The full ingestion loop end-to-end: the Singer DSv2 STREAM (admission
    * control `maxFilesPerTrigger = 1`, so the correction file lands in its
    * own later micro-batch) folds into the keep-last snapshot upsert
    * ([[graft.streaming.StreamingSnapshot]]) — tap to versioned table,
    * exactly the reference's sync loop recomposed from this repo's own
    * parts. The correction batch overwrites doc_id < 100, so the
    * adjudicated per-lang aggregate proves batch ORDER mattered (a
    * single-batch read would be keep-ambiguous; admission control is what
    * makes the fold deterministic).
    */
  val q245SingerSnapshotIngest: QuerySpec = QuerySpec.oracled(
    "q245_singer_snapshot_ingest",
    """SELECT lang, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CASE WHEN doc_id < 100 THEN n_chars + 1000
      |            ELSE n_chars END) AS BIGINT) AS chars_sum,
      |  CAST(sum(doc_id) AS BIGINT) AS id_sum
      |FROM documents GROUP BY lang
      |ORDER BY lang""".stripMargin) { (spark, dir) =>
    import graft.operators.{Snapshot, SnapshotOptions}
    val staged = stageQ245(spark, dir)
    val snapDir = QuerySpec.stagedPath("q245_snap", dir)
    val ckpt = QuerySpec.stagedPath("q245_ckpt", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(snapDir))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val stream = spark.readStream.format("graft-singer")
      .option("maxFilesPerTrigger", "1")
      .load(staged)
    graft.streaming.StreamingSnapshot.start(
      spark, stream, "docs", snapDir,
      SnapshotOptions(pk = Seq("doc_id")), ckpt)
      .awaitTermination()
    Snapshot.readSnapshots(spark, "docs", snapDir).get
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum("n_chars").as("chars_sum"),
        sum("doc_id").as("id_sum"))
      .orderBy("lang")
  }.withSetup((s, d) => { stageQ245(s, d); () })

  /** q245's full ingestion loop re-run onto the BUCKETED snapshot
    * layout: the admission-controlled Singer stream folds through
    * `StreamingSnapshot` with `SnapshotOptions(bucketBy = 8)`, so every
    * micro-batch merge is the delta-only anti-join fold
    * ([[graft.operators.BucketedSnapshot]]) instead of the full union
    * shuffle — the composition a 100 TB tap-to-table pipeline actually
    * runs (stream in, bucketed keep-last state, zero snapshot-side
    * exchanges per fold). Same oracle as q245: layout must not change
    * semantics, and the correction batch must still win.
    */
  val q260SingerIngestBucketed: QuerySpec = QuerySpec.oracled(
    "q260_singer_ingest_bucketed",
    """SELECT lang, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CASE WHEN doc_id < 100 THEN n_chars + 1000
      |            ELSE n_chars END) AS BIGINT) AS chars_sum,
      |  CAST(sum(doc_id) AS BIGINT) AS id_sum
      |FROM documents GROUP BY lang
      |ORDER BY lang""".stripMargin) { (spark, dir) =>
    import graft.operators.{BucketedSnapshot, SnapshotOptions}
    val staged = stageQ245(spark, dir)
    val snapDir = QuerySpec.stagedPath("q260_snap", dir)
    val ckpt = QuerySpec.stagedPath("q260_ckpt", dir)
    BucketedSnapshot.reset(spark, "docs", snapDir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(snapDir))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val stream = spark.readStream.format("graft-singer")
      .option("maxFilesPerTrigger", "1")
      .load(staged)
    graft.streaming.StreamingSnapshot.start(
      spark, stream, "docs", snapDir,
      SnapshotOptions(pk = Seq("doc_id"), bucketBy = Some(8)), ckpt)
      .awaitTermination()
    BucketedSnapshot.read(spark, "docs", snapDir, Seq("doc_id"), 8).get
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum("n_chars").as("chars_sum"),
        sum("doc_id").as("id_sum"))
      .orderBy("lang")
  }.withSetup((s, d) => { stageQ245(s, d); () })

  /** The connector's streaming WRITE path end-to-end: the q245 backlog
    * streams in through the Singer source (admission control 1 file per
    * trigger → two epochs) and straight OUT through
    * `writeStream.format("graft-singer")` — no `foreachBatch` wrapper —
    * then batch-reads back for the adjudicated aggregate. Proves the
    * epoch-commit discipline (zero-padded epoch prefixes, per-epoch tmp
    * dirs, idempotent rename-over) produces a directory that is itself a
    * valid Singer source: sink and source compose. No keep-last here —
    * both the full export and the correction batch land, so the oracle is
    * documents UNION ALL its corrected doc_id < 100 slice
    * (ref: src/singer.ts:341-342,387-391 — append-interleave semantics).
    */
  val q247SingerStreamWrite: QuerySpec = QuerySpec.oracled(
    "q247_singer_stream_write",
    """WITH u AS (
      |  SELECT doc_id, lang, n_chars FROM documents
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars + 1000 FROM documents
      |  WHERE doc_id < 100)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(n_chars) AS BIGINT) AS chars_sum,
      |  CAST(sum(doc_id) AS BIGINT) AS id_sum
      |FROM u GROUP BY lang
      |ORDER BY lang""".stripMargin) { (spark, dir) =>
    val staged = stageQ245(spark, dir)
    val outDir = QuerySpec.stagedPath("q247_out", dir)
    val ckpt = QuerySpec.stagedPath("q247_ckpt", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(outDir))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val stream = spark.readStream.format("graft-singer")
      .option("maxFilesPerTrigger", "1")
      .load(staged)
    stream.writeStream
      .format("graft-singer")
      .option("path", outDir)
      .option("stream", "documents_rt")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    spark.read.format("graft-singer").load(outDir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum("n_chars").as("chars_sum"),
        sum("doc_id").as("id_sum"))
      .orderBy("lang")
  }.withSetup((s, d) => { stageQ245(s, d); () })

  private val q251Staging = new QuerySpec.StagingCache[String]

  /** Stage q251's multi-stream Singer file: a customer export (stream
    * `cust`) and a documents export (stream `docs`) APPENDED into one
    * file — the reference's append mode interleaving two streams
    * (ref: src/singer.ts:387-391). Memoized per sf dir.
    */
  private def stageQ251(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    q251Staging.getOrStage(dir) {
      import graft.operators.{Export, ExportOptions}
      val out = QuerySpec.stagedPath("q251_multistream", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      new java.io.File(out).mkdirs()
      def export(df: org.apache.spark.sql.DataFrame, stream: String,
          keys: Seq[String]): String = {
        val tmp = QuerySpec.stagedPath(s"q251_tmp_$stream", dir)
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
        Export.toExport(df, stream, tmp,
          ExportOptions(exportFormat = Some("singer"), keys = keys),
          conf = graft.conf.GluestickConf(Map.empty))
        java.nio.file.Files.readString(
          java.nio.file.Paths.get(s"$tmp/data.singer"))
      }
      val cust = export(
        spark.read.parquet(s"$dir/customer.parquet")
          .filter(col("c_custkey") % 3 === 0)
          .select(col("c_custkey"), col("c_nationkey")),
        "cust", Seq("c_custkey"))
      val docs = export(
        spark.read.parquet(s"$dir/documents.parquet")
          .filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("n_chars")),
        "docs", Seq("doc_id"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$out/data.singer"), cust + docs)
      out
    }

  /** Multi-stream Singer file read through the connector's `stream`
    * option: one physical file interleaves two streams with DIFFERENT
    * schemas (the reference's append-mode output); each read selects its
    * stream's SCHEMA for inference and skips other streams' RECORDs at
    * the JSON-node stage — without the option, stream B's rows would
    * silently coerce through stream A's schema. Adjudicated as both
    * streams' aggregates against the parquet originals.
    */
  val q251SingerMultiStream: QuerySpec = QuerySpec.oracled(
    "q251_singer_multi_stream",
    """SELECT 'cust' AS src, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(c_custkey) AS BIGINT) AS id_sum
      |FROM customer WHERE c_custkey % 3 = 0
      |UNION ALL
      |SELECT 'docs', CAST(count(*) AS BIGINT),
      |  CAST(sum(doc_id) AS BIGINT)
      |FROM documents WHERE doc_id % 2 = 0
      |ORDER BY src""".stripMargin) { (spark, dir) =>
    val staged = stageQ251(spark, dir)
    def agg(stream: String, idCol: String) =
      spark.read.format("graft-singer")
        .option("stream", stream)
        .load(s"$staged/data.singer")
        .agg(count(lit(1)).as("n"), sum(col(idCol)).as("id_sum"))
        .select(lit(stream).as("src"), col("n"), col("id_sum"))
    agg("cust", "c_custkey").unionByName(agg("docs", "doc_id"))
      .orderBy("src")
  }.withSetup((s, d) => { stageQ251(s, d); () })

  private val q252Staging = new QuerySpec.StagingCache[String]

  /** Stage q252's bookmarked backlog: the q245-shaped two-file export
    * (full docs, then a correction batch) with a data-derived bookmark
    * STATE appended to each file — `max_id` = the max doc_id that file
    * carried, the Singer tap convention for incremental-sync cursors.
    */
  private def stageQ252(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    q252Staging.getOrStage(dir) {
      import graft.operators.{Export, ExportOptions}
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val out = QuerySpec.stagedPath("q252_state_backlog", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      new java.io.File(out).mkdirs()
      def export(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
        val tmp = QuerySpec.stagedPath(s"q252_tmp_$name", dir)
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
        Export.toExport(df, "documents_rt", tmp,
          ExportOptions(exportFormat = Some("singer"), keys = Seq("doc_id")),
          conf = graft.conf.GluestickConf(Map.empty))
        val maxId = df.agg(max(col("doc_id"))).head.getLong(0)
        val body = java.nio.file.Files.readString(
          java.nio.file.Paths.get(s"$tmp/data.singer"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$out/$name"),
          body + s"""{"type":"STATE","value":{"bookmarks":""" +
            s"""{"documents_rt":{"max_id":$maxId}}}}""" + "\n")
        ()
      }
      export(docs, "a.singer")
      export(docs.filter(col("doc_id") < 100), "b.singer")
      out
    }

  /** The tap-bookmark recovery surface (`option("messages","state")`):
    * STATE payloads of a two-file export read as a first-class table —
    * the sink's global `{}` states plus the stager's data-derived cursor
    * states — and the resume cursor recovered with plain
    * `get_json_object` + max. This is how a 100 TB incremental sync
    * decides where to resume: from the data's own STATE lines, not an
    * external ledger. Adjudicated against the cursor recomputed from the
    * parquet original.
    */
  val q252SingerStateBookmarks: QuerySpec = QuerySpec.oracled(
    "q252_singer_state_bookmarks",
    """SELECT CAST(4 AS BIGINT) AS n_states,
      |  CAST(2 AS BIGINT) AS n_bookmarked,
      |  CAST(max(doc_id) AS BIGINT) AS resume_cursor
      |FROM documents""".stripMargin) { (spark, dir) =>
    val staged = stageQ252(spark, dir)
    val states = spark.read.format("graft-singer")
      .option("messages", "state").load(staged)
    val cursor = get_json_object(col("value"),
      "$.bookmarks.documents_rt.max_id").cast("long")
    states.agg(
      count(lit(1)).as("n_states"),
      count(cursor).as("n_bookmarked"),
      max(cursor).as("resume_cursor"))
  }.withSetup((s, d) => { stageQ252(s, d); () })

  private val q261Staging = new QuerySpec.StagingCache[String]

  /** Stage q261's schema-evolved export pair: export 1 carries
    * (doc_id, lang) for even doc_ids; export 2 — the tap after it gained
    * a column — carries (doc_id, lang, n_chars) for odd doc_ids. Each
    * export re-infers its own SCHEMA (ref: src/singer.ts:34-166), so one
    * directory legitimately holds two disagreeing SCHEMA messages.
    */
  private def stageQ261(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    q261Staging.getOrStage(dir) {
      import graft.operators.{Export, ExportOptions}
      val out = QuerySpec.stagedPath("q261_evolved", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      new java.io.File(out).mkdirs()
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      def export(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
        val tmp = QuerySpec.stagedPath(s"q261_tmp_$name", dir)
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
        Export.toExport(df, "docs", tmp,
          ExportOptions(exportFormat = Some("singer"), keys = Seq("doc_id")),
          conf = graft.conf.GluestickConf(Map.empty))
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(s"$tmp/data.singer"),
          java.nio.file.Paths.get(s"$out/$name"))
        ()
      }
      export(docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang")), "a.singer")
      export(docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("n_chars")), "b.singer")
      out
    }

  /** Singer cross-file SCHEMA evolution (`option("mergeSchemas","true")`):
    * a directory holding two exports whose SCHEMAs disagree — the second
    * gained a column — reads back with unionByName-style widening and
    * NULL backfill, the connector twin of q119's parquet mergeSchema.
    * Without the option this read FAILS FAST at the divergent file
    * (SingerSourceSpec pins that) instead of silently truncating its
    * records to the first file's fields. Adjudicated per language
    * against the parquet original, with the widened column summed only
    * where a file actually carried it.
    */
  val q261SingerSchemaEvolution: QuerySpec = QuerySpec.oracled(
    "q261_singer_schema_evolution",
    """SELECT lang, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
      |  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT)
      |    AS chars_sum
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) {
    (spark, dir) =>
    val staged = stageQ261(spark, dir)
    spark.read.format("graft-singer")
      .option("mergeSchemas", "true").load(staged)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum("doc_id").as("id_sum"),
        sum("n_chars").as("chars_sum"))
      .orderBy("lang")
  }.withSetup((s, d) => { stageQ261(s, d); () })

  /** Deterministic priority sampling + Horvitz–Thompson subset sums
    * ([[graft.ext.PrioritySampling]]): ONE fixed-size (k=1000)
    * weight-aware sample of the event value stream answers per-type
    * subtotal queries — the sketch a 100 TB metering pipeline keeps
    * instead of re-scanning per question. md5 pseudo-uniforms and
    * fixed-point integer priorities make sample membership, the
    * threshold τ, and every estimate bit-identical across engines; the
    * oracle replays the whole estimator next to the exact per-type sums
    * it approximates. The heavy step is a distributed TakeOrdered — no
    * global sort, no full-table window.
    */
  val q255PrioritySample: QuerySpec = QuerySpec.oracled(
    "q255_priority_sample",
    """WITH w AS (
      |  SELECT event_id, event_type,
      |    CAST(round(value * 100) AS BIGINT) AS w
      |  FROM events
      |  WHERE value IS NOT NULL AND round(value * 100) > 0),
      |h AS (
      |  SELECT *, ('0x' || substr(md5('prio:' || event_id::VARCHAR),
      |      1, 15))::BIGINT % 1073741824 + 1 AS hu
      |  FROM w),
      |p AS (SELECT *, (w * 1099511627776) // hu AS prio FROM h),
      |r AS (
      |  SELECT *, row_number() OVER (ORDER BY prio DESC, event_id) AS rk
      |  FROM p),
      |tau AS (
      |  SELECT coalesce(max(CASE WHEN rk = 1001 THEN prio END), 0) AS tau
      |  FROM r),
      |est AS (
      |  SELECT event_type, count(*) AS n_sampled,
      |    CAST(sum(CASE
      |        WHEN w::HUGEINT * 1099511627776 > tau.tau::HUGEINT * 1073741824
      |        THEN w::HUGEINT * 1099511627776
      |        ELSE tau.tau::HUGEINT * 1073741824 END)
      |         // 1099511627776 AS BIGINT) AS est_cents
      |  FROM r CROSS JOIN tau WHERE rk <= 1000
      |  GROUP BY event_type, tau.tau),
      |ex AS (
      |  SELECT event_type, CAST(sum(w) AS BIGINT) AS exact_cents
      |  FROM w GROUP BY event_type)
      |SELECT ex.event_type,
      |  CAST(coalesce(est.n_sampled, 0) AS BIGINT) AS n_sampled,
      |  CAST(coalesce(est.est_cents, 0) AS BIGINT) AS est_cents,
      |  ex.exact_cents
      |FROM ex LEFT JOIN est ON ex.event_type = est.event_type
      |ORDER BY ex.event_type""".stripMargin) { (spark, dir) =>
    import graft.ext.PrioritySampling
    import graft.queries.{CoreQueries => CQ}
    val w = CQ.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("w"))
      .filter(col("w") > 0)
    val sample = PrioritySampling.prioritySample(w, "event_id", "w", 1000)
    val est = PrioritySampling.subsetEstimates(sample, "event_type", "w")
    val exact = w.groupBy("event_type")
      .agg(sum("w").cast("long").as("exact_cents"))
    exact.join(est, Seq("event_type"), "left")
      .select(col("event_type"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        coalesce(col("est_total"), lit(0L)).as("est_cents"),
        col("exact_cents"))
      .orderBy("event_type")
  }

  /** q255's estimator on the WIDE DECIMAL(38) priority path
    * ([[graft.ext.PrioritySampling.prioritySampleWide]]): the same event
    * weights scaled ×2⁴⁰ (byte/token-count magnitudes — 2¹⁷× past the
    * BIGINT fixed point's 2²³ cap, where the narrow path fails fast by
    * design). The wide fixed point sets S = M, so priorities ARE
    * τ-comparable weight values and the estimator is a plain
    * `greatest(w, τ)` sum in DECIMAL(38,0); estimates de-scale to cents
    * for adjudication. The oracle replays the wide arithmetic in
    * HUGEINT — floor-division priorities, τ, and every estimate are
    * value-exact, proving heavy-item corpora sample without rescaling.
    */
  val q266PrioritySampleWide: QuerySpec = QuerySpec.oracled(
    "q266_priority_sample_wide",
    """WITH w AS (
      |  SELECT event_id, event_type,
      |    CAST(round(value * 100) AS BIGINT)::HUGEINT * 1099511627776
      |      AS w
      |  FROM events
      |  WHERE value IS NOT NULL AND round(value * 100) > 0),
      |h AS (
      |  SELECT *, ('0x' || substr(md5('prio:' || event_id::VARCHAR),
      |      1, 15))::BIGINT % 1073741824 + 1 AS hu
      |  FROM w),
      |p AS (SELECT *, (w * 1073741824) // hu AS prio FROM h),
      |r AS (
      |  SELECT *, row_number() OVER (ORDER BY prio DESC, event_id) AS rk
      |  FROM p),
      |tau AS (
      |  SELECT coalesce(max(CASE WHEN rk = 1001 THEN prio END),
      |    0::HUGEINT) AS tau
      |  FROM r),
      |est AS (
      |  SELECT event_type, count(*) AS n_sampled,
      |    CAST(sum(CASE WHEN w > tau.tau THEN w ELSE tau.tau END)
      |      // 1099511627776 AS BIGINT) AS est_cents
      |  FROM r CROSS JOIN tau WHERE rk <= 1000
      |  GROUP BY event_type, tau.tau),
      |ex AS (
      |  SELECT event_type,
      |    CAST(sum(w) // 1099511627776 AS BIGINT) AS exact_cents
      |  FROM w GROUP BY event_type)
      |SELECT ex.event_type,
      |  CAST(coalesce(est.n_sampled, 0) AS BIGINT) AS n_sampled,
      |  CAST(coalesce(est.est_cents, 0) AS BIGINT) AS est_cents,
      |  ex.exact_cents
      |FROM ex LEFT JOIN est ON ex.event_type = est.event_type
      |ORDER BY ex.event_type""".stripMargin) { (spark, dir) =>
    import graft.ext.PrioritySampling
    import graft.queries.{CoreQueries => CQ}
    val w = CQ.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_id"), col("event_type"),
        // the ×2⁴⁰ scale-up must itself run in DECIMAL: a BIGINT multiply
        // would wrap for cents ≥ 2²³ and filter(w > 0) would then silently
        // drop the HEAVIEST items — the exact overflow mode this wide-path
        // query exists to rule out
        expr("CAST(CAST(round(value * 100) AS DECIMAL(38,0)) * " +
          "1099511627776 AS DECIMAL(38,0))").as("w"))
      .filter(col("w") > 0)
    val sample = PrioritySampling.prioritySampleWide(w, "event_id", "w", 1000)
    val est = PrioritySampling.subsetEstimatesWide(sample, "event_type", "w")
      .select(col("event_type"), col("n_sampled"),
        expr("CAST(est_total div 1099511627776L AS BIGINT)").as("est_cents"))
    val exact = w.groupBy("event_type")
      .agg(expr("CAST(sum(CAST(w AS DECIMAL(38,0))) div 1099511627776L " +
        "AS BIGINT)").as("exact_cents"))
    exact.join(est, Seq("event_type"), "left")
      .select(col("event_type"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        coalesce(col("est_cents"), lit(0L)).as("est_cents"),
        col("exact_cents"))
      .orderBy("event_type")
  }

  private val q256Staging = new QuerySpec.StagingCache[String]

  /** Stage the event stream as TWO parquet files (event_id parity split)
    * so the maintenance loop sees two micro-batches. Memoized per sf dir.
    */
  private def stageQ256(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    q256Staging.getOrStage(dir) {
      val staged = new java.io.File(QuerySpec.stagedPath("q256_events", dir))
      org.apache.commons.io.FileUtils.deleteQuietly(staged)
      staged.mkdirs()
      val ev = CoreQueries.events(spark, dir)
        .filter(col("value").isNotNull)
        .select(col("event_id"), col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("w"))
        .filter(col("w") > 0)
      ev.filter(col("event_id") % 2 === 0).coalesce(1)
        .write.parquet(s"$staged/00")
      flattenPart(spark, staged.toString, "00", "a.parquet")
      ev.filter(col("event_id") % 2 === 1).coalesce(1)
        .write.parquet(s"$staged/01")
      flattenPart(spark, staged.toString, "01", "b.parquet")
      staged.toString
    }

  /** q255's sketch MAINTAINED over a stream: each micro-batch folds into
    * a persisted top-(k+1) priority state (`mergeTopK(state ∪ batch)` —
    * a sample of deterministic per-item priorities is a pure top-k, so
    * truncated intermediate states lose nothing and the maintained
    * sketch equals the one-shot batch sample EXACTLY, not approximately).
    * The oracle is therefore the same full-estimator replay as q255 at
    * this k — stream ≡ batch down to the last estimate cent. This is how
    * a 100 TB ingest keeps a live metering sample: k+1 rows of state per
    * fold, never a rescan.
    */
  val q256PrioritySampleStream: QuerySpec = QuerySpec.oracled(
    "q256_priority_sample_stream",
    """WITH w AS (
      |  SELECT event_id, event_type,
      |    CAST(round(value * 100) AS BIGINT) AS w
      |  FROM events
      |  WHERE value IS NOT NULL AND round(value * 100) > 0),
      |h AS (
      |  SELECT *, ('0x' || substr(md5('prio:' || event_id::VARCHAR),
      |      1, 15))::BIGINT % 1073741824 + 1 AS hu
      |  FROM w),
      |p AS (SELECT *, (w * 1099511627776) // hu AS prio FROM h),
      |r AS (
      |  SELECT *, row_number() OVER (ORDER BY prio DESC, event_id) AS rk
      |  FROM p),
      |tau AS (
      |  SELECT coalesce(max(CASE WHEN rk = 501 THEN prio END), 0) AS tau
      |  FROM r),
      |est AS (
      |  SELECT event_type, count(*) AS n_sampled,
      |    CAST(sum(CASE
      |        WHEN w::HUGEINT * 1099511627776 > tau.tau::HUGEINT * 1073741824
      |        THEN w::HUGEINT * 1099511627776
      |        ELSE tau.tau::HUGEINT * 1073741824 END)
      |         // 1099511627776 AS BIGINT) AS est_cents
      |  FROM r CROSS JOIN tau WHERE rk <= 500
      |  GROUP BY event_type, tau.tau),
      |ex AS (
      |  SELECT event_type, CAST(sum(w) AS BIGINT) AS exact_cents
      |  FROM w GROUP BY event_type)
      |SELECT ex.event_type,
      |  CAST(coalesce(est.n_sampled, 0) AS BIGINT) AS n_sampled,
      |  CAST(coalesce(est.est_cents, 0) AS BIGINT) AS est_cents,
      |  ex.exact_cents
      |FROM ex LEFT JOIN est ON ex.event_type = est.event_type
      |ORDER BY ex.event_type""".stripMargin) { (spark, dir) =>
    import graft.ext.PrioritySampling
    val k = 500
    val staged = stageQ256(spark, dir)
    val stateDir = QuerySpec.stagedPath("q256_state", dir)
    val ckpt = QuerySpec.stagedPath("q256_ckpt", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stateDir))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val schema = spark.read.parquet(s"$staged/a.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged)
    spark.streams.active.filter(_.name == "q256_fold").foreach(_.stop())
    val q = stream.writeStream
      .queryName("q256_fold")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val ann = PrioritySampling.annotate(batch, "event_id", "w")
        val state = new java.io.File(stateDir)
        val unioned =
          if (state.exists())
            ann.unionByName(batch.sparkSession.read.parquet(stateDir))
          else ann
        val next = PrioritySampling.mergeTopK(unioned, "event_id", k)
        // temp-write + swap: never overwrite the state a later fold reads
        val tmp = s"${stateDir}__next"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
        next.coalesce(1).write.parquet(tmp)
        org.apache.commons.io.FileUtils.deleteQuietly(state)
        if (!new java.io.File(tmp).renameTo(state))
          throw new IllegalStateException(s"state swap failed: $tmp")
        ()
      }
      .start()
    q.awaitTermination()
    val sample = PrioritySampling.finalizeSample(
      spark.read.parquet(stateDir), "event_id", k)
    val est = PrioritySampling.subsetEstimates(sample, "event_type", "w")
    val exact = spark.read.parquet(s"$staged/a.parquet")
      .unionByName(spark.read.parquet(s"$staged/b.parquet"))
      .groupBy("event_type")
      .agg(sum("w").cast("long").as("exact_cents"))
    exact.join(est, Seq("event_type"), "left")
      .select(col("event_type"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        coalesce(col("est_total"), lit(0L)).as("est_cents"),
        col("exact_cents"))
      .orderBy("event_type")
  }.withSetup((s, d) => { stageQ256(s, d); () })

  private val q267Staging = new QuerySpec.StagingCache[String]

  /** Stage the event stream with WIDE (×2⁴⁰ DECIMAL) weights as two
    * parquet files — q256's two-micro-batch shape on q266's weight
    * regime. Memoized per sf dir.
    */
  private def stageQ267(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    q267Staging.getOrStage(dir) {
      val staged = new java.io.File(QuerySpec.stagedPath("q267_events", dir))
      org.apache.commons.io.FileUtils.deleteQuietly(staged)
      staged.mkdirs()
      val ev = CoreQueries.events(spark, dir)
        .filter(col("value").isNotNull)
        .select(col("event_id"), col("event_type"),
          expr("CAST(CAST(round(value * 100) AS DECIMAL(38,0)) * " +
            "1099511627776 AS DECIMAL(38,0))").as("w"))
        .filter(col("w") > 0)
      ev.filter(col("event_id") % 2 === 0).coalesce(1)
        .write.parquet(s"$staged/00")
      flattenPart(spark, staged.toString, "00", "a.parquet")
      ev.filter(col("event_id") % 2 === 1).coalesce(1)
        .write.parquet(s"$staged/01")
      flattenPart(spark, staged.toString, "01", "b.parquet")
      staged.toString
    }

  /** q266's WIDE sample maintained over the q256 micro-batch loop:
    * per-batch `mergeTopK(state ∪ annotateWide(batch))` with temp-write +
    * swap state. DECIMAL(38) priorities are just as deterministic as the
    * BIGINT ones, so the maintained wide sketch — and every estimate off
    * it — equals the one-shot q266 sample EXACTLY at this k, under
    * weights 2¹⁷ past the narrow fixed point's cap. Stream ≡ batch on
    * the heavy-item regime; the oracle is q266's full HUGEINT replay at
    * k = 500.
    */
  val q267PrioritySampleWideStream: QuerySpec = QuerySpec.oracled(
    "q267_priority_sample_wide_stream",
    """WITH w AS (
      |  SELECT event_id, event_type,
      |    CAST(round(value * 100) AS BIGINT)::HUGEINT * 1099511627776
      |      AS w
      |  FROM events
      |  WHERE value IS NOT NULL AND round(value * 100) > 0),
      |h AS (
      |  SELECT *, ('0x' || substr(md5('prio:' || event_id::VARCHAR),
      |      1, 15))::BIGINT % 1073741824 + 1 AS hu
      |  FROM w),
      |p AS (SELECT *, (w * 1073741824) // hu AS prio FROM h),
      |r AS (
      |  SELECT *, row_number() OVER (ORDER BY prio DESC, event_id) AS rk
      |  FROM p),
      |tau AS (
      |  SELECT coalesce(max(CASE WHEN rk = 501 THEN prio END),
      |    0::HUGEINT) AS tau
      |  FROM r),
      |est AS (
      |  SELECT event_type, count(*) AS n_sampled,
      |    CAST(sum(CASE WHEN w > tau.tau THEN w ELSE tau.tau END)
      |      // 1099511627776 AS BIGINT) AS est_cents
      |  FROM r CROSS JOIN tau WHERE rk <= 500
      |  GROUP BY event_type, tau.tau),
      |ex AS (
      |  SELECT event_type,
      |    CAST(sum(w) // 1099511627776 AS BIGINT) AS exact_cents
      |  FROM w GROUP BY event_type)
      |SELECT ex.event_type,
      |  CAST(coalesce(est.n_sampled, 0) AS BIGINT) AS n_sampled,
      |  CAST(coalesce(est.est_cents, 0) AS BIGINT) AS est_cents,
      |  ex.exact_cents
      |FROM ex LEFT JOIN est ON ex.event_type = est.event_type
      |ORDER BY ex.event_type""".stripMargin) { (spark, dir) =>
    import graft.ext.PrioritySampling
    val k = 500
    val staged = stageQ267(spark, dir)
    val stateDir = QuerySpec.stagedPath("q267_state", dir)
    val ckpt = QuerySpec.stagedPath("q267_ckpt", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stateDir))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val schema = spark.read.parquet(s"$staged/a.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged)
    spark.streams.active.filter(_.name == "q267_fold").foreach(_.stop())
    val q = stream.writeStream
      .queryName("q267_fold")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val ann = PrioritySampling.annotateWide(batch, "event_id", "w")
        val state = new java.io.File(stateDir)
        val unioned =
          if (state.exists())
            ann.unionByName(batch.sparkSession.read.parquet(stateDir))
          else ann
        val next = PrioritySampling.mergeTopK(unioned, "event_id", k)
        val tmp = s"${stateDir}__next"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
        next.coalesce(1).write.parquet(tmp)
        org.apache.commons.io.FileUtils.deleteQuietly(state)
        if (!new java.io.File(tmp).renameTo(state))
          throw new IllegalStateException(s"state swap failed: $tmp")
        ()
      }
      .start()
    q.awaitTermination()
    val sample = PrioritySampling.finalizeSample(
      spark.read.parquet(stateDir), "event_id", k)
    val est = PrioritySampling.subsetEstimatesWide(sample, "event_type", "w")
      .select(col("event_type"), col("n_sampled"),
        expr("CAST(est_total div 1099511627776L AS BIGINT)").as("est_cents"))
    val exact = spark.read.parquet(s"$staged/a.parquet")
      .unionByName(spark.read.parquet(s"$staged/b.parquet"))
      .groupBy("event_type")
      .agg(expr("CAST(sum(CAST(w AS DECIMAL(38,0))) div 1099511627776L " +
        "AS BIGINT)").as("exact_cents"))
    exact.join(est, Seq("event_type"), "left")
      .select(col("event_type"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        coalesce(col("est_cents"), lit(0L)).as("est_cents"),
        col("exact_cents"))
      .orderBy("event_type")
  }.withSetup((s, d) => { stageQ267(s, d); () })

  /** Deterministic mergeable quantile sketch
    * ([[graft.ext.QuantileSketch]] — bottom-k-by-hash uniform row
    * sample): per event type, value quantiles (p10/p50/p90/p99 in
    * cents) estimated from a 256-row deterministic sample, reported
    * BESIDE the exact order statistics (the q56 sketch-beside-exact
    * discipline). Complementary to q158's fixed-bin histograms: rank
    * error O(1/√k) independent of the value universe, and the sketch
    * merges EXACTLY (bottom-k of a union = bottom-k of bottom-ks), so
    * q278 maintains it over a stream bit-for-bit. The oracle replays
    * the hash, the per-group bottom-256, and both rank picks.
    */
  val q277QuantileSketch: QuerySpec = QuerySpec.oracled(
    "q277_quantile_sketch",
    """WITH w AS (
      |  SELECT event_id, event_type,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE value IS NOT NULL),
      |h AS (
      |  SELECT *, ('0x' || substr(md5('qsk:' || event_id::VARCHAR),
      |      1, 15))::BIGINT AS rh
      |  FROM w),
      |sk AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY event_type
      |      ORDER BY rh, event_id) AS rk
      |    FROM h) WHERE rk <= 256),
      |pp(pct) AS (VALUES (10), (50), (90), (99)),
      |se AS (
      |  SELECT event_type, cents, event_id,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY cents, event_id) AS vr,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM sk),
      |est AS (
      |  SELECT s.event_type, p.pct, s.n AS sample_n, s.cents AS est_cents
      |  FROM se s JOIN pp p ON s.vr = (p.pct * s.n + 99) // 100),
      |fe AS (
      |  SELECT event_type, cents, event_id,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY cents, event_id) AS vr,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM h),
      |ex AS (
      |  SELECT f.event_type, p.pct, f.n AS group_n, f.cents AS exact_cents
      |  FROM fe f JOIN pp p ON f.vr = (p.pct * f.n + 99) // 100)
      |SELECT est.event_type, CAST(est.pct AS BIGINT) AS pct,
      |  CAST(ex.group_n AS BIGINT) AS group_n,
      |  CAST(est.sample_n AS BIGINT) AS sample_n,
      |  est.est_cents, ex.exact_cents
      |FROM est JOIN ex
      |  ON est.event_type = ex.event_type AND est.pct = ex.pct
      |ORDER BY est.event_type, est.pct""".stripMargin) { (spark, dir) =>
    import graft.ext.QuantileSketch
    val pcts = Seq(10, 50, 90, 99)
    val ev = CoreQueries.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val ann = QuantileSketch.annotate(ev, "event_id")
    val sk = QuantileSketch.sketch(ann, Seq("event_type"), "event_id", 256)
    val est = QuantileSketch.estimates(
        sk, Seq("event_type"), "event_id", "cents", pcts)
      .withColumnRenamed("q_value", "est_cents")
    val exact = QuantileSketch.estimates(
        ann, Seq("event_type"), "event_id", "cents", pcts)
      .select(col("event_type"), col("pct"),
        col("sample_n").as("group_n"), col("q_value").as("exact_cents"))
    est.join(exact, Seq("event_type", "pct"))
      .select(col("event_type"), col("pct"), col("group_n"),
        col("sample_n"), col("est_cents"), col("exact_cents"))
      .orderBy("event_type", "pct")
  }

  /** q277's sketch MAINTAINED over a micro-batch stream (the q256 fold
    * loop: state ∪ sketched batch → re-top-k, temp-write + swap).
    * Bottom-k by a deterministic hash is a pure top-k, so the maintained
    * sketch equals the one-shot build EXACTLY and the oracle is q277's
    * replay restricted to the staged (w > 0) stream — stream ≡ batch
    * down to the last estimate cent. This is how a 100 TB ingest keeps
    * live per-group quantiles: k rows of state per group per fold,
    * never a rescan.
    */
  val q278QuantileSketchStream: QuerySpec = QuerySpec.oracled(
    "q278_quantile_sketch_stream",
    """WITH w AS (
      |  SELECT event_id, event_type,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events
      |  WHERE value IS NOT NULL AND round(value * 100) > 0),
      |h AS (
      |  SELECT *, ('0x' || substr(md5('qsk:' || event_id::VARCHAR),
      |      1, 15))::BIGINT AS rh
      |  FROM w),
      |sk AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY event_type
      |      ORDER BY rh, event_id) AS rk
      |    FROM h) WHERE rk <= 128),
      |pp(pct) AS (VALUES (25), (50), (75)),
      |se AS (
      |  SELECT event_type, cents, event_id,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY cents, event_id) AS vr,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM sk)
      |SELECT s.event_type, CAST(p.pct AS BIGINT) AS pct,
      |  CAST(s.n AS BIGINT) AS sample_n, s.cents AS est_cents
      |FROM se s JOIN pp p ON s.vr = (p.pct * s.n + 99) // 100
      |ORDER BY s.event_type, pct""".stripMargin) { (spark, dir) =>
    import graft.ext.QuantileSketch
    val k = 128
    val staged = stageQ256(spark, dir)
    val stateDir = QuerySpec.stagedPath("q278_state", dir)
    val ckpt = QuerySpec.stagedPath("q278_ckpt", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stateDir))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val schema = spark.read.parquet(s"$staged/a.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged)
    spark.streams.active.filter(_.name == "q278_fold").foreach(_.stop())
    val q = stream.writeStream
      .queryName("q278_fold")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val ann = QuantileSketch.annotate(
          batch.withColumnRenamed("w", "cents"), "event_id")
        val state = new java.io.File(stateDir)
        val unioned =
          if (state.exists())
            ann.unionByName(batch.sparkSession.read.parquet(stateDir))
          else ann
        val next = QuantileSketch.sketch(
          unioned, Seq("event_type"), "event_id", k)
        val tmp = s"${stateDir}__next"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
        next.coalesce(1).write.parquet(tmp)
        org.apache.commons.io.FileUtils.deleteQuietly(state)
        if (!new java.io.File(tmp).renameTo(state))
          throw new IllegalStateException(s"state swap failed: $tmp")
        ()
      }
      .start()
    q.awaitTermination()
    QuantileSketch.estimates(
        spark.read.parquet(stateDir), Seq("event_type"), "event_id",
        "cents", Seq(25, 50, 75))
      .select(col("event_type"), col("pct"), col("sample_n"),
        col("q_value").as("est_cents"))
      .orderBy("event_type", "pct")
  }.withSetup((s, d) => { stageQ256(s, d); () })

  /** Streaming quality gate: the q233 linear classifier applied to a
    * DOCUMENT stream — stateless per-row scoring (the filter stays a
    * narrow projection even as a stream) feeding one running per-lang
    * aggregate (keep/drop counts + margin sum), complete-mode. The gate a
    * continuously-ingesting corpus runs at the door; adjudicated stream ≡
    * batch against the identical aggregate computed from the full table.
    */
  val q237StreamQualityGate: QuerySpec = QuerySpec.oracled(
    "q237_stream_quality_gate",
    s"""WITH f AS (
       |  ${graft.ext.TextStats.classifierFeatureSql("lang")}),
       |bp AS (
       |  ${graft.ext.TextStats.classifierBpSql}),
       |m AS (
       |  SELECT lang,
       |    ${graft.ext.TextStats.classifierMarginSqlExpr} AS margin
       |  FROM bp)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(*) FILTER (margin > 0) AS BIGINT) AS n_keep,
       |  CAST(sum(margin) AS BIGINT) AS margin_sum
       |FROM m GROUP BY lang
       |ORDER BY lang""".stripMargin) { (spark, dir) =>
    val staged = stageQ43(spark, dir)
    val schema = spark.read.parquet(s"$staged/documents.parquet").schema
    val scored = graft.ext.TextStats.classifierMargin(
      spark.readStream.schema(schema).parquet(staged),
      idCol = "doc_id", textCol = "text", keepCols = Seq("lang"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        sum("margin").as("margin_sum"))
    spark.streams.active.filter(_.name == "q237_mem").foreach(_.stop())
    drainScoped(spark, staged)(scored.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("q237_mem")
      .trigger(Trigger.AvailableNow())
      .start())
    spark.table("q237_mem").orderBy("lang")
  }.withSetup((s, d) => { stageQ43(s, d); () })

  private val q43Staging = new QuerySpec.StagingCache[String]

  /** Stage documents.parquet into a directory for the file-source stream. */
  def stageQ43(spark: org.apache.spark.sql.SparkSession, dir: String): String =
    q43Staging.getOrStage(dir) {
      val staged = new java.io.File(
        QuerySpec.stagedPath("q43_documents", dir))
      staged.mkdirs()
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/documents.parquet"),
        staged.toPath.resolve("documents.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      staged.toString
    }

  /** Windowed dedup: keep the FIRST event per (user, type) within each 1h
    * tumbling window — the rate-limiting/debouncing primitive (one welcome
    * email per user per hour). One shuffle on the composite key; window
    * state per key is a single row counter, bounded by the window width at
    * any scale. All arithmetic is integer µs; survivors aggregate per type
    * so the output is hash-stable.
    */
  val q75WindowedDedup: QuerySpec = QuerySpec.oracled(
    "q75_windowed_dedup",
    """WITH w AS (
      |  SELECT event_id, user_id, event_type,
      |    (epoch_ns(ts) // 1000) // 3600000000 AS win,
      |    epoch_ns(ts) // 1000 AS tus
      |  FROM events),
      |k AS (
      |  SELECT event_id, user_id, event_type, win,
      |    row_number() OVER (PARTITION BY user_id, event_type, win
      |      ORDER BY tus, event_id) AS rn
      |  FROM w)
      |SELECT event_type, count(*) AS n_kept,
      |  count(DISTINCT user_id) AS n_users,
      |  CAST(sum(event_id) AS BIGINT) AS id_sum
      |FROM k WHERE rn = 1
      |GROUP BY event_type ORDER BY event_type""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy("user_id", "event_type", "win")
      .orderBy("tus", "event_id")
    CoreQueries.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("ts div 1000").as("tus"))
      .withColumn("win", expr("tus div 3600000000"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_kept"),
        countDistinct("user_id").as("n_users"),
        sum("event_id").as("id_sum"))
      .orderBy("event_type")
  }

  /** Stream-stream inner join with watermarks on BOTH sides: clicks within
    * 30 min after a view by the same user (attribution). The event-time
    * range condition plus the two watermarks is what lets Spark expire
    * per-key join state — without it, stream-stream join state grows
    * forever; with it, state is O(events per 1.5h horizon). Matches emit
    * append-incrementally per micro-batch; the batch oracle is the same
    * self-join in SQL (stream ≡ batch for inner joins over a finite
    * backlog). At 100 TB/day this is the shape: both sides shuffled on
    * user_id once, state bounded by the horizon, no re-scan of history.
    */
  val q77StreamStreamJoin: QuerySpec = QuerySpec.oracled(
    "q77_stream_stream_join",
    """WITH e AS (
      |  SELECT event_id, user_id, event_type,
      |    epoch_ns(ts) // 1000 AS tus
      |  FROM events)
      |SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
      |  (c.tus - v.tus) AS lag_us
      |FROM e v JOIN e c ON v.user_id = c.user_id
      |WHERE v.event_type = 'view' AND c.event_type = 'click'
      |  AND c.tus > v.tus AND c.tus <= v.tus + 1800000000
      |ORDER BY v.user_id, view_id, click_id""".stripMargin) { (spark, dir) =>
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staged = stageQ30(spark, dir)
    val schema = spark.read.parquet(s"$staged/events.parquet").schema
    def side(eventType: String, prefix: String) = spark.readStream
      .schema(schema)
      .parquet(staged)
      .filter(col("event_type") === eventType)
      .select(
        col("user_id").as(s"${prefix}_user"),
        col("event_id").as(s"${prefix}_id"),
        timestamp_micros(expr("ts div 1000")).as(s"${prefix}_ts"))
      .withWatermark(s"${prefix}_ts", "1 hour")
    val joined = side("view", "v").join(side("click", "c"),
      col("v_user") === col("c_user") &&
        col("c_ts") > col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"))
    spark.streams.active.filter(_.name == "q77_mem").foreach(_.stop())
    drainScoped(spark, staged)(joined.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("q77_mem")
      .trigger(Trigger.AvailableNow())
      .start())
    spark.table("q77_mem")
      .select(col("v_user").as("user_id"),
        col("v_id").as("view_id"), col("c_id").as("click_id"),
        (unix_micros(col("c_ts")) - unix_micros(col("v_ts"))).as("lag_us"))
      .orderBy("user_id", "view_id", "click_id")
  }.withSetup((s, d) => { stageQ30(s, d); () })

  /** Stream-STATIC join: the streaming events enrich against a small
    * static dimension (event_type → category) before a tumbling-window
    * aggregation. The static side is stateless for the stream — it rides
    * the broadcast bus into every micro-batch, no join state, no
    * watermark needed on it; only the downstream windowed agg keeps
    * state. This is the dimension-enrichment shape of a 100 TB/day
    * ingest: dims broadcast, facts stream. Oracle: the same join in
    * batch via a VALUES table.
    */
  val q84StreamStaticJoin: QuerySpec = QuerySpec.oracled(
    "q84_stream_static_join",
    """WITH cat AS (
      |  SELECT * FROM (VALUES ('view','browse'), ('click','browse'),
      |    ('purchase','commerce'), ('signup','account'), ('error','ops'))
      |    AS t(event_type, category))
      |SELECT CAST(epoch_us(ts) - epoch_us(ts) % 21600000000 AS BIGINT)
      |    AS window_start_us,
      |  cat.category, count(*) AS n
      |FROM events JOIN cat USING (event_type)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staged = stageQ30(spark, dir)
    val schema = spark.read.parquet(s"$staged/events.parquet").schema
    val categories = Seq(
      ("view", "browse"), ("click", "browse"), ("purchase", "commerce"),
      ("signup", "account"), ("error", "ops"))
      .toDF("event_type", "category")
    val stream = spark.readStream
      .schema(schema)
      .parquet(staged)
      .withColumn("ts_ts", timestamp_micros(expr("ts div 1000")))
      .join(broadcast(categories), "event_type")
      .withWatermark("ts_ts", "1 hour")
      .groupBy(window(col("ts_ts"), "6 hours"), col("category"))
      .agg(count(lit(1)).as("n"))
    spark.streams.active.filter(_.name == "q84_mem").foreach(_.stop())
    drainScoped(spark, staged)(stream.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("q84_mem")
      .trigger(Trigger.AvailableNow())
      .start())
    spark.table("q84_mem")
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("category"), col("n"))
      .orderBy("window_start_us", "category")
  }.withSetup((s, d) => { stageQ30(s, d); () })

  /** Streaming enrichment against a VERSIONED (SCD2) dimension — the
    * correctness trap q84's plain stream-static equi-join cannot express:
    * when a dimension attribute changes mid-stream, each event must join
    * the version VALID AT ITS EVENT TIME, not the current one. The static
    * side carries `[valid_from, valid_to)` interval columns (the
    * [[graft.ext.Scd2.history]] layout) and the stream joins on key AND
    * the event-time range predicate — stateless per-row against the
    * broadcast dimension, so it scales exactly like q84 (no stream state
    * beyond the aggregate). Versions split at 2024-01-16; the oracle
    * replays the identical interval join batch-side.
    */
  val q240StreamScd2Enrich: QuerySpec = QuerySpec.oracled(
    "q240_stream_scd2_enrich",
    """WITH dim AS (
      |  SELECT * FROM (VALUES
      |    ('view', 'view_v1', 1704067200000000, 1705363200000000),
      |    ('view', 'view_v2', 1705363200000000, 1706745600000000),
      |    ('click', 'click_v1', 1704067200000000, 1705363200000000),
      |    ('click', 'click_v2', 1705363200000000, 1706745600000000),
      |    ('purchase', 'purchase_v1', 1704067200000000, 1705363200000000),
      |    ('purchase', 'purchase_v2', 1705363200000000, 1706745600000000),
      |    ('signup', 'signup_v1', 1704067200000000, 1705363200000000),
      |    ('signup', 'signup_v2', 1705363200000000, 1706745600000000),
      |    ('error', 'error_v1', 1704067200000000, 1705363200000000),
      |    ('error', 'error_v2', 1705363200000000, 1706745600000000))
      |    AS t(event_type, tier, valid_from_us, valid_to_us))
      |SELECT dim.tier, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
      |    AS val_cents
      |FROM events e
      |JOIN dim ON e.event_type = dim.event_type
      |  AND epoch_us(e.ts) >= dim.valid_from_us
      |  AND epoch_us(e.ts) < dim.valid_to_us
      |GROUP BY dim.tier
      |ORDER BY dim.tier""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staged = stageQ30(spark, dir)
    val schema = spark.read.parquet(s"$staged/events.parquet").schema
    val split = 1705363200000000L // 2024-01-16T00:00:00Z
    val lo = 1704067200000000L
    val hi = 1706745600000000L
    val dim = Seq("view", "click", "purchase", "signup", "error")
      .flatMap(t => Seq((t, s"${t}_v1", lo, split), (t, s"${t}_v2", split, hi)))
      .toDF("dim_event_type", "tier", "valid_from_us", "valid_to_us")
    val stream = spark.readStream
      .schema(schema)
      .parquet(staged)
      .withColumn("ts_us", expr("ts div 1000"))
      .join(broadcast(dim),
        col("event_type") === col("dim_event_type") &&
          col("ts_us") >= col("valid_from_us") &&
          col("ts_us") < col("valid_to_us"))
      .groupBy("tier")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("val_cents"))
    spark.streams.active.filter(_.name == "q240_mem").foreach(_.stop())
    drainScoped(spark, staged)(stream.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("q240_mem")
      .trigger(Trigger.AvailableNow())
      .start())
    spark.table("q240_mem").orderBy("tier")
  }.withSetup((s, d) => { stageQ30(s, d); () })

  private val q89Staging = new QuerySpec.StagingCache[String]

  /** Stage the q89 two-file stream: real events first, then a far-future
    * sentinel 'view' + 'click' pair (user_id −1) in a second file. The
    * sentinel passes BOTH side filters, so it advances both watermarks and
    * forces the left-outer join to emit every unmatched real view before
    * the AvailableNow run ends. Memoized per sf dir.
    */
  def stageQ89(spark: org.apache.spark.sql.SparkSession, dir: String): String =
    q89Staging.getOrStage(dir) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val staged = new java.io.File(QuerySpec.stagedPath("q89_events", dir))
      org.apache.commons.io.FileUtils.deleteQuietly(staged)
      staged.mkdirs()
      val base = CoreQueries.events(spark, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          timestamp_micros(expr("ts div 1000")).as("ts_ts"))
      base.coalesce(1).write.parquet(s"$staged/00")
      val maxTs = spark.read.parquet(s"$staged/00")
        .agg(max(unix_micros(col("ts_ts")))).head().getLong(0)
      val farFuture = maxTs + 864000000000L // +10 days
      base.sparkSession.sql(
        s"""SELECT -1L AS user_id, -1L AS event_id, type AS event_type,
           |  timestamp_micros(${farFuture}L) AS ts_ts
           |FROM VALUES ('view'), ('click') AS t(type)""".stripMargin)
        .coalesce(1).write.parquet(s"$staged/01")
      flattenPart(spark, staged.toString, "00", "00.parquet")
      flattenPart(spark, staged.toString, "01", "01.parquet")
      backdate(s"$staged/00.parquet")
      staged.toString
    }

  /** Stream-stream LEFT OUTER join: q77's attribution join, but views
    * with no click inside the 30-min window must ALSO emit (with nulls).
    * Outer emission is watermark-driven — an unmatched view can only be
    * declared unmatched once both watermarks pass its join horizon, which
    * is why the staged stream ends with a sentinel pair that drags both
    * watermarks 10 days forward (a real deployment has a steady event flow
    * doing this for free; a draining backlog needs exactly this flush).
    * State stays bounded by the same range condition as q77.
    */
  val q89StreamLeftOuter: QuerySpec = QuerySpec.oracled(
    "q89_stream_left_outer",
    """WITH e AS (
      |  SELECT event_id, user_id, event_type,
      |    epoch_ns(ts) // 1000 AS tus
      |  FROM events),
      |v AS (SELECT user_id, event_id AS view_id, tus AS vt FROM e
      |      WHERE event_type = 'view'),
      |c AS (SELECT user_id AS cu, event_id AS click_id, tus AS ct FROM e
      |      WHERE event_type = 'click')
      |SELECT v.user_id, v.view_id, c.click_id, (c.ct - v.vt) AS lag_us
      |FROM v LEFT JOIN c ON v.user_id = c.cu
      |  AND c.ct > v.vt AND c.ct <= v.vt + 1800000000
      |ORDER BY v.user_id, v.view_id, coalesce(c.click_id, -1)""".stripMargin) {
    (spark, dir) =>
      val staged = stageQ89(spark, dir)
      val schema = spark.read.parquet(s"$staged/00.parquet").schema
      def side(eventType: String, prefix: String) = spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
        .filter(col("event_type") === eventType)
        .select(
          col("user_id").as(s"${prefix}_user"),
          col("event_id").as(s"${prefix}_id"),
          col("ts_ts").as(s"${prefix}_ts"))
        .withWatermark(s"${prefix}_ts", "1 hour")
      val joined = side("view", "v").join(side("click", "c"),
        col("v_user") === col("c_user") &&
          col("c_ts") > col("v_ts") &&
          col("c_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"),
        "left_outer")
      spark.streams.active.filter(_.name == "q89_mem").foreach(_.stop())
      drainScoped(spark, staged)(joined.writeStream
        .outputMode("append")
        .format("memory")
        .queryName("q89_mem")
        .trigger(Trigger.AvailableNow())
        .start())
      spark.table("q89_mem")
        .filter(col("v_user") >= 0)
        .select(col("v_user").as("user_id"), col("v_id").as("view_id"),
          col("c_id").as("click_id"),
          (unix_micros(col("c_ts")) - unix_micros(col("v_ts"))).as("lag_us"))
        .orderBy(col("user_id"), col("view_id"),
          coalesce(col("click_id"), lit(-1L)))
  }.withSetup((s, d) => { stageQ89(s, d); () })

  private val q100Staging = new QuerySpec.StagingCache[String]

  /** Stage the q100 two-batch change stream: file 00 = the base customer
    * state, file 01 = deterministic updates (%7 keys renamed) plus
    * inserts (%97 keys offset by 1e9 — past any supported sf's key range, so an insert key can never collide with a renamed base key). 00's mtime is backdated so the
    * file source (oldest-first with maxFilesPerTrigger=1) folds base
    * before updates. Memoized per sf dir.
    */
  def stageQ100(spark: org.apache.spark.sql.SparkSession, dir: String): String =
    q100Staging.getOrStage(dir) {
      val staged = new java.io.File(QuerySpec.stagedPath("q100_chg", dir))
      org.apache.commons.io.FileUtils.deleteQuietly(staged)
      staged.mkdirs()
      val base = spark.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("k"), col("c_name").as("name"))
      base.coalesce(1).write.parquet(s"$staged/00")
      base.filter(col("k") % 7 === 0)
        .select(col("k"), concat(col("name"), lit("-v2")).as("name"))
        .unionByName(base.filter(col("k") % 97 === 0)
          .select((col("k") + 1000000000L).as("k"),
            concat(lit("NewCust#"), (col("k") + 1000000000L).cast("string"))
              .as("name")))
        .coalesce(1).write.parquet(s"$staged/01")
      flattenPart(spark, staged.toString, "00", "00.parquet")
      flattenPart(spark, staged.toString, "01", "01.parquet")
      backdate(s"$staged/00.parquet")
      staged.toString
    }

  /** Incremental snapshot maintenance as a stream
    * ([[graft.streaming.StreamingSnapshot]]): the keep-last-by-PK upsert
    * folded over micro-batches via `foreachBatch` — base state in batch 1,
    * renames + inserts in batch 2, exactly-once per batch from the
    * checkpointed batch id, torn-write-proof from the batch operator's
    * temp+rename. The oracle is the associativity claim itself: folding
    * per batch ≡ ONE batch-priority keep-last over everything, which is
    * plain SQL. Snapshot and checkpoint are wiped per invocation so every
    * run re-folds from scratch (the staged source files are memoized).
    */
  val q100StreamingSnapshot: QuerySpec = QuerySpec.oracled(
    "q100_streaming_snapshot",
    """WITH upd AS (
      |  SELECT c_custkey AS k, c_name || '-v2' AS name
      |  FROM customer WHERE c_custkey % 7 = 0
      |  UNION ALL
      |  SELECT c_custkey + 1000000000,
      |    'NewCust#' || CAST(c_custkey + 1000000000 AS VARCHAR)
      |  FROM customer WHERE c_custkey % 97 = 0),
      |unioned AS (
      |  SELECT c_custkey AS k, c_name AS name, 0 AS seq FROM customer
      |  UNION ALL SELECT k, name, 1 FROM upd),
      |last AS (
      |  SELECT k, name,
      |    row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
      |  FROM unioned)
      |SELECT k, name FROM last WHERE rn = 1 ORDER BY k""".stripMargin) {
    (spark, dir) =>
      import graft.operators.SnapshotOptions
      val staged = stageQ100(spark, dir)
      val runDir = new java.io.File(
        QuerySpec.stagedPath("q100_state", dir))
      org.apache.commons.io.FileUtils.deleteQuietly(runDir)
      runDir.mkdirs()
      val schema = spark.read.parquet(s"$staged/00.parquet").schema
      val src = spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
      drainScoped(spark, staged)(graft.streaming.StreamingSnapshot.start(
        spark, src, "customer_state", runDir.toString,
        SnapshotOptions(pk = Seq("k")), s"$runDir/ckpt"))
      spark.read.parquet(s"$runDir/customer_state.snapshot.parquet")
        .orderBy("k")
  }.withSetup((s, d) => { stageQ100(s, d); () })

  /** Streaming top-k: watermarked 6h-window counts maintained by the
    * stream, ranked top-3 per window in a BATCH finishing step over the
    * streamed aggregate — rank is not incrementally maintainable in
    * append mode (a late row can reorder a whole window), and the
    * finishing input is |windows|×|types| rows, trivially small relative
    * to the raw stream no matter the scale. This split (incremental
    * heavy agg, batch light finish) is the production shape for
    * leaderboards over streams.
    */
  val q118StreamingTopk: QuerySpec = QuerySpec.oracled(
    "q118_streaming_topk",
    """WITH w AS (
      |  SELECT
      |    CAST(epoch_us(ts) - epoch_us(ts) % 21600000000 AS BIGINT) AS ws,
      |    event_type, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT ws, event_type, n,
      |    row_number() OVER (PARTITION BY ws
      |      ORDER BY n DESC, event_type) AS rk
      |  FROM w)
      |SELECT ws AS window_start_us, event_type, n,
      |  CAST(rk AS BIGINT) AS rk
      |FROM r WHERE rk <= 3
      |ORDER BY window_start_us, rk""".stripMargin) { (spark, dir) =>
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staged = stageQ30(spark, dir)
    val schema = spark.read.parquet(s"$staged/events.parquet").schema
    val stream = spark.readStream
      .schema(schema)
      .parquet(staged)
      .withColumn("ts_ts", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ts_ts", "1 hour")
      .groupBy(window(col("ts_ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"))

    spark.streams.active
      .filter(_.name == "q118_mem").foreach(_.stop())
    drainScoped(spark, staged)(stream.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("q118_mem")
      .trigger(Trigger.AvailableNow())
      .start())

    val w = Window.partitionBy("window_start_us")
      .orderBy(col("n").desc, col("event_type"))
    spark.table("q118_mem")
      .select(
        unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .orderBy("window_start_us", "rk")
  }.withSetup((s, d) => { stageQ30(s, d); () })

  private val q124Staging = new QuerySpec.StagingCache[String]

  /** Stage the q124 two-file stream: (event_type, ts_ts) rows plus a
    * far-future sentinel file that advances the watermark so every real
    * window closes through BOTH stateful operators. Memoized per sf dir.
    */
  def stageQ124(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    q124Staging.getOrStage(dir) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val staged = new java.io.File(
        QuerySpec.stagedPath("q124_events", dir))
      org.apache.commons.io.FileUtils.deleteQuietly(staged)
      staged.mkdirs()
      val base = CoreQueries.events(spark, dir)
        .select(col("event_type"),
          timestamp_micros(expr("ts div 1000")).as("ts_ts"))
      base.coalesce(1).write.parquet(s"$staged/00")
      val maxTs = spark.read.parquet(s"$staged/00")
        .agg(max(unix_micros(col("ts_ts")))).head().getLong(0)
      // sentinel 10 days later pushes the watermark past every real window
      base.sparkSession.sql(
        s"SELECT '~sentinel' AS event_type, " +
          s"timestamp_micros(${maxTs + 864000000000L}L) AS ts_ts")
        .coalesce(1).write.parquet(s"$staged/01")
      flattenPart(spark, staged.toString, "00", "00.parquet")
      flattenPart(spark, staged.toString, "01", "01.parquet")
      backdate(s"$staged/00.parquet")
      staged.toString
    }

  /** CHAINED stateful streaming aggregation (Spark's multiple-stateful-
    * operator support): hourly counts maintained incrementally, then a
    * second watermarked aggregation rolls closed hourly windows into 6h
    * summaries via `window_time` — the two-tier rollup (fine-grain state,
    * coarse-grain emit) that at 100 TB/day keeps first-tier state at one
    * counter per (hour, type) while the second tier sees only 1-row-per-
    * hour inputs, not raw events. Append mode end to end: tier-2 input is
    * tier-1's FINAL closed windows, so late data is resolved once, in
    * tier 1. The far-future sentinel closes every real window through
    * both tiers; its own windows never emit (the watermark never passes
    * them) and the filter drops it defensively anyway.
    */
  val q124ChainedWindows: QuerySpec = QuerySpec.oracled(
    "q124_chained_windows",
    """WITH h AS (
      |  SELECT
      |    CAST(epoch_us(ts) - epoch_us(ts) % 3600000000 AS BIGINT) AS hs,
      |    event_type, count(*) AS n_hour
      |  FROM events GROUP BY 1, 2)
      |SELECT CAST(hs - hs % 21600000000 AS BIGINT) AS window_start_us,
      |  event_type,
      |  CAST(sum(n_hour) AS BIGINT) AS n_total,
      |  CAST(max(n_hour) AS BIGINT) AS max_hour,
      |  count(*) AS n_hours
      |FROM h GROUP BY 1, 2
      |ORDER BY window_start_us, event_type""".stripMargin) { (spark, dir) =>
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staged = stageQ124(spark, dir)
    val schema = spark.read.parquet(s"$staged/00.parquet").schema
    val tiered = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged)
      .withWatermark("ts_ts", "1 hour")
      .groupBy(window(col("ts_ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_hour"))
      .groupBy(window(window_time(col("window")), "6 hours"),
        col("event_type"))
      .agg(sum("n_hour").as("n_total"), max("n_hour").as("max_hour"),
        count(lit(1)).as("n_hours"))

    spark.streams.active
      .filter(_.name == "q124_mem").foreach(_.stop())
    drainScoped(spark, staged)(tiered.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("q124_mem")
      .trigger(Trigger.AvailableNow())
      .start())

    spark.table("q124_mem")
      .filter(col("event_type") =!= "~sentinel")
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n_total"), col("max_hour"), col("n_hours"))
      .orderBy("window_start_us", "event_type")
  }.withSetup((s, d) => { stageQ124(s, d); () })

  /** Chained stateful operators of DIFFERENT kinds: watermark-bounded
    * dedup (`dropDuplicatesWithinWatermark` on a planted duplicate
    * stream) feeding a windowed aggregation — the ingest-then-aggregate
    * shape of every at-least-once pipeline (the transport retries, the
    * dedup absorbs them, the aggregate never double-counts). Both
    * operators run in ONE append-mode stream; dedup state evicts at the
    * watermark while window state holds only open windows. The oracle
    * aggregates the DISTINCT event set in batch — stream ≡ batch proves
    * the duplicates died before the counts.
    */
  val q130DedupWindow: QuerySpec = QuerySpec.oracled(
    "q130_dedup_window",
    """WITH d AS (
      |  SELECT DISTINCT event_id, event_type,
      |    CAST(epoch_us(ts) - epoch_us(ts) % 21600000000 AS BIGINT) AS ws
      |  FROM events)
      |SELECT ws AS window_start_us, event_type, count(*) AS n
      |FROM d GROUP BY 1, 2
      |ORDER BY window_start_us, event_type""".stripMargin) { (spark, dir) =>
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staged = stageQ30(spark, dir)
    val schema = spark.read.parquet(s"$staged/events.parquet").schema
    val counts = spark.readStream
      .schema(schema)
      .parquet(staged)
      // plant at-least-once delivery: every row arrives twice
      .withColumn("dup", explode(array(lit(1), lit(2))))
      .drop("dup")
      .withColumn("ts_ts", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ts_ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(window(col("ts_ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"))

    spark.streams.active
      .filter(_.name == "q130_mem").foreach(_.stop())
    drainScoped(spark, staged)(counts.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("q130_mem")
      .trigger(Trigger.AvailableNow())
      .start())

    spark.table("q130_mem")
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"))
      .orderBy("window_start_us", "event_type")
  }.withSetup((s, d) => { stageQ30(s, d); () })

  private val q150Staging = new QuerySpec.StagingCache[String]

  /** Stage events as THREE disjoint time-sliced files (terciles of the
    * time range, mod-times ordered oldest-first) so the
    * `transformWithState` query genuinely carries state ACROSS
    * micro-batches: with `maxFilesPerTrigger=1` each slice is its own
    * batch and a user's session fold resumes from the previous batch's
    * `last_tus`. Memoized per sf dir.
    */
  def stageQ150(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    q150Staging.getOrStage(dir) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val staged = new java.io.File(QuerySpec.stagedPath("q150_events", dir))
      org.apache.commons.io.FileUtils.deleteQuietly(staged)
      staged.mkdirs()
      val base = CoreQueries.events(spark, dir)
        .select(col("user_id"), expr("ts div 1000").as("tus"))
      val (lo, hi) = {
        val r = base.agg(min("tus"), max("tus")).head()
        (r.getLong(0), r.getLong(1))
      }
      val cut1 = lo + (hi - lo) / 3
      val cut2 = lo + 2 * ((hi - lo) / 3)
      val slices = Seq(
        ("00", col("tus") <= cut1),
        ("01", col("tus") > cut1 && col("tus") <= cut2),
        ("02", col("tus") > cut2))
      slices.zipWithIndex.foreach { case ((name, cond), i) =>
        base.filter(cond).coalesce(1).write.parquet(s"$staged/$name")
        flattenPart(spark, staged.toString, name, s"$name.parquet")
        QuerySpec.backdate(s"$staged/$name.parquet", (3 - i) * 60000L)
      }
      staged.toString
    }

  /** Arbitrary stateful processing via Spark 4's `transformWithState`
    * ([[graft.streaming.StatefulSessions]]): per-user lifetime event and
    * session counts over ONE fixed-size RocksDB state record per user,
    * drained as three time-ordered micro-batches so the fold provably
    * resumes across batch boundaries. Update-mode emission makes the
    * running record visible each batch; counts are monotone, so the final
    * ledger is the per-user max — which the oracle replays in batch with
    * the q29 lag-window sessionization (gap ≥ 30 min). Stream ≡ batch is
    * the correctness claim.
    */
  val q150TransformWithState: QuerySpec = QuerySpec.oracled(
    "q150_transform_state",
    """WITH s AS (
      |  SELECT user_id, epoch_us(ts) AS tus,
      |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS prev
      |  FROM events)
      |SELECT user_id, count(*) AS n_events,
      |  CAST(sum(CASE WHEN prev IS NULL OR tus - prev >= 1800000000
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
      |FROM s GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (spark, dir) =>
    import graft.streaming.StatefulSessions._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staged = stageQ150(spark, dir)
    val schema = spark.read.parquet(s"$staged/00.parquet").schema

    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val eventEnc = org.apache.spark.sql.Encoders.product[Event]
      implicit val outEnc = org.apache.spark.sql.Encoders.product[UserSessions]
      implicit val keyEnc = org.apache.spark.sql.Encoders.scalaLong
      val out = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
        .as[Event](eventEnc)
        .groupByKey(_.user_id)(keyEnc)
        .transformWithState(new SessionCountProcessor(1800000000L),
          TimeMode.None(), OutputMode.Update(), outEnc)

      spark.streams.active
        .filter(_.name == "q150_mem").foreach(_.stop())
      drainScoped(spark, staged)(out.writeStream
        .outputMode("update")
        .format("memory")
        .queryName("q150_mem")
        .trigger(Trigger.AvailableNow())
        .start())
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }

    spark.table("q150_mem")
      .groupBy("user_id")
      .agg(max("n_events").as("n_events"), max("n_sessions").as("n_sessions"))
      .orderBy("user_id")
  }.withSetup((s, d) => { stageQ150(s, d); () })

  /** The q28 workload on the NATIVE as-of join
    * ([[graft.plans.AsofJoinNative]]: custom LogicalPlan + SparkStrategy +
    * streaming-merge SparkPlan) instead of the composed union + window
    * sweep. Same oracle as q28, so the two formulations are adjudicated
    * against the same DuckDB ASOF JOIN; AsofNativeSpec additionally pins
    * native ≡ composed across direction/strictness/tolerance/partitioning.
    * The right side is read through its own scan so the hand-built binary
    * node's attribute ids stay disjoint.
    */
  val q151AsofNative: QuerySpec = QuerySpec.oracled(
    "q151_asof_native",
    """WITH ded AS (
      |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS prev_orderkey
      |  FROM orders GROUP BY o_custkey, o_orderdate)
      |SELECT l.o_orderkey, d.prev_orderkey,
      |  CAST(epoch_us(l.o_orderdate) - epoch_us(d.o_orderdate) AS BIGINT)
      |    AS gap_us
      |FROM orders l ASOF JOIN ded d
      |  ON l.o_custkey = d.o_custkey AND l.o_orderdate > d.o_orderdate
      |ORDER BY l.o_orderkey""".stripMargin) { (spark, dir) =>
    def withUs(df: org.apache.spark.sql.DataFrame, name: String) =
      df.withColumn(name, unix_micros(col("o_orderdate").cast("timestamp")))
    val left = withUs(spark.read.parquet(s"$dir/orders.parquet"), "t_us")
    val ded = withUs(
      spark.read.parquet(s"$dir/orders.parquet")
        .groupBy("o_custkey", "o_orderdate")
        .agg(max("o_orderkey").as("prev_orderkey")), "prev_us")
      .drop("o_orderdate")
    graft.plans.AsofJoinNative.asof(
      left, ded, Seq("o_custkey"), "t_us", "prev_us",
      Seq("prev_orderkey", "prev_us"), forward = false, strict = true)
      .filter(col("asof_prev_orderkey").isNotNull) // inner-join semantics
      .select(col("o_orderkey"),
        col("asof_prev_orderkey").as("prev_orderkey"),
        (col("t_us") - col("asof_prev_us")).as("gap_us"))
      .orderBy("o_orderkey")
  }

  /** Sliding join-aggregate — "events by the same user in the preceding
    * hour" — composed from TWO native as-of joins over per-user cumulative
    * counts instead of a range self-join: count[t−1h, t) =
    * cum(< t) − cum(< t−1h), each cum looked up by a strict backward
    * as-of against the DISTINCT-time cumulative ledger. The range join
    * explodes by |events-in-window| per row (quadratic in hot users); this
    * shape is two sorted merges with O(1) state against a ledger no larger
    * than the event set — the 100 TB feature-engineering pattern for
    * "trailing N-period activity" columns. The ledger is built per side
    * from its own scan so the hand-built nodes keep disjoint attr ids;
    * the oracle replays the naive range join, proving the algebra.
    */
  val q152SlidingJoinAgg: QuerySpec = QuerySpec.oracled(
    "q152_sliding_join_agg",
    """WITH e AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS t FROM events)
      |SELECT a.event_id,
      |  CAST(count(b.event_id) AS BIGINT) AS n_prev_hour
      |FROM e a LEFT JOIN e b ON b.user_id = a.user_id
      |  AND b.t >= a.t - 3600000000 AND b.t < a.t
      |GROUP BY a.event_id ORDER BY a.event_id""".stripMargin) {
    (spark, dir) =>
      val HourUs = 3600000000L
      def cumLedger() = {
        val w = Window.partitionBy("user_id").orderBy("t")
        CoreQueries.events(spark, dir)
          .select(col("user_id"), expr("ts div 1000").as("t"))
          .groupBy("user_id", "t").agg(count(lit(1)).as("c"))
          .withColumn("cum", sum("c").over(w))
          .select(col("user_id"), col("t").as("rt"), col("cum"))
      }
      val left = CoreQueries.events(spark, dir)
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000").as("t"))
        .withColumn("t2", col("t") - HourUs)
      val atT = graft.plans.AsofJoinNative.asof(
        left, cumLedger(), Seq("user_id"), "t", "rt", Seq("cum"),
        forward = false, strict = true)
        .withColumnRenamed("asof_cum", "c_lt")
      val atT2 = graft.plans.AsofJoinNative.asof(
        atT, cumLedger(), Seq("user_id"), "t2", "rt", Seq("cum"),
        forward = false, strict = true)
        .withColumnRenamed("asof_cum", "c_lt2")
      atT2.select(col("event_id"),
        (coalesce(col("c_lt"), lit(0L)) - coalesce(col("c_lt2"), lit(0L)))
          .cast("long").as("n_prev_hour"))
        .orderBy("event_id")
  }

  /** Same-day set completion via BITMASK aggregation: users whose events
    * cover view|click|purchase within one day — the any-order funnel
    * complement of q63's ordered funnel. One groupBy folds each
    * (user, day) into a 3-bit `bit_or` mask (exact integers, map-side
    * combinable); the day-level rollup then counts complete masks. Two
    * aggregates total, output |days| rows at any scale.
    */
  val q153BitmaskCover: QuerySpec = QuerySpec.oracled(
    "q153_bitmask_cover",
    """WITH m AS (
      |  SELECT user_id,
      |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |    bit_or(CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
      |      WHEN 'purchase' THEN 4 ELSE 0 END) AS mask
      |  FROM events GROUP BY 1, 2)
      |SELECT day, count(*) AS n_users,
      |  CAST(count(*) FILTER (WHERE mask = 7) AS BIGINT) AS n_complete,
      |  CAST(count(*) FILTER (WHERE mask = 7) * 10000 AS DOUBLE) /
      |    CAST(count(*) AS DOUBLE) AS complete_bp
      |FROM m GROUP BY day ORDER BY day""".stripMargin) { (spark, dir) =>
    val m = CoreQueries.events(spark, dir)
      .select(col("user_id"),
        expr("CAST((ts div 1000) div 86400000000 AS BIGINT)").as("day"),
        expr("CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2 " +
          "WHEN 'purchase' THEN 4 ELSE 0 END").as("bit"))
      .groupBy("user_id", "day")
      .agg(expr("bit_or(bit)").as("mask"))
    m.groupBy("day")
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("mask") === 7, 1L).otherwise(0L)).as("n_complete"))
      .select(col("day"), col("n_users"), col("n_complete"),
        ((col("n_complete") * 10000).cast("double") /
          col("n_users").cast("double")).as("complete_bp"))
      .orderBy("day")
  }

  /** Mergeable-sketch rollup: per-(type, day) HLL sketches of distinct
    * users, UNIONED up to per-(type, week) estimates — the pre-aggregation
    * pattern that makes distinct-count cubes possible at 100 TB: daily
    * sketches are built once (map-side combinable, fixed 2^12-register
    * size), persist at |types|·|days| rows, and any coarser rollup
    * (week/month/all-time, or cross-type) is a register-wise union of the
    * stored sketches — the raw fact table is never rescanned. The exact
    * weekly distinct count rides the same output row; the sketch claim is
    * adjudicated as a boolean (estimate within 5% of exact — the q56
    * convention: DuckDB can't replay datasketches registers, but it CAN
    * verify the accuracy contract), and HllRollupSpec separately proves
    * union-of-daily ≡ direct-weekly on the fixture.
    */
  val q157HllRollup: QuerySpec = QuerySpec.oracled(
    "q157_hll_rollup",
    """WITH g AS (
      |  SELECT event_type,
      |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) // 7 AS week,
      |    user_id
      |  FROM events)
      |SELECT event_type, week, count(DISTINCT user_id) AS exact_users,
      |  TRUE AS est_within_5pct
      |FROM g GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    val base = CoreQueries.events(spark, dir)
      .select(col("event_type"),
        expr("CAST((ts div 1000) div 86400000000 AS BIGINT)").as("day"),
        col("user_id"))
    val daily = base.groupBy(col("event_type"), col("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
    val weekly = daily
      .groupBy(col("event_type"), expr("day div 7").as("week"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("__est"))
    val exact = base
      .groupBy(col("event_type"), expr("day div 7").as("week"))
      .agg(countDistinct("user_id").as("exact_users"))
    exact.join(weekly, Seq("event_type", "week"))
      .select(col("event_type"), col("week"), col("exact_users"),
        (abs(col("__est") - col("exact_users")) <=
          col("exact_users") * 0.05).as("est_within_5pct"))
      .orderBy("event_type", "week")
  }

  /** Mergeable-HISTOGRAM rollup — the quantile twin of q157's HLL pattern:
    * per-(type, day) fixed-bin histograms (map<bin, count>, bin = 500-cent
    * linear buckets) are built once from the fact table; a per-(type, week)
    * approximate median is then answered entirely from the stored daily
    * maps (explode + per-bin sum = element-wise histogram union — the fact
    * table is never rescanned). Unlike a percentile over raw rows, the
    * daily sketch is FIXED-SIZE (≤ ~100 bins regardless of row count), so
    * a 100 TB fact table collapses to |types|·|days| map rows after one
    * pass, and every coarser quantile rollup (week / month / all-time)
    * costs only a sum over bins. The approx-median error is bounded by
    * construction to one bin width: the merged cumulative histogram puts
    * the exact lower median inside the selected bin, so
    * `approx ≤ exact < approx + 500`. The exact weekly median (the q146
    * distinct-value cumulative-weight technique) rides the same row and
    * the bin-width contract is adjudicated as a boolean the oracle can
    * replay.
    */
  val q158HistQuantileRollup: QuerySpec = QuerySpec.oracled(
    "q158_hist_quantile_rollup",
    """WITH g AS (
      |  SELECT event_type,
      |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) // 7 AS week,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |a AS (SELECT event_type, week, cents, count(*) AS w
      |      FROM g GROUP BY 1, 2, 3),
      |c AS (
      |  SELECT event_type, week, cents, w,
      |    sum(w) OVER (PARTITION BY event_type, week ORDER BY cents) AS cw,
      |    sum(w) OVER (PARTITION BY event_type, week) AS tw
      |  FROM a)
      |SELECT event_type, week, min(cents) AS exact_med_cents,
      |  TRUE AS approx_within_bin
      |FROM c WHERE 2 * cw >= tw GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    val g = CoreQueries.events(spark, dir)
      .select(col("event_type"),
        expr("CAST((ts div 1000) div 86400000000 AS BIGINT)").as("day"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    // daily sketch: one fixed-size map<bin, count> per (type, day) — this
    // is the artifact a pipeline would persist between rollup queries
    val daily = g
      .groupBy(col("event_type"), col("day"),
        expr("cents div 500").as("bin"))
      .agg(count(lit(1)).as("w"))
      .groupBy("event_type", "day")
      .agg(map_from_entries(collect_list(struct(col("bin"), col("w"))))
        .as("sk"))
    // weekly union: explode stored maps, per-bin sum = histogram merge
    val merged = daily
      .select(col("event_type"), expr("day div 7").as("week"),
        explode(col("sk")).as(Seq("bin", "w")))
      .groupBy("event_type", "week", "bin")
      .agg(sum("w").as("w"))
    val cum = Window.partitionBy("event_type", "week").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy("event_type", "week")
    val approx = merged
      .withColumn("cw", sum("w").over(cum))
      .withColumn("tw", sum("w").over(tot))
      .filter(col("cw") * 2 >= col("tw"))
      .groupBy("event_type", "week")
      .agg((min("bin") * 500).as("approx_cents"))
    val exactCum = Window.partitionBy("event_type", "week").orderBy("cents")
    val exact = g
      .groupBy(col("event_type"), expr("day div 7").as("week"), col("cents"))
      .agg(count(lit(1)).as("w"))
      .withColumn("cw", sum("w").over(exactCum))
      .withColumn("tw", sum("w").over(tot))
      .filter(col("cw") * 2 >= col("tw"))
      .groupBy("event_type", "week")
      .agg(min("cents").as("exact_med_cents"))
    exact.join(approx, Seq("event_type", "week"))
      .select(col("event_type"), col("week"), col("exact_med_cents"),
        (col("approx_cents") <= col("exact_med_cents") &&
          col("exact_med_cents") < col("approx_cents") + 500)
          .as("approx_within_bin"))
      .orderBy("event_type", "week")
  }

  /** ROLLING quantile from stored daily histograms — the dashboard query
    * the q158 sketches exist for: trailing-7-day P90 of the value
    * distribution per event type, for every day, computed ENTIRELY from
    * the per-(type, day, bin) daily histogram rows. The trailing merge is
    * a RANGE window (6 PRECEDING) per (type, bin) over a dense
    * (type, day, bin) grid — densification matters: a bin absent on day d
    * but present on d−3 must still contribute a row for d's window — then
    * the P90 crossing runs over bins per (type, day). Cost at 100 TB:
    * after the one histogram pass the windows touch
    * |types|·|days|·|bins| rows (thousands), never the fact table; the
    * exact trailing P90 (range-join + distinct-value crossing) rides
    * along only to adjudicate the one-bin error contract — a production
    * pipeline runs just the sketch path.
    */
  val q166RollingP90: QuerySpec = QuerySpec.oracled(
    "q166_rolling_p90",
    """WITH g AS (
      |  SELECT event_type,
      |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |days AS (SELECT DISTINCT event_type, day FROM g),
      |tr AS (
      |  SELECT d.event_type, d.day, g.cents
      |  FROM days d JOIN g ON g.event_type = d.event_type
      |    AND g.day BETWEEN d.day - 6 AND d.day),
      |a AS (SELECT event_type, day, cents, count(*) AS w
      |      FROM tr GROUP BY 1, 2, 3),
      |c AS (
      |  SELECT event_type, day, cents, w,
      |    sum(w) OVER (PARTITION BY event_type, day ORDER BY cents) AS cw,
      |    sum(w) OVER (PARTITION BY event_type, day) AS tw
      |  FROM a)
      |SELECT event_type, day, min(cents) AS exact_p90_cents,
      |  TRUE AS approx_within_bin
      |FROM c WHERE 10 * cw >= 9 * tw GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    val g = CoreQueries.events(spark, dir)
      .select(col("event_type"),
        expr("CAST((ts div 1000) div 86400000000 AS BIGINT)").as("day"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    // stored daily sketch, long form: one (type, day, bin, w) row per
    // occupied 500-cent bin
    val daily = g
      .groupBy(col("event_type"), col("day"),
        expr("cents div 500").as("bin"))
      .agg(count(lit(1)).as("w"))
    val days = daily.select("event_type", "day").distinct()
    val bins = daily.select("event_type", "bin").distinct()
    val dense = days.join(bins, "event_type")
      .join(daily, Seq("event_type", "day", "bin"), "left")
      .na.fill(0L, Seq("w"))
    val trail = Window.partitionBy("event_type", "bin").orderBy("day")
      .rangeBetween(-6, 0)
    val rolled = dense.withColumn("w7", sum("w").over(trail))
      .filter(col("w7") > 0)
    val cum = Window.partitionBy("event_type", "day").orderBy("bin")
    val tot = Window.partitionBy("event_type", "day")
    val approx = rolled
      .withColumn("cw", sum("w7").over(cum))
      .withColumn("tw", sum("w7").over(tot))
      .filter(col("cw") * 10 >= col("tw") * 9)
      .groupBy("event_type", "day")
      .agg((min("bin") * 500).as("approx_cents"))
    // exact adjudication twin (range join + distinct-value crossing)
    val tr = days.as("d").join(g.as("e"),
      col("e.event_type") === col("d.event_type") &&
        col("e.day").between(col("d.day") - 6, col("d.day")))
      .select(col("d.event_type").as("event_type"),
        col("d.day").as("day"), col("e.cents").as("cents"))
    val exact = tr.groupBy("event_type", "day", "cents")
      .agg(count(lit(1)).as("w"))
      .withColumn("cw",
        sum("w").over(Window.partitionBy("event_type", "day")
          .orderBy("cents")))
      .withColumn("tw", sum("w").over(tot))
      .filter(col("cw") * 10 >= col("tw") * 9)
      .groupBy("event_type", "day")
      .agg(min("cents").as("exact_p90_cents"))
    exact.join(approx, Seq("event_type", "day"))
      .select(col("event_type"), col("day"), col("exact_p90_cents"),
        (col("approx_cents") <= col("exact_p90_cents") &&
          col("exact_p90_cents") < col("approx_cents") + 500)
          .as("approx_within_bin"))
      .orderBy("event_type", "day")
  }

  /** RELATIVE-error quantile sketch — the log-bin twin of q158's linear
    * bins, the HdrHistogram / DDSketch bucket family re-expressed in exact
    * integer arithmetic: bucket = (octave, 3-bit sub-bucket) where
    * octave = floor(log2(cents)) via `length(bin(c)) − 1` and the
    * sub-bucket is the next 3 mantissa bits, so every bucket's width is
    * ≤ lo/8 — a UNIFORM ≤ 12.5 % relative error across all five decades
    * this column spans, where q158's fixed 500-cent bins give ±500 no
    * matter how small the value (a 600-cent P50 estimated to ±500 is
    * useless; here it is ±75). Values < 8 get exact singleton buckets.
    * The sketch is mergeable exactly like q158 (bucket counts sum) and
    * FIXED-size: ≤ 8·64 + 8 buckets can ever exist for a BIGINT column,
    * so the fact table collapses to |types|·|occupied| rows in one pass
    * and P50/P90/P99 all read the same tiny table. Every quantity —
    * bucket bounds, ceil-target crossing (`100·cw ≥ qn·tw`), error
    * contract — is integer, so unlike the HLL contracts the oracle
    * replays the ENTIRE sketch path bit-for-bit, adjudicating the
    * estimates themselves, not just a tolerance boolean. The exact
    * quantile (distinct-value crossing, q146 technique) rides along; both
    * contract booleans (`within_bucket`, width·8 ≤ lo) are provable by
    * construction and the oracle recomputes rather than assumes them.
    */
  val q168HdrQuantile: QuerySpec = QuerySpec.oracled(
    "q168_hdr_quantile",
    """WITH g AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
      |  FROM events),
      |s AS (SELECT event_type, c,
      |        greatest(length(bin(c)) - 4, 0) AS sh FROM g),
      |b AS (
      |  SELECT event_type, c,
      |    CASE WHEN c < 8 THEN c
      |         ELSE (8 + ((c >> sh) & 7)) << sh END AS lo,
      |    CASE WHEN c < 8 THEN c
      |         ELSE ((8 + ((c >> sh) & 7)) << sh) + (1::BIGINT << sh) - 1
      |    END AS hi
      |  FROM s),
      |hb AS (SELECT event_type, lo, hi, count(*) AS w FROM b
      |       GROUP BY 1, 2, 3),
      |cb AS (
      |  SELECT event_type, lo, hi,
      |    sum(w) OVER (PARTITION BY event_type ORDER BY lo) AS cw,
      |    sum(w) OVER (PARTITION BY event_type) AS tw
      |  FROM hb),
      |qs AS (SELECT unnest([50, 90, 99]) AS q),
      |ap AS (
      |  SELECT event_type, q, min(lo) AS est_lo_cents,
      |    min_by(hi, lo) AS est_hi_cents
      |  FROM cb CROSS JOIN qs WHERE 100 * cw >= q * tw GROUP BY 1, 2),
      |vc AS (SELECT event_type, c, count(*) AS w FROM g GROUP BY 1, 2),
      |cv AS (
      |  SELECT event_type, c,
      |    sum(w) OVER (PARTITION BY event_type ORDER BY c) AS cw,
      |    sum(w) OVER (PARTITION BY event_type) AS tw
      |  FROM vc),
      |ex AS (SELECT event_type, q, min(c) AS exact_cents
      |       FROM cv CROSS JOIN qs WHERE 100 * cw >= q * tw GROUP BY 1, 2)
      |SELECT event_type, q, exact_cents, est_lo_cents, est_hi_cents,
      |  (exact_cents BETWEEN est_lo_cents AND est_hi_cents)
      |    AS within_bucket,
      |  ((est_hi_cents - est_lo_cents) * 8 <= est_lo_cents
      |    OR est_hi_cents = est_lo_cents) AS rel_err_le_12_5pct
      |FROM ex JOIN ap USING (event_type, q)
      |ORDER BY event_type, q""".stripMargin) { (spark, dir) =>
    val g = CoreQueries.events(spark, dir)
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
    // the stored sketch: one (type, lo, hi, w) row per occupied log-bin —
    // the single fact-table pass; everything below reads only this
    val hb = g
      .withColumn("sh", expr("greatest(length(bin(c)) - 4, 0)"))
      .withColumn("lo", expr(
        "CASE WHEN c < 8 THEN c " +
          "ELSE shiftleft(8 + (shiftright(c, sh) & 7), sh) END"))
      .withColumn("hi", expr(
        "CASE WHEN c < 8 THEN c " +
          "ELSE shiftleft(8 + (shiftright(c, sh) & 7), sh) " +
          "+ shiftleft(CAST(1 AS BIGINT), sh) - 1 END"))
      .groupBy("event_type", "lo", "hi")
      .agg(count(lit(1)).as("w"))
    val qs = explode(array(lit(50), lit(90), lit(99)))
    val cum = Window.partitionBy("event_type").orderBy("lo")
    val tot = Window.partitionBy("event_type")
    val approx = hb
      .withColumn("cw", sum("w").over(cum))
      .withColumn("tw", sum("w").over(tot))
      .withColumn("q", qs)
      .filter(col("cw") * 100 >= col("q") * col("tw"))
      .groupBy("event_type", "q")
      .agg(min("lo").as("est_lo_cents"),
        min_by(col("hi"), col("lo")).as("est_hi_cents"))
    val exact = g.groupBy("event_type", "c")
      .agg(count(lit(1)).as("w"))
      .withColumn("cw",
        sum("w").over(Window.partitionBy("event_type").orderBy("c")))
      .withColumn("tw", sum("w").over(tot))
      .withColumn("q", qs)
      .filter(col("cw") * 100 >= col("q") * col("tw"))
      .groupBy("event_type", "q")
      .agg(min("c").as("exact_cents"))
    exact.join(approx, Seq("event_type", "q"))
      .select(col("event_type"), col("q"), col("exact_cents"),
        col("est_lo_cents"), col("est_hi_cents"),
        col("exact_cents").between(col("est_lo_cents"), col("est_hi_cents"))
          .as("within_bucket"),
        ((col("est_hi_cents") - col("est_lo_cents")) * 8 <=
          col("est_lo_cents") ||
          col("est_hi_cents") === col("est_lo_cents"))
          .as("rel_err_le_12_5pct"))
      .orderBy("event_type", "q")
  }

  /** Sketch ALGEBRA on top of q157's stored HLL sketches: estimated
    * audience overlap |A ∩ B| between every pair of event types via
    * inclusion–exclusion — est(A) + est(B) − est(A ∪ B), where the union
    * estimate comes from `hll_union_agg` over the two types' per-type
    * sketches. This is the query family persisted sketches exist for:
    * once per-type (or per-type-per-day) sketches are stored, EVERY
    * pairwise overlap across T types is answered from T fixed-size
    * sketches — no T² distinct-count scans of the fact table, which is
    * the difference between feasible and not at 100 TB (the exact twin
    * needs a self-join of user sets per pair). Intersection by
    * inclusion–exclusion compounds three ±1.6% estimates (2^12
    * registers), so the adjudicated contract is within 10% of exact on
    * these high-overlap audiences; the exact count rides the same row.
    */
  val q162HllIntersection: QuerySpec = QuerySpec.oracled(
    "q162_hll_intersection",
    """WITH u AS (
      |  SELECT DISTINCT event_type, user_id FROM events),
      |p AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    a.user_id FROM u a JOIN u b USING (user_id)
      |  WHERE a.event_type < b.event_type)
      |SELECT type_a, type_b,
      |  count(DISTINCT user_id) AS exact_overlap,
      |  TRUE AS est_within_10pct
      |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    val base = CoreQueries.events(spark, dir)
      .select(col("event_type"), col("user_id"))
    // the stored artifact: ONE fixed-size sketch per event type (|types|
    // rows — a pipeline persists this table; here the plan just reuses
    // the tiny aggregate on both sides of the pair cross)
    val sk = base.groupBy("event_type")
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
    val pairs = sk.select(col("event_type").as("type_a"),
        col("sk").as("sk_a"))
      .crossJoin(sk.select(col("event_type").as("type_b"),
        col("sk").as("sk_b")))
      .filter(col("type_a") < col("type_b"))
    // est(A ∩ B) = est(A) + est(B) − est(A ∪ B), all from stored sketches
    val est = pairs.select(col("type_a"), col("type_b"),
      (hll_sketch_estimate(col("sk_a")) +
        hll_sketch_estimate(col("sk_b")) -
        hll_sketch_estimate(expr("hll_union(sk_a, sk_b)")))
        .as("est_overlap"))
    val exact = base.select(col("event_type").as("type_a"), col("user_id"))
      .join(base.select(col("event_type").as("type_b"), col("user_id")),
        "user_id")
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(countDistinct("user_id").as("exact_overlap"))
    exact.join(est, Seq("type_a", "type_b"))
      .select(col("type_a"), col("type_b"), col("exact_overlap"),
        (abs(col("est_overlap") - col("exact_overlap")) <=
          col("exact_overlap") * 0.10).as("est_within_10pct"))
      .orderBy("type_a", "type_b")
  }

  /** KMV (k-minimum-values) distinct sketch ([[graft.ext.Kmv]]) beside
    * the exact counts: md5-deterministic hashes make the sketch a pure
    * function of the data, so — unlike the HLL rows, whose contract is a
    * tolerance band — the ESTIMATES THEMSELVES are adjudicated by value
    * (the oracle replays hashing, k-min selection, and the (k−1)·M/h_k
    * estimator). Construction is one hash projection + one per-group
    * top-k window; every estimate then reads k-row sketches.
    */
  val q257KmvDistinct: QuerySpec = QuerySpec.oracled(
    "q257_kmv_distinct",
    """WITH uk AS (
      |  SELECT event_type, user_id::VARCHAR || ':' ||
      |    (epoch_us(ts) // 86400000000)::VARCHAR AS uk
      |  FROM events WHERE user_id IS NOT NULL),
      |h AS (
      |  SELECT DISTINCT event_type,
      |    ('0x' || substr(md5('kmv:' || uk), 1, 15))::BIGINT
      |      % 1152921504606846976 AS h
      |  FROM uk),
      |r AS (
      |  SELECT event_type, h,
      |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
      |  FROM h),
      |s AS (SELECT * FROM r WHERE rk <= 256),
      |agg AS (
      |  SELECT event_type, count(*) AS n_kept,
      |    max(CASE WHEN rk = 256 THEN h END) AS hk
      |  FROM s GROUP BY 1),
      |ex AS (
      |  SELECT event_type, count(DISTINCT uk) AS exact_distinct
      |  FROM uk GROUP BY 1)
      |SELECT ex.event_type,
      |  CAST(CASE WHEN agg.hk IS NULL THEN agg.n_kept
      |       ELSE (255::HUGEINT * 1152921504606846976) // agg.hk
      |       END AS BIGINT) AS est_distinct,
      |  CAST(ex.exact_distinct AS BIGINT) AS exact_distinct
      |FROM ex JOIN agg ON ex.event_type = agg.event_type
      |ORDER BY ex.event_type""".stripMargin) { (spark, dir) =>
    import graft.ext.Kmv
    val base = CoreQueries.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .select(col("event_type"),
        concat(col("user_id").cast("string"), lit(":"),
          expr("(ts div 1000) div 86400000000").cast("string")).as("uk"))
    val sk = Kmv.sketch(base, "event_type", "uk", k = 256)
    val est = Kmv.estimateDistinct(sk, "event_type", k = 256)
    val exact = base.groupBy("event_type")
      .agg(countDistinct("uk").as("exact_distinct"))
    exact.join(est, Seq("event_type"))
      .select(col("event_type"), col("est_distinct"),
        col("exact_distinct"))
      .orderBy("event_type")
  }

  /** KMV set ALGEBRA ([[graft.ext.Kmv.setEstimates]]): pairwise audience
    * union AND intersection straight from the stored k-row sketches —
    * where q162's HLL needs inclusion–exclusion (three compounding
    * estimates), KMV's shared-sample intersection is one estimate, and
    * being md5-deterministic it is adjudicated by VALUE next to the
    * exact pair counts. T types → T sketches answer all T² overlaps; the
    * exact twin re-scans user sets per pair.
    */
  val q258KmvSetOps: QuerySpec = QuerySpec.oracled(
    "q258_kmv_set_ops",
    """WITH uk0 AS (
      |  SELECT event_type, user_id::VARCHAR || ':' ||
      |    (epoch_us(ts) // 86400000000)::VARCHAR AS uk
      |  FROM events WHERE user_id IS NOT NULL),
      |h AS (
      |  SELECT DISTINCT event_type,
      |    ('0x' || substr(md5('kmv:' || uk), 1, 15))::BIGINT
      |      % 1152921504606846976 AS h
      |  FROM uk0),
      |r AS (
      |  SELECT event_type, h,
      |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
      |  FROM h),
      |s AS (SELECT * FROM r WHERE rk <= 256),
      |tp AS (SELECT DISTINCT event_type FROM s),
      |pairs AS (
      |  SELECT a.event_type AS ga, b.event_type AS gb
      |  FROM tp a JOIN tp b ON a.event_type < b.event_type),
      |sides AS (
      |  SELECT p.ga, p.gb, s.h, 1 AS in_a, 0 AS in_b
      |  FROM pairs p JOIN s ON s.event_type = p.ga
      |  UNION ALL
      |  SELECT p.ga, p.gb, s.h, 0, 1
      |  FROM pairs p JOIN s ON s.event_type = p.gb),
      |uni AS (
      |  SELECT ga, gb, h, max(in_a) AS in_a, max(in_b) AS in_b
      |  FROM sides GROUP BY 1, 2, 3),
      |ur AS (
      |  SELECT *, row_number() OVER (PARTITION BY ga, gb
      |                               ORDER BY h) AS rk
      |  FROM uni),
      |ua AS (
      |  SELECT ga, gb, count(*) AS n_kept,
      |    max(CASE WHEN rk = 256 THEN h END) AS hk,
      |    sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS common
      |  FROM ur WHERE rk <= 256 GROUP BY 1, 2),
      |est AS (
      |  SELECT ga, gb,
      |    CASE WHEN hk IS NULL THEN n_kept
      |         ELSE (255::HUGEINT * 1152921504606846976) // hk
      |         END AS est_union, n_kept, common
      |  FROM ua),
      |u AS (SELECT DISTINCT event_type, uk FROM uk0),
      |exu AS (
      |  SELECT a.ga, a.gb, count(DISTINCT u.uk) AS exact_union
      |  FROM pairs a JOIN u
      |    ON u.event_type = a.ga OR u.event_type = a.gb
      |  GROUP BY 1, 2),
      |exi AS (
      |  SELECT x.event_type AS ga, y.event_type AS gb,
      |    count(DISTINCT x.uk) AS exact_intersect
      |  FROM u x JOIN u y
      |    ON x.uk = y.uk AND x.event_type < y.event_type
      |  GROUP BY 1, 2)
      |SELECT est.ga AS type_a, est.gb AS type_b,
      |  CAST(est.est_union AS BIGINT) AS est_union,
      |  CAST(est.common * est.est_union // est.n_kept AS BIGINT)
      |    AS est_intersect,
      |  CAST(exu.exact_union AS BIGINT) AS exact_union,
      |  CAST(coalesce(exi.exact_intersect, 0) AS BIGINT)
      |    AS exact_intersect
      |FROM est
      |JOIN exu ON est.ga = exu.ga AND est.gb = exu.gb
      |LEFT JOIN exi ON est.ga = exi.ga AND est.gb = exi.gb
      |ORDER BY type_a, type_b""".stripMargin) { (spark, dir) =>
    import graft.ext.Kmv
    val base = CoreQueries.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .select(col("event_type"),
        concat(col("user_id").cast("string"), lit(":"),
          expr("(ts div 1000) div 86400000000").cast("string")).as("uk"))
    val sk = Kmv.sketch(base, "event_type", "uk", k = 256)
    val est = Kmv.setEstimates(sk, "event_type", k = 256)
    val u = base.distinct()
    val pairs = u.select(col("event_type").as("ga")).distinct()
      .join(u.select(col("event_type").as("gb")).distinct(),
        col("ga") < col("gb"))
    val exu = pairs.join(u,
        col("event_type") === col("ga") || col("event_type") === col("gb"))
      .groupBy("ga", "gb")
      .agg(countDistinct("uk").as("exact_union"))
    val exi = u.select(col("event_type").as("ga"), col("uk"))
      .join(u.select(col("event_type").as("gb"), col("uk")), "uk")
      .filter(col("ga") < col("gb"))
      .groupBy("ga", "gb")
      .agg(countDistinct("uk").as("exact_intersect"))
    est.join(exu, Seq("ga", "gb"))
      .join(exi, Seq("ga", "gb"), "left")
      .select(col("ga").as("type_a"), col("gb").as("type_b"),
        col("est_union"), col("est_intersect"), col("exact_union"),
        coalesce(col("exact_intersect"), lit(0L)).as("exact_intersect"))
      .orderBy("type_a", "type_b")
  }

  /** KMV DIFFERENCE estimates ([[graft.ext.Kmv.differenceEstimates]]):
    * |A∖B| and |B∖A| per audience pair straight from the stored k-row
    * sketches — the shared-sample rule again (union-sketch hashes seen
    * only in A sample A∖B), ONE estimate where |A| − |A∩B| compounds
    * two. Completes the q258 set algebra; md5 determinism means the
    * estimates adjudicate by VALUE next to the exact anti-join counts.
    */
  val q263KmvDifference: QuerySpec = QuerySpec.oracled(
    "q263_kmv_difference",
    """WITH uk0 AS (
      |  SELECT event_type, user_id::VARCHAR || ':' ||
      |    (epoch_us(ts) // 86400000000)::VARCHAR AS uk
      |  FROM events WHERE user_id IS NOT NULL),
      |h AS (
      |  SELECT DISTINCT event_type,
      |    ('0x' || substr(md5('kmv:' || uk), 1, 15))::BIGINT
      |      % 1152921504606846976 AS h
      |  FROM uk0),
      |r AS (
      |  SELECT event_type, h,
      |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
      |  FROM h),
      |s AS (SELECT * FROM r WHERE rk <= 256),
      |tp AS (SELECT DISTINCT event_type FROM s),
      |pairs AS (
      |  SELECT a.event_type AS ga, b.event_type AS gb
      |  FROM tp a JOIN tp b ON a.event_type < b.event_type),
      |sides AS (
      |  SELECT p.ga, p.gb, s.h, 1 AS in_a, 0 AS in_b
      |  FROM pairs p JOIN s ON s.event_type = p.ga
      |  UNION ALL
      |  SELECT p.ga, p.gb, s.h, 0, 1
      |  FROM pairs p JOIN s ON s.event_type = p.gb),
      |uni AS (
      |  SELECT ga, gb, h, max(in_a) AS in_a, max(in_b) AS in_b
      |  FROM sides GROUP BY 1, 2, 3),
      |ur AS (
      |  SELECT *, row_number() OVER (PARTITION BY ga, gb
      |                               ORDER BY h) AS rk
      |  FROM uni),
      |ua AS (
      |  SELECT ga, gb, count(*) AS n_kept,
      |    max(CASE WHEN rk = 256 THEN h END) AS hk,
      |    sum(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END) AS only_a,
      |    sum(CASE WHEN in_a = 0 AND in_b = 1 THEN 1 ELSE 0 END) AS only_b
      |  FROM ur WHERE rk <= 256 GROUP BY 1, 2),
      |est AS (
      |  SELECT ga, gb,
      |    CASE WHEN hk IS NULL THEN n_kept
      |         ELSE (255::HUGEINT * 1152921504606846976) // hk
      |         END AS est_union, n_kept, only_a, only_b
      |  FROM ua),
      |u AS (SELECT DISTINCT event_type, uk FROM uk0),
      |exa AS (
      |  SELECT p.ga, p.gb, count(DISTINCT x.uk) AS exact_a_not_b
      |  FROM pairs p JOIN u x ON x.event_type = p.ga
      |  LEFT JOIN u y ON y.event_type = p.gb AND y.uk = x.uk
      |  WHERE y.uk IS NULL GROUP BY 1, 2),
      |exb AS (
      |  SELECT p.ga, p.gb, count(DISTINCT y.uk) AS exact_b_not_a
      |  FROM pairs p JOIN u y ON y.event_type = p.gb
      |  LEFT JOIN u x ON x.event_type = p.ga AND x.uk = y.uk
      |  WHERE x.uk IS NULL GROUP BY 1, 2)
      |SELECT est.ga AS type_a, est.gb AS type_b,
      |  CAST(est.only_a * est.est_union // est.n_kept AS BIGINT)
      |    AS est_a_not_b,
      |  CAST(est.only_b * est.est_union // est.n_kept AS BIGINT)
      |    AS est_b_not_a,
      |  CAST(coalesce(exa.exact_a_not_b, 0) AS BIGINT) AS exact_a_not_b,
      |  CAST(coalesce(exb.exact_b_not_a, 0) AS BIGINT) AS exact_b_not_a
      |FROM est
      |LEFT JOIN exa ON est.ga = exa.ga AND est.gb = exa.gb
      |LEFT JOIN exb ON est.ga = exb.ga AND est.gb = exb.gb
      |ORDER BY type_a, type_b""".stripMargin) { (spark, dir) =>
    import graft.ext.Kmv
    val base = CoreQueries.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .select(col("event_type"),
        concat(col("user_id").cast("string"), lit(":"),
          expr("(ts div 1000) div 86400000000").cast("string")).as("uk"))
    val sk = Kmv.sketch(base, "event_type", "uk", k = 256)
    val est = Kmv.differenceEstimates(sk, "event_type", k = 256)
    val u = base.distinct()
    val ua = u.select(col("event_type").as("ga"), col("uk"))
    val ub = u.select(col("event_type").as("gb"), col("uk"))
    val pairs = ua.select("ga").distinct()
      .join(ub.select("gb").distinct(), col("ga") < col("gb"))
    val exa = pairs.join(ua, Seq("ga"))
      .join(ub, Seq("gb", "uk"), "left_anti")
      .groupBy("ga", "gb").agg(countDistinct("uk").as("exact_a_not_b"))
    val exb = pairs.join(ub, Seq("gb"))
      .join(ua, Seq("ga", "uk"), "left_anti")
      .groupBy("ga", "gb").agg(countDistinct("uk").as("exact_b_not_a"))
    est.join(exa, Seq("ga", "gb"), "left")
      .join(exb, Seq("ga", "gb"), "left")
      .select(col("ga").as("type_a"), col("gb").as("type_b"),
        col("est_a_not_b"), col("est_b_not_a"),
        coalesce(col("exact_a_not_b"), lit(0L)).as("exact_a_not_b"),
        coalesce(col("exact_b_not_a"), lit(0L)).as("exact_b_not_a"))
      .orderBy("type_a", "type_b")
  }

  /** The FULL KMV set algebra in ONE pass ([[graft.ext.Kmv.setAlgebra]]):
    * union, intersection, and BOTH differences per audience pair off a
    * single merged-pair-sketch aggregation — what a profile dashboard
    * calls, where chaining q258's [[graft.ext.Kmv.setEstimates]] and
    * q263's [[graft.ext.Kmv.differenceEstimates]] pays the
    * (pairs × sketch) shuffle twice. Every value is DEFINED byte-equal
    * to the separate estimators (same integer expressions over the same
    * aggregates — KmvSpec pins the join); the oracle replays the whole
    * algebra in HUGEINT.
    */
  val q268KmvSetAlgebra: QuerySpec = QuerySpec.oracled(
    "q268_kmv_set_algebra",
    """WITH uk0 AS (
      |  SELECT event_type, user_id::VARCHAR || ':' ||
      |    (epoch_us(ts) // 86400000000)::VARCHAR AS uk
      |  FROM events WHERE user_id IS NOT NULL),
      |h AS (
      |  SELECT DISTINCT event_type,
      |    ('0x' || substr(md5('kmv:' || uk), 1, 15))::BIGINT
      |      % 1152921504606846976 AS h
      |  FROM uk0),
      |r AS (
      |  SELECT event_type, h,
      |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
      |  FROM h),
      |s AS (SELECT * FROM r WHERE rk <= 256),
      |tp AS (SELECT DISTINCT event_type FROM s),
      |pairs AS (
      |  SELECT a.event_type AS ga, b.event_type AS gb
      |  FROM tp a JOIN tp b ON a.event_type < b.event_type),
      |sides AS (
      |  SELECT p.ga, p.gb, s.h, 1 AS in_a, 0 AS in_b
      |  FROM pairs p JOIN s ON s.event_type = p.ga
      |  UNION ALL
      |  SELECT p.ga, p.gb, s.h, 0, 1
      |  FROM pairs p JOIN s ON s.event_type = p.gb),
      |uni AS (
      |  SELECT ga, gb, h, max(in_a) AS in_a, max(in_b) AS in_b
      |  FROM sides GROUP BY 1, 2, 3),
      |ur AS (
      |  SELECT *, row_number() OVER (PARTITION BY ga, gb
      |                               ORDER BY h) AS rk
      |  FROM uni),
      |ua AS (
      |  SELECT ga, gb, count(*) AS n_kept,
      |    max(CASE WHEN rk = 256 THEN h END) AS hk,
      |    sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS common,
      |    sum(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END) AS only_a,
      |    sum(CASE WHEN in_a = 0 AND in_b = 1 THEN 1 ELSE 0 END) AS only_b
      |  FROM ur WHERE rk <= 256 GROUP BY 1, 2),
      |est AS (
      |  SELECT ga, gb,
      |    CASE WHEN hk IS NULL THEN n_kept
      |         ELSE (255::HUGEINT * 1152921504606846976) // hk
      |         END AS est_union, n_kept, common, only_a, only_b
      |  FROM ua)
      |SELECT ga AS type_a, gb AS type_b,
      |  CAST(est_union AS BIGINT) AS est_union,
      |  CAST(common * est_union // n_kept AS BIGINT) AS est_intersect,
      |  CAST(only_a * est_union // n_kept AS BIGINT) AS est_a_not_b,
      |  CAST(only_b * est_union // n_kept AS BIGINT) AS est_b_not_a
      |FROM est
      |ORDER BY type_a, type_b""".stripMargin) { (spark, dir) =>
    import graft.ext.Kmv
    val base = CoreQueries.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .select(col("event_type"),
        concat(col("user_id").cast("string"), lit(":"),
          expr("(ts div 1000) div 86400000000").cast("string")).as("uk"))
    Kmv.setAlgebra(
      Kmv.sketch(base, "event_type", "uk", k = 256), "event_type", k = 256)
      .select(col("ga").as("type_a"), col("gb").as("type_b"),
        col("est_union"), col("est_intersect"),
        col("est_a_not_b"), col("est_b_not_a"))
      .orderBy("type_a", "type_b")
  }

  /** q257's KMV sketch MAINTAINED over the q256 two-file event stream:
    * each micro-batch's (group, hash) rows union the persisted sketch
    * state and re-take the per-group k smallest (temp-write + swap, like
    * q256's priority state). KMV is a pure per-group bottom-k of
    * deterministic hashes, so truncated intermediate states lose nothing
    * and the maintained sketch — and every estimate off it — equals the
    * one-shot batch sketch EXACTLY. State is |groups|·k rows per fold at
    * any ingest scale; the oracle is q257's full replay restricted to
    * the staged rows.
    */
  val q259KmvStream: QuerySpec = QuerySpec.oracled(
    "q259_kmv_stream",
    """WITH uk AS (
      |  SELECT event_type, user_id::VARCHAR || ':' ||
      |    (epoch_us(ts) // 86400000000)::VARCHAR AS uk
      |  FROM events WHERE user_id IS NOT NULL),
      |h AS (
      |  SELECT DISTINCT event_type,
      |    ('0x' || substr(md5('kmv:' || uk), 1, 15))::BIGINT
      |      % 1152921504606846976 AS h
      |  FROM uk),
      |r AS (
      |  SELECT event_type, h,
      |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
      |  FROM h),
      |s AS (SELECT * FROM r WHERE rk <= 256),
      |agg AS (
      |  SELECT event_type, count(*) AS n_kept,
      |    max(CASE WHEN rk = 256 THEN h END) AS hk
      |  FROM s GROUP BY 1),
      |ex AS (
      |  SELECT event_type, count(DISTINCT uk) AS exact_distinct
      |  FROM uk GROUP BY 1)
      |SELECT ex.event_type,
      |  CAST(CASE WHEN agg.hk IS NULL THEN agg.n_kept
      |       ELSE (255::HUGEINT * 1152921504606846976) // agg.hk
      |       END AS BIGINT) AS est_distinct,
      |  CAST(ex.exact_distinct AS BIGINT) AS exact_distinct
      |FROM ex JOIN agg ON ex.event_type = agg.event_type
      |ORDER BY ex.event_type""".stripMargin) { (spark, dir) =>
    import graft.ext.Kmv
    val k = 256
    val staged = stageQ259(spark, dir)
    val stateDir = QuerySpec.stagedPath("q259_state", dir)
    val ckpt = QuerySpec.stagedPath("q259_ckpt", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stateDir))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val schema = spark.read.parquet(s"$staged/a.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged)
    spark.streams.active.filter(_.name == "q259_fold").foreach(_.stop())
    val q = stream.writeStream
      .queryName("q259_fold")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val batchSk = Kmv.sketch(batch, "event_type", "uk", k)
          .select("event_type", "h")
        val state = new java.io.File(stateDir)
        val unioned =
          if (state.exists())
            batchSk.unionByName(
              batch.sparkSession.read.parquet(stateDir))
          else batchSk
        // the shared KMV merge rule — same selection as Kmv.sketch, so
        // the maintained state can never drift from the one-shot sketch
        val next = Kmv.merge(unioned, "event_type", k)
          .select("event_type", "h")
        val tmp = s"${stateDir}__next"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
        next.coalesce(1).write.parquet(tmp)
        org.apache.commons.io.FileUtils.deleteQuietly(state)
        if (!new java.io.File(tmp).renameTo(state))
          throw new IllegalStateException(s"state swap failed: $tmp")
        ()
      }
      .start()
    q.awaitTermination()
    // rank the persisted state back into sketch rows for the estimator
    val sk = Kmv.merge(spark.read.parquet(stateDir), "event_type", k)
    val est = Kmv.estimateDistinct(sk, "event_type", k)
    val exact = spark.read.parquet(s"$staged/a.parquet")
      .unionByName(spark.read.parquet(s"$staged/b.parquet"))
      .groupBy("event_type")
      .agg(countDistinct("uk").as("exact_distinct"))
    exact.join(est, Seq("event_type"))
      .select(col("event_type"), col("est_distinct"), col("exact_distinct"))
      .orderBy("event_type")
  }.withSetup((s, d) => { stageQ259(s, d); () })

  private val q259Staging = new QuerySpec.StagingCache[String]

  /** Stage the user-day projection as TWO parquet files (event_id parity
    * split) for the KMV maintenance stream. Memoized per sf dir.
    */
  private def stageQ259(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    q259Staging.getOrStage(dir) {
      val staged = new java.io.File(QuerySpec.stagedPath("q259_events", dir))
      org.apache.commons.io.FileUtils.deleteQuietly(staged)
      staged.mkdirs()
      val ev = CoreQueries.events(spark, dir)
        .filter(col("user_id").isNotNull)
        .select(col("event_id"), col("event_type"),
          concat(col("user_id").cast("string"), lit(":"),
            expr("(ts div 1000) div 86400000000").cast("string")).as("uk"))
      ev.filter(col("event_id") % 2 === 0).drop("event_id").coalesce(1)
        .write.parquet(s"$staged/00")
      flattenPart(spark, staged.toString, "00", "a.parquet")
      ev.filter(col("event_id") % 2 === 1).drop("event_id").coalesce(1)
        .write.parquet(s"$staged/01")
      flattenPart(spark, staged.toString, "01", "b.parquet")
      staged.toString
    }

  /** q40's forward workload on the NATIVE as-of exec — locks the
    * descending-scan merge path (forward = earliest strictly-later right
    * row) against the same DuckDB ASOF JOIN oracle the composed form
    * answers.
    */
  val q154AsofNativeForward: QuerySpec = QuerySpec.oracled(
    "q154_asof_native_fwd",
    """WITH ded AS (
      |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS next_orderkey
      |  FROM orders GROUP BY o_custkey, o_orderdate)
      |SELECT l.o_orderkey, d.next_orderkey,
      |  CAST(epoch_us(d.o_orderdate) - epoch_us(l.o_orderdate) AS BIGINT)
      |    AS wait_us
      |FROM orders l ASOF JOIN ded d
      |  ON l.o_custkey = d.o_custkey AND l.o_orderdate < d.o_orderdate
      |ORDER BY l.o_orderkey""".stripMargin) { (spark, dir) =>
    def withUs(df: org.apache.spark.sql.DataFrame, name: String) =
      df.withColumn(name, unix_micros(col("o_orderdate").cast("timestamp")))
    val left = withUs(spark.read.parquet(s"$dir/orders.parquet"), "t_us")
    val ded = withUs(
      spark.read.parquet(s"$dir/orders.parquet")
        .groupBy("o_custkey", "o_orderdate")
        .agg(max("o_orderkey").as("next_orderkey")), "next_us")
      .drop("o_orderdate")
    graft.plans.AsofJoinNative.asof(
      left, ded, Seq("o_custkey"), "t_us", "next_us",
      Seq("next_orderkey", "next_us"), forward = true, strict = true)
      .filter(col("asof_next_orderkey").isNotNull)
      .select(col("o_orderkey"),
        col("asof_next_orderkey").as("next_orderkey"),
        (col("asof_next_us") - col("t_us")).as("wait_us"))
      .orderBy("o_orderkey")
  }

  /** Count-min sketch frequency estimation ([[graft.ext.Cms]]): build the
    * 4×512 counter table over every event's user_id WITHOUT ever shuffling
    * on the key (map-side combine collapses each partition to ≤ d·w
    * counter rows — the sketch's whole point at 100 TB), then probe the
    * 20 heaviest users. The md5-derived bucket hashes are engine-portable,
    * so the oracle replays build, probe, and min-reduce bit-for-bit — the
    * q168 standard (adjudicate the estimates, not a tolerance boolean).
    * `never_under` carries CMS's one-sided guarantee (est ≥ true) as a
    * per-row adjudicated column; the exact-count branch exists only to
    * select probes and expose the true counts beside the estimates.
    */
  val q174CmsFreq: QuerySpec = QuerySpec.oracled(
    "q174_cms_freq",
    """WITH obs AS (SELECT user_id FROM events),
      |sk AS (
      |  SELECT t.j,
      |    ('0x' || substr(md5(t.j::VARCHAR || ':' || obs.user_id::VARCHAR),
      |      1, 15))::BIGINT % 512 AS bucket,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM obs CROSS JOIN range(4) t(j) GROUP BY 1, 2),
      |tc AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS true_cnt
      |  FROM obs GROUP BY 1),
      |top AS (
      |  SELECT user_id, true_cnt FROM tc
      |  ORDER BY true_cnt DESC, user_id LIMIT 20),
      |pr AS (
      |  SELECT top.user_id, t.j,
      |    ('0x' || substr(md5(t.j::VARCHAR || ':' || top.user_id::VARCHAR),
      |      1, 15))::BIGINT % 512 AS bucket
      |  FROM top CROSS JOIN range(4) t(j)),
      |est AS (
      |  SELECT pr.user_id,
      |    CAST(min(coalesce(sk.cnt, 0)) AS BIGINT) AS est_cnt
      |  FROM pr LEFT JOIN sk ON sk.j = pr.j AND sk.bucket = pr.bucket
      |  GROUP BY 1)
      |SELECT top.user_id, top.true_cnt, est.est_cnt,
      |  est.est_cnt >= top.true_cnt AS never_under
      |FROM top JOIN est USING (user_id)
      |ORDER BY user_id""".stripMargin) { (spark, dir) =>
    val obs = CoreQueries.events(spark, dir).select(col("user_id"))
    val sk = graft.ext.Cms.sketch(obs, "user_id", depth = 4, width = 512)
    val top = obs.groupBy("user_id")
      .agg(count(lit(1)).as("true_cnt"))
      .orderBy(col("true_cnt").desc, col("user_id"))
      .limit(20)
    graft.ext.Cms
      .estimate(sk, top.select("user_id"), "user_id", depth = 4, width = 512)
      .join(top, "user_id")
      .select(col("user_id"), col("true_cnt"), col("est_cnt"),
        (col("est_cnt") >= col("true_cnt")).as("never_under"))
      .orderBy("user_id")
  }

  /** Join-cardinality estimation from two count-min sketches
    * ([[graft.ext.Cms.joinSizeEstimate]]): `|A ⋈ B|` on user_id between
    * the click and purchase cohorts, estimated as the AMS/CM inner
    * product `min_j Σ_b cntA·cntB` — the number a cost-based planner
    * wants BEFORE running the join, priced at an O(d·w) counter merge
    * instead of a shuffle of either input. One-sided like the point
    * estimate (collisions only add mass), carried as the adjudicated
    * `never_under` column beside the exact pair count. The md5 bucket
    * hashes make build + merge engine-portable, so the oracle replays
    * the whole estimator bit-for-bit (the q174 standard).
    */
  val q176CmsJoinSize: QuerySpec = QuerySpec.oracled(
    "q176_cms_join_size",
    """WITH a AS (SELECT user_id FROM events WHERE event_type = 'click'),
      |b AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
      |ska AS (
      |  SELECT t.j,
      |    ('0x' || substr(md5(t.j::VARCHAR || ':' || a.user_id::VARCHAR),
      |      1, 15))::BIGINT % 512 AS bucket,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM a CROSS JOIN range(4) t(j) GROUP BY 1, 2),
      |skb AS (
      |  SELECT t.j,
      |    ('0x' || substr(md5(t.j::VARCHAR || ':' || b.user_id::VARCHAR),
      |      1, 15))::BIGINT % 512 AS bucket,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM b CROSS JOIN range(4) t(j) GROUP BY 1, 2),
      |ip AS (
      |  SELECT ska.j, CAST(sum(ska.cnt * skb.cnt) AS BIGINT) AS ip
      |  FROM ska JOIN skb ON ska.j = skb.j AND ska.bucket = skb.bucket
      |  GROUP BY 1),
      |est AS (
      |  SELECT CAST(coalesce(min(ip), 0) AS BIGINT) AS est_pairs FROM ip),
      |tru AS (
      |  SELECT CAST(sum(ca.c * cb.c) AS BIGINT) AS true_pairs
      |  FROM (SELECT user_id, count(*) AS c FROM a GROUP BY 1) ca
      |  JOIN (SELECT user_id, count(*) AS c FROM b GROUP BY 1) cb
      |    USING (user_id))
      |SELECT tru.true_pairs, est.est_pairs,
      |  est.est_pairs >= tru.true_pairs AS never_under
      |FROM tru CROSS JOIN est""".stripMargin) { (spark, dir) =>
    val ev = CoreQueries.events(spark, dir)
    val a = ev.filter(col("event_type") === "click").select("user_id")
    val b = ev.filter(col("event_type") === "purchase").select("user_id")
    val est = graft.ext.Cms.joinSizeEstimate(
      graft.ext.Cms.sketch(a, "user_id", depth = 4, width = 512),
      graft.ext.Cms.sketch(b, "user_id", depth = 4, width = 512))
    val tru = a.groupBy("user_id").agg(count(lit(1)).as("ca"))
      .join(b.groupBy("user_id").agg(count(lit(1)).as("cb")), "user_id")
      .agg(sum(col("ca") * col("cb")).cast("long").as("true_pairs"))
    tru.crossJoin(est)
      .select(col("true_pairs"), col("est_pairs"),
        (col("est_pairs") >= col("true_pairs")).as("never_under"))
  }

  /** Watermark-planning disorder audit: given an ARRIVAL log, how far
    * does event time lag the running event-time maximum — the number that
    * decides `withWatermark`'s delay (too small → late data dropped, too
    * large → state lingers). Lateness of an event is `max(event time so
    * far in arrival order) − its event time`; per type the audit reports
    * the worst lag and how much data a 30 s / 60 s watermark would drop
    * (exact integer µs + floor-div ppm). The fixture simulates the
    * arrival log deterministically (md5 ingest jitter ≤ 120 s on top of
    * event time) since the test events arrive pre-sorted; on a real
    * ingest the arrival sequence is the log's own order.
    *
    * 100 TB shape: one window sweep per type over arrival order (the
    * same per-key sort a streaming job pays anyway) then a map-side-
    * combinable rollup to |types| rows; all-BIGINT so the oracle
    * adjudicates the recommendation itself.
    */
  val q181DisorderAudit: QuerySpec = QuerySpec.oracled(
    "q181_disorder_audit",
    """WITH e AS (
      |  SELECT event_type, epoch_us(ts) AS tus,
      |    epoch_us(ts) +
      |      ('0x' || substr(md5('arr:' || CAST(event_id AS VARCHAR)),
      |        1, 15))::BIGINT % 120000000 AS arr_us,
      |    event_id
      |  FROM events),
      |r AS (
      |  SELECT event_type, tus,
      |    max(tus) OVER (PARTITION BY event_type
      |                   ORDER BY arr_us, event_id
      |                   ROWS UNBOUNDED PRECEDING) AS runmax
      |  FROM e)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |  CAST(max(runmax - tus) AS BIGINT) AS max_late_us,
      |  CAST(sum(CASE WHEN runmax - tus > 30000000 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_late_30s,
      |  CAST(sum(CASE WHEN runmax - tus > 60000000 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_late_60s,
      |  CAST(1000000 * sum(CASE WHEN runmax - tus > 60000000
      |    THEN 1 ELSE 0 END) AS BIGINT) // count(*) AS drop_60s_ppm
      |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin) {
    (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val e = CoreQueries.events(spark, dir)
      .select(col("event_type"), col("event_id"),
        expr("ts div 1000").as("tus"))
      .withColumn("arr_us", col("tus") +
        conv(substring(md5(concat(lit("arr:"),
          col("event_id").cast("string"))), 1, 15), 16, 10).cast("long")
          % 120000000L)
    val w = Window.partitionBy("event_type")
      .orderBy(col("arr_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("runmax", max("tus").over(w))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        max(col("runmax") - col("tus")).as("max_late_us"),
        sum(when(col("runmax") - col("tus") > 30000000L, 1L).otherwise(0L))
          .cast("long").as("n_late_30s"),
        sum(when(col("runmax") - col("tus") > 60000000L, 1L).otherwise(0L))
          .cast("long").as("n_late_60s"))
      .withColumn("drop_60s_ppm",
        expr("1000000 * n_late_60s DIV n"))
      .orderBy("event_type")
  }

  /** Streaming per-user quota accounting ([[graft.streaming.RateLimit]]):
    * `transformWithState` with MAP state — one counter per (user,
    * tumbling day) — counts arrivals across micro-batches and reports
    * what a 3-per-day quota admits vs drops (binding at both gate SFs:
    * 1,739 windows exceed it at sf0.01). Map-keyed windows keep
    * stragglers exact across batch boundaries (a "current window"
    * ValueState would under-count), which is what makes this stream ≡
    * the batch GROUP BY the oracle runs. Same RocksDB store + staged
    * 3-file source as q150; emission is the running per-window count
    * (Update mode), the final answer its max (monotone).
    */
  val q185StreamQuota: QuerySpec = QuerySpec.oracled(
    "q185_stream_quota",
    """SELECT user_id,
      |  (epoch_us(ts) // 86400000000) * 86400000000 AS win_us,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(least(count(*), 3) AS BIGINT) AS accepted,
      |  CAST(count(*) - least(count(*), 3) AS BIGINT) AS dropped
      |FROM events GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    import graft.streaming.RateLimit._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staged = stageQ150(spark, dir)
    val schema = spark.read.parquet(s"$staged/00.parquet").schema

    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val evEnc = org.apache.spark.sql.Encoders.product[Ev]
      implicit val outEnc = org.apache.spark.sql.Encoders.product[WinCount]
      implicit val keyEnc = org.apache.spark.sql.Encoders.scalaLong
      val out = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
        .as[Ev](evEnc)
        .groupByKey(_.user_id)(keyEnc)
        .transformWithState(new QuotaProcessor(86400000000L),
          TimeMode.None(), OutputMode.Update(), outEnc)
      spark.streams.active
        .filter(_.name == "q185_mem").foreach(_.stop())
      drainScoped(spark, staged)(out.writeStream
        .outputMode("update")
        .format("memory")
        .queryName("q185_mem")
        .trigger(Trigger.AvailableNow())
        .start())
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
    spark.table("q185_mem")
      .groupBy("user_id", "win_us")
      .agg(max("n_events").as("n_events"))
      .select(col("user_id"), col("win_us"), col("n_events"),
        least(col("n_events"), lit(3L)).as("accepted"),
        (col("n_events") - least(col("n_events"), lit(3L))).as("dropped"))
      .orderBy("user_id", "win_us")
  }.withSetup((s, d) => { stageQ150(s, d); () })

  val all: Seq[QuerySpec] =
    Seq(q28AsofJoin, q29Sessionize, q30StreamingWindow, q38SessionWindow,
      q40AsofForward, q43StreamingDedup, q50StreamingSliding,
      q51AsofTolerance, q54StreamingDedupBounded, q70StreamingFunnel,
      q237StreamQualityGate, q239SingerStream, q240StreamScd2Enrich,
      q245SingerSnapshotIngest, q247SingerStreamWrite,
      q260SingerIngestBucketed,
      q251SingerMultiStream, q252SingerStateBookmarks,
      q261SingerSchemaEvolution, q255PrioritySample,
      q256PrioritySampleStream, q266PrioritySampleWide,
      q267PrioritySampleWideStream, q277QuantileSketch,
      q278QuantileSketchStream,
      q75WindowedDedup, q77StreamStreamJoin, q84StreamStaticJoin,
      q89StreamLeftOuter, q100StreamingSnapshot, q118StreamingTopk,
      q124ChainedWindows, q130DedupWindow, q150TransformWithState,
      q151AsofNative, q152SlidingJoinAgg, q153BitmaskCover,
      q154AsofNativeForward, q157HllRollup, q158HistQuantileRollup,
      q162HllIntersection, q257KmvDistinct, q258KmvSetOps, q259KmvStream,
      q263KmvDifference, q268KmvSetAlgebra,
      q166RollingP90, q168HdrQuantile, q174CmsFreq,
      q176CmsJoinSize, q181DisorderAudit, q185StreamQuota,
      q214StreamFullOuter, q217TimerSessions)

  /** q38's session report rebuilt from RAW transformWithState primitives
    * ([[graft.streaming.TimerSessions]]): LIST state buffers each user's
    * events, an event-time TIMER arms at `last + gap`, and sessions emit
    * from `handleExpiredTimer` only once the WATERMARK proves them closed
    * — completing the Spark 4 stateful API surface (ValueState q150,
    * MapState q185, ListState + timers here) with the push-based emission
    * contract custom close rules need. Adjudicated against the IDENTICAL
    * batch gap-rule oracle as q38, so native `session_window` and the
    * hand-built timer machine must agree row-for-row. Same sentinel
    * staging advances the watermark so every timer fires before the
    * AvailableNow run ends.
    */
  lazy val q217TimerSessions: QuerySpec = QuerySpec.oracled(
    "q217_timer_sessions",
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
      |l AS (
      |  SELECT user_id, event_id, tus,
      |    lag(tus) OVER (PARTITION BY user_id
      |                   ORDER BY tus, event_id) AS prev
      |  FROM e),
      |f AS (
      |  SELECT user_id, event_id, tus,
      |    CASE WHEN prev IS NULL OR tus - prev >= 1800000000
      |         THEN 1 ELSE 0 END AS brk
      |  FROM l),
      |g AS (
      |  SELECT user_id, tus,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY tus, event_id
      |                   ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM f)
      |SELECT user_id,
      |  min(tus) AS session_start_us,
      |  max(tus) + 1800000000 AS session_end_us,
      |  count(*) AS n_events
      |FROM g GROUP BY user_id, sid
      |ORDER BY user_id, session_start_us""".stripMargin) { (spark, dir) =>
    import graft.streaming.TimerSessions._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staged = stageQ38(spark, dir)
    val schema = spark.read.parquet(s"$staged/00.parquet").schema

    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      implicit val evEnc = org.apache.spark.sql.Encoders.product[TimerEvent]
      implicit val outEnc = org.apache.spark.sql.Encoders.product[Session]
      implicit val keyEnc = org.apache.spark.sql.Encoders.scalaLong
      val out = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
        .withWatermark("ts_ts", "1 hour")
        .as[TimerEvent](evEnc)
        .groupByKey(_.user_id)(keyEnc)
        .transformWithState(new SessionEmitProcessor(1800000000L),
          TimeMode.EventTime(), OutputMode.Append(), outEnc)
      spark.streams.active
        .filter(_.name == "q217_mem").foreach(_.stop())
      drainScoped(spark, staged)(out.writeStream
        .outputMode("append")
        .format("memory")
        .queryName("q217_mem")
        .trigger(Trigger.AvailableNow())
        .start())
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
    spark.table("q217_mem")
      .filter(col("user_id") >= 0)
      .orderBy("user_id", "session_start_us")
  }.withSetup((s, d) => { stageQ38(s, d); () })

  /** Stream-stream FULL OUTER join — completing the streaming join
    * family (q77 inner, q89 left-outer): unmatched VIEWS emit null-click
    * rows and unmatched CLICKS emit null-view rows, both watermark-driven
    * (a row can only be declared unmatched once both watermarks pass its
    * join horizon — q89's sentinel pair drags them forward). This is the
    * reconciliation shape: neither side may silently drop. State stays
    * bounded by the same 30-min range condition. Nullable ids leave as
    * −1-coalesced BIGINTs so the adjudicated columns are never-null.
    */
  lazy val q214StreamFullOuter: QuerySpec = QuerySpec.oracled(
    "q214_stream_full_outer",
    """WITH e AS (
      |  SELECT event_id, user_id, event_type,
      |    epoch_ns(ts) // 1000 AS tus
      |  FROM events),
      |v AS (SELECT user_id AS vu, event_id AS view_id, tus AS vt FROM e
      |      WHERE event_type = 'view'),
      |c AS (SELECT user_id AS cu, event_id AS click_id, tus AS ct FROM e
      |      WHERE event_type = 'click')
      |SELECT coalesce(v.vu, c.cu) AS user_id,
      |  coalesce(v.view_id, -1) AS view_id,
      |  coalesce(c.click_id, -1) AS click_id,
      |  coalesce(c.ct - v.vt, -1) AS lag_us
      |FROM v FULL JOIN c ON v.vu = c.cu
      |  AND c.ct > v.vt AND c.ct <= v.vt + 1800000000
      |ORDER BY user_id, view_id, click_id""".stripMargin) { (spark, dir) =>
    val staged = stageQ89(spark, dir)
    val schema = spark.read.parquet(s"$staged/00.parquet").schema
    def side(eventType: String, prefix: String) = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged)
      .filter(col("event_type") === eventType)
      .select(
        col("user_id").as(s"${prefix}_user"),
        col("event_id").as(s"${prefix}_id"),
        col("ts_ts").as(s"${prefix}_ts"))
      .withWatermark(s"${prefix}_ts", "1 hour")
    val joined = side("view", "v").join(side("click", "c"),
      col("v_user") === col("c_user") &&
        col("c_ts") > col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"),
      "full_outer")
    spark.streams.active.filter(_.name == "q214_mem").foreach(_.stop())
    drainScoped(spark, staged)(joined.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("q214_mem")
      .trigger(Trigger.AvailableNow())
      .start())
    spark.table("q214_mem")
      .select(coalesce(col("v_user"), col("c_user")).as("user_id"),
        coalesce(col("v_id"), lit(-1L)).as("view_id"),
        coalesce(col("c_id"), lit(-1L)).as("click_id"),
        coalesce(unix_micros(col("c_ts")) - unix_micros(col("v_ts")),
          lit(-1L)).as("lag_us"))
      .filter(col("user_id") >= 0)
      .orderBy("user_id", "view_id", "click_id")
  }.withSetup((s, d) => { stageQ89(s, d); () })

  /** Streaming twin of the batch funnel (q63): per-user custom state via
    * `mapGroupsWithState` ([[graft.streaming.StreamingFunnel]]), adjudicated
    * against the SAME join-chain SQL oracle as q63 — stream ≡ batch. The
    * memory sink collects one update row per (user, batch); the final
    * stage per user is the max (stages only advance).
    */
  lazy val q70StreamingFunnel: QuerySpec = QuerySpec.oracled(
    "q70_streaming_funnel",
    AnalyticsQueries.q63Funnel.sql.get) { (spark, dir) =>
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staged = stageQ30(spark, dir)
    val schema = spark.read.parquet(s"$staged/events.parquet").schema
    val ev = spark.readStream.schema(schema).parquet(staged)
      .select(col("user_id"), col("event_type").as("et"),
        expr("ts div 1000").as("tus"))
      .as[graft.streaming.StreamingFunnel.FunnelEvent]
    spark.streams.active.filter(_.name == "q70_mem").foreach(_.stop())
    drainScoped(spark, staged)(graft.streaming.StreamingFunnel.funnelStages(ev)
      .toDF("user_id", "funnel_stage")
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName("q70_mem")
      .trigger(Trigger.AvailableNow())
      .start())
    spark.table("q70_mem")
      .groupBy("user_id")
      .agg(max("funnel_stage").as("funnel_stage"))
      .orderBy("user_id")
  }.withSetup((s, d) => { stageQ30(s, d); () })
}
