package perfbench

import java.nio.file.{Paths, StandardCopyOption, Files => NioFiles}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.conf.GluestickConf
import graft.ext.{ClusterIndex, DedupIndex, Retrieval, SearchIndex}
import graft.operators.{Export, ExportOptions, Snapshot}
import graft.singer.{SingerOptions, SingerSink}
import graft.sources.{Reader, ReaderOptions}

/** One timed operation: its kind and how many input items it handled. */
final case class Op(kind: String, items: Long)

/** A workload drives the program's public API from one closed-loop client.
  * `seed` builds the starting state under `dir`, `open` starts what the
  * ops need, then `step(n)` runs operation n: warm-up first, then the
  * timed ones.
  */
trait Workload {
  def seed(dir: String): Unit
  def open(): Unit = ()
  def hasNext(n: Int): Boolean
  /** The kind of op n, before it runs. */
  def kind(n: Int): String
  /** Whether op n completes a whole cycle of the workload's op mix. */
  def cycleEnd(n: Int): Boolean = true
  def step(n: Int): Op
  /** Traced-only measurements taken after `op`, outside its timing. */
  def probe(op: Op): Map[String, Double] = Map.empty
  def close(): Unit = ()
  /** Inputs consumed so far (syncs, ingested batches). */
  def consumed: Int
  def check(f: JsonNodeFactory): ObjectNode
}

object Workload {
  def apply(
      name: String, spark: SparkSession, p: JsonNode, tracer: Tracer,
      out: String): Workload = name match {
    case "etl_sync" => new EtlSync(spark, p, tracer, out)
    case "search_mixed" => new SearchMixed(spark, p, tracer, out)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def strings(n: JsonNode): Seq[String] =
    n.elements().asScala.map(_.asText).toSeq
}

/** Incremental tenant syncs: each op reads a fresh `sync-output/` (a CSV
  * and a parquet stream typed by `catalog.json`), merges it keep-last by
  * PK into the growing snapshot, exports the merged stream as parquet and
  * writes the batch as Singer messages.
  */
final class EtlSync(
    spark: SparkSession, p: JsonNode, tracer: Tracer, out: String)
    extends Workload {
  private val syncs = Workload.strings(p.get("syncs"))
  private val streams = Seq("orders", "customers")
  private var snapDir = ""
  private var done = 0

  private def conf(sync: String) = GluestickConf(Map("ROOT_DIR" -> sync))

  private def read(sync: String, stream: String): DataFrame = {
    val reader = Reader(spark, Some(s"$sync/sync-output"), Some(sync),
      conf = conf(sync))
    reader.get(stream, ReaderOptions(catalogTypes = true)).getOrElse(
      throw new IllegalStateException(s"stream $stream missing in $sync"))
  }

  def seed(dir: String): Unit = {
    snapDir = s"$dir/snapshots"
    streams.foreach { s =>
      tracer.setup("operators.snapshot_seed") {
        Snapshot.snapshotRecords(spark, Some(read(syncs.head, s)), s, snapDir)
      }
    }
  }

  def hasNext(n: Int): Boolean = n + 1 < syncs.size

  def kind(n: Int): String = "sync"

  def step(n: Int): Op = {
    val sync = syncs(n + 1)
    val opOut = f"$out/op-$n%05d"
    var items = 0L
    streams.foreach { s =>
      val batch = tracer.span("sources.get")(read(sync, s))
      val merged = tracer.span("operators.snapshot", Seq(snapDir)) {
        Snapshot.snapshotRecords(spark, Some(batch), s, snapDir).get
      }
      tracer.span("operators.export", Seq(s"$out/export")) {
        Export.toExport(merged, s, s"$out/export",
          ExportOptions(exportFormat = Some("parquet")), conf(sync))
      }
      tracer.span("singer.to_singer", Seq(opOut)) {
        SingerSink.toSinger(batch, s, opOut,
          SingerOptions(keys = Seq("id"), filename = s"$s.singer"),
          conf(sync))
      }
      items += p.get("records").get(n + 1).get(s).asLong
    }
    done = n + 1
    Op("sync", items)
  }

  def consumed: Int = done

  /** Row count and checksum of each final snapshot; the generator
    * computes the same from its own keep-last map.
    */
  def check(f: JsonNodeFactory): ObjectNode = {
    val o = f.objectNode()
    val hash = Map(
      "orders" -> ("id * 1000003 + seq * 7919 + " +
        "CAST(round(amount * 100) AS BIGINT) * 31 + " +
        "IF(active, 17, 0) + unix_seconds(updated_at)"),
      "customers" -> ("id * 1000003 + seq * 7919 + " +
        "CAST(round(score * 1000) AS BIGINT) * 31 + " +
        "IF(vip, 17, 0) + unix_seconds(signup_at)"))
    streams.foreach { s =>
      val r = Snapshot.readSnapshots(spark, s, snapDir).get
        .agg(count(lit(1)), sum(expr(hash(s)))).head()
      o.putArray(s).add(r.getLong(0)).add(r.getLong(1))
    }
    o
  }
}

/** BM25 queries against a search index that ingest keeps growing. Op
  * `first_ingest` (the last warm-up op) and every `ingest_every`-th op
  * after it move one pre-generated batch file into the watched directory
  * of a file-source stream and wait for its `foreachBatch` body:
  * dedup-index fold, cluster fold, search-index fold. Every other op
  * answers one query, so queries read a growing number of committed
  * deltas.
  */
final class SearchMixed(
    spark: SparkSession, p: JsonNode, tracer: Tracer, out: String)
    extends Workload {
  import spark.implicits._

  private val batches = p.get("batches").elements().asScala.toIndexedSeq
  private val queries: IndexedSeq[Seq[String]] =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(p.get("queries").asText))
      .elements().asScala.map(Workload.strings).toIndexedSeq
  private val watch = p.get("watch").asText
  private val ingestEvery = p.get("ingest_every").asInt
  private val firstIngest = p.get("first_ingest").asInt
  private val checkEvery = p.get("check_every").asInt
  private val k = 10
  private var idx, cl, search = ""
  private var query: StreamingQuery = _
  private var nBatches, nQueries = 0
  /** Pairs the last traced fold emitted. */
  @volatile private var pairsOut: Option[Long] = None
  /** Sampled answers: (query index, batches ingested, rows). */
  private val sampled = ArrayBuffer.empty[(Int, Int, Set[String])]

  private def isIngest(n: Int): Boolean =
    cycleEnd(n) && nBatches < batches.size

  def seed(dir: String): Unit = {
    idx = s"$dir/dedup"
    cl = s"$dir/clusters"
    search = s"$dir/search"
    val corpus = spark.read.parquet(p.get("seed").asText)
    tracer.setup("ext.dedup_build") {
      DedupIndex.build(spark, corpus, idx, "docs", "doc_id", "text")
    }
    tracer.setup("ext.cluster_build") {
      ClusterIndex.build(spark,
        DedupIndex.pairsWithin(spark, idx, "docs").select("id_a", "id_b"),
        cl, "dups")
    }
    tracer.setup("ext.search_build") {
      SearchIndex.build(spark, corpus, search, "corpus", "doc_id", "text")
    }
  }

  override def open(): Unit = {
    NioFiles.createDirectories(Paths.get(watch))
    val schema = spark.read.parquet(p.get("seed").asText).schema
    query = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(watch)
      .writeStream
      .option("checkpointLocation", s"$out/checkpoint")
      .foreachBatch { (b: DataFrame, id: Long) =>
        tracer.batch(id) {
          val s = b.sparkSession
          val g = Some(id + 1)
          // The fold returns its pairs lazily. A traced op computes them
          // inside the dedup span, so the band join and the verify are
          // charged to the dedup fold and not to the cluster fold that
          // reads them; the extra count job shows as tracing overhead.
          val traced = tracer.active
          val prs = tracer.span("ext.dedup_fold", Seq(idx)) {
            val out = DedupIndex.fold(s, b, idx, "docs", "doc_id", "text",
              generation = g).select("id_a", "id_b")
            if (traced) pairsOut = Some(out.persist().count())
            out
          }
          try tracer.span("ext.cluster_fold", Seq(cl)) {
            ClusterIndex.fold(s, prs, cl, "dups", generation = g)
          } finally if (traced) prs.unpersist()
          tracer.span("ext.search_fold", Seq(search)) {
            SearchIndex.fold(s, b, search, "corpus", "doc_id", "text",
              generation = g)
          }
          ()
        }
      }
      .start()
  }

  def hasNext(n: Int): Boolean = isIngest(n) || nQueries < queries.size

  def kind(n: Int): String = if (isIngest(n)) "ingest" else "query"

  override def cycleEnd(n: Int): Boolean =
    n >= firstIngest && (n - firstIngest) % ingestEvery == 0

  /** Where batch b sits once ingested. */
  private def watched(b: Int): String = Paths.get(watch,
    Paths.get(batches(b).get("path").asText).getFileName.toString).toString

  private def rowKey(r: org.apache.spark.sql.Row): String =
    s"${r.getLong(0)}:${r.getInt(1)}:${r.getLong(2)}:${r.getLong(3)}"

  def step(n: Int): Op =
    if (kind(n) == "ingest") {
      val b = nBatches
      NioFiles.move(Paths.get(batches(b).get("path").asText),
        Paths.get(watched(b)), StandardCopyOption.ATOMIC_MOVE)
      query.processAllAvailable()
      nBatches += 1
      Op("ingest", batches(b).get("docs").asLong)
    } else {
      val q = nQueries
      val terms = queries(q).map(t => (q.toLong, t)).toDF("query_id", "term")
      val rows = tracer.span("ext.search_topk") {
        SearchIndex.topK(spark, terms, search, "corpus", "doc_id", k)
          .collect()
      }
      nQueries += 1
      if (q % checkEvery == 0)
        sampled += ((q, nBatches, rows.map(rowKey).toSet))
      Op("query", 1L)
    }

  /** After an ingest: the pairs the fold emitted and the shingle + MinHash
    * kernel rate over the batch (one extra job). After a query: the
    * committed fold markers it read past.
    */
  override def probe(op: Op): Map[String, Double] =
    if (op.kind == "ingest") {
      val b = nBatches - 1
      val t0 = System.nanoTime()
      spark.read.parquet(watched(b))
        .selectExpr("graft_minhash(graft_shingle_hashes(text, 3), 128) AS s")
        .agg(count(col("s"))).head()
      val secs = (System.nanoTime() - t0) / 1e9
      Map("functions.sign_rows_per_s" ->
        batches(b).get("docs").asDouble / secs) ++
        pairsOut.map("ext.pairs_out" -> _.toDouble)
    } else {
      val v = SearchIndex.currentVersion(spark, search, "corpus").get
      val marks = Option(
        new java.io.File(s"$search/corpus.searchindex/v$v/_folds").listFiles())
        .getOrElse(Array.empty[java.io.File])
        .count(f => f.getName.startsWith("g") && f.getName.endsWith(".ok"))
      Map("io.generations_read" -> marks.toDouble)
    }

  override def close(): Unit = if (query != null) {
    query.stop()
    query.awaitTermination()
  }

  def consumed: Int = nBatches

  /** The final cluster labels as (node, cluster_id) pairs, and sampled
    * answers against one-shot BM25 over the corpus they saw: the first
    * and the last sampled corpus state, each state's queries in one call.
    */
  def check(f: JsonNodeFactory): ObjectNode = {
    val o = f.objectNode()
    val arr = o.putArray("labels")
    ClusterIndex.labels(spark, cl, "dups").collect().sortBy(_.getLong(0))
      .foreach(r => arr.addArray().add(r.getLong(0)).add(r.getLong(1)))
    val byState = sampled.groupBy(_._2)
    val states = byState.keys.toSeq.sorted
    var checkedQ, wrong = 0
    Seq(states.head, states.last).distinct.foreach { st =>
      val qs = byState(st).toSeq
      val corpus = spark.read.parquet(
        (p.get("seed").asText +: (0 until st).map(watched)): _*)
      val qt = qs.flatMap { case (q, _, _) =>
        queries(q).map(t => (q.toLong, t))
      }.toDF("query_id", "term")
      val expect = Retrieval.bm25TopK(corpus, qt, "doc_id", "text", k)
        .collect().map(rowKey).groupBy(_.takeWhile(_ != ':').toInt)
      qs.foreach { case (q, _, got) =>
        checkedQ += 1
        if (expect.getOrElse(q, Array.empty[String]).toSet != got) wrong += 1
      }
    }
    o.put("checked", checkedQ).put("wrong", wrong)
  }
}
