package graft.ext

import scala.jdk.CollectionConverters._

import graft.conf.Tuning
import graft.io.VersionedIndex.{CommittedFile, Listing}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression,
  RuntimeReplaceable}
import org.apache.spark.sql.catalyst.plans.logical.Project
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
  * fold. Below the size gate committed files, which never change, stay
  * decoded on the driver: a query reads only the files committed since
  * the last one (none when warm) and ranks on the driver. Fold IO is
  * delta-sized (sign only the fresh batch; nothing stored is read or
  * rewritten).
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
      graft.io.VersionedIndex.described(spark, "SearchIndex.fold", name, v,
        Some(g))(write(ix, fresh, idCol, textCol, ix.delta(v, g),
        "overwrite")))
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

  /** Bytes one committed artifact row is charged against the size gate:
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
    * come from one listing of the committed files, so a fold that
    * commits meanwhile is invisible to all of them.
    *
    * Below the size gate (the listed bytes and the query terms each
    * below it, ids that [[Clusters.driverSolvable]] accepts, and the
    * index's rows within [[Tuning.smallInputRows]] at [[PostingBytes]] a
    * row, counted from the resident files and the others' parquet
    * footers, so an index past it runs no job) the query reads the
    * index's driver-resident files: every committed file decoded once
    * into primitive arrays, keyed by its path, length and modification
    * time. Files not resident (a new fold's delta, a rebuild) are read by
    * ONE job, described `graft:SearchIndex.topK <name> v<N>`; a warm
    * query runs none. The contributions are the shared formula evaluated
    * as an interpreted expression over the matched postings; sums and the
    * rank cut (score
    * descending, then id in Spark's ordering) run on the driver, and the
    * result is a `LocalRelation` with the lazy plan's schema, so a frame
    * derived from it reads local rows. The resident files of all indexes
    * and versions together hold at most that row bound, least recently
    * used dropped first, but only for files queried again since they
    * were last used; otherwise a query that does not fit reads just its
    * terms' rows of the files it lacks and keeps nothing.
    * Otherwise the lazy plan is returned, planned under the size gate
    * sized by the listed bytes (below it AQE-free). That gate holds when
    * the returned frame is acted on directly; a frame derived from it
    * (`.orderBy`, a join) is planned by its own action, with the
    * session's settings.
    */
  def topK(
      spark: SparkSession, queryTerms: DataFrame, dir: String,
      name: String, idCol: String, k: Int, k1: Double = 1.2,
      b: Double = 0.75, atVersion: Option[Int] = None): DataFrame = {
    val ix = index(spark, dir, name)
    val v = ix.resolve(atVersion)
    val listing = ix.committedFiles(v)
    val whats = Seq("postings", "termdf", "totals")
    val readBytes = listing.files.map(_.bytes).sum
    def lazyOut = Tuning.withSmallInputScope(spark, readBytes) {
      val Seq(postings, termdf, totals) =
        whats.map(ix.signedAt(v, listing.generations, _))
      val out = lazyTopK(queryTerms.select(col("query_id"), col("term")),
        postings, termdf, totals, idCol, k, k1, b)
      // AQE and shuffle partitions are read when the plan is made, not
      // when the frame is built: plan here, inside the gate
      out.queryExecution.executedPlan
      out
    }
    val schemas = whats.map(ix.signedSchema(v, _))
    val idType = schemas.head("doc_id").dataType
    val qSchema = queryTerms.schema
    if (!Tuning.isSmallInput(spark, readBytes) ||
        !Tuning.isSmallInput(spark, Tuning.estimatedBytes(queryTerms)) ||
        !Clusters.driverSolvable(idType) ||
        !Clusters.driverSolvable(qSchema("query_id").dataType) ||
        qSchema("term").dataType != StringType) {
      return lazyOut
    }
    // a local frame collects with no job; null terms match nothing
    val (qi, ti) = (qSchema.fieldIndex("query_id"), qSchema.fieldIndex("term"))
    lazy val qterms = queryTerms.collect().toSeq
      .map(r => (r.get(qi), r.getString(ti))).filter(_._2 != null)
    val parts = residentParts(ix, name, listing, idType, readBytes,
      Tuning.smallInputRows(spark, PostingBytes), qterms.map(_._2).distinct)
      .getOrElse(return lazyOut)
    val schema = topKSchemas.computeIfAbsent((qSchema +: schemas, idCol),
      _ => lazyOut.schema)
    val top = rankOnDriver(spark, parts, qterms, idType, k, k1, b)
    spark.createDataFrame(top.asJava, schema)
  }

  /** One committed file of the index, decoded for the driver path. */
  private sealed trait Part { def rows: Long }

  /** `term`'s index in the sorted `terms`, negative when absent. */
  private def find(terms: Array[String], term: String): Int =
    java.util.Arrays.binarySearch(terms.asInstanceOf[Array[AnyRef]], term)

  /** A postings file: its terms sorted, term `i`'s postings at
    * `from(i) until from(i + 1)` of `doc` (a slot of `ids` and `dl`) and
    * `c`.
    */
  private final class Postings(
      val terms: Array[String], val from: Array[Int], val doc: Array[Int],
      val c: Array[Long], val ids: Array[Any], val dl: Array[Long],
      val rows: Long) extends Part {
    def slice(term: String): Range = {
      val i = find(terms, term)
      if (i < 0) Range(0, 0) else Range(from(i), from(i + 1))
    }
  }

  /** A termdf file: its terms sorted, with their dfs. */
  private final class TermDf(
      val terms: Array[String], val df: Array[Long], val rows: Long)
      extends Part {
    def apply(term: String): Option[Long] =
      Some(find(terms, term)).filter(_ >= 0).map(df(_))
  }

  /** A totals file's sums. */
  private final class Totals(val nDocs: Long, val total: Long,
      val rows: Long) extends Part

  /** A decoded committed file and the tick of the query that last used
    * it.
    */
  private final class Resident(val part: Part, var used: Long)

  /** The driver-resident files: one LRU over the committed files of every
    * index and version, least recently used first. `missed` holds the
    * files that queries read filtered instead (see [[residentParts]]),
    * with the tick of the last such query and their rows. `tick` counts
    * driver-path queries. Guarded by this object's lock.
    */
  private object cache {
    val files = new java.util.LinkedHashMap[CommittedFile, Resident](
      16, 0.75f, true)
    val missed = new java.util.LinkedHashMap[CommittedFile, (Long, Long)](
      16, 0.75f, true)
    var tick = 0L

    def rows: Long = files.values.asScala.map(_.part.rows).sum

    /** Drop the least recently used files, and missed entries, until each
      * map holds at most `maxRows` rows.
      */
    def trim(maxRows: Long): Unit = {
      var n = rows
      val it = files.values.iterator
      while (n > maxRows && it.hasNext) {
        n -= it.next().part.rows
        it.remove()
      }
      var m = missed.values.asScala.map(_._2).sum
      val jt = missed.values.iterator
      while (m > maxRows && jt.hasNext) { m -= jt.next()._2; jt.remove() }
    }
  }

  /** Rows all resident files hold. */
  private[graft] def residentRows: Long = cache.synchronized(cache.rows)

  /** Forget every resident and missed file: the next query of each index
    * reads it again.
    */
  private[graft] def dropResident(): Unit = cache.synchronized {
    cache.files.clear()
    cache.missed.clear()
  }

  /** The decoded parts of `listing`'s files, or None when they hold more
    * than `maxRows` rows: the resident files' rows plus the others' rows
    * from their footers, so an index that does not fit runs no job.
    * Resident files are reused and the others read by one [[decode]] job.
    * They are read whole and kept when they fit in the rows the cache has
    * free, or in the rows of its least recently used files last used
    * before these files' previous query, which are then dropped: a file
    * queried again sooner than a resident one was displaces it.
    * Otherwise only `terms`' rows are read and nothing is kept, so
    * indexes queried in turn beyond the bound leave the resident ones in
    * place instead of each evicting the next.
    */
  private def residentParts(
      ix: graft.io.VersionedIndex, name: String, listing: Listing,
      idType: DataType, readBytes: Long, maxRows: Long,
      terms: => Seq[String]): Option[Seq[Part]] = {
    val (now, held) = cache.synchronized {
      cache.tick += 1
      val held = listing.files.flatMap(f => Option(cache.files.get(f))
        .map { r => r.used = cache.tick; f -> r.part }).toMap
      // a lowered gate drops files now, this listing's last
      cache.trim(maxRows)
      (cache.tick, held)
    }
    val fresh = listing.files.filterNot(held.contains)
    val seen = cache.synchronized(
      fresh.flatMap(f => Option(cache.missed.get(f)).map(f -> _)).toMap)
    val unseen = fresh.filterNot(seen.contains)
    val footers = unseen.zip(ix.rows(unseen)).toMap
    val rows = fresh.map(f => seen.get(f).fold(footers(f))(_._2))
    val parts =
      if (held.values.map(_.rows).sum + rows.sum > maxRows) None
      else if (fresh.isEmpty) Some(held)
      else {
        // a file never missed has no previous query: it evicts nothing
        val since =
          if (seen.size < fresh.size) 0L else seen.values.map(_._1).min
        val keep = admit(rows.sum, since, maxRows)
        decode(ix, name, listing.version, fresh, idType, readBytes, maxRows,
          Option.when(!keep)(terms)).map { more =>
          cache.synchronized {
            if (keep) more.foreach { case (f, p) =>
              cache.files.put(f, new Resident(p, now))
              cache.missed.remove(f)
            }
            else fresh.zip(rows).foreach { case (f, n) =>
              cache.missed.put(f, (now, n))
            }
            cache.trim(maxRows)
          }
          held ++ more
        }
      }
    parts.map(p => listing.files.map(p))
  }

  /** Whether `need` rows fit in the cache's free rows plus those of its
    * least recently used files last used before tick `since`; when they
    * do, just enough of those files are dropped.
    */
  private def admit(need: Long, since: Long, maxRows: Long): Boolean =
    cache.synchronized {
      val free = maxRows - cache.rows
      val freed = cache.files.values.asScala.toSeq.takeWhile(_.used < since)
        .scanLeft(0L)(_ + _.part.rows)
      val k = freed.indexWhere(free + _ >= need)
      val it = cache.files.values.iterator
      (0 until k).foreach { _ => it.next(); it.remove() }
      k >= 0
    }

  /** Decode `files` in one bounded job: a collect of at most `budget`
    * rows (None when they hold more), one partition, so it is one job and
    * not a `take` loop. With `only` terms, just their postings and termdf
    * rows are read.
    */
  private def decode(
      ix: graft.io.VersionedIndex, name: String, v: Int,
      files: Seq[CommittedFile], idType: DataType, readBytes: Long,
      budget: Long,
      only: Option[Seq[String]]): Option[Map[CommittedFile, Part]] = {
    val spark = ix.spark
    // (file, term, doc_id, x, y): x = c and y = dl for a posting, x = df
    // for a termdf row, x = n_docs and y = total_len for a totals row
    val tagged = files.zipWithIndex.map { case (f, i) =>
      val read = ix.readSigned(v, f.artifact, Seq(f.path))
      val df = only.filter(_ => f.artifact != "totals")
        .fold(read)(ts => read.filter(col("term").isin(ts: _*)))
      def row(term: Column, id: Column, x: String, y: Column) =
        df.select(lit(i).as("file"), term.as("term"), id.as("doc_id"),
          col(x).cast("long").as("x"), y.cast("long").as("y"))
      val noId = lit(null).cast(idType)
      f.artifact match {
        case "postings" => row(col("term"), col("doc_id"), "c", col("dl"))
        case "termdf" => row(col("term"), noId, "df", lit(null))
        case _ =>
          row(lit(null).cast(StringType), noId, "n_docs", col("total_len"))
      }
    }
    val rows = Tuning.withSmallInputScope(spark, readBytes) {
      graft.io.VersionedIndex.described(spark, "SearchIndex.topK", name, v) {
        tagged.reduce(_.union(_)).coalesce(1)
          .limit(math.min(budget, Int.MaxValue - 1L).toInt + 1).collect()
      }
    }
    if (rows.length > budget) return None
    val byFile = rows.groupBy(_.getInt(0))
    // one String per distinct term across the decoded files
    val terms = scala.collection.mutable.HashMap.empty[String, String]
    def term(r: Row) = terms.getOrElseUpdate(r.getString(1), r.getString(1))
    Some(files.zipWithIndex.map { case (f, i) =>
      val rs = byFile.getOrElse(i, Array.empty[Row])
      val named = rs.filterNot(_.isNullAt(1))
      f -> (f.artifact match {
        case "postings" => decodePostings(named, term, rs.length)
        case "termdf" =>
          val (ts, dfs) = named.groupMapReduce(term)(_.getLong(3))(_ + _)
            .toArray.sortBy(_._1).unzip
          new TermDf(ts, dfs, rs.length)
        case _ => new Totals(rs.map(_.getLong(3)).sum,
          rs.map(_.getLong(4)).sum, rs.length)
      })
    }.toMap)
  }

  /** A postings file's (file, term, doc_id, c, dl) rows with a term, as
    * sorted terms over parallel arrays; a doc slot is a distinct
    * (doc_id, dl).
    */
  private def decodePostings(
      rs: Array[Row], term: Row => String, nRows: Long): Postings = {
    val sorted = rs.sortBy(term)
    val slots = scala.collection.mutable.HashMap.empty[(Any, Long), Int]
    val ids = Array.newBuilder[Any]
    val dl = Array.newBuilder[Long]
    val terms = Array.newBuilder[String]
    val from = Array.newBuilder[Int]
    val doc = new Array[Int](sorted.length)
    val c = new Array[Long](sorted.length)
    var prev: String = null
    sorted.indices.foreach { j =>
      val r = sorted(j)
      val t = term(r)
      if (t != prev) { terms += t; from += j; prev = t }
      doc(j) = slots.getOrElseUpdate((r.get(2), r.getLong(4)), {
        ids += r.get(2); dl += r.getLong(4); slots.size
      })
      c(j) = r.getLong(3)
    }
    from += sorted.length
    new Postings(terms.result(), from.result(), doc, c, ids.result(),
      dl.result(), nRows)
  }

  /** [[Retrieval.bm25ContribMicro]] analyzed over (c, dl, df, n_docs,
    * total) and bound to their ordinals, per (k1, b, ANSI mode): what
    * Catalyst's `ConvertToLocalRelation` evaluates for a projection of
    * local rows, without building a frame per query.
    */
  private val contribExprs = new java.util.concurrent.ConcurrentHashMap[
    (Double, Double, Boolean), Expression]()

  private def contribMicro(
      spark: SparkSession, k1: Double, b: Double): Expression =
    contribExprs.computeIfAbsent(
      (k1, b, spark.sessionState.conf.ansiEnabled), _ => {
        val in = StructType(Seq("c", "dl", "df", "n_docs", "total")
          .map(StructField(_, LongType)))
        spark.createDataFrame(java.util.Collections.emptyList[Row](), in)
          .select(Retrieval.bm25ContribMicro(k1, b))
          .queryExecution.analyzed match {
            // the optimizer's ReplaceExpressions, which eval needs
            case Project(Seq(e), child) => BindReferences.bindReference(
              e.transform { case r: RuntimeReplaceable => r.replacement },
              child.output)
            case p => throw new IllegalStateException(s"unexpected plan $p")
          }
      })

  /** Score and rank the resident parts on the driver, as the lazy plan
    * does: the collection df of a term is the sum of its per-batch dfs,
    * a query term's duplicate rows each count (the join repeats them),
    * a term with no df row adds nothing, and each query keeps its `k`
    * best ids by score descending, then id ascending in Spark's ordering
    * for the id type (nulls first). Rows are (query_id, rank, id,
    * score_micro).
    */
  private def rankOnDriver(
      spark: SparkSession, parts: Seq[Part], qterms: Seq[(Any, String)],
      idType: DataType, k: Int, k1: Double, b: Double): Seq[Row] = {
    val postings = parts.collect { case p: Postings => p }
    val termdfs = parts.collect { case p: TermDf => p }
    val totals = parts.collect { case p: Totals => p }
    val (nDocs, total) = (totals.map(_.nDocs).sum, totals.map(_.total).sum)
    val formula = contribMicro(spark, k1, b)
    val byTerm = qterms.map(_._2).distinct.flatMap { t =>
      val dfs = termdfs.flatMap(_(t))
      // a posting whose term has no df row is dropped, as the join drops it
      Option.when(dfs.nonEmpty) {
        val df = dfs.sum
        // the formula once per distinct (c, dl) of the term
        val micro = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
        t -> postings.flatMap(p => p.slice(t).map { j =>
          val (c, dl) = (p.c(j), p.dl(p.doc(j)))
          p.ids(p.doc(j)) -> micro.getOrElseUpdate((c, dl), formula.eval(
            InternalRow(c, dl, df, nDocs, total)).asInstanceOf[Long])
        })
      }
    }.toMap
    val scores = scala.collection.mutable.HashMap.empty[(Any, Any), Long]
    for ((q, t) <- qterms; (id, c) <- byTerm.getOrElse(t, Nil))
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
