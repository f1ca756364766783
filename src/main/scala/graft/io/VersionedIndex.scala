package graft.io

import java.util.concurrent.ConcurrentHashMap

import graft.conf.JobDescription

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

/** The versioned-index layout and its commit protocol — the one copy
  * every persisted index in `ext/` (AnnIndex, ApssIndex, ClusterIndex,
  * DedupIndex, SearchIndex, TokenizerIndex) builds on. Each index keeps
  * only its own sign, verify and pair/label algebra. Under `layout`:
  *  - `v<N>/…` — one dir per build/compact/retrain, made current by the
  *    [[VersionPointer]] commit and GC'd by its retention window;
  *  - `v<N>/deltas/g<G>/…` — one fold's delta, committed by a
  *    create-only `v<N>/_folds/g<G>.ok` marker. A crash before the marker
  *    leaves an orphan no reader sees; the retry overwrites it.
  *  - `…/sign/__what=<artifact>` — a batch's artifacts as one
  *    `__what`-partitioned table (one write action per batch; readers
  *    address the partition dirs). `signed` names the artifacts and their
  *    columns, in write order.
  *
  * Artifact schemas and params rows are memoized per version-qualified
  * path (a schema is one footer read on the driver, a params row a job):
  * a published version is frozen, and [[publish]] forgets every memo
  * under the version dir it starts, so a rebuild at the same path and
  * version never reads through a stale schema. `what` names the index in
  * errors.
  */
private[graft] final case class VersionedIndex(
    spark: SparkSession, layout: String, what: String,
    signed: Seq[(String, Seq[String])] = Nil) {
  import VersionedIndex._

  private def fs =
    new Path(layout).getFileSystem(spark.sessionState.newHadoopConf())

  def current: Option[Int] = VersionPointer.current(spark, layout)

  def requireCurrent: Int = current.getOrElse(
    throw new IllegalArgumentException(
      s"$what does not exist — build() it first"))

  /** Committed versions still inside the retention window — the
    * time-travel targets [[resolve]] accepts.
    */
  def versions: Seq[Int] = {
    val cur = current
    VersionPointer.versionDirs(spark, layout).filter(v => cur.exists(v <= _))
  }

  /** The read version: current, or a committed and retained `atVersion`. */
  def resolve(atVersion: Option[Int]): Int =
    VersionPointer.resolveRead(spark, layout, atVersion, what)

  def dir(v: Int): String = s"$layout/v$v"
  def path(v: Int, sub: String): String = s"${dir(v)}/$sub"
  def delta(v: Int, g: Long): String = path(v, s"deltas/g$g")
  def exists(p: String): Boolean = fs.exists(new Path(p))

  /** Generations with a committed fold marker in version `v`, ascending. */
  def committedFolds(v: Int): Seq[Long] = {
    val p = new Path(path(v, "_folds"))
    val f = fs
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.flatMap(_.getPath.getName match {
      case FoldMarkerRe(g) => Some(g.toLong)
      case _ => None
    }).sorted
  }

  /** One fold into version `v`: the caller's `generation` (its batch
    * identity) or, omitted, one past the newest committed. A committed
    * generation is a replay — nothing is written; otherwise `write(g)`
    * writes the delta (overwriting any orphan) and the create-only marker
    * commits it (it fails loudly if a concurrent fold won the
    * generation). A generation below a committed one is refused: replay
    * state would be ambiguous. Returns the generation.
    */
  def fold(v: Int, generation: Option[Long])(write: Long => Unit): Long = {
    val committed = committedFolds(v)
    val g = generation.getOrElse(committed.lastOption.getOrElse(0L) + 1L)
    if (!committed.contains(g)) {
      require(committed.forall(_ < g),
        s"fold generation $g is below already-committed generations " +
          s"${committed.filter(_ > g).mkString(", ")} — out-of-order " +
          "batch identities would make replay state ambiguous")
      write(g)
      val out = fs.create(new Path(path(v, s"_folds/g$g.ok")), false)
      try out.write("ok".getBytes("UTF-8")) finally out.close()
    }
    g
  }

  /** Write version `v` with `write`, then publish it. Before the write,
    * the orphan dir a failed writer left is dropped and every memo under
    * it forgotten; after it, the pointer commits `v` and the retention
    * window keeps the newest `retainVersions` version dirs.
    */
  def publish(v: Int, retainVersions: Int)(write: => Unit): Unit = {
    VersionPointer.dropDir(spark, dir(v))
    Seq(schemas, paramRows)
      .foreach(_.keySet.removeIf(_.startsWith(s"${dir(v)}/")))
    write
    VersionPointer.commit(spark, layout, v)
    VersionPointer.retain(spark, layout, v, retainVersions)
  }

  /** The (memoized) schema of the artifact dir `schemaKey`: one data
    * file's footer, read on the driver (no job), when the dir holds data
    * files and no partition subdirs; Spark's inference otherwise. Names
    * starting with `_` or `.` are skipped, as Spark's listing does.
    */
  private def schemaAt(schemaKey: String): StructType =
    schemas.computeIfAbsent(schemaKey, { p =>
      // a missing dir falls through to Spark, which raises its own error
      val listed = try fs.listStatus(new Path(p)).toSeq
        catch { case _: java.io.FileNotFoundException => Nil }
      val (dirs, files) = listed
        .filterNot(st => Seq("_", ".").exists(st.getPath.getName.startsWith))
        .partition(_.isDirectory)
      files.headOption.filter(_ => dirs.isEmpty)
        .fold(spark.read.parquet(p).schema)(FooterSchema.of(spark, _))
    })

  /** `paths` read with the (memoized) schema of the artifact at
    * `schemaKey` — one multi-path scan, no schema job.
    */
  def read(schemaKey: String, paths: String*): DataFrame =
    spark.read.schema(schemaAt(schemaKey)).parquet(paths: _*)

  /** The artifact `sub` of version `v`. */
  def artifact(v: Int, sub: String): DataFrame =
    read(path(v, sub), path(v, sub))

  /** The one-row params table `sub` of version `v` (memoized). */
  def params(v: Int, sub: String = "params"): Row =
    paramRows.computeIfAbsent(path(v, sub), p => spark.read.parquet(p).head())

  /** Each of `frames` (one per `signed` artifact, same order) as a row
    * of the `__what` table's data columns: its artifact's columns, and a
    * null of the type it has in the artifact that carries it for each
    * column it lacks.
    */
  private def unionParts(frames: Seq[DataFrame]): Seq[(String, DataFrame)] = {
    val parts = signed.zip(frames).map { case ((w, cols), df) =>
      w -> df.select(cols.map(col): _*)
    }
    val fields = parts.flatMap(_._2.schema.fields)
    val names = fields.map(_.name).distinct
    val types = fields.reverse.map(f => f.name -> f.dataType).toMap
    parts.map { case (w, df) =>
      w -> df.select(names.map(c =>
        if (df.columns.contains(c)) col(c)
        else lit(null).cast(types(c)).as(c)): _*)
    }
  }

  /** Write one batch's `frames` (one per `signed` artifact, same order)
    * as the `__what`-partitioned table `<root>/sign` in one write action.
    * Every artifact gets its partition: one that came out empty is
    * written as an empty parquet file, so readers never meet a missing
    * partition dir.
    */
  def writeSigned(root: String, mode: String, frames: DataFrame*): Unit = {
    val union = unionParts(frames).map { case (w, df) =>
      df.select(lit(w).as("__what") +: df.columns.toSeq.map(col): _*)
    }.reduce(_.unionByName(_))
    union.write.partitionBy("__what").mode(mode).parquet(s"$root/sign")
    val f = fs
    val missing = signed.map(w => signDir(root, w._1))
      .filterNot(p => f.exists(new Path(p)))
    if (missing.nonEmpty) {
      val empty = spark.createDataFrame(java.util.Collections.emptyList[Row](),
        StructType(union.schema.filterNot(_.name == "__what")))
      missing.foreach(p => empty.write.parquet(p))
    }
  }

  /** [[writeSigned]] in mode overwrite, run by the driver for `frames`
    * that [[DriverScan.rows]] reads (a batch below the size gate, over
    * `LocalRelation`s): with no Spark job, each artifact's rows become
    * one parquet file of its partition dir
    * ([[SingleFile.writeParquetRows]]) with the columns and nullability
    * of [[writeSigned]]'s union, an empty artifact an empty file. Like
    * the job, it first drops `<root>/sign`.
    */
  def writeSignedOnDriver(root: String, frames: DataFrame*): Unit = {
    val parts = unionParts(frames)
    val schema = parts.map(_._2).reduce(_.unionByName(_)).schema
    VersionPointer.dropDir(spark, s"$root/sign")
    parts.foreach { case (w, df) =>
      val rows = DriverScan.rows(df).getOrElse(
        throw new IllegalArgumentException(
          s"$what: the $w rows are not readable on the driver"))
      rows.read(it => SingleFile.writeParquetRows(spark, it, schema,
        s"${signDir(root, w)}/part-00000-${java.util.UUID.randomUUID}.parquet"))
    }
  }

  /** Artifact `what`'s partition dir of the sign table under `root`. */
  private def signDir(root: String, what: String): String =
    s"$root/sign/__what=$what"

  /** The schema of artifact `what` in version `v`, in `signed` column
    * order (memoized; a footer read, no job).
    */
  def signedSchema(v: Int, what: String): StructType = {
    val sch = schemaAt(signDir(dir(v), what))
    StructType(signed.toMap.apply(what).map(sch(_)))
  }

  /** Artifact `what` read from `paths` (partition dirs or data files of
    * it) with the schema of version `v`'s base partition.
    */
  def readSigned(v: Int, what: String, paths: Seq[String]): DataFrame =
    read(signDir(dir(v), what), paths: _*)
      .select(signed.toMap.apply(what).map(col): _*)

  /** Artifact `what` of version `v`: the base plus the fold deltas of
    * `gens`, a [[committedFolds]] listing. Reads that must see one
    * corpus state share one listing, so a fold committing between them
    * is invisible to all of them.
    */
  def signedAt(v: Int, gens: Seq[Long], what: String): DataFrame =
    readSigned(v, what,
      (dir(v) +: gens.map(delta(v, _))).map(signDir(_, what)))

  /** Artifacts `whats` of version `v`, in order: the base plus every
    * committed fold delta below `belowGen` (a replay reads exactly the
    * state below itself), all over ONE [[committedFolds]] listing, so a
    * fold committing meanwhile is in all of them or in none. Orphan
    * deltas are invisible — the marker is the commit.
    */
  def committedSigned(v: Int, whats: Seq[String],
      belowGen: Long = Long.MaxValue): Seq[DataFrame] = {
    val gens = committedFolds(v).filter(_ < belowGen)
    whats.map(signedAt(v, gens, _))
  }

  /** Artifact `what` of fold generation `g`'s delta alone. */
  def deltaSigned(v: Int, g: Long, what: String): DataFrame =
    readSigned(v, what, Seq(signDir(delta(v, g), what)))

  /** The data files of every `signed` artifact in version `v`: the
    * base's and each committed fold delta's, over ONE [[committedFolds]]
    * listing (an orphan delta is not listed). Filesystem calls only.
    */
  def committedFiles(v: Int): Listing = {
    val gens = committedFolds(v)
    val f = fs
    val files = for {
      (what, _) <- signed
      g <- 0L +: gens
      st <- f.listStatus(
        new Path(signDir(if (g == 0L) dir(v) else delta(v, g), what)))
      name = st.getPath.getName
      if st.isFile && !name.startsWith("_") && !name.startsWith(".")
    } yield CommittedFile(what, g, st.getPath.toString, st.getLen,
      st.getModificationTime)
    Listing(v, gens, files)
  }

  /** The rows of each of `files`, from their parquet footers (no job). */
  def rows(files: Seq[CommittedFile]): Seq[Long] =
    FooterSchema.rows(spark, files.map(_.path))

  /** The current version's state, read from the filesystem alone (no
    * job): its committed fold generations and, per `signed` artifact,
    * the bytes of its base and of its committed deltas.
    */
  def describe(): Description = {
    val l = committedFiles(requireCurrent)
    Description(l.version, l.generations, signed.map { case (w, _) =>
      val (base, deltas) =
        l.files.filter(_.artifact == w).partition(_.generation == 0L)
      w -> ArtifactBytes(base.map(_.bytes).sum, deltas.map(_.bytes).sum)
    }.toMap)
  }
}

private[graft] object VersionedIndex {

  private val FoldMarkerRe = """g(\d+)\.ok""".r

  /** One committed data file of artifact `artifact`, written by fold
    * `generation` (0 for the base). A rewrite at the same path is a new
    * file: its path carries the writing job's id, and its length or
    * modification time differs.
    */
  final case class CommittedFile(
      artifact: String, generation: Long, path: String, bytes: Long,
      modified: Long)

  /** Version `version`'s committed fold generations and data files. */
  final case class Listing(
      version: Int, generations: Seq[Long], files: Seq[CommittedFile])

  /** Bytes of an artifact's base and of its committed deltas. */
  final case class ArtifactBytes(base: Long, deltas: Long)

  /** An index's state as [[VersionedIndex.describe]] reads it. */
  final case class Description(
      version: Int, generations: Seq[Long],
      bytes: Map[String, ArtifactBytes]) {
    def deltas: Int = generations.size
  }

  /** Runs `body` with its Spark jobs described
    * `graft:<op> <name> v<v>` (and ` g<G>` for a fold generation), then
    * restores the caller's description. `op` is `<Index>.<verb>`.
    */
  def described[A](
      spark: SparkSession, op: String, name: String, v: Int,
      g: Option[Long] = None)(body: => A): A =
    JobDescription.described(spark,
      s"graft:$op $name v$v" + g.fold("")(n => s" g$n"))(body)

  private val schemas = new ConcurrentHashMap[String, StructType]()
  private val paramRows = new ConcurrentHashMap[String, Row]()

  /** Drop `localCheckpoint`s' blocks. `Dataset.unpersist` only uncaches
    * `cache()`d plans, so each checkpointed RDD is unpersisted directly;
    * the frames must have no readers left.
    */
  def releaseCheckpoint(dfs: DataFrame*): Unit = dfs.foreach(
    _.queryExecution.logical.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.foreach(_.unpersist(blocking = false)))
}
