package graft.io

import org.apache.spark.sql.SparkSession

/** The repo's object-store-safe version pointer: every versioned
  * artifact (the indexes through [[VersionedIndex]], the bucketed
  * snapshot layout, maintained reports) commits the same way. A version
  * is made current by CREATING `_current.<seq>` (one PUT, create-only —
  * never a rename), whose record is `<version> [<field> …] ok`: integer
  * fields a caller commits beside the version ride between it and the
  * terminator. The `ok` terminator makes any torn write unparseable, so
  * readers fall back to the previous committed manifest; best-effort GC
  * keeps the newest two manifests. Manifests present but none parseable
  * after retries fails loudly — a reader must never mistake a
  * present-but-unreadable pointer for "no artifact".
  */
private[graft] object VersionPointer {

  private val ManifestRe = """_current\.(\d{9})""".r

  /** One committed manifest record: the version and the integer fields
    * committed beside it (empty for a plain `<version> ok`).
    */
  final case class Record(version: Int, fields: Seq[Long])

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())

  /** Newest committed version under `layout`, if any. */
  def current(spark: SparkSession, layout: String): Option[Int] =
    record(spark, layout).map(_.version)

  /** Newest committed record under `layout`, if any. */
  def record(spark: SparkSession, layout: String): Option[Record] = {
    val dirPath = new org.apache.hadoop.fs.Path(layout)
    val f = fs(spark, layout)
    def parse(text: String): Option[Record] = {
      val parts = text.trim.split("\\s+")
      if (parts.length >= 2 && parts.last == "ok")
        scala.util.Try(Record(parts(0).toInt,
          parts.slice(1, parts.length - 1).map(_.toLong).toSeq)).toOption
      else None
    }
    // List-then-open race: between the listing and the open, the single
    // writer can commit (twice) and GC every manifest listed — all opens
    // then miss, which must NOT read as "no artifact" (a fold would
    // silently rebuild from its delta alone). Listed-but-unreadable ⇒
    // re-list; only a listing with NO manifests means no artifact.
    var attempt = 0
    while (attempt < 5) {
      if (!f.exists(dirPath)) return None
      val manifests = f.listStatus(dirPath).toSeq
        .flatMap(st => st.getPath.getName match {
          case ManifestRe(seq) => Some(seq.toLong -> st.getPath)
          case _ => None
        })
        .sortBy(-_._1)
      if (manifests.isEmpty) return None
      val resolved = manifests.view.flatMap { case (_, p) =>
        scala.util.Try {
          val in = f.open(p)
          try new String(
            org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
          finally in.close()
        }.toOption.flatMap(parse)
      }.headOption
      if (resolved.isDefined) return resolved
      attempt += 1
      if (attempt < 5) Thread.sleep(50L * attempt)
    }
    throw new IllegalStateException(
      s"version pointer at $layout: manifests exist but none parsed " +
        "after retries — refusing to treat a present-but-unreadable " +
        "pointer as an absent artifact")
  }

  /** Commit `version` with `fields`: CREATE `_current.<maxSeq+1>` (single
    * PUT), then best-effort GC keeping the newest two manifests.
    */
  def commit(
      spark: SparkSession, layout: String, version: Int,
      fields: Seq[Long] = Nil): Unit = {
    val dirPath = new org.apache.hadoop.fs.Path(layout)
    val f = fs(spark, layout)
    val maxSeq =
      if (!f.exists(dirPath)) 0L
      else f.listStatus(dirPath).toSeq.flatMap(_.getPath.getName match {
        case ManifestRe(seq) => Some(seq.toLong)
        case _ => None
      }).foldLeft(0L)(math.max)
    val next = new org.apache.hadoop.fs.Path(
      f"$layout/_current.${maxSeq + 1}%09d")
    val out = f.create(next, false)
    val body = (version.toLong +: fields).mkString("", " ", " ok")
    try out.write(body.getBytes("UTF-8")) finally out.close()
    f.listStatus(dirPath).toSeq
      .flatMap(st => st.getPath.getName match {
        case ManifestRe(seq) => Some(seq.toLong -> st.getPath)
        case _ => None
      })
      .sortBy(-_._1).drop(2)
      .foreach { case (_, p) => scala.util.Try(f.delete(p, false)); () }
  }

  /** Recursive delete of one version dir through the Hadoop FS API (a
    * java.io.File delete is a silent no-op on any non-local filesystem).
    */
  def dropDir(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val f = fs(spark, path)
    if (f.exists(p)) f.delete(p, true)
    ()
  }

  private val VersionDirRe = """v(\d+)""".r

  /** Version dirs (`v<N>`) present under `layout`, ascending — committed
    * history plus at most one in-progress orphan above the pointer.
    */
  def versionDirs(spark: SparkSession, layout: String): Seq[Int] = {
    val dirPath = new org.apache.hadoop.fs.Path(layout)
    val f = fs(spark, layout)
    if (!f.exists(dirPath)) Nil
    else f.listStatus(dirPath).toSeq
      .filter(_.isDirectory)
      .flatMap(_.getPath.getName match {
        case VersionDirRe(v) => Some(v.toInt)
        case _ => None
      }).sorted
  }

  /** Apply the retention window after a commit: keep the newest `keep`
    * version dirs at or below `current`, GC the older ones and return
    * them (a caller drops whatever else it keeps per version). Dirs ABOVE
    * `current` are untouched — they belong to an in-progress writer.
    * `keep ≥ 2` closes the compact-time reader race: a reader that
    * resolved the pointer to v(N) mid-scan still has its files when
    * v(N+1) commits; only v(N−keep+1) and older disappear.
    */
  def retain(
      spark: SparkSession, layout: String, current: Int,
      keep: Int): Seq[Int] = {
    require(keep >= 1, s"retainVersions must be >= 1, got $keep")
    val dropped = versionDirs(spark, layout).filter(_ <= current)
      .dropRight(keep)
    dropped.foreach(v => dropDir(spark, s"$layout/v$v"))
    dropped
  }

  /** Resolve a read version: the pointer's current by default, or an
    * explicit time-travel target — which must be committed (≤ current)
    * and still inside the retention window (its dir present).
    */
  def resolveRead(
      spark: SparkSession, layout: String, atVersion: Option[Int],
      what: String): Int = {
    val cur = current(spark, layout).getOrElse(
      throw new IllegalArgumentException(
        s"$what does not exist — build() it first"))
    atVersion match {
      case None => cur
      case Some(v) =>
        require(v >= 1 && v <= cur,
          s"$what: version $v is not committed (current is $cur)")
        val p = new org.apache.hadoop.fs.Path(s"$layout/v$v")
        require(fs(spark, layout).exists(p),
          s"$what: version $v has been retention-GC'd " +
            s"(present: ${versionDirs(spark, layout).mkString(", ")})")
        v
    }
  }
}
