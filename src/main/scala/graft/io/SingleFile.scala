package graft.io

import graft.conf.Tuning

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Single-file output semantics over Spark's directory-style sinks.
  *
  * The reference writes one file per export (`writeCSV`/`writeParquet`,
  * ref: src/etl-utils.ts:45-96); Spark writes a directory of parts. For
  * parity-sized outputs we write to a temp directory, then promote the
  * single part file to the target path with a filesystem rename (atomic on
  * HDFS/posix; copy-rename on object stores). For 100 TB outputs callers
  * should keep Spark's native directory layout instead — every sink here
  * takes a `singleFile` flag and the scale path never funnels through one
  * task.
  */
object SingleFile {

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  def delete(spark: SparkSession, path: String): Unit = {
    val f = fs(spark, path)
    val p = new Path(path)
    if (f.exists(p)) { f.delete(p, true); () }
  }

  /** Write `df` through `write` into a temp dir and promote the produced
    * part file to `target` (overwriting). The temp dir lives next to the
    * target so the rename stays within one filesystem.
    *
    * A parquet write with no options of an unmodified scan of one parquet
    * file below the size gate ([[copyableScan]]) runs no Spark job: the
    * part file is a byte copy of the scanned file, promoted by the same
    * rename, so a failed copy never leaves a partial target. The copy
    * keeps the source's encoding (codec, timestamp physical type, row
    * groups) where the job would re-encode; a read of either file under
    * the same session confs gives equal rows, in order, and schema.
    */
  def write(
      spark: SparkSession,
      df: DataFrame,
      target: String,
      format: String,
      options: Map[String, String] = Map.empty): Unit =
    promote(spark, target) { (tmp, conf) =>
      val f = tmp.getFileSystem(conf)
      val copied = format == "parquet" && options.isEmpty &&
        copyableScan(spark, df, conf).exists { src =>
          val sf = src.getPath.getFileSystem(conf)
          FileUtil.copy(sf, src.getPath, f, new Path(tmp, "part-00000.parquet"),
            false, conf)
          // a rewrite during the copy falls back like one before it
          unchanged(sf, src)
        }
      if (!copied)
        df.coalesce(1).write.options(options).format(format)
          .mode("overwrite").save(tmp.toString)
    }

  /** Write `rows` (of `schema`) as one parquet file at `target` in the
    * caller's thread, with no Spark job: Spark's own parquet writer
    * (`ParquetFileFormat.prepareWrite`, then one `OutputWriter`) under
    * the session's confs, promoted by the same temp-and-rename as
    * [[write]], so a failed write never leaves a partial target.
    */
  def writeParquetRows(
      spark: SparkSession,
      rows: Iterator[InternalRow],
      schema: StructType,
      target: String): Unit =
    promote(spark, target) { (tmp, conf) =>
      val job = Job.getInstance(conf)
      job.setOutputKeyClass(classOf[Void])
      job.setOutputValueClass(classOf[InternalRow])
      FileOutputFormat.setOutputPath(job, tmp)
      val factory =
        new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
      val ctx = new TaskAttemptContextImpl(job.getConfiguration,
        new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0),
          0))
      val out = factory.newInstance(
        new Path(tmp, s"part-00000${factory.getFileExtension(ctx)}").toString,
        schema, ctx)
      try rows.foreach(out.write) finally out.close()
    }

  /** Run `makePart` to make a `part-` file in a temp dir (given with the
    * session's Hadoop conf), then promote it to `target` (overwriting).
    * The temp dir lives next to the target so the rename stays within
    * one filesystem; it is removed whether or not `makePart` succeeds.
    */
  private def promote(spark: SparkSession, target: String)(
      makePart: (Path, Configuration) => Unit): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val targetPath = new Path(target)
    val f = targetPath.getFileSystem(conf)
    val tmp = new Path(targetPath.getParent,
      s".${targetPath.getName}.__tmp__${System.nanoTime()}")
    try {
      makePart(tmp, conf)
      val part = f.listStatus(tmp).map(_.getPath)
        .find(p => p.getName.startsWith("part-"))
        .getOrElse(throw new IllegalStateException(
          s"no part file produced under $tmp"))
      if (f.exists(targetPath)) f.delete(targetPath, false)
      if (!f.rename(part, targetPath))
        throw new IllegalStateException(s"rename $part -> $target failed")
    } finally {
      if (f.exists(tmp)) { f.delete(tmp, true); () }
    }
  }

  /** The one file `df` scans, when its analyzed plan is a bare batch scan
    * of one parquet file: no partition or bucket columns, no read option
    * beyond the path, a data schema equal to the file's footer schema,
    * and the file still at its listed length and modification time and
    * below the size gate ([[graft.conf.Tuning.isSmallInput]]). A scan
    * that fails any of these runs the job, unchanged.
    */
  private def copyableScan(spark: SparkSession, df: DataFrame,
      conf: Configuration): Option[FileStatus] =
    df.queryExecution.analyzed match {
      case l: LogicalRelation if !l.isStreaming => l.relation match {
        case h: HadoopFsRelation
            if h.fileFormat.isInstanceOf[ParquetFileFormat] &&
              h.partitionSchema.isEmpty && h.bucketSpec.isEmpty &&
              h.options.keys.forall(_.equalsIgnoreCase("path")) =>
          h.location.listFiles(Nil, Nil).flatMap(_.files) match {
            case Seq(file) => Some(file.fileStatus).filter { st =>
              unchanged(st.getPath.getFileSystem(conf), st) &&
                Tuning.isSmallInput(spark, st.getLen) &&
                // a footer Spark cannot read fails in the job, as today
                scala.util.Try(FooterSchema.of(spark, st)).toOption
                  .contains(h.dataSchema)
            }
            case _ => None
          }
        case _ => None
      }
      case _ => None
    }

  /** `listed` is still the file at its path: same length and
    * modification time.
    */
  private def unchanged(f: FileSystem, listed: FileStatus): Boolean =
    try {
      val now = f.getFileStatus(listed.getPath)
      now.getLen == listed.getLen &&
        now.getModificationTime == listed.getModificationTime
    } catch { case _: java.io.FileNotFoundException => false }

  /** Read a whole (small) file as UTF-8 — test/golden support. */
  def readString(spark: SparkSession, path: String): String = {
    val f = fs(spark, path)
    val in = f.open(new Path(path))
    try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 64 * 1024, false)
      new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }
}
