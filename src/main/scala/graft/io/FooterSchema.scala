package graft.io

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchemaBridge
import org.apache.spark.sql.types.StructType

/** Parquet reads that resolve a single file's schema from its footer on
  * the driver. `spark.read.parquet` infers the schema with a one-task
  * Spark job even for one file; at small-state sizes that fixed cost
  * (~0.1 s) is most of a read. The conversion is Spark's own
  * (`ParquetFileFormat.readSchema`), so the schema is the one inference
  * would give, under the same session confs. Directories, globs and
  * anything else that is not a single file keep Spark's inference.
  */
object FooterSchema {

  /** The schema a read of `path` exposes, when `path` is a single file. */
  def of(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    // a glob or a missing path falls through to Spark, which expands the
    // glob or raises its own error
    val status =
      try Some(p.getFileSystem(conf).getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    status.filter(_.isFile).map(FooterSchemaBridge.read(spark, conf, _))
  }

  /** The rows of each parquet file in `files`, read from their footers on
    * the driver (no job).
    */
  def rows(spark: SparkSession, files: Seq[String]): Seq[Long] = {
    lazy val conf = spark.sessionState.newHadoopConf()
    files.map { f =>
      val r = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(f), conf))
      try r.getRecordCount finally r.close()
    }
  }

  /** `spark.read.parquet(path)` with no inference job for a single file. */
  def read(spark: SparkSession, path: String): DataFrame =
    of(spark, path).fold(spark.read.parquet(path))(
      spark.read.schema(_).parquet(path))
}
