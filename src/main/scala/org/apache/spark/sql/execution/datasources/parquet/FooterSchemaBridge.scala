package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Lives in Spark's parquet package solely to reach the `private[parquet]`
  * `ParquetFileFormat.readSchema` — the driver-side footer → schema
  * conversion (Spark's own row metadata first, else the parquet schema
  * under the session's conversion confs). Used by [[graft.io.FooterSchema]];
  * no Spark internals are modified.
  */
object FooterSchemaBridge {

  /** `file`'s schema as a read of it exposes it (all fields nullable). */
  def read(spark: SparkSession, conf: Configuration, file: FileStatus)
      : StructType = {
    val footer = new Footer(file.getPath, ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS))
    ParquetFileFormat.readSchema(Seq(footer), spark).get.asNullable
  }
}
