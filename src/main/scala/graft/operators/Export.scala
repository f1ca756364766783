package graft.operators

import graft.catalog.CatalogSchema
import graft.conf.GluestickConf
import graft.conf.JobDescription.described
import graft.io.SingleFile
import graft.singer.{SingerOptions, SingerSchema, SingerSink}
import graft.sources.Reader

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Options for [[Export.toExport]] (ref: src/etl-utils.ts:7-15). */
final case class ExportOptions(
    keys: Seq[String] = Nil,
    exportFormat: Option[String] = None,
    outputFilePrefix: Option[String] = None,
    reservedVariables: Map[String, String] = Map.empty,
    allowObjects: Boolean = true,
    schema: Option[ObjectNode] = None,
    /** Parity mode writes one file per export like the reference; false
      * keeps Spark's native directory layout (the 100 TB path).
      */
    singleFile: Boolean = true)

/** Export dispatcher (S7-S12, ref: src/etl-utils.ts:17-99 toExport):
  * resolves the final name (env override, templated prefix), then routes to
  * the CSV/JSON/JSONL/Parquet/Singer sink.
  *
  * Sinks are columnar end-to-end: struct/array columns are JSON-stringified
  * with `to_json` (vs the reference's `struct.jsonEncode`,
  * ref: src/etl-utils.ts:84-92), JSON/JSONL serialization happens in
  * executors via `to_json(struct(*))` — never a driver-side `toRecords()`.
  *
  * A single-file parquet export of an unmodified scan of one parquet file
  * below the size gate — the frame `Snapshot.snapshotRecords` returns
  * after a merge — runs no Spark job: [[graft.io.SingleFile.write]]
  * promotes a byte copy of the scanned file. The copy keeps the source's
  * encoding (codec, timestamp physical type); readers see the rows, in
  * order, and the schema the re-encoding job would give. Any other frame
  * runs one job. Jobs are described `graft:Export.<format> <name>`.
  */
object Export {

  private val IsoFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"

  /** RFC-4180 quoting (doubled `"` instead of Spark's backslash escape) —
    * matches Polars `writeCSV` output the reference produces.
    */
  val csvWriteOptions: Map[String, String] =
    Map("header" -> "true", "escape" -> "\"")

  def toExport(
      data: DataFrame,
      name: String,
      outputDir: String,
      options: ExportOptions = ExportOptions(),
      conf: GluestickConf = GluestickConf.fromEnv()): Unit = {
    val spark = data.sparkSession
    val exportFormat =
      options.exportFormat.getOrElse(conf.defaultExportFormat)

    // Name resolution (ref: src/etl-utils.ts:30-37): unified override, then
    // templated prefix.
    var finalName = conf.unifiedOutputName(name).getOrElse(name)
    val prefix = options.outputFilePrefix.orElse(conf.outputFilePrefix)
    prefix.foreach { p =>
      val vars = Templating.buildStringFormatVariables(
        options.reservedVariables, conf = conf)
      finalName = Templating.formatStrSafely(p, vars) + finalName
    }

    SingleFile.fs(spark, outputDir).mkdirs(new Path(outputDir))
    val outputPath = s"$outputDir/$finalName"

    described(spark, s"graft:Export.$exportFormat $name")(exportFormat match {
      case "parquet" =>
        if (options.singleFile)
          SingleFile.write(spark, data, s"$outputPath.parquet", "parquet")
        else data.write.mode("overwrite").parquet(s"$outputPath.parquet")

      case "singer" =>
        // PK self-resolution via a fresh default Reader when keys are not
        // given (env-coupled, ref: src/etl-utils.ts:49-51).
        val keys =
          if (options.keys.nonEmpty) options.keys
          else scala.util.Try(Reader(spark, conf = conf).getPk(name))
            .getOrElse(Seq.empty)
        SingerSink.toSinger(
          data, finalName, outputDir,
          SingerOptions(
            keys = keys,
            allowObjects = options.allowObjects,
            schema = options.schema),
          conf,
          catalogLookup = catalogPropsLookup(spark, conf))

      case "json" =>
        writeJsonArray(data, s"$outputPath.json")

      case "jsonl" =>
        val lines = jsonLines(data)
        if (options.singleFile)
          SingleFile.write(spark, lines, s"$outputPath.jsonl", "text")
        else lines.write.mode("overwrite").text(s"$outputPath.jsonl")

      case _ => // csv (default branch, ref: src/etl-utils.ts:71-97)
        val stringified = stringifyComplex(data)
        if (options.singleFile)
          SingleFile.write(spark, stringified, s"$outputPath.csv", "csv",
            csvWriteOptions)
        else stringified.write.mode("overwrite")
          .options(csvWriteOptions).csv(s"$outputPath.csv")
    })
  }

  /** Catalog schema properties for a stream, from `{ROOT_DIR}/catalog.json`
    * (ref: src/singer.ts:221-254 getCatalogSchema via a default Reader).
    */
  private def catalogPropsLookup(
      spark: org.apache.spark.sql.SparkSession,
      conf: GluestickConf)(stream: String): Option[ObjectNode] =
    CatalogSchema.parseFile(s"${conf.rootDir}/catalog.json")
      .flatMap(_.find(stream))
      .map(_.properties)
      .collect { case o: ObjectNode => o }

  /** Struct/array columns → JSON strings for flat sinks
    * (ref: src/etl-utils.ts:84-92; Spark CSV also rejects nested types).
    */
  def stringifyComplex(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case _: StructType | _: ArrayType | _: MapType =>
          d.withColumn(f.name,
            to_json(col(f.name), Map("timestampFormat" -> IsoFmt).asJava))
        case _ => d
      }
    }

  /** One JSON object per row, serialized in executors. Null fields kept
    * (JS `JSON.stringify` keeps nulls in toRecords output).
    */
  private def jsonLines(df: DataFrame): DataFrame =
    df.select(to_json(
      struct(df.columns.map(col).toIndexedSeq: _*),
      Map(
        "ignoreNullFields" -> "false",
        "timestampFormat" -> IsoFmt).asJava).as("value"))

  /** Whole table as one pretty-printed JSON array
    * (ref: src/etl-utils.ts:59-63, `JSON.stringify(records, null, 2)`):
    * 2-space indent, `": "` separators. Rows stream through the driver one
    * at a time — single-file semantics without materializing the table.
    */
  private def writeJsonArray(df: DataFrame, target: String): Unit = {
    val spark = df.sparkSession
    val fs = SingleFile.fs(spark, target)
    val out = fs.create(new Path(target), true)
    val w = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(out, java.nio.charset.StandardCharsets.UTF_8),
      1 << 20)
    val mapper = new ObjectMapper()
    try {
      val it = jsonLines(df).toLocalIterator()
      w.write("[")
      var first = true
      while (it.hasNext) {
        if (!first) w.write(",")
        first = false
        w.write("\n  ")
        w.write(prettyJs(mapper.readTree(it.next().getString(0)), 1))
      }
      if (!first) w.write("\n")
      w.write("]")
    } finally w.close()
  }

  /** Recursive JS-style pretty printer (matches `JSON.stringify(v, null, 2)`
    * byte-for-byte: 2-space indent, `": "` key separator, `[]`/`{}` for
    * empties).
    */
  private val jsonMapper = new ObjectMapper()

  private[operators] def prettyJs(
      n: com.fasterxml.jackson.databind.JsonNode, depth: Int): String = {
    val pad = "  " * depth
    val padIn = "  " * (depth + 1)
    if (n.isObject) {
      val fields = n.fields().asScala.toSeq
      if (fields.isEmpty) "{}"
      else "{\n" + fields.map { e =>
        // keys escaped through Jackson, like JSON.stringify does
        val key = jsonMapper.writeValueAsString(e.getKey)
        s"""$padIn$key: ${prettyJs(e.getValue, depth + 1)}"""
      }.mkString(",\n") + s"\n$pad}"
    } else if (n.isArray) {
      val els = n.elements().asScala.toSeq
      if (els.isEmpty) "[]"
      else "[\n" + els.map(e => padIn + prettyJs(e, depth + 1))
        .mkString(",\n") + s"\n$pad]"
    } else jsonMapper.writeValueAsString(n)
  }
}
