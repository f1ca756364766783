package graft.singer

import graft.catalog.CatalogSchema
import graft.conf.GluestickConf
import graft.conf.JobDescription.described
import graft.io.{DriverScan, SingleFile}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Options for [[SingerSink.toSinger]] (ref: src/singer.ts:283-305). */
final case class SingerOptions(
    keys: Seq[String] = Nil,
    filename: String = "data.singer",
    allowObjects: Boolean = false,
    schema: Option[ObjectNode] = None,
    keepNullFields: Boolean = false,
    catalogStream: Option[String] = None,
    /** P10: drop columns whose every value is null before emission. The
      * reference *intends* this but the select is commented out
      * (ref: src/singer.ts:313-322 dead code), so behavior parity keeps it
      * OFF; the flag implements the intent (one count-aggregate pass).
      */
    dropAllNullColumns: Boolean = false,
    /** P6 parse-failure handling: the reference keeps the raw string when
      * `JSON.parse` fails (ref: src/singer.ts:208-219); Spark's `from_json`
      * nulls it. With this flag the column stays a JSON STRING —
      * `coalesce(to_json(from_json(c)), c)` — so parseable values normalize
      * through the catalog type and unparseable values survive verbatim
      * (value-preserving, reference parity). Off = typed columns,
      * parse failures → null (the SURVEY §2.2 documented deviation).
      */
    keepUnparsableJson: Boolean = false,
    /** exact=true streams rows through the driver in deterministic order
      * (byte-faithful single-file append, reference semantics); exact=false
      * writes RECORD lines distributed (`write.text`) and concatenates part
      * files — the 100 TB path: no row ever materializes on the driver.
      */
    exact: Boolean = true)

/** Singer message sink: `SCHEMA` + `RECORD`* + `STATE` lines appended to one
  * `data.singer` file (ref: src/singer.ts:283-392).
  *
  * Spark-first rewrite of the reference's driver-side row loop
  * (ref: src/singer.ts:355-377 `toRecords()` + per-row JSON.stringify, the
  * reference's scalability ceiling): records are serialized columnar with
  * `to_json(struct(*))` inside whole-stage codegen; null-field dropping (P9)
  * is `ignoreNullFields`; datetime→ISO-8601 (P4) is `date_format`/
  * `timestampFormat`. The driver never holds more than one row (exact mode)
  * or zero rows (scale mode).
  */
object SingerSink {

  private val IsoFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"
  private val mapper = new ObjectMapper()

  /** JSON-serialize one line's envelope with JS-compatible compact format. */
  private def compact(n: ObjectNode): String = mapper.writeValueAsString(n)

  def schemaLine(stream: String, header: ObjectNode, keys: Seq[String]): String = {
    val F = JsonNodeFactory.instance
    val o = F.objectNode()
    o.put("type", "SCHEMA")
    o.put("stream", stream)
    o.set[ObjectNode]("schema", header)
    val arr = F.arrayNode(); keys.foreach(arr.add)
    o.set[ObjectNode]("key_properties", arr)
    compact(o)
  }

  def stateLine: String = """{"type":"STATE","value":{}}"""

  /** Column pre-transformations before serialization:
    *  - timestamps/dates → ISO strings (ref: src/singer.ts:63-73);
    *  - with allowObjects=false, struct/array columns → JSON strings
    *    (ref: src/singer.ts:131-157) — nested timestamps formatted via the
    *    `timestampFormat` writer option (P8's columnar replacement).
    */
  private[singer] def prepare(df: DataFrame, allowObjects: Boolean): DataFrame = {
    val jsonOpts = Map("timestampFormat" -> IsoFmt)
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case TimestampType | TimestampNTZType | DateType =>
          d.withColumn(f.name, date_format(col(f.name), IsoFmt))
        case _: StructType | _: ArrayType if !allowObjects =>
          d.withColumn(f.name, to_json(col(f.name), jsonOpts.asJava))
        case _ => d
      }
    }
  }

  /** JSON-encoded object/array columns re-parsed to typed columns from the
    * catalog schema (P6, schema-driven replacement for value-sniffing
    * `parseDfCols`, ref: src/singer.ts:256-281; deviation documented in
    * SURVEY §2.2: parse failures yield null, not the original string).
    */
  private[singer] def parseDfCols(
      df: DataFrame,
      catalogProps: com.fasterxml.jackson.databind.JsonNode,
      keepUnparsable: Boolean = false): DataFrame =
    catalogProps.fields().asScala.foldLeft(df) { (d, e) =>
      val name = e.getKey
      if (!d.columns.contains(name)) d
      else {
        val types = Option(e.getValue.get("type")).toSeq.flatMap { t =>
          if (t.isArray) t.elements().asScala.map(_.asText).toSeq
          else Seq(t.asText)
        }
        if (!types.exists(t => t == "object" || t == "array")) d
        else CatalogSchema.toDataType(e.getValue) match {
          case StringType => d // opaque object/array: keep the JSON string
          case dt if d.schema(name).dataType == StringType =>
            if (keepUnparsable) dt match {
              // reference keep-on-failure (src/singer.ts:208-219): parseable
              // → normalized through the catalog type, unparseable →
              // verbatim. PERMISSIVE from_json yields an all-null STRUCT
              // (not null) on malformed input, so struct failures are
              // detected via the corrupt-record column instead of coalesce.
              case st: StructType =>
                val corrupt = "__graft_corrupt"
                val parsed = from_json(col(name),
                  StructType(st.fields :+ StructField(corrupt, StringType)),
                  Map("columnNameOfCorruptRecord" -> corrupt).asJava)
                // ignoreNullFields=false: a parsed {"city":null} must
                // round-trip with its explicit null, as JSON.parse would
                val keepNulls = Map("ignoreNullFields" -> "false").asJava
                d.withColumn(name,
                  when(col(name).isNull, lit(null).cast(StringType))
                    .when(parsed.getField(corrupt).isNotNull, col(name))
                    .otherwise(
                      to_json(parsed.dropFields(corrupt), keepNulls)))
              case _ => // array types: from_json nulls on malformed input
                d.withColumn(name,
                  coalesce(to_json(from_json(col(name), dt),
                    Map("ignoreNullFields" -> "false").asJava), col(name)))
            }
            else d.withColumn(name, from_json(col(name), dt))
          case _ => d
        }
      }
    }

  /** Emit the stream to `{outputDir}/{filename}`, appending if the file
    * exists so multiple streams interleave (ref: src/singer.ts:341-342,
    * 387-391). Its jobs are described `graft:SingerSink.toSinger <stream>`.
    */
  def toSinger(
      df: DataFrame,
      stream: String,
      outputDir: String,
      options: SingerOptions = SingerOptions(),
      conf: GluestickConf = GluestickConf.fromEnv(),
      catalogLookup: String => Option[ObjectNode] = _ => None): Unit =
    described(df.sparkSession, s"graft:SingerSink.toSinger $stream")(
      emit(df, stream, outputDir, options, conf, catalogLookup))

  private def emit(
      df: DataFrame,
      stream: String,
      outputDir: String,
      options: SingerOptions,
      conf: GluestickConf,
      catalogLookup: String => Option[ObjectNode]): Unit = {
    val spark = df.sparkSession
    val useCatalog = conf.useCatalogSchema || options.catalogStream.isDefined

    // P10 (flagged, ref: src/singer.ts:313-322): one distributed aggregate
    // counts non-nulls per column; all-null columns are dropped from both
    // schema and records. Mirrors the reference's guard conditions.
    val df0 =
      if (options.dropAllNullColumns && options.allowObjects &&
        !useCatalog && !options.keepNullFields && df.columns.nonEmpty) {
        val counts = df.agg(
          count(col(df.columns.head)).as(df.columns.head),
          df.columns.tail.map(c => count(col(c)).as(c)).toIndexedSeq: _*)
          .head()
        val keep = df.columns.zipWithIndex
          .filter { case (_, i) => counts.getLong(i) > 0 }.map(_._1)
        if (keep.nonEmpty) df.select(keep.map(col).toIndexedSeq: _*) else df
      } else df

    // Schema priority (ref: src/singer.ts:44-47, 161-163, 324-328):
    // explicit schema (non-catalog) bypasses inference; catalog merges over
    // inferred and re-types JSON-string columns first.
    val (prepped: DataFrame, header: ObjectNode) =
      if (options.schema.isDefined && !useCatalog) {
        (prepare(df0, options.allowObjects), options.schema.get)
      } else if (useCatalog) {
        val streamName = options.catalogStream.getOrElse(stream)
        val catalogProps = catalogLookup(streamName).getOrElse(
          throw new IllegalArgumentException(
            s"No schema found in catalog for stream $streamName"))
        val parsed =
          parseDfCols(df0, catalogProps, options.keepUnparsableJson)
        val inferred = SingerSchema.headerMap(parsed.schema, allowObjects = true)
        (prepare(parsed, allowObjects = true),
          SingerSchema.mergeCatalog(inferred, catalogProps))
      } else {
        (prepare(df0, options.allowObjects),
          SingerSchema.headerMap(df0.schema, options.allowObjects))
      }

    // RECORD payload: columnar JSON of the whole row. Null fields dropped
    // unless keepNullFields/catalog mode (ref: src/singer.ts:361-365 — the
    // reference keeps nulls in catalog mode; ignoreNullFields mirrors that).
    val dropNulls = !useCatalog && !options.keepNullFields
    val rowJson = to_json(
      struct(prepped.columns.map(col).toIndexedSeq: _*),
      Map(
        "ignoreNullFields" -> dropNulls.toString,
        "timestampFormat" -> IsoFmt).asJava)
    // stream name escaped through Jackson (it can carry user prefixes)
    val prefix = s"""{"type":"RECORD","stream":${
      mapper.writeValueAsString(stream)},"record":"""
    val lines = prepped.select(
      concat(lit(prefix), rowJson, lit("}")).as("line"))

    val outPath = new Path(outputDir, options.filename)
    val fs = outPath.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new Path(outputDir))
    val append = fs.exists(outPath)

    val out =
      if (!append) fs.create(outPath, true)
      else
        try fs.append(outPath)
        catch {
          case _: UnsupportedOperationException =>
            // Local ChecksumFileSystem can't append: rename the existing
            // file aside, recreate, and stream the old bytes back first.
            val old = new Path(outputDir,
              s".${options.filename}.__old__${System.nanoTime()}")
            fs.rename(outPath, old)
            val o = fs.create(outPath, true)
            val in = fs.open(old)
            try org.apache.hadoop.io.IOUtils.copyBytes(in, o, 1 << 20, false)
            finally in.close()
            fs.delete(old, false)
            o
        }
    val writer = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(out, java.nio.charset.StandardCharsets.UTF_8),
      1 << 20)
    try {
      writer.write(schemaLine(stream, header, options.keys)); writer.write("\n")
      if (options.exact) {
        // Driver-streamed, one row at a time — ordering-faithful. A frame
        // the driver can read (a local one, or a small file scan under one
        // projection) runs no job; the same expressions make the lines.
        def put(line: String): Unit = { writer.write(line); writer.write("\n") }
        DriverScan.rows(lines) match {
          case Some(rows) =>
            rows.read(_.foreach(r => put(r.getUTF8String(0).toString)))
          case None =>
            lines.toLocalIterator().asScala.foreach(r => put(r.getString(0)))
        }
      } else {
        // Scale path: distributed text write, then a driver-side streamed
        // concat of part files (no row ever deserialized on the driver).
        val tmp = new Path(outputDir,
          s".${options.filename}.__records__${System.nanoTime()}")
        lines.write.mode("overwrite").text(tmp.toString)
        try {
          writer.flush()
          fs.listStatus(tmp).map(_.getPath)
            .filter(_.getName.startsWith("part-")).sortBy(_.getName)
            .foreach { p =>
              val in = fs.open(p)
              try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 1 << 20, false)
              finally in.close()
            }
        } finally { fs.delete(tmp, true); () }
      }
      writer.write(stateLine); writer.write("\n")
    } finally writer.close()
  }
}
