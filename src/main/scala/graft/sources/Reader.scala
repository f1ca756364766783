package graft.sources

import graft.catalog.CatalogSchema
import graft.catalog.CatalogSchema.Catalog
import graft.conf.GluestickConf
import graft.io.FooterSchema

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.{Charset, StandardCharsets}
import java.util.Locale

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** Options for [[Reader.get]] (ref: src/reader.ts:47-51 `options`).
  *
  * @param catalogTypes cast/declare column types from `{root}/catalog.json`
  * @param parseDates   CSV columns parsed as `%Y-%m-%d %H:%M:%S%.f` with a
  *                     `%Y-%m-%d` fallback (ref: src/reader.ts:111-128)
  * @param csvOptions   extra options passed through to the CSV source
  *                     (ref: spread `...options` src/reader.ts:95-98)
  */
final case class ReaderOptions(
    catalogTypes: Boolean = false,
    parseDates: Seq[String] = Nil,
    csvOptions: Map[String, String] = Map.empty)

/** Stream registry + typed scans over a Singer `sync-output/` directory.
  *
  * Reimplements the reference's `Reader` (ref: src/reader.ts:25-326)
  * Spark-first:
  *  - listing goes through the Hadoop `FileSystem` API so the same code works
  *    on HDFS/S3A directory listings at cluster scale, not just local disk;
  *  - CSV catalog typing is pushed into the scan as an explicit read schema
  *    (one pass; no separate inference scan over 100 TB of input);
  *  - Parquet catalog typing is a lazy per-column `try_cast` projection that
  *    Catalyst folds into the scan (the reference eagerly re-materializes the
  *    frame per cast, ref: src/reader.ts:73-81);
  *  - parquet key-value footer metadata is read for real via
  *    `ParquetFileReader` — the reference stubs this with a warning
  *    (ref: src/reader.ts:147-157);
  *  - `get` runs no Spark job for a single parquet file (schema from the
  *    footer, [[graft.io.FooterSchema]]) or a single CSV file with
  *    `catalogTypes` (header read through the `FileSystem`).
  */
final class Reader(
    val spark: SparkSession,
    val dir: String,
    val root: String,
    ignore: Seq[String] = Nil,
    conf: GluestickConf = GluestickConf.fromEnv())
    extends Logging {

  /** stream name → input file path (S1). */
  val inputFiles: Map[String, String] = readDirectories(ignore)

  def keys: Seq[String] = inputFiles.keys.toSeq.sorted

  override def toString: String =
    keys.mkString("[", ",", "]")

  /** Directory discovery (ref: src/reader.ts:203-235): only `*.csv` /
    * `*.parquet`, stream = basename minus extension truncated at the first
    * `-`, first file per stream wins. If `dir` is itself a file, it is the
    * single input. Listing is sorted for cross-filesystem determinism (the
    * reference inherits OS readdir order).
    */
  private def readDirectories(ignore: Seq[String]): Map[String, String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // The reference registers plain files only; we also accept *directories*
    // named `*.parquet`/`*.csv` — Spark's native dataset layout (a 100 TB
    // stream is a directory of parts, never one file).
    val all: Seq[String] =
      if (!fs.exists(p)) Seq.empty
      else if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).toSeq
          .map(_.getPath.toString)
          .filter(f => f.endsWith(".csv") || f.endsWith(".parquet"))
          .sorted
      else Seq(dir)
    all.foldLeft(Map.empty[String, String]) { (acc, file) =>
      val base = file.substring(file.lastIndexOf('/') + 1)
        .replaceAll("\\.(csv|parquet)$", "")
      val entity =
        if (base.contains("-")) base.substring(0, base.indexOf('-')) else base
      if (acc.contains(entity) || ignore.contains(entity)) acc
      else acc + (entity -> file)
    }
  }

  /** `{root}/catalog.json` (ref: src/reader.ts:237-251). */
  def readCatalog(): Option[Catalog] =
    CatalogSchema.parseFile(s"$root/catalog.json")

  /** Logs-and-None on read failure — behavior parity with the reference,
    * which console.errors the exception and returns null
    * (ref: src/reader.ts:87-90,131-134). A corrupt file must leave a trace,
    * not read as "stream doesn't exist".
    */
  private def loggedRead(stream: String, filepath: String)(
      read: => DataFrame): Option[DataFrame] =
    Try(read) match {
      case Success(df) => Some(df)
      case Failure(e) =>
        logError(s"Failed to read stream '$stream' from $filepath", e)
        None
    }

  /** Typed scan of one stream (S2/S3, ref: src/reader.ts:47-139).
    * Returns None for unknown streams or read failures (the reference logs
    * and returns null).
    */
  def get(stream: String, options: ReaderOptions = ReaderOptions())
      : Option[DataFrame] =
    inputFiles.get(stream).flatMap { filepath =>
      if (filepath.endsWith(".parquet")) readParquet(stream, filepath, options)
      else if (filepath.endsWith(".csv")) readCsv(stream, filepath, options)
      else { logWarning(s"Unsupported file format for $filepath"); None }
    }

  private def readParquet(
      stream: String,
      filepath: String,
      options: ReaderOptions): Option[DataFrame] =
    loggedRead(stream, filepath) {
      val df = FooterSchema.read(spark, filepath)
      if (!options.catalogTypes) df
      else {
        // Per-column lenient cast (ref: src/reader.ts:73-81 try/warn).
        // try_cast ≙ Polars' non-strict cast: unconvertible values → null,
        // never a task failure; Catalyst still prunes/pushes through it.
        val schema = for {
          catalog <- readCatalog()
          cs <- catalog.find(stream)
        } yield CatalogSchema.flatSchema(cs, df.columns.toSeq)
        schema.fold(df) { st =>
          st.fields.filter(f => df.columns.contains(f.name))
            .foldLeft(df) { (d, f) =>
              d.withColumn(f.name, expr(
                s"try_cast(`${f.name}` AS ${f.dataType.sql})"))
            }
        }
      }
    }

  private def readCsv(
      stream: String,
      filepath: String,
      options: ReaderOptions): Option[DataFrame] =
    loggedRead(stream, filepath) {
      val reader = spark.read
        .option("header", "true")
        .option("quote", "\"") // ref: src/reader.ts:96 quoteChar
        .options(options.csvOptions)
      val base =
        if (!options.catalogTypes) reader.option("inferSchema", "true")
        else {
          // Catalog dtypes become the *read schema* (single pass over the
          // data — the typed scan replaces Polars' dtype option,
          // ref: src/reader.ts:100-105). Header columns
          // (ref: src/reader.ts:262) must honor the same CSV options
          // (delimiter etc.) as the real read.
          val headers = csvHeader(filepath, options.csvOptions)
          val st = for {
            catalog <- readCatalog()
            cs <- catalog.find(stream)
          } yield {
            // parseDates columns must stay String for the explicit
            // strptime chain below.
            val flat = CatalogSchema.flatSchema(cs, headers)
            StructType(flat.map { f =>
              if (options.parseDates.contains(f.name))
                f.copy(dataType = StringType)
              else f
            })
          }
          st.fold(reader.option("inferSchema", "true"))(reader.schema)
        }
      val df = base.csv(filepath)
      // strptime with format fallback (ref: src/reader.ts:111-128):
      // primary '%Y-%m-%d %H:%M:%S%.f', fallback '%Y-%m-%d'. try_to_timestamp
      // keeps per-value leniency instead of failing the scan under ANSI.
      options.parseDates.filter(df.columns.contains).foldLeft(df) { (d, c) =>
        d.withColumn(c, coalesce(
          try_to_timestamp(col(c), lit("yyyy-MM-dd HH:mm:ss.SSSSSS")),
          try_to_timestamp(col(c), lit("yyyy-MM-dd HH:mm:ss")),
          try_to_timestamp(col(c), lit("yyyy-MM-dd"))))
      }
    }

  /** CSV header names as Spark's CSV reader resolves them. For a single
    * file the first non-blank, non-comment line is read through the
    * `FileSystem` and parsed by Spark's CSV reader over a one-line
    * Dataset — same options, same header rules, no job. Directories,
    * `multiLine`, a custom `lineSep`, or no such line take the 0-row
    * probe over the path (one job).
    */
  private def csvHeader(
      filepath: String, csvOptions: Map[String, String]): Seq[String] = {
    def reader = spark.read.option("header", "true")
      .option("quote", "\"").options(csvOptions)
    firstCsvLine(filepath, csvOptions) match {
      case Some(line) =>
        // no type inference: it would run a job and cannot rename columns
        reader.option("inferSchema", "false")
          .csv(spark.createDataset(Seq(line))(Encoders.STRING))
          .schema.fieldNames.toSeq
      case None => reader.csv(filepath).schema.fieldNames.toSeq
    }
  }

  /** The line Spark's CSV inference takes the header from: the first one
    * that is not blank and does not start with the `comment` character,
    * decoded with `encoding` (Hadoop's line reader drops a UTF-8 BOM).
    * None where that line is not a plain line of one file.
    */
  private def firstCsvLine(
      filepath: String, csvOptions: Map[String, String]): Option[String] = {
    val o = csvOptions.map { case (k, v) => k.toLowerCase(Locale.ROOT) -> v }
    val comment = o.get("comment")
    if (o.get("multiline").exists(_.equalsIgnoreCase("true")) ||
        o.contains("linesep") || comment.exists(_.length != 1)) None
    else {
      val p = new Path(filepath)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.getFileStatus(p).isFile) None
      else {
        val charset = Charset.forName(
          o.getOrElse("encoding", o.getOrElse("charset", "UTF-8")))
        val in = new BufferedReader(
          new InputStreamReader(fs.open(p), charset))
        try {
          val first = Option(in.readLine()).map(l =>
            if (charset == StandardCharsets.UTF_8) l.stripPrefix("\uFEFF")
            else l)
          (first.iterator ++
            Iterator.continually(in.readLine()).takeWhile(_ != null))
            .find(l => l.trim.nonEmpty && !comment.exists(l.startsWith))
        } finally in.close()
      }
    }
  }

  /** Parquet footer key-value metadata (S5). The reference stubs this
    * (ref: src/reader.ts:141-160 returns `{}` with a warning); Spark's
    * parquet-hadoop is on the classpath so we read the real footer.
    */
  def getMetadata(stream: String): Map[String, String] = {
    val filepath = inputFiles.getOrElse(
      stream,
      throw new IllegalArgumentException(
        s"There is no file for stream with name $stream."))
    if (!filepath.endsWith(".parquet")) Map.empty
    else
      Try {
        val hconf = spark.sessionState.newHadoopConf()
        val p0 = new Path(filepath)
        val f = p0.getFileSystem(hconf)
        // Directory-style dataset: read the footer of the first part file.
        val target =
          if (f.getFileStatus(p0).isDirectory)
            f.listStatus(p0).map(_.getPath)
              .filter(_.getName.startsWith("part-")).minBy(_.getName)
          else p0
        val in = HadoopInputFile.fromPath(target, hconf)
        val r = ParquetFileReader.open(in)
        try r.getFooter.getFileMetaData.getKeyValueMetaData.asScala.toMap
        finally r.close()
      }.getOrElse(Map.empty)
  }

  /** Primary key resolution (ref: src/reader.ts:162-201): parquet KV
    * `key_properties` (JSON array) first, then catalog
    * `table-key-properties` from the empty breadcrumb.
    */
  def getPk(stream: String): Seq[String] = {
    val fromParquet: Option[Seq[String]] =
      inputFiles.get(stream).filter(_.endsWith(".parquet")).flatMap { _ =>
        getMetadata(stream).get("key_properties").flatMap { kp =>
          Try {
            val node = new com.fasterxml.jackson.databind.ObjectMapper()
              .readTree(kp)
            node.elements().asScala.map(_.asText).toSeq
          }.toOption
        }
      }
    fromParquet.getOrElse {
      (for {
        catalog <- readCatalog()
        cs <- catalog.find(stream)
      } yield CatalogSchema.tableKeyProperties(cs)).getOrElse(Seq.empty)
    }
  }
}

object Reader {
  /** Default constructor mirroring `new Reader()` (ref: src/reader.ts:33):
    * dir = `$ROOT_DIR/sync-output`, root = `$ROOT_DIR`.
    */
  def apply(
      spark: SparkSession,
      dir: Option[String] = None,
      root: Option[String] = None,
      ignore: Seq[String] = Nil,
      conf: GluestickConf = GluestickConf.fromEnv()): Reader =
    new Reader(
      spark,
      dir.getOrElse(conf.inputDir),
      root.getOrElse(conf.rootDir),
      ignore,
      conf)
}
