package graft

import graft.sources.{Reader, ReaderOptions}

import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.{Files, Paths}

/** A catalog-typed CSV read takes its header from the first line, read
  * through the `FileSystem` and parsed by Spark's CSV reader — no job.
  * The names must equal those of Spark's own 0-row probe over the file,
  * under every option that changes which line or how it is split.
  */
class CsvHeaderSpec extends AnyFunSuite with SparkSpec {

  /** (names `Reader.get` typed, names of the probe, jobs `get` ran) for
    * stream `s` stored as `content`; `asDir` stores it as a one-part
    * directory dataset.
    */
  private def headers(
      content: String,
      csvOptions: Map[String, String] = Map.empty,
      charset: Charset = StandardCharsets.UTF_8,
      asDir: Boolean = false): (Seq[String], Seq[String], Int) = {
    val root = tmpDir("csvhdr")
    val sync = Paths.get(root, "sync-output")
    val file =
      if (!asDir) sync.resolve("s.csv")
      else sync.resolve("s.csv").resolve("part-00000.csv")
    Files.createDirectories(file.getParent)
    Files.write(file, content.getBytes(charset))
    // every header column falls back to string: the catalog only has to
    // name the stream for the typed path to run
    Files.write(Paths.get(root, "catalog.json"),
      """{"streams": [{"stream": "s", "tap_stream_id": "s",
        |  "schema": {"properties": {}}}]}""".stripMargin
        .getBytes(StandardCharsets.UTF_8))
    val r = new Reader(spark, sync.toString, root)
    var got: Seq[String] = Nil
    val jobs = jobsRunBy {
      got = r.get("s", ReaderOptions(catalogTypes = true,
        csvOptions = csvOptions)).get.columns.toSeq
    }
    val probe = spark.read.option("header", "true").option("quote", "\"")
      .options(csvOptions).csv(r.inputFiles("s")).schema.fieldNames.toSeq
    (got, probe, jobs)
  }

  private def noJob(
      content: String,
      csvOptions: Map[String, String] = Map.empty,
      charset: Charset = StandardCharsets.UTF_8): Seq[String] = {
    val (got, probe, jobs) = headers(content, csvOptions, charset)
    assert(got == probe)
    assert(jobs == 0)
    got
  }

  test("custom delimiter") {
    assert(noJob("id|name|amount\n1|a|2\n", Map("sep" -> "|")) ==
      Seq("id", "name", "amount"))
  }

  test("quoted names that contain the delimiter") {
    assert(noJob("\"a,b\",c,\"d|e\"\n1,2,3\n") == Seq("a,b", "c", "d|e"))
  }

  test("duplicate and empty names") {
    val got = noJob("id,,name,id,\n1,2,3,4,5\n")
    assert(got.size == 5 && got.distinct.size == 5)
  }

  test("leading blank lines") {
    assert(noJob("\n   \n\nid,name\n1,a\n") == Seq("id", "name"))
  }

  test("comment lines before the header") {
    assert(noJob("# exported\n#x,y\nid,name\n1,a\n", Map("comment" -> "#")) ==
      Seq("id", "name"))
  }

  test("non-UTF-8 encoding") {
    assert(noJob("café;naïve;größe\n1;2;3\n",
      Map("encoding" -> "ISO-8859-1", "sep" -> ";"),
      StandardCharsets.ISO_8859_1) == Seq("café", "naïve", "größe"))
  }

  test("UTF-8 byte-order mark") {
    assert(noJob("\uFEFFid,name\n1,a\n") == Seq("id", "name"))
  }

  test("a directory dataset takes the probe") {
    val (got, probe, jobs) = headers("id,name\n1,a\n", asDir = true)
    assert(got == probe && got == Seq("id", "name"))
    assert(jobs > 0)
  }

  test("multiLine takes the probe") {
    val (got, probe, jobs) =
      headers("\"a\nb\",c\n1,2\n", Map("multiLine" -> "true"))
    assert(got == probe && got == Seq("a\nb", "c"))
    assert(jobs > 0)
  }
}
