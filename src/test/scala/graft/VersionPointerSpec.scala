package graft

import graft.io.VersionPointer

import org.scalatest.funsuite.AnyFunSuite

/** [[graft.io.VersionPointer]]'s manifest record: integer fields ride
  * between the version and the `ok` terminator, and a commit without
  * fields keeps the plain `<version> ok` record byte for byte.
  */
class VersionPointerSpec extends AnyFunSuite with SparkSpec {

  test("a commit with fields reads back; one without writes `<v> ok`") {
    val dir = tmpDir("vp_fields")
    def manifests() = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("_current.")).sortBy(_.getName)
    VersionPointer.commit(spark, dir, 3, Seq(8L, 42L))
    assert(VersionPointer.record(spark, dir)
      .contains(VersionPointer.Record(3, Seq(8L, 42L))))
    assert(VersionPointer.current(spark, dir).contains(3))
    VersionPointer.commit(spark, dir, 4)
    val newest = manifests().last
    val bytes = java.nio.file.Files.readAllBytes(newest.toPath)
    assert(new String(bytes, "UTF-8") == "4 ok")
    assert(VersionPointer.record(spark, dir)
      .contains(VersionPointer.Record(4, Nil)))
  }
}
