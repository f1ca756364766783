package graft

import graft.conf.Tuning

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

class TuningSpec extends AnyFunSuite with SparkSpec {

  test("dirBytes measures through the path's FileSystem, URIs included") {
    val dir = tmpDir("dirbytes")
    Files.createDirectories(Paths.get(dir, "sub"))
    Files.write(Paths.get(dir, "a.bin"), new Array[Byte](100))
    Files.write(Paths.get(dir, "sub", "b.bin"), new Array[Byte](250))
    assert(Tuning.dirBytes(spark, dir) == 350L)
    assert(Tuning.dirBytes(spark, s"file://$dir") == 350L)
    assert(Tuning.dirBytes(spark, s"file://$dir/a.bin") == 100L)
    assert(Tuning.dirBytes(spark, s"$dir/missing") == 0L)
  }
}
