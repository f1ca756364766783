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

  test("estimatedBytes sums file bytes and saturates without statistics") {
    val dir = tmpDir("estbytes")
    spark.range(100).write.parquet(s"$dir/a")
    spark.range(50).write.parquet(s"$dir/b")
    val a = spark.read.parquet(s"$dir/a")
    val b = spark.read.parquet(s"$dir/b")
    assert(Tuning.estimatedBytes(a) > 0L && Tuning.estimatedBytes(b) > 0L)
    assert(Tuning.estimatedBytes(a, b) ==
      Tuning.estimatedBytes(a) + Tuning.estimatedBytes(b))
    val noStats = spark.createDataFrame(a.rdd, a.schema)
    assert(Tuning.estimatedBytes(noStats) == Long.MaxValue)
    assert(Tuning.estimatedBytes(a, noStats) == Long.MaxValue)
  }
}
