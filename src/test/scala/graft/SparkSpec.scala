package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks a single test JVM). */
object SparkSessions {
  lazy val get: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec {
  lazy val spark: SparkSession = SparkSessions.get

  /** A fresh dir under `target/tmp` of the working dir (sbt runs specs
    * from the checkout's root), as an absolute path.
    */
  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get("target", "tmp").toAbsolutePath), prefix)
    d.toString
  }

  /** RDDs that `body` persisted and left persisted — read right after it
    * returns, before a GC lets the context cleaner mask a leak.
    */
  def rddsLeftBy(body: => Any): Map[Int, org.apache.spark.rdd.RDD[_]] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    body
    sc.getPersistentRDDs.filter(r => !before(r._1)).toMap
  }

  /** Asserts `body` leaves no persisted RDD behind. */
  def leavesNoRdds(body: => Any): Unit = {
    val left = rddsLeftBy(body)
    assert(left.isEmpty, left.values.mkString("\n"))
  }

  /** Runs `body` with the size gate `spark.graft.smallInput.maxBytes` at
    * `maxBytes`, restoring the previous setting afterwards.
    */
  def withGate[A](maxBytes: Long)(body: => A): A = {
    val key = "spark.graft.smallInput.maxBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, maxBytes.toString)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** `n` samples of `gen` from fixed seeds derived from `seed`. */
  def samples[T](gen: org.scalacheck.Gen[T], n: Int, seed: Long): Seq[T] =
    Iterator.iterate(org.scalacheck.rng.Seed(seed))(_.next).take(n)
      .zipWithIndex.map { case (s, i) =>
        gen.apply(org.scalacheck.Gen.Parameters.default, s).getOrElse(
          throw new AssertionError(
            s"generator returned no sample at iteration $i"))
      }.toSeq

  /** Spark jobs `body` submits from this thread (jobs of other threads
    * sharing the session are not counted).
    */
  def jobsRunBy(body: => Any): Int = jobDescriptions(body).size

  /** The job description (`spark.job.description`, null when unset) of
    * each Spark job `body` submits from this thread, in submission order.
    */
  def jobDescriptions(body: => Any): Seq[String] = {
    val sc = spark.sparkContext
    val key = "graft.spec.jobTag"
    val tag = java.util.UUID.randomUUID.toString
    val descs = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String])
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).filter(_.getProperty(key) == tag).foreach(p =>
          descs.add(p.getProperty("spark.job.description")))
    }
    sc.addSparkListener(l)
    sc.setLocalProperty(key, tag)
    try { body; org.apache.spark.graftbench.BusFlush.flush(spark) }
    finally { sc.setLocalProperty(key, null); sc.removeSparkListener(l) }
    descs.toArray(Array.empty[String]).toSeq
  }
}
