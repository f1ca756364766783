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

  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target/tmp").toAbsolutePath match {
        case p => java.nio.file.Files.createDirectories(p)
      }, prefix)
    d.toString
  }

  /** Spark jobs `body` submits from this thread (jobs of other threads
    * sharing the session are not counted).
    */
  def jobsRunBy(body: => Any): Int = {
    val sc = spark.sparkContext
    val key = "graft.spec.jobTag"
    val tag = java.util.UUID.randomUUID.toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty(key) == tag)) {
          jobs.incrementAndGet(); ()
        }
    }
    sc.addSparkListener(l)
    sc.setLocalProperty(key, tag)
    try { body; org.apache.spark.graftbench.BusFlush.flush(spark) }
    finally { sc.setLocalProperty(key, null); sc.removeSparkListener(l) }
    jobs.get
  }
}
