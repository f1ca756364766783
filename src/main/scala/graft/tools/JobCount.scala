// Dev scaffolding: run queries and report Spark job/stage/task counts plus
// wall time — the fixed-cost profile that dominates iterative shapes on a
// contended box. Run:
//   sbt -batch "runMain graft.tools.JobCount <sfDir> <q1,q2,...>"
package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.AtomicLong

object JobCount {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).headOption.map(_.split(',').toSeq)
      .getOrElse(Seq("q207_sssp"))
    // 3rd arg "jobs": also print each measured-pass job's wall time and
    // description (which operator/action the fixed cost belongs to)
    val verbose = args.lift(2).contains("jobs")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicLong(); val stages = new AtomicLong()
    val tasks = new AtomicLong()
    val jobStart =
      scala.collection.concurrent.TrieMap[Int, (Long, String)]()
    val jobLog =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        // properties is null for a job submitted without any
        val desc = Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))
            .orElse(Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobStart.put(j.jobId, (j.time, desc))
        ()
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        jobStart.remove(j.jobId).foreach { case (t0, desc) =>
          jobLog.add((j.jobId, j.time - t0, desc))
        }
        ()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); ()
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet(); ()
      }
    })
    def snap(): (Long, Long, Long) = {
      org.apache.spark.graftbench.BusFlush.flush(spark)
      (jobs.get(), stages.get(), tasks.get())
    }
    names.foreach { n =>
      val spec = graft.SparkEntry.specs.find(_.name == n).getOrElse(
        sys.error(s"unknown query $n"))
      spec.setup.foreach(_(spark, dir))
      // warm pass then measured pass (mirrors the bench's min-of-2)
      spec.fn(spark, dir).count()
      val (j0, s0, t0) = snap()
      jobLog.clear()
      val w0 = System.nanoTime()
      spec.fn(spark, dir).count()
      val secs = (System.nanoTime() - w0) / 1e9
      val (j1, s1, t1) = snap()
      if (verbose) {
        import scala.jdk.CollectionConverters._
        jobLog.asScala.toSeq.sortBy(_._1).foreach { case (id, ms, desc) =>
          println(f"  job $id%-5d ${ms}%6d ms  ${desc.take(110)}")
        }
      }
      val persisted = spark.sparkContext.getPersistentRDDs.size
      val mem = spark.sparkContext.getExecutorMemoryStatus.values
        .map { case (max, free) => max - free }.sum / (1024 * 1024)
      println(f"$n%-28s ${secs}%7.2f s  jobs=${j1 - j0}%-4d " +
        f"stages=${s1 - s0}%-5d tasks=${t1 - t0}%-6d " +
        f"persistedRDDs=$persisted%-4d storageUsedMB=$mem")
    }
    spark.stop()
  }
}
