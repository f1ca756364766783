package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: `Main <plan.json>`.
  *
  * The plan (written by `run.py` next to the generated inputs) names the
  * workload, its inputs, the measuring time and whether to trace. The
  * run is: session start, seeding, warm-up ops, then timed closed-loop ops
  * in whole cycles of the op mix, up to the cycle end nearest to the
  * measuring time, then the live heap after a full GC and the workload's
  * output check. Everything measured goes to the plan's
  * `result` file; nothing is printed.
  *
  * With tracing on, every other timed op of each kind is traced, so the
  * traced and untraced op times of one run give the tracing overhead.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val mapper = new ObjectMapper()
    val plan = mapper.readTree(new File(args(0)))
    val work = plan.get("work").asText
    val cores = plan.get("cores").asInt
    val trace = plan.get("trace").asBoolean
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    val f = JsonNodeFactory.instance
    val res = f.objectNode()
    res.put("session_s", sessionS)
    val tracer = new Tracer(spark, trace)
    val w = Workload(plan.get("workload").asText, spark, plan.get("inputs"),
      tracer, s"$work/out")

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    res.put("seed_s", timed(w.seed(s"$work/state")))
    val warmup = plan.get("warmup_ops").asInt
    res.put("warmup_s", timed {
      w.open()
      (0 until warmup).foreach { n => if (w.hasNext(n)) w.step(n) }
    })

    val ops = res.putArray("ops")
    val seconds = plan.get("seconds").asDouble
    val start = System.nanoTime()
    var n = warmup
    // with tracing on, every other op of each kind is traced
    val seen = scala.collection.mutable.Map.empty[String, Int]
    // the timed phase ends on a whole cycle of the op mix, so the share of
    // each op kind in it does not depend on where the time ran out. It
    // ends at the cycle end nearest to `seconds`: another cycle starts
    // only if, as long as the last one, it would end nearer.
    var cycleStart = start
    def more: Boolean = n == warmup || !w.cycleEnd(n - 1) || {
      val now = System.nanoTime()
      val cycle = now - cycleStart
      cycleStart = now
      (now - start + cycle / 2) / 1e9 < seconds
    }
    while (more && w.hasNext(n)) {
      val k = w.kind(n)
      val traced = trace && seen.getOrElse(k, 0) % 2 == 0
      seen(k) = seen.getOrElse(k, 0) + 1
      val t0 = System.nanoTime()
      val op = if (traced) tracer.traced(n, "op")(w.step(n)) else w.step(n)
      val wall = (System.nanoTime() - t0) / 1e9
      val o = ops.addObject().put("n", n).put("kind", op.kind)
        .put("items", op.items).put("wall_s", wall).put("traced", traced)
      if (traced) {
        w.probe(op).foreach { case (k, v) => o.put(k, v) }
        o.put("spark.cached_mb", spark.sparkContext.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum / 1048576.0)
      }
      n += 1
    }
    res.put("timed_s", (System.nanoTime() - start) / 1e9)
    res.put("exhausted", !w.hasNext(n))
    // the lowest heap use over three full GCs: the pauses between them let
    // Spark's context cleaner drop state the first collection unreached
    val mem = ManagementFactory.getMemoryMXBean
    res.put("heap_live_mb", (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed
    }.min / 1048576.0)
    w.close()
    res.put("consumed", w.consumed)
    if (trace) res.set("spans", tracer.toJson(f))
    res.set("check", w.check(f))
    mapper.writeValue(new File(plan.get("result").asText), res)
    spark.stop()
  }
}
