package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory}
import org.apache.spark.scheduler.{
  SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work attributed to one span: every job submitted while the span
  * was the innermost one on the submitting thread, and those jobs' stages.
  */
final class Counters {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val busyMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val rowsRead = new AtomicLong
}

/** One timed call. `op` is the timed operation it belongs to (-1 in
  * set-up); `parent` is -1 for an operation's root span.
  */
final case class Span(
    id: Int, name: String, parent: Int, op: Int, startNs: Long,
    startMs: Long) {
  @volatile var endNs: Long = 0L
  @volatile var bytesWritten: Long = -1L
  /** Time the benchmark spent measuring its child spans' directories:
    * not program time, so it is taken out of this span's self time.
    */
  val walkNs = new AtomicLong
}

/** In-memory spans around the benchmark's calls into the program, plus
  * the Spark listeners that attribute jobs, stages, tasks, shuffle and
  * input rows to them. With tracing off nothing is registered and
  * [[span]] only runs its body.
  *
  * Attribution uses a thread-local Spark job property set before each
  * call: jobs inherit it from the submitting thread, including the
  * streaming thread that runs a `foreachBatch` body, where [[span]] sets
  * it again.
  */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val Key = "perfbench.span"
  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val planEvents =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val progress = new ConcurrentHashMap[Long, Long]()
  private val batchBody = new ConcurrentHashMap[Long, (Int, Long)]()
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  @volatile private var opRoot: Option[Span] = None
  @volatile private var tracing = false

  /** True while a traced operation runs. */
  def active: Boolean = tracing

  private def countersOf(id: Int): Counters =
    counters.computeIfAbsent(id, _ => new Counters)

  if (on) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val id = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
          .map(_.toInt).getOrElse(-1)
        countersOf(id).jobs.incrementAndGet()
        e.stageIds.foreach(s => stageSpan.put(s, id))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val info = e.stageInfo
        val c = countersOf(stageSpan.getOrDefault(info.stageId, -1))
        c.stages.incrementAndGet()
        c.tasks.addAndGet(info.numTasks.toLong)
        Option(info.taskMetrics).foreach { m =>
          c.busyMs.addAndGet(m.executorRunTime)
          c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          c.rowsRead.addAndGet(m.inputMetrics.recordsRead)
        }
      }
    })
    // planning time of every action, attributed to an operation by when
    // its optimizer phase started
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val ph = qe.tracker.phases
        if (ph.nonEmpty) planEvents.add((
          ph.values.map(_.startTimeMs).max, ph.values.map(_.durationMs).sum))
      }
      override def onFailure(
          f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    spark.streams.addListener(new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        if (e.progress.numInputRows > 0)
          progress.put(e.progress.batchId, e.progress.batchDuration)
        ()
      }
    })
  }

  /** Time `body` as span `name`. `dirs` are measured before and after
    * (outside the timed interval) to record the bytes the call wrote;
    * the parent span records how long that took.
    */
  def span[T](name: String, dirs: Seq[String] = Nil)(body: => T): T =
    if (!tracing) body
    else {
      val outer = stack.get()
      val parent = outer.headOption.orElse(opRoot)
      val w0 = System.nanoTime()
      val before = if (dirs.nonEmpty) Files.bytes(dirs) else 0L
      parent.foreach(_.walkNs.addAndGet(System.nanoTime() - w0))
      val s = newSpan(name, parent.map(_.id).getOrElse(-1),
        parent.map(_.op).getOrElse(-1))
      val prev = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, s.id.toString)
      stack.set(s :: outer)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.set(outer)
        sc.setLocalProperty(Key, prev)
        if (dirs.nonEmpty) {
          s.bytesWritten = Files.bytes(dirs) - before
          parent.foreach(_.walkNs.addAndGet(System.nanoTime() - s.endNs))
        }
      }
    }

  /** Run one operation with tracing switched on for its duration; the
    * operation's root span is the parent of every span opened inside.
    */
  def traced[T](op: Int, name: String)(body: => T): T = {
    val root = newSpan(name, -1, op)
    opRoot = Some(root)
    tracing = true
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, root.id.toString)
    try body
    finally {
      root.endNs = System.nanoTime()
      sc.setLocalProperty(Key, prev)
      tracing = false
      opRoot = None
    }
  }

  /** Set-up calls (builds, seeding) are traced as spans of operation -1. */
  def setup[T](name: String)(body: => T): T =
    if (!on) body
    else {
      tracing = true
      try span(name)(body) finally tracing = false
    }

  /** Bracket a `foreachBatch` body so the streaming overhead of the batch
    * (progress batch duration minus body time) can be derived.
    */
  def batch[T](batchId: Long)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally if (tracing)
      batchBody.put(batchId, (opRoot.map(_.op).getOrElse(-1),
        System.nanoTime() - t0))
  }

  private def newSpan(name: String, parent: Int, op: Int): Span =
    spans.synchronized {
      val s = Span(spans.size, name, parent, op, System.nanoTime(),
        System.currentTimeMillis())
      spans += s
      s
    }

  /** Wait until every listener event posted so far has been delivered,
    * including progress events of the streaming batches traced so far.
    */
  def drain(): Unit = if (on) {
    org.apache.spark.perfbench.Bus.flush(sc)
    val deadline = System.nanoTime() + 10000000000L
    while (batchBody.keySet.asScala.exists(b => !progress.containsKey(b)) &&
      System.nanoTime() < deadline) Thread.sleep(20)
    org.apache.spark.perfbench.Bus.flush(sc)
  }

  /** Every span with its counters, as JSON; streaming overhead per op. */
  def toJson(f: JsonNodeFactory): ArrayNode = {
    drain()
    val arr = f.arrayNode()
    val all = spans.synchronized(spans.toList)
    val epochNs = all.headOption.map(s => s.startNs).getOrElse(0L)
    val plans = planEvents.asScala.toList
    all.foreach { s =>
      val o = arr.addObject()
      o.put("id", s.id).put("name", s.name).put("parent", s.parent)
        .put("op", s.op)
        .put("start_s", (s.startNs - epochNs) / 1e9)
        .put("end_s", (s.endNs - epochNs) / 1e9)
      if (s.bytesWritten >= 0) o.put("bytes_written", s.bytesWritten)
      o.put("walk_s", s.walkNs.get / 1e9)
      val c = countersOf(s.id)
      o.put("jobs", c.jobs.get).put("stages", c.stages.get)
        .put("tasks", c.tasks.get).put("task_busy_s", c.busyMs.get / 1e3)
        .put("shuffle_bytes", c.shuffleBytes.get)
        .put("rows_read", c.rowsRead.get)
      if (s.parent == -1 && s.op >= 0) {
        val endMs = s.startMs + (s.endNs - s.startNs) / 1000000L
        o.put("plan_ms", plans.collect {
          case (t, d) if t >= s.startMs && t <= endMs => d
        }.sum)
        val stream = batchBody.asScala.collect {
          case (b, (op, bodyNs)) if op == s.op && progress.containsKey(b) =>
            progress.get(b) / 1e3 - bodyNs / 1e9
        }
        if (stream.nonEmpty) o.put("streaming_overhead_s", stream.sum)
      }
    }
    arr
  }
}

/** Sizes of the benchmark's state and output directories. */
object Files {
  def bytes(dirs: Seq[String]): Long =
    dirs.map(d => walk(new java.io.File(d))).sum

  private def walk(f: java.io.File): Long =
    if (f.isDirectory)
      Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
    else f.length()
}
