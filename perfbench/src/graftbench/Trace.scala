package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.io.{BufferedWriter, FileWriter}
import scala.collection.mutable

/** In-memory span recorder for the traced run.
  *
  * Three levels: the op span, one span per layer call the benchmark makes
  * inside the op, and one `spark.job` span per Spark job, reported by
  * [[JobListener]] and tied to the layer call that was open when the job ran
  * through the job group set here. Disabled, every method is a pass-through
  * and no listener is registered, so untraced runs pay nothing.
  *
  * Spans are written out once, at exit ([[write]]). Times are epoch
  * nanoseconds (job spans carry the scheduler's millisecond timestamps).
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  import Tracer._

  private val epochBase = System.currentTimeMillis() * 1000000L
  private val nanoBase = System.nanoTime()
  def nowNs: Long = epochBase + (System.nanoTime() - nanoBase)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private var nextId = 1L
  private var costNs = 0L

  /** Innermost open span id, read by the listener thread for jobs that run
    * outside the client thread's job group (streaming micro-batches). */
  @volatile private var current: Long = 0L

  val listener: JobListener = new JobListener(() => current)
  if (enabled) sc.addSparkListener(listener)

  /** While set, spans are not recorded (the warm-up). */
  var paused = false

  /** Seconds spent recording spans, plus the listener's handler time. */
  def costSeconds: Double = (costNs + listener.handlerNs) / 1e9

  def span[T](name: String, op: Int, attrs: (String, Any)*)(body: => T): T = {
    if (!enabled || paused) return body
    val t0 = System.nanoTime()
    val s = Span(nextId, open.headOption.fold(0L)(_.id), op, name, 0L, 0L,
      mutable.LinkedHashMap(attrs: _*))
    nextId += 1
    open.push(s)
    current = s.id
    sc.setJobGroup(JobGroupPrefix + s.id, name, interruptOnCancel = false)
    costNs += System.nanoTime() - t0
    s.start = nowNs
    try body
    finally {
      s.end = nowNs
      val t1 = System.nanoTime()
      open.pop()
      spans += s
      current = open.headOption.fold(0L)(_.id)
      open.headOption match {
        case Some(p) => sc.setJobGroup(JobGroupPrefix + p.id, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      costNs += System.nanoTime() - t1
    }
  }

  /** Attach an attribute to the innermost open span. */
  def annotate(key: String, value: Any): Unit =
    if (enabled) open.headOption.foreach(_.attrs(key) = value)

  /** Block until the listener has seen every job submitted so far: the
    * listener bus is FIFO, so once a marker job's end event arrives, every
    * earlier event has been handled. */
  def drain(): Unit = if (enabled) {
    sc.setJobGroup(DrainGroup, "drain", interruptOnCancel = false)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!listener.drained && System.nanoTime() < deadline) Thread.sleep(10)
  }

  def write(path: String): Unit = if (enabled) {
    val m = new ObjectMapper()
    val w = new BufferedWriter(new FileWriter(path))
    try {
      spans.sortBy(_.id).foreach { s =>
        val n = m.createObjectNode()
        n.put("id", s.id.toString); n.put("parent", s.parent.toString); n.put("op", s.op)
        n.put("name", s.name); n.put("start_ns", s.start); n.put("end_ns", s.end)
        putAll(n.putObject("attrs"), s.attrs)
        w.write(n.toString); w.newLine()
      }
      listener.jobs.foreach { j =>
        val n = m.createObjectNode()
        n.put("id", s"job-${j.jobId}"); n.put("parent", j.parent.toString)
        n.put("op", spans.find(_.id == j.parent).fold(-1)(_.op))
        n.put("name", "spark.job"); n.put("start_ns", j.startMs * 1000000L)
        n.put("end_ns", j.endMs * 1000000L)
        putAll(n.putObject("attrs"), j.counters)
        w.write(n.toString); w.newLine()
      }
    } finally w.close()
  }
}

object Tracer {
  val JobGroupPrefix = "graftbench-span-"
  val DrainGroup = "graftbench-drain"

  final case class Span(id: Long, parent: Long, op: Int, name: String,
                        var start: Long, var end: Long,
                        attrs: mutable.LinkedHashMap[String, Any])

  def putAll(n: ObjectNode, kv: collection.Map[String, Any]): Unit = kv.foreach {
    case (k, v: Int) => n.put(k, v)
    case (k, v: Long) => n.put(k, v)
    case (k, v: Double) => n.put(k, v)
    case (k, v: Boolean) => n.put(k, v)
    case (k, v) => n.put(k, String.valueOf(v))
  }
}

/** Executor counters per Spark job, from the public listener API. Each job
  * is attributed to the benchmark span named by its job group, or, for jobs
  * started on other threads (streaming micro-batches), to the span that
  * was innermost when the job started. */
final class JobListener(currentSpan: () => Long) extends SparkListener {
  final class Job(val jobId: Int, val parent: Long, val startMs: Long) {
    var endMs: Long = startMs
    val counters: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap(
      "tasks" -> 0L, "busy_ms" -> 0L, "cpu_ns" -> 0L, "gc_ms" -> 0L,
      "shuffle_write_bytes" -> 0L, "shuffle_read_bytes" -> 0L, "spill_bytes" -> 0L,
      "input_records" -> 0L, "output_records" -> 0L, "output_bytes" -> 0L)
    def add(k: String, v: Long): Unit = counters(k) = counters(k).asInstanceOf[Long] + v
  }

  private val byJob = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  @volatile var handlerNs = 0L
  @volatile var drained = false
  private var drainJob = -1

  def jobs: Seq[Job] = synchronized(byJob.values.toSeq)

  private def timed(f: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    f
    handlerNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    if (group.contains(Tracer.DrainGroup)) drainJob = e.jobId
    else {
      val parent = group.filter(_.startsWith(Tracer.JobGroupPrefix))
        .flatMap(_.stripPrefix(Tracer.JobGroupPrefix).toLongOption)
        .getOrElse(currentSpan())
      if (parent != 0L) { // jobs outside every span (the warm-up) are not traced
        val j = new Job(e.jobId, parent, e.time)
        byJob(e.jobId) = j
        e.stageIds.foreach(stageJob(_) = j)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    byJob.get(e.jobId).foreach(_.endMs = e.time)
    if (e.jobId == drainJob) drained = true // every earlier event is in
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.add("tasks", 1)
      j.add("busy_ms", m.executorRunTime)
      j.add("cpu_ns", m.executorCpuTime)
      j.add("gc_ms", m.jvmGCTime)
      j.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      j.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      j.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      j.add("input_records", m.inputMetrics.recordsRead)
      j.add("output_records", m.outputMetrics.recordsWritten)
      j.add("output_bytes", m.outputMetrics.bytesWritten)
    }
  }
}
