package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/** Spark-side work of one span: jobs, stages and task metrics of every job
  * started while the span's job group was set on the calling thread. */
final class JobStats {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val inputBytes = new AtomicLong
  val shuffleBytes = new AtomicLong // written + read
  val spillBytes = new AtomicLong   // memory + disk

  def add(o: JobStats): Unit = {
    jobs.addAndGet(o.jobs.get); stages.addAndGet(o.stages.get)
    tasks.addAndGet(o.tasks.get); cpuNs.addAndGet(o.cpuNs.get)
    inputBytes.addAndGet(o.inputBytes.get)
    shuffleBytes.addAndGet(o.shuffleBytes.get); spillBytes.addAndGet(o.spillBytes.get)
  }
}

/** Aggregates job, stage and task metrics per job group. A job group is a
  * thread-local job property, so untraced work and work of other threads
  * never land in a span. */
final class GroupListener extends SparkListener {
  val groups = new ConcurrentHashMap[String, JobStats]()
  private val stageGroup = new ConcurrentHashMap[Int, JobStats]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { id =>
        val s = groups.computeIfAbsent(id, _ => new JobStats)
        s.jobs.incrementAndGet()
        s.stages.addAndGet(e.stageIds.size)
        e.stageIds.foreach(stageGroup.put(_, s))
      }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (s != null && m != null) {
      s.tasks.incrementAndGet()
      s.cpuNs.addAndGet(m.executorCpuTime)
      s.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      s.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead)
      s.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

/** One timed call into a layer. Spans of one benchmark operation (a crawl,
  * a query, an index build) share `op`; `parent` is the enclosing span or
  * -1; `traced` says whether job statistics were collected for it. */
final case class Span(id: Int, op: Int, parent: Int, name: String,
                      startNs: Long, endNs: Long, traced: Boolean) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around public calls into the engine, recorded from outside it.
  * Every span is timed; only spans inside a traced operation set a job
  * group, and the listener is attached only while such an operation runs,
  * so untraced operations pay for a clock read and nothing else. */
final class Tracer(sc: SparkContext) {
  private val listener = new GroupListener
  private var attached = false
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String)]
  private var nextOp = 0
  private var currentOp = -1
  private var tracing = false

  /** Runs one benchmark operation; its spans share a fresh op id. */
  def op[T](traced: Boolean)(body: => T): T = {
    if (traced && !attached) { sc.addSparkListener(listener); attached = true }
    if (!traced && attached) { drain(); sc.removeSparkListener(listener); attached = false }
    currentOp = nextOp; nextOp += 1; tracing = traced
    try body finally { currentOp = -1; tracing = false }
  }

  /** Times `body` as span `name`. */
  def span[T](name: String)(body: => T): (T, Span) = {
    val id = spans.size
    spans += null // reserve the id: nested spans number after their parent
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    stack ::= id -> name
    setGroup()
    val t0 = System.nanoTime()
    def close(): Span = {
      val s = Span(id, currentOp, parent, name, t0, System.nanoTime(), tracing)
      spans(id) = s
      stack = stack.tail
      setGroup()
      s
    }
    val out = try body catch { case e: Throwable => close(); throw e }
    (out, close())
  }

  private def setGroup(): Unit = if (tracing) stack.headOption match {
    case Some((id, name)) => sc.setJobGroup(s"perfbench-$id", name)
    case None             => sc.clearJobGroup()
  }

  private def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Job statistics of the span's own job group. */
  def self(s: Span): JobStats = {
    if (attached) drain()
    listener.groups.getOrDefault(s"perfbench-${s.id}", new JobStats)
  }

  /** Job statistics of the span and every span nested in it. */
  def inclusive(s: Span): JobStats = {
    val out = new JobStats
    def walk(x: Span): Unit = { out.add(self(x)); children(x).foreach(walk) }
    walk(s)
    out
  }

  private def children(s: Span): Seq[Span] = all.filter(_.parent == s.id)

  def all: Seq[Span] = spans.iterator.filter(_ != null).toSeq

  /** Writes every span as one JSON object per line: timing, self time
    * (duration minus the union of its children's intervals) and the job
    * statistics of its own job group. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      val st = self(s)
      val selfNs = s.endNs - s.startNs - Trace.covered(children(s).map(c => (c.startNs, c.endNs)))
      compact(render(
        ("id" -> s.id) ~ ("op" -> s.op) ~ ("parent" -> s.parent) ~ ("name" -> s.name) ~
          ("traced" -> s.traced) ~ ("start_ns" -> s.startNs) ~ ("end_ns" -> s.endNs) ~
          ("dur_s" -> s.seconds) ~ ("self_s" -> selfNs / 1e9) ~
          ("jobs" -> st.jobs.get) ~ ("stages" -> st.stages.get) ~ ("tasks" -> st.tasks.get) ~
          ("task_cpu_s" -> st.cpuNs.get / 1e9) ~ ("input_bytes" -> st.inputBytes.get) ~
          ("shuffle_bytes" -> st.shuffleBytes.get) ~ ("spill_bytes" -> st.spillBytes.get)))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  def close(): Unit = if (attached) { drain(); sc.removeSparkListener(listener); attached = false }
}

object Trace {
  /** Total length of the union of intervals [start, end). */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var lo = 0L
    var hi = Long.MinValue
    intervals.sortBy(_._1).foreach { case (a, b) =>
      if (a > hi) {
        if (hi != Long.MinValue) total += hi - lo
        lo = a; hi = b
      } else if (b > hi) hi = b
    }
    if (hi != Long.MinValue) total += hi - lo
    total
  }
}
