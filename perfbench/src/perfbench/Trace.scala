package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory span recorder for the traced run.
  *
  * Levels: workload > operation (a route, a query, a micro-batch) > layer
  * call > Spark job > stage. Spans opened on the benchmark's own thread set
  * the `perfbench.span` local property, so every job that thread submits is
  * attributed to the innermost open span; micro-batch jobs carry Spark's
  * `streaming.sql.batchId` property instead and attach to the batch span
  * built from query progress. JIT milliseconds are sampled at both span
  * edges, so a span is charged only the compilation that ran inside it.
  */
final case class Span(id: Long, parent: Long, level: String, name: String,
                      runId: String, start: Long, var end: Long = 0L,
                      var jitMs: Long = 0L)

final case class StageRec(stageId: Int, jobId: Int, start: Long, end: Long,
                          numTasks: Int, cpuNs: Long, gcMs: Long,
                          inputBytes: Long, shuffleWriteBytes: Long,
                          shuffleReadBytes: Long, spillBytes: Long,
                          recordsWritten: Long, taskMaxMs: Long, taskMedianMs: Long)

final case class JobRec(jobId: Int, spanId: Long, batchId: Long,
                        start: Long, var end: Long = 0L,
                        stageIds: Seq[Int] = Nil)

object Trace {
  @volatile var enabled = false
  val runId: String = java.util.UUID.randomUUID().toString.take(8)

  private val ids = new AtomicLong(0)
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val jit = ManagementFactory.getCompilationMXBean
  def jitNow: Long = if (jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime else 0L

  def now: Long = System.currentTimeMillis()

  /** Run `body` inside a span; with tracing off it is a plain call. */
  def span[T](level: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = org.apache.spark.sql.SparkSession.active.sparkContext
      val parent = stack.get.headOption.getOrElse(0L)
      val s = Span(ids.incrementAndGet(), parent, level, name, runId, now)
      val jit0 = jitNow
      spans.synchronized(spans += s)
      stack.set(s.id :: stack.get)
      val prevProp = sc.getLocalProperty("perfbench.span")
      sc.setLocalProperty("perfbench.span", s.id.toString)
      try body
      finally {
        s.end = now
        s.jitMs = jitNow - jit0
        stack.set(stack.get.tail)
        sc.setLocalProperty("perfbench.span", prevProp)
      }
    }

  /** A span whose edges are known after the fact (a micro-batch). */
  def record(level: String, name: String, parent: Long, start: Long, end: Long): Span = {
    val s = Span(ids.incrementAndGet(), parent, level, name, runId, start, end)
    spans.synchronized(spans += s)
    s
  }

  def current: Long = stack.get.headOption.getOrElse(0L)

  /** Spans named `name` (last one wins when repeated). */
  def find(name: String): Option[Span] = spans.synchronized(spans.reverseIterator.find(_.name == name))

  /** Self time per span: its duration minus its child spans' durations. */
  def selfMs(s: Span): Long = {
    val kids = spans.synchronized(spans.filter(_.parent == s.id).toList)
    (s.end - s.start) - kids.map(k => k.end - k.start).sum
  }

  /** Every span under `root`, root included. */
  def subtree(root: Long): Set[Long] = {
    val byParent = spans.synchronized(spans.toList).groupBy(_.parent)
    def walk(id: Long): Set[Long] = Set(id) ++ byParent.getOrElse(id, Nil).flatMap(c => walk(c.id))
    walk(root)
  }
}

/** Attributes jobs and stages to the span or micro-batch that submitted
  * them, and keeps per-stage task metrics (CPU, GC, shuffle, spill, bytes
  * in/out, task-time skew). Registered by the benchmark only.
  */
class SpanListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val taskTimes = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val span = p.flatMap(x => Option(x.getProperty("perfbench.span"))).map(_.toLong).getOrElse(0L)
    val batch = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId"))).map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = JobRec(e.jobId, span, batch, e.time, stageIds = e.stageIds)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null)
      taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val times = taskTimes.remove(i.stageId).map(_.sorted).getOrElse(mutable.ArrayBuffer(0L))
    if (m != null) stages += StageRec(i.stageId, stageJob.getOrElse(i.stageId, -1),
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks,
      m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.recordsWritten,
      times.last, times(times.size / 2))
  }

  /** Stages of jobs attributed to any span in `spanIds` (or, for a stream,
    * to the given batch ids).
    */
  def stagesOf(spanIds: Set[Long], batchIds: Set[Long] = Set.empty): Seq[StageRec] = synchronized {
    val js = jobs.values.filter(j => spanIds(j.spanId) || (j.batchId >= 0 && batchIds(j.batchId)))
      .map(_.jobId).toSet
    stages.filter(s => js(s.jobId)).toList
  }
}

/** Micro-batch progress: start, duration breakdown and input rows. */
class ProgressListener extends StreamingQueryListener {
  final case class Batch(id: Long, startMs: Long, durationMs: Long, addBatchMs: Long, rows: Long)
  val batches = mutable.ArrayBuffer.empty[Batch]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val d = p.durationMs
    def ms(k: String): Long = if (d.containsKey(k)) d.get(k).longValue() else 0L
    if (p.numInputRows > 0)
      batches += Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        ms("triggerExecution"), ms("addBatch"), p.numInputRows)
  }
  def snapshot: List[Batch] = synchronized(batches.toList)
}
