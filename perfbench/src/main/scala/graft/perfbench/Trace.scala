package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** One timed region around a public graft call. Times are kept in
  * nanoTime for durations and wall-clock millis for matching Spark
  * listener events, whose timestamps are wall-clock. */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int) {
  val startNs: Long = System.nanoTime()
  val startMs: Long = System.currentTimeMillis()
  @volatile var endNs: Long = -1L
  @volatile var endMs: Long = Long.MaxValue
  var jobs = 0
  var tasks = 0
  var failedTasks = 0
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val taskMs = ArrayBuffer.empty[Double]
  val taskWaitMs = ArrayBuffer.empty[Double]
}

/** Span recorder plus the SparkListener that attributes jobs to spans.
  *
  * Every span runs its body under the job group `perfbench:<span id>`
  * (restoring the enclosing group afterwards), so a job is attributed to
  * the innermost span active on the submitting thread. Outside spans the
  * benchmark's own jobs (set-up, checks) run under a bookkeeping group.
  * A job has escaped its span, and is counted in `unattributed_jobs`
  * instead of being guessed into a span, when it carries no benchmark
  * group, when its group names a span that had already ended when the
  * job started (a pooled thread that inherited a stale group), or when
  * it carries the bookkeeping group while a span was open. With tracing
  * off, spans only run their body. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var op = -1
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  @volatile private var unattributed = 0
  @volatile private var failedTasksTotal = 0
  private val GroupPrefix = "perfbench:"
  private val Bookkeeping = GroupPrefix + "bookkeeping"

  private def spanOpenAt(ms: Long): Boolean = spans.synchronized(
    spans.exists(s => s.startMs < ms && ms < s.endMs))

  private val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val group = Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val span =
        if (group == null || !group.startsWith(GroupPrefix) || group == Bookkeeping) null
        else spans.synchronized(spans(group.stripPrefix(GroupPrefix).toInt))
      if (group == Bookkeeping) { if (spanOpenAt(js.time)) unattributed += 1 }
      else if (span == null || js.time > span.endMs) unattributed += 1
      else {
        span.synchronized(span.jobs += 1)
        js.stageInfos.foreach(si => stageSpan.put(si.stageId, span))
      }
    }
    override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
      ss.stageInfo.submissionTime.foreach(t => stageSubmitMs.put(ss.stageInfo.stageId, t))
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val failed = te.reason != org.apache.spark.Success
      if (failed) failedTasksTotal += 1
      val span = stageSpan.get(te.stageId)
      if (span != null && te.taskInfo != null) span.synchronized {
        span.tasks += 1
        if (failed) span.failedTasks += 1
        span.taskMs += te.taskInfo.duration.toDouble
        val submit = stageSubmitMs.get(te.stageId)
        if (submit > 0) span.taskWaitMs += (te.taskInfo.launchTime - submit).toDouble
        val m = te.taskMetrics
        if (m != null) {
          span.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          span.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }
  if (enabled) {
    sc.addSparkListener(listener)
    sc.setJobGroup(Bookkeeping, "perfbench bookkeeping", interruptOnCancel = false)
  }

  /** Start a new operation: later root spans carry its id. */
  def beginOp(): Unit = op += 1

  @volatile private var active = true

  /** Spans are being recorded right now. */
  def tracing: Boolean = enabled && active

  /** Run `body` with spans off (the untraced twin of a traced op). */
  def suspended[T](body: => T): T = {
    val prev = active
    active = false
    try body finally active = prev
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled || !active) body
    else {
      val s = spans.synchronized {
        val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), op)
        spans += s
        s
      }
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      val prevDesc = sc.getLocalProperty("spark.job.description")
      sc.setJobGroup(GroupPrefix + s.id, s"perfbench $name", interruptOnCancel = false)
      stack = s :: stack
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setJobGroup(Option(prevGroup).getOrElse(Bookkeeping), prevDesc, interruptOnCancel = false)
      }
    }

  /** Drain the listener bus, detach, and render every span as JSON. */
  def finish(): Json.Obj = {
    if (enabled) {
      org.apache.spark.ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }
    val rendered = spans.synchronized(spans.toList).map { s =>
      s.synchronized(Json.obj(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "jobs" -> s.jobs, "tasks" -> s.tasks, "failed_tasks" -> s.failedTasks,
        "shuffle_write_bytes" -> s.shuffleWriteBytes, "spill_bytes" -> s.spillBytes,
        "task_ms" -> s.taskMs.toList, "task_wait_ms" -> s.taskWaitMs.toList))
    }
    Json.obj("spans" -> rendered, "unattributed_jobs" -> unattributed,
      "failed_tasks" -> failedTasksTotal)
  }
}
