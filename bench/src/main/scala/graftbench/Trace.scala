package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

object Tracer {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  private val selfNs = new AtomicLong(0)

  /** Run `f` and charge its time to the tracing overhead. */
  def charged[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally selfNs.addAndGet(System.nanoTime() - t0)
  }

  /** Time spent in tracing code (spans and listener callbacks), in ms. */
  def overheadMs: Double = selfNs.get / 1e6

  /** Epoch milliseconds with sub-millisecond, monotonic resolution. */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced interval. Times are epoch milliseconds; `parent` is the
  * span that caused this one (-1 for a root).
  */
final case class Span(id: Long, parent: Long, name: String, startMs: Double, endMs: Double,
    attrs: Map[String, Any] = Map.empty) {
  def durMs: Double = endMs - startMs
  def toJson(runId: String): String = Json(Map("run" -> runId, "id" -> id, "parent" -> parent,
    "name" -> name, "start_ms" -> startMs, "end_ms" -> endMs) ++ attrs)
}

/** In-memory span store. Spans opened by benchmark code nest through a
  * thread-local stack; spans reported by listeners (jobs, planning
  * phases, micro-batches) get their parent afterwards, as the innermost
  * benchmark span that contains them in time.
  */
final class Tracer(val runId: String, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial(() => List.empty[Long])

  def now: Double = Tracer.nowMs

  /** Run `f` inside a span; the span is kept only when tracing is on. */
  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(f: => T): T =
    if (!enabled) f
    else {
      val (id, t0) = Tracer.charged {
        val id = ids.incrementAndGet()
        stack.set(id :: stack.get())
        (id, now)
      }
      try f
      finally Tracer.charged {
        stack.set(stack.get().tail)
        done.add(Span(id, stack.get().headOption.getOrElse(-1L), name, t0, now, attrs))
      }
    }

  def record(name: String, startMs: Double, endMs: Double, attrs: Map[String, Any] = Map.empty,
      parent: Long = 0L): Unit =
    if (enabled) done.add(Span(ids.incrementAndGet(), parent, name, startMs, endMs, attrs))

  /** All spans, with listener-reported spans (parent 0) attached to the
    * innermost enclosing benchmark span.
    */
  def spans: Seq[Span] = {
    val all = done.asScala.toSeq.sortBy(_.startMs)
    val own = all.filter(_.parent != 0L)
    all.map { s =>
      if (s.parent != 0L) s
      else {
        val enclosing = own.filter(o => o.startMs <= s.startMs && o.endMs >= s.endMs)
        s.copy(parent = if (enclosing.isEmpty) -1L else enclosing.minBy(_.durMs).id)
      }
    }
  }
}

/** Stage, job and task counters for the `execution` and `shuffle`
  * layers, plus the write and planning phases reported through the
  * query-execution listener (the `plans` layer) and micro-batch
  * progress (the `streaming` layer).
  */
final class LayerListener(tracer: Tracer) extends SparkListener {
  final case class StageRow(stageId: Int, completedMs: Long, tasks: Int, runMs: Long, cpuMs: Double,
      gcMs: Long, inputBytes: Long, readBytes: Long, writeBytes: Long, spillBytes: Long,
      taskMs: Seq[Long])
  final case class JobRow(jobId: Int, startMs: Long, endMs: Long)

  private val taskMs = new mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
  private val jobStarts = new mutable.HashMap[Int, Long]()
  val stages = new ConcurrentLinkedQueue[StageRow]()
  val jobs = new ConcurrentLinkedQueue[JobRow]()

  override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.charged(synchronized {
    jobStarts(e.jobId) = e.time
  })

  override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.charged(synchronized {
    jobStarts.remove(e.jobId).foreach { t0 =>
      jobs.add(JobRow(e.jobId, t0, e.time))
      tracer.record("execution.job", t0.toDouble, e.time.toDouble, Map("job" -> e.jobId))
    }
  })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.charged(synchronized {
    if (e.taskInfo != null && e.taskMetrics != null)
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskMetrics.executorRunTime
  })

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.charged(synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    val durations = taskMs.remove(si.stageId).map(_.toSeq).getOrElse(Nil)
    if (m != null) {
      val row = StageRow(si.stageId, si.completionTime.getOrElse(System.currentTimeMillis()),
        durations.size, m.executorRunTime, m.executorCpuTime / 1e6, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled + m.memoryBytesSpilled, durations)
      stages.add(row)
      si.submissionTime.foreach(t0 => tracer.record("execution.stage", t0.toDouble,
        row.completedMs.toDouble, Map("stage" -> si.stageId, "tasks" -> row.tasks)))
    }
  })

  /** Slowest over median task run time of one stage, taking the lower
    * middle task for an even count (so a two-task stage reads max/min).
    */
  def skewRatio(s: StageRow): Double =
    if (s.taskMs.size < 2) 1.0
    else s.taskMs.max.toDouble / math.max(1.0, Stats.lowerMedian(s.taskMs.map(_.toDouble)))

  /** Counters over everything recorded while attached. */
  def layerMetrics(wallMs: Double): Map[String, Double] = {
    val ss = stages.asScala.toSeq
    val js = jobs.asScala.toSeq.sortBy(_.startMs)
    // union of job intervals: time during which at least one job ran
    var covered = 0L
    var curStart = -1L
    var curEnd = -1L
    js.foreach { j =>
      if (j.startMs > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = j.startMs; curEnd = j.endMs
      } else curEnd = math.max(curEnd, j.endMs)
    }
    if (curEnd > curStart) covered += curEnd - curStart
    Map(
      "execution.jobs" -> js.size.toDouble,
      "execution.stages" -> ss.size.toDouble,
      "execution.tasks" -> ss.map(_.tasks).sum.toDouble,
      "execution.job_ms" -> covered.toDouble,
      "execution.driver_gap_ms" -> math.max(0.0, wallMs - covered),
      "execution.executor_run_ms" -> ss.map(_.runMs).sum.toDouble,
      "execution.executor_cpu_ms" -> ss.map(_.cpuMs).sum,
      "execution.gc_ms" -> ss.map(_.gcMs).sum.toDouble,
      "execution.input_bytes" -> ss.map(_.inputBytes).sum.toDouble,
      "execution.task_max_over_median" -> (if (ss.isEmpty) 1.0 else ss.map(skewRatio).max),
      "shuffle.read_bytes" -> ss.map(_.readBytes).sum.toDouble,
      "shuffle.write_bytes" -> ss.map(_.writeBytes).sum.toDouble,
      "shuffle.spill_bytes" -> ss.map(_.spillBytes).sum.toDouble)
  }
}

/** Planning phases of every query execution the session completes. */
final class PlanListener(tracer: Tracer) extends QueryExecutionListener {
  val phaseMs = new ConcurrentLinkedQueue[(String, Long)]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Tracer.charged(qe.tracker.phases.foreach { case (phase, p) =>
      phaseMs.add(phase -> p.durationMs)
      tracer.record(s"plans.$phase", p.startTimeMs.toDouble, p.endTimeMs.toDouble,
        Map("func" -> funcName))
    })

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def totals: Map[String, Double] = {
    val byPhase = phaseMs.asScala.toSeq.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    Map(
      "plans.analysis_ms" -> byPhase.getOrElse("analysis", 0L).toDouble,
      "plans.optimization_ms" -> byPhase.getOrElse("optimization", 0L).toDouble,
      "plans.planning_ms" -> byPhase.getOrElse("planning", 0L).toDouble)
  }
}

/** Micro-batch progress of every streaming query on the context,
  * including queries that run in cloned sessions: progress events reach
  * the context's listener bus whichever session started the query.
  */
final class StreamListener(tracer: Tracer) extends SparkListener {
  final case class Batch(trigger: Long, addBatch: Long, stateRows: Long, commitMs: Long)
  val batches = new ConcurrentLinkedQueue[Batch]()

  override def onOtherEvent(event: SparkListenerEvent): Unit = Tracer.charged(event match {
    case e: StreamingQueryListener.QueryProgressEvent =>
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val ops = p.stateOperators.toSeq
      val b = Batch(d.getOrElse("triggerExecution", 0L), d.getOrElse("addBatch", 0L),
        ops.map(_.numRowsTotal).sum, ops.map(_.commitTimeMs).sum)
      batches.add(b)
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble + b.trigger
      tracer.record("streaming.batch", end - b.trigger, end,
        Map("batch" -> p.batchId, "add_batch_ms" -> b.addBatch))
    case _ =>
  })

  def totals: Map[String, Double] = {
    val bs = batches.asScala.toSeq
    Map(
      "streaming.batches" -> bs.size.toDouble,
      "streaming.add_batch_ms" -> bs.map(_.addBatch).sum.toDouble,
      "streaming.overhead_ms" -> bs.map(b => math.max(0L, b.trigger - b.addBatch)).sum.toDouble,
      "streaming.state_rows" -> (bs.map(_.stateRows) :+ 0L).max.toDouble,
      "streaming.state_commit_ms" -> bs.map(_.commitMs).sum.toDouble)
  }
}
