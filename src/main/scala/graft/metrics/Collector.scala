package graft.metrics

import org.apache.spark.scheduler._
import scala.collection.mutable

/** The one stage-metrics listener: a row per finished job (wall time,
  * description) and per completed stage (task count, executor run
  * time, max and median task duration, input, shuffle and spill
  * bytes). The reference's controller likewise reads its load from one
  * metrics source (ControllerSimulator.scala:60,70).
  *
  * Listener events arrive on the bus thread while readers sit on
  * others, so every method holds the collector's lock. Task durations
  * are kept only while their stage attempt runs; a completed stage
  * keeps one row and no per-task data. The bus is asynchronous: drain
  * it (`org.apache.spark.GraftAccess.drainListeners`) before reading a
  * run's rows.
  */
class Collector extends SparkListener {
  import Collector._

  private val jobRows = mutable.ArrayBuffer[JobRow]()
  private val stageRows = mutable.ArrayBuffer[StageRow]()
  private val jobStarts = mutable.Map[Int, (Long, String)]()
  /** Finished-task durations of running stage attempts, by (stage, attempt). */
  private val running = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = (e.time,
      Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.job.description"))).getOrElse(""))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (t0, d) =>
      jobRows += JobRow(e.jobId, e.time - t0, d)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    running((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = mutable.ArrayBuffer()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) synchronized {
      running.get((e.stageId, e.stageAttemptId)).foreach(_ += e.taskInfo.duration)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    val durations = running.remove((si.stageId, si.attemptNumber()))
      .map(_.sorted.toIndexedSeq).getOrElse(IndexedSeq.empty)
    stageRows += StageRow(si.stageId, si.name.takeWhile(_ != '\n'),
      si.numTasks, durations.size, m.executorRunTime,
      durations.lastOption.getOrElse(0L),
      if (durations.isEmpty) 0L else durations(durations.size / 2),
      m.inputMetrics.bytesRead,
      m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten,
      m.diskBytesSpilled)
  }

  def jobs: Seq[JobRow] = synchronized(jobRows.toSeq)
  def stages: Seq[StageRow] = synchronized(stageRows.toSeq)

  /** Forgets the finished rows; jobs and stages still running are
    * recorded when they end.
    */
  def reset(): Unit = synchronized { jobRows.clear(); stageRows.clear() }
}

object Collector {
  final case class JobRow(id: Int, wallMs: Long, description: String)

  /** One completed stage attempt. `finishedTasks` counts the task ends
    * that carried metrics; the max and median are over their
    * `taskInfo.duration`, 0 when none did.
    */
  final case class StageRow(
      id: Int,
      name: String,
      numTasks: Int,
      finishedTasks: Int,
      runMs: Long,
      maxTaskMs: Long,
      medianTaskMs: Long,
      inputBytes: Long,
      shuffleReadBytes: Long,
      shuffleWriteBytes: Long,
      spillBytes: Long
  )
}
