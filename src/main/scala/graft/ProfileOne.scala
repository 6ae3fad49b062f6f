package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Optimization-round measurement harness (guide §1: measure first).
  * Runs one headline query under a SparkListener and prints a per-job /
  * per-stage cost breakdown: wall time, task count, executor task time,
  * shuffle bytes read/written, input bytes. Usage:
  *
  *   sbt "runMain graft.ProfileOne <sfDir> <query> [repeats]"
  *
  * The same session/configs as Bench so the numbers line up with the
  * bench record; the breakdown is diagnostic only and never feeds the
  * published JSON.
  */
object ProfileOne {

  final class Collector extends SparkListener {
    case class StageRow(id: Int, name: String, tasks: Int, taskTimeMs: Long,
        shufReadB: Long, shufWriteB: Long, inputB: Long, spillB: Long)
    val stages = mutable.ArrayBuffer[StageRow]()
    val jobs = mutable.ArrayBuffer[(Int, Long, String)]() // id, wallMs, desc
    private val jobStart = mutable.Map[Int, (Long, String)]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart(e.jobId) = (e.time,
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStart.remove(e.jobId).foreach { case (t0, d) =>
        jobs += ((e.jobId, e.time - t0, d))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      stages += StageRow(si.stageId, si.name.takeWhile(_ != '\n'),
        si.numTasks, m.executorRunTime,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.inputMetrics.bytesRead,
        m.diskBytesSpilled)
    }
    def reset(): Unit = { stages.clear(); jobs.clear(); jobStart.clear() }
    def report(): Unit = {
      println(f"[profile] jobs=${jobs.size} totalJobWallMs=${jobs.map(_._2).sum}")
      jobs.sortBy(-_._2).take(20).foreach { case (id, w, d) =>
        println(f"[profile]   job $id%3d ${w}%6d ms  $d")
      }
      println("[profile] stages (by task time):")
      stages.sortBy(-_.taskTimeMs).take(25).foreach { s =>
        println(f"[profile]   stage ${s.id}%4d tasks=${s.tasks}%3d " +
          f"taskMs=${s.taskTimeMs}%7d in=${s.inputB / 1024}%8dK " +
          f"sr=${s.shufReadB / 1024}%7dK sw=${s.shufWriteB / 1024}%7dK " +
          f"spill=${s.spillB / 1024}%6dK  ${s.name.take(60)}")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val repeats = if (args.length > 2) args(2).toInt else 2
    val spark = Engine.session("graft-profile")
    val col = new Collector
    spark.sparkContext.addSparkListener(col)
    names.foreach { name =>
      (1 to repeats).foreach { i =>
        col.reset()
        val t0 = System.nanoTime()
        CacheScope.scoped {
          SparkEntry.queries(name)(spark, sfDir)
            .write.mode("overwrite").format("noop").save()
        }
        val wall = (System.nanoTime() - t0) / 1e9
        // the listener bus is async: drain it so every job and stage of
        // this run is counted before reading
        org.apache.spark.GraftAccess.drainListeners(spark.sparkContext)
        println(f"[profile] === $name repeat $i wall=$wall%.3f s ===")
        col.report()
      }
    }
    spark.stop()
  }
}
