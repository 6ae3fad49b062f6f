package graft

import graft.metrics.Collector
import graft.skew.{ReshapeConfig, SkewMonitor}
import org.apache.spark.GraftAccess
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimitedTests}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Minutes, Span}

/** The one metrics listener: repeat runs of a stable shuffle query
  * count the same work, and the per-stage rows are well formed. The
  * query is SkewSpec's zipf `groupBy`: its job and stage shape does not
  * depend on timing, unlike iterative queries whose job count moves
  * with AQE's re-plans between repeats.
  */
class MetricsCollectorSpec extends AnyFunSuite with TimeLimitedTests {
  private lazy val spark = SparkTestSession.get

  override val timeLimit: Span = Span(3, Minutes)
  override val defaultTestSignaler: Signaler = ThreadSignaler

  private def zipf = spark
    .range(40000)
    .select(
      when(pmod(col("id"), lit(5)) =!= 0, lit(0L))
        .otherwise(pmod(col("id"), lit(100)))
        .as("k"),
      (col("id") % 97).cast("double").as("v")
    )

  /** Runs `action` with `c` listening and returns the rows it added. */
  private def measure[C <: Collector](c: C)(action: => Unit): C = {
    val sc = spark.sparkContext
    GraftAccess.drainListeners(sc)
    sc.addSparkListener(c)
    try {
      action
      GraftAccess.drainListeners(sc)
    } finally sc.removeSparkListener(c)
    c
  }

  test("two runs of one shuffle query give identical job, stage, task and shuffle counts") {
    def counts(c: Collector) = {
      val s = c.stages
      (c.jobs.size, s.size, s.map(_.numTasks).sum, s.map(_.finishedTasks).sum,
        s.map(_.shuffleWriteBytes).sum, s.map(_.shuffleReadBytes).sum)
    }
    val runs = Seq.fill(2)(measure(new Collector)(zipf.groupBy("k").agg(sum("v")).collect()))
    val Seq(a, b) = runs.map(counts)
    assert(a == b)
    val (jobs, stages, tasks, finished, written, read) = a
    assert(jobs > 0 && stages >= 2 && tasks == finished)
    assert(written > 0 && read == written)
    runs.flatMap(_.stages).foreach { s =>
      assert(s.maxTaskMs >= s.medianTaskMs, s"stage ${s.id}")
    }
  }

  test("SkewMonitor.stageReports leaves out single-task stages") {
    val monitor = measure(new SkewMonitor(ReshapeConfig.from(spark))) {
      spark.range(0, 1000, 1, 1).selectExpr("sum(id)").collect()
      zipf.groupBy("k").agg(sum("v")).collect()
    }
    val single = monitor.stages.filter(_.finishedTasks == 1).map(_.id)
    assert(single.nonEmpty, "the one-partition scan ran no single-task stage")
    assert(monitor.stageReports.nonEmpty, "no multi-task stage reported")
    assert(single.forall(id => !monitor.stageReports.contains(id)))
    assert(monitor.stageReports.values.forall(_.finishedTasks >= 2))
  }
}
