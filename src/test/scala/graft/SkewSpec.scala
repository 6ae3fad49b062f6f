package graft

import graft.skew.{ReshapeConfig, SaltedAggregation, SkewMonitor}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimitedTests}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Minutes, Span}

/** The reference's invariant: skew mitigation changes load balance,
  * never results (SURVEY.md §0.2). These specs drive a zipf-keyed
  * workload with and without mitigation and compare results exactly,
  * and exercise the SkewMonitor control loop end-to-end.
  */
class SkewSpec extends AnyFunSuite with TimeLimitedTests {
  private lazy val spark = SparkTestSession.get

  override val timeLimit: Span = Span(3, Minutes)
  override val defaultTestSignaler: Signaler = ThreadSignaler

  import spark.implicits._

  private def zipf = {
    // hot key 0 gets ~80% of 40k rows; keys 1..99 share the rest
    spark
      .range(40000)
      .select(
        when(pmod(col("id"), lit(5)) =!= 0, lit(0L))
          .otherwise(pmod(col("id"), lit(100)))
          .as("k"),
        (col("id") % 97).cast("double").as("v")
      )
  }

  test("salted aggregation is result-identical to plain aggregation") {
    val plain = zipf
      .groupBy("k")
      .agg(
        round(sum($"v"), 4).as("sv"),
        count(lit(1)).as("n"),
        min($"v").as("mn"),
        max($"v").as("mx")
      )
      .collect()
      .map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    val salted = SaltedAggregation
      .aggregate(
        zipf,
        Seq("k"),
        SaltedAggregation.Spec(sums = Seq("v"), counts = true, mins = Seq("v"), maxs = Seq("v")),
        saltFactor = 16
      )
      .select($"k", round($"sum_v", 4).as("sv"), $"cnt", $"min_v", $"max_v")
      .collect()
      .map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(salted == plain)
  }

  test("salting spreads the hot key across reducers") {
    val saltFactor = 16
    val salted = zipf
      .withColumn("salt", pmod(hash(col("k"), col("v")), lit(saltFactor)))
      .groupBy("k", "salt")
      .agg(count(lit(1)).as("n"))
      .filter($"k" === 0)
      .collect()
    // the hot key must occupy >half the salt slots, and no slot may
    // hold more than 3x the fair share
    assert(salted.length > saltFactor / 2, s"hot key in ${salted.length} slots")
    val counts = salted.map(_.getLong(2))
    val fair = counts.sum.toDouble / saltFactor
    assert(counts.max < 3 * fair, s"slot imbalance: max=${counts.max} fair=$fair")
  }

  test("salted join is result-identical and spreads the hot key") {
    val dim = zipf.select($"k").distinct().withColumn("tag", pmod($"k", lit(7)))
    val plain = zipf.join(dim, "k")
      .groupBy("tag").agg(round(sum($"v"), 4).as("sv"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2)))).toMap
    val salted = graft.skew.SaltedJoin.join(zipf, dim, Seq("k"), saltFactor = 16)
      .groupBy("tag").agg(round(sum($"v"), 4).as("sv"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2)))).toMap
    assert(salted == plain)
    // the hot key occupies many salt buckets on the fact side
    val buckets = zipf
      .withColumn("salt", pmod(hash(zipf.columns.map(col).toSeq: _*), lit(16)))
      .filter($"k" === 0).select("salt").distinct().count()
    assert(buckets > 8, s"hot key in only $buckets of 16 salt buckets")
  }

  test("SkewMonitor reports stage stats and a salt recommendation") {
    val settings = ReshapeConfig.from(spark)
    assert(settings.hiThreshold == 0.8 && settings.loThreshold == 0.2
      && settings.firstPhaseNum == 6)
    val monitor = new SkewMonitor(settings)
    spark.sparkContext.addSparkListener(monitor)
    try {
      // run a shuffle so task metrics exist
      zipf.groupBy("k").agg(sum($"v")).count()
      // listener events are async; poll until reports land
      val deadline = System.currentTimeMillis() + 10000
      while (monitor.stageReports.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(monitor.stageReports.nonEmpty, "no stage reports collected")
      assert(monitor.recommendedSaltFactor >= 1)
      val r = monitor.stageReports.values.head
      assert(r.numTasks > 0 && r.maxMs >= r.medianMs)
    } finally spark.sparkContext.removeSparkListener(monitor)
  }

  test("adaptive loop: monitor-recommended salt keeps results identical") {
    val settings = ReshapeConfig.from(spark)
    val monitor = new SkewMonitor(settings)
    spark.sparkContext.addSparkListener(monitor)
    try {
      zipf.groupBy("k").agg(sum($"v")).count() // observe
      val deadline = System.currentTimeMillis() + 10000
      while (monitor.stageReports.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val salt = monitor.recommendedSaltFactor // adapt
      val salted = SaltedAggregation
        .aggregate(zipf, Seq("k"), SaltedAggregation.Spec(sums = Seq("v")), salt)
        .agg(round(sum($"sum_v"), 2)).collect()(0).getDouble(0)
      val plain = zipf.agg(round(sum($"v"), 2)).collect()(0).getDouble(0)
      assert(salted == plain) // re-run mitigated, results unchanged
    } finally spark.sparkContext.removeSparkListener(monitor)
  }
}
