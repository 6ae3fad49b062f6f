package graft

import graft.skew.{AdaptiveReshape, AdaptiveSalter, ReshapeConfig, SaltedAggregation, SkewMonitor}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimitedTests}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Minutes, Span}

import scala.collection.mutable.ArrayBuffer

/** The closed Reshape control loop across micro-batches: observe (a
  * key sketch on each batch's own input, delivered with the batch's
  * action) → decide (AdaptiveSalter at the next batch's tick) → act
  * (SaltedAggregation with the decided salt), mirroring the reference's
  * controller timer loop feeding worker routing tables (reference:
  * ControllerSimulator.scala:52-87 → WorkerSimulator.assignRouting).
  * The loop runs under the engine's own AQE settings. The invariant
  * under test is the reference's: mitigation adapts the *plan* (salt
  * factor) between batches while the *results* stay identical to the
  * unmitigated aggregation.
  */
class AdaptiveSkewSpec extends AnyFunSuite with TimeLimitedTests {
  private lazy val spark = SparkTestSession.get

  // a stuck controller wait fails the test instead of hanging the suite
  override val timeLimit: Span = Span(3, Minutes)
  override val defaultTestSignaler: Signaler = ThreadSignaler

  private val nKeys = 3200L

  /** Uniform phase: every key gets the same weight — no free/busy
    * spread, so the controller must NOT act.
    */
  private def uniformRows(n: Long): DataFrame =
    spark.range(n).select(
      pmod(col("id"), lit(nKeys)).as("k"),
      (col("id") % 97).cast("double").as("v")
    )

  /** Drifted phase: ~80% of rows collapse onto key 0. */
  private def skewedRows(n: Long): DataFrame =
    spark.range(n).select(
      when(pmod(col("id"), lit(5)) =!= 0, lit(0L))
        .otherwise(pmod(col("id"), lit(nKeys)))
        .as("k"),
      (col("id") % 97).cast("double").as("v")
    )

  private def plainAgg(df: DataFrame): Map[Long, (Double, Long)] =
    df.groupBy("k")
      .agg(round(sum(col("v")), 4).as("sv"), count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2))))
      .toMap

  private def saltedToMap(rows: Array[Row]): Map[Long, (Double, Long)] =
    rows.map { r =>
      (r.getAs[Long]("k"),
        (BigDecimal(r.getAs[Double]("sum_v")).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .toDouble,
          r.getAs[Long]("cnt")))
    }.toMap

  test("closed loop: salt adapts to drifting skew across micro-batches, results identical") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val settings = ReshapeConfig.from(spark)
    val salter = new AdaptiveSalter(new SkewMonitor(settings), settings, aggressiveSalt = 32)
    val results = ArrayBuffer.empty[Array[Row]]
    val spec = SaltedAggregation.Spec(sums = Seq("v"), counts = true, collects = Seq("v"))
    val body = AdaptiveReshape.foreachBatchBody(Seq("k"), spec, salter) {
      (agg, _, _) => results += agg.collect()
    }

    val in = MemoryStream[(Long, Double)]
    val q = in.toDF().toDF("k", "v").writeStream.foreachBatch(body).start()
    try {
      // batch 0: uniform — no evidence yet, salt must stay 1
      val b0 = uniformRows(6400).collect().map(r => (r.getLong(0), r.getDouble(1)))
      in.addData(b0.toIndexedSeq); q.processAllAvailable()
      // a concurrent FOREIGN job with genuinely skewed load: evidence is
      // the loop's own batch input, so this must never raise the salt
      spark.sparkContext.setJobGroup("foreign-skew", "foreign skewed job")
      try skewedRows(20000).groupBy("k").agg(collect_list(col("v"))).collect()
      finally spark.sparkContext.clearJobGroup()

      // batch 1: skew arrives — but its tick reads batch 0's uniform
      // sketch, so the controller must still not act
      val b1 = skewedRows(20000).collect().map(r => (r.getLong(0), r.getDouble(1)))
      in.addData(b1.toIndexedSeq); q.processAllAvailable()
      // batch 2: its tick reads batch 1's skewed sketch — salt rises
      val b2 = skewedRows(4000).collect().map(r => (r.getLong(0), r.getDouble(1)))
      in.addData(b2.toIndexedSeq); q.processAllAvailable()

      val history = salter.saltHistory
      assert(history.size == 3, s"expected 3 batch ticks, got $history")
      assert(history(0) == 1, s"batch 0 must run unsalted (no evidence): $history")
      assert(history(1) == 1, s"uniform evidence must not trigger salting: $history")
      assert(history(2) > 1, s"skew evidence must raise the salt: $history")

      // result-identity per batch vs the unmitigated aggregation
      val inputs = Seq(b0, b1, b2)
      for ((batchRows, i) <- inputs.zipWithIndex) {
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(batchRows.toIndexedSeq.map(t => Row(t._1, t._2))),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("v",
              org.apache.spark.sql.types.DoubleType, nullable = false)
          ))
        )
        val expected = plainAgg(df)
        val got = saltedToMap(results(i))
        assert(got.size == expected.size, s"batch $i row count")
        for ((k, (sv, n)) <- expected) {
          val (gsv, gn) = got(k)
          assert(gn == n, s"batch $i key $k count")
          assert(math.abs(gsv - sv) < 1e-6, s"batch $i key $k sum: $gsv vs $sv")
        }
        // the collect-merge path: hot key's merged list holds every value
        val hot = results(i).find(_.getAs[Long]("k") == 0L).get
        assert(hot.getSeq[Double](hot.fieldIndex("collect_v")).size == expected(0L)._2)
      }
    } finally q.stop()
  }

  test("adaptive salted join body re-salts per batch with identical results") {
    val settings = ReshapeConfig.from(spark)
    val monitor = new SkewMonitor(settings)
    val salter = new AdaptiveSalter(monitor, settings)
    val fact = skewedRows(4000)
    val dim = fact.select(col("k")).distinct()
      .withColumn("tag", pmod(col("k"), lit(7)))
    val expected = fact.join(dim, "k")
      .groupBy("tag").agg(round(sum(col("v")), 4).as("sv"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val results = ArrayBuffer.empty[Map[Long, Double]]
    val salts = ArrayBuffer.empty[Int]
    val body = AdaptiveReshape.foreachBatchJoinBody(dim, Seq("k"), salter) {
      (joined, _, salt) =>
        salts += salt
        results += joined.groupBy("tag").agg(round(sum(col("v")), 4).as("sv"))
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    }
    // invoked directly: the body is a plain (DataFrame, Long) function
    body(fact, 0L)
    body(fact, 1L)
    assert(salts.size == 2 && salts.forall(_ >= 1))
    results.foreach(r => assert(r == expected))
  }

  test("salter is sticky: balanced post-mitigation stages keep the raised salt") {
    val settings = ReshapeConfig.from(spark)
    val monitor = new SkewMonitor(settings)
    val salter = new AdaptiveSalter(monitor, settings, aggressiveSalt = 16)
    // ticks with no evidence (no batch has run) hold salt 1
    assert(salter.nextSalt() == 1)
    assert(salter.nextSalt() == 1)
    assert(salter.saltHistory == Seq(1, 1))
    // once skew raised it, uniform evidence must not lower the salt
    // (routing tables persist in the reference's workers)
    val body = AdaptiveReshape.foreachBatchBody(Seq("k"), SaltedAggregation.Spec(), salter) {
      (agg, _, _) => agg.collect()
    }
    body(skewedRows(4000), 0L)
    body(uniformRows(6400), 1L)
    body(uniformRows(6400), 2L)
    assert(salter.saltHistory == Seq(1, 1, 1, 16, 16))
  }

  test("salted aggregation merges collect_list partials losslessly") {
    val df = skewedRows(5000)
    val plain = df.groupBy("k").agg(collect_list(col("v")).as("vs"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).sorted)).toMap
    val salted = SaltedAggregation
      .aggregate(df, Seq("k"), SaltedAggregation.Spec(counts = false, collects = Seq("v")), 8)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).sorted)).toMap
    assert(salted == plain)
  }
}
