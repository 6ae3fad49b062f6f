package graft

import graft.skew.{AdaptiveReshape, AdaptiveSalter, ReshapeConfig, SaltedAggregation, SaltedJoin, SkewMonitor}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimitedTests}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Minutes, Span}

/** Properties of the Reshape loop (scalacheck, fixed initial seeds so
  * failures reproduce):
  *  - the controller's decision depends on the drift only — not on how
  *    the batch's input is partitioned, nor on AQE coalescing;
  *  - mitigation never changes results: salted aggregation and salted
  *    join equal an in-memory reference for any salt sequence and any
  *    split of the input into batches.
  */
class ReshapePropertySpec extends AnyFunSuite with TimeLimitedTests {
  private lazy val spark = SparkTestSession.get

  override val timeLimit: Span = Span(4, Minutes)
  override val defaultTestSignaler: Signaler = ThreadSignaler

  private def check(prop: Prop, cases: Int, seed: Long): Unit = {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(cases).withWorkers(1).withInitialSeed(Seed(seed))
    val res = Test.check(params, prop)
    assert(res.passed, res.status.toString)
  }

  /** `n` rows: `hot` of them on key 0, the rest spread over `cold` keys,
    * shuffled by `seed`. Values are longs, so sums are exact.
    */
  private def rows(n: Int, hot: Int, cold: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    rnd.shuffle((0 until n).map(i => (if (i < hot) 0L else 1L + i % cold, rnd.nextInt(1000).toLong)))
  }

  private def frame(rs: Seq[(Long, Long)], partitions: Int): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(rs, partitions).toDF("k", "v")
  }

  test("the decided salt depends on the drift, not on input partitioning or AQE") {
    val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prevCoalesce = spark.conf.get(coalesceKey, "true")
    val drift = for {
      n <- Gen.choose(3000, 6000)
      share <- Gen.oneOf(Gen.const(0.0), Gen.choose(0.01, 0.9))
      cold <- Gen.choose(200, 1500)
      seed <- Gen.long
    } yield (n, (share * n).toInt, cold, seed)
    val prop = Prop.forAllNoShrink(drift) { case (n, hot, cold, seed) =>
      val share = hot.toDouble / n
      // within the sketch's n/64 undercount above 1/P the decision may
      // legitimately go either way; everywhere else it is fixed
      (share <= 1.0 / p || share > 1.0 / p + 1.0 / 64) ==> {
        val rs = rows(n, hot, cold, seed)
        val decided = for (parts <- Seq(1, 2, 4, 8, 32); coalesce <- Seq("true", "false")) yield {
          spark.conf.set(coalesceKey, coalesce)
          val settings = ReshapeConfig.from(spark)
          val salter = new AdaptiveSalter(new SkewMonitor(settings), settings)
          val body = AdaptiveReshape.foreachBatchBody(Seq("k"), SaltedAggregation.Spec(), salter) {
            (agg, _, _) => agg.collect()
          }
          body(frame(rs, parts), 0L)
          (parts, coalesce) -> salter.nextSalt()
        }
        val expected = if (share * p > 1) 32 else 1
        Prop(decided.forall(_._2 == expected)) :|
          s"share=$share P=$p expected=$expected decided=$decided"
      }
    }
    try check(prop, cases = 5, seed = 17L)
    finally spark.conf.set(coalesceKey, prevCoalesce)
  }

  test("salted aggregation and join equal the plain results for any salts and batch split") {
    val dimRows = (0L until 40L).filter(_ % 5 != 4).map(k => (k, k % 7))
    val dim = {
      import spark.implicits._
      dimRows.toDF("k", "tag")
    }
    val tagOf = dimRows.toMap
    val input = for {
      n <- Gen.choose(500, 3000)
      share <- Gen.choose(0.0, 0.9)
      seed <- Gen.long
      cuts <- Gen.listOfN(3, Gen.choose(0, n)).map(_.distinct.sorted)
      salts <- Gen.listOfN(4, Gen.choose(1, 32))
    } yield (rows(n, (share * n).toInt, 39, seed), cuts, salts)
    val prop = Prop.forAllNoShrink(input) { case (rs, cuts, salts) =>
      val bounds = (0 +: cuts :+ rs.size).distinct
      val batches = bounds.zip(bounds.tail).map { case (a, b) => rs.slice(a, b) }
      Prop.all(batches.zip(salts).map { case (batch, salt) =>
        val df = frame(batch, 4)
        val wantAgg = batch.groupBy(_._1).map { case (k, vs) =>
          val v = vs.map(_._2)
          (k, v.sum, v.size.toLong, v.min, v.max)
        }.toSet
        val gotAgg = SaltedAggregation.aggregate(df, Seq("k"),
            SaltedAggregation.Spec(sums = Seq("v"), mins = Seq("v"), maxs = Seq("v")), salt)
          .select("k", "sum_v", "cnt", "min_v", "max_v").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
        val wantJoin = batch.flatMap { case (k, v) => tagOf.get(k).map(t => (k, v, t)) }
          .groupBy(identity).view.mapValues(_.size).toMap
        val gotJoin = SaltedJoin.join(df, dim, Seq("k"), salt).select("k", "v", "tag").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .groupBy(identity).view.mapValues(_.length).toMap
        Prop(gotAgg == wantAgg && gotJoin == wantJoin) :|
          s"salt=$salt rows=${batch.size} aggOk=${gotAgg == wantAgg} joinOk=${gotJoin == wantJoin}"
      }: _*)
    }
    check(prop, cases = 6, seed = 29L)
  }
}
