package graft

import graft.plans.AsOfJoin
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Left-outer mode of the as-of join: unmatched left rows survive with
  * null right columns, and the matched rows are exactly the inner
  * join's. The randomized inner/outer/forward property lives in
  * PropertySpec.
  */
class AsOfJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  test("left outer: unmatched left rows kept with null right columns") {
    import spark.implicits._
    // user 2's purchase precedes any signup (the dim row "doesn't exist
    // yet"); user 3 has only a signup without a time, which can match
    // nothing — both must survive with nulls.
    val purchases = Seq((1L, 1L, 100L, 5.0), (2L, 2L, 50L, 7.0), (3L, 3L, 10L, 9.0))
      .toDF("event_id", "user_id", "ts", "value")
    val signups = Seq((1L, Some(90L), 1.5), (2L, Some(60L), 2.5), (3L, None, 3.5))
      .toDF("user_id", "ts", "signup_value")
    def run(leftOuter: Boolean) =
      AsOfJoin.join(purchases, signups, "user_id", "ts", Seq("signup_value"), leftOuter)
        .select(col("event_id"), col("signup_value"))
        .collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
        .toMap
    assert(run(leftOuter = true) == Map(1L -> Some(1.5), 2L -> None, 3L -> None))
    // inner drops them
    assert(run(leftOuter = false) == Map(1L -> Some(1.5)))
  }

  test("left outer on real data: row count equals left side, inner rows identical") {
    val t = Engine.Tables(spark, "/root/testdata/sf0.001")
    val purchases = t.events
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val signups = t.events
      .filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("value").as("signup_value"))
    def run(leftOuter: Boolean) =
      AsOfJoin.join(purchases, signups, "user_id", "ts", Seq("signup_value"), leftOuter)
    val outer = run(leftOuter = true)
    assert(outer.count() == purchases.count())
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("signup_value").isNotNull)
        .select(col("event_id"), col("signup_value"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val inner = pairs(run(leftOuter = false))
    assert(inner.nonEmpty)
    assert(pairs(outer) == inner)
  }
}
