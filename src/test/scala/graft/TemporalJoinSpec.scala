package graft

import graft.plans.AsOfJoin
import graft.streaming.TemporalJoin
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

/** Streaming temporal (as-of) join == the batch as-of join
  * (`plans.AsOfJoin`) on the same rows — the reference pairs
  * TemporalRowTimeJoinOperator with its batch temporal join the same way. Fed across multiple
  * batches with out-of-order rows inside the watermark horizon.
  */
object TemporalJoinSpec {
  final case class P(key: Long, ptime: Timestamp, pval: Double)
  final case class V(key: Long, vtime: Timestamp, vval: String)
}

class TemporalJoinSpec extends AnyFunSuite {
  import TemporalJoinSpec.{P, V}
  private lazy val spark = SparkTestSession.get

  /** Versions as the batch as-of join's right side: key and time
    * under the probe's column names, vtime kept as a right value.
    */
  private def asOfRight(vs: Seq[V]) = {
    import spark.implicits._
    vs.toDF().withColumn("ptime", col("vtime"))
  }

  private def ts(minutes: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minutes / 60}%02d:${minutes % 60}%02d:00")

  test("streaming as-of join matches the batch as-of join across batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext

    // key 1: versions at 0 ("a"), 30 ("b"); probes at 10, 29, 35, 40
    // key 2: version at 5 ("x"); probes at 3 (no match → dropped), 50
    // key 3: probe at 20 with no versions at all → dropped
    val versions = Seq(
      V(1, ts(0), "a"), V(1, ts(30), "b"), V(2, ts(5), "x"))
    val probes = Seq(
      P(1, ts(10), 1.0), P(1, ts(29), 2.0), P(1, ts(35), 3.0),
      P(1, ts(40), 4.0), P(2, ts(3), 5.0), P(2, ts(50), 6.0),
      P(3, ts(20), 7.0))

    // batch truth via the batch as-of join
    val expected = AsOfJoin
      .join(probes.toDF(), asOfRight(versions), "key", "ptime", Seq("vtime", "vval"))
      .select(col("ptime"), col("pval"), col("vtime"), col("vval"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getDouble(1), r.getTimestamp(2), r.getString(3)))
      .toSet

    val pIn = MemoryStream[P]
    val vIn = MemoryStream[V]
    val joined = TemporalJoin.asOfJoin(pIn.toDF(), vIn.toDF(), "10 minutes")
    val q = joined.writeStream.format("memory").queryName("tj_out")
      .outputMode("append").start()
    try {
      // batch 1: early versions + one out-of-order probe pair
      vIn.addData(V(1, ts(0), "a"), V(2, ts(5), "x"))
      pIn.addData(P(1, ts(29), 2.0), P(1, ts(10), 1.0), P(2, ts(3), 5.0))
      q.processAllAvailable()
      // batch 2: version update for key 1 + later probes
      vIn.addData(V(1, ts(30), "b"))
      pIn.addData(P(1, ts(35), 3.0), P(1, ts(40), 4.0), P(3, ts(20), 7.0))
      q.processAllAvailable()
      // batch 3: last probe + far-future sentinels flush the watermark
      pIn.addData(P(2, ts(50), 6.0))
      q.processAllAvailable()
      pIn.addData(P(99, ts(600), 0.0))
      vIn.addData(V(98, ts(600), "zz"))
      q.processAllAvailable()
      // one more cycle so event-time timeouts set at the previous
      // watermark fire and flush any still-buffered probes
      pIn.addData(P(99, ts(610), 0.0))
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.sql(
      "SELECT ptime, pval, vtime, vval FROM tj_out WHERE key < 90")
      .collect()
      .map(r => (r.getTimestamp(0), r.getDouble(1), r.getTimestamp(2), r.getString(3)))
      .toSet
    assert(got == expected, s"streaming $got != batch $expected")
    // and the unmatched probes really are absent (inner semantics)
    assert(!got.exists(_._2 == 5.0) && !got.exists(_._2 == 7.0))
  }

  test("left-outer streaming as-of keeps unmatched probes with null version") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val pIn = MemoryStream[P]
    val vIn = MemoryStream[V]
    val joined = TemporalJoin.asOfJoin(
      pIn.toDF(), vIn.toDF(), "10 minutes", leftOuter = true)
    val q = joined.writeStream.format("memory").queryName("tj_outer")
      .outputMode("append").start()
    try {
      vIn.addData(V(1, ts(20), "a"))
      // probe before any version (outer row) + probe after (match)
      pIn.addData(P(1, ts(5), 1.0), P(1, ts(30), 2.0), P(2, ts(10), 3.0))
      q.processAllAvailable()
      pIn.addData(P(99, ts(600), 0.0))
      vIn.addData(V(98, ts(600), "zz"))
      q.processAllAvailable()
      pIn.addData(P(99, ts(610), 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.sql(
      "SELECT pval, vval FROM tj_outer WHERE key < 90 ORDER BY pval")
      .collect().map(r => (r.getDouble(0), Option(r.getString(1))))
    // batch truth: the batch as-of join's LEFT OUTER mode on same rows
    val expected = AsOfJoin.join(
        Seq(P(1, ts(5), 1.0), P(1, ts(30), 2.0), P(2, ts(10), 3.0)).toDF(),
        asOfRight(Seq(V(1, ts(20), "a"))), "key", "ptime", Seq("vtime", "vval"),
        leftOuter = true)
      .orderBy(col("pval"))
      .collect().map(r => (r.getDouble(2), Option(r.getAs[String]("vval"))))
    assert(got.toSeq == expected.toSeq,
      s"streaming ${got.toSeq} != batch ${expected.toSeq}")
    assert(got.count(_._2.isEmpty) == 2, "expected two outer rows")
  }
}
