package graft

import graft.streaming.{StreamingOps, StreamingOver}
import graft.streaming.StreamingOps.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

/** Temporal sort (event-time ordered emit), RocksDB state backend, and
  * the streaming file source.
  */
class TemporalSortSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  private def ts(m: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 ${m / 60}%02d:${m % 60}%02d:00")

  test("temporal sort re-orders out-of-order events up to the watermark") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamingOver.temporalSort(in.toDS(), "10 minutes")
      .writeStream.format("memory").queryName("tsort_out").outputMode("append").start()
    try {
      // batch 1: out-of-order arrivals 30, 10, 20 — nothing emitted yet
      // (watermark is computed from the PREVIOUS batch's max ts)
      in.addData(Event(3, ts(30), 1, "a", 0), Event(1, ts(10), 1, "a", 0),
        Event(2, ts(20), 1, "a", 0))
      q.processAllAvailable()
      // after batch 1 the watermark is 30-10=20min: the out-of-order
      // events 10 and 20 release IN ORDER, 30 stays buffered
      val first = spark.sql("SELECT event_id FROM tsort_out WHERE user_id = 1")
        .collect().map(_.getLong(0))
      assert(first.toSeq == Seq(1L, 2L), s"got ${first.toSeq}")
      // batch 2 advances the watermark to 100-10=90 → event 30 releases
      in.addData(Event(9, ts(100), 2, "a", 0))
      q.processAllAvailable()
      val all = spark.sql("SELECT event_id FROM tsort_out WHERE user_id = 1")
        .collect().map(_.getLong(0))
      assert(all.toSeq == Seq(1L, 2L, 3L), s"got ${all.toSeq}")
      // further batches must not re-emit
      in.addData(Event(10, ts(200), 2, "a", 0))
      q.processAllAvailable()
      val after = spark.sql("SELECT event_id FROM tsort_out WHERE user_id = 1").count()
      assert(after == 3)
    } finally q.stop()
  }

  test("streaming aggregation runs on the RocksDB state store provider") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    try {
      val in = MemoryStream[Event]
      val q = StreamingOps.windowedCounts(in.toDF(), "5 minutes", "1 hour")
        .writeStream.format("memory").queryName("rocks_out").outputMode("update").start()
      try {
        in.addData(Event(1, ts(5), 1, "click", 1.0), Event(2, ts(10), 1, "click", 2.0))
        q.processAllAvailable()
        in.addData(Event(3, ts(20), 1, "click", 3.0)) // updates RocksDB state
        q.processAllAvailable()
        val n = spark.sql("SELECT max(n) FROM rocks_out").collect()(0).getLong(0)
        assert(n == 3L)
      } finally q.stop()
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming file source reads appended parquet files") {
    val dir = TempPaths.dir("graft_filestream").toString
    val t = Engine.Tables(spark, "/root/testdata/sf0.001")
    val schema = t.orders.schema
    t.orders.limit(100).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(schema).parquet(dir)
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    val q = stream.writeStream.format("memory").queryName("fsrc_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val total = spark.sql("SELECT sum(n) FROM fsrc_out").collect()(0).getLong(0)
      assert(total == 100L)
    } finally q.stop()
  }
}
