package graft

import graft.streaming.{StreamingOps, Tws}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
import org.scalatest.funsuite.AnyFunSuite

/** State API v2 (`transformWithState`) — multi-batch state
  * persistence and event-time timers, the behaviors the single-batch
  * oracle query (q_tws_keyed_profile) cannot show.
  */
class TwsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)

  test("profile state accumulates across microbatches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    Tws.withRocksDb(spark) {
      val in = MemoryStream[Tws.TwsEvent]
      val out = in.toDS().groupByKey(_.user_id)
        .transformWithState(
          new Tws.KeyedProfileProcessor, TimeMode.None(), OutputMode.Update())
      val ckpt = TempPaths.dir("tws_spec_ckpt").toString
      val q = out.toDF().writeStream
        .outputMode("update").format("memory").queryName("tws_acc")
        .option("checkpointLocation", ckpt).start()
      try {
        in.addData(
          Tws.TwsEvent(1, "click", 1.0),
          Tws.TwsEvent(1, "view", 5.0))
        q.processAllAvailable()
        in.addData(
          Tws.TwsEvent(1, "click", 3.0),
          Tws.TwsEvent(2, "view", 2.0))
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("tws_acc")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      // batch 1 emitted (1, 2 events, 2 types, max 5.0); batch 2 must
      // have CONTINUED key 1's state: 3 events, still 2 types, max 5.0
      assert(rows.contains((1L, 2L, 2L, 5.0)))
      assert(rows.contains((1L, 3L, 2L, 5.0)))
      assert(rows.contains((2L, 1L, 1L, 2.0)))
    }
  }

  test("online dedup buckets answer with min-so-far across batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    Tws.withRocksDb(spark) {
      val in = MemoryStream[Tws.SpanHit]
      val out = in.toDS().groupByKey(_.span)
        .transformWithState(
          new Tws.SpanMinProcessor, TimeMode.None(), OutputMode.Update())
      val ckpt = TempPaths.dir("tws_spec_dedup").toString
      val q = out.toDF().writeStream
        .outputMode("update").format("memory").queryName("tws_dedup")
        .option("checkpointLocation", ckpt).start()
      try {
        in.addData(Tws.SpanHit("a", 5))
        q.processAllAvailable()
        in.addData(Tws.SpanHit("a", 7), Tws.SpanHit("a", 3), Tws.SpanHit("b", 9))
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("tws_dedup")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // batch 1: 5 is canonical of 'a'. batch 2: the bucket min merges
      // history (5) with the batch (7, 3) → canonical 3 answers BOTH
      // hits, order-free; 'b' starts fresh at 9.
      assert(rows == Set((5L, 5L), (7L, 3L), (3L, 3L), (9L, 9L)))
    }
  }

  test("warm-started dedup state answers the first batch from the seeded corpus") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    Tws.withRocksDb(spark) {
      // "already seen" corpus: span a canonical 2, span b canonical 4
      val seed = Seq(("a", 2L), ("b", 4L)).toDS()
        .groupByKey(_._1).mapValues(_._2)
      val in = MemoryStream[Tws.SpanHit]
      val out = in.toDS().groupByKey(_.span)
        .transformWithState(
          new Tws.WarmSpanMinProcessor,
          TimeMode.None(), OutputMode.Update(), seed)
      val ckpt = TempPaths.dir("tws_spec_warm").toString
      val q = out.toDF().writeStream
        .outputMode("update").format("memory").queryName("tws_warm")
        .option("checkpointLocation", ckpt).start()
      try {
        in.addData(Tws.SpanHit("a", 9), Tws.SpanHit("b", 1), Tws.SpanHit("c", 6))
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("tws_warm")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // 9 is a dup of seeded 2; 1 beats seeded 4 and becomes canonical;
      // c was never seen — fresh canonical
      assert(rows == Set((9L, 2L), (1L, 1L), (6L, 6L)))
    }
  }

  test("gap sessionizer fires its event-time timer when the watermark passes") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    Tws.withRocksDb(spark) {
      val in = MemoryStream[Tws.TimedEvent]
      val out = in.toDS()
        .withWatermark("ts", "0 seconds")
        .groupByKey(_.user_id)
        .transformWithState(
          new Tws.GapSessionProcessor(gapMs = 5000),
          TimeMode.EventTime(), OutputMode.Update())
      val ckpt = TempPaths.dir("tws_spec_timer").toString
      val q = out.toDF().writeStream
        .outputMode("update").format("memory").queryName("tws_sessions")
        .option("checkpointLocation", ckpt).start()
      try {
        // key 1: events at 10s and 11s → timer armed at 16s
        in.addData(Tws.TimedEvent(1, ts(10), 1.0), Tws.TimedEvent(1, ts(11), 2.0))
        q.processAllAvailable()
        assert(spark.table("tws_sessions").isEmpty,
          "timer must not fire before the watermark reaches it")
        // key 2 at 100s pushes the watermark past 16s → key 1 closes
        in.addData(Tws.TimedEvent(2, ts(100), 1.0))
        q.processAllAvailable()
        val closed = spark.table("tws_sessions").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        assert(closed.toSeq == Seq((1L, 2L, 3.0, 16000L)))
        // key 1's state was cleared on close: a fresh event restarts at 1
        in.addData(Tws.TimedEvent(1, ts(200), 4.0))
        q.processAllAvailable()
        in.addData(Tws.TimedEvent(2, ts(300), 1.0))
        q.processAllAvailable()
        val again = spark.table("tws_sessions").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        assert(again.contains((1L, 1L, 4.0, 205000L)))
      } finally q.stop()
    }
  }

  test("bounded replay drops its memory-sink table when the finishing step throws") {
    import spark.implicits._
    val dir = TempPaths.dir("tws_spec_replay")
    Seq(Tws.TwsEvent(1, "click", 1.0), Tws.TwsEvent(2, "view", 2.0)).toDF()
      .coalesce(1).write.parquet(dir.resolve("events").toString)
    val file = new java.io.File(dir.resolve("events").toString).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getPath
    val schema = spark.read.parquet(file).schema
    Tws.withRocksDb(spark) {
      val out = StreamingOps.replaySource(spark, file, schema)
        .as[Tws.TwsEvent]
        .groupByKey(_.user_id)
        .transformWithState(
          new Tws.KeyedProfileProcessor, TimeMode.None(), OutputMode.Update())
      val ps = StreamingOps.statePinnedSession(spark)
      def sinks = ps.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith("tws_leak_probe_"))
      var seen = Seq.empty[String]
      val err = intercept[IllegalStateException] {
        StreamingOps.replayToMemory(out.toDF(), "tws_leak_probe") { t =>
          seen = sinks.toSeq
          assert(t.count() == 2L)
          throw new IllegalStateException("finish failed")
        }
      }
      assert(err.getMessage == "finish failed")
      assert(seen.size == 1, s"the sink table must exist while finishing: $seen")
      assert(sinks.isEmpty, s"the sink table must be dropped: ${sinks.toSeq}")
    }
  }
}
