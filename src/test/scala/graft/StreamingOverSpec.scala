package graft

import graft.streaming.{StreamingOps, StreamingOver}
import graft.streaming.StreamingOps.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

object StreamingOverSpec {
  /** Names of the threads the async lookups ran on (local mode: the
    * executor shares this JVM).
    */
  val lookupThreads: java.util.Set[String] = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}

class StreamingOverSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  private def ts(m: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 00:${m}%02d:00")

  test("streaming running OVER aggregate carries state across batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamingOver.runningAggregate(in.toDS())
      .writeStream.format("memory").queryName("run_out").outputMode("append").start()
    try {
      in.addData(Event(1, ts(0), 1, "a", 10.0), Event(2, ts(1), 1, "a", 5.0))
      q.processAllAvailable()
      in.addData(Event(3, ts(2), 1, "a", 1.0)) // continues from sum=15
      q.processAllAvailable()
      val rows = spark.sql("SELECT event_id, run_sum, run_n FROM run_out ORDER BY event_id")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      assert(rows.toSeq == Seq((1L, 10.0, 1L), (2L, 15.0, 2L), (3L, 16.0, 3L)))
    } finally q.stop()
  }

  test("bounded ROWS-preceding OVER keeps only n values of state") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamingOver.boundedPrecedingAggregate(in.toDS(), n = 2)
      .writeStream.format("memory").queryName("ring_out").outputMode("append").start()
    try {
      in.addData(
        Event(1, ts(0), 1, "a", 10.0),
        Event(2, ts(1), 1, "a", 5.0),
        Event(3, ts(2), 1, "a", 1.0)
      )
      q.processAllAvailable()
      val rows = spark.sql("SELECT event_id, win_sum, win_n FROM ring_out ORDER BY event_id")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
      // window of 2: [10], [10,5], [5,1]
      assert(rows.toSeq == Seq((1L, 10.0, 1), (2L, 15.0, 2), (3L, 6.0, 2)))
    } finally q.stop()
  }

  test("event-time RANGE-preceding OVER evicts by time, keeps ts-peers in one frame") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Event]
    // 10-minute range frame
    val q = StreamingOver.rangePrecedingAggregate(in.toDS(), rangeMs = 10L * 60 * 1000)
      .writeStream.format("memory").queryName("range_out").outputMode("append").start()
    try {
      in.addData(
        Event(1, ts(0), 1, "a", 10.0),
        Event(2, ts(5), 1, "a", 5.0),
        Event(3, ts(5), 1, "a", 2.0) // ts-peer of event 2: shares its frame
      )
      q.processAllAvailable()
      // cross-batch: event at :12 evicts the :0 row, keeps the :5 peers
      in.addData(Event(4, ts(12), 1, "a", 1.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT event_id, range_sum, range_n FROM range_out ORDER BY event_id")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      assert(rows.toSeq == Seq(
        (1L, 10.0, 1L),   // [10]
        (2L, 17.0, 3L),   // peers share the frame: [10, 5, 2]
        (3L, 17.0, 3L),
        (4L, 8.0, 3L)     // :0 evicted: [5, 2, 1]
      ))
    } finally q.stop()
  }

  test("streaming RANGE frame equals the batch RANGE window at sf0.01") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val events = Engine.Tables(spark, "/root/testdata/sf0.01").events
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event]
    // batch truth: SQL RANGE frame over the same data
    events.createOrReplaceTempView("range_spec_events")
    val expected = spark.sql("""
      SELECT event_id,
             sum(value) OVER w AS range_sum,
             count(*)  OVER w AS range_n
      FROM range_spec_events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts
                   RANGE BETWEEN INTERVAL 10 MINUTES PRECEDING AND CURRENT ROW)
    """).collect().map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2)))).toMap
    // stream the same rows in two event-time-ordered micro-batches
    val all = events.collect().sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
    val mid = all(all.length / 2).ts
    val in = MemoryStream[Event]
    val q = StreamingOver.rangePrecedingAggregate(in.toDS(), rangeMs = 10L * 60 * 1000)
      .writeStream.format("memory").queryName("range_sf_out").outputMode("append").start()
    try {
      in.addData(all.filter(!_.ts.after(mid)).toIndexedSeq)
      q.processAllAvailable()
      in.addData(all.filter(_.ts.after(mid)).toIndexedSeq)
      q.processAllAvailable()
      val got = spark.sql("SELECT event_id, range_sum, range_n FROM range_sf_out")
        .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2)))).toMap
      assert(got.size == expected.size)
      var checked = 0
      expected.foreach { case (id, (sv, n)) =>
        val (gsv, gn) = got(id)
        assert(gn == n, s"event $id frame count: $gn vs $n")
        assert(math.abs(gsv - sv) < 1e-6, s"event $id frame sum: $gsv vs $sv")
        checked += 1
      }
      assert(checked == expected.size)
    } finally q.stop()
  }

  test("count-trigger window equals the batch count window's full windows") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val events = Engine.Tables(spark, "/root/testdata/sf0.001").events
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event]
    // batch truth: row_number batches of 5, FULL windows only (the
    // streaming trigger never fires for a partial window)
    events.createOrReplaceTempView("cw_spec_events")
    val expected = spark.sql("""
      SELECT user_id, batch_id, count(*) AS n, round(sum(value), 4) AS sv
      FROM (SELECT user_id, value,
                   CAST(floor((row_number() OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) - 1) / 5) AS BIGINT) AS batch_id
            FROM cw_spec_events)
      GROUP BY user_id, batch_id
      HAVING count(*) = 5
    """).collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3)))).toMap
    // stream the same rows in two event-time-ordered micro-batches so
    // windows span the batch boundary
    val all = events.collect().sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
    val mid = all(all.length / 2).ts
    val in = MemoryStream[Event]
    val q = StreamingOps.countTriggerWindow(in.toDS(), size = 5)
      .writeStream.format("memory").queryName("cw_out").outputMode("append").start()
    try {
      in.addData(all.filter(!_.ts.after(mid)).toIndexedSeq)
      q.processAllAvailable()
      in.addData(all.filter(_.ts.after(mid)).toIndexedSeq)
      q.processAllAvailable()
      val got = spark.sql("SELECT user_id, batch_id, n, round(sv, 4) AS sv FROM cw_out")
        .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3)))).toMap
      assert(got.size == expected.size, s"${got.size} windows vs ${expected.size}")
      expected.foreach { case (k, (n, sv)) =>
        val (gn, gsv) = got(k)
        assert(gn == n && math.abs(gsv - sv) < 1e-6, s"window $k: ($gn,$gsv) vs ($n,$sv)")
      }
    } finally q.stop()
  }

  test("delta trigger fires on value drift past the threshold, across batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamingOps.deltaTriggerWindow(in.toDS(), threshold = 5.0)
      .writeStream.format("memory").queryName("delta_out").outputMode("append").start()
    try {
      // base=10; 12, 14 stay within 5; 16 drifts 6 → fire (n=4 incl.
      // base element, sum=52)
      in.addData(
        Event(1, ts(0), 1, "a", 10.0), Event(2, ts(1), 1, "a", 12.0),
        Event(3, ts(2), 1, "a", 14.0), Event(4, ts(3), 1, "a", 16.0))
      q.processAllAvailable()
      // new base=16 persisted across the batch boundary: 18 within 5,
      // 25 drifts 9 → second fire (n=2, sum=43)
      in.addData(Event(5, ts(4), 1, "a", 18.0), Event(6, ts(5), 1, "a", 25.0))
      q.processAllAvailable()
      // 27 within 5 of 25 → partial window, never emitted
      in.addData(Event(7, ts(6), 1, "a", 27.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT trigger_id, n, sv, fire_value FROM delta_out ORDER BY trigger_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      assert(rows.toSeq == Seq((0L, 4L, 52.0, 16.0), (1L, 2L, 43.0, 25.0)))
    } finally q.stop()
  }

  test("late-data split separates rows behind the watermark delay") {
    val t = Engine.Tables(spark, "/root/testdata/sf0.001")
    val (onTime, late) = StreamingOver.splitLate(t.events, "ts", "1 DAY")
    val total = t.events.count()
    assert(onTime.count() + late.count() == total)
    assert(late.count() > 0 && onTime.count() > 0)
    // every late row is older than max(ts) - 1d; on-time rows are not
    val maxTs = t.events.agg(max(col("ts"))).collect()(0).getTimestamp(0).getTime
    val dayMs = 24L * 3600 * 1000
    val lateMax = late.agg(max(col("ts"))).collect()(0).getTimestamp(0).getTime
    val onTimeMin = onTime.agg(min(col("ts"))).collect()(0).getTimestamp(0).getTime
    assert(lateMax < maxTs - dayMs && onTimeMin >= maxTs - dayMs)
  }

  test("async mapPartitions preserves order and completes all lookups") {
    import spark.implicits._
    val ds = spark.range(100).as[Long]
    val out = StreamingOver
      .asyncMapPartitions(ds, parallelism = 4)(x => x * 2)
      .collect()
    assert(out.sorted.toSeq == (0L until 100L).map(_ * 2))
  }

  test("async mapPartitions ends its lookup pool when the consumer stops early") {
    import spark.implicits._
    StreamingOverSpec.lookupThreads.clear()
    val out = StreamingOver
      .asyncMapPartitions(spark.range(1000).as[Long], parallelism = 4) { x =>
        StreamingOverSpec.lookupThreads.add(Thread.currentThread().getName)
        x * 2
      }
      .limit(1)
      .collect()
    assert(out.length == 1)
    val names = StreamingOverSpec.lookupThreads.toArray(Array.empty[String]).toSet
    assert(names.nonEmpty && names.forall(_.startsWith("graft-async-lookup-")), s"$names")
    def alive = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(t => t.isAlive && names(t.getName))
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (alive.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(alive.isEmpty, s"still alive: ${alive.map(_.getName).mkString(", ")}")
  }
}
