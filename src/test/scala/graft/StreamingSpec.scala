package graft

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

/** Harness tests for the streaming operators (the reference's operator
  * harness layer — AbstractStreamOperatorTestHarness driving elements
  * + watermarks): MemoryStream in, memory sink out, processAllAvailable
  * for deterministic synchronous execution.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  private def ts(minutes: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minutes / 60}%02d:${minutes % 60}%02d:00")

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
      mode: String = "append"): Unit = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try q.processAllAvailable()
    finally q.stop()
  }

  test("streaming tumbling window aggregation") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Event]
    in.addData(
      Event(1, ts(5), 1, "click", 1.0),
      Event(2, ts(20), 1, "click", 2.0),
      Event(3, ts(65), 2, "view", 3.0),
      Event(4, ts(70), 2, "click", 4.0)
    )
    runToMemory(StreamingOps.windowedCounts(in.toDF(), "5 minutes", "1 hour"),
      "win_out", "update")
    val rows = spark.sql("SELECT event_type, n, sv FROM win_out ORDER BY wstart, event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq == Seq(("click", 2L, 3.0), ("click", 1L, 4.0), ("view", 1L, 3.0)))
  }

  test("streaming session windows close on gap") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Event]
    // user 1: events at 0,10 (one session), then 60 (new session);
    // append mode emits a session once the watermark passes its close,
    // so a far-future sentinel event advances the watermark.
    in.addData(
      Event(1, ts(0), 1, "a", 0), Event(2, ts(10), 1, "a", 0),
      Event(3, ts(60), 1, "a", 0)
    )
    val q = StreamingOps.sessionized(in.toDF(), "30 minutes")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      in.addData(Event(99, ts(600), 9, "a", 0)) // watermark → 590min
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.sql("SELECT user_id, n FROM sess_out WHERE user_id = 1 ORDER BY sess_start")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == Seq((1L, 2L), (1L, 1L)))
  }

  test("streaming dedup keeps first per key") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Event]
    in.addData(
      Event(1, ts(1), 1, "click", 1.0),
      Event(2, ts(2), 1, "click", 2.0), // dup key (1, click)
      Event(3, ts(3), 2, "click", 3.0)
    )
    runToMemory(StreamingOps.dedupeKeepFirst(in.toDF()), "dedup_out")
    val ids = spark.sql("SELECT event_id FROM dedup_out").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L))
  }

  test("stream-stream interval join pairs purchases after signups") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val sig = MemoryStream[Event]
    val pur = MemoryStream[Event]
    sig.addData(Event(1, ts(0), 1, "signup", 0), Event(2, ts(0), 2, "signup", 0))
    pur.addData(
      Event(10, ts(10), 1, "purchase", 9.99), // within 30m → joins
      Event(11, ts(50), 1, "purchase", 5.0),  // too late → no join
      Event(12, ts(20), 3, "purchase", 1.0)   // no signup → no join
    )
    runToMemory(
      StreamingOps.intervalJoin(sig.toDF(), pur.toDF(), "inner"), "ij_out")
    val rows = spark.sql("SELECT s_user, p_id, p_value FROM ij_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq == Seq((1L, 10L, 9.99)))
  }

  test("stream-stream join over the events table equals the batch interval join") {
    // q_join_stream_stream replays events through the file source into
    // StreamingSymmetricHashJoinExec; q_join_interval is the identical
    // join+aggregation on the batch engine — outputs must be equal
    val dir = "/root/testdata/sf0.001"
    def rows(name: String) =
      SparkEntry.queries(name)(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val streaming = rows("q_join_stream_stream")
    val batch = rows("q_join_interval")
    assert(streaming.nonEmpty)
    assert(streaming == batch,
      s"streaming != batch:\n streaming=$streaming\n batch=$batch")
  }

  test("statePinnedSession pins state partitions on a clone and never touches the parent") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val pinned = StreamingOps.statePinnedSession(spark)
    assert(pinned.conf.get(key) == "2",
      s"default state partition count must be 2, got ${pinned.conf.get(key)}")
    assert(spark.conf.get(key) == before,
      "parent session conf must be untouched (isolation by construction)")
    // runtime conf mutations on the parent (e.g. the RocksDB provider
    // pin from Tws.withRocksDb) must propagate to the clone
    spark.conf.set("spark.graft.test.marker", "inherited")
    spark.conf.set("spark.graft.stream.statePartitions", "3")
    try {
      val custom = StreamingOps.statePinnedSession(spark)
      assert(custom.conf.get(key) == "3",
        s"knob must override, got ${custom.conf.get(key)}")
      assert(custom.conf.get("spark.graft.test.marker") == "inherited",
        "clone must inherit the parent's runtime conf")
    } finally {
      spark.conf.unset("spark.graft.stream.statePartitions")
      spark.conf.unset("spark.graft.test.marker")
    }
    assert(spark.conf.get(key) == before)
  }

  test("stream-stream LEFT OUTER join null-extends unmatched signups after the watermark passes") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val sig = MemoryStream[Event]
    val pur = MemoryStream[Event]
    sig.addData(
      Event(1, ts(0), 1, "signup", 0), // matched
      Event(2, ts(0), 2, "signup", 0)  // never matched → null-extended
    )
    pur.addData(Event(10, ts(10), 1, "purchase", 9.99))
    val out = StreamingOps.intervalJoin(sig.toDF(), pur.toDF(), "leftOuter")
    val q = out.writeStream.format("memory").queryName("ijl_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // watermark so far: 10min - 10min delay = 0 → signup 2's horizon
      // (0 + 30min) not passed, no null row yet
      val early = spark.sql("SELECT s_user FROM ijl_out WHERE p_id IS NULL").count()
      assert(early == 0, "unmatched row must NOT emit before its horizon")
      // advance the watermark far past s_ts + 30min — on BOTH inputs:
      // the combined watermark is the min across the two sides' nodes
      sig.addData(Event(98, ts(600), 9, "signup", 0))
      pur.addData(Event(99, ts(600), 9, "purchase", 0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.sql("SELECT s_user, p_id FROM ijl_out")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(rows.contains((1L, 10L)), s"matched pair must emit: $rows")
    assert(rows.contains((2L, -1L)), s"unmatched signup must null-extend: $rows")
  }

  test("stream-stream FULL OUTER join null-extends both sides") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val sig = MemoryStream[Event]
    val pur = MemoryStream[Event]
    sig.addData(
      Event(1, ts(0), 1, "signup", 0), // matched
      Event(2, ts(0), 2, "signup", 0)  // unmatched → null-extended right side
    )
    pur.addData(
      Event(10, ts(10), 1, "purchase", 9.99), // matches signup 1
      Event(11, ts(5), 3, "purchase", 4.0)    // unmatched → null-extended left side
    )
    val out = StreamingOps.intervalJoin(sig.toDF(), pur.toDF(), "fullOuter")
    val q = out.writeStream.format("memory").queryName("ijf_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      sig.addData(Event(98, ts(600), 9, "signup", 0))
      pur.addData(Event(99, ts(600), 9, "purchase", 0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.sql("SELECT s_id, p_id FROM ijf_out")
      .collect().map(r =>
        (if (r.isNullAt(0)) -1L else r.getLong(0),
         if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(rows.contains((1L, 10L)), s"matched pair must emit: $rows")
    assert(rows.contains((2L, -1L)), s"unmatched signup must null-extend: $rows")
    assert(rows.contains((-1L, 11L)), s"unmatched purchase must null-extend: $rows")
  }

  test("stream-stream RIGHT OUTER join null-extends unmatched purchases only after the watermark passes p_ts") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val sig = MemoryStream[Event]
    val pur = MemoryStream[Event]
    sig.addData(Event(1, ts(0), 1, "signup", 0)) // matches purchase 10
    pur.addData(
      Event(10, ts(10), 1, "purchase", 9.99), // matched
      Event(11, ts(5), 3, "purchase", 4.0)    // unmatched -> null-extended
    )
    val out = StreamingOps.intervalJoin(sig.toDF(), pur.toDF(), "rightOuter")
    val q = out.writeStream.format("memory").queryName("ijr_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // watermark so far ~0 < p_ts (5min). The right side's eviction
      // horizon is the purchase's OWN timestamp (purchases only match
      // signups at-or-before them — no +30min window term, the cut the
      // q_join_stream_stream_right oracle applies to the purchase side
      // only): before wm > p_ts, no null row may emit
      val early = spark.sql("SELECT p_id FROM ijr_out WHERE s_id IS NULL").count()
      assert(early == 0,
        "unmatched purchase must NOT null-extend before the watermark passes p_ts")
      // advance the combined watermark (min across sides) past p_ts
      sig.addData(Event(98, ts(600), 9, "signup", 0))
      pur.addData(Event(99, ts(600), 9, "purchase", 0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.sql("SELECT s_id, p_id FROM ijr_out")
      .collect().map(r =>
        (if (r.isNullAt(0)) -1L else r.getLong(0),
         if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(rows.contains((1L, 10L)), s"matched pair must emit: $rows")
    assert(rows.contains((-1L, 11L)),
      s"unmatched purchase must null-extend after its horizon: $rows")
  }

  test("stream-stream LEFT OUTER join over events equals the batch left join at the same horizon") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val streaming = SparkEntry.queries("q_join_stream_stream_left")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // identical computation on the batch engine
    val raw0 = spark.read.parquet(s"$dir/events.parquet")
    val raw = raw0.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw0.withColumn("ts", timestamp_micros((col("ts") / lit(1000L)).cast("long")))
      case _ => raw0
    }
    val horizon = raw.agg((least(
      max(when(col("event_type") === "signup", col("ts"))),
      max(when(col("event_type") === "purchase", col("ts"))))
      - expr("INTERVAL 41 MINUTES")).as("cut"))
    val s = raw.filter(col("event_type") === "signup")
      .crossJoin(broadcast(horizon)).filter(col("ts") < col("cut"))
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
    val p = raw.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"), col("value").as("p_value"))
    val batch = s.join(p,
        col("s_user") === col("p_user") && col("p_ts") >= col("s_ts") &&
          col("p_ts") <= col("s_ts") + expr("INTERVAL 30 MINUTES"), "leftOuter")
      .groupBy(col("s_user"))
      .agg(count(lit(1)).as("n_rows"), count(col("p_id")).as("n_matched"),
        round(coalesce(sum(col("p_value")), lit(0.0)), 4).as("v_sum"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streaming.nonEmpty)
    assert(streaming == batch,
      s"streaming != batch:\n streaming=$streaming\n batch=$batch")
  }

  test("streaming top-n keeps bounded per-key state and re-emits on change") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Event]
    in.addData(Event(1, ts(1), 1, "a", 10.0), Event(2, ts(2), 1, "a", 30.0))
    val out = StreamingOps.streamingTopN(in.toDS(), n = 2)
    val q = out.writeStream.format("memory").queryName("topn_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val first = spark.sql("SELECT rank, event_id FROM topn_out")
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
      assert(first == Set((1, 2L), (2, 1L)))
      in.addData(Event(3, ts(3), 1, "a", 20.0)) // displaces event 1 from rank 2
      q.processAllAvailable()
      val all = spark.sql("SELECT rank, event_id FROM topn_out")
        .collect().map(r => (r.getInt(0), r.getLong(1)))
      assert(all.count(_ == (2, 3L)) == 1, s"expected re-emit with event 3 at rank 2: ${all.toSeq}")
    } finally q.stop()
  }
}
