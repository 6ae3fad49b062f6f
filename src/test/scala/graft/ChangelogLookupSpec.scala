package graft

import graft.plans.LookupJoin
import graft.streaming.{ChangelogOps, StreamingOps}
import graft.streaming.StreamingOps.Event
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryException}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

/** Changelog upsert sink (streaming MERGE), partitioned lookup join,
  * and §2.10 partitioning primitives.
  */
class ChangelogLookupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  private def ts(m: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:${m}%02d:00")

  test("streaming upsert sink maintains keyed current state across batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val path = TempPaths.dir("graft_upsert").toString + "/state"
    val in = MemoryStream[Event]
    val changelog = in.toDF().select(
      col("user_id"), col("event_id"), col("value"),
      when(col("event_type") === "del", lit(ChangelogOps.Delete))
        .otherwise(lit(ChangelogOps.UpdateAfter)).as(ChangelogOps.ChangeCol)
    )
    val q = ChangelogOps
      .upsertSink(changelog, path, Seq("user_id"), Seq("event_id"))
      .start()
    try {
      in.addData(Event(1, ts(0), 100, "up", 1.0), Event(2, ts(1), 200, "up", 2.0))
      q.processAllAvailable()
      val s1 = spark.read.parquet(path).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Double]("value"))).toMap
      assert(s1 == Map(100L -> 1.0, 200L -> 2.0))
      // batch 2: update user 100, delete user 200, insert 300
      in.addData(
        Event(3, ts(2), 100, "up", 9.0),
        Event(4, ts(3), 200, "del", 0.0),
        Event(5, ts(4), 300, "up", 3.0)
      )
      q.processAllAvailable()
      val s2 = spark.read.parquet(path).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Double]("value"))).toMap
      assert(s2 == Map(100L -> 9.0, 300L -> 3.0))
    } finally q.stop()
  }

  test("changelog sinks fail the batch on an unreadable target and keep its files") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val sinks = Seq[(String, (DataFrame, String) => DataStreamWriter[Row])](
      "upsert" -> (ChangelogOps.upsertSink(_, _, Seq("user_id"), Seq("event_id"))),
      "scd2" -> (ChangelogOps.scd2Sink(_, _, Seq("user_id"), "event_id")))
    sinks.foreach { case (name, sink) =>
      val path = TempPaths.dir(s"graft_${name}_garbage").toString + "/target"
      val in = MemoryStream[Event]
      val changelog = in.toDF().select(col("user_id"), col("event_id"), col("value"),
        lit(ChangelogOps.UpdateAfter).as(ChangelogOps.ChangeCol))
      val q = sink(changelog, path).start()
      try {
        in.addData(Event(1, ts(0), 100, "up", 1.0))
        q.processAllAvailable()
        val parts = new java.io.File(path).listFiles().filter(_.getName.endsWith(".parquet"))
        assert(parts.nonEmpty, name)
        val garbage = "not a parquet file".getBytes("UTF-8")
        parts.foreach(f => java.nio.file.Files.write(f.toPath, garbage))
        in.addData(Event(2, ts(1), 200, "up", 2.0))
        intercept[StreamingQueryException](q.processAllAvailable())
        assert(parts.forall(f => f.exists && java.util.Arrays.equals(
          java.nio.file.Files.readAllBytes(f.toPath), garbage)), name)
      } finally q.stop()
    }
  }

  test("dropUpdateBefore removes only -U rows") {
    import spark.implicits._
    val changelog = Seq(
      (1L, "+I"), (1L, "-U"), (1L, "+U"), (2L, "-D")
    ).toDF("k", ChangelogOps.ChangeCol)
    val kept = ChangelogOps.dropUpdateBefore(changelog)
      .select(ChangelogOps.ChangeCol).collect().map(_.getString(0)).toSeq.sorted
    assert(kept == Seq("+I", "+U", "-D"))
  }

  test("partitioned lookup join matches broadcast lookup") {
    val t = Engine.Tables(spark, "/root/testdata/sf0.001")
    val input = t.events.select(col("event_id"), col("user_id"), col("value"))
    val dim = t.events.groupBy(col("user_id"))
      .agg(min(col("event_id")).as("first_event"))
    val viaBroadcast = LookupJoin.broadcastLookup(input, dim, "user_id")
      .select("event_id", "first_event").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaPartitioned = LookupJoin.partitionedLookup(input, dim, "user_id", 8)
      .select("event_id", "first_event").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaPartitioned == viaBroadcast)
    assert(viaPartitioned.nonEmpty)
  }

  test("cached lookup caches repeated keys per partition") {
    import spark.implicits._
    val fetches = spark.sparkContext.longAccumulator("fetches")
    val ds = spark.range(1000).map(i => i % 10) // 10 distinct keys
    val out = LookupJoin
      .cachedLookup(ds, (k: Long) => k, (k: Long) => { fetches.add(1); k * 100 }, 64)(
        (k, v) => (k, v)
      )
      .collect()
    assert(out.forall { case (k, v) => v == k * 100 })
    // ≤ distinct-keys × partitions fetches, far below the 1000 rows
    assert(fetches.value <= 10L * ds.rdd.getNumPartitions,
      s"fetched ${fetches.value} times")
  }

  test("partitioning primitives: repartition/coalesce/rebalance shapes") {
    val t = Engine.Tables(spark, "/root/testdata/sf0.001")
    val df = t.lineitem
    // keyBy analog: hash repartition on a column
    val byKey = df.repartition(8, col("l_orderkey"))
    assert(byKey.rdd.getNumPartitions == 8)
    // same key lands in the same partition
    val perPart = byKey
      .select(col("l_orderkey"))
      .withColumn("pid", spark_partition_id())
      .groupBy("l_orderkey")
      .agg(countDistinct("pid").as("nparts"))
      .agg(max("nparts")).collect()(0).getLong(0)
    assert(perPart == 1L)
    // rebalance analog: round-robin repartition
    assert(df.repartition(5).rdd.getNumPartitions == 5)
    // rescale/coalesce: no shuffle downscale
    assert(df.repartition(8).coalesce(2).rdd.getNumPartitions == 2)
    // global analog: single partition
    assert(df.coalesce(1).rdd.getNumPartitions == 1)
  }
}
