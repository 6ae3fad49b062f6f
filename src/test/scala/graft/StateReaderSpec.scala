package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Queryable state (reference `KeyedStream.java:1031-1070` +
  * `flink-queryable-state/`): external reads of a stateful operator's
  * keyed state. Spark-first this is the State Data Source Reader over
  * the checkpoint — these tests pin the three behaviors the reference
  * client offers: read the live value for a key, read a consistent
  * snapshot (here: any committed batch — strictly stronger than the
  * reference, which only serves the latest), and discover which
  * operators hold state.
  */
class StateReaderSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  private def newCkpt(): String =
    TempPaths.dir("graft_state_spec").toString

  test("statestore read equals the aggregation across two batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Double)]
    val ckpt = newCkpt()
    val agg = in.toDF().toDF("k", "v")
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    val q = agg.writeStream.outputMode("update").format("noop")
      .option("checkpointLocation", ckpt).start()
    try {
      in.addData((1L, 1.0), (1L, 2.0), (2L, 5.0))
      q.processAllAvailable()
      in.addData((2L, 7.0), (3L, 9.0))
      q.processAllAvailable()
    } finally q.stop()

    // latest state == batch aggregation of everything ingested
    val latest = graft.operators.StateQueries.readAggState(spark, ckpt)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(latest === Set((1L, 2L, 3.0), (2L, 2L, 12.0), (3L, 1L, 9.0)))

    // time-travel: batch 0's snapshot has only the first micro-batch
    val b0 = spark.read.format("statestore")
      .option("batchId", 0).load(ckpt)
      .select(col("key.*"), col("value.*"))
    val rows0 = b0.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows0 === Set((1L, 2L, 3.0), (2L, 1L, 5.0)))
  }

  test("state-metadata discovers the stateful operator and its shards") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Double)]
    val ckpt = newCkpt()
    val agg = in.toDF().toDF("k", "v").groupBy(col("k"))
      .agg(sum(col("v")).as("s"))
    val q = agg.writeStream.outputMode("update").format("noop")
      .option("checkpointLocation", ckpt).start()
    try { in.addData((1L, 1.0)); q.processAllAvailable() } finally q.stop()

    val meta = spark.read.format("state-metadata").load(ckpt)
    val ops = meta.select("operatorName").as[String].collect().toSet
    assert(ops.nonEmpty)
    // streaming aggregation state lives under the StateStoreSave exec
    assert(ops.contains("stateStoreSave"),
      s"expected the aggregation's stateStoreSave operator, got $ops")
    val parts = meta.select("numPartitions").as[Int].collect().head.toLong
    assert(parts ===
      spark.sessionState.conf.numShufflePartitions.toLong)
  }

  test("key-filtered state read prunes to the requested key") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Double)]
    val ckpt = newCkpt()
    val agg = in.toDF().toDF("k", "v").groupBy(col("k"))
      .agg(sum(col("v")).as("s"))
    val q = agg.writeStream.outputMode("update").format("noop")
      .option("checkpointLocation", ckpt).start()
    try {
      in.addData((1L, 1.0), (2L, 2.0), (3L, 3.0))
      q.processAllAvailable()
    } finally q.stop()

    val one = spark.read.format("statestore").load(ckpt)
      .filter(col("key.k") === 2L)
      .select(col("value.*")).collect()
    assert(one.length === 1 && one.head.getDouble(0) === 2.0)
  }
}
