package graft

import graft.streaming.{StreamingOps, Tws}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
import org.scalatest.funsuite.AnyFunSuite

/** The bounded replay path (`replaySource` → `runToEnd`, and
  * `replayToMemory`) scopes its state partition count, and any
  * provider set around it, to the query's start: the checkpoint keeps
  * them, the session gets its own values back.
  */
class ReplayPinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  private val partitionsKey = "spark.sql.shuffle.partitions"
  private val providerKey = "spark.sql.streaming.stateStore.providerClass"

  /** A one-file parquet table of `Tws.TwsEvent` rows; returns the file. */
  private def eventsFile(): String = {
    import spark.implicits._
    val dir = TempPaths.dir("replay_pin_spec").resolve("events").toString
    Seq(Tws.TwsEvent(1, "click", 1.0), Tws.TwsEvent(2, "view", 2.0),
      Tws.TwsEvent(1, "view", 3.0)).toDF()
      .coalesce(1).write.parquet(dir)
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getPath
  }

  test("runToEnd writes 2 state partitions and leaves the session's partition count alone") {
    import spark.implicits._
    val file = eventsFile()
    // the session runs at 5 partitions here, so a leaked pin would show
    Engine.withConf(spark, partitionsKey -> "5") {
      val agg = StreamingOps.replaySource(spark, file, spark.read.parquet(file).schema)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      val ckpt = StreamingOps.runToEnd(
        spark, agg.writeStream.outputMode("update").format("noop"), "replay_pin")
      assert(spark.conf.get(partitionsKey) === "5")
      val meta = spark.read.format("state-metadata").load(ckpt)
      assert(meta.select("numPartitions").as[Int].collect().toSet === Set(2))
      val state = spark.read.format("statestore").load(ckpt)
        .select(col("key.user_id"), col("value.*")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(state === Map(1L -> 2L, 2L -> 1L))
    }
  }

  test("replayToMemory inside withRocksDb records the RocksDB provider and restores the session") {
    import spark.implicits._
    val file = eventsFile()
    val providerBefore = spark.conf.getOption(providerKey)
    val partitionsBefore = spark.conf.get(partitionsKey)
    val name = s"replay_pin_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val profiles = Tws.withRocksDb(spark) {
      val out = StreamingOps.replaySource(spark, file, spark.read.parquet(file).schema)
        .as[Tws.TwsEvent]
        .groupByKey(_.user_id)
        .transformWithState(
          new Tws.KeyedProfileProcessor, TimeMode.None(), OutputMode.Update())
      StreamingOps.replayToMemory(out.toDF(), name) {
        _.groupBy(col("user_id")).agg(max(col("n_events")).as("n"))
      }.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(profiles === Map(1L -> 2L, 2L -> 1L))
    assert(spark.conf.getOption(providerKey) === providerBefore)
    assert(spark.conf.get(partitionsKey) === partitionsBefore)
    assert(spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(s"${name}_")).isEmpty)
    // runToEnd's checkpoint is the one temp dir named after the replay
    val ckpts = new java.io.File(System.getProperty("java.io.tmpdir")).listFiles()
      .filter(_.getName.startsWith(s"graft_${name}_ckpt"))
    assert(ckpts.length === 1)
    val offsets = new String(java.nio.file.Files.readAllBytes(
      ckpts.head.toPath.resolve("offsets").resolve("0")), "UTF-8")
    assert(offsets.contains("RocksDBStateStoreProvider"), offsets)
    val meta = spark.read.format("state-metadata").load(ckpts.head.toString)
    assert(meta.select("numPartitions").as[Int].collect().toSet === Set(2))
  }
}
