package graft

import graft.streaming.StreamingOps.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

/** Checkpoint/restore (§2.9): a stateful streaming aggregation stopped
  * mid-stream and restarted against the SAME checkpoint directory must
  * resume its state exactly-once — post-restart outputs continue the
  * pre-restart counts (state restored), and the restarted query does
  * not re-emit already-committed batches (offsets restored). This is
  * the Spark analog of the reference's savepoint stop-with-restore
  * cycle.
  */
class CheckpointResumeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  private def ts(minutes: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minutes / 60}%02d:${minutes % 60}%02d:00")

  test("stateful aggregation resumes from checkpoint without loss or replay") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ckpt = TempPaths.dir("graft_ckpt_resume").toString

    val in = MemoryStream[Event]
    def agg = in.toDF()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))

    // the memory sink refuses checkpoint recovery; foreachBatch is the
    // recoverable sink shape (committed batch ids skip at restart)
    val buf1 = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Double)]
    val buf2 = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Double)]
    def sinkTo(buf: scala.collection.mutable.ArrayBuffer[(String, Long, Double)]) =
      agg.writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          buf.synchronized {
            buf ++= df.collect()
              .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
          }
          ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode("update")

    // run 1: two keys, one batch, committed to the checkpoint
    in.addData(
      Event(1, ts(1), 1, "click", 1.0),
      Event(2, ts(2), 1, "view", 2.0),
      Event(3, ts(3), 2, "click", 3.0))
    val q1 = sinkTo(buf1).start()
    try q1.processAllAvailable()
    finally q1.stop()
    val run1 = buf1.map(t => t._1 -> t._2).toMap
    assert(run1 == Map("click" -> 2L, "view" -> 1L), s"run1: $buf1")

    // run 2: NEW query instance, same checkpoint; only new data arrives
    in.addData(Event(4, ts(4), 3, "click", 4.0))
    val q2 = sinkTo(buf2).start()
    try q2.processAllAvailable()
    finally q2.stop()
    val run2 = buf2.toSeq

    // state restored: click continues 2 -> 3 with the running sum
    // carrying the pre-restart values (1.0 + 3.0 + 4.0)
    assert(run2 == Seq(("click", 3L, 8.0)),
      s"state not restored exactly-once: $run2")
    // offsets restored: batch 1 is not replayed, so the untouched key
    // ("view") emits nothing after restart
    assert(!run2.exists(_._1 == "view"), "restart replayed committed batch")
  }

  test("native file sink is exactly-once across a stop/restart") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ckpt = TempPaths.dir("graft_ckpt_filesink").toString
    val outDir = TempPaths.dir("graft_filesink_out").toString

    val in = MemoryStream[Event]
    def sink = in.toDF()
      .select(col("event_id"), col("event_type"), col("value"))
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append")

    in.addData(
      Event(1, ts(1), 1, "click", 1.0),
      Event(2, ts(2), 1, "view", 2.0))
    val q1 = sink.start()
    try q1.processAllAvailable()
    finally q1.stop()

    in.addData(Event(3, ts(3), 2, "click", 3.0))
    val q2 = sink.start()
    try q2.processAllAvailable()
    finally q2.stop()

    // every input row exactly once: the restarted query neither
    // re-wrote batch 1's files into the manifest nor dropped batch 2
    val ids = spark.read.parquet(outDir)
      .select(col("event_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L), s"file sink rows: $ids")
  }
}
