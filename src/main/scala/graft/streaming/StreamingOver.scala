package graft.streaming

import graft.streaming.StreamingOps.{Event, Keyed, eventOrder, perUser}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Streaming OVER aggregates and the remaining §2.9 stream utilities.
  *
  * Spark has no streaming WindowExec (reference
  * StreamExecOverAggregate.java:82, ProcTimeUnboundedPrecedingFunction
  * / RowTimeRowsBoundedPrecedingFunction), so per-key ordered
  * aggregation state runs on the keyed-state driver
  * [[StreamingOps.perUser]]:
  *  - [[runningAggregate]]: UNBOUNDED PRECEDING sum/count per key —
  *    state is O(1) per key (sum, count).
  *  - [[boundedPrecedingAggregate]]: ROWS BETWEEN n-1 PRECEDING AND
  *    CURRENT ROW — state is the last n values per key (bounded ring).
  * Events are processed in [[StreamingOps.eventOrder]] within each
  * batch; cross-batch order is arrival order (watermark-sort upstream
  * for strict event-time).
  */
object StreamingOver {

  final case class RunState(sum: Double, n: Long)
  final case class RunOut(user_id: Long, event_id: Long, run_sum: Double, run_n: Long)

  def runningAggregate(events: Dataset[Event]): Dataset[RunOut] = {
    import events.sparkSession.implicits._
    perUser[RunState, RunOut](events, None) { (key, rows, prior, _) =>
      var st = prior.getOrElse(RunState(0.0, 0L))
      val out = rows.map { e =>
        st = RunState(st.sum + e.value, st.n + 1)
        RunOut(key, e.event_id, st.sum, st.n)
      }
      Keyed(Some(st), out)
    }
  }

  final case class RingState(values: Seq[Double])
  final case class BoundedOut(user_id: Long, event_id: Long, win_sum: Double, win_n: Int)

  def boundedPrecedingAggregate(events: Dataset[Event], n: Int): Dataset[BoundedOut] = {
    import events.sparkSession.implicits._
    perUser[RingState, BoundedOut](events, None) { (key, rows, prior, _) =>
      var ring = prior.map(_.values).getOrElse(Seq.empty)
      val out = rows.map { e =>
        ring = (ring :+ e.value).takeRight(n)
        BoundedOut(key, e.event_id, ring.sum, ring.size)
      }
      Keyed(Some(RingState(ring)), out)
    }
  }

  final case class TimedVal(micros: Long, value: Double)
  final case class RangeState(buf: Seq[TimedVal])
  final case class RangeOut(user_id: Long, event_id: Long, range_sum: Double, range_n: Long)

  /** RANGE BETWEEN INTERVAL x PRECEDING AND CURRENT ROW over event
    * time, per key (reference: flink-table-runtime-blink/.../over/
    * RowTimeRangeBoundedPrecedingFunction.java:1-296). State is the
    * time-bounded buffer of (timestamp, value) pairs inside the frame;
    * each incoming event evicts entries older than `rangeMs`, joins the
    * buffer, and emits the frame aggregate. Rows tied on the timestamp
    * share one frame (SQL RANGE semantics: the frame bound is a time
    * predicate, so all peers of the current row are inside it), which
    * is why events are processed per distinct timestamp, exactly like
    * the reference's per-timestamp record lists.
    *
    * State per key is bounded by the range width — the streaming analog
    * of a 100 TB-safe windowed buffer. Cross-batch order is arrival
    * order; pair with [[temporalSort]] upstream for strict event-time.
    */
  def rangePrecedingAggregate(events: Dataset[Event], rangeMs: Long): Dataset[RangeOut] = {
    import events.sparkSession.implicits._
    val rangeMicros = rangeMs * 1000L
    perUser[RangeState, RangeOut](events, None) { (key, rows, prior, _) =>
      var buf = prior.map(_.buf).getOrElse(Seq.empty)
      // eventOrder sorts decoded (whole-microsecond) timestamps as
      // their micros do, so ts-peers are adjacent
      val timed = rows.map(e => (e.ts.getTime * 1000L + (e.ts.getNanos % 1000000) / 1000, e))
      val out = Seq.newBuilder[RangeOut]
      // consecutive runs of equal timestamps form one frame update
      var i = 0
      while (i < timed.size) {
        val ts = timed(i)._1
        var j = i
        while (j < timed.size && timed(j)._1 == ts) j += 1
        val tied = timed.slice(i, j)
        buf = buf.filter(_.micros >= ts - rangeMicros) ++
          tied.map { case (us, e) => TimedVal(us, e.value) }
        val s = buf.map(_.value).sum
        val n = buf.size.toLong
        tied.foreach { case (_, e) => out += RangeOut(key, e.event_id, s, n) }
        i = j
      }
      Keyed(Some(RangeState(buf)).filter(_.buf.nonEmpty), out.result())
    }
  }

  /** Late-data side output (reference WindowedStream.sideOutputLateData
    * — Structured Streaming silently drops late rows, so the capture
    * is an explicit split): rows older than the high-watermark minus
    * the delay go to the late channel, the rest to the main channel.
    * Batch-computable per micro-batch inside foreachBatch.
    */
  def splitLate(df: DataFrame, tsCol: String, delay: String): (DataFrame, DataFrame) = {
    // the high-watermark scalar comes from a 1-row broadcast aggregate
    // joined back to the batch — an empty-partition OVER() window would
    // funnel the entire micro-batch through one WindowExec task, the
    // slowest task in the stage by construction at scale
    val hwm = df.agg(max(col(tsCol)).as("__hwm"))
    val tagged = df
      .crossJoin(broadcast(hwm))
      .withColumn("__late", col(tsCol) < col("__hwm") - expr(s"INTERVAL $delay"))
    (tagged.filter(!col("__late")).drop("__late", "__hwm"),
      tagged.filter(col("__late")).drop("__late", "__hwm"))
  }

  final case class SortBuffer(events: Seq[Event])

  /** Keyed event-time sorted emit (reference StreamExecTemporalSort /
    * RowTimeSortOperator): buffer events in keyed state and release
    * them in timestamp order once the watermark passes them — late
    * reordering is corrected up to the watermark delay. Emitted rows
    * are in event-time order per key across micro-batches.
    */
  def temporalSort(events: Dataset[Event], watermarkDelay: String): Dataset[Event] = {
    import events.sparkSession.implicits._
    // a watermark delay gives EventTimeTimeout: a key with no new data
    // is still revisited when the watermark passes its buffered events
    perUser[SortBuffer, Event](events, Some(watermarkDelay)) { (_, rows, prior, wm) =>
      val sorted = (prior.map(_.events).getOrElse(Seq.empty) ++ rows).sorted(eventOrder)
      val (ripe, young) = sorted.partition(_.ts.getTime <= wm.get)
      // wake when the watermark reaches the earliest buffered event
      Keyed(Some(SortBuffer(young)).filter(_.events.nonEmpty), ripe, young.headOption.map(_.ts.getTime))
    }
  }

  /** Async I/O analog (reference AsyncDataStream): per-partition
    * concurrent lookups with bounded in-flight futures; results keep
    * partition order. The `lookup` callback runs on the executor.
    */
  def asyncMapPartitions[T, U](
      ds: Dataset[T],
      parallelism: Int
  )(lookup: T => U)(implicit enc: org.apache.spark.sql.Encoder[U]): Dataset[U] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    ds.mapPartitions { rows =>
      val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism,
        new com.google.common.util.concurrent.ThreadFactoryBuilder()
          .setNameFormat("graft-async-lookup-%d").setDaemon(true).build())
      // the task's end, not the iterator's, ends the pool: a consumer
      // that stops early (limit) or a lookup that throws never drains it
      org.apache.spark.TaskContext.get().addTaskCompletionListener[Unit](_ => pool.shutdownNow())
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      rows
        .grouped(parallelism * 4)
        .flatMap { batch =>
          val futs = batch.map(t => Future(lookup(t)))
          futs.map(f => Await.result(f, Duration.Inf))
        }
    }
  }
}
