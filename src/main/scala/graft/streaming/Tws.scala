package graft.streaming

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming._

/** Keyed process functions on Spark's arbitrary-state API v2
  * (`transformWithState`, Spark 4) — the modern face of the reference's
  * KeyedProcessFunction (flink-streaming-java
  * .../functions/KeyedProcessFunction.java:38-70: open() state
  * registration, processElement, onTimer) beside the v1 keyed-state
  * driver, StreamingOps.perUser. The v2 API
  * maps the reference's state/timer model 1:1 — named ValueState /
  * ListState / MapState registered per processor (vs one opaque state
  * object in GroupState), per-key event-time timers with an explicit
  * onTimer callback, and optional per-state TTL — and requires the
  * RocksDB state store provider, the same backend class the reference
  * runs in production.
  *
  * Scale shape: state lives in per-shuffle-partition RocksDB instances
  * keyed by the grouping key — a 1000-executor cluster holds 1000
  * store shards with no driver involvement; timers are stored and
  * fired shard-locally.
  */
object Tws {

  final case class TwsEvent(user_id: Long, event_type: String, value: Double)
  final case class TwsProfile(
      user_id: Long, n_events: Long, n_types: Long, v_max: Double)

  /** Per-key profile over three state kinds: event count (ValueState),
    * per-type counts (MapState — its key count is the exact distinct),
    * running max (ValueState). Emits the updated profile once per key
    * per microbatch, so the last update per key equals the batch
    * aggregate — which is the DuckDB oracle for q_tws_keyed_profile.
    */
  final class KeyedProfileProcessor
      extends StatefulProcessor[Long, TwsEvent, TwsProfile] {
    @transient private var nEvents: ValueState[Long] = _
    @transient private var vMax: ValueState[Double] = _
    @transient private var typeCounts: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      nEvents = getHandle.getValueState(
        "n_events", Encoders.scalaLong, TTLConfig.NONE)
      vMax = getHandle.getValueState(
        "v_max", Encoders.scalaDouble, TTLConfig.NONE)
      typeCounts = getHandle.getMapState(
        "type_counts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(
        key: Long,
        rows: Iterator[TwsEvent],
        timerValues: TimerValues): Iterator[TwsProfile] = {
      var n = if (nEvents.exists()) nEvents.get() else 0L
      var m = if (vMax.exists()) vMax.get() else Double.NegativeInfinity
      rows.foreach { e =>
        n += 1
        if (e.value > m) m = e.value
        val c =
          if (typeCounts.containsKey(e.event_type))
            typeCounts.getValue(e.event_type)
          else 0L
        typeCounts.updateValue(e.event_type, c + 1L)
      }
      nEvents.update(n)
      vMax.update(m)
      Iterator.single(TwsProfile(key, n, typeCounts.keys().size, m))
    }
  }

  final case class TimedEvent(
      user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionClose(
      user_id: Long, n_events: Long, v_sum: Double, closed_at_ms: Long)

  /** Gap sessionizer on event-time timers: every input batch re-arms
    * the key's single timer at (latest event time + gap); when the
    * watermark passes it, onTimer emits the session summary and clears
    * the key's state — the reference's canonical
    * KeyedProcessFunction-with-timers example. The session's values
    * ride a ListState (the third state kind), folded at close.
    */
  final class GapSessionProcessor(gapMs: Long)
      extends StatefulProcessor[Long, TimedEvent, SessionClose] {
    @transient private var lastMs: ValueState[Long] = _
    @transient private var values: ListState[Double] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      lastMs = getHandle.getValueState(
        "last_ms", Encoders.scalaLong, TTLConfig.NONE)
      values = getHandle.getListState(
        "values", Encoders.scalaDouble, TTLConfig.NONE)
    }

    override def handleInputRows(
        key: Long,
        rows: Iterator[TimedEvent],
        timerValues: TimerValues): Iterator[SessionClose] = {
      var last = if (lastMs.exists()) lastMs.get() else Long.MinValue
      rows.foreach { e =>
        values.appendValue(e.value)
        last = math.max(last, e.ts.getTime)
      }
      // single live timer per key: re-arm at the new gap deadline
      if (lastMs.exists()) getHandle.deleteTimer(lastMs.get() + gapMs)
      getHandle.registerTimer(last + gapMs)
      lastMs.update(last)
      Iterator.empty
    }

    override def handleExpiredTimer(
        key: Long,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionClose] = {
      var n = 0L
      var sum = 0.0
      if (values.exists()) values.get().foreach { v => n += 1; sum += v }
      val out = SessionClose(key, n, sum, expiredTimerInfo.getExpiryTimeInMs)
      values.clear(); lastMs.clear()
      Iterator.single(out)
    }
  }

  final case class SpanHit(span: String, doc_id: Long)
  final case class SpanVerdict(doc_id: Long, span_min: Long)

  /** The span-min step both processors run: fold the batch's hits
    * into the span's stored minimum, then answer every hit with it.
    */
  private def spanMinVerdicts(
      minDoc: ValueState[Long], rows: Iterator[SpanHit]): Iterator[SpanVerdict] = {
    val hits = rows.map(_.doc_id).toArray
    var m = if (minDoc.exists()) minDoc.get() else Long.MaxValue
    hits.foreach(d => if (d < m) m = d)
    minDoc.update(m)
    val canonical = m
    hits.iterator.map(d => SpanVerdict(d, canonical))
  }

  /** Online-dedup bucket state: per span (the key), the minimum doc id
    * seen so far; every arriving hit is answered with that canonical
    * id (min over history ∪ this batch, so the verdict is order-free
    * within a batch — a single-batch run equals the batch groupBy-min,
    * which is q_dedup_online's oracle). The batch's hits are buffered
    * to answer after the merged min is known; a pathologically hot
    * span (boilerplate) should be stripped upstream first — that is
    * exactly what q_boilerplate_spans exists to find.
    */
  final class SpanMinProcessor
      extends StatefulProcessor[String, SpanHit, SpanVerdict] {
    @transient private var minDoc: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      minDoc = getHandle.getValueState(
        "min_doc", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        key: String,
        rows: Iterator[SpanHit],
        timerValues: TimerValues): Iterator[SpanVerdict] =
      spanMinVerdicts(minDoc, rows)
  }

  /** [[SpanMinProcessor]] warm-started from a batch corpus: the
    * initial-state variant of the v2 API seeds each span bucket's
    * canonical id from an existing (already-deduped) corpus BEFORE the
    * first streaming batch — the online complement of the batch
    * Bloom-prefilter "dedup vs already seen" (q_dedup_bloom_prefilter).
    * The initial state is a KeyValueGroupedDataset, so seeding is a
    * distributed co-partitioned pass, not a driver upload.
    */
  final class WarmSpanMinProcessor
      extends StatefulProcessorWithInitialState[
        String, SpanHit, SpanVerdict, Long] {
    @transient private var minDoc: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      minDoc = getHandle.getValueState(
        "min_doc", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInitialState(
        key: String, initialState: Long, timerValues: TimerValues): Unit =
      minDoc.update(
        if (minDoc.exists()) math.min(minDoc.get(), initialState)
        else initialState)

    override def handleInputRows(
        key: String,
        rows: Iterator[SpanHit],
        timerValues: TimerValues): Iterator[SpanVerdict] =
      spanMinVerdicts(minDoc, rows)
  }

  /** Run `body` with the RocksDB state store provider (required by the
    * v2 API), restoring the previous provider afterwards.
    */
  def withRocksDb[T](s: org.apache.spark.sql.SparkSession)(body: => T): T =
    graft.Engine.withConf(s, "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)
}
