package graft.streaming

import graft.streaming.StreamingOps.{Event, Keyed, eventOrder, perUser}
import org.apache.spark.sql.Dataset

/** Window evictors (reference flink-streaming-java/.../windowing/
  * evictors/{CountEvictor,TimeEvictor}.java): remove elements from a
  * buffered window before the window function evaluates. Spark's
  * built-in window aggregation is incremental (no buffer to evict), so
  * evicting windows buffer their elements in keyed state (the driver
  * [[StreamingOps.perUser]]) and emit when the watermark closes the
  * window — the same evict-before-apply contract as the reference's
  * EvictingWindowOperator.
  *
  * The evictor functions are pure and shared by the batch oracle
  * queries (EvictorQueries expresses the identical semantics through
  * ranking/max window functions, which is what the DuckDB oracle
  * checks) and the streaming operator below.
  */
object Evictors {

  /** CountEvictor.of(n): keep only the last `keep` elements of the
    * window, in event-time order.
    */
  def evictCount(events: Seq[Event], keep: Int): Seq[Event] =
    events.sorted(eventOrder).takeRight(keep)

  /** TimeEvictor.of(t): keep only elements within `keepMs` of the
    * window's max timestamp.
    */
  def evictTime(events: Seq[Event], keepMs: Long): Seq[Event] = {
    if (events.isEmpty) events
    else {
      val mx = events.map(_.ts.getTime).max
      events.filter(_.ts.getTime >= mx - keepMs)
    }
  }

  /** DeltaEvictor.of(threshold, delta): evict elements whose delta
    * against the window's LAST element (event-time order) reaches the
    * threshold; the delta function here is |a - b| over `value`.
    */
  def evictDelta(events: Seq[Event], threshold: Double): Seq[Event] = {
    if (events.isEmpty) events
    else {
      val last = events.max(eventOrder).value
      events.filter(e => math.abs(e.value - last) < threshold)
    }
  }

  final case class EvictBuf(events: Seq[Event])
  final case class EvictWinOut(user_id: Long, win_start: Long, n_kept: Long, sv: Double)

  /** Tumbling event-time windows per key whose elements are buffered,
    * evicted, then aggregated when the watermark passes the window end.
    * State per key is bounded by the window width plus watermark delay.
    */
  def evictedTumblingAggregate(
      events: Dataset[Event],
      windowMs: Long,
      watermarkDelay: String,
      evict: Seq[Event] => Seq[Event]
  ): Dataset[EvictWinOut] = {
    import events.sparkSession.implicits._
    perUser[EvictBuf, EvictWinOut](events, Some(watermarkDelay)) { (key, rows, prior, wm) =>
      val windowEnd = (e: Event) => (e.ts.getTime / windowMs + 1) * windowMs
      val (closed, open) =
        (prior.map(_.events).getOrElse(Seq.empty) ++ rows).partition(windowEnd(_) <= wm.get)
      val out = closed
        .groupBy(e => e.ts.getTime / windowMs * windowMs)
        .toSeq
        .sortBy(_._1)
        .map { case (winStart, evs) =>
          val kept = evict(evs)
          EvictWinOut(key, winStart / 1000L, kept.size.toLong,
            math.rint(kept.map(_.value).sum * 10000) / 10000)
        }
      // wake when the watermark can close the earliest open window
      Keyed(Some(EvictBuf(open)).filter(_.events.nonEmpty), out, open.map(windowEnd).minOption)
    }
  }
}
