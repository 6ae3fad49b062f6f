package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

import java.sql.Timestamp

/** §2.9 streaming operators on Structured Streaming.
  *
  * Reference surface → Spark mapping (SURVEY.md §2.9):
  *  - WatermarkStrategy.bounded-out-of-orderness → withWatermark
  *  - tumble/hop/session window aggs (StreamExecWindowAggregate,
  *    SliceAssigners) → window()/session_window() group-bys
  *  - StreamExecDeduplicate keep-first → dropDuplicates within
  *    watermark
  *  - StreamExecIntervalJoin / StreamExecJoin inner/left/right/full →
  *    `intervalJoin`, a stream-stream join with a watermarked
  *    time-range condition
  *  - StreamExecRank / AppendOnlyTopNFunction (streaming Top-N) and
  *    KeyedProcessFunction + timers → flatMapGroupsWithState
  *
  * These combinators take unbounded Datasets (from readStream) and
  * return transformed streaming Datasets; callers attach sinks. All
  * state is keyed state in the state store — nothing driver-side — so
  * a 1000-executor cluster partitions it by key exactly like any
  * shuffle.
  *
  * The oracle-checked stateful queries replay a parquet table through
  * them with one bounded-replay path: `replaySource` (file stream on
  * the state-pinned session), `runToEnd` (fresh checkpoint, drain,
  * stop) and, for update-mode results, `replayToMemory`.
  */
object StreamingOps {

  /** A cloned session (same SparkContext, isolated SQL conf) whose
    * shuffle-partition count is pinned to the streaming STATE partition
    * count. Build the streaming source AND start the query on the
    * returned session; the parent session's conf is never touched, so
    * concurrent batch queries on the parent can never inherit the pin —
    * isolation by construction, not by a single-caller convention (the
    * previous conf-mutate-and-restore version only serialized other
    * callers of itself).
    *
    * Stateful streaming cost is dominated by state-store commits —
    * per micro-batch, EVERY state partition writes + renames a delta
    * file per store instance (a symmetric hash join keeps 4 stores per
    * side pair), regardless of how few rows it holds. The partition
    * count is baked into the checkpoint at first start, so it is a
    * per-query deployment knob, NOT the job-wide CPU default: size it
    * to state volume the way the reference sizes a stateful operator's
    * parallelism independently of the job parallelism. Default 2: the
    * sf0.1 stream-stream joins hold ~40k rows of state, which 2 shards
    * carry comfortably. Measured on the sf0.1 replay, identical results
    * at every count: 32 shards → 11–17 s, 8 → ~3.5 s; then min-of-3 of
    * the left/right/full joins in one host window: 8 → 3.46/3.35/4.11 s,
    * 2 → 2.68/2.50/3.07 s, 1 → no further gain (2.60/2.57/3.16 s) — the
    * knee is 2. A real deployment raises
    * `spark.graft.stream.statePartitions` with state volume, not with
    * CPU count.
    *
    * NOTE: `newSession()` starts from the SparkContext conf, not the
    * parent's runtime mutations (e.g. the RocksDB provider pinned by
    * `Tws.withRocksDb`), so the parent's runtime conf is re-synced into
    * the clone on every call; static confs (unchangeable per-session on
    * a shared context, so already equal) are skipped, any OTHER copy
    * failure is logged — a silently dropped dynamic conf like the
    * provider pin would run the query on the wrong state store with no
    * signal. Memory-sink tables registered by a query started on the
    * pinned session are session-scoped: read them back through the SAME
    * returned session.
    *
    * ONE clone is memoized per parent session (weak key — the clone
    * does not reference the parent, so the entry dies with it): each
    * clone lazily registers a StreamingQueryListenerBus on the shared
    * LiveListenerBus that is never unregistered, so a fresh clone per
    * invocation on a long-lived session would accumulate listeners and
    * pinned sessions linearly. Re-syncing the conf each call keeps the
    * cached clone tracking later parent mutations AND un-sets (e.g.
    * withRocksDb restoring the provider after its body).
    */
  private val pinnedClones =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      org.apache.spark.sql.SparkSession]()
  /** Test hook: the monitor the reconciliation holds, so a spec's
    * writer can make parent-conf pair-updates atomic with respect to
    * the sync (StatePinnedConcurrencySpec).
    */
  private[graft] def confLock: AnyRef = pinnedClones
  private val staticConfKeys =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def statePinnedSession(
      s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    // The WHOLE lookup + conf reconciliation runs under the lock: the
    // memoized clone is shared per parent, so two concurrent callers
    // interleaving unset/set on it could hand one of them a
    // half-synced conf to start a stream on (the fresh-clone-per-call
    // design this memoization replaced had no such race). The lock is
    // global rather than per-parent — reconciliation is a handful of
    // conf map ops on a per-stream-setup path, never hot.
    pinnedClones.synchronized {
      val pinned = Option(pinnedClones.get(s)).getOrElse {
        val p = s.newSession(); pinnedClones.put(s, p); p
      }
      val parent = s.conf.getAll
      // keys the parent has since unset must leave the clone too — a
      // stale provider pin would silently outlive its withRocksDb scope
      pinned.conf.getAll.keysIterator
        .filterNot(parent.contains)
        .filterNot(staticConfKeys.contains)
        .foreach { k =>
          try pinned.conf.unset(k)
          catch {
            case _: org.apache.spark.sql.AnalysisException =>
              // static conf — per-session unset rejected by design
              staticConfKeys.add(k)
            case scala.util.control.NonFatal(e) =>
              // transient failure on a DYNAMIC key must not blacklist
              // it from every future sync — log and retry next call
              System.err.println(
                s"[graft] statePinnedSession: could not unset conf $k: ${e.getMessage}")
          }
        }
      parent.foreach { case (k, v) =>
        if (!staticConfKeys.contains(k) && !pinned.conf.getOption(k).contains(v)) {
          try pinned.conf.set(k, v)
          catch {
            case _: org.apache.spark.sql.AnalysisException =>
              // static conf — per-session set is rejected by design and
              // the clone already holds the same context-level value
              staticConfKeys.add(k)
            case scala.util.control.NonFatal(e) =>
              System.err.println(
                s"[graft] statePinnedSession: could not sync conf $k: ${e.getMessage}")
          }
        }
      }
      pinned.conf.set("spark.sql.shuffle.partitions",
        s.conf.getOption("spark.graft.stream.statePartitions").getOrElse("2"))
      pinned
    }

  /** Bounded replay, the source: the file stream of one parquet table
    * at `path`, built on the state-pinned session so the stateful query
    * plans with state-volume-sized partitions. `schema` is the table's
    * batch schema: a join replay reads the table once for both the
    * schema and its batch-side horizon. The file source monitors a
    * directory, so a single file is exposed through a symlinked temp
    * dir under its own name. Called inside `Tws.withRocksDb`, the clone
    * inherits the provider pin.
    */
  def replaySource(s: SparkSession, path: String, schema: StructType): DataFrame = {
    val f = new java.io.File(path)
    val dir =
      if (f.isDirectory) path
      else {
        val d = graft.TempPaths.dir("graft_replay_src")
        java.nio.file.Files.createSymbolicLink(d.resolve(f.getName), f.toPath)
        d.toString
      }
    statePinnedSession(s).readStream.schema(schema).parquet(dir)
  }

  /** Bounded replay, the run: start `writer` on a fresh checkpoint,
    * drain every available input, stop. Returns the checkpoint dir.
    * This is the one place a replay's micro-batches and state commits
    * happen.
    */
  def runToEnd(writer: DataStreamWriter[Row], name: String): String = {
    val ckpt = graft.TempPaths.dir(s"graft_${name}_ckpt").toString
    val q = writer.option("checkpointLocation", ckpt).start()
    try q.processAllAvailable()
    finally q.stop()
    ckpt
  }

  /** Bounded replay into an update-mode memory sink: `finish` reads the
    * sink table, its result is materialized with `localCheckpoint`, and
    * the table is dropped even when the run or `finish` throws, so a
    * long-lived session never keeps one sink table per call. The sink
    * table is session-scoped: it is read through the session `out` runs
    * on (the state-pinned clone for a `replaySource` stream).
    */
  def replayToMemory(out: DataFrame, name: String)(finish: DataFrame => DataFrame): DataFrame = {
    val ps = out.sparkSession
    val sink = s"${name}_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    try {
      runToEnd(out.writeStream.outputMode("update").format("memory").queryName(sink), name)
      finish(ps.table(sink)).localCheckpoint()
    } finally ps.catalog.dropTempView(sink)
  }

  final case class Event(
      event_id: Long,
      ts: Timestamp,
      user_id: Long,
      event_type: String,
      value: Double
  )

  /** Tumbling-window counts with bounded-out-of-orderness watermark. */
  def windowedCounts(
      events: DataFrame,
      watermark: String = "10 minutes",
      window_ : String = "1 hour"
  ): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
      .select(
        col("window.start").as("wstart"),
        col("event_type"),
        col("n"),
        col("sv")
      )

  /** Session windows (30m gap) per user. */
  def sessionized(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(
        col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("user_id"),
        col("n")
      )

  /** Keep-first deduplication by (user_id, event_type) with watermark-
    * bounded state (reference StreamExecDeduplicate keep-first).
    */
  def dedupeKeepFirst(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Stream-stream interval join (reference TimeIntervalJoin,
    * StreamExecJoin.java:61): a purchase pairs with a signup of the
    * same user when it falls within 30 minutes at-or-after it. Both
    * sides are watermarked, so join state is evicted. `joinType` is
    * any of Spark's `inner`, `leftOuter`, `rightOuter`, `fullOuter`.
    * Matched pairs emit eagerly; an unmatched row of a kept side emits
    * ONCE, null-extended, when the watermark passes its eviction
    * horizon, the point where no counterpart can still arrive:
    *  - a signup at wm > s_ts + 30min (the join window);
    *  - a purchase at wm > p_ts (it only matches signups at-or-before
    *    it, so there is no window term).
    * Rows within (horizon + watermark delay) of a bounded stream's end
    * therefore stay in state unemitted; batch-parity consumers cut
    * both engines at one horizon (see q_join_stream_stream_left).
    */
  def intervalJoin(
      signups: DataFrame,
      purchases: DataFrame,
      joinType: String = "inner",
      watermark: String = "10 minutes"
  ): DataFrame = {
    val s = signups
      .withWatermark("ts", watermark)
      .select(
        col("user_id").as("s_user"),
        col("ts").as("s_ts"),
        col("event_id").as("s_id")
      )
    val p = purchases
      .withWatermark("ts", watermark)
      .select(
        col("user_id").as("p_user"),
        col("ts").as("p_ts"),
        col("event_id").as("p_id"),
        col("value").as("p_value")
      )
    s.join(
      p,
      col("s_user") === col("p_user") &&
        col("p_ts") >= col("s_ts") &&
        col("p_ts") <= col("s_ts") + expr("INTERVAL 30 MINUTES"),
      joinType
    )
  }

  final case class CountWinState(batch_id: Long, n: Long, sum: Double)
  final case class CountWin(user_id: Long, batch_id: Long, n: Long, sv: Double)

  /** Count-trigger window (reference KeyedStream.countWindow /
    * windowing/triggers/CountTrigger.java): per key, the trigger fires
    * and emits exactly when the `size`-th event arrives; the partial
    * window stays in O(1) keyed state across micro-batches (an
    * unbounded stream never flushes a partial — same as the
    * reference's purging count trigger). Output rows match the batch
    * count-window query's full windows (q_count_window with n = size).
    */
  def countTriggerWindow(events: Dataset[Event], size: Int): Dataset[CountWin] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[Event], state: GroupState[CountWinState]) =>
          var st = state.getOption.getOrElse(CountWinState(0L, 0L, 0.0))
          val out = Seq.newBuilder[CountWin]
          rows.toSeq
            .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
            .foreach { e =>
              st = CountWinState(st.batch_id, st.n + 1, st.sum + e.value)
              if (st.n == size) {
                out += CountWin(key, st.batch_id, size.toLong, st.sum)
                st = CountWinState(st.batch_id + 1, 0L, 0.0)
              }
            }
          state.update(st)
          out.result().iterator
      }
  }

  final case class DeltaWinState(
      has_base: Boolean, base: Double, n: Long, sum: Double, fires: Long)
  final case class DeltaWin(user_id: Long, trigger_id: Long, n: Long, sv: Double, fire_value: Double)

  /** Delta trigger (reference windowing/triggers/DeltaTrigger.java):
    * the window fires for a key when the current element's value
    * drifts more than `threshold` from the value that fired the last
    * window (the DeltaFunction here is |a - b|). The accumulating
    * window (count, sum) and the last fire value are O(1) keyed state
    * across micro-batches; the partial window after the last fire
    * never emits, like any purging trigger on an unbounded stream.
    */
  def deltaTriggerWindow(events: Dataset[Event], threshold: Double): Dataset[DeltaWin] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[Event], state: GroupState[DeltaWinState]) =>
          var st = state.getOption.getOrElse(DeltaWinState(false, 0.0, 0L, 0.0, 0L))
          val out = Seq.newBuilder[DeltaWin]
          rows.toSeq
            .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
            .foreach { e =>
              st = st.copy(n = st.n + 1, sum = st.sum + e.value)
              if (!st.has_base) {
                // first element establishes the baseline (the
                // reference seeds the delta function with the first
                // element, which cannot fire)
                st = DeltaWinState(true, e.value, st.n, st.sum, st.fires)
              } else if (math.abs(e.value - st.base) > threshold) {
                out += DeltaWin(key, st.fires, st.n, st.sum, e.value)
                st = DeltaWinState(true, e.value, 0L, 0.0, st.fires + 1)
              }
            }
          state.update(st)
          out.result().iterator
      }
  }

  final case class TopNState(top: Seq[(Double, Long)])
  final case class TopNOut(user_id: Long, rank: Int, event_id: Long, value: Double)

  /** Streaming per-key Top-N with bounded keyed state — the
    * AppendOnlyTopNFunction analog: each key keeps only its current
    * top-N (value, event_id) pairs and emits the refreshed ranking
    * when it changes.
    */
  def streamingTopN(
      events: Dataset[Event],
      n: Int
  ): Dataset[TopNOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append,
        GroupStateTimeout.NoTimeout
      ) { (user: Long, rows: Iterator[Event], state: GroupState[TopNState]) =>
        val prev = state.getOption.map(_.top).getOrElse(Seq.empty)
        val merged = (prev ++ rows.map(e => (e.value, e.event_id)))
          .sortBy { case (v, id) => (-v, id) }
          .take(n)
        if (merged != prev) {
          state.update(TopNState(merged))
          merged.zipWithIndex.iterator.map { case ((v, id), i) =>
            TopNOut(user, i + 1, id, v)
          }
        } else Iterator.empty
      }
  }

  final case class IdleState(lastSeen: Long, count: Long)
  final case class IdleAlert(user_id: Long, events_seen: Long)

  /** Keyed process function with processing-time timer (reference
    * KeyedProcessFunction + timers): emit an alert when a user goes
    * idle for `idleMs`.
    */
  def idleAlerts(events: Dataset[Event], idleMs: Long): Dataset[IdleAlert] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append,
        GroupStateTimeout.ProcessingTimeTimeout
      ) { (user: Long, rows: Iterator[Event], state: GroupState[IdleState]) =>
        if (state.hasTimedOut) {
          val st = state.get
          state.remove()
          Iterator.single(IdleAlert(user, st.count))
        } else {
          val prev = state.getOption.map(_.count).getOrElse(0L)
          val n = prev + rows.size
          state.update(IdleState(System.currentTimeMillis(), n))
          state.setTimeoutDuration(idleMs)
          Iterator.empty
        }
      }
  }
}
