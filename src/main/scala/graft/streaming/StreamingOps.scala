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
  * them with one bounded-replay path: `replaySource` (the table's file
  * stream), `runToEnd` (fresh checkpoint, state partitions pinned
  * around `start()`, drain, stop) and, for update-mode results,
  * `replayToMemory`.
  */
object StreamingOps {

  /** State partitions of every bounded replay. The count is recorded
    * in the checkpoint at the query's first start, so it is a per-query
    * setting sized to state volume, not the job-wide CPU default (the
    * reference sets a keyed operator's parallelism on the operator
    * itself). Stateful streaming cost is dominated by state-store
    * commits: per micro-batch, EVERY state partition writes and renames
    * a delta file per store instance (a symmetric hash join keeps 4
    * stores per side pair), however few rows it holds. The sf0.1
    * stream-stream joins hold ~40k rows of state, which 2 shards carry
    * comfortably. Measured on the sf0.1 replay, identical results at
    * every count: 32 shards → 11–17 s, 8 → ~3.5 s; then min-of-3 of the
    * left/right/full joins in one host window: 8 → 3.46/3.35/4.11 s,
    * 2 → 2.68/2.50/3.07 s, 1 → no further gain (2.60/2.57/3.16 s). The
    * knee is 2.
    */
  private val StatePartitions = 2

  /** Bounded replay, the source: the file stream of one parquet table
    * at `path` on `s`. `schema` is the table's batch schema: a join
    * replay reads the table once for both the schema and its batch-side
    * horizon. The file source monitors a directory, so a single file is
    * exposed through a symlinked temp dir under its own name.
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
    s.readStream.schema(schema).parquet(dir)
  }

  /** Bounded replay, the run: start `writer` on a fresh checkpoint,
    * drain every available input, stop. Returns the checkpoint dir.
    * This is the one place a replay's micro-batches and state commits
    * happen.
    *
    * The query starts with `spark.sql.shuffle.partitions` scoped to
    * `StatePartitions` on `s` around `start()` only: the stream clones
    * its own session inside `start()` and the checkpoint records the
    * count (and the state-store provider, e.g. `Tws.withRocksDb`'s) at
    * the first batch, so the batches keep it after the scope has
    * restored `s`. While `start()` runs the scope is session-global, so
    * a query started concurrently on `s` would plan with it too. No
    * caller does that: the mains and the benchmark run one query at a
    * time, and the replays are their only streaming queries.
    */
  def runToEnd(s: SparkSession, writer: DataStreamWriter[Row], name: String): String = {
    val ckpt = graft.TempPaths.dir(s"graft_${name}_ckpt").toString
    val q = graft.Engine.withConf(s, "spark.sql.shuffle.partitions" -> StatePartitions.toString) {
      writer.option("checkpointLocation", ckpt).start()
    }
    try q.processAllAvailable()
    finally q.stop()
    ckpt
  }

  /** Bounded replay into an update-mode memory sink: `finish` reads the
    * sink table, its result is materialized with `localCheckpoint`, and
    * the table is dropped even when the run or `finish` throws, so a
    * long-lived session never keeps one sink table per call. The sink
    * is a temp view on the session `out` was built on, so it is read
    * and dropped there.
    */
  def replayToMemory(out: DataFrame, name: String)(finish: DataFrame => DataFrame): DataFrame = {
    val s = out.sparkSession
    val sink = s"${name}_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    try {
      runToEnd(s, out.writeStream.outputMode("update").format("memory").queryName(sink), name)
      finish(s.table(sink)).localCheckpoint()
    } finally s.catalog.dropTempView(sink)
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
}
