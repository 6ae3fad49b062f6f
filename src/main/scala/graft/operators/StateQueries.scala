package graft.operators

import graft.{QueryDef, QueryModule}
import graft.streaming.{StreamingOps, Tws}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Queryable state, Spark-first: the reference exposes live operator
  * state to external readers (reference `KeyedStream.java:1031-1070`
  * + the `flink-queryable-state/` client/server stack — a KV lookup
  * service bolted onto the state backend). Spark's idiomatic
  * equivalent is the State Data Source Reader: every stateful
  * streaming operator's store is already a durable, versioned KV
  * snapshot under the checkpoint, and `spark.read.format("statestore")`
  * reads any (operatorId, batchId, storeName) of it as a DataFrame —
  * no serving layer, and the query side composes with the whole
  * relational surface instead of a point-lookup RPC API.
  *
  * Scale shape: the state read is planned one partition per state
  * store shard (the shuffle partitioning of the stateful operator), so
  * a 1000-executor cluster reads a 1000-shard store with no
  * repartition; filters on the key prune inside each shard.
  *
  * q_state_queryable runs a real streaming aggregation over the events
  * table (file stream source → update-mode agg → checkpoint), then
  * answers the query FROM THE STORE ALONE — the oracle is the same
  * aggregation stated in batch SQL, so hash-equality proves the
  * externally-read state is exactly the aggregation state.
  */
object StateQueries extends QueryModule {

  /** Streaming per-user aggregation whose only output is its state
    * store; returns the checkpoint location.
    */
  private def runAggToState(s: SparkSession, dir: String): String = {
    val path = s"$dir/events.parquet"
    val agg = StreamingOps.replaySource(s, path, s.read.parquet(path).schema)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value")).as("v_sum"))
    StreamingOps.runToEnd(
      s, agg.writeStream.outputMode("update").format("noop"), "state")
  }

  /** Read the aggregation's state store as a table. Key/value struct
    * field order follows the agg declaration (grouping key, then the
    * aggregate buffer columns), so the projection is positional — the
    * internal buffer column NAMES are not part of the contract.
    *
    * Determinism note: v_sum is a STREAMING sum — the accumulation
    * order is the micro-batch/shard arrival order and cannot be
    * sort-folded the way the batch queries' doubles are (the state
    * buffer is fold-as-you-go by construction). The 4dp round is the
    * accepted tolerance: events.value carries ≤2 fractional digits, so
    * a half-boundary landing exactly at 1e-4 would require a
    * pathological ulp cascade the planted data cannot produce.
    */
  def readAggState(s: SparkSession, ckpt: String): DataFrame = {
    val state = s.read.format("statestore").load(ckpt)
    val flat = state.select(col("key.*"), col("value.*"))
    val c = flat.columns
    flat.select(
      col(c(0)).as("user_id"),
      col(c(1)).cast("long").as("n_events"),
      round(col(c(2)).cast("double"), 4).as("v_sum"))
  }

  /** Arbitrary stateful processing on the state API v2
    * (`transformWithState` — see streaming/Tws.scala): the events
    * stream grouped by user runs through a StatefulProcessor holding a
    * ValueState counter, a MapState of per-type counts and a ValueState
    * running max; the last emitted update per key must equal the batch
    * aggregation, which is the oracle.
    */
  private def runTwsProfile(s: SparkSession, dir: String): DataFrame =
    Tws.withRocksDb(s) {
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val path = s"$dir/events.parquet"
      // the query starts INSIDE withRocksDb, so its checkpoint records
      // the RocksDB provider
      val src = StreamingOps.replaySource(s, path, s.read.parquet(path).schema)
        .select(col("user_id"), col("event_type"), col("value"))
        .as[Tws.TwsEvent]
      val out = src.groupByKey(_.user_id)
        .transformWithState(
          new Tws.KeyedProfileProcessor,
          TimeMode.None(),
          OutputMode.Update())
      // update-mode sink appends one profile per key per microbatch;
      // n_events grows monotonically, so max(struct) is the final one
      StreamingOps.replayToMemory(out.toDF(), "tws_profile") {
        _.groupBy(col("user_id"))
          .agg(max(struct(col("n_events"), col("n_types"), col("v_max"))).as("p"))
          .select(col("user_id"), col("p.n_events").as("n_events"),
            col("p.n_types").as("n_types"), col("p.v_max").as("v_max"))
      }
    }

  def defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_state_queryable",
      (s, dir) => readAggState(s, runAggToState(s, dir)),
      Some("""
        SELECT user_id, count(*) AS n_events,
               round(sum(value), 4) AS v_sum
        FROM events GROUP BY user_id
      """)
    ),
    QueryDef(
      "q_tws_keyed_profile",
      runTwsProfile,
      Some("""
        SELECT user_id, count(*) AS n_events,
               count(DISTINCT event_type) AS n_types,
               max(value) AS v_max
        FROM events GROUP BY user_id
      """)
    )
  )
}
