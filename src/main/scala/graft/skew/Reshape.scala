package graft.skew

import graft.functions.MisraGriesAgg
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.Try

/** Reshape-style adaptive skew handling, re-expressed for Spark.
  *
  * The reference (reference: flink-runtime/src/main/scala/org/apache/
  * flink/runtime/reshape/ControllerSimulator.scala:17-189 and
  * WorkerSimulator.scala:15-58) reroutes a fraction of the records
  * headed to an overloaded subtask to an underloaded helper, pairing
  * busy workers (busy ratio > hiThreshold = 0.8) with free workers
  * (< loThreshold = 0.2) every reshapeFreq = 10 s, with an aggressive
  * 90/100 reroute ratio for the first firstPhaseNum = 6 iterations
  * (README.md:14-22). Rerouting is only sound for operators whose
  * per-key state can be merged afterwards — the paper's
  * "result-aware" condition; the demo job keeps the joined static
  * table replicated so any worker can process any record
  * (JoinWithStaticExample.java:100-151).
  *
  * Spark has no per-record channel override (micro-batch planning
  * replaces in-flight rerouting), so the same control loop maps to:
  *  - batch joins: AQE skew-join splitting (enabled in Engine) — the
  *    runtime re-plan IS the reroute;
  *  - aggregations: salted two-stage aggregation (SaltedAggregation) —
  *    the salt fans a hot key across `saltFactor` reducers (the
  *    "helpers") and the second stage is the result-aware merge;
  *  - the control loop: AdaptiveSalter, one tick per micro-batch,
  *    deciding from a key sketch observed on the previous batch's own
  *    input (the controller reading its own job's per-channel input
  *    counts). Its actionability test is the parameter-free
  *    `ceil(maxShare × P) > 1`, so the busy/free thresholds have no
  *    counterpart; task metrics are collected, not acted on, by the one
  *    metrics listener (graft.metrics.Collector).
  */
object ReshapeConfig {
  /** Mirrors the reference's system property (README.md:14-22), read
    * from Spark conf with the same default.
    */
  val FirstPhaseKey = "spark.graft.reshape.firstPhaseNum"

  final case class Settings(firstPhaseNum: Int)

  def from(spark: SparkSession): Settings =
    Settings(firstPhaseNum = spark.conf.get(FirstPhaseKey, "6").toInt)
}

/** The metrics collector plus the stage filter behind the benchmark's
  * `skew.monitor_reports` count. The class exists only for `bench/`,
  * which constructs it and counts `stageReports`; it goes once a
  * benchmark change stops constructing it. Nothing in the engine reads
  * it, and `settings` is unused.
  */
final class SkewMonitor(settings: ReshapeConfig.Settings) extends graft.metrics.Collector {

  /** Stages where at least two tasks finished and the slowest took
    * more than 0 ms, by stage id.
    */
  def stageReports: Map[Int, graft.metrics.Collector.StageRow] =
    stages.filter(s => s.finishedTasks >= 2 && s.maxTaskMs > 0).map(s => s.id -> s).toMap
}

/** Per-tick salt controller — the timer loop of the reference's
  * controller (reference: ControllerSimulator.scala:52-87), re-expressed
  * for micro-batches: one `nextSalt()` call per batch plays the role of
  * one timer tick.
  *
  * Policy, mirroring the reference:
  *  - evidence is in-band: `tick` observes a Misra–Gries sketch of the
  *    batch's keys on its input, delivered by the action the batch
  *    already runs (no extra job, no other job's load). Tick N+1 reads
  *    batch N's sketch once; a failed batch, or a sketch not delivered
  *    within a few seconds, is no evidence and the salt holds;
  *  - the proportional salt is `min(aggressiveSalt, ceil(maxShare × P))`,
  *    the reducers the largest key alone fills at the session's shuffle
  *    partition count P. A tick is actionable when it is > 1: no
  *    thresholds, no dependence on AQE coalescing or task counts, and
  *    always 1 at P = 1, where no reducer can help;
  *  - the first `firstPhaseNum` actionable ticks use the aggressive
  *    salt (the 90/100 phase-1 reroute ratio analog), later ticks the
  *    proportional one (phase 2's `(in(skew)-in(helper))*100/in(skew)`);
  *  - the salt is sticky: once raised it stays for the loop's lifetime,
  *    because a balanced post-mitigation stage means the salting is
  *    working, not that the underlying key skew vanished — the analog
  *    of the reference's routing tables persisting in the workers
  *    (WorkerSimulator.assignRouting).
  *
  * `monitor` is unused; it stays so existing callers keep compiling.
  */
final class AdaptiveSalter(
    monitor: SkewMonitor,
    settings: ReshapeConfig.Settings,
    aggressiveSalt: Int = 32
) {
  private var salt: Int = 1
  private var skewTicks: Int = 0
  /** The last completed batch's key sketch and shuffle partition count. */
  private var evidence: Option[(Observation, Int)] = None
  private val history = scala.collection.mutable.ArrayBuffer.empty[Int]

  /** Salt decisions made so far, one per `nextSalt()` call. */
  def saltHistory: Seq[Int] = synchronized(history.toSeq)

  /** Decide the salt for the next batch from the previous batch's
    * evidence, if any.
    */
  def nextSalt(): Int = synchronized {
    for ((obs, partitions) <- evidence; share <- AdaptiveSalter.maxShare(obs)) {
      val proportional = math.min(aggressiveSalt, math.ceil(share * partitions).toInt)
      if (proportional > 1) {
        skewTicks += 1
        val next = if (skewTicks <= settings.firstPhaseNum) aggressiveSalt else proportional
        salt = math.max(salt, next)
      }
    }
    evidence = None
    history += salt
    salt
  }

  /** One tick for one micro-batch: decide its salt, then run `act` on
    * the batch with the batch's key sketch attached. The sketch becomes
    * the next tick's evidence only if `act` returns; `act` must run an
    * action on the plan it is given, or the next tick waits out the
    * delivery timeout.
    */
  private[skew] def tick(batch: DataFrame, key: Seq[String])(act: (DataFrame, Int) => Unit): Unit = {
    val decided = nextSalt()
    val obs = Observation()
    act(batch.observe(obs, AdaptiveSalter.keySketch(key)), decided)
    val partitions = batch.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    synchronized { evidence = Some((obs, partitions)) }
  }
}

object AdaptiveSalter {
  /** The sketch undercounts by at most n/64, well below 1/32 of n. */
  private val SketchCapacity = 64
  /** The batch's action has finished; only the delivery is async. */
  private val EvidenceWait = 5.seconds
  /** Built once: `udaf` derives the input encoder by reflection. */
  private val Sketch = udaf(new MisraGriesAgg(SketchCapacity))

  /** A Misra–Gries sketch of the key, as one non-null string column. */
  private def keySketch(key: Seq[String]): Column = Sketch(
    concat_ws("\u0001", key.map(k => coalesce(col(k).cast("string"), lit("\u0000"))): _*)
  ).as("keys")

  /** The largest key's share of the batch; None for an empty batch or
    * when the sketch does not arrive in time.
    */
  private def maxShare(obs: Observation): Option[Double] = Try {
    val sketch = Await.result(obs.future, EvidenceWait).getStruct(0)
    val (total, counts) = (sketch.getLong(0), sketch.getMap[String, Long](1))
    Option.when(total > 0 && counts.nonEmpty)(counts.values.max.toDouble / total)
  }.toOption.flatten
}

/** The closed loop: a Structured Streaming aggregation whose salt
  * factor is re-decided every micro-batch — observe (the batch's key
  * sketch) → decide (AdaptiveSalter) → act (SaltedAggregation), the
  * full Reshape control cycle across batches.
  */
object AdaptiveReshape {

  /** A foreachBatch body that re-salts each micro-batch with the
    * controller's current decision. `onResult` receives the *merged*
    * (post-second-stage) aggregate for the batch plus the salt used,
    * and owns delivery (upsert sink, memory table, …); it must run an
    * action on the aggregate, which also delivers the key sketch.
    */
  def foreachBatchBody(
      key: Seq[String],
      spec: SaltedAggregation.Spec,
      salter: AdaptiveSalter
  )(onResult: (DataFrame, Long, Int) => Unit): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      salter.tick(batch, key) { (in, salt) =>
        onResult(SaltedAggregation.aggregate(in, key, spec, salt), batchId, salt)
      }
  }

  /** The same closed loop for the join path: each micro-batch of the
    * fact stream joins the dim with the controller's current salt —
    * the streaming stand-in for AQE's runtime skew split, which is
    * unavailable inside a streaming query. With salt 1 the join is a
    * plain equi-join (zero replication cost until skew is observed).
    */
  def foreachBatchJoinBody(
      dim: DataFrame,
      key: Seq[String],
      salter: AdaptiveSalter
  )(onResult: (DataFrame, Long, Int) => Unit): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      salter.tick(batch, key) { (in, salt) =>
        onResult(SaltedJoin.join(in, dim, key, salt), batchId, salt)
      }
  }
}

/** Salted skew join — the manual replicate-and-salt mitigation for a
  * skewed equi-join, for the cases AQE's runtime skew split cannot
  * reach (streaming joins, or when the build side must stay
  * partitioned). The fact side gets a deterministic per-row salt; the
  * dim side is replicated `saltFactor` times so every (key, salt)
  * bucket finds its match. Results are identical to the unsalted join
  * (the reference's result-awareness invariant), the hot key's rows
  * just land on `saltFactor` reducers instead of one.
  *
  * Cost model: dim-side rows are duplicated saltFactor times — the
  * right mitigation when dim << fact (the reference's
  * join-with-static shape, JoinWithStaticExample.java:100-151), wrong
  * for fact-fact joins (use AQE skew split there).
  */
object SaltedJoin {

  /** A deterministic per-row salt in [0, n): the row hash's bucket among
    * 1024, mod n. The salts are array literals, which generated code holds
    * by reference, so a new factor reuses the stages compiled for the last
    * one; an inlined `lit(n)` would compile every stage of the plan again.
    */
  private[skew] def salt(df: DataFrame, n: Int): Column = element_at(
    typedLit(Array.tabulate(1024)(_ % n)), pmod(hash(df.columns.map(col).toSeq: _*), lit(1024)) + 1)

  def join(
      fact: DataFrame,
      dim: DataFrame,
      key: Seq[String],
      saltFactor: Int
  ): DataFrame = {
    require(saltFactor >= 1)
    val saltedFact = fact.withColumn("__salt", salt(fact, saltFactor))
    val replicatedDim = dim.withColumn("__salt", explode(typedLit(Array.range(0, saltFactor))))
    saltedFact
      .join(replicatedDim, key :+ "__salt")
      .drop("__salt")
  }
}

/** Salted two-stage aggregation — the result-aware reroute analog.
  *
  * Stage 1 groups by (key, salt) so a hot key's records spread over
  * `saltFactor` reducers (the helper workers); stage 2 merges the
  * partial aggregates by key. Only mergeable aggregates are exposed
  * (sum/count/min/max and things derivable from them), mirroring the
  * reference's restriction to operators with a merge step (§0.2 of
  * SURVEY.md).
  *
  * The salt column must be deterministic per row (not rand()) so
  * retried tasks re-produce identical partials — here a hash of the
  * whole row (`SaltedJoin.salt`).
  */
object SaltedAggregation {

  final case class Spec(
      sums: Seq[String] = Nil,
      counts: Boolean = true,
      mins: Seq[String] = Nil,
      maxs: Seq[String] = Nil,
      /** collect_list columns, merged by flattening in stage 2 (order
        * is partition-dependent, like any collect_list; sort downstream
        * if determinism is needed). These are the aggregates where
        * salting genuinely pays: algebraic partials (sum/count/min/max)
        * collapse a hot key on the map side, but a collect buffer keeps
        * its full size through the shuffle.
        */
      collects: Seq[String] = Nil
  )

  def aggregate(
      df: DataFrame,
      key: Seq[String],
      spec: Spec,
      saltFactor: Int
  ): DataFrame = {
    require(saltFactor >= 1)
    val partialAggs =
      spec.sums.map(c => sum(col(c)).as(s"__sum_$c")) ++
        (if (spec.counts) Seq(count(lit(1)).as("__cnt")) else Nil) ++
        spec.mins.map(c => min(col(c)).as(s"__min_$c")) ++
        spec.maxs.map(c => max(col(c)).as(s"__max_$c")) ++
        spec.collects.map(c => collect_list(col(c)).as(s"__col_$c"))
    val partial = df
      .withColumn("__salt", SaltedJoin.salt(df, saltFactor))
      .groupBy((key.map(col) :+ col("__salt")): _*)
      .agg(partialAggs.head, partialAggs.tail: _*)
    val finalAggs =
      spec.sums.map(c => sum(col(s"__sum_$c")).as(s"sum_$c")) ++
        (if (spec.counts) Seq(sum(col("__cnt")).as("cnt")) else Nil) ++
        spec.mins.map(c => min(col(s"__min_$c")).as(s"min_$c")) ++
        spec.maxs.map(c => max(col(s"__max_$c")).as(s"max_$c")) ++
        spec.collects.map(c => flatten(collect_list(col(s"__col_$c"))).as(s"collect_$c"))
    partial
      .groupBy(key.map(col): _*)
      .agg(finalAggs.head, finalAggs.tail: _*)
  }
}
