package graftbench

import graft.skew.{AdaptiveReshape, AdaptiveSalter, ReshapeConfig, SaltedJoin, SkewMonitor}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** The `skew_stream` workload: the reference's join-with-static demo
  * run as users run the Reshape loop. A generator thread appends
  * events to a `MemoryStream` on a fixed schedule (an open loop); each
  * micro-batch joins the static table through
  * `AdaptiveReshape.foreachBatchJoinBody` with a live `SkewMonitor` and
  * `AdaptiveSalter`, matches every record's text against the joined
  * row (the demo's slang substring match, plus an edit distance to the
  * expansion), and aggregates per key.
  *
  * Keys are uniform for the first half of the timed input; in the
  * second half `HotShare` of the events land on one hot key picked by
  * the seed. The run ends with one burst of hot-distributed input whose
  * drain time is measured.
  */
object SkewStream {

  val Keys = 2000
  /** Offered rate: about half the hot segment's capacity at salt 1 on
    * 4 cores, so latency stays bounded while mitigation is off.
    */
  val Rate = 2500.0
  val HotShare = 0.75
  val BurstEvents = 40000
  /** Micro-batch trigger interval. */
  val TriggerMs = 1000L
  /** The generator wakes this often and appends every event that is due. */
  val AppendEveryMs = 10L
  /** Scheduled seconds of the set-up's warm-up stream. */
  val WarmupSeconds = 6.0
  /** Events created in the first second are warm-up for the latency. */
  val SkipMs = 1000.0
  private val Slang = Array("lol", "brb", "idk", "omg", "smh", "tbh", "imo", "btw", "fyi", "afk",
    "gg", "np", "ty", "yolo", "rofl", "irl")

  private val Alnum = ('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')

  type Event = (Long, Long, Long, String, String, Long)

  /** Pre-generated input: a uniform segment, a hot segment, a burst. */
  final class Input(seed: Long, seconds: Double, val burst: Int) {
    private val rnd = new java.util.Random(seed)
    // fixed-length strings, so the per-record edit distance costs the
    // same whichever key the seed makes hot
    private def words(n: Int, chars: Int): String =
      Seq.fill(n)(Slang(rnd.nextInt(Slang.length))).mkString(" ").padTo(chars, ' ').take(chars)
    val hotKey: Long = 1L + rnd.nextInt(Keys - 1)
    private val texts = Array.fill(1024)(words(20, 72))
    // the record body: enough incompressible bytes per event that a
    // batch's keyed shuffle keeps several reduce tasks after AQE
    // coalescing
    private val payloads = Array.fill(4096)(
      Seq.fill(2000)(Alnum(rnd.nextInt(Alnum.length))).mkString)
    val expansions: Array[String] = Array.fill(Keys)(words(24, 88))
    val segment: Int = math.max(1, (Rate * seconds / 2).toInt)
    val hotStart: Int = segment
    val burstStart: Int = 2 * segment
    val n: Int = burstStart + burst
    val keys: Array[Long] = Array.tabulate(n) { i =>
      if (i >= hotStart && rnd.nextDouble() < HotShare) hotKey else rnd.nextInt(Keys).toLong
    }
    val values: Array[Long] = Array.fill(n)(rnd.nextInt(10000).toLong)
    private val textIdx = Array.fill(n)(rnd.nextInt(texts.length))
    private val payloadIdx = Array.fill(n)(rnd.nextInt(payloads.length))
    /** Scheduled creation time of event `i`, relative to the stream start. */
    val segmentEndMs: Double = burstStart * 1000.0 / Rate
    def offsetMs(i: Int): Double = if (i < burstStart) i * 1000.0 / Rate else segmentEndMs
    def event(i: Int): Event =
      (i.toLong, keys(i), values(i), texts(textIdx(i)), payloads(payloadIdx(i)), offsetMs(i).toLong)

    def dim(spark: SparkSession): DataFrame = spark.createDataFrame(
      (0 until Keys).map(k => (k.toLong, Slang(k % Slang.length), expansions(k))))
      .toDF("key", "slang", "expansion")

    def events(spark: SparkSession, range: Range): DataFrame =
      spark.createDataFrame(range.map(event)).toDF(Columns: _*)
  }

  val Columns: Seq[String] = Seq("seq", "key", "value", "text", "payload", "created_ms")

  /** Per-record match against the joined row, then the per-key aggregate. */
  def work(joined: DataFrame, by: Seq[Column]): DataFrame = joined
    .withColumn("m", (expr("locate(slang, text)") > 0).cast("long"))
    .withColumn("p", (expr("locate(slang, payload)") > 0).cast("long"))
    .withColumn("d", levenshtein(col("text"), col("expansion")).cast("long"))
    .groupBy(by: _*)
    .agg(count(lit(1)).as("n"), sum("value").as("sv"), sum("m").as("nm"), sum("p").as("np"),
      sum("d").as("sd"), min("seq").as("lo"), max("seq").as("hi"))

  final case class Agg(n: Long, sv: Long, nm: Long, np: Long, sd: Long, lo: Long, hi: Long)
  private def agg(r: Row, from: Int): Agg = Agg(r.getLong(from), r.getLong(from + 1),
    r.getLong(from + 2), r.getLong(from + 3), r.getLong(from + 4), r.getLong(from + 5),
    r.getLong(from + 6))

  final case class BatchRec(id: Long, entryMs: Double, tickMs: Double, endMs: Double, salt: Int,
      result: Map[Long, Agg], replicatedRows: Long, error: Option[String]) {
    def lo: Long = if (result.isEmpty) -1L else result.values.map(_.lo).min
    def hi: Long = if (result.isEmpty) -1L else result.values.map(_.hi).max
  }

  final case class Run(input: Input, from: Int, t0: Double, batches: Seq[BatchRec],
      appendLagMs: Seq[Double], burstAtMs: Double, monitorReports: Int) {
    /** End time of the batch that emitted event `i`'s result. */
    lazy val endOf: Array[Double] = {
      val a = Array.fill(input.n)(Double.NaN)
      batches.filter(_.lo >= 0).foreach(b => (b.lo to b.hi).foreach(i => a(i.toInt) = b.endMs))
      a
    }
    def latenciesMs: Seq[Double] = (from until input.burstStart)
      .filter(i => input.offsetMs(i) >= SkipMs && !endOf(i).isNaN)
      .map(i => endOf(i) - (t0 + input.offsetMs(i)))
    /** From the start of the first batch that holds burst events (or the
      * append, if later) to the end of the batch that emitted the last
      * one; the wait for the next trigger is not drain time.
      */
    def drainMs: Double = {
      val first = batches.filter(_.hi >= input.burstStart).map(_.entryMs)
      endOf(input.n - 1) - math.max(burstAtMs, if (first.isEmpty) burstAtMs else first.min)
    }
    def drainPerS: Double = input.burst / (drainMs / 1000.0)
    /** Busy time of one pass over the scheduled input: the median wall
      * of its micro-batches (the first is warm-up) times their number,
      * so one stalled batch does not count in full.
      */
    def busyMs: Double = {
      val ms = batches.filter(b => b.lo >= 0 && b.lo < input.burstStart).drop(1)
        .map(b => b.endMs - b.entryMs)
      if (ms.isEmpty) 0.0 else Stats.median(ms) * ms.size
    }
    def hotBatches: Seq[BatchRec] = batches.filter(b => b.hi >= input.hotStart && b.lo >= 0)
  }

  /** Shuffle rows written by the join's static side: the static table
    * rows the salted join replicates for one batch.
    */
  private object PlanProbe extends AdaptiveSparkPlanHelper {
    def staticSideRows(df: DataFrame): Long = collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec
          if e.output.exists(_.name == "expansion") && !e.output.exists(_.name == "text") =>
        e.metrics.get("shuffleRecordsWritten").map(_.value).getOrElse(0L)
    }.sum
  }

  /** Stream `input` from event `from` on: the scheduled segment, then,
    * once it is processed, the burst. Batch failures are recorded, never
    * thrown.
    */
  def run(spark: SparkSession, input: Input, from: Int, tracer: Tracer): Run = {
    val settings = ReshapeConfig.from(spark)
    val monitor = new SkewMonitor(settings)
    spark.sparkContext.addSparkListener(monitor)
    val salter = new AdaptiveSalter(monitor, settings)
    val dim = input.dim(spark)
    val batches = ArrayBuffer.empty[BatchRec]
    var pending: (Double, Int, Map[Long, Agg], Long) = (0.0, 0, Map.empty, 0L)
    val body = AdaptiveReshape.foreachBatchJoinBody(dim, Seq("key"), salter) {
      (joined, _, salt) =>
        val tick = tracer.now
        val out = work(joined, Seq(col("key")))
        val rows = tracer.span("skew.on_result")(out.collect())
        pending = (tick, salt, rows.map(r => r.getLong(0) -> agg(r, 1)).toMap,
          PlanProbe.staticSideRows(out))
    }
    val perBatch: (DataFrame, Long) => Unit = (batch, id) => {
      val entry = tracer.now
      pending = (entry, 0, Map.empty, 0L)
      // the join hint keeps the keyed shuffle join of the reference's
      // keyed operator; a small static table would otherwise be broadcast
      val error =
        try { tracer.span("stream.batch", Map("batch" -> id))(body(batch.hint("merge"), id)); None }
        catch { case e: Throwable => System.err.println(s"[bench] batch $id failed: $e"); Some(e.toString) }
      val (tick, salt, result, replicated) = pending
      val end = tracer.now
      tracer.record("skew.tick", entry, tick, Map("batch" -> id, "salt" -> salt), parent = -1L)
      batches.synchronized(batches += BatchRec(id, entry, tick, end, salt, result, replicated, error))
    }
    import spark.implicits._
    implicit val sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Event](spark.sparkContext.defaultParallelism)
    val query = stream.toDF().toDF(Columns: _*).writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(TriggerMs))
      .foreachBatch(perBatch).start()
    val lags = ArrayBuffer.empty[Double]
    // schedule origin: event `from` is due 200 ms from now
    val t0 = tracer.now + 200.0 - input.offsetMs(from)
    var burstAt = 0.0
    try {
      var next = from
      while (next < input.burstStart) {
        val elapsed = tracer.now - t0
        var due = next
        while (due < input.burstStart && input.offsetMs(due) <= elapsed) due += 1
        if (due > next) {
          stream.addData((next until due).map(input.event))
          lags += tracer.now - (t0 + input.offsetMs(next))
          next = due
        } else Thread.sleep(AppendEveryMs)
      }
      // the burst goes in once the scheduled input is processed, so its
      // drain is measured alone and does not delay the scheduled events
      query.processAllAvailable()
      burstAt = tracer.now
      stream.addData((math.max(from, input.burstStart) until input.n).map(input.event))
      query.processAllAvailable()
    } finally {
      query.stop()
      spark.sparkContext.removeSparkListener(monitor)
    }
    Run(input, from, t0, batches.toSeq.sortBy(_.id), lags.toSeq, burstAt, monitor.stageReports.size)
  }

  /** Batches whose result differs from the unsalted join and aggregate
    * over the same events, plus one failure if any event was never
    * emitted. Returns (checked operations, failed operations).
    */
  def check(spark: SparkSession, r: Run): (Int, Int) = {
    val input = r.input
    val batchOf = Array.fill(input.n)(-1L)
    r.batches.filter(_.lo >= 0).foreach(b => (b.lo to b.hi).foreach(i => batchOf(i.toInt) = b.id))
    val covered = (r.from until input.n).forall(i => batchOf(i) >= 0)
    val rows = (r.from until input.n).filter(batchOf(_) >= 0).map { i =>
      val e = input.event(i)
      (batchOf(i), e._1, e._2, e._3, e._4, e._5)
    }
    val expected = work(
      spark.createDataFrame(rows).toDF("batch" +: Columns.init: _*).join(input.dim(spark), "key"),
      Seq(col("batch"), col("key"))).collect()
      .groupBy(_.getLong(0)).map { case (b, rs) => b -> rs.map(x => x.getLong(1) -> agg(x, 2)).toMap }
    val bad = r.batches.count(b => b.error.nonEmpty || b.result != expected.getOrElse(b.id, Map.empty))
    (r.batches.size + 1, bad + (if (covered) 0 else 1))
  }

  /** One batch of the hot segment through `SaltedJoin.join` at a fixed
    * salt (no controller): wall time in milliseconds.
    */
  def staticBatchMs(spark: SparkSession, input: Input, salt: Int): Double = {
    val hot = input.events(spark, input.hotStart until input.burstStart).hint("merge")
    val t0 = System.nanoTime()
    work(SaltedJoin.join(hot, input.dim(spark), Seq("key"), salt), Seq(col("key"))).collect()
    (System.nanoTime() - t0) / 1e6
  }
}
