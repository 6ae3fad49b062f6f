package graft

import graft.streaming.{Cep, Evictors, StreamingOps, StreamingOver, TemporalJoin}
import graft.streaming.StreamingOps.Event
import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

/** The keyed-state driver `StreamingOps.perUser` under every Event
  * operator that runs on it:
  *  - arrival order: one micro-batch fed in two shuffled orders gives
  *    identical output, because the driver hands each key its rows in
  *    `eventOrder` (ties on the millisecond broken by the sub-
  *    millisecond part, then by event_id);
  *  - the drop rule: once the watermark passes everything buffered,
  *    the watermarked operators hold no state cell at all.
  *
  * Each run unions the operator's output with a clock stream whose rows
  * never reach the sink; under the `max` watermark policy the clock
  * alone moves the query's watermark far past the data, so every
  * buffered row ripens and every timer fires.
  */
object KeyedDriverSpec {
  final case class P(key: Long, ptime: Timestamp, pval: Double)
  final case class V(key: Long, vtime: Timestamp, vval: String)
}

class KeyedDriverSpec extends AnyFunSuite {
  import KeyedDriverSpec.{P, V}
  private lazy val spark = SparkTestSession.get

  private def at(minutes: Int, micros: Int = 0): Timestamp = {
    val t = Timestamp.valueOf(f"2024-01-01 ${minutes / 60}%02d:${minutes % 60}%02d:00")
    t.setNanos(micros * 1000)
    t
  }

  // ties on the millisecond (1/2, 8/9) and below it (4 sorts before 3)
  private val events = Seq(
    Event(1, at(0), 1, "error", 1.0), Event(2, at(0), 1, "click", 5.0),
    Event(3, at(1, 250), 1, "error", 2.0), Event(4, at(1), 1, "error", 7.5),
    Event(5, at(2), 1, "error", 3.0), Event(6, at(40), 1, "click", 1.0),
    Event(7, at(41), 1, "error", 9.0), Event(8, at(3), 2, "error", 4.0),
    Event(9, at(3), 2, "error", 4.5), Event(10, at(70), 2, "click", 0.5))

  private val errPair = Cep.SequencePattern(
    Seq(Cep.Step("e1", _.event_type == "error"), Cep.Step("e2", _.event_type == "error")),
    withinMs = 30L * 60 * 1000,
    strict = true)

  /** Starts `out` (unioned with the clock), runs `feed`, then ticks the
    * clock twice; returns the sink rows and the state rows of the first
    * stateful operator before and after the ticks.
    */
  private def drain[O: Encoder](name: String, out: Dataset[O])(
      feed: (() => Unit) => Unit): (Seq[String], Long, Long) = {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val clock = MemoryStream[Event]
    val ticks = clock.toDS().withWatermark("ts", "0 seconds").flatMap(_ => Seq.empty[O])
    val q = Engine.withConf(spark, "spark.sql.streaming.multipleWatermarkPolicy" -> "max") {
      out.union(ticks).writeStream.format("memory").queryName(name).outputMode("append").start()
    }
    def stateRows = q.lastProgress.stateOperators(0).numRowsTotal
    try {
      feed(() => q.processAllAvailable())
      val before = stateRows
      Seq(at(600), at(1200)).foreach { t =>
        clock.addData(Event(-1, t, -1, "tick", 0.0))
        q.processAllAvailable()
      }
      (spark.table(name).collect().map(_.toString).toSeq.sorted, before, stateRows)
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }

  /** `op` over one micro-batch of `batch`. */
  private def runOnce[O: Encoder](name: String, batch: Seq[Event])(
      op: Dataset[Event] => Dataset[O]): (Seq[String], Long, Long) = {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Event]
    drain(name, op(in.toDS())) { process => in.addData(batch); process() }
  }

  private def arrivalOrderFree[O: Encoder](name: String)(op: Dataset[Event] => Dataset[O]): Unit = {
    val orders = Seq(1, 2).map(seed => new scala.util.Random(seed).shuffle(events))
    assert(orders(0) != orders(1))
    val Seq(a, b) = orders.zipWithIndex.map { case (o, i) => runOnce(s"${name}_$i", o)(op)._1 }
    assert(a.nonEmpty, s"$name emitted nothing")
    assert(a == b)
  }

  test("arrival order: countTriggerWindow") {
    import spark.implicits._
    arrivalOrderFree("kd_count")(StreamingOps.countTriggerWindow(_, 2))
  }

  test("arrival order: deltaTriggerWindow") {
    import spark.implicits._
    arrivalOrderFree("kd_delta")(StreamingOps.deltaTriggerWindow(_, 2.0))
  }

  test("arrival order: streamingTopN") {
    import spark.implicits._
    arrivalOrderFree("kd_topn")(StreamingOps.streamingTopN(_, 2))
  }

  test("arrival order: runningAggregate") {
    import spark.implicits._
    arrivalOrderFree("kd_running")(StreamingOver.runningAggregate(_))
  }

  test("arrival order: boundedPrecedingAggregate") {
    import spark.implicits._
    arrivalOrderFree("kd_bounded")(StreamingOver.boundedPrecedingAggregate(_, 2))
  }

  test("arrival order: rangePrecedingAggregate") {
    import spark.implicits._
    arrivalOrderFree("kd_range")(StreamingOver.rangePrecedingAggregate(_, 60000L))
  }

  test("arrival order: temporalSort") {
    import spark.implicits._
    arrivalOrderFree("kd_tsort")(StreamingOver.temporalSort(_, "10 minutes"))
  }

  test("arrival order: evictedTumblingAggregate") {
    import spark.implicits._
    arrivalOrderFree("kd_evict")(
      Evictors.evictedTumblingAggregate(_, 30L * 60 * 1000, "10 minutes", Evictors.evictCount(_, 2)))
  }

  test("arrival order: Cep.detectStream") {
    import spark.implicits._
    arrivalOrderFree("kd_cep")(Cep.detectStream(_, errPair))
  }

  test("arrival order: Cep.detectStreamExpiring") {
    import spark.implicits._
    arrivalOrderFree("kd_cep_exp")(Cep.detectStreamExpiring(_, errPair, "10 minutes"))
  }

  test("arrival order: Cep.detectStreamOrdered") {
    import spark.implicits._
    arrivalOrderFree("kd_cep_ord")(Cep.detectStreamOrdered(_, errPair, "10 minutes"))
  }

  /** `op` over `events` in two micro-batches: everything it buffered is
    * dropped once the watermark has passed it.
    */
  private def drainsToZero[O: Encoder](name: String)(op: Dataset[Event] => Dataset[O]): Unit = {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Event]
    val (out, before, after) = drain(name, op(in.toDS())) { process =>
      events.grouped(5).foreach { b => in.addData(b); process() }
    }
    assert(out.nonEmpty, s"$name emitted nothing")
    assert(before > 0, s"$name buffered nothing")
    assert(after == 0L)
  }

  test("drop rule: temporalSort holds no state once the watermark passes it") {
    import spark.implicits._
    drainsToZero("kd_drop_tsort")(StreamingOver.temporalSort(_, "10 minutes"))
  }

  test("drop rule: evictedTumblingAggregate holds no state once the watermark passes it") {
    import spark.implicits._
    drainsToZero("kd_drop_evict")(
      Evictors.evictedTumblingAggregate(_, 30L * 60 * 1000, "10 minutes", Evictors.evictCount(_, 2)))
  }

  test("drop rule: Cep.detectStreamOrdered holds no state once the watermark passes it") {
    import spark.implicits._
    drainsToZero("kd_drop_cep")(Cep.detectStreamOrdered(_, errPair, "10 minutes"))
  }

  test("drop rule: TemporalJoin.asOfJoin holds no pending probe once the watermark passes it") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // versions are the join's table: the newest one per key stays, so
    // only probe-only keys can drain to nothing
    val pIn = MemoryStream[P]
    val vIn = MemoryStream[V]
    val joined = TemporalJoin.asOfJoin(pIn.toDF(), vIn.toDF(), "10 minutes", leftOuter = true)
    val (out, before, after) = drain("kd_drop_asof", joined) { process =>
      pIn.addData(P(1, at(10), 1.0), P(1, at(5), 2.0), P(2, at(20), 3.0))
      process()
    }
    assert(out.size == 3)
    assert(before > 0)
    assert(after == 0L)
  }
}
