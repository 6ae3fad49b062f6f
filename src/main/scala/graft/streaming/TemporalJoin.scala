package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

/** Event-time temporal (as-of) join for streams — the streaming
  * counterpart of plans/AsOfJoin. Each probe row (key, ptime)
  * joins the LATEST version row (key, vtime) with vtime <= ptime.
  *
  * Reference semantics: flink-table-runtime-blink
  * TemporalRowTimeJoinOperator.java:88-210 — buffer both sides keyed
  * by join key, emit a probe row once the event-time watermark passes
  * its timestamp (its answer can no longer change, since any version
  * with vtime <= ptime <= watermark would violate the watermark
  * contract by arriving later), then prune versions that are
  * superseded at the watermark (keep only the newest version <=
  * watermark — it may still answer a future probe).
  *
  * Spark-first shape: the two sides are union-tagged into one keyed
  * stream; `flatMapGroupsWithState(Append, EventTimeTimeout)` holds
  * the per-key buffers and stores them through the keyed-state
  * driver's drop-or-wake rule, [[StreamingOps.Keyed]]. State is
  * O(in-flight rows within the watermark horizon) per key — the same
  * bound the reference operator's MapState carries — so a
  * 1000-executor run partitions cleanly by key with no global
  * structure.
  */
object TemporalJoin {

  final case class Tagged(
      key: Long,
      t: Timestamp,
      isProbe: Boolean,
      pval: Double,
      vval: String
  )

  final case class Joined(
      key: Long,
      ptime: Timestamp,
      pval: Double,
      vtime: Timestamp,
      vval: String
  )

  final case class Buf(
      probes: Seq[(Long, Double)],
      versions: Seq[(Long, String)]
  )

  /** probes(key, ptime, pval) ⋈asof versions(key, vtime, vval).
    * Inner semantics by default: probes with no version <= ptime are
    * dropped. `leftOuter = true` keeps them with null version columns
    * — the reference's isLeftOuterJoin mode, decided at flush time
    * (when the watermark passes the probe, absence of a version is
    * final by the same watermark argument that makes matches final).
    */
  def asOfJoin(
      probes: DataFrame,
      versions: DataFrame,
      watermarkDelay: String = "10 minutes",
      leftOuter: Boolean = false
  ): Dataset[Joined] = {
    val spark = probes.sparkSession
    import spark.implicits._

    val tagged = probes
      .select(
        col("key"), col("ptime").as("t"), lit(true).as("isProbe"),
        col("pval"), lit(null).cast("string").as("vval"))
      .unionByName(versions.select(
        col("key"), col("vtime").as("t"), lit(false).as("isProbe"),
        lit(0.0).as("pval"), col("vval")))
      .withWatermark("t", watermarkDelay)
      .as[Tagged]

    tagged
      .groupByKey(_.key)
      .flatMapGroupsWithState[Buf, Joined](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: Long, rows: Iterator[Tagged], state: GroupState[Buf]) =>
          val prev = state.getOption.getOrElse(Buf(Nil, Nil))
          var probesBuf = prev.probes
          var versionsBuf = prev.versions
          rows.foreach { r =>
            if (r.isProbe) probesBuf :+= ((r.t.getTime, r.pval))
            else versionsBuf :+= ((r.t.getTime, r.vval))
          }
          val wm = state.getCurrentWatermarkMs()

          // versions sorted once per invocation; buffers stay small
          // (bounded by the watermark horizon per key)
          val vs = versionsBuf.sortBy(_._1)
          val (ready, pending) = probesBuf.partition(_._1 <= wm)
          val out = ready.sortBy(_._1).iterator.flatMap { case (pt, pv) =>
            // latest version with vtime <= ptime; final because the
            // watermark has passed ptime
            val m = vs.takeWhile(_._1 <= pt).lastOption
            m match {
              case Some((vt, vv)) =>
                Some(Joined(key, new Timestamp(pt), pv, new Timestamp(vt), vv))
              case None if leftOuter =>
                Some(Joined(key, new Timestamp(pt), pv, null, null))
              case None => None
            }
          }.toSeq

          // prune: versions superseded at the watermark can never be
          // the as-of answer for any future probe (ptime > wm) — keep
          // only the newest version <= wm plus everything after it
          val cutIdx = vs.lastIndexWhere(_._1 <= wm)
          val keptVersions = if (cutIdx <= 0) vs else vs.drop(cutIdx)

          // wake when the watermark reaches the earliest pending probe
          // so it flushes even if the key goes quiet
          StreamingOps.Keyed(
            Some(Buf(pending, keptVersions)).filter(_ => pending.nonEmpty || keptVersions.nonEmpty),
            out, pending.map(_._1).minOption).store(state)
      }(Encoders.product[Buf], Encoders.product[Joined])
  }
}
