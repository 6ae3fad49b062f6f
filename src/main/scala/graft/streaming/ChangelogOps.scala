package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Changelog (CDC) semantics — the reference models every stream as a
  * changelog with row kinds +I/-U/+U/-D (reference flink-core/.../
  * types/RowKind.java:25-55) and normalizes/upserts it downstream
  * (StreamExecChangelogNormalize.java:61, StreamExecDropUpdateBefore,
  * upsert sinks). Spark has no public row-kind, so the engine adopts
  * an explicit `_change` column convention with the same four codes.
  */
object ChangelogOps {

  val ChangeCol = "_change"
  val Insert = "+I"
  val UpdateBefore = "-U"
  val UpdateAfter = "+U"
  val Delete = "-D"

  /** ChangelogNormalize: collapse a keyed changelog to current state —
    * the latest (+I/+U) row per key wins; keys whose latest change is
    * a delete disappear. `ordering` must be a unique per-key sequence
    * (version, event time + id, ...).
    */
  def normalize(changelog: DataFrame, pk: Seq[String], ordering: Seq[Column]): DataFrame = {
    val w = Window
      .partitionBy(pk.map(col): _*)
      .orderBy(ordering.map(_.desc): _*)
    changelog
      .filter(col(ChangeCol) =!= UpdateBefore) // -U carries no new state
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col(ChangeCol) =!= Delete)
      .drop("__rn", ChangeCol)
  }

  /** DropUpdateBefore: sinks that key by pk don't need -U rows. */
  def dropUpdateBefore(changelog: DataFrame): DataFrame =
    changelog.filter(col(ChangeCol) =!= UpdateBefore)

  /** SCD Type-2 dimension build: turn a keyed changelog into validity
    * intervals — one row per state version carrying
    * [effective_from, effective_to) in the changelog's own ordering
    * domain, effective_to NULL while the version is still open, and an
    * is_current flag. A -D closes the preceding version's interval but
    * emits no row of its own; -U rows carry no new state and are
    * dropped (same rule as normalize). This is the warehouse-side dual
    * of ChangelogNormalize: normalize keeps only the latest state,
    * scd2 keeps the full history queryable by as-of predicates
    * (`WHERE from <= v AND (to IS NULL OR v < to)`).
    *
    * Scale shape: one shuffle on pk for the lead() window — the same
    * partitioning a temporal-join probe of the result would use.
    *
    * `ordering` must be a single unique per-key ordering column
    * (version, sequence number, event time); its value is what lands
    * in effective_from/effective_to.
    */
  def scd2(changelog: DataFrame, pk: Seq[String], ordering: Column): DataFrame = {
    val w = Window.partitionBy(pk.map(col): _*).orderBy(ordering)
    changelog
      .filter(col(ChangeCol) =!= UpdateBefore)
      .withColumn("__eff_to", lead(ordering, 1).over(w))
      .filter(col(ChangeCol) =!= Delete)
      .withColumn("effective_from", ordering)
      .withColumnRenamed("__eff_to", "effective_to")
      .withColumn("is_current", col("effective_to").isNull)
      .drop(ChangeCol)
  }

  /** One incremental SCD2 fold step: merge a micro-batch of changelog
    * rows into an existing Type-2 history. The stored history is fully
    * replayable — every version row becomes a +U at its own
    * effective_from, and a closed version with NO successor version
    * starting exactly at its effective_to must have been closed by a
    * delete, so a -D is synthesized at that point. Folding batches
    * through this is therefore exactly associative with running scd2
    * over the whole changelog at once (Scd2Spec proves the parity),
    * which is what makes the streaming sink restart- and
    * replay-safe without storing tombstone rows.
    */
  def scd2Merge(
      history: Option[DataFrame],
      batch: DataFrame,
      pk: Seq[String],
      orderingCol: String
  ): DataFrame = {
    val replayed = history match {
      case None => batch
      case Some(h) =>
        val metaCols = Set("effective_from", "effective_to", "is_current")
        val dataCols = h.columns.filterNot(metaCols).toSeq
        val reborn = h
          .select(dataCols.map(col): _*)
          .withColumn(ChangeCol, lit(UpdateAfter))
        val succ = h.select(
          (pk.map(c => col(c).as(s"__s_$c")) :+
            col("effective_from").as("__s_from")): _*)
        val closedByDelete = h
          .filter(col("effective_to").isNotNull)
          .join(
            succ,
            pk.map(c => col(c) === col(s"__s_$c")).reduce(_ && _) &&
              col("effective_to") === col("__s_from"),
            "left_anti")
          .withColumn(orderingCol, col("effective_to"))
          .select(dataCols.map(col): _*)
          .withColumn(ChangeCol, lit(Delete))
        reborn.unionByName(closedByDelete).unionByName(batch)
    }
    scd2(replayed, pk, col(orderingCol))
  }

  /** SCD2 sink for a streaming changelog: per micro-batch, fold the
    * batch into the Type-2 history parquet via scd2Merge (read current
    * → replay + batch → rebuild → swap). On a lakehouse target the
    * rebuild becomes a MERGE over the touched keys only.
    */
  def scd2Sink(
      changelog: DataFrame,
      path: String,
      pk: Seq[String],
      orderingCol: String
  ): DataStreamWriter[Row] =
    rewriteSink(changelog, path)(scd2Merge(_, _, pk, orderingCol))

  /** Upsert sink for a streaming changelog: per micro-batch, merge the
    * batch into the keyed parquet target (read current → union batch →
    * normalize → swap). foreachBatch is the documented Spark pattern
    * for MERGE-style sinks; on a lakehouse target the body becomes a
    * real MERGE INTO.
    */
  def upsertSink(
      changelog: DataFrame,
      path: String,
      pk: Seq[String],
      ordering: Seq[String]
  ): DataStreamWriter[Row] =
    rewriteSink(changelog, path) { (current, batch) =>
      // re-tag current state as inserts older than any batch row
      val all = current.fold(batch)(
        _.withColumn(ChangeCol, lit(Insert)).unionByName(batch, allowMissingColumns = true))
      normalize(all, pk, ordering.map(col))
    }

  /** The sinks' one micro-batch write: `rebuild` gets the current
    * target (None only while `path` does not exist — a target that
    * cannot be read fails the batch instead of being replaced by the
    * batch alone), writes its result to `path.tmp`, then swaps it in.
    */
  private def rewriteSink(changelog: DataFrame, path: String)(
      rebuild: (Option[DataFrame], DataFrame) => DataFrame): DataStreamWriter[Row] =
    changelog.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val spark = batch.sparkSession
      val (target, tmp) = (new Path(path), new Path(s"$path.tmp"))
      val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val current = if (fs.exists(target)) Some(spark.read.parquet(path)) else None
      rebuild(current, batch).write.mode("overwrite").parquet(tmp.toString)
      fs.delete(target, true)
      if (!fs.rename(tmp, target)) throw new java.io.IOException(s"cannot rename $tmp to $target")
      ()
    }
}
