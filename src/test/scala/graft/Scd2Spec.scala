package graft

import graft.streaming.ChangelogOps
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** SCD Type-2 dimension-build semantics (ChangelogOps.scd2): validity
  * intervals, delete-closed versions, and consistency with
  * ChangelogNormalize (the current slice of the history must equal the
  * normalized state).
  */
class Scd2Spec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"
  private lazy val spark: SparkSession = SparkTestSession.get

  test("scd2 builds validity intervals; deletes close but emit nothing") {
    import spark.implicits._
    // key A: insert v1, update v2, delete, re-insert v4 (still open)
    // key B: single insert, still open
    val changelog = Seq(
      ("A", 1L, "v1", ChangelogOps.Insert),
      ("A", 2L, "v2", ChangelogOps.UpdateAfter),
      ("A", 2L, "v1", ChangelogOps.UpdateBefore), // dropped, carries no state
      ("A", 3L, "v2", ChangelogOps.Delete),
      ("A", 4L, "v4", ChangelogOps.Insert),
      ("B", 7L, "w1", ChangelogOps.Insert)
    ).toDF("k", "seq", "payload", ChangelogOps.ChangeCol)
    val out = ChangelogOps
      .scd2(changelog, Seq("k"), org.apache.spark.sql.functions.col("seq"))
      .select("k", "payload", "effective_from", "effective_to", "is_current")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
      .toSet
    assert(out == Set(
      ("A", "v1", 1L, 2L, false),  // closed by the v2 update
      ("A", "v2", 2L, 3L, false),  // closed by the delete; delete emits nothing
      ("A", "v4", 4L, -1L, true),  // re-insert after delete, still open
      ("B", "w1", 7L, -1L, true)
    ))
  }

  test("current slice of scd2 equals ChangelogNormalize state") {
    val normalized = SparkEntry
      .queries("q_changelog_normalize")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet
    val current = SparkEntry
      .queries("q_changelog_scd2")(spark, dir)
      .filter("is_current")
      .select("user_id", "event_type", "event_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet
    // normalize drops keys whose LAST change is a delete; scd2 keeps no
    // open interval for them either — the sets must agree exactly
    assert(current == normalized)
  }

  private def eventsChangelog = {
    import org.apache.spark.sql.functions._
    Engine.Tables(spark, dir).events.select(
      col("user_id"), col("event_type"), col("event_id"), col("value"),
      when(col("event_id") % 10 === 9, lit(ChangelogOps.Delete))
        .otherwise(lit(ChangelogOps.UpdateAfter))
        .as(ChangelogOps.ChangeCol))
  }

  private def histSet(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.select("user_id", "event_type", "event_id", "value",
      "effective_from", "effective_to", "is_current")
      .collect().map(_.toString).toSet

  test("incremental scd2Merge folds equal the one-shot history") {
    import org.apache.spark.sql.functions._
    val changelog = eventsChangelog
    val keys = Seq("user_id", "event_type")
    val full = histSet(ChangelogOps.scd2(changelog, keys, col("event_id")))
    val mid = changelog.agg(expr("percentile_approx(event_id, 0.5)")).head().getLong(0)
    // ordered split (normal micro-batching)
    val f1 = ChangelogOps.scd2Merge(None, changelog.filter(col("event_id") <= mid), keys, "event_id")
    val f2 = ChangelogOps.scd2Merge(Some(f1), changelog.filter(col("event_id") > mid), keys, "event_id")
    assert(histSet(f2) == full, "ordered fold must equal one-shot scd2")
    // interleaved split (late data): replay makes the fold order-free
    val o1 = ChangelogOps.scd2Merge(None, changelog.filter(col("event_id") % 2 === 0), keys, "event_id")
    val o2 = ChangelogOps.scd2Merge(Some(o1), changelog.filter(col("event_id") % 2 === 1), keys, "event_id")
    assert(histSet(o2) == full, "out-of-order fold must equal one-shot scd2")
  }

  test("streaming scd2 sink maintains the Type-2 history across batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val path = TempPaths.dir("graft_scd2").toString + "/hist"
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long, String, String)]
    val changelog = in.toDF().toDF("k", "seq", "payload", ChangelogOps.ChangeCol)
    val q = ChangelogOps.scd2Sink(changelog, path, Seq("k"), "seq").start()
    try {
      in.addData(("A", 1L, "v1", "+U"), ("B", 2L, "w1", "+U"))
      q.processAllAvailable()
      in.addData(("A", 3L, "v2", "+U"), ("B", 4L, "w1", "-D"))
      q.processAllAvailable()
      val hist = spark.read.parquet(path).collect()
        .map(r => (r.getAs[String]("k"), r.getAs[String]("payload"),
          r.getAs[Long]("effective_from"),
          Option(r.getAs[Any]("effective_to")).map(_.asInstanceOf[Long]).getOrElse(-1L),
          r.getAs[Boolean]("is_current")))
        .toSet
      assert(hist == Set(
        ("A", "v1", 1L, 3L, false),
        ("A", "v2", 3L, -1L, true),
        ("B", "w1", 2L, 4L, false)  // closed by the batch-2 delete
      ))
    } finally q.stop()
  }

  test("as-of predicate over scd2 history returns exactly one version per live key") {
    import org.apache.spark.sql.functions._
    val hist = SparkEntry.queries("q_changelog_scd2")(spark, dir)
    // probe at the median event_id: every key whose history spans the
    // probe point must contribute exactly one valid version
    val probe = hist.agg(expr("percentile_approx(effective_from, 0.5)"))
      .head().getLong(0)
    val asOf = hist
      .filter(col("effective_from") <= probe &&
        (col("effective_to").isNull || col("effective_to") > probe))
      .groupBy("user_id", "event_type")
      .count()
    assert(asOf.filter(col("count") =!= 1).count() == 0,
      "as-of slice must be unique per key")
    assert(asOf.count() > 0)
  }
}
