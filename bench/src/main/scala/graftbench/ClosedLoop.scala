package graftbench

import graft.{CacheScope, SparkEntry}
import org.apache.spark.sql.{Observation, SparkSession}

/** The `olap` and `iterative` workloads: one client runs the query list
  * back to back (a closed loop), each query built through
  * `SparkEntry.queries` and executed by a noop write, which runs every
  * operator and row. A metrics node on each execution digests its
  * output, checked against the committed digests after the clock stops.
  */
object ClosedLoop {

  val Olap: Seq[String] = Seq("q_agg_pricing_summary", "q_agg_distinct", "q_agg_window_session",
    "q_join_multiway", "q_join_asof", "q_join_interval", "q_over_running_sum", "q_topn_per_group",
    "q_skew_join", "q_skew_salted_agg", "q_skew_salted_join", "q_flagship_shipping_priority",
    "q_flagship_returned_items", "q_flagship_ds_rollup", "q_flagship_ds_union_profit",
    "q_flagship_ds_two_snapshots", "q_flagship_ds_restock_lag", "q_flagship_ds_crosssale",
    "q_timeseries_densify", "q_text_bm25")

  val Iterative: Seq[String] = Seq("q_graph_pagerank", "q_dedup_clusters", "q_tokenizer_bpe",
    "q_join_stream_stream_left", "q_join_stream_stream_full", "q_dedup_online")

  final case class Exec(query: String, wallMs: Double, buildMs: Double, digest: Option[Digest],
      error: Option[String])

  /** Build and run `name` once. Failures are returned, never thrown. */
  def runOnce(spark: SparkSession, dir: String, name: String, tracer: Tracer,
      digest: Boolean): Exec = {
    val obs = Observation(s"digest_$name")
    var buildMs = 0.0
    val t0 = tracer.now
    try {
      tracer.span("query", Map("query" -> name)) {
        CacheScope.scoped {
          val b0 = tracer.now
          val df = tracer.span("operators.build")(SparkEntry.queries(name)(spark, dir))
          buildMs = tracer.now - b0
          val out = if (digest) Digest.observe(df, obs) else df
          tracer.span("execution.write")(out.write.mode("overwrite").format("noop").save())
        }
      }
      val wall = tracer.now - t0
      Exec(name, wall, buildMs, if (digest) Some(Digest.from(obs)) else None, None)
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] $name failed: $e")
        Exec(name, tracer.now - t0, buildMs, None, Some(e.toString))
    }
  }

  /** Closed loop over `order`, in whole passes: one pass, then another
    * only while the previous pass says it would end within `seconds`,
    * so a run never stops partway through a pass. Returns every
    * execution in run order.
    */
  def loop(spark: SparkSession, dir: String, order: Seq[String], seconds: Double,
      tracer: Tracer): Seq[Exec] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Exec]
    val t0 = System.nanoTime()
    var passS = 0.0
    do {
      val p0 = System.nanoTime()
      out ++= order.map(q => runOnce(spark, dir, q, tracer, digest = true))
      passS = (System.nanoTime() - p0) / 1e9
    } while ((System.nanoTime() - t0) / 1e9 + passS <= seconds)
    out.toSeq
  }

  /** Per-query median wall over `execs`, in milliseconds. */
  def medians(execs: Seq[Exec]): Map[String, Double] =
    execs.filter(_.error.isEmpty).groupBy(_.query).map { case (q, es) =>
      q -> Stats.median(es.map(_.wallMs))
    }

  /** Sum of per-query median walls: the time of one pass, in seconds. A
    * query that never succeeded adds nothing here; it is counted as
    * failed instead.
    */
  def passSeconds(execs: Seq[Exec]): Double = medians(execs).values.sum / 1000.0
}
