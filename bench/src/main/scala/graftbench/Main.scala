package graftbench

import graft.Engine
import org.apache.spark.BenchAccess
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Benchmark entry point, started by `run.py`.
  *
  *   Main generate --data <dir> --sf <sf>
  *   Main run --workload <olap|iterative|skew_stream> --seed <n> --seconds <s>
  *            --trace <0|1> --data <dir> --tiny <dir> --expected <file> --out <file>
  *            --trace-out <file> --cores <n> [--commit <id>] [--source-hash <h>]
  *            [--record-digests <file>]
  *
  * `run` writes one JSON record to `--out`: `correct`, `attempted`,
  * `failed`, `metrics` (end-to-end without tracing, per-layer with it)
  * and a `detail` object that describes the run.
  */
object Main {

  val SetupRounds = 3
  /** Queries of the closed-loop order timed at local[1] for `parallel_speedup`. */
  val SpeedupQueries = 3

  /** Every per-layer metric, in the order BENCHMARK.json lists them. A
    * layer a workload does not use reports 0.
    */
  val PerLayer: Seq[String] = Seq(
    "engine.session_ms", "engine.warmup_ms", "operators.build_ms",
    "plans.analysis_ms", "plans.optimization_ms", "plans.planning_ms",
    "execution.jobs", "execution.stages", "execution.tasks", "execution.job_ms",
    "execution.driver_gap_ms", "execution.executor_run_ms", "execution.executor_cpu_ms",
    "execution.gc_ms", "execution.input_bytes", "execution.task_max_over_median",
    "shuffle.read_bytes", "shuffle.write_bytes", "shuffle.spill_bytes",
    "streaming.batches", "streaming.add_batch_ms", "streaming.overhead_ms", "streaming.state_rows",
    "streaming.state_commit_ms",
    "skew.tick_ms", "skew.salt_max", "skew.uniform_salt_max", "skew.ticks_to_mitigate",
    "skew.replicated_dim_rows", "skew.replication_factor", "skew.keyed_task_max_over_median",
    "skew.monitor_reports", "skew.static_salt1_batch_ms", "skew.static_salt16_batch_ms",
    "gen.events", "gen.lag_p99_ms", "parallel_speedup", "trace.overhead_pct") ++
    (ClosedLoop.Olap ++ ClosedLoop.Iterative).map(q => s"q.$q.wall_ms")

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  private def parse(args: Seq[String]): Args =
    Args(args.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap)

  def session(cores: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = Engine.configure(SparkSession.builder()
      .appName("graft-bench")
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toSeq.tail)
    argv.head match {
      case "generate" =>
        val spark = session(Runtime.getRuntime.availableProcessors())
        DataGen.generate(spark, args("data"), args("sf").toDouble)
        spark.stop()
      case "run" => run(args)
      case other => sys.error(s"unknown mode $other")
    }
  }

  /** Driver heap in use after full collections, in MB: the least of 5
    * collections 200 ms apart, so blocks and broadcasts that Spark's
    * context cleaner releases asynchronously after a collection do not
    * count as retained.
    */
  private def heapRetainedMb(spark: SparkSession): Double = {
    spark.catalog.clearCache()
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  private def readExpected(path: String): Map[String, Digest] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(Paths.get(path).toFile)
      root.fields().asScala.map { e =>
        val v = e.getValue
        e.getKey -> Digest(v.get("rows").asLong, v.get("h1").asLong, v.get("h2").asLong)
      }.toMap
    }

  def run(args: Args): Unit = {
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val cores = args("cores").toInt
    val data = args("data")
    val tiny = args("tiny")
    val runId = s"$workload-$seed-${System.currentTimeMillis()}"
    val queries = workload match {
      case "olap" => ClosedLoop.Olap
      case "iterative" => ClosedLoop.Iterative
      case "skew_stream" => Nil
      case other => sys.error(s"unknown workload $other")
    }
    val order = new scala.util.Random(seed).shuffle(queries)
    val untraced = new Tracer(runId, enabled = false)
    val input = if (workload == "skew_stream") Some(new SkewStream.Input(seed, seconds,
      SkewStream.BurstEvents)) else None

    // set-up: start a session and warm up, untimed (every query of the
    // workload once on the small tables, or a short stream), so the
    // measured window does not depend on which query runs first in the
    // JVM; then start the session again, SetupRounds starts in all. The
    // first start counts from the JVM start.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    var spark: SparkSession = null
    var warmupMs = 0.0
    val sessionMs = (0 until SetupRounds).map { r =>
      val t0 = if (r == 0) jvmStartMs else untraced.now
      if (spark != null) spark.stop()
      spark = session(cores)
      val started = untraced.now
      if (r == 0) {
        input match {
          case Some(_) =>
            val warm = new SkewStream.Input(seed + 1, SkewStream.WarmupSeconds, 2000)
            SkewStream.run(spark, warm, 0, untraced)
          case None =>
            queries.foreach(q => ClosedLoop.runOnce(spark, tiny, q, untraced, digest = false))
        }
        warmupMs = untraced.now - started
      }
      started - t0
    }
    val setupS = (Stats.median(sessionMs) + warmupMs) / 1000.0

    val expected = readExpected(args("expected"))
    val record = args.get("record-digests")
    var attempted = 0
    var failed = 0
    val e2e = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
    val layers = scala.collection.mutable.LinkedHashMap[String, Double]()
    PerLayer.foreach(layers(_) = 0.0)
    layers("engine.session_ms") = Stats.median(sessionMs)
    layers("engine.warmup_ms") = warmupMs
    val detail = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "nproc" -> cores, "master" -> s"local[$cores]",
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "spark_graft_conf" -> sys.env.get("SPARK_GRAFT_CONF").orNull,
      "spark_version" -> spark.version,
      "git_commit" -> args.get("commit").orNull,
      "engine_source_sha256" -> args.get("source-hash").orNull,
      "setup_session_ms" -> sessionMs, "setup_warmup_ms" -> warmupMs)

    // with --trace 1 the measured window itself is traced: its spans and
    // listener counters give the per-layer metrics, and its outputs are
    // checked as in an untraced run
    val tracer = new Tracer(runId, enabled = traced)
    def measured[T](f: () => T, listener: Option[LayerListener] = None): T =
      if (traced) withListeners(spark, tracer, layers, listener)(f) else f()

    if (input.isEmpty) {
      // ---- olap / iterative: closed loop ----
      detail("query_order") = order
      val execs = measured { () =>
        if (traced) order.map(q => ClosedLoop.runOnce(spark, data, q, tracer, digest = true))
        else ClosedLoop.loop(spark, data, order, seconds, untraced)
      }
      val digests = scala.collection.mutable.LinkedHashMap[String, Map[String, Any]]()
      execs.foreach { e =>
        attempted += 1
        val ok = e.error.isEmpty && e.digest.exists(d =>
          record.isDefined || expected.get(e.query).contains(d))
        if (!ok) {
          failed += 1
          System.err.println(s"[bench] ${e.query}: wrong or missing output " +
            s"(got ${e.digest}, expected ${expected.get(e.query)}, error ${e.error})")
        }
        e.digest.foreach(d => digests(e.query) = d.toMap)
      }
      record.foreach(p => Files.writeString(Paths.get(p), Json(digests) + "\n"))
      val walls = execs.filter(_.error.isEmpty).map(_.wallMs)
      val passS = ClosedLoop.passSeconds(execs)
      detail("executions") = execs.map(e => Map("query" -> e.query, "wall_ms" -> e.wallMs,
        "build_ms" -> e.buildMs, "error" -> e.error.orNull))
      detail("latency_samples") = walls.size
      detail("latency_tail_percentile") = math.min(99.0, Stats.supportedPercentile(walls.size))
      e2e("setup_s") = (setupS, "s")
      e2e("pass_s") = (passS, "s")
      e2e("latency_p50_ms") = (Stats.percentile(walls, 50), "ms")
      e2e("latency_p99_ms") = (Stats.tail(walls), "ms")
      e2e("drain_per_s") = (queries.size / passS, "1/s")
      e2e("heap_retained_mb") = (heapRetainedMb(spark), "MB")

      if (traced) {
        ClosedLoop.medians(execs).foreach { case (q, ms) => layers(s"q.$q.wall_ms") = ms }
        layers("operators.build_ms") = execs.map(_.buildMs).sum
        // reference point: the first queries of the order, warm, at
        // local[nproc] and then at local[1]
        val sample = order.take(SpeedupQueries)
        def sampleWalls() = ClosedLoop.medians(
          sample.map(q => ClosedLoop.runOnce(spark, data, q, untraced, digest = false)))
        val parallel = sampleWalls()
        spark.stop()
        spark = session(1)
        val single = sampleWalls()
        val both = sample.filter(q => parallel.contains(q) && single.contains(q))
        layers("parallel_speedup") = both.map(single).sum / both.map(parallel).sum
        detail("speedup_queries") = both
        writeTrace(args("trace-out"), tracer)
      }
    } else {
      // ---- skew_stream: open loop ----
      val in = input.get
      detail("stream") = Map("rate_eps" -> SkewStream.Rate, "hot_key" -> in.hotKey,
        "hot_share" -> SkewStream.HotShare, "uniform_events" -> in.segment,
        "hot_events" -> in.segment, "burst_events" -> in.burst, "keys" -> SkewStream.Keys,
        "trigger_ms" -> SkewStream.TriggerMs)
      val listener = new LayerListener(tracer)
      val r = measured(() => SkewStream.run(spark, in, 0, tracer), Some(listener))
      val heapMb = heapRetainedMb(spark)
      val (checked, bad) = SkewStream.check(spark, r)
      attempted += checked
      failed += bad
      val lat = r.latenciesMs
      e2e("setup_s") = (setupS, "s")
      e2e("pass_s") = (r.busyMs / 1000.0, "s")
      e2e("latency_p50_ms") = (Stats.percentile(lat, 50), "ms")
      e2e("latency_p99_ms") = (Stats.tail(lat), "ms")
      e2e("drain_per_s") = (r.drainPerS, "1/s")
      e2e("heap_retained_mb") = (heapMb, "MB")
      detail("latency_samples") = lat.size
      detail("latency_tail_percentile") = math.min(99.0, Stats.supportedPercentile(lat.size))
      detail("burst_drain_ms") = r.drainMs
      detail("batches") = r.batches.map(b => Map("id" -> b.id, "salt" -> b.salt,
        "lo" -> b.lo, "hi" -> b.hi, "start_ms" -> (b.entryMs - r.t0), "ms" -> (b.endMs - b.entryMs),
        "tick_ms" -> (b.tickMs - b.entryMs),
        "replicated_rows" -> b.replicatedRows, "error" -> b.error.orNull))

      if (traced) {
        val uniform = r.batches.filter(b => b.hi >= 0 && b.hi < in.hotStart)
        val hot = r.hotBatches
        val firstMitigated = hot.indexWhere(_.salt > 1)
        val stageRows = listener.stages.asScala.toSeq
        val keyedRatios = hot.flatMap { b =>
          val inBatch = stageRows.filter(s => s.completedMs >= b.entryMs && s.completedMs <= b.endMs)
          if (inBatch.isEmpty) None else Some(listener.skewRatio(inBatch.maxBy(_.runMs)))
        }
        layers("skew.tick_ms") = Stats.median(r.batches.map(b => b.tickMs - b.entryMs))
        layers("skew.salt_max") = r.batches.map(_.salt).max.toDouble
        layers("skew.uniform_salt_max") = (uniform.map(_.salt) :+ 0).max.toDouble
        layers("skew.ticks_to_mitigate") =
          (if (firstMitigated >= 0) firstMitigated + 1 else hot.size + 1).toDouble
        val replicated = r.batches.map(_.replicatedRows).sum
        layers("skew.replicated_dim_rows") = replicated.toDouble
        layers("skew.replication_factor") = replicated.toDouble / (SkewStream.Keys * r.batches.size)
        layers("skew.keyed_task_max_over_median") =
          if (keyedRatios.isEmpty) 0.0 else Stats.median(keyedRatios)
        layers("skew.monitor_reports") = r.monitorReports.toDouble
        layers("gen.events") = in.n.toDouble
        layers("gen.lag_p99_ms") = Stats.percentile(r.appendLagMs, 99)
        // reference points: the hot segment at fixed salts, and one core
        layers("skew.static_salt1_batch_ms") = SkewStream.staticBatchMs(spark, in, 1)
        layers("skew.static_salt16_batch_ms") = SkewStream.staticBatchMs(spark, in, 16)
        spark.stop()
        spark = session(1)
        val one = SkewStream.run(spark, in, in.burstStart, untraced)
        layers("parallel_speedup") = r.drainPerS / one.drainPerS
        writeTrace(args("trace-out"), tracer)
      }
    }
    spark.stop()

    val metrics: Map[String, Any] =
      if (traced) layers.map { case (k, v) => k -> Map("value" -> v, "unit" -> unitOf(k)) }.toMap
      else e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap
    detail("end_to_end") = e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    detail("per_layer") = layers
    val out = scala.collection.immutable.ListMap[String, Any](
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics, "detail" -> detail)
    Files.writeString(Paths.get(args("out")), Json(out) + "\n")
  }

  def unitOf(metric: String): String =
    if (metric.endsWith("_ms")) "ms"
    else if (metric.endsWith("_bytes")) "bytes"
    else if (metric.endsWith("_pct")) "%"
    else if (metric.contains("over_median") || metric.endsWith("factor") ||
      metric == "parallel_speedup") "ratio"
    else "count"

  /** Run `f` with the tracing listeners attached; fold their counters
    * into `layers` once every event of the interval is delivered.
    */
  private def withListeners[T](spark: SparkSession, tracer: Tracer,
      layers: scala.collection.mutable.Map[String, Double],
      given: Option[LayerListener] = None)(f: () => T): T = {
    val sc = spark.sparkContext
    val layer = given.getOrElse(new LayerListener(tracer))
    val plans = new PlanListener(tracer)
    val streams = new StreamListener(tracer)
    BenchAccess.drainListeners(sc)
    sc.addSparkListener(layer)
    spark.listenerManager.register(plans)
    sc.addSparkListener(streams)
    val t0 = tracer.now
    val self0 = Tracer.overheadMs
    val result = try tracer.span("traced_window")(f())
    finally {
      val wall = tracer.now - t0
      BenchAccess.drainListeners(sc)
      sc.removeSparkListener(layer)
      spark.listenerManager.unregister(plans)
      sc.removeSparkListener(streams)
      layers ++= layer.layerMetrics(wall) ++ plans.totals ++ streams.totals
      layers("trace.overhead_pct") = (Tracer.overheadMs - self0) / wall * 100.0
    }
    result
  }

  private def writeTrace(path: String, tracer: Tracer): Unit =
    Files.write(Paths.get(path), tracer.spans.map(_.toJson(tracer.runId)).asJava)
}
