package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the headline query set on SPARK_GRAFT_SF_DIR
  * and prints ONE JSON line. Materialization is a noop-format write so
  * the full plan executes (count() lets Spark prune columns and skip
  * work; noop forces every operator and row).
  */
object Bench {

  /** Representative heavy queries across operator families. The
    * exact-quadratic baselines (q_dedup_jaccard, q_dedup_embedding,
    * q_ann_brute_force's full cross) are correctness baselines, not
    * scale paths, and stay out of the headline set — their LSH
    * counterparts are in.
    */
  val headline: Seq[String] = Seq(
    "q_agg_pricing_summary",
    "q_agg_distinct",
    "q_agg_window_tumble",
    "q_agg_window_session",
    "q_join_multiway",
    "q_join_broadcast_dim",
    "q_join_asof",
    "q_join_interval",
    "q_over_running_sum",
    "q_topn_per_group",
    "q_explode_unnest",
    "q_text_fingerprint",
    "q_text_quality",
    "q_dedup_minhash_lsh",
    "q_ann_lsh",
    "q_skew_salted_agg",
    "q_skew_join",
    "q_flagship_shipping_priority",
    "q_flagship_returned_items",
    "q_flagship_big_orders",
    "q_agg_window_session_dynamic",
    "q_cep_double_error",
    "q_changelog_normalize",
    "q_lookup_join",
    // round-10 widening: the heaviest plans added since the original
    // set — ROLLUP star, 3-channel union, the funnel's flag+dedup+
    // explode pipeline, and the iterative connected-components dedup
    "q_flagship_ds_rollup",
    "q_flagship_ds_channels",
    "q_corpus_funnel",
    "q_dedup_clusters",
    // late round-10 additions: semantic dedup (cluster + within-cluster
    // near-dup), the IVF-SQ8 quantized ANN, and banded fuzzy decon
    "q_dedup_semantic",
    "q_ann_ivf_sq8",
    "q_decontaminate_fuzzy",
    // round-11 additions: the 4-subquery decorrelation census and the
    // ordered-choice NFA loop over the full events table
    "q_flagship_ds_exists_census",
    "q_cep_sql_group_alt",
    // round-11 additions: the ~n/stride chunk fanout over documents,
    // the PQ encode+ADC pipeline, the multi-distinct profiler Expand,
    // and the SCD2 history build
    "q_chunk_overlap",
    "q_ann_pq",
    "q_profile_table",
    "q_changelog_scd2",
    "q_ann_ivf_pq",
    // late round-11 additions: the MG-sketch propose + exact-verify
    // heavy hitters, the 12-round iterative BPE trainer, and the
    // Hilbert-curve layout stats
    "q_text_heavy_hitters",
    "q_tokenizer_bpe",
    "q_layout_hilbert",
    "q_dedup_prefix_filter",
    "q_merge_upsert",
    "q_join_range_binned",
    "q_ann_ivf_pq_rerank",
    // round-13 additions: the Q23-shape double-subquery decorrelation,
    // the MEASURES-navigation NFA pass over the full events table, the
    // k-class NB scorer (token stream ×3 against the likelihood join),
    // and the Q64-shape fused cross-sale
    "q_flagship_ds_frequent",
    "q_cep_sql_nav_measures",
    "q_text_nb_classify",
    "q_flagship_ds_crosssale",
    // the bigram-LM perplexity filter: n-gram count tables + two
    // skewed equi-joins back onto the pair stream
    "q_text_bigram_logprob",
    // late round-13 additions: the 5-round PageRank driver loop
    // (iteration cost = join + agg + checkpoint per round) and the
    // linear-in-corpus n-gram repetition gate (two-level agg over an
    // exploded token stream)
    "q_graph_pagerank",
    "q_text_repetition_ngram",
    // the hourly-grid explode + per-key LOCF window, and the
    // sessionize + ordered-collect journey corpus
    "q_timeseries_densify",
    "q_sessions_sequences",
    // corpus-scan BM25 (explode + two-level agg + sort-limit) and the
    // hybrid RRF fusion (two DistributedRank global rankings)
    "q_text_bm25",
    "q_retrieval_hybrid_rrf",
    // round-14 addition: the DSIR importance-ratio selector (two
    // unigram models + a per-token fixed-point fold over the corpus)
    "q_select_dsir",
    // round-15 additions: the r14 operators that were oracle-green but
    // unbenched — streaming state cost is exactly what the 100x-scale
    // story needs numbers for. The three outer stream-stream joins
    // (symmetric hash join state both sides + watermark-horizon null
    // extension) and the state-API-v2 online dedup over the document
    // stream.
    "q_join_stream_stream_left",
    "q_join_stream_stream_right",
    "q_join_stream_stream_full",
    "q_dedup_online",
    // round-17 additions: the heaviest of the new TPC-DS shapes — the
    // 3-channel union under a ROLLUP (3 fact scans + Expand) and the
    // dual-fact ratio join (two fact aggs co-partitioned on partkey)
    "q_flagship_ds_union_profit",
    "q_flagship_ds_returns_ratio",
    // round-18 addition: the fork's namesake path — the salted join at
    // a fixed salt of 8 (replicate the small side, salt the hot key) —
    // so regressions in the Reshape layer show up as numbers in the
    // bench chain, not only as correctness rows; the closed loop is
    // timed by the benchmark's skew_stream workload
    "q_skew_salted_join",
    // round-19 additions: the two most expensive round-18 plan shapes,
    // previously correctness-only — the dual-snapshot fact-fact join
    // (two bracket-pruned fact aggregates co-partitioned on a compound
    // key) and the zipped opposite-direction global rankings (cached
    // base aggregate + two DistributedRank passes)
    "q_flagship_ds_two_snapshots",
    "q_flagship_ds_rank_pair",
    // round-20 addition: the date-banded fact-fact sort-merge join
    // (equi partkey + 30-day band residual between two returnflag
    // slices of lineitem) — the most expensive correctness-only plan
    // shape left in the registry, and the only r19 ds shape whose cost
    // was unmeasured
    "q_flagship_ds_restock_lag",
    // round-21 addition: the r20 deviation-rank shape (two windows +
    // rank sharing one (brand, yr) shuffle) — the only registered ds
    // shape that had never been timed
    "q_flagship_ds_deviation_rank"
  )

  /** Healthy-window reference time of [[calibrateOnce]] on this
    * project's canonical bench host (local[32], min-of-3 measured
    * 2026-08-14 with the overflow-safe formula below; see README
    * "Bench calibration"). The published `calibration_ratio` =
    * observed / this, and is only meaningful when `cpus` in the same
    * JSON line equals [[CalibrationRefCpus]] — on any other
    * parallelism the fixed workload takes proportionally longer and
    * the ratio must be read against the emitted cpu count, not as
    * host throttling. A ratio well above 1 at the canonical cpu count
    * (the r10→r11 throttle episodes measured 1.25–1.46× on UNTOUCHED
    * plans) means the HOST was degraded during the record — per-query
    * comparisons across rounds must be read against the ratio before
    * calling anything a code regression.
    */
  val CalibrationRefSec = 0.36
  val CalibrationRefCpus = 32

  /** Fixed CPU-bound calibration workload — measures the host, not the
    * engine: a constant-size in-memory hash/arithmetic aggregation
    * (whole-stage codegen, no I/O, no shuffle beyond the final 1-row
    * agg, independent of SF and of any code that changes per round).
    * `h % 1000000000` keeps the running sum far inside Int64 (2^28
    * rows × <2^30 each < 2^58), so the ANSI-mode overflow check that
    * killed the r12 record can never fire.
    */
  def calibrateOnce(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 192L << 20, 1L, 32)
      .selectExpr("xxhash64(id) % 1000000000 AS h")
      .selectExpr("sum(h) AS s", "avg(abs(h % 1000000)) AS a")
      .write.mode("overwrite").format("noop").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Min-of-K calibration that can never take down the bench record: a
    * failing calibration degrades to None (published as null), it does
    * not kill the JVM before the query timings exist.
    */
  def calibrate(spark: SparkSession, repeats: Int): Option[Double] =
    try Some((1 to repeats).map(_ => calibrateOnce(spark)).min)
    catch {
      case e: Throwable =>
        System.err.println(s"[bench] calibration failed: ${e.getMessage}")
        None
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Engine.cpus
    // optional subset filter (comma-separated query names) for
    // cross-round A/B runs: restricting a fresh JVM to exactly an older
    // record's query set separates suite-growth JVM pressure (GC /
    // code-cache from 56 queries sharing one process) from real
    // shared-path regressions. Unknown names fail fast.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map { s =>
        val names = s.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val unknown = names -- headline.toSet
        require(unknown.isEmpty, s"SPARK_GRAFT_BENCH_ONLY names not in headline: $unknown")
        names
      }
    val selected = only.fold(headline)(names => headline.filter(names))
    // K repeats per query IN THE SAME JVM; per-query min is the reported
    // number. Min-of-N is the standard defense against noisy-neighbor /
    // burst-throttled environments: external interference only ever adds
    // time, so the minimum is the best estimator of the code's true cost.
    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "3").toInt.max(1)
    val spark = Engine.session("graft-bench")
    // untimed warmup: JIT + codegen + parquet footer caches
    try SparkEntry
      .queries("q_agg_pricing_summary")(spark, sfDir)
      .write.mode("overwrite").format("noop").save()
    catch { case _: Throwable => () }
    // A failed run returns None and is EXCLUDED from the samples — an
    // elapsed-until-failure time is not a timing of the query, and
    // min-of-K would otherwise select a fast failure as a perf win.
    // Failure counts are published in the record ("failed") so a
    // flaky query is visible in the JSON, not only on stderr.
    def runOnce(name: String): Option[Double] = {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      // scoped: operator-internal caches are released per query, so the
      // timing includes the cache's full lifecycle and queries don't
      // inherit each other's pinned blocks
      try {
        CacheScope.scoped {
          fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        }
        Some((System.nanoTime() - t0) / 1e9)
      }
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          None
      }
    }
    // host self-calibration: min-of-K of the fixed workload, sampled
    // BEFORE and AFTER the query rounds so a throttle window opening
    // mid-run is still visible in the published ratio
    val calBefore = calibrate(spark, repeats)
    // Interleave rounds (all queries once, then again) rather than
    // back-to-back repeats of one query, so a transient throttling window
    // cannot inflate all K samples of the same query.
    val rawSamples: Map[String, Seq[Option[Double]]] = {
      val rounds = (1 to repeats).map(_ => selected.map(n => n -> runOnce(n)))
      selected.map(n => n -> rounds.map(_.toMap.apply(n))).toMap
    }
    // queries with at least one successful repeat keep their (real)
    // samples; all-failed queries drop out of mins/medians/total
    val firstPass: Map[String, Seq[Double]] =
      rawSamples.view.mapValues(_.flatten).filter(_._2.nonEmpty).toMap
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // Suspect-retime pass: a first-pass median >1.5x its own min means
    // at least half the repeats hit external interference — and when
    // the interference window covered ALL K repeats, even the min is
    // inflated and would stand as this round's official number (the
    // r18 record shipped two such mins; the same-commit control showed
    // both ~2x too slow). Give each flagged query K more runs NOW, in
    // what is statistically a different host window (the whole suite
    // has run in between), and let min-of-all decide. The retimed set
    // is published so the record shows which mins had a second window.
    val retimed = selected.filter(n => firstPass.get(n).exists(xs =>
      xs.min > 0 && median(xs) / xs.min > 1.5))
    // retime runs kept as Options so their failures count too: a query
    // that flaked during its retime window must show in the published
    // `failed` map, not only as a silently smaller merged sample set
    val retimeRuns: Map[String, Seq[Option[Double]]] =
      retimed.map(n => n -> (1 to repeats).map(_ => runOnce(n))).toMap
    val samples: Map[String, Seq[Double]] = firstPass ++ retimed.map { n =>
      n -> (firstPass(n) ++ retimeRuns(n).flatten)
    }
    // failure counts over ALL runs (first pass + retime pass)
    val failures: Map[String, Int] = rawSamples
      .map { case (n, xs) => n -> (xs ++ retimeRuns.getOrElse(n, Nil)) }
      .view.mapValues(_.count(_.isEmpty)).filter(_._2 > 0).toMap
    val timed = selected.filter(samples.contains)
    val calAfter = calibrate(spark, repeats)
    // worst of the two windows: a throttle opening mid-run must show
    val calibration = (calBefore.toSeq ++ calAfter.toSeq)
      .reduceOption((a: Double, b: Double) => math.max(a, b))
    val calRatio = calibration.map(_ / CalibrationRefSec)
    val mins = timed.map(n => n -> samples(n).min)
    val qs = mins
      .map { case (k, v) => Json.str(k) + f":$v%.3f" }
      .mkString("{", ",", "}")
    val meds = timed
      .map(n => Json.str(n) + f":${median(samples(n))}%.3f")
      .mkString("{", ",", "}")
    // environment-suspect flags, in the record itself: a median that
    // sits >1.5x above the same JVM's min means at least half the
    // repeats hit external interference (throttle burst, noisy
    // neighbor) — the r13 record had three such medians that read as
    // code regressions until a calibrated re-run dissolved them.
    // Cross-round comparisons must use MIN for flagged queries.
    // flag computed on the MERGED samples: a query that stayed >1.5x
    // even after its retime window is still environment-suspect and
    // cross-round comparisons must use its min with that caveat
    val suspect = timed
      .filter(n => samples(n).min > 0 && median(samples(n)) / samples(n).min > 1.5)
      .map(Json.str).mkString("[", ",", "]")
    val retimedJson = retimed.map(Json.str).mkString("[", ",", "]")
    val total = mins.map(_._2).sum
    val calS = calibration.map(c => f"$c%.3f").getOrElse("null")
    val calR = calRatio.map(r => f"$r%.2f").getOrElse("null")
    // per-query failure counts (runs excluded from the samples above);
    // {} on a clean record — a non-empty map is a red flag the driver
    // and the next round's comparison must see in the JSON itself
    val failedJson = failures.toSeq.sorted
      .map { case (k, v) => Json.str(k) + s":$v" }
      .mkString("{", ",", "}")
    // queries_timed vs queries_selected makes an all-failed dropout
    // visible from the total line alone: total_of_mins silently shrinks
    // its query set when a query fails every repeat, so cross-round
    // total comparisons are only valid when the two counts match.
    // extra_conf: the literal SPARK_GRAFT_CONF override string applied
    // to this session, or null at published defaults — a record made
    // under an override must describe itself
    val extraConf = sys.env.get("SPARK_GRAFT_CONF").fold("null")(Json.str)
    val sf = Json.str(sfDir)
    val line =
      f"""{"metric":"total_of_mins","value":$total%.3f,"unit":"sec","repeats":$repeats,"cpus":$cpus,"extra_conf":$extraConf,"queries_timed":${timed.size},"queries_selected":${selected.size},"calibration_s":$calS,"calibration_ref_s":$CalibrationRefSec%.3f,"calibration_ref_cpus":$CalibrationRefCpus,"calibration_ratio":$calR,"suspect":$suspect,"retimed":$retimedJson,"failed":$failedJson,"queries":$qs,"medians":$meds,"sf":$sf}"""
    println(line)
    // the driver tail-parses stdout and sbt appends its own "[success]"
    // trailer after this line, so the stdout copy can be missed — also
    // write the record whole to a file the driver (and the repo's
    // evidence commits) can pick up verbatim
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outPath), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    spark.stop()
    // The driver tail-captures stdout, so a long record line loses its
    // HEAD (r15/r16 both parsed null despite the file sink above). Emit
    // one short summary — scalars only, no per-query maps — as the very
    // LAST stdout line (after spark.stop(), so no executor-shutdown log
    // line can land after it): the tail always keeps a short last line
    // intact. Full per-query maps live in the big line and the file.
    println(
      f"""{"metric":"total_of_mins","value":$total%.3f,"unit":"sec","summary":true,"queries_timed":${timed.size},"queries_selected":${selected.size},"calibration_ratio":$calR,"suspect":$suspect,"retimed":$retimedJson,"failed":$failedJson,"sf":$sf,"detail":${Json.str(outPath)}}""")
  }
}
