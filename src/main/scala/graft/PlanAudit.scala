package graft

/** Dev tool: audits physical plans of every registered query for the
  * properties that matter at cluster scale — filter/projection
  * pushdown into the parquet scan, dynamic partition pruning,
  * broadcast joins for dimension tables, whole-stage codegen
  * coverage, absence of accidental cartesian products, and absence of
  * partitionless OVER() windows (a single-task funnel at scale). All
  * checks FAIL the audit (exit 1), not just print.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = Engine.session("graft-audit")
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")

    val broadcastExpected = Set(
      "q_join_multiway", "q_join_broadcast_dim", "q_join_static_contains",
      "q_ann_brute_force",
      // r17 ds shapes: every dim (customer/nation/supplier/part) must
      // ride a broadcast, never a shuffle
      "q_flagship_ds_union_profit", "q_flagship_ds_inventory_ratio",
      "q_flagship_ds_repeat", "q_flagship_ds_returns_ratio",
      "q_flagship_ds_lapsed",
      "q_flagship_ds_cross_channel_items", "q_flagship_ds_union_of_aggs",
      "q_flagship_ds_band_join",
      "q_flagship_ds_returns_net", "q_flagship_ds_rank_union",
      "q_flagship_ds_floor_band", "q_flagship_ds_monthly_pivot",
      "q_flagship_ds_single_supplier",
      // r18 ds shapes: the 50-row top-k semi set, and the dim tables
      // enriching the two-snapshot / yoy-channel survivors, must ride
      // broadcasts
      "q_flagship_ds_topk_semi", "q_flagship_ds_two_snapshots",
      "q_flagship_ds_yoy_channels",
      // r18 batch 2: the supplier/nation dim chains must broadcast
      "q_flagship_ds_or_semi", "q_flagship_ds_quarter_chain",
      // r18 batch 3: customer/nation under the rollup, part onto the
      // channel-gap survivors
      "q_flagship_ds_rollup_rank", "q_flagship_ds_channel_gap",
      // r19 ds shapes: part onto the banded fact-fact pairs, supplier
      // onto the shift movers, customer/nation around the 6-cell agg,
      // pricey keys + customer/nation onto the census
      "q_flagship_ds_restock_lag", "q_flagship_ds_week_shift",
      "q_flagship_ds_tri_channel_growth", "q_flagship_ds_pricey_type_census",
      // r20 ds shape: part onto the monthly brand aggregate feeding the
      // deviation rank
      "q_flagship_ds_deviation_rank"
    )
    // NLJ is the *intended* strategy for the contains-join (theta
    // predicate), the brute-force ANN (deliberate small cross), the
    // idle-customers scalar subquery (1-row broadcast avg joined to
    // every candidate row), and the IVF codebook assignment (k-row
    // broadcast argmin against every vector).
    val crossAllowed = Set(
      "q_join_static_contains", "q_join_cross", "q_ann_brute_force", "q_ann_lsh",
      "q_flagship_idle_customers", "q_ann_ivf",
      // 1-row broadcast scalar subqueries (threshold / max / corpus
      // total / z-order quantization bounds)
      "q_flagship_important_stock", "q_flagship_top_supplier",
      "q_text_unigram_logprob", "q_corpus_card", "q_layout_zorder",
      // k-row broadcast codebook / query-set crosses (same pattern as
      // q_ann_ivf/q_ann_brute_force): the broadcast side is k or
      // nQueries rows, independent of corpus size
      "q_ann_sq8", "q_ann_ivf_sq8", "q_dedup_semantic", "q_ann_ivf_pq",
      "q_ann_ivf_pq_rerank",
      // nQueries-row broadcast LUT-array crosses (the fused full-corpus
      // ADC scan: every candidate scored against each broadcast query
      // LUT by design)
      "q_ann_pq", "q_ann_pq_rerank",
      // 1-row broadcast bounds/percentiles (histogram + outlier gate +
      // hilbert layout quantization bounds)
      "q_profile_histogram", "q_profile_histogram_equidepth",
      "q_quality_outlier_filter", "q_layout_hilbert",
      "q_layout_zorder3",
      // k-class broadcast model fan-out (k=3 rows): the NB scorer
      // multiplies the token stream by the class count by design
      "q_text_nb_classify",
      // 1-row broadcast vocab/total scalars on the DSIR ratio model
      "q_select_dsir",
      // 1-row broadcast vocab size joined onto the pair stream
      "q_text_bigram_logprob",
      // 1-row broadcast mixture totals (Σ weights, corpus size)
      "q_mix_temperature",
      // 1-row broadcast watermark-horizon bound cut onto the dumped
      // stream-stream join rows
      "q_join_stream_stream_left", "q_join_stream_stream_full",
      "q_join_stream_stream_right",
      // 1-row broadcast bounds + totals for the PSI drift bins
      "q_profile_drift_psi",
      // 1-row broadcast query vector crossed onto the embedding scan
      // (same pattern as q_ann_brute_force)
      "q_retrieval_hybrid_rrf",
      // 10-query broadcast brute scoring (exact baseline, like
      // q_ann_brute_force) under the near-dup veto
      "q_mine_hard_negatives"
    )
    // Queries whose predicates MUST reach the parquet scan — every
    // selective filter over a base-table column. A regression here
    // (e.g. a filter moved behind a UDF or an opaque expression) turns
    // a pruned scan into a full-table read at 100 TB.
    val pushdownExpected = Set(
      "q_agg_pricing_summary", "q_agg_window_hop", "q_agg_window_session",
      "q_agg_window_session_dynamic", "q_agg_window_tumble",
      "q_ann_brute_force", "q_dedup_embedding", "q_explode_with_position",
      "q_flagship_big_orders", "q_flagship_disjunctive", "q_flagship_idle_customers",
      "q_flagship_important_stock", "q_flagship_local_supplier",
      "q_flagship_market_share", "q_flagship_min_cost_supplier",
      "q_flagship_order_distribution", "q_flagship_priority_check",
      "q_flagship_priority_class", "q_flagship_profit", "q_flagship_promo_share",
      "q_flagship_returned_items", "q_flagship_shipping_priority",
      "q_flagship_small_quantity", "q_flagship_supplier_diversity",
      "q_flagship_surplus_supplier", "q_flagship_top_supplier",
      "q_flagship_two_nation_volume", "q_flagship_waiting_supplier",
      "q_flagship_ds_frequent",
      // r17 ds shapes: returnflag/linestatus, shipdate bracket, and
      // orderdate window predicates must reach the scan.
      // (q_flagship_ds_union_profit left this list in r21: its three
      // channel slices were disjoint and exhaustive, so the union was
      // collapsed to ONE full-fact scan with a CASE channel tag — the
      // per-channel pushed filters bought nothing since every row was
      // read by exactly one channel anyway, and two of the three fact
      // scans disappeared.)
      "q_flagship_ds_inventory_ratio",
      "q_flagship_ds_repeat", "q_flagship_ds_returns_ratio",
      "q_flagship_ds_lapsed",
      "q_flagship_ds_cross_channel_items", "q_flagship_ds_union_of_aggs",
      "q_flagship_ds_band_join",
      "q_flagship_ds_returns_net", "q_flagship_ds_rank_union",
      "q_flagship_ds_banded_census", "q_flagship_ds_monthly_pivot",
      "q_flagship_ds_single_supplier",
      // r18 ds shapes: returnflag channels and the two orderdate
      // brackets must reach the scans
      "q_flagship_ds_cumulative_rank", "q_flagship_ds_two_snapshots",
      "q_flagship_ds_yoy_channels",
      "q_flagship_ds_week_pivot_yoy", "q_flagship_ds_quarter_chain",
      "q_flagship_ds_multi_supplier_clean", "q_flagship_ds_channel_gap",
      // r19 ds shapes: the two returnflag slices + p_size cut, and the
      // two orderdate brackets, must reach their scans
      "q_flagship_ds_restock_lag", "q_flagship_ds_tri_channel_growth",
      "q_flagship_ds_pricey_type_census",
      "q_join_anti", "q_join_asof", "q_join_asof_forward", "q_join_asof_native",
      "q_join_broadcast_dim", "q_join_bucketed_colocated", "q_join_inner",
      "q_join_interval", "q_join_left_outer", "q_join_multiway", "q_join_semi",
      "q_join_static_contains", "q_join_window", "q_lookup_join",
      "q_scan_partition_pruned", "q_subquery_correlated", "q_subquery_in",
      "q_subquery_scalar"
    )
    // Plans with no parquet scan at all (inline VALUES, JDBC/Derby,
    // SequenceFile via RDD bridge, the iterations driver loops whose
    // final plan is a localCheckpoint of the converged frontier/labels)
    // — exempt from scan/codegen checks.
    val nonParquet = Set(
      "q_values_inline", "q_source_jdbc_roundtrip", "q_source_sequencefile_roundtrip",
      "q_iterations_reachability", "q_dedup_clusters", "q_graph_pagerank",
      "q_dedup_centrality", "q_graph_sssp",
      // iterative trainer: result is the driver-assembled merge table
      // (each round's pair-count jobs scanned parquet; the final plan
      // is a local relation)
      "q_tokenizer_bpe",
      // greedy MMR: shortlist + pair sims are distributed scans, the
      // k-row selection is driver-assembled (bounded-collect contract)
      "q_select_mmr",
      // the returned plan reads the streaming checkpoint's state store
      // (DSv2 statestore scan), not parquet
      "q_state_queryable",
      // the returned plan aggregates the memory-sink table the
      // transformWithState query wrote
      "q_tws_keyed_profile", "q_dedup_online"
    )

    var failures = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      // scoped: query builders may register caches (sketch tables,
      // DistributedRank's range partitioning) even at plan time
      try CacheScope.scoped {
        val df = fn(spark, dir)
        val plan = df.queryExecution.executedPlan.toString
        val formatted = org.apache.spark.sql.execution.ExplainMode
          .fromString("formatted")
        val full = df.queryExecution.explainString(formatted)
        val hasScan = plan.contains("FileScan") || plan.contains("Scan parquet")
        val cartesian = plan.contains("CartesianProduct") ||
          plan.contains("BroadcastNestedLoopJoin")
        val broadcast = plan.contains("BroadcastHashJoin") ||
          plan.contains("BroadcastExchange")
        val pushed = "PushedFilters: \\[[^\\]]".r.findFirstIn(full).isDefined

        // AQE hides codegen annotations until the final plan exists, so
        // codegen coverage is measured on a one-off AQE-less replan of
        // the same query (the operators are identical; only runtime
        // re-planning is off).
        val codegenSpans = Engine.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
          fn(spark, dir).queryExecution.executedPlan.collect {
            case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
          }.size
        }

        // A Window with an empty partition spec funnels every row of
        // the stage through ONE task — never acceptable in a
        // registered query (global aggregates go through agg +
        // 1-row broadcast join instead).
        val globalWindows = df.queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => w
        }

        val problems = Seq.newBuilder[String]
        if (cartesian && !crossAllowed(name)) problems += "unexpected-cartesian/BNLJ"
        if (broadcastExpected(name) && !broadcast) problems += "missing-broadcast"
        if (pushdownExpected(name) && !pushed) problems += "missing-filter-pushdown"
        if (!hasScan && !nonParquet(name)) problems += "missing-parquet-scan"
        if (globalWindows.nonEmpty) problems += "empty-partition-window"
        if (codegenSpans == 0 && !nonParquet(name)) problems += "no-codegen-span"
        if (name == "q_scan_partition_pruned" &&
          !full.toLowerCase.contains("dynamicpruning"))
          problems += "missing-dynamic-partition-pruning"
        // The corpus scorers sum fixed-point longs through codegen'd
        // HashAggregate with map-side partial aggregation. The r14
        // regression class — a collect_list/sort_array fold — shows up
        // as ObjectHashAggregate (no partial combine: every token
        // struct crosses the shuffle); keep it impossible to
        // reintroduce silently.
        if (Set("q_text_nb_classify", "q_text_bigram_logprob",
            "q_select_dsir")(name) && plan.contains("ObjectHashAggregate"))
          problems += "scorer-lost-map-side-combine(ObjectHashAggregate)"

        val ps = problems.result()
        if (ps.nonEmpty) {
          failures += 1
          println(s"[AUDIT-FAIL] $name: ${ps.mkString(",")}")
          println(full.linesIterator.take(60).mkString("\n"))
        } else {
          println(
            f"[audit] $name%-28s scan=$hasScan%-5s codegenSpans=$codegenSpans%-3d " +
              f"broadcast=$broadcast%-5s filterPushdown=$pushed"
          )
        }
      }
      catch {
        case e: Throwable =>
          failures += 1
          println(s"[AUDIT-ERROR] $name: ${e.getMessage}")
      }
    }
    println(s"[audit] failures=$failures")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
