package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale gates that only mean something on the sf1 probe:
  *
  *  1. Sketch recall — the 4 `no_oracle` probabilistic operators
  *     (MinHash-LSH, SimHash, hyperplane-LSH ANN, IVF ANN) carry
  *     recall specs at small SF; these re-prove the same thresholds at
  *     10× volume, where bucket occupancy, hot-bucket guards and AQE
  *     layouts actually differ. A sketch whose recall collapses only
  *     at volume is exactly the failure the small-SF specs can't see.
  *  2. Skew split — asserts AQE's OptimizeSkewedJoin actually fires
  *     (`skew=true` in the final adaptive plan) on the probe's
  *     hot-key layout, with the split thresholds scaled to the probe's
  *     partition sizes the same way a 100 TB deployment scales them to
  *     its own. The salted/AQE answers were always oracle-checked for
  *     value-identity; this pins the *mechanism* at data volume.
  *
  * Returned results are printed and folded into VerifySf1's exit code;
  * the committed SCALECHECK_sf1.json records them per round.
  */
object Sf1Gates {

  final case class Gate(name: String, pass: Boolean, detail: String)

  def run(spark: SparkSession, dir: String, only: Set[String] = Set.empty): Seq[Gate] = {
    val all = Seq[(String, () => Gate)](
      "minhash_lsh_recall_sf1" -> (() => minhashRecall(spark, dir)),
      "simhash_sanity_sf1" -> (() => simhashSanity(spark, dir)),
      "ann_lsh_recall_sf1" -> (() => annLshRecall(spark, dir)),
      "ann_ivf_recall_sf1" -> (() => annIvfRecall(spark, dir)),
      "ann_planted_recall_sf1" -> (() => plantedRecall(spark, dir)),
      "ann_ivf_lloyd_planted_recall_sf1" -> (() => ivfLloydPlantedRecall(spark, dir)),
      "ann_sq8_planted_recall_sf1" -> (() => sq8PlantedRecall(spark, dir)),
      "pq_planted_codes_sf1" -> (() => pqPlantedCodes(spark, dir)),
      "fuzzy_decon_sanity_sf1" -> (() => fuzzyDeconSanity(spark, dir)),
      "aqe_skew_split_sf1" -> (() => skewSplit(spark, dir)),
      "semantic_cluster_bound_sf1" -> (() => semanticClusterBound(spark, dir)),
      "hll_accuracy_sf1" -> (() => hllAccuracy(spark, dir)),
      "gk_accuracy_sf1" -> (() => gkAccuracy(spark, dir)),
      "cep_state_bound_sf1" -> (() => cepStateBound(spark, dir)),
      "heavy_hitters_sf1" -> (() => heavyHitters(spark, dir)),
      "bpe_reference_parity_sf1" -> (() => bpeParity(spark, dir)),
      "hilbert_narrowness_sf1" -> (() => hilbertNarrowness(spark, dir)),
      "adaptive_cc_chain_sf1" -> (() => adaptiveCcChain(spark, dir))
    )
    all.collect { case (n, g) if only.isEmpty || only(n) => g() }
  }

  private def pairs(df: org.apache.spark.sql.DataFrame, a: String, b: String) =
    df.select(a, b).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** MinHash-LSH vs exact Jaccard at sf1: candidates are verified with
    * the same exact-Jaccard predicate, so false positives are
    * impossible; the gate is banding recall. 16 bands × 4 rows at the
    * J≥0.8 cut gives per-pair miss ≈ 2e-4 at the threshold and ~1e-6
    * at the planted J≥0.9 — demand ≥ 0.995 overall.
    */
  private def minhashRecall(spark: SparkSession, dir: String): Gate =
    CacheScope.scoped {
      val exact = pairs(SparkEntry.queries("q_dedup_jaccard")(spark, dir), "d1", "d2")
      val lsh = pairs(SparkEntry.queries("q_dedup_minhash_lsh")(spark, dir), "d1", "d2")
      val fp = lsh -- exact
      val recall =
        if (exact.isEmpty) 1.0 else (lsh & exact).size.toDouble / exact.size
      Gate(
        "minhash_lsh_recall_sf1",
        fp.isEmpty && recall >= 0.995,
        f"exact=${exact.size} lsh=${lsh.size} recall=$recall%.6f falsePos=${fp.size}"
      )
    }

  private def simhashSanity(spark: SparkSession, dir: String): Gate =
    CacheScope.scoped {
      val rows = SparkEntry.queries("q_dedup_simhash")(spark, dir).collect()
      val ordered = rows.forall(r => r.getLong(0) < r.getLong(1))
      val hamming = rows.forall(r => r.getInt(2) <= 3)
      Gate(
        "simhash_sanity_sf1",
        rows.nonEmpty && ordered && hamming,
        s"pairs=${rows.length} ordered=$ordered hammingCutoff=$hamming"
      )
    }

  private def annRecall(
      spark: SparkSession,
      dir: String,
      name: String,
      query: String,
      threshold: Double
  ): Gate =
    CacheScope.scoped {
      val brute =
        pairs(SparkEntry.queries("q_ann_brute_force")(spark, dir), "q_id", "cand_id")
      val approx = pairs(SparkEntry.queries(query)(spark, dir), "q_id", "cand_id")
      val recall =
        if (brute.isEmpty) 1.0 else (approx & brute).size.toDouble / brute.size
      Gate(
        name,
        approx.nonEmpty && recall >= threshold,
        f"brute=${brute.size} approx=${approx.size} recall=$recall%.4f (>= $threshold)"
      )
    }

  /** Same thresholds the small-SF DedupSimilaritySpec proves: the
    * random-embedding corpus bounds achievable bucketing recall; the
    * gate is that 10× volume does not degrade it.
    */
  private def annLshRecall(spark: SparkSession, dir: String): Gate =
    annRecall(spark, dir, "ann_lsh_recall_sf1", "q_ann_lsh", 0.2)

  private def annIvfRecall(spark: SparkSession, dir: String): Gate =
    annRecall(spark, dir, "ann_ivf_recall_sf1", "q_ann_ivf", 0.25)

  /** REAL recall on planted pairs: ScaleUp injects an ε-rotated copy of
    * each ANN query vector at vec_id + PlantOffset with cosine ~1 — an
    * unambiguous rank-1 neighbor no random corpus provides. Brute force
    * must find every planted pair (it is exact — recall 1.0 validates
    * the fixture itself); LSH and IVF must each retrieve >= 0.9. This is
    * the assertion the corpus-floor gates above (0.2/0.25) cannot make.
    */
  private def plantedRecall(spark: SparkSession, dir: String): Gate =
    CacheScope.scoped {
      val expected = (0L until ScaleUp.PlantedQueries.toLong)
        .map(q => (q, q + ScaleUp.PlantOffset))
        .toSet
      def hits(query: String): Int =
        (pairs(SparkEntry.queries(query)(spark, dir), "q_id", "cand_id") & expected).size
      val brute = hits("q_ann_brute_force")
      val lsh = hits("q_ann_lsh")
      val ivf = hits("q_ann_ivf")
      val need = math.ceil(expected.size * 0.9).toInt
      Gate(
        "ann_planted_recall_sf1",
        brute == expected.size && lsh >= need && ivf >= need,
        s"planted=${expected.size} brute=$brute lsh=$lsh ivf=$ivf (brute=all, lsh/ivf>=$need)"
      )
    }

  /** The Lloyd-refined IVF path against the same planted fixture: the
    * registered q_ann_ivf runs the SEED coarse quantizer (hash-oracled,
    * round 17), so the refinement variant keeps its own sf1-scale
    * recall evidence here — refinement moves cell boundaries and must
    * not lose the planted ε-rotated rank-1 neighbors.
    */
  private def ivfLloydPlantedRecall(spark: SparkSession, dir: String): Gate =
    CacheScope.scoped {
      val expected = (0L until ScaleUp.PlantedQueries.toLong)
        .map(q => (q, q + ScaleUp.PlantOffset))
        .toSet
      val emb = Engine.Tables(spark, dir).embeddings
      val got = pairs(
        graft.operators.SimilarityQueries.ivfTopK(emb, 10, 5, lloydIters = 2),
        "q_id", "cand_id")
      val hits = (got & expected).size
      val need = math.ceil(expected.size * 0.9).toInt
      Gate(
        "ann_ivf_lloyd_planted_recall_sf1",
        hits >= need,
        s"planted=${expected.size} lloyd_ivf=$hits (>= $need)"
      )
    }

  /** The quantized ANN paths against the same planted fixture: int8
    * quantization noise is far below the plant's ε-rotation, so the
    * full SQ8 scan and the IVF-SQ8 composite must both keep the
    * planted rank-1 neighbors (same ≥0.9 bar as float LSH/IVF; the
    * composite's misses are IVF cell misses, not quantization).
    */
  private def sq8PlantedRecall(spark: SparkSession, dir: String): Gate =
    CacheScope.scoped {
      val expected = (0L until ScaleUp.PlantedQueries.toLong)
        .map(q => (q, q + ScaleUp.PlantOffset))
        .toSet
      def hits(query: String): Int =
        (pairs(SparkEntry.queries(query)(spark, dir), "q_id", "cand_id") & expected).size
      val sq8 = hits("q_ann_sq8")
      val ivfSq8 = hits("q_ann_ivf_sq8")
      val need = math.ceil(expected.size * 0.9).toInt
      Gate(
        "ann_sq8_planted_recall_sf1",
        sq8 >= need && ivfSq8 >= need,
        s"planted=${expected.size} sq8=$sq8 ivf_sq8=$ivfSq8 (>= $need)"
      )
    }

  /** PQ at sf1 volume, two assertions:
    *
    *  1. Code identity (bar ≥80%): an ε-rotated plant lands on the
    *     SAME 4 subcodes as its query. This is boundary physics, not a
    *     guarantee — a query whose subvector sits within ε of a
    *     Voronoi face legitimately flips that subcode (observed: 2/10
    *     at the first sf1 run), so the bar tolerates ≤2 flips and a
    *     worse count flags a real quantizer regression.
    *  2. Retrieval through the DEPLOYED shape (bar ≥90%): raw ADC
    *     rank is hostage to the query's own quantization residual
    *     once thousands of vectors share nearby codes (at sf1 >1000
    *     candidates tie at ADC 0 for a seed-coincident query), which
    *     is exactly why production PQ reranks — higher-resolution
    *     codes (64/subspace) + top-200 ADC shortlist + exact rerank
    *     must place the plant in the top-10 for ≥9/10 queries.
    */
  private def pqPlantedCodes(spark: SparkSession, dir: String): Gate =
    CacheScope.scoped {
      val q = SparkEntry.queries("q_embed_quantize_pq")(spark, dir)
        .select("vec_id", "c0", "c1", "c2", "c3")
        .filter(col("vec_id") < ScaleUp.PlantedQueries ||
          (col("vec_id") >= ScaleUp.PlantOffset &&
            col("vec_id") < ScaleUp.PlantOffset + ScaleUp.PlantedQueries))
        .collect()
        .map(r => r.getLong(0) -> Seq(r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
        .toMap
      val matches = (0L until ScaleUp.PlantedQueries.toLong).count { i =>
        (q.get(i), q.get(i + ScaleUp.PlantOffset)) match {
          case (Some(a), Some(b)) => a == b
          case _ => false
        }
      }
      val expected = (0L until ScaleUp.PlantedQueries.toLong)
        .map(i => (i, i + ScaleUp.PlantOffset)).toSet
      import operators.SimilarityQueries.{pqTopK, rerankExact}
      val emb = Engine.Tables(spark, dir).embeddings
      val reranked = rerankExact(emb,
          pqTopK(emb, ScaleUp.PlantedQueries, k = 200, numCodes = 64), k = 10)
        .select(col("q_id"), col("cand_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val hits = (reranked & expected).size
      val needCodes = ScaleUp.PlantedQueries - 2
      val needHits = math.ceil(ScaleUp.PlantedQueries * 0.9).toInt
      Gate(
        "pq_planted_codes_sf1",
        matches >= needCodes && hits >= needHits,
        s"planted=${ScaleUp.PlantedQueries} codeMatch=$matches (>= $needCodes) " +
          s"rerankedHits=$hits (>= $needHits, codes=64 L=200 k=10)"
      )
    }

  /** Fuzzy decontamination at sf1: the banded cross-corpus join must
    * complete without degenerate buckets and every flagged doc must
    * carry an exactly-verified score at or above the threshold (the
    * planted near-dup corpus guarantees some cross-split leakage).
    */
  private def fuzzyDeconSanity(spark: SparkSession, dir: String): Gate =
    CacheScope.scoped {
      val rows = SparkEntry.queries("q_decontaminate_fuzzy")(spark, dir).collect()
      val bounded = rows.forall { r =>
        val j = r.getAs[Double]("max_jaccard")
        val c = r.getAs[Double]("max_containment")
        j <= 1.0 && c <= 1.0 && (j >= 0.8 || c >= 0.8) &&
          r.getAs[Long]("n_bench_hits") >= 1L
      }
      Gate(
        "fuzzy_decon_sanity_sf1",
        rows.nonEmpty && bounded,
        s"flaggedDocs=${rows.length} scoresBounded=$bounded"
      )
    }

  /** Semantic-dedup cluster bound at sf1: the round-11 k derivation
    * (k = ceil(N / SemanticTargetClusterRows), floor 32, cap 65536)
    * must actually ENGAGE at probe volume — k strictly above the floor
    * proves the corpus-derived path ran, and the max ASSIGNMENT size
    * (pre-drop, the quantity that bounds the within-cluster pairwise
    * work) must stay within a skew factor of the expected cluster
    * size. This is the gate the round-10 verdict asked for: fixed
    * k=32 was the suite's only 100-TB scale-killer.
    */
  private def semanticClusterBound(spark: SparkSession, dir: String): Gate =
    CacheScope.scoped {
      import graft.operators.DedupQueries
      val (asg, k, n) = DedupQueries.semanticAssign(spark, dir)
      val expectedK = DedupQueries.semanticK(n)
      val agg = asg.groupBy(col("cluster_id")).count()
        .agg(max(col("count")).as("mx"), count(lit(1)).as("nc"),
          sum(col("count") * col("count")).as("work"))
        .collect().head
      val maxSize = agg.getLong(0)
      val nClusters = agg.getLong(1)
      val pairWork = agg.getLong(2)
      val avg = math.max(DedupQueries.SemanticTargetClusterRows, (n + k - 1) / k)
      // Two bounds. (1) The COST model — what actually limits 100 TB:
      // total within-cluster pairwise work Σ size² must stay within a
      // constant factor of the balanced ideal N·avg (a fixed k would
      // fail this at 100× data by 100×; derived k keeps it flat).
      // (2) A max-cluster tail bound: random-seed Voronoi cells are
      // heavy-tailed (max/avg grows ~log k, observed ~10x at k=40), so
      // the per-cluster cap is 16x avg — loose enough for the tail,
      // tight enough to catch degenerate collapse (a half-corpus
      // cluster is ~20x at this probe). AQE skew-split absorbs the hot
      // cluster inside the self-join either way.
      val workBound = 8L * n * avg
      val maxBound = 16L * avg
      Gate(
        "semantic_cluster_bound_sf1",
        k == expectedK && k > DedupQueries.SemanticMinK &&
          pairWork <= workBound && maxSize <= maxBound && nClusters <= k,
        s"n=$n k=$k (floor=${DedupQueries.SemanticMinK}, derived) " +
          s"clusters=$nClusters maxCluster=$maxSize (<= $maxBound) " +
          s"pairWork=$pairWork (<= $workBound, balanced=${n * avg})"
      )
    }

  /** HLL++ accuracy at sf1: |approx - exact| / exact <= 2% per group
    * (rsd = 0.01 in the operator; the 2% band is the same one
    * SketchAccuracySpec proves at test scale — this re-proves it at
    * probe volume where register saturation could differ).
    */
  private def hllAccuracy(spark: SparkSession, dir: String): Gate =
    CacheScope.scoped {
      val approx = SparkEntry.queries("q_agg_approx_distinct")(spark, dir)
        .select(col("o_orderstatus"), col("approx_cust"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val exact = Engine.Tables(spark, dir).orders
        .groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("x"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val errs = exact.map { case (g, e) =>
        g -> (if (e == 0) 0.0 else math.abs(approx.getOrElse(g, 0L) - e).toDouble / e)
      }
      val worst = errs.values.foldLeft(0.0)(math.max)
      Gate(
        "hll_accuracy_sf1",
        approx.keySet == exact.keySet && worst <= 0.02,
        f"groups=${exact.size} worstRelErr=$worst%.5f (<= 0.02)"
      )
    }

  /** Greenwald-Khanna accuracy at sf1: the approx p50/p95 per group
    * must sit within 2% relative value error of the exact percentile
    * (accuracy=5000 bounds RANK error at n/5000; on lineitem's price
    * distribution that implies well under 2% value error — the gate
    * pins the implication at probe volume).
    */
  private def gkAccuracy(spark: SparkSession, dir: String): Gate =
    CacheScope.scoped {
      val approx = SparkEntry.queries("q_agg_approx_percentiles")(spark, dir)
        .select(col("l_returnflag"), col("p50"), col("p95"))
        .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      val exact = Engine.Tables(spark, dir).lineitem
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_extendedprice, 0.5)").as("p50"),
          expr("percentile(l_extendedprice, 0.95)").as("p95"))
        .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      val errs = exact.map { case (g, (e50, e95)) =>
        val (a50, a95) = approx.getOrElse(g, (0.0, 0.0))
        g -> math.max(math.abs(a50 - e50) / e50, math.abs(a95 - e95) / e95)
      }
      val worst = errs.values.foldLeft(0.0)(math.max)
      Gate(
        "gk_accuracy_sf1",
        approx.keySet == exact.keySet && worst <= 0.02,
        f"groups=${exact.size} worstRelErr=$worst%.5f (<= 0.02)"
      )
    }

  /** Streaming MATCH_RECOGNIZE state bound at sf1: drive the REAL
    * streaming operator (MatchRecognize.relationStreamRun) over a
    * time-ordered, heavily skewed keying of the probe's events (3/4
    * of ~1M rows on one key) with a worst-case always-matching loop
    * pattern `E+ V` under WITHIN '2' MINUTE, and assert the live
    * partial-match count per key (CepStateProbe) tracked the WITHIN
    * horizon — bounded by rows-per-2-minute-window on the hot key —
    * not the stream length. This is the 100-TB NFA-state worry the
    * verdict named: ~750k hot-key rows must never be simultaneously
    * live partials.
    */
  private def cepStateBound(spark: SparkSession, dir: String): Gate = {
    import graft.streaming.MatchRecognize
    val events = Engine.Tables(spark, dir).events
    val keyed = events.withColumn(
      "skew_key",
      when(col("event_id") % 4 =!= 0, lit(0L)).otherwise(col("user_id")))
    // materialize a time-range-partitioned copy so the file stream
    // replays in event-time order (a kafka-like arrival pattern);
    // pin ascending mtimes — the file source admits by mod time
    val path = s"$dir/__cep_gate_events.parquet"
    keyed.repartitionByRange(24, col("ts"))
      .sortWithinPartitions(col("ts"))
      .write.mode("overwrite").parquet(path)
    val parts = new java.io.File(path).listFiles()
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    parts.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(1700000000000L + i * 1000L) }
    // data-derived bound: max rows in any 2-minute sliding window on
    // the hot key (pair-sum over tumbling windows bounds sliding max)
    val tumbles = keyed.filter(col("skew_key") === 0L)
      .groupBy(window(col("ts"), "2 minutes")).count()
      .orderBy(col("window.start"))
      .select(col("count")).collect().map(_.getLong(0))
    val slidingBound =
      if (tumbles.length < 2) tumbles.headOption.getOrElse(0L)
      else tumbles.sliding(2).map(_.sum).max
    val hotRows = keyed.filter(col("skew_key") === 0L).count()
    val src = spark.readStream
      .schema(keyed.schema)
      .option("maxFilesPerTrigger", "2")
      .parquet(path)
    val out = MatchRecognize.detectRelationStream(src, """
      MATCH_RECOGNIZE (
        PARTITION BY skew_key
        ORDER BY ts
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN (E+ V)
        WITHIN INTERVAL '2' MINUTE
        DEFINE E AS value IS NOT NULL,
               V AS value IS NULL AND value IS NOT NULL
      )""", "1 minute")
    val ckpt = graft.TempPaths
      .dir("graft_cep_gate").toString
    MatchRecognize.CepStateProbe.reset()
    MatchRecognize.CepStateProbe.enabled = true
    try {
      val q = out.writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally MatchRecognize.CepStateProbe.enabled = false
    val maxP = MatchRecognize.CepStateProbe.maxPartials.get()
    val bound = 2L * slidingBound + 64L
    Gate(
      "cep_state_bound_sf1",
      maxP >= 16L && maxP <= bound && hotRows > 10L * bound,
      s"hotRows=$hotRows slidingWindowRows<=$slidingBound " +
        s"maxLivePartials=$maxP bound=$bound " +
        s"maxBuffer=${MatchRecognize.CepStateProbe.maxBuffer.get()}"
    )
  }

  /** Build the q_skew_join hot-key shape on the probe's events table
    * and assert the executed adaptive plan contains a skew=true
    * sort-merge join. Thresholds are scaled to the probe volume (the
    * 256 MB default is sized for production partitions; the probe's
    * hot partition is tens of MB) and broadcast is disabled so the
    * join shuffles — at 100 TB neither side of a fact-fact join
    * broadcasts, which is precisely when skew splitting matters.
    *
    * The dim side is MATERIALIZED to parquet first: OptimizeSkewedJoin
    * only matches SMJ(Sort(ShuffleStage), Sort(ShuffleStage)), so an
    * on-the-fly `distinct()` dim (HashAggregate above the stage on the
    * dim side) silently disables the split — a real operational rule
    * at scale: keep dim sides of skew-prone joins materialized tables,
    * or pre-salt (q_skew_salted_join covers the engine-side fallback).
    */
  private def skewSplit(spark: SparkSession, dir: String): Gate =
    Engine.withConf(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      // thresholds scaled to the probe's MEASURED compressed shuffle
      // bytes (hot partition ≈ 180 KB vs ≈ 35 KB median — lz4 crushes
      // the constant-key rows), standing in for the 256 MB-class
      // defaults a production deployment keeps
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32k",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false"
    ) {
      val events = Engine.Tables(spark, dir).events
      // the split regroups MAPPER ranges of the skewed reduce
      // partition: a single-mapper scan (the whole 7 MB probe file is
      // one row group = one effective split) is unsplittable no matter
      // how skewed. Materialize the keyed fact as a 16-file table so
      // the probe gets the many-mapper shape a real fact table always
      // has.
      val factPath = s"$dir/__skew_gate_fact.parquet"
      events
        .withColumn(
          "skew_key",
          when(col("event_id") % 4 =!= 0, lit(0L)).otherwise(col("user_id"))
        )
        .repartition(16)
        .write.mode("overwrite").parquet(factPath)
      val keyed = spark.read.parquet(factPath)
      val dimPath = s"$dir/__skew_gate_dim.parquet"
      keyed
        .select(col("skew_key"))
        .distinct()
        .withColumn("cohort", pmod(col("skew_key"), lit(5)))
        .write.mode("overwrite").parquet(dimPath)
      val dim = spark.read.parquet(dimPath)
      val joined = keyed
        .join(dim, "skew_key")
        .groupBy(col("cohort"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sv"))
      val rows = joined.collect() // materialize: AQE finalizes the plan
      val plan = joined.queryExecution.executedPlan.toString
      val split = plan.contains("skew=true")
      Gate(
        "aqe_skew_split_sf1",
        split && rows.nonEmpty,
        s"rows=${rows.length} skewMarker=$split"
      )
    }

  /** Misra-Gries heavy hitters at sf1: the capacity-256 sketch's
    * candidate set must contain EVERY word with true frequency >=
    * 1% of the probe corpus (MG guarantee: undercount <= n/256 < phi*n,
    * so a miss is an implementation bug, not sampling luck), and the
    * verified q_text_heavy_hitters output must equal the exact
    * phi-heavy set computed by a full group-by. Probe volume is where
    * merge pressure actually exercises the PODS'12 shrink rule —
    * sf0.001 fits every distinct word under capacity.
    */
  private def heavyHitters(spark: SparkSession, dir: String): Gate =
    CacheScope.scoped {
      val documents = Engine.Tables(spark, dir).documents
      val words = documents
        .select(explode(split(lower(col("text")), " ")).as("word"))
        .filter(col("word") =!= "")
      val exact = graft.functions.Bpe.vocabulary(documents)
      val n = exact.values.sum
      val truth = exact.collect { case (w, c) if c >= 0.01 * n => w }.toSet
      val mg = udaf(new graft.functions.MisraGriesAgg(256))
      val sk = words.agg(mg(col("word")).as("sk"))
        .selectExpr("sk.total AS total", "map_keys(sk.counts) AS cands")
        .collect()(0)
      val cands = sk.getSeq[String](1).toSet
      val missed = truth -- cands
      val verified = SparkEntry.queries("q_text_heavy_hitters")(spark, dir)
        .collect().map(_.getString(0)).toSet
      Gate(
        "heavy_hitters_sf1",
        sk.getLong(0) == n && missed.isEmpty && verified == truth &&
          cands.size <= 256,
        s"n=$n heavy=${truth.size} candidates=${cands.size} " +
          s"missed=${missed.size} verifiedExact=${verified == truth}"
      )
    }

  /** Hilbert layout at sf1: writeHilbertOrdered's repartitionByRange
    * on the curve index must produce per-file bounding boxes that stay
    * NARROW in both dimensions at probe volume (the whole point of a
    * space-filling-curve layout — per-file min/max enable 2-D data
    * skipping; a 1-D sort would leave the second dimension's per-file
    * spread at ~the full domain). At sf1 the range partitioner sees
    * real sampled distributions, not the handful of distinct curve
    * positions a toy SF exercises.
    */
  private def hilbertNarrowness(spark: SparkSession, dir: String): Gate = {
    val li = Engine.Tables(spark, dir).lineitem.select(
      datediff(col("l_shipdate"), lit(java.sql.Date.valueOf("1992-01-01")))
        .cast("long").as("d_day"),
      col("l_partkey").as("pk"))
    // TempPaths dir: per-process unique (no concurrent-harness
    // overwrite — same fix as the Derby per-PID dir) AND removed at
    // JVM exit, so repeated gate runs don't accumulate 64-file
    // layouts under /tmp
    val out = graft.TempPaths.dir("graft_sf1_hilbert_layout").toString
    graft.functions.Hilbert.writeHilbertOrdered(
      li, "d_day", "pk", out, bits = 8, numFiles = 64)
    val written = spark.read.parquet(out)
    val perFile = written
      .groupBy(input_file_name().as("f"))
      .agg(
        (max(col("d_day")) - min(col("d_day"))).as("day_spread"),
        (max(col("pk")) - min(col("pk"))).as("pk_spread"))
      .collect()
    val g = li.agg(
      (max(col("d_day")) - min(col("d_day"))).as("dr"),
      (max(col("pk")) - min(col("pk"))).as("pr")).collect()(0)
    def avgOf(c: String) =
      perFile.map(_.getAs[Long](c).toDouble).sum / perFile.length
    val dayFrac = avgOf("day_spread") / g.getLong(0)
    val pkFrac = avgOf("pk_spread") / g.getLong(1)
    val rowsOk = written.count() == li.count()
    Gate(
      "hilbert_narrowness_sf1",
      perFile.length >= 32 && rowsOk && dayFrac < 0.4 && pkFrac < 0.4,
      f"files=${perFile.length} dayFrac=$dayFrac%.3f pkFrac=$pkFrac%.3f rowsOk=$rowsOk"
    )
  }

  /** Adaptive CC at sf1: the REAL dedup edge set (PPJoin prefix-filter
    * pairs over the probe's documents) plus a PLANTED 4096-vertex
    * chain on synthetic ids above the doc-id range — the worst case
    * for label propagation (diameter = 4095). The adaptive path must
    * (a) label the chain correctly (component = the chain's min id)
    * alongside the real clusters, and (b) stay inside its round
    * budget: labelRounds min-label rounds + O(log n) star rounds on
    * the quotient — NOT the O(diameter) a pure min-label run pays.
    * Min-label on an increasing-id chain shifts labels r hops left
    * per round, so after labelRounds the quotient is still a
    * ~(n − labelRounds)-vertex path (contraction barely shrinks a
    * chain — that is exactly WHY the star phase exists); the star
    * budget is therefore taken on the full chain length:
    * 2*ceil(log2(n)) + 4 (each large+small pair at least halves path
    * depth; +4 covers init + the fixed-point-observation round).
    */
  private def adaptiveCcChain(spark: SparkSession, dir: String): Gate =
    CacheScope.scoped {
      import spark.implicits._
      val t = Engine.Tables(spark, dir)
      val real = graft.operators.DedupQueries.prefixFilterPairs(t, 4, 5)
        .select(col("d1").as("src"), col("d2").as("dst"))
      // synthetic ids strictly above the probe's doc_id range (ScaleUp
      // key-shifts ids by 10x, so a fixed constant would collide);
      // 1-row bounded driver scalar
      val base = t.documents.agg(max(col("doc_id"))).collect()(0).getLong(0) + 1L
      val n = 4096
      val chain = (0 until n - 1)
        .map(i => (base + i, base + i + 1)).toDF("src", "dst")
      val labelRounds = 6
      val (labels, lbl, star) = graft.plans.Iterations
        .connectedComponentsAdaptiveWithRounds(
          real.union(chain), labelRounds = labelRounds, maxIter = 40)
      val chainLabels = labels.filter(col("vertex") >= base)
        .select(col("component")).distinct().collect().map(_.getLong(0))
      val chainOk = chainLabels.toSeq == Seq(base)
      // real-cluster sanity: same labels the pure min-label path gives
      val realOk = {
        val a = labels.filter(col("vertex") < base)
        val b = graft.plans.Iterations.connectedComponents(real, maxIter = 40)
        a.join(b.withColumnRenamed("component", "c2"), "vertex")
          .filter(col("component") =!= col("c2")).count() == 0
      }
      val starBudget =
        2 * (64 - java.lang.Long.numberOfLeadingZeros(n.toLong)) + 4
      Gate(
        "adaptive_cc_chain_sf1",
        chainOk && realOk && lbl <= labelRounds && star > 0 &&
          lbl + star <= labelRounds + starBudget,
        s"chainOk=$chainOk realOk=$realOk labelRounds=$lbl starRounds=$star " +
          s"budget=$labelRounds+$starBudget"
      )
    }

  /** BPE trainer at sf1: the incremental merge table must equal the
    * sequential reference on the probe vocabulary — at probe volume the
    * argmax tie-break gets exercised on real collisions. The vocab
    * collect is distinct-words-sized (size-independent of corpus rows),
    * the same class of driver scalar the other gates use.
    */
  private def bpeParity(spark: SparkSession, dir: String): Gate =
    CacheScope.scoped {
      val vocab =
        graft.functions.Bpe.vocabulary(Engine.Tables(spark, dir).documents)
      val merges = graft.functions.Bpe.train(vocab, numMerges = 12)
      val ref = graft.functions.Bpe.trainReference(vocab, 12)
      Gate(
        "bpe_reference_parity_sf1",
        merges == ref && merges.size == 12,
        s"merges=${merges.size} equal=${merges == ref} " +
          s"top=${merges.headOption.map(m => m.left + "+" + m.right).getOrElse("-")}"
      )
    }
}
