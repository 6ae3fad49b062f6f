package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batch iteration (reference DataStream.iterate / IterativeStream —
  * SURVEY.md scopes streaming iterations out and maps batch iteration
  * to a driver loop). The loop body is fully distributed; the driver
  * only checks convergence counts. localCheckpoint every iteration
  * truncates lineage so plans don't grow exponentially — the standard
  * Spark iterative-algorithm pattern.
  */
object Iterations {

  /** r22 (VERDICT item 1, guide §1.2-3): the connected-components
    * driver loops run with AQE disabled on their session, through
    * [[graft.Engine.withConf]] (session-global for the loop's
    * duration, the caller's value restored after). Rationale, measured: the CC loop's shuffles
    * are AGGREGATIONS (union→groupBy(vertex) min-label, window+distinct
    * star rounds) and one already-co-partitioned join — AQE's
    * skew-JOIN splitting cannot apply to any of them (guide §2.5), and
    * map-side partial aggregation is the hot-key defense either way,
    * so at 100 TB AQE buys these loops nothing structural. What it
    * costs locally is cadence: every localCheckpoint materialization
    * re-plans each shuffle as its own stage-job — profiled 44 jobs/run
    * for q_dedup_clusters, 11 with AQE off, wall 0.79x warm; the
    * paired A/B records are in plans/r22/ab/t3,t5. Partition counts
    * fall back to spark.sql.shuffle.partitions (deployment conf — the
    * same sizing discipline as the CEP/verify pins). pageRank is NOT
    * wrapped: its loop joins ride the AQE-sized prep checkpoints'
    * partitioning, and the same conf A/B measured global-off at 1.08x
    * there — see OPTIMIZATION_r22.md.
    */
  private val AqeOff = "spark.sql.adaptive.enabled" -> "false"

  /** An observed Long metric; 0 when the observed relation was empty
    * (sum over no rows is null).
    */
  private def observedLong(
      obs: org.apache.spark.sql.Observation, key: String): Long =
    obs.get(key) match {
      case null => 0L
      case x: Number => x.longValue()
    }

  /** Connected components by min-label propagation over an undirected
    * edge list (`src`, `dst` columns). Returns (vertex, component)
    * where component = the minimum vertex id reachable.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame =
    connectedComponentsWithRounds(edges, maxIter)._1

  /** [[connectedComponents]] plus the executed round count — the
    * number of min-label rounds is O(component diameter), the quantity
    * [[connectedComponentsStar]] beats on long chains.
    */
  def connectedComponentsWithRounds(
      edges: DataFrame, maxIter: Int = 20): (DataFrame, Int) = {
    val (labels, rounds, _) = minLabelCore(edges, maxIter)
    (labels, rounds)
  }

  /** The production CC path: min-label rounds first (1 shuffle/round —
    * the cheapest loop when component diameters are short, the measured
    * common case for dedup graphs), and if the label phase does NOT
    * converge within `labelRounds`, CONTRACT the graph by the partial
    * labels (each ≤`labelRounds`-radius cluster collapses to one
    * quotient vertex) and finish with [[connectedComponentsStar]] on
    * the much smaller quotient in O(log n) rounds. Long chains — where
    * pure min-label pays O(diameter) rounds — hit the star phase after
    * a bounded prefix; short-diameter graphs never pay star's
    * 3-shuffle rounds at all. Benchmarked at sf0.1 on the PPJoin dedup
    * graph: pure star 6.4 s, pure min-label 4.0 s, adaptive = the
    * min-label path (converges in ≤ labelRounds); on a planted
    * 64-chain the adaptive total is ~labelRounds + O(log n) rounds vs
    * 63 for pure min-label.
    */
  def connectedComponentsAdaptive(edges: DataFrame, labelRounds: Int = 6,
      maxIter: Int = 40): DataFrame =
    connectedComponentsAdaptiveWithRounds(edges, labelRounds, maxIter)._1

  /** [[connectedComponentsAdaptive]] plus (label rounds executed, star
    * rounds executed on the quotient) — star rounds are 0 when the
    * label phase converged. The pair is the adaptive path's round
    * budget: ≤ labelRounds + O(log quotient) total, the bound the sf1
    * scale gate asserts on a planted worst-case chain.
    */
  def connectedComponentsAdaptiveWithRounds(edges: DataFrame,
      labelRounds: Int = 6, maxIter: Int = 40): (DataFrame, Int, Int) = {
    val (labels, lblRounds, converged) = minLabelCore(edges, labelRounds)
    if (converged) (labels, lblRounds, 0)
    else {
      // quotient graph over current labels: connectivity is preserved
      // under contraction, and every label IS a vertex id with the
      // component's global min labeling itself, so star's min-root on
      // the quotient equals the original component min
      val l = labels.localCheckpoint()
      val relabeled = edges
        .join(l.select(col("vertex").as("src"), col("component").as("csrc")),
          "src")
        .join(l.select(col("vertex").as("dst"), col("component").as("cdst")),
          "dst")
        .select(col("csrc").as("src"), col("cdst").as("dst"))
        .filter(col("src") =!= col("dst"))
      val (starLabels, starRounds) =
        connectedComponentsStarWithRounds(relabeled, maxIter)
      val quotient = starLabels
        .select(col("vertex").as("component"), col("component").as("root"))
      // components already fully labeled have no quotient row → self
      val out = l.join(quotient, Seq("component"), "left")
        .select(col("vertex"),
          coalesce(col("root"), col("component")).as("component"))
      (out, lblRounds, starRounds)
    }
  }

  /** Min-label propagation core. TWO logical rounds share one eager
    * materialization (lineage depth 2 is safe): the first round stays
    * lazy and fuses into the second's checkpoint job, halving the
    * localCheckpoint scans that dominate the loop's fixed cost.
    * Min-label is monotone, so "second round changed nothing" implies
    * global convergence even without observing the first.
    * Returns (labels, logical rounds executed, converged).
    */
  private def minLabelCore(
      edges: DataFrame, maxIter: Int): (DataFrame, Int, Boolean) =
    graft.Engine.withConf(edges.sparkSession, AqeOff) {
      minLabelCoreBody(edges, maxIter)
    }

  private def minLabelCoreBody(
      edges: DataFrame, maxIter: Int): (DataFrame, Int, Boolean) = {
    // dst-partitioned once: the per-iteration neighbor join probes
    // bidir on dst, so the (big) edge side never re-shuffles — labels
    // arrive vertex-partitioned from the previous round's aggregation
    // and the union→groupBy pays the round's single shuffle
    // repartition-then-dedup: HashPartitioning(dst) satisfies the
    // dedup's ClusteredDistribution(src, dst), so one shuffle does
    // both (distinct-then-repartition would pay two)
    val bidir = edges
      .select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("dst"))
      .dropDuplicates("src", "dst")
      .persist()
    val vertices = bidir.select(col("src").as("vertex")).distinct()
    var labels = vertices
      .withColumn("component", col("vertex"))
      .localCheckpoint()
    // one propagation round: every vertex adopts min(own component,
    // neighbors' components). The vertex's own (previous) label rides
    // the union under a self-flag, so ONE aggregation yields both the
    // new label and the old one; when `obs` is set the change count
    // rides the checkpoint job as an observed metric — no second scan.
    def step(lbl: DataFrame,
        obs: Option[org.apache.spark.sql.Observation]): DataFrame = {
      val compType = lbl.schema("component").dataType
      val fromNeighbors = bidir
        .join(lbl, bidir("dst") === lbl("vertex"))
        .select(bidir("src").as("vertex"), col("component"),
          lit(null).cast(compType).as("prev"))
      val merged = lbl
        .select(col("vertex"), col("component"),
          col("component").as("prev"))
        .union(fromNeighbors)
        .groupBy(col("vertex"))
        .agg(
          min(col("component")).as("component"),
          // every vertex appears exactly once with a non-null prev
          max(col("prev")).as("prev"))
      obs.fold(merged)(o => merged.observe(o,
        sum(when(col("component") =!= col("prev"), 1L).otherwise(0L))
          .as("changed")))
    }
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // fuse two rounds per materialization: round A lazy (but still
      // observed — its CollectMetrics rides round B's checkpoint job,
      // no extra scan), round B observed + checkpointed (except when
      // maxIter cuts us to one)
      val pair = maxIter - iter >= 2
      val obsA =
        if (pair) Some(org.apache.spark.sql.Observation(s"cc_changed_a_$iter"))
        else None
      val first = if (pair) step(labels, obsA).select(col("vertex"), col("component"))
                  else labels
      val obs = org.apache.spark.sql.Observation(s"cc_changed_$iter")
      val next = step(first, Some(obs)).localCheckpoint()
      val changed = observedLong(obs, "changed")
      labels = next.select(col("vertex"), col("component"))
      converged = changed == 0
      // exact round accounting: if round A already saw no change,
      // convergence held at entry and an unfused loop would have run
      // exactly ONE (observing) round — count 1, not 2
      iter += (if (!pair) 1 else if (observedLong(obsA.get, "changed") == 0L) 1 else 2)
    }
    bidir.unpersist()
    (labels, iter, converged)
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14): converges in O(log n) rounds regardless of
    * component diameter, vs O(diameter) rounds for
    * [[connectedComponents]]'s min-label propagation. Same output
    * contract: (vertex, component) with component = the minimum vertex
    * id in the component. Each round costs two window aggregations
    * plus a distinct (3 shuffles) against min-label's single shuffle,
    * so the trade wins exactly when components are long chains — the
    * shape dedup clusters take at 100 TB, where diameter grows with
    * corpus size but log n barely moves. Min-label stays available
    * behind the same API as the small-diameter path.
    */
  def connectedComponentsStar(edges: DataFrame, maxIter: Int = 30): DataFrame =
    connectedComponentsStarWithRounds(edges, maxIter)._1

  /** [[connectedComponentsStar]] plus the executed round count (for
    * round-complexity specs and convergence diagnostics).
    */
  def connectedComponentsStarWithRounds(
      edges: DataFrame, maxIter: Int = 30): (DataFrame, Int) =
    graft.Engine.withConf(edges.sparkSession, AqeOff) {
      connectedComponentsStarBody(edges, maxIter)
    }

  private def connectedComponentsStarBody(
      edges: DataFrame, maxIter: Int): (DataFrame, Int) = {
    import org.apache.spark.sql.expressions.Window
    val vertices = edges.select(col("src").as("vertex"))
      .union(edges.select(col("dst").as("vertex")))
      .distinct()
    // parent edges oriented child > parent (self-loops carry no
    // connectivity); the orientation is the loop invariant both star
    // steps preserve, so small-star's "all neighbors are smaller"
    // precondition holds every round
    var e = edges
      .filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("p"))
      .repartition(col("u"))
      .dropDuplicates("u", "p") // one shuffle (same prep discipline)
      .localCheckpoint()
    var rounds = 0
    var prevSig: Option[(Long, Long, Long)] = None
    var converged = false
    while (!converged && rounds < maxIter) {
      val wU = Window.partitionBy(col("u"))
      // large-star: every strictly-larger neighbor of u links to
      // m = min(Γ(u) ∪ {u}); min over the per-center window, no join
      val large = e.select(col("u"), col("p"))
        .union(e.select(col("p").as("u"), col("u").as("p")))
        .withColumn("m", min(least(col("p"), col("u"))).over(wU))
        .filter(col("p") > col("u"))
        .select(col("p").as("u"), col("m").as("p"))
      // small-star: u's neighbors are all smaller here (orientation
      // invariant); every neighbor except the min, and u itself, link
      // to m. Duplicate emissions from both steps wash out in the one
      // distinct per round.
      val withM = large.withColumn("m", min(col("p")).over(wU))
      val small = withM
        .filter(col("p") =!= col("m"))
        .select(col("p").as("u"), col("m").as("p"))
        .union(withM.select(col("u"), col("m").as("p")))
        .distinct()
      // convergence = the edge-set signature (count + two independent
      // hash sums) is a round-over-round fixed point — observed during
      // the checkpoint job itself, no second scan (same fusion as the
      // min-label loop). Moduli keep the Long sums far inside Int64
      // (n · 1e9 « 2^63).
      val obs = org.apache.spark.sql.Observation(s"ccstar_$rounds")
      val next = small
        .observe(obs,
          count(lit(1L)).as("n"),
          sum(pmod(xxhash64(col("u"), col("p")), lit(1000000007L))).as("h1"),
          sum(pmod(xxhash64(col("p"), col("u")), lit(999999937L))).as("h2"))
        .localCheckpoint()
      val sig = (observedLong(obs, "n"), observedLong(obs, "h1"),
        observedLong(obs, "h2"))
      converged = prevSig.contains(sig)
      prevSig = Some(sig)
      e = next
      rounds += 1
    }
    // a non-converged edge set is not an approximation — treating its
    // parent edges as final roots yields plausible-looking but WRONG
    // labels, so a too-small maxIter must surface, not ship (star
    // needs O(log n) rounds + 1 to observe the fixed point; the
    // default 30 covers any feasible graph)
    require(converged,
      s"connectedComponentsStar did not reach the edge-set fixed point " +
        s"in maxIter=$maxIter rounds; raise maxIter")
    // at the fixed point e IS the star: (v, root) for every non-root;
    // roots (and self-loop-only vertices) label themselves
    val labels = vertices
      .join(e, vertices("vertex") === e("u"), "left")
      .select(col("vertex"), coalesce(col("p"), col("vertex")).as("component"))
    (labels, rounds)
  }

  /** PageRank with a FIXED iteration count over a directed edge list
    * (`src`, `dst`), the third face of the batch-iteration primitive
    * (reference DataStream.iterate — flink-examples PageRank is the
    * reference's own canonical iterate demo). Fixed iterations (not
    * convergence) keep the whole computation DuckDB-expressible as
    * chained CTEs, so the iteration loop is oracle-checked exactly.
    *
    * rank_{k+1}(v) = teleport/N + damping * Σ_{(u,v)∈E} rank_k(u)/outdeg(u)
    *
    * Dangling vertices (no out-edges) contribute nothing — mass leaks,
    * the simplified convention the oracle mirrors term for term.
    * Fully distributed: ranks and contributions are shuffled joins on
    * vertex id, the edge+outdeg table is materialized once and reused
    * every iteration, localCheckpoint truncates lineage per round. The
    * only driver-side values are N and the loop counter.
    */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85,
      teleport: Double = 0.15): DataFrame = {
    // Prep discipline: repartition(key) FIRST, dedup after —
    // HashPartitioning(key) satisfies the dedup aggregation's
    // ClusteredDistribution (partitioning exprs ⊆ grouping keys), so
    // distinct-then-repartition's second shuffle never happens. The
    // src-partitioned dedup also feeds the out-degree aggregation and
    // the degree join exchange-free, so the whole edge prep pays ONE
    // shuffle.
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src"))
      .dropDuplicates("src", "dst")
      .localCheckpoint()
    rankLoop(e,
      e.groupBy(col("src")).agg(count(lit(1)).cast("double").as("deg")),
      col("rank") / col("deg"), iters, damping, teleport)
  }

  /** Weighted PageRank — [[pageRank]] generalized to a weighted edge
    * list (`src`, `dst`, `w`): contributions are rank·w/Σw_out instead
    * of rank/outdeg. Same loop, same partitioning contract, same
    * fixed-iterations-for-the-oracle design.
    */
  def pageRankWeighted(edges: DataFrame, iters: Int,
      damping: Double = 0.85, teleport: Double = 0.15): DataFrame = {
    // same prep discipline as pageRank: one src shuffle feeds the
    // weight-sum aggregation and the join exchange-free (duplicate
    // weighted edges fold into ow and contribute individually — no
    // dedup by design)
    val e = edges.select(col("src"), col("dst"), col("w"))
      .repartition(col("src"))
      .localCheckpoint()
    rankLoop(e, e.groupBy(col("src")).agg(sum(col("w")).as("ow")),
      col("rank") * col("w") / col("ow"), iters, damping, teleport)
  }

  /** The PageRank loop both variants share. `e` is the src-partitioned,
    * checkpointed edge table; `outStats` its per-src aggregate (keyed
    * by `src`), joined onto every edge once; `contrib` the per-edge
    * contribution over that annotated edge and the source's `rank`.
    *
    * Loop-invariant tables are hash-partitioned on their join keys
    * ONCE before checkpointing — LogicalRDD preserves the output
    * partitioning, so the per-iteration joins (edges⋈ranks on src,
    * vertices⋈contribs on vertex) insert NO exchange on these sides.
    * Each iteration then shuffles exactly once: the contribution
    * aggregation onto dst. On a skewed graph that one shuffle is
    * AQE's to split; everything else stays in place.
    */
  private def rankLoop(e: DataFrame, outStats: DataFrame,
      contrib: org.apache.spark.sql.Column, iters: Int, damping: Double,
      teleport: Double): DataFrame = {
    // N rides the vertex materialization as an observed metric — no
    // separate count job (same fusion as connectedComponents)
    val obs = org.apache.spark.sql.Observation("pagerank_n")
    val vertices = e.select(col("src").as("vertex"))
      .union(e.select(col("dst").as("vertex")))
      .repartition(col("vertex"))
      .dropDuplicates("vertex")
      .observe(obs, count(lit(1)).as("n"))
      .localCheckpoint()
    val n = observedLong(obs, "n").toDouble
    // each edge annotated with its source's out-stats, computed once;
    // every iteration joins ranks against this single materialized
    // table. Both sides are the src-partitioned checkpoint, so neither
    // the aggregation nor the join shuffles.
    val annotated = e.join(outStats, "src").localCheckpoint()
    // ranks inherit the vertex partitioning (projection preserves it,
    // and so does every checkpoint in the loop); the initial ranks are
    // a pure projection of the checkpointed vertices — no job of
    // their own
    var ranks = vertices.withColumn("rank", lit(1.0 / n))
    var iter = 0
    while (iter < iters) {
      val contribs = annotated
        .join(ranks, annotated("src") === ranks("vertex"))
        .select(col("dst").as("vertex"), contrib.as("c"))
        .groupBy(col("vertex"))
        .agg(sum(col("c")).as("in"))
      ranks = vertices
        .join(contribs, Seq("vertex"), "left")
        .select(col("vertex"),
          (lit(teleport / n) +
            lit(damping) * coalesce(col("in"), lit(0.0))).as("rank"))
      // checkpoint every SECOND iteration: lineage depth 2 is safe,
      // and halving the eager materializations nearly halves the
      // loop's fixed cost — off rounds (including a final odd round)
      // stay lazy and fuse into the next plan / the caller's one write.
      // (r22: every-THIRD was A/B'd — 0.99x, neutral
      // (plans/r22/ab/t9) — and reverted: one job out of 37 buys
      // nothing measurable, and every-2 is the r20-measured form.)
      if (iter % 2 == 1) ranks = ranks.localCheckpoint()
      iter += 1
    }
    ranks
  }

  /** Single-source shortest paths, Bellman–Ford with a FIXED round
    * count over a weighted edge list (`src`, `dst`, `w` — integer
    * weights keep the min-plus arithmetic exact): round k relaxes
    * every edge once, dist = min(dist, dist[src] + w). The reference's
    * own canonical graph-library example (flink-gelly
    * SingleSourceShortestPaths). Fixed rounds (not convergence) so
    * DuckDB replays the loop exactly; k rounds = exact distances for
    * every path of ≤ k hops. Same loop contract as pageRank: the edge
    * table is src-partitioned and checkpointed once, each round is one
    * relax join + one min aggregation.
    */
  def shortestPaths(edges: DataFrame, source: Long, iters: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("src"), col("dst"), col("w"))
      .repartition(col("src"))
      .localCheckpoint()
    var dist = Seq((source, 0L)).toDF("vertex", "dist")
      .repartition(col("vertex"))
      .localCheckpoint()
    var iter = 0
    while (iter < iters) {
      val relaxed = e
        .join(dist, e("src") === dist("vertex"))
        .select(e("dst").as("vertex"), (col("dist") + col("w")).as("dist"))
      dist = dist.union(relaxed)
        .groupBy(col("vertex"))
        .agg(min(col("dist")).as("dist"))
        .localCheckpoint()
      iter += 1
    }
    dist
  }

  /** Transitive reachability from a source vertex over an undirected
    * edge list — BFS frontier expansion as a driver loop, each step
    * fully distributed (the oracle-checkable face of the iteration
    * primitive: DuckDB verifies it with a recursive CTE).
    */
  def reachableFrom(edges: DataFrame, source: Long, maxIter: Int = 30): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val bidir = edges
      .select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist()
    var reach = Seq(source).toDF("node").localCheckpoint()
    var size = 1L
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // frontier size observed during the checkpoint job itself —
      // one job per BFS round, no separate count scan
      val obs = org.apache.spark.sql.Observation(s"bfs_size_$iter")
      val expanded = reach
        .union(
          bidir.join(reach, bidir("src") === reach("node")).select(col("dst").as("node"))
        )
        .distinct()
        .observe(obs, count(lit(1)).as("n"))
        .localCheckpoint()
      val nextSize = observedLong(obs, "n")
      converged = nextSize == size
      size = nextSize
      reach = expanded
      iter += 1
    }
    bidir.unpersist()
    reach
  }
}
