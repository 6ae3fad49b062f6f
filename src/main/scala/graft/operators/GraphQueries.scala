package graft.operators

import graft.QueryDef
import graft.QueryModule
import graft.operators.CrossEngineMix._
import org.apache.spark.sql.functions._

/** Graph analytics over graphs derived from the relational tables —
  * the batch-iteration surface (reference DataStream.iterate;
  * flink-examples-batch PageRank/ConnectedComponents are the
  * reference's own canonical iteration demos) beyond the CC/BFS
  * queries in MiscQueries/DedupQueries, plus non-iterative triangle
  * counting.
  *
  * Scale notes (100 TB): every step is a shuffled join/agg on vertex
  * or edge keys — no driver-side adjacency, no collect. PageRank
  * materializes the degree-annotated edge list once and reuses it
  * every iteration. Triangle counting uses the degree-ordered
  * orientation (each undirected edge directed from its lower-degree
  * endpoint), which bounds wedge generation by Σ d_out² with
  * d_out ≤ √(2|E|)-ish on skewed graphs — the standard distributed
  * triangle algorithm; a hub of degree D generates O(D²) wedges
  * un-oriented but only O(√|E|²)=O(|E|) oriented.
  */
object GraphQueries extends QueryModule {

  def defs: Seq[QueryDef] = Seq(
    // PageRank over the customer→supplier trade graph (edge when a
    // customer's order ships a supplier's item; suppliers get negative
    // ids to keep the vertex domains disjoint). FIXED 5 iterations so
    // DuckDB replays the loop exactly as chained CTEs — the iteration
    // fixpoint machinery (per-round join + re-aggregation +
    // checkpoint) is what's under test, oracle-checked to 6 decimals.
    QueryDef(
      "q_graph_pagerank",
      (s, dir) => {
        val t = tables(s, dir)
        val edges = t.lineitem
          .join(t.orders, col("l_orderkey") === col("o_orderkey"))
          .select(
            col("o_custkey").as("src"),
            (-(col("l_suppkey") + 1)).as("dst"))
        graft.plans.Iterations
          .pageRank(edges, iters = 5)
          .select(col("vertex"), round(col("rank"), 6).as("rank"))
      },
      Some {
        val step = (k: Int) => s"""
        p$k AS (
          SELECT v.vertex,
                 0.15/(SELECT n FROM nn)
                   + 0.85*COALESCE(s.c, 0.0) AS rank
          FROM verts v LEFT JOIN (
            SELECT e.dst AS vertex, SUM(p.rank/d.deg) AS c
            FROM p${k - 1} p
            JOIN edges e ON p.vertex = e.src
            JOIN outdeg d ON d.src = e.src
            GROUP BY e.dst) s ON s.vertex = v.vertex
        )"""
        """
        WITH edges AS (
          SELECT DISTINCT o_custkey AS src, -(l_suppkey + 1) AS dst
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ),
        verts AS (
          SELECT src AS vertex FROM edges
          UNION SELECT dst FROM edges
        ),
        nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts),
        outdeg AS (
          SELECT src, CAST(count(*) AS DOUBLE) AS deg
          FROM edges GROUP BY src
        ),
        p0 AS (
          SELECT vertex, 1.0/(SELECT n FROM nn) AS rank FROM verts
        ),""" +
          (1 to 5).map(step).mkString(",") + """
        SELECT vertex, round(rank, 6) AS rank FROM p5
        """
      }
    ),
    // Single-source shortest paths over the weighted trade graph
    // (edge weight = the minimum shipped quantity between the pair,
    // an exact integer): 4 Bellman–Ford rounds from the
    // smallest-suppkey supplier node, replayed exactly by chained
    // CTEs. Min-plus over integers — no float anywhere, so distances
    // hash-match with no rounding at all.
    QueryDef(
      "q_graph_sssp",
      (s, dir) => {
        val t = tables(s, dir)
        val und = t.lineitem
          .join(t.orders, col("l_orderkey") === col("o_orderkey"))
          .select(
            col("o_custkey").as("a"),
            (-(col("l_suppkey") + 1)).as("b"),
            col("l_quantity").cast("long").as("q"))
          .groupBy(col("a"), col("b"))
          .agg(min(col("q")).as("w"))
        val edges = und.select(col("a").as("src"), col("b").as("dst"), col("w"))
          .union(und.select(col("b").as("src"), col("a").as("dst"), col("w")))
        val source = und.agg(max(col("b"))).collect()(0).getLong(0)
        graft.plans.Iterations
          .shortestPaths(edges, source, iters = 4)
      },
      Some {
        val step = (k: Int) => s"""
        d$k AS (
          SELECT vertex, min(dist) AS dist FROM (
            SELECT vertex, dist FROM d${k - 1}
            UNION ALL
            SELECT e.dst AS vertex, p.dist + e.w AS dist
            FROM d${k - 1} p JOIN edges e ON e.src = p.vertex
          ) GROUP BY vertex
        )"""
        """
        WITH und AS (
          SELECT o_custkey AS a, -(l_suppkey + 1) AS b,
                 CAST(min(CAST(trunc(l_quantity) AS BIGINT)) AS BIGINT) AS w
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY a, b
        ),
        edges AS (
          SELECT a AS src, b AS dst, w FROM und
          UNION ALL
          SELECT b AS src, a AS dst, w FROM und
        ),
        d0 AS (SELECT (SELECT max(b) FROM und) AS vertex, CAST(0 AS BIGINT) AS dist),""" +
          (1 to 4).map(step).mkString(",") + """
        SELECT vertex, dist FROM d4
        """
      }
    ),
    // Deterministic random walks (the node2vec/DeepWalk sampling
    // stage of graph-embedding training data): from every supplier
    // node, 3 steps over the undirected trade graph, the "random"
    // neighbor at step k being the argmin of the cross-engine mix hash
    // of (cur, neighbor, k) — a pure function of the walk state, so
    // retries, partitionings and engines reproduce the SAME corpus of
    // walks (rand()-based walks survive none of those). Each step is
    // one equi-join on the current node + one per-walk argmin — two
    // shuffles per step, no driver state; walks ride as rows, paths as
    // columns. DuckDB replays all 3 steps via row_number-over-hash.
    QueryDef(
      "q_graph_random_walks",
      (s, dir) => {
        val t = tables(s, dir)
        val e = t.lineitem
          .join(t.orders, col("l_orderkey") === col("o_orderkey"))
          .select(
            col("o_custkey").as("src"),
            (-(col("l_suppkey") + 1)).as("dst"))
          .distinct()
        val bidir = graft.CacheScope.cached(
          e.union(e.select(col("dst").as("src"), col("src").as("dst")))
            .distinct())
        // fold each id to a non-negative residue first (pmod — DuckDB
        // mirrors it as ((x % P) + P) % P), so the combined hash input
        // is sign-safe at ANY id magnitude
        var walks = e.select(col("dst").as("walk_id")).distinct()
          .select(col("walk_id"), array(col("walk_id")).as("path"),
            col("walk_id").as("cur"))
        for (k <- 1 to 3) {
          val score = mix(
            pmod(col("cur"), lit(MixP)) * lit(131L) +
              pmod(col("dst"), lit(MixP)) * lit(7L) + lit(k * 7919L))
          walks = walks
            .join(bidir, walks("cur") === bidir("src"))
            .groupBy(col("walk_id"))
            .agg(
              max(col("path")).as("path"), // constant within the group
              min(struct(score.as("h"), col("dst").as("d"))).as("pick"))
            .select(col("walk_id"),
              concat(col("path"), array(col("pick.d"))).as("path"),
              col("pick.d").as("cur"))
        }
        walks.select(col("walk_id"),
          element_at(col("path"), 2).as("n1"),
          element_at(col("path"), 3).as("n2"),
          element_at(col("path"), 4).as("n3"))
      },
      Some {
        val step = (k: Int) => {
          val prev = if (k == 1) "w0" else s"s${k - 1}"
          val carried = (1 until k).map(i => s"n$i, ").mkString
          s"""
        s$k AS (
          SELECT walk_id, ${carried}dst AS n$k, dst AS cur FROM (
            SELECT w.walk_id, ${(1 until k).map(i => s"w.n$i, ").mkString}b.dst,
                   row_number() OVER (
                     PARTITION BY w.walk_id
                     ORDER BY ${mixSql(
            s"(((w.cur % 1000003) + 1000003) % 1000003)*131" +
              s" + (((b.dst % 1000003) + 1000003) % 1000003)*7 + ${k * 7919}")}, b.dst
                   ) AS rn
            FROM $prev w JOIN bid b ON b.src = w.cur)
          WHERE rn = 1
        )"""
        }
        """
        WITH e AS (
          SELECT DISTINCT o_custkey AS src, -(l_suppkey + 1) AS dst
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ),
        bid AS (
          SELECT src, dst FROM e
          UNION SELECT dst AS src, src AS dst FROM e
        ),
        w0 AS (SELECT DISTINCT dst AS walk_id, dst AS cur FROM e),""" +
          (1 to 3).map(step).mkString(",") + """
        SELECT walk_id, n1, n2, n3 FROM s3
        """
      }
    ),
    // Per-vertex triangle counts on the supplier co-supply graph
    // (undirected edge when two suppliers ship the same part).
    // Degree-ordered orientation: each edge points from its
    // (degree, id)-smaller endpoint, wedges are generated only at a
    // triangle's smallest vertex, and one semi-join against the
    // oriented edges closes them — each triangle found exactly once,
    // then credited to all three corners. Exact integer output. The
    // oracle enumerates the same triangles by plain id-ordering
    // (orientation changes the join sizes, never the triangle set).
    QueryDef(
      "q_graph_triangles",
      (s, dir) => {
        val t = tables(s, dir)
        val ps = t.lineitem
          .select(col("l_partkey").as("p"), col("l_suppkey").as("sk"))
          .distinct()
        val und = ps.as("a").join(ps.as("b"),
            col("a.p") === col("b.p") && col("a.sk") < col("b.sk"))
          .select(col("a.sk").as("u"), col("b.sk").as("v"))
          .distinct()
        // degree over the undirected graph
        val deg = und.select(col("u").as("x"))
          .union(und.select(col("v").as("x")))
          .groupBy(col("x")).agg(count(lit(1)).as("d"))
        // orient u→v when (deg,id)(u) < (deg,id)(v); carry both
        // endpoints' keys so the wedge stage needs no extra join
        val withDeg = und
          .join(deg.withColumnRenamed("x", "u").withColumnRenamed("d", "du"), "u")
          .join(deg.withColumnRenamed("x", "v").withColumnRenamed("d", "dv"), "v")
        val oriented = withDeg.select(
          when(col("du") < col("dv") ||
               (col("du") === col("dv") && col("u") < col("v")),
            struct(col("u").as("s"), col("v").as("t"),
              col("du").as("ds"), col("dv").as("dt")))
            .otherwise(
              struct(col("v").as("s"), col("u").as("t"),
                col("dv").as("ds"), col("du").as("dt")))
            .as("e"))
          .select(col("e.s").as("s"), col("e.t").as("t"),
            col("e.ds").as("ds"), col("e.dt").as("dt"))
        // referenced three times (both wedge sides + the closing
        // semi-join) — cache under the consuming action's scope
        val cachedOriented = graft.CacheScope.cached(oriented)
        // wedges at the orientation-minimal corner, pair ordered by
        // the SAME (deg,id) key so the closing edge has a known
        // direction b→c
        val wedges = cachedOriented.as("e1").join(cachedOriented.as("e2"),
            col("e1.s") === col("e2.s") &&
              (col("e1.dt") < col("e2.dt") ||
                (col("e1.dt") === col("e2.dt") &&
                  col("e1.t") < col("e2.t"))))
          .select(col("e1.s").as("a"), col("e1.t").as("b"),
            col("e2.t").as("c"))
        val tri = wedges.join(cachedOriented.select(col("s").as("b"), col("t").as("c")),
          Seq("b", "c"))
        tri.select(explode(array(col("a"), col("b"), col("c"))).as("vertex"))
          .groupBy(col("vertex"))
          .agg(count(lit(1)).as("triangles"))
      },
      Some("""
        WITH ps AS (
          SELECT DISTINCT l_partkey AS p, l_suppkey AS sk FROM lineitem
        ),
        e AS (
          SELECT DISTINCT a.sk AS u, b.sk AS v
          FROM ps a JOIN ps b ON a.p = b.p AND a.sk < b.sk
        ),
        tri AS (
          SELECT e1.u AS a, e1.v AS b, e2.v AS c
          FROM e e1
          JOIN e e2 ON e2.u = e1.v
          JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
        ),
        corners AS (
          SELECT a AS vertex FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri
        )
        SELECT vertex, count(*) AS triangles FROM corners GROUP BY vertex
      """)
    )
  )
}
