package graft

import graft.plans.Iterations
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed fixtures for the graph operators behind
  * q_graph_pagerank / q_graph_triangles (GraphQueries.scala) — the
  * sf0.01 oracle checks the real tables; these pin the algorithms on
  * graphs small enough to verify by hand.
  */
class GraphSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  test("pageRank matches the hand-iterated values on a 3-vertex cycle plus dangler") {
    import spark.implicits._
    // 1→2, 2→3, 3→1 (cycle) and 3→4 (4 dangles: receives, never emits)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val got = Iterations.pageRank(edges, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // hand iteration, N=4, start 1/4, teleport .15/4=.0375, d=.85:
    // outdeg: 1→1, 2→1, 3→2
    // k=1: r1(1)=.0375+.85*(r0(3)/2)=.14375  r1(2)=.0375+.85*r0(1)=.25
    //      r1(3)=.0375+.85*r0(2)=.25         r1(4)=.0375+.85*(r0(3)/2)=.14375
    // k=2: r2(1)=.0375+.85*(.25/2)=.14375    r2(2)=.0375+.85*.14375=.1596875
    //      r2(3)=.0375+.85*.25=.25           r2(4)=.0375+.85*(.25/2)=.14375
    val want = Map(1L -> 0.14375, 2L -> 0.1596875, 3L -> 0.25, 4L -> 0.14375)
    assert(got.keySet == want.keySet)
    want.foreach { case (v, r) => assert(math.abs(got(v) - r) < 1e-12, s"vertex $v") }
  }

  test("pageRank mass accounting: total = 1 - leaked dangling mass") {
    import spark.implicits._
    // star into a dangler: all mass funnels to 4 and leaks from there
    val edges = Seq((1L, 4L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val ranks = Iterations.pageRank(edges, iters = 1)
      .agg(sum(col("rank"))).collect()(0).getDouble(0)
    // after one round: 4 gets .0375+.85*.75=.675, others .0375 each →
    // total .7875 = 1 − .85*.25 (exactly the dangler's damped mass)
    assert(math.abs(ranks - 0.7875) < 1e-12)
  }

  test("weighted pageRank with unit weights equals the unweighted loop") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 2L))
    val a = Iterations.pageRank(edges.toDF("src", "dst"), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = Iterations.pageRankWeighted(
      edges.map { case (s2, d) => (s2, d, 1.0) }.toDF("src", "dst", "w"),
      iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a.keySet == b.keySet)
    a.foreach { case (v, r) => assert(math.abs(b(v) - r) < 1e-12, s"vertex $v") }
  }

  test("random walks are a pure function of the graph — partitioning-invariant") {
    val dir = "/root/testdata/sf0.001"
    val q = graft.operators.GraphQueries.defs
      .find(_.name == "q_graph_random_walks").get.builder
    val a = CacheScope.scoped {
      q(spark, dir).collect().map(_.toSeq).toSet
    }
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    val b = try CacheScope.scoped {
      q(spark, dir).collect().map(_.toSeq).toSet
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("degree-ordered triangle counts match brute force on a known graph") {
    import spark.implicits._
    // K4 on {1,2,3,4} (4 triangles, each vertex in 3) plus a pendant
    // edge 4-5 (no triangle) and a separate triangle {6,7,8}
    val und = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L),
      (6L, 7L), (7L, 8L), (6L, 8L)
    )
    // route through the registered query's algorithm by building the
    // same plan over an in-memory "lineitem": encode each edge as a
    // shared part between two suppliers
    val lineitem = und.zipWithIndex.flatMap { case ((u, v), i) =>
      Seq((i.toLong, u), (i.toLong, v))
    }.toDF("l_partkey", "l_suppkey")
    val dir = TempPaths.dir("graphspec").toString
    lineitem.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = CacheScope.scoped {
      graft.operators.GraphQueries.defs.find(_.name == "q_graph_triangles").get
        .builder(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      6L -> 1L, 7L -> 1L, 8L -> 1L))
  }
}
