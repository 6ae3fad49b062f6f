package graft

import graft.plans.Iterations
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Randomized cross-checks of the graph operators against tiny
  * in-memory reference implementations (seeded generators — the specs
  * are deterministic, the graphs are arbitrary).
  */
class GraphPropertySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  private def randomGraph(seed: Int, n: Int, m: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    (1 to m).map { _ =>
      val a = rnd.nextInt(n).toLong
      val b = rnd.nextInt(n).toLong
      (a, b)
    }.filter { case (a, b) => a != b }.distinct
  }

  test("connected components match union-find on random graphs") {
    import spark.implicits._
    for (seed <- 1 to 5) {
      val edges = randomGraph(seed, 40, 60)
      // in-memory union-find, path-compressed, min-label canonical
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x
        else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val want = verts.map(v => v -> find(v)).toMap
      val got = Iterations
        .connectedComponents(edges.toDF("src", "dst"), maxIter = 50)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"seed=$seed")
    }
  }

  test("pageRank ranks are bounded below by teleport share and sum to <= 1") {
    import spark.implicits._
    for (seed <- 1 to 3) {
      val edges = randomGraph(seed + 100, 30, 50)
      if (edges.nonEmpty) {
        val ranks = Iterations.pageRank(edges.toDF("src", "dst"), iters = 4)
          .collect().map(r => r.getLong(0) -> r.getDouble(1))
        val n = ranks.length.toDouble
        assert(ranks.forall(_._2 >= 0.15 / n - 1e-12), s"seed=$seed")
        assert(ranks.map(_._2).sum <= 1.0 + 1e-9, s"seed=$seed")
      }
    }
  }

  test("triangle counts match cubic brute force on random co-supply graphs") {
    for (seed <- 1 to 3) {
      // encode a random undirected graph as the lineitem co-supply
      // relation the registered query reads
      val edges = randomGraph(seed + 200, 25, 70)
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val lineitem = edges.zipWithIndex.flatMap { case ((u, v), i) =>
        Seq((i.toLong, u), (i.toLong, v))
      }
      import spark.implicits._
      val dir = TempPaths.dir(s"gprop$seed").toString
      lineitem.toDF("l_partkey", "l_suppkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val es = edges.toSet
      val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val want = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for {
        i <- verts.indices; j <- (i + 1) until verts.size
        k <- (j + 1) until verts.size
        (a, b, c) = (verts(i), verts(j), verts(k))
        if es((a, b)) && es((b, c)) && es((a, c))
        v <- Seq(a, b, c)
      } want(v) += 1L
      val got = CacheScope.scoped {
        graft.operators.GraphQueries.defs.find(_.name == "q_graph_triangles").get
          .builder(spark, dir)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      assert(got == want.toMap, s"seed=$seed")
    }
  }

  test("random-walk steps always traverse edges and are reproducible") {
    import spark.implicits._
    for (seed <- Seq(301)) {
      val edges = randomGraph(seed, 20, 40)
      val dir = TempPaths.dir(s"gwalk$seed").toString
      // encode as the cust→supp trade relation the query derives edges
      // from: orderkey links the two sides
      edges.zipWithIndex.map { case ((c, s2), i) => (i.toLong, c) }
        .toDF("o_orderkey", "o_custkey")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      edges.zipWithIndex.map { case ((c, s2), i) => (i.toLong, s2) }
        .toDF("l_orderkey", "l_suppkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val bidir = edges.flatMap { case (c, s2) =>
        val u = c; val v = -(s2 + 1)
        Seq((u, v), (v, u))
      }.toSet
      val q = graft.operators.GraphQueries.defs
        .find(_.name == "q_graph_random_walks").get.builder
      val a = CacheScope.scoped { q(spark, dir).collect() }
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val b = CacheScope.scoped { q(spark, dir).collect() }
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(a.toSet == b.toSet, "two runs must emit identical walks")
      a.foreach { case (w, n1, n2, n3) =>
        assert(bidir((w, n1)) && bidir((n1, n2)) && bidir((n2, n3)),
          s"walk $w: $n1 -> $n2 -> $n3 must follow edges")
      }
    }
  }
}
