package graft

import graft.operators.SimilarityQueries
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Product-quantization invariants: code range, seed-row exactness,
  * partitioning invariance (the determinism claim the oracle hash
  * relies on), and non-degenerate ADC recall vs the float brute force.
  */
class PqSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"
  private lazy val spark: SparkSession = SparkTestSession.get
  private def emb = spark.read.parquet(s"$dir/embeddings.parquet")

  test("every vector gets m in-range codes; seed rows reconstruct exactly") {
    CacheScope.scoped {
      val n = emb.count()
      val q = SimilarityQueries.pqQuantize(emb)
      val rows = q.collect()
      assert(rows.length == n, "one code row per vector")
      rows.foreach { r =>
        Seq("c0", "c1", "c2", "c3").foreach { c =>
          val v = r.getAs[Int](c)
          assert(v >= 0 && v < 16, s"$c out of range: $v")
        }
        assert(r.getAs[Double]("recon_dist2") >= 0.0)
      }
      // the codebook IS the subvectors of the evenly-spaced seed rows,
      // so those rows must quantize with zero reconstruction error
      val step = math.max(1L, n / 16)
      val seedIds = rows.map(_.getAs[Long]("vec_id")).sorted
        .filter(_ % step == 0).take(16).toSet
      assert(seedIds.nonEmpty)
      rows.filter(r => seedIds(r.getAs[Long]("vec_id"))).foreach { r =>
        assert(r.getAs[Double]("recon_dist2") == 0.0,
          s"seed ${r.getAs[Long]("vec_id")} must hit its own codeword")
      }
    }
  }

  test("pq codes are invariant under repartitioning") {
    CacheScope.scoped {
      def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.orderBy("vec_id").collect().map(_.toString).toSeq
      val a = canon(SimilarityQueries.pqQuantize(emb))
      val b = canon(SimilarityQueries.pqQuantize(emb.repartition(7)))
      assert(a == b, "codes/errors must not depend on partitioning")
    }
  }

  test("a planted near-identical vector shares codes and wins ADC") {
    CacheScope.scoped {
      // plant an ε-scaled copy of vector 3 (direction identical, so its
      // per-subspace argmin codewords cannot differ) — the pair-finding
      // property PQ compression exists for. The random corpus itself has
      // no near-identical pairs (max cosine ~0.5), which is also why
      // rank-agreement with float brute force is not a meaningful bar:
      // 16 codewords cannot reproduce noise-level orderings, near-dup
      // retrieval is the operator's contract.
      val plant = emb.filter(col("vec_id") === 3)
        .withColumn("vec_id", lit(99999L))
        .withColumn("embedding",
          transform(col("embedding"), x => x * lit(1.000001f)))
      val aug = emb.unionByName(plant)
      val codes = SimilarityQueries.pqQuantize(aug)
        .filter(col("vec_id").isin(3L, 99999L))
        .collect()
        .map(r => r.getAs[Long]("vec_id") ->
          Seq(r.getAs[Int]("c0"), r.getAs[Int]("c1"),
            r.getAs[Int]("c2"), r.getAs[Int]("c3")))
        .toMap
      assert(codes(3L) == codes(99999L), s"plant must share codes: $codes")
      val top = SimilarityQueries.pqTopK(aug, 10, 5)
        .filter(col("q_id") === 3)
        .orderBy("rnk")
        .collect()
      assert(top.map(_.getAs[Long]("cand_id")).contains(99999L),
        "planted near-dup must be retrieved in ADC top-5")
    }
  }

  test("IVF-PQ agrees with full ADC on shared pairs and finds the plant") {
    CacheScope.scoped {
      val full = SimilarityQueries.pqTopK(emb, 10, 5)
        .select("q_id", "cand_id", "adc_dist2").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val ivf = SimilarityQueries.ivfPqTopK(emb, 10, 5)
        .select("q_id", "cand_id", "adc_dist2", "rnk").collect()
      // 5 results per query, and the ADC distance of any pair both
      // variants return must be identical (same codes, same LUT)
      ivf.groupBy(_.getLong(0)).foreach { case (_, rs) =>
        assert(rs.map(_.getAs[Int]("rnk")).sorted.toSeq == (1 to 5))
      }
      ivf.foreach { r =>
        full.get((r.getLong(0), r.getLong(1))).foreach { d =>
          assert(d == r.getDouble(2), s"ADC drift on ${r.getLong(0)}->${r.getLong(1)}")
        }
      }
      // the ε-scaled plant lands in its query's own cell (identical
      // direction → same coarse argmin), which the query always probes
      val plant = emb.filter(col("vec_id") === 3)
        .withColumn("vec_id", lit(99999L))
        .withColumn("embedding",
          transform(col("embedding"), x => x * lit(1.000001f)))
      val top = SimilarityQueries.ivfPqTopK(emb.unionByName(plant), 10, 5)
        .filter(col("q_id") === 3)
        .collect()
      assert(top.map(_.getAs[Long]("cand_id")).contains(99999L),
        "planted near-dup must survive the cell probe and win ADC")
    }
  }

  test("ADC distances match a driver-side recomputation for q=0") {
    CacheScope.scoped {
      val model = SimilarityQueries.pqCodebook(emb)
      val cb = model.codebook.collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2))
        .toMap
      val codes = SimilarityQueries.pqQuantize(emb).collect()
        .map(r => r.getAs[Long]("vec_id") ->
          Seq(r.getAs[Int]("c0"), r.getAs[Int]("c1"),
            r.getAs[Int]("c2"), r.getAs[Int]("c3")))
        .toMap
      val q0 = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0)
      // Spark's round() is HALF_UP via BigDecimal — mirror it exactly
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      def d2(a: Seq[Double], b: Seq[Double]): Double = {
        // same shape as the engine: n2(a) - 2*dot + n2(b), sequential
        var na = 0.0; var nb = 0.0; var dp = 0.0
        a.indices.foreach { i => na += a(i) * a(i); nb += b(i) * b(i); dp += a(i) * b(i) }
        r6(na - 2.0 * dp + nb)
      }
      val expected = codes.collect { case (cand, cs) if cand != 0L =>
        val dist = (0 until 4).map { j =>
          d2(q0.slice(j * model.subDim, (j + 1) * model.subDim), cb((j, cs(j))))
        }.reduceLeft(_ + _)
        cand -> r6(dist)
      }.toSeq.sortBy { case (id, d) => (d, id) }.take(5)
      val actual = SimilarityQueries.pqTopK(emb, 10, 5)
        .filter(col("q_id") === 0)
        .orderBy("rnk")
        .collect()
        .map(r => r.getAs[Long]("cand_id") -> r.getAs[Double]("adc_dist2"))
        .toSeq
      assert(actual == expected, s"ADC mismatch:\n got $actual\n exp $expected")
    }
  }

  test("exact rerank of the PQ and IVF-PQ shortlists matches a driver-side exact ranking") {
    CacheScope.scoped {
      val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      // Spark's round() is HALF_UP via BigDecimal — mirror it exactly
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      def dot(a: Seq[Double], b: Seq[Double]): Double =
        a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
      // same shape as the engine: n2(q) - 2*dot + n2(c), sequential dots
      def dist2(q: Seq[Double], c: Seq[Double]): Double =
        r6(dot(q, q) - 2.0 * dot(q, c) + dot(c, c))
      val byDistThenId =
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
      Seq(
        "pq" -> SimilarityQueries.pqTopK(emb, 10, 50),
        "ivf_pq" -> SimilarityQueries.ivfPqTopK(emb, 10, 50)
      ).foreach { case (name, shortlist) =>
        val pairs = shortlist.select("q_id", "cand_id").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        assert(pairs.map(_._1).distinct.length == 10, s"$name: 10 queries")
        val expected = pairs.groupBy(_._1).toSeq.flatMap { case (q, ps) =>
          ps.map { case (_, c) => (dist2(vecs(q), vecs(c)), c) }
            .sorted(byDistThenId).take(5).zipWithIndex
            .map { case ((d, c), i) => (q, c, d, i + 1) }
        }.toSet
        val actual = SimilarityQueries.rerankExact(emb, shortlist, 5)
          .select("q_id", "cand_id", "dist2", "rnk").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
          .toSet
        assert(actual == expected,
          s"$name rerank mismatch:\n got ${actual -- expected}\n exp ${expected -- actual}")
      }
    }
  }
}
