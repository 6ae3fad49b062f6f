package graft

import graft.operators.{DedupQueries, SimilarityQueries}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the probabilistic (rows-only) dedup/similarity operators:
  * they must agree with their exact counterparts on the test corpus.
  */
class DedupSimilaritySpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = SparkTestSession.get

  test("minhash LSH finds the same near-dup pairs as exact jaccard") {
    val exact = SparkEntry
      .queries("q_dedup_jaccard")(spark, dir)
      .select("d1", "d2")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val lsh = SparkEntry
      .queries("q_dedup_minhash_lsh")(spark, dir)
      .select("d1", "d2")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    // LSH verifies candidates with exact jaccard → no false positives.
    assert(lsh.subsetOf(exact), s"false positives: ${lsh -- exact}")
    // 16 bands × 4 rows at J>=0.8 → recall ≈ 99.9%; demand all pairs
    // on this corpus (planted dups are J>=0.9 where recall ≈ 1-1e-6).
    assert(lsh == exact, s"missed pairs: ${exact -- lsh}")
  }

  test("simhash candidates are symmetric-free, low-hamming pairs") {
    val rows = SparkEntry
      .queries("q_dedup_simhash")(spark, dir)
      .collect()
    assert(rows.nonEmpty, "expected some simhash near-dup candidates")
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pairs must be ordered d1 < d2")
      assert(r.getInt(2) <= 3, "hamming distance must respect the cutoff")
    }
  }

  test("LSH ANN results are a subset of brute-force with sane recall") {
    val brute = SparkEntry
      .queries("q_ann_brute_force")(spark, dir)
      .select("q_id", "cand_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val lsh = SparkEntry
      .queries("q_ann_lsh")(spark, dir)
      .select("q_id", "cand_id", "rnk")
      .collect()
    assert(lsh.nonEmpty, "LSH should return neighbors for some queries")
    // Bucketing restricts candidates: every returned neighbor must be
    // ranked within its bucket, and overall recall vs brute force
    // should be non-degenerate on random embeddings with 4 planes.
    val lshPairs = lsh.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (lshPairs & brute).size.toDouble / brute.size
    assert(recall > 0.2, s"LSH recall degenerate: $recall")
  }

  test("IVF ANN probes its cells and keeps sane recall vs brute force") {
    val brute = SparkEntry
      .queries("q_ann_brute_force")(spark, dir)
      .select("q_id", "cand_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val ivf = SparkEntry
      .queries("q_ann_ivf")(spark, dir)
      .select("q_id", "cand_id", "rnk")
      .collect()
    assert(ivf.nonEmpty, "IVF should return neighbors for some queries")
    // every query returns at most k candidates, ranked densely
    ivf.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      assert(rows.length <= 5, s"query $q returned ${rows.length} > k")
      assert(rows.map(_.getInt(2)).sorted.toSeq == (1 to rows.length), s"query $q ranks")
    }
    // nprobe=4 of 16 cells on these random embeddings simulates to
    // recall ≈ 0.54; demand non-degenerate with margin
    val ivfPairs = ivf.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivfPairs & brute).size.toDouble / brute.size
    assert(recall > 0.25, s"IVF recall degenerate: $recall")
    // determinism: the deterministic codebook must reproduce exactly
    val again = SparkEntry.queries("q_ann_ivf")(spark, dir)
      .select("q_id", "cand_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == ivfPairs, "IVF result not deterministic")
  }

  test("PPJoin length+positional filters thin candidates, not results") {
    import org.apache.spark.sql.functions.col
    val t = Engine.Tables(spark, dir)
    CacheScope.scoped {
      // completeness on the real corpus: the exact-verified pair set is
      // identical to the quadratic all-pairs join
      val unfiltered = DedupQueries.jaccardPairs(t, 0.8)
        .orderBy(col("d1"), col("d2")).collect().toSeq
      val filtered = DedupQueries.prefixFilterPairs(t)
        .orderBy(col("d1"), col("d2")).collect().toSeq
      assert(filtered == unfiltered)
    }
    // planted corpus where each filter has a constructed kill:
    //  - docs 1/2 (sz 10) share ONLY shingle "zz", rarest-ordered to
    //    prefix position 2 on both sides -> positional bound
    //    1+min(10-1-2)=8 < alpha=ceil(4*20/9)=9 -> positional drop
    //  - docs 3 (sz 30) / 4 (sz 5) share their rarest shingle "yy" ->
    //    candidate, but 5*min=25 < 4*max=120 -> length drop
    // filler docs raise every other shingle's df so the shared ones
    // stay rarest-first in each prefix
    val A = Seq("aa1", "aa2", "zz") ++ (1 to 7).map(i => s"ca$i")
    val B = Seq("bb1", "bb2", "zz") ++ (1 to 7).map(i => s"cb$i")
    val F1 = Seq("aa1", "aa2", "bb1", "bb2")
    val fillers = (1 to 2).map(k =>
      (1 to 7).map(i => s"ca$i") ++ (1 to 7).map(i => s"cb$i"))
    val L = Seq("yy") ++ (1 to 29).map(i => s"l$i")
    val S = Seq("yy") ++ (1 to 4).map(i => s"s$i")
    val fillers2 = (1 to 2).map(k =>
      (1 to 29).map(i => s"l$i") ++ (1 to 4).map(i => s"s$i"))
    val rows = (Seq(A, B, F1, L, S) ++ fillers ++ fillers2).zipWithIndex
      .map { case (shs, i) => (i.toLong, shs) }
    val sh = spark.createDataFrame(rows).toDF("doc_id", "shingles")
    def candCount(len: Boolean, pos: Boolean): Set[(Long, Long)] =
      DedupQueries.prefixCandidatesOf(sh, 4, 5, len, pos)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val none = candCount(len = false, pos = false)
    val lenOnly = candCount(len = true, pos = false)
    val posOnly = candCount(len = false, pos = true)
    val both = candCount(len = true, pos = true)
    assert(none.contains((0L, 1L)) && none.contains((3L, 4L)))
    // the length filter kills size-mismatched pairs INSIDE the join
    // condition (before any aggregation); it keeps the same-size pair
    assert(lenOnly.contains((0L, 1L)) && !lenOnly.contains((3L, 4L)),
      s"length filter missed its kill: $lenOnly")
    // the positional filter subsumes the length bound at the output
    // level (at first-common-position 0 the two coincide) and
    // additionally kills the same-size pair whose shared token sits
    // too deep in the prefix
    assert(!posOnly.contains((0L, 1L)) && !posOnly.contains((3L, 4L)),
      s"positional filter missed a kill: $posOnly")
    assert(!both.contains((0L, 1L)) && !both.contains((3L, 4L)))
    assert(both.subsetOf(lenOnly) && lenOnly.subsetOf(none) &&
      posOnly.subsetOf(none) && both == posOnly)
  }

  test("exact dedup groups every document") {
    val t = Engine.Tables(spark, dir)
    val total = t.documents.count()
    val grouped = SparkEntry.queries("q_dedup_exact")(spark, dir)
    val sumCopies = grouped
      .agg(org.apache.spark.sql.functions.sum("n_copies"))
      .collect()(0)
      .getLong(0)
    assert(sumCopies == total)
  }

  test("SQ8 quantization bounds the error and the quantized ANN keeps high recall") {
    import org.apache.spark.sql.functions.col
    val t = Engine.Tables(spark, dir)
    // reconstruction error of symmetric round-to-nearest is at most
    // scale/2 per element, and 127-saturation can only hit the max
    val qz = SparkEntry.queries("q_embed_quantize_sq8")(spark, dir).collect()
    assert(qz.nonEmpty)
    qz.foreach { r =>
      val scale = r.getAs[Double]("scale")
      val err = r.getAs[Double]("max_abs_err")
      assert(err <= scale / 2 + 1e-9,
        s"vec ${r.getAs[Long]("vec_id")}: err $err > scale/2 ${scale / 2}")
    }
    // 8-bit codes barely perturb cosine ordering: top-5 recall vs the
    // exact brute force should be near-perfect on these embeddings
    val brute = SparkEntry.queries("q_ann_brute_force")(spark, dir)
      .select("q_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq8 = SparkEntry.queries("q_ann_sq8")(spark, dir)
      .select("q_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (sq8 & brute).size.toDouble / brute.size
    assert(recall >= 0.9, s"SQ8 recall too low: $recall")
  }

  test("IVF-SQ8 composite: probed-cell search over codes tracks float IVF recall") {
    val brute = SparkEntry.queries("q_ann_brute_force")(spark, dir)
      .select("q_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = SparkEntry.queries("q_ann_ivf_sq8")(spark, dir)
      .select("q_id", "cand_id", "rnk").collect()
    assert(rows.nonEmpty, "IVF-SQ8 should return neighbors")
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.length <= 5, s"query $q returned ${rs.length} > k")
      assert(rs.map(_.getInt(2)).sorted.toSeq == (1 to rs.length), s"query $q ranks")
    }
    // 8-bit scoring barely moves the ranking, so recall should sit in
    // the float IVF's band (nprobe=4/16 simulates to ~0.54)
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (pairs & brute).size.toDouble / brute.size
    assert(recall > 0.25, s"IVF-SQ8 recall degenerate: $recall")
    val again = SparkEntry.queries("q_ann_ivf_sq8")(spark, dir)
      .select("q_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == pairs, "IVF-SQ8 result not deterministic")
  }

  test("Lloyd-refined IVF (lloydIters=2) keeps recall at or above the seed quantizer's band") {
    // the registered q_ann_ivf runs the seed quantizer (hash-oracled);
    // the Lloyd refinement path stays exercised HERE: same operator,
    // refined cell boundaries, recall must stay non-degenerate and the
    // refinement must still be deterministic across runs
    CacheScope.scoped {
      val brute = SparkEntry.queries("q_ann_brute_force")(spark, dir)
        .select("q_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val t = Engine.Tables(spark, dir)
      val lloyd = SimilarityQueries.ivfTopK(t.embeddings, 10, 5, lloydIters = 2)
        .select("q_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (lloyd & brute).size.toDouble / brute.size
      assert(recall > 0.25, s"Lloyd-refined IVF recall degenerate: $recall")
      val again = SimilarityQueries.ivfTopK(t.embeddings, 10, 5, lloydIters = 2)
        .select("q_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(again == lloyd, "Lloyd-refined IVF not deterministic")
    }
  }

  test("semantic dedup assigns every vector to its nearest seed (rounded dist2, lower id)") {
    import org.apache.spark.sql.functions.col
    CacheScope.scoped {
      val (asg, k, n) = DedupQueries.semanticAssign(spark, dir)
      val vecs = Engine.Tables(spark, dir).embeddings
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).sortBy(_._1)
      assert(vecs.length == n)
      // the seed rule: the first k vec_ids that are multiples of n / k
      val step = math.max(1L, n / k)
      val seeds = vecs.filter(_._1 % step == 0).take(k).map(_._2)
      // Spark's round() is HALF_UP via BigDecimal — mirror it exactly
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      def dot(a: Seq[Double], b: Seq[Double]): Double =
        a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
      val byDistThenId = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)
      val expected = vecs.map { case (id, v) =>
        id -> seeds.indices.minBy(i =>
          (r6(dot(v, v) - 2.0 * dot(v, seeds(i)) + dot(seeds(i), seeds(i))), i))(byDistThenId)
      }.toMap
      val actual = asg.select("vec_id", "cluster_id").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(actual == expected,
        s"${(actual.toSet -- expected.toSet).take(5)} vs ${(expected.toSet -- actual.toSet).take(5)}")
    }
  }

  test("fuzzy decontamination: exact precision, full recall in the Jaccard band region") {
    import org.apache.spark.sql.functions._
    graft.functions.SketchExpressions.register(spark)
    val sh = Engine.Tables(spark, dir).documents
      .select(col("doc_id"),
        graft.functions.SketchExpressions.word_shingles(col("text")).as("shingles"))
      .filter(size(col("shingles")) > 0)
    // exact all-pairs sweep (sf0.001 only): every corpus doc with a
    // bench doc at jaccard >= 0.8 or containment >= 0.8
    val bench = sh.filter(pmod(col("doc_id"), lit(13L)) === 0)
      .select(col("doc_id").as("bench_id"), col("shingles").as("bsh"))
    val corpus = sh.filter(pmod(col("doc_id"), lit(13L)) =!= 0)
    val inter = size(array_intersect(col("shingles"), col("bsh"))).cast("double")
    val exact = corpus.crossJoin(bench)
      .withColumn("j", round(inter / size(array_union(col("shingles"), col("bsh"))), 6))
      .withColumn("c", round(inter / size(col("bsh")), 6))
      .filter(col("j") >= 0.8 || col("c") >= 0.8)
    val exactEither = exact.select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val exactJ = exact.filter(col("j") >= 0.8).select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val fuzzy = SparkEntry.queries("q_decontaminate_fuzzy")(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // verification is exact → no false positives ever
    assert(fuzzy.subsetOf(exactEither), s"false positives: ${fuzzy -- exactEither}")
    // banding recall is governed by Jaccard: the J>=0.8 region must be
    // fully recovered on this corpus (16 bands x 4 rows, recall ~1-1e-6)
    assert(exactJ.subsetOf(fuzzy), s"missed J-region docs: ${exactJ -- fuzzy}")
  }

  test("fuzzy decontamination finds a planted near-verbatim benchmark copy") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.functions.SketchExpressions.register(spark)
    val benchText = (1 to 40).map(i => s"benchword$i").mkString(" ")
    // doc 100: the bench item with one word changed (kills 3 of ~38
    // trigram shingles -> J ~ 0.85, containment ~ 0.92); doc 200:
    // unrelated
    val corpusDocs = Seq(
      (100L, benchText.replace("benchword7 ", "changed7 ")),
      (200L, (1 to 40).map(i => s"otherword$i").mkString(" "))
    ).toDF("doc_id", "text")
    val benchDocs = Seq((1L, benchText)).toDF("doc_id", "text")
    def sh(df: org.apache.spark.sql.DataFrame) = df.select(
      col("doc_id"),
      graft.functions.SketchExpressions.word_shingles(col("text")).as("shingles"))
    val out = graft.operators.MinHashLsh
      .contaminated(sh(corpusDocs), sh(benchDocs), 0.8)
      .collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSet == Set(100L))
    val r = out.head
    assert(r.getAs[Long]("n_bench_hits") == 1L)
    assert(r.getAs[Double]("max_jaccard") >= 0.8)
    assert(r.getAs[Double]("max_containment") >= 0.8)
  }
}

/** One shared local session for all suites (ScalaTest runs suites in
  * the same JVM; getOrCreate dedupes).
  */
object SparkTestSession {
  lazy val get: SparkSession = Engine.session("graft-test", "local[4]")
}
