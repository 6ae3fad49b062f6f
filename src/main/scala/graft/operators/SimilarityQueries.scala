package graft.operators

import graft.{QueryDef, QueryModule}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the embedding column.
  *
  * Every search here is the same three-stage pipeline: candidate
  * generation (full cross, LSH bucket, IVF cell, PQ/ADC shortlist),
  * exact rescoring of the candidates, then a per-query top-k. The
  * stages share one set of helpers: [[vectors]] (the one vector load),
  * [[seedVectors]] (the one seed codebook rule), [[topK]] (the one
  * ranker), the PQ code-array/LUT/ADC builders and [[rerankExact]].
  *
  *  - Brute-force cosine top-k (oracle-checked): the exact baseline.
  *    A small query set crossed with all candidates — the join is a
  *    broadcast of the query side, so the candidate scan stays fully
  *    parallel and nothing funnels through the driver; cost is
  *    O(|Q|·N·d) spread across executors.
  *  - LSH-bucketed variant (rows-only + SimilaritySpec recall check):
  *    the scale path. Random-hyperplane signatures put near vectors in
  *    the same bucket; the search join is then bucket-equi rather than
  *    cross. At 100 TB this is the difference between a shuffled
  *    cartesian and a hash join on a short key.
  *
  * Ranking determinism: rank on (round(cos, 6) DESC, vec_id) so both
  * engines order identically even when cosines differ in the last ulp.
  */
object SimilarityQueries extends QueryModule {

  /** Sequential-order dot product — the native DotProduct expression
    * (whole-stage codegen loop). Same left-to-right accumulation as
    * DuckDB's list_inner_product, so doubles match bit-for-bit.
    * Callers must have run SketchExpressions.register on the session.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.SketchExpressions.dot_product(a, b)

  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / sqrt(normA * normB)

  /** The one vector load: (vec_id, keep…, v, n2) with the embedding as
    * array<double> and n2 = dot(v, v); `keep` names input columns to
    * carry along, such as a blocking `label`. Registers the native
    * kernels on the session; paths that never read n2 get it pruned.
    */
  private[operators] def vectors(emb: DataFrame, keep: String*): DataFrame = {
    graft.functions.SketchExpressions.register(emb.sparkSession)
    emb.select((col("vec_id") +: keep.map(col)) :+ col("embedding").cast("array<double>").as("v"): _*)
      .withColumn("n2", dot(col("v"), col("v")))
  }

  /** The one seed codebook rule (IVF, PQ, IVF-PQ, SemDeDup): the first
    * `k` vectors whose vec_id is a multiple of max(1, n / k), in vec_id
    * order. `n` is the caller's row count of `e`. The <= k seed
    * vectors (k×dim doubles) come to the driver, the size-independent
    * codebook footprint any k-means keeps.
    */
  private[operators] def seedVectors(e: DataFrame, n: Long, k: Int): Seq[Seq[Double]] =
    e.filter(pmod(col("vec_id"), lit(math.max(1L, n / k))) === 0)
      .orderBy(col("vec_id"))
      .limit(k)
      .select(col("v"))
      .collect()
      .map(_.getSeq[Double](0))
      .toSeq

  /** The one per-query ranker: (q_id, cand_id, score, rnk) for the `k`
    * best candidates of each q_id, ties to the lower cand_id.
    */
  private[operators] def topK(
      scored: DataFrame, score: String, descending: Boolean, k: Int): DataFrame = {
    val s = col(score)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(if (descending) s.desc else s, col("cand_id"))
    scored
      .select(col("q_id"), col("cand_id"), s, row_number().over(w).as("rnk"))
      .filter(col("rnk") <= k)
  }

  /** Rounded cosine of every (q_id, cand_id) pair, cand_id != q_id, of
    * the query set vec_id < nQueries against all `vecs` (vec_id, v, n2)
    * — the broadcast cross shared by the exact-baseline paths.
    */
  private[operators] def crossScores(
      vecs: DataFrame, nQueries: Int, score: String): DataFrame = {
    val q = vecs
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn"))
    vecs
      .select(col("vec_id").as("cand_id"), col("v").as("cv"), col("n2").as("cn"))
      .join(broadcast(q), col("q_id") =!= col("cand_id"))
      .select(col("q_id"), col("cand_id"),
        round(cosine(col("qv"), col("cv"), col("qn"), col("cn")), 6).as(score))
  }

  /** r21 optimization (guide §2.4 / §1.2-1): nearest-centroid
    * assignment as a PURE PROJECTION. The codebook is already
    * driver-side (k×dim, the bounded-collect contract), so instead of
    * crossJoin-fanning every vector ×k and funneling the copies
    * through an Exchange + Sort + row_number window, the whole
    * codebook rides ONE broadcast row as an array column and the
    * argmin is `array_min` over per-centroid structs — zero shuffle,
    * zero per-row fanout, and the vector array is never copied k
    * times. Identical arithmetic and tie-breaks: dist2 =
    * round(n2 − 2·dot(v,cv) + cn2, 6) with ties to the lower list_id
    * (struct comparison is lexicographic: rd first, then list_id —
    * exactly the old `ORDER BY rd, list_id ... rn = 1`).
    */
  private def centroidArrayDf(
      s: org.apache.spark.sql.SparkSession,
      cents: Seq[(Int, Seq[Double])]): DataFrame = {
    // contract pin (r21 ADVICE): an empty codebook would yield ONE row
    // with an empty array — every assignment NULL — where the old
    // crossJoin form produced an empty result. Unreachable with a
    // nonempty corpus (the seed pass always yields >= 1 centroid);
    // fail loudly rather than change degenerate-input behavior.
    require(cents.nonEmpty, "centroidArrayDf: empty centroid seq")
    import s.implicits._
    cents.toDF("list_id", "cv")
      .withColumn("cn2", dot(col("cv"), col("cv")))
      .agg(array_sort(collect_list(
        struct(col("list_id"), col("cv"), col("cn2")))).as("cb"))
  }

  /** [[centroidArrayDf]] over seed vectors numbered 0.. in seed order. */
  private[operators] def seedCentroids(
      s: org.apache.spark.sql.SparkSession, seeds: Seq[Seq[Double]]): DataFrame =
    centroidArrayDf(s, seeds.zipWithIndex.map { case (v, i) => (i, v) })

  /** Per-centroid (rounded dist2, list_id) structs for `v` against the
    * 1-row codebook array `cb` — the shared kernel of [[nearestListId]]
    * and [[probeListIds]].
    */
  private def centDists(cb: Column, v: Column, n2: Column): Column =
    transform(cb, c =>
      struct(
        round(n2 - lit(2.0) * dot(v, c.getField("cv")) + c.getField("cn2"), 6)
          .as("rd"),
        c.getField("list_id").as("list_id")))

  /** argmin cell id (ties to the lower list_id). */
  private def nearestListId(cb: Column, v: Column, n2: Column): Column =
    array_min(centDists(cb, v, n2)).getField("list_id")

  /** The `nProbe` nearest cell ids, nearest first (same order contract
    * as the old `row_number <= nProbe` probe window).
    */
  private def probeListIds(
      cb: Column, v: Column, n2: Column, nProbe: Int): Column =
    transform(slice(array_sort(centDists(cb, v, n2)), 1, nProbe),
      x => x.getField("list_id"))

  /** `df` (vec_id, v, n2, …) plus its nearest cell `list_id` —
    * projection argmin against the 1-row broadcast codebook array (see
    * [[centroidArrayDf]]): same rounded dist2 and lower-list-id
    * tie-break as the window form it replaced (r21), with no ×k fanout
    * and no per-row shuffle.
    */
  private[operators] def assign(df: DataFrame, cents: DataFrame): DataFrame =
    df.crossJoin(broadcast(cents))
      .withColumn("list_id", nearestListId(col("cb"), col("v"), col("n2")))
      .drop("cb")

  /** (q_id, qv, qn, list_id): each query vec_id < nQueries once per
    * probed cell, its nProbe nearest by rounded argmin (same contract
    * as the cell assignment) — a projection top-n against the
    * broadcast codebook array instead of a crossJoin fanout + window
    * (r21).
    */
  private def ivfProbes(e: DataFrame, cents: DataFrame, nQueries: Int, nProbe: Int): DataFrame =
    e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn"))
      .crossJoin(broadcast(cents))
      .select(col("q_id"), col("qv"), col("qn"),
        explode(probeListIds(col("cb"), col("qv"), col("qn"), nProbe))
          .as("list_id"))

  /** Exact top-k neighbors for each query vector (vec_id < nQueries). */
  def bruteForceTopK(emb: DataFrame, nQueries: Int, k: Int): DataFrame =
    topK(crossScores(vectors(emb), nQueries, "cos"), "cos", descending = true, k)

  /** Multi-table random-hyperplane LSH: `tables` independent hash
    * tables of `planes` deterministic ±1 hyperplanes each. A vector
    * lands in one bucket per table; the search join is bucket-equi on
    * (table, bucket) and candidates are deduped before exact rescoring
    * — the classic recall fix that keeps the join selective at scale.
    */
  def lshTopK(
      emb: DataFrame,
      nQueries: Int,
      k: Int,
      planes: Int,
      dim: Int,
      numTables: Int = 8
  ): DataFrame = {
    // cached for the consuming action (CacheScope releases it): the
    // hyperplane bucket assignment (planes × dim dot products per row)
    // is the expensive part and feeds three consumers — hot-bucket
    // scan, query side, candidate side. All numTables bucket codes
    // come from ONE native expression call per row (HyperplaneBuckets)
    // — the equivalent literal coefficient tree (numTables × planes ×
    // dim lit()s) costs more in codegen compilation than the scan.
    val withBuckets = graft.CacheScope.cached(vectors(emb)
      .select(
        col("vec_id"),
        col("v"),
        col("n2"),
        posexplode(
          graft.functions.SketchExpressions
            .hyperplane_buckets(col("v"), planes, dim, numTables)
        ).as(Seq("tbl", "bucket"))
      ))
    val q = withBuckets
      .filter(col("vec_id") < nQueries)
      .select(
        col("vec_id").as("q_id"),
        col("v").as("qv"),
        col("n2").as("qn"),
        col("tbl"),
        col("bucket")
      )
    // hot-bucket guard: a bucket holding a giant slice of the corpus
    // (e.g. the all-zeros region of a degenerate embedding model) would
    // make the bucket join quadratic; candidates keep numTables-1 other
    // tables, so recall degrades gracefully. The over-cap list is tiny
    // by construction, so it broadcasts.
    val hotBuckets = withBuckets
      .groupBy("tbl", "bucket")
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") > MinHashLsh.MaxBucketSize)
      .select(col("tbl"), col("bucket"))
    val c = withBuckets
      .join(broadcast(hotBuckets), Seq("tbl", "bucket"), "left_anti")
      .select(
        col("vec_id").as("cand_id"),
        col("v").as("cv"),
        col("n2").as("cn"),
        col("tbl"),
        col("bucket")
      )
    val scored = c
      .join(broadcast(q), Seq("tbl", "bucket"))
      .filter(col("q_id") =!= col("cand_id"))
      .select(col("q_id"), col("qv"), col("qn"), col("cand_id"), col("cv"), col("cn"))
      .dropDuplicates(Seq("q_id", "cand_id")) // pairs can collide in several tables
      .withColumn(
        "cos",
        round(cosine(col("qv"), col("cv"), col("qn"), col("cn")), 6)
      )
    topK(scored, "cos", descending = true, k)
  }

  /** DuckDB replay of [[graft.functions.HyperplaneBuckets]] for the
    * registered q_ann_lsh parameters (8 tables × 4 planes over dim 64):
    * the ±1 coefficient is the same `((t*40503+p)*1315423911 +
    * d*2654435761) >>> 7 & 1` bit-mix (all operands positive, so SQL's
    * arithmetic `>>` equals the JVM's `>>>`), and the per-plane dot
    * product replays the kernel's SEQUENTIAL d=0..63 float fold via
    * list_reduce from a 0.0 seed — bit-identical accumulation, so the
    * `s >= 0` sign test (and hence every bucket code) matches exactly.
    * Parenthesization is exhaustive: DuckDB's shift/mask operators
    * associate left-to-right at equal precedence (see Murmur3Sql).
    */
  private def lshPlaneFold(p: Int): String = {
    // Mirror the kernel's clamp (HyperplaneBuckets sums only the first
    // min(dim, numElements) dims): a shorter-than-64 vector must fold
    // its real length, not let v[d+1] go NULL past the end (a NULL fold
    // would silently zero the sign bit instead of matching the JVM).
    val signed = "list_transform(range(least(64, len(v))), d -> CASE WHEN " +
      s"(((((t.t*40503) + $p)*1315423911) + (d*2654435761)) >> 7) & 1 = 1 " +
      "THEN v[d+1] ELSE -v[d+1] END)"
    s"list_reduce(list_prepend(0.0::DOUBLE, $signed), (a, x) -> a + x)"
  }
  private lazy val lshOracle: String = {
    val code = (0 until 4)
      .map(p => s"(CASE WHEN (${lshPlaneFold(p)}) >= 0 THEN ${1 << p} ELSE 0 END)")
      .mkString(" + ")
    s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        codes AS (
          SELECT vec_id, v, list_inner_product(v, v) AS n2, t.t AS tbl,
                 $code AS bucket
          FROM e CROSS JOIN (SELECT unnest(range(8)) AS t) t),
        hot AS (SELECT tbl, bucket FROM codes
                GROUP BY 1, 2 HAVING count(*) > ${graft.operators.MinHashLsh.MaxBucketSize}),
        cands AS (SELECT c.* FROM codes c ANTI JOIN hot h USING (tbl, bucket)),
        q AS (SELECT vec_id AS q_id, v AS qv, n2 AS qn, tbl, bucket
              FROM codes WHERE vec_id < 10),
        scored AS (
          SELECT DISTINCT q.q_id, c.vec_id AS cand_id,
                 round(list_inner_product(q.qv, c.v) / sqrt(q.qn * c.n2), 6) + 0.0 AS cos
          FROM cands c JOIN q USING (tbl, bucket)
          WHERE q.q_id != c.vec_id)
        SELECT q_id, cand_id, cos, rnk FROM (
          SELECT *, CAST(row_number() OVER (PARTITION BY q_id
                         ORDER BY cos DESC, cand_id) AS INT) AS rnk
          FROM scored)
        WHERE rnk <= 5
      """
  }

  /** IVF (inverted-file) ANN — the coarse-quantizer scale path next to
    * the hyperplane LSH: a small k-means codebook partitions the corpus
    * into `nLists` cells; a query probes only its `nProbe` nearest
    * cells and rescores those candidates exactly. At scale the index
    * build is one narrow pipeline over the corpus (assignment is a
    * broadcast argmin, the codebook update shuffles k×dim cells), and
    * the search join is list-equi instead of cross.
    *
    * Determinism: seed centroids are the evenly-spaced vec_ids, Lloyd
    * updates average in a fixed element order, and every argmin breaks
    * ties on the centroid id — stable across runs and partitionings.
    * The codebook (k×dim doubles) is the only driver-side state, the
    * same footprint any k-means keeps.
    */
  /** The IVF index build shared by the float and SQ8 search paths:
    * deterministic seed codebook, `lloydIters` Lloyd refinements, and
    * the final cell assignment. Returns (centroids, inverted lists,
    * cached normed corpus). Only the k×dim codebook ever reaches the
    * driver — assignment and refinement are fully distributed.
    */
  private def ivfIndex(
      emb: DataFrame,
      nLists: Int,
      lloydIters: Int
  ): (DataFrame, DataFrame, DataFrame) = {
    val s = emb.sparkSession
    // cached: the normed corpus feeds the codebook seed, every Lloyd
    // iteration, the final assignment, and the probe side; released by
    // the consuming action's CacheScope
    val e = graft.CacheScope.cached(vectors(emb))

    var cents = seedCentroids(s, seedVectors(e, e.count(), nLists))
    // Lloyd iterations: elementwise mean per cell via posexplode —
    // the shuffle is k×dim cells, independent of corpus size
    for (_ <- 1 to lloydIters) {
      cents = centroidArrayDf(s, assign(e, cents)
        .select(col("list_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("list_id"), col("pos"))
        .agg(avg(col("x")).as("m"))
        .groupBy(col("list_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("list_id"), col("pm.m").as("cv"))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1)))
        .toSeq
        .sortBy(_._1))
    }
    val lists = assign(e, cents) // (vec_id, v, n2, list_id)
    (cents, lists, e)
  }

  def ivfTopK(
      emb: DataFrame,
      nQueries: Int,
      k: Int,
      nLists: Int = 16,
      nProbe: Int = 4,
      lloydIters: Int = 2
  ): DataFrame = {
    val (cents, lists, e) = ivfIndex(emb, nLists, lloydIters)
    val scored = lists
      .join(ivfProbes(e, cents, nQueries, nProbe), "list_id")
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        round(cosine(col("qv"), col("v"), col("qn"), col("n2")), 6).as("cos"))
    topK(scored, "cos", descending = true, k)
  }

  /** Symmetric per-vector int8 scalar quantization (the SQ8 scheme of
    * Faiss's scalar quantizer; the standard embedding-compression
    * step): scale = max|v| / 127, code_i = round(v_i / scale),
    * dequant = code * scale. At 100 TB this is the 4× shuffle/IO
    * reduction that makes vector search affordable — codes travel,
    * floats stay at rest. Every step is IEEE double arithmetic plus
    * ties-away-from-zero rounding, both bit-identical across engines,
    * so unlike the float sketches this operator is EXACTLY
    * oracle-checkable.
    */
  def sq8Quantize(emb: DataFrame): DataFrame =
    vectors(emb)
      .withColumn("max_abs", array_max(transform(col("v"), x => abs(x))))
      .withColumn("scale",
        when(col("max_abs") > 0, col("max_abs") / lit(127.0))
          .otherwise(lit(0.0)))
      .withColumn("qvec",
        when(col("max_abs") > 0,
          transform(col("v"), x => round(x / col("scale"), 0).cast("int")))
          .otherwise(transform(col("v"), _ => lit(0))))

  /** Top-k cosine over the QUANTIZED codes: every product and partial
    * sum of an int8 dot is an exact integer far below 2^53, so the
    * scores are order-independent and engine-exact — the quantized
    * ANN ranks identically in Spark and DuckDB and gets a real hash
    * oracle. Like the brute-force baseline the search side is a
    * broadcast cross of a small query set (the scale path composes
    * these codes with the LSH/IVF bucket joins — the codes ride the
    * same equi-join keys at a quarter of the payload).
    */
  def sq8TopK(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val qd = sq8Quantize(emb)
      .select(col("vec_id"), transform(col("qvec"), c => c.cast("double")).as("v"))
      .withColumn("n2", dot(col("v"), col("v")))
    topK(crossScores(qd, nQueries, "qcos"), "qcos", descending = true, k)
  }

  /** IVF-SQ8 composite (the Faiss IVFScalarQuantizer layout): the
    * coarse quantizer (centroid probe) runs in float, but the inverted
    * lists carry only the int8 codes — at 100 TB the scan payload of
    * the probed cells is a quarter of the float index, which is the
    * whole point of the composite. Scoring is cosine over codes with
    * deterministic tie-breaks; the scale factor cancels out of cosine
    * up to rounding, so recall tracks the float IVF's.
    */
  def ivfSq8TopK(
      emb: DataFrame,
      nQueries: Int,
      k: Int,
      nLists: Int = 16,
      nProbe: Int = 4,
      lloydIters: Int = 2
  ): DataFrame = {
    val (cents, lists0, e) = ivfIndex(emb, nLists, lloydIters)
    // codes derived per-row from the stored floats (index build time);
    // the search never touches v again. The codes stay doubles (no int
    // round trip): an int cast would turn a -0.0 code into 0.0.
    def codes(vcol: Column): Column = {
      val ma = array_max(transform(vcol, x => abs(x)))
      when(ma > 0,
        transform(vcol, x => round(x / (ma / lit(127.0)), 0)))
        .otherwise(transform(vcol, _ => lit(0.0)))
    }
    val lists = lists0
      .withColumn("qcodes", codes(col("v")))
      .withColumn("cbn", dot(col("qcodes"), col("qcodes")))
      .select(col("list_id"), col("vec_id"), col("qcodes").as("cb"), col("cbn"))
    val probes = ivfProbes(e, cents, nQueries, nProbe)
      .select(col("q_id"), codes(col("qv")).as("qa"), col("list_id"))
      .withColumn("qan", dot(col("qa"), col("qa")))
    val scored = lists
      .join(probes, "list_id")
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        round(dot(col("qa"), col("cb")) / sqrt(col("qan") * col("cbn")), 6).as("qcos"))
    topK(scored, "qcos", descending = true, k)
  }

  /** Product quantization (the Faiss PQ/ADC layout): the vector is cut
    * into `m` subvectors and each subvector is replaced by the id of
    * its nearest codeword in a per-subspace codebook — dim doubles
    * become m small ints (64×8B → 4×1B here), the 128× compression
    * that makes billion-vector indexes fit in memory. The codebook is
    * the subvectors of `numCodes` deterministic evenly-spaced seed
    * rows (the same seed rule as the IVF/SemDeDup codebooks, no Lloyd
    * refinement) — a deliberate trade: real deployments k-means-train
    * the codebook, but the fixed-seed variant makes every code and
    * every ADC distance EXACTLY reproducible, so unlike trained PQ
    * this one carries a real DuckDB hash oracle.
    *
    * All distances are per-subspace squared euclidean rounded to 1e-6
    * with ties to the lower code id, and cross-subspace sums happen in
    * fixed subspace order — bit-identical across engines and
    * partitionings.
    */
  // (r21 note: a "dense 1-row codebook + nested-HOF projection" form of
  // pqEncode/LUT was measured and REVERTED — nested interpreted
  // higher-order functions lost 1.5–1.7× to the codegen'd
  // broadcast-join + window path on the paired min-of-3 basis. The
  // coarse-quantizer argmin [centroidArrayDf/nearestListId] stayed: one
  // flat transform of k large dot products amortizes the interpreter
  // overhead and removes a full-corpus shuffle+window per call.)
  // `seeds` are the full seed vectors whose subvectors form the
  // codebook; IVF-PQ uses them whole as its coarse centroids.
  final case class PqModel(codebook: DataFrame, m: Int, subDim: Int, seeds: Seq[Seq[Double]]) {
    def numCodes: Int = seeds.size
  }

  /** Build the per-subspace codebook: (sub_id, code_id, cw, cwn2).
    * k×m subvector rows — broadcast-size, independent of corpus size.
    */
  def pqCodebook(emb: DataFrame, m: Int = 4, numCodes: Int = 16): PqModel =
    pqModel(vectors(emb), m, numCodes)

  /** [[pqCodebook]] over loaded [[vectors]]: its row count and seed
    * pass run on `e` (a cached `e` is materialized by them).
    */
  private def pqModel(e: DataFrame, m: Int, numCodes: Int): PqModel = {
    val s = e.sparkSession
    val seeds = seedVectors(e, e.count(), numCodes)
    // the fused ADC scan indexes a DENSE flattened LUT as
    // j*numCodes + code — a short codebook would silently misalign
    // every distance (or throw ANSI out-of-bounds), so fail loudly here
    require(seeds.length == numCodes,
      s"pqCodebook: corpus yielded ${seeds.length} seed rows, " +
        s"need numCodes=$numCodes (corpus smaller than the codebook?)")
    val dim = seeds.head.size
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    import s.implicits._
    val cb = seeds.zipWithIndex
      .flatMap { case (v, i) =>
        (0 until m).map(j => (j, i, v.slice(j * subDim, (j + 1) * subDim)))
      }
      .toDF("sub_id", "code_id", "cw")
      .withColumn("cwn2", dot(col("cw"), col("cw")))
    PqModel(cb, m, subDim, seeds)
  }

  /** (vec_id, sub_id, sv, svn2, code_id, cw, cwn2, d2): every subvector
    * of `e` against every codeword of its subspace (broadcast hash join
    * on sub_id), d2 the rounded squared euclidean — the shared body of
    * the encoder and the per-query LUT.
    */
  private def subspaceDists(e: DataFrame, model: PqModel): DataFrame =
    e.select(col("vec_id"),
        posexplode(transform(sequence(lit(0), lit(model.m - 1)),
          j => slice(col("v"), j * model.subDim + 1, lit(model.subDim))))
          .as(Seq("sub_id", "sv")))
      .withColumn("svn2", dot(col("sv"), col("sv")))
      .join(broadcast(model.codebook), "sub_id")
      .withColumn("d2",
        round(col("svn2") - lit(2.0) * dot(col("sv"), col("cw")) + col("cwn2"), 6))

  /** Encode every vector: per-subspace argmin against the broadcast
    * codebook. One narrow pass over the corpus (rows fan out ×m, join
    * is a broadcast hash on sub_id) — no shuffle of the corpus itself
    * beyond the per-(vec,sub) argmin window, which repartitions on
    * vec_id exactly once.
    */
  def pqEncode(emb: DataFrame, model: PqModel): DataFrame = {
    val w = Window.partitionBy(col("vec_id"), col("sub_id"))
      .orderBy(col("d2"), col("code_id"))
    subspaceDists(vectors(emb), model)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("vec_id"), col("sub_id"), col("code_id"), col("d2"))
  }

  /** Code digest + reconstruction error per vector — the oracle-facing
    * shape: codes pivoted to fixed columns, the cross-subspace error
    * summed in fixed subspace order (no order-dependent double sums).
    */
  def pqQuantize(emb: DataFrame, m: Int = 4, numCodes: Int = 16): DataFrame = {
    val model = pqCodebook(emb, m, numCodes)
    val codes = pqEncode(emb, model)
    def at(j: Int, c: String): Column = max(when(col("sub_id") === j, col(c)))
    codes
      .groupBy(col("vec_id"))
      .agg(
        at(0, "code_id").cast("int").as("c0"),
        at(1, "code_id").cast("int").as("c1"),
        at(2, "code_id").cast("int").as("c2"),
        at(3, "code_id").cast("int").as("c3"),
        round(at(0, "d2") + at(1, "d2") + at(2, "d2") + at(3, "d2"), 6)
          .as("recon_dist2"))
  }

  /** (vec_id, codes): the PQ codes pivoted to ONE array per vector
    * (codes[j] = subspace-j code), so an ADC scan touches one row per
    * candidate per query instead of m LUT-join rows.
    */
  private def pqCodeArrays(emb: DataFrame, model: PqModel): DataFrame =
    pqEncode(emb, model)
      .groupBy(col("vec_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("sub_id"), col("code_id")))),
        x => x("code_id")).as("codes"))

  /** (q_id, lut): per-query LUT of the queries vec_id < nQueries in `e`,
    * flattened to a dense array indexed sub_id*numCodes+code_id (the
    * broadcast join on sub_id makes every (sub,code) slot present, so
    * array_sort by idx yields exactly that dense layout) — ADC is then
    * an arithmetic element_at instead of a per-(sub,code) hash probe.
    */
  private def pqLuts(e: DataFrame, nQueries: Int, model: PqModel): DataFrame =
    subspaceDists(e.filter(col("vec_id") < nQueries), model)
      .groupBy(col("vec_id").as("q_id"))
      .agg(transform(
        array_sort(collect_list(struct(
          (col("sub_id") * model.numCodes + col("code_id")).as("idx"), col("d2")))),
        x => x("d2")).as("lut"))

  /** ADC distance of a (lut, codes) row: the fixed-order sum
    * j = 0..m-1 of lut[j*numCodes + codes[j]], rounded like every
    * other distance.
    */
  private def adcDist2(model: PqModel): Column =
    round(aggregate(sequence(lit(0), lit(model.m - 1)), lit(0.0),
      (acc, j) => acc + element_at(col("lut"),
        j * model.numCodes + element_at(col("codes"), j + 1) + 1)), 6)
      .as("adc_dist2")

  /** ADC search (asymmetric distance computation): the query stays
    * full-precision; per query a lookup table of m×k per-subspace
    * distances is built against the codebook, and a candidate's
    * distance is the fixed-order sum of LUT entries its codes select.
    * The scale shape is the whole point: the corpus-side scan touches
    * ONLY the m-byte codes, floats never travel.
    */
  def pqTopK(
      emb: DataFrame,
      nQueries: Int,
      k: Int,
      m: Int = 4,
      numCodes: Int = 16
  ): DataFrame = {
    val model = pqCodebook(emb, m, numCodes)
    // full-corpus ADC is BY DESIGN a bounded cartesian: every candidate
    // is scored against each of the nQueries broadcast LUT rows (the
    // "scan only the m-byte codes" contract)
    val scored = pqCodeArrays(emb, model)
      .select(col("vec_id").as("cand_id"), col("codes"))
      .join(broadcast(pqLuts(vectors(emb), nQueries, model)),
        col("q_id") =!= col("cand_id"))
      .select(col("q_id"), col("cand_id"), adcDist2(model))
    topK(scored, "adc_dist2", descending = false, k)
  }

  /** Shortlist → exact rerank — the deployed PQ retrieval shape (Faiss
    * refine/rerank stage): ADC is a lossy pre-ranking whose error is
    * the query's own quantization residual, so rank-1 neighbors are
    * NOT guaranteed to top the ADC list once many vectors share nearby
    * codes (at sf1, >1000 candidates tie at ADC 0 for a seed-coincident
    * query). The fix every production PQ system ships: take the top-L
    * ADC shortlist (any (q_id, cand_id) frame, e.g. [[pqTopK]] or
    * [[ivfPqTopK]] at k = L), recompute EXACT distances on those L full
    * vectors only, re-rank to (q_id, cand_id, dist2, rnk). Cost stays
    * L·dim per query — independent of corpus size — while recall
    * recovers to near-exact. Deterministic end to end (same rounding
    * + id tie-breaks), so the registered queries are hash-oracled.
    */
  def rerankExact(emb: DataFrame, shortlist: DataFrame, k: Int): DataFrame = {
    val e = vectors(emb)
    val rr = shortlist.select(col("q_id"), col("cand_id"))
      .join(e.select(col("vec_id").as("q_id"), col("v").as("qv")), "q_id")
      .join(e.select(col("vec_id").as("cand_id"), col("v").as("cv")), "cand_id")
      .withColumn("dist2",
        round(dot(col("qv"), col("qv")) - lit(2.0) * dot(col("qv"), col("cv"))
          + dot(col("cv"), col("cv")), 6))
    topK(rr, "dist2", descending = false, k)
  }

  /** IVF-PQ composite (the Faiss IVFPQ layout, the index family behind
    * billion-scale ANN): a coarse quantizer routes each vector to one
    * of `nLists` cells, and inside the cells only the m-byte PQ codes
    * are stored; a query probes its `nProbe` nearest cells and scores
    * candidates by ADC against a per-query LUT. The scan payload of a
    * probe is (nProbe/nLists)·N·m bytes — the composite of the two
    * reductions that make 100 TB vector search tractable.
    *
    * Both quantizers here use the deterministic evenly-spaced seed rule
    * (coarse centroids = the full seed vectors whose subvectors are the
    * PQ codebook), every argmin rounds to 1e-6 with id tie-breaks, and
    * cross-subspace sums run in fixed order — so unlike the float
    * IVF/IVF-SQ8 paths (Lloyd-refined, recall-gated) this composite is
    * EXACTLY oracle-checkable end to end.
    */
  def ivfPqTopK(
      emb: DataFrame,
      nQueries: Int,
      k: Int,
      nLists: Int = 16,
      nProbe: Int = 4,
      m: Int = 4,
      numCodes: Int = 16
  ): DataFrame = {
    require(nLists == numCodes, "coarse centroids reuse the PQ seed rows")
    // the model's count and seed pass run on the cached corpus, so they
    // materialize it for the cell assignment, probes and LUTs below
    val e = graft.CacheScope.cached(vectors(emb))
    val model = pqModel(e, m, numCodes)
    // coarse centroids: the model's FULL seed vectors (k×dim, already
    // on the driver). Coarse routing is projections against the
    // broadcast codebook array (r21): argmin for the cell assignment,
    // sorted-slice for the probes — same rounded-dist2 + lower-list-id
    // contract as the windows they replaced (kept on the paired A/B:
    // one flat transform of k full-dim dots, unlike the reverted nested
    // PQ-encode HOFs)
    val cents = seedCentroids(emb.sparkSession, model.seeds)
    val cellAsg = assign(e, cents).select(col("vec_id"), col("list_id"))
    val probes = ivfProbes(e, cents, nQueries, nProbe).select(col("q_id"), col("list_id"))
    val codesArr = pqCodeArrays(emb, model).join(cellAsg, "vec_id")
    // every (q_id, vec_id) pair appears at most once here (one cell per
    // vector, distinct probed lists per query), so the ADC sum is a pure
    // projection
    val scored = codesArr
      .join(broadcast(probes.join(pqLuts(e, nQueries, model), "q_id")), "list_id")
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"), adcDist2(model))
    topK(scored, "adc_dist2", descending = false, k)
  }

  /** Greedy Maximal Marginal Relevance over a bounded shortlist: the
    * diversified top-k selection a retrieval/dataset-curation pipeline
    * runs after ANN (pick relevant items that aren't near-dups of each
    * other). The DISTRIBUTED part is shortlist construction (relevance
    * scan + sort-limit) and the candidate-pair similarity join; the
    * greedy argmax then runs driver-side over the collected shortlist
    * — bounded at `shortlist` rows by construction, the same
    * bounded-collect contract as the PQ codebooks. All cosines are
    * rounded to 6 decimals BEFORE the greedy (the module's ranking
    * determinism rule), so the selection is an exact integer-ish
    * computation both engines replay identically.
    */
  def mmrSelect(emb: DataFrame, queryId: Long, shortlist: Int, k: Int,
      lambdaRel: Double = 0.7, lambdaDiv: Double = 0.3): DataFrame = {
    val s = emb.sparkSession
    val e = vectors(emb)
    val q = e.filter(col("vec_id") === queryId)
      .select(col("v").as("qv"), col("n2").as("qn"))
    val cand = e.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("rel",
        round(cosine(col("v"), col("qv"), col("n2"), col("qn")), 6))
      .select(col("vec_id"), col("v"), col("n2"), col("rel"))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(shortlist)
    val candC = graft.CacheScope.cached(cand)
    val rels = candC.select(col("vec_id"), col("rel"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    val sims = candC.as("a")
      .join(broadcast(candC.as("b")),
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
        round(cosine(col("a.v"), col("b.v"), col("a.n2"), col("b.n2")), 6)
          .as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val relMap = rels.toMap
    val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
    val remaining = scala.collection.mutable.SortedSet(rels.map(_._1): _*)
    while (selected.size < k && remaining.nonEmpty) {
      val best = remaining.iterator.map { id =>
        val score =
          if (selected.isEmpty) relMap(id)
          else {
            val ms = selected.iterator.map(sid => sims((id, sid))).max
            // both weights are EXPLICIT decimal literals: 1.0 - 0.7
            // in driver arithmetic is not the double 0.3 the oracle
            // parses, so the complement is never derived
            lambdaRel * relMap(id) - lambdaDiv * ms
          }
        (id, score)
      }.reduceLeft { (x, y) =>
        // argmax with vec_id tiebreak, ids ascend in iteration order
        if (y._2 > x._2) y else x
      }._1
      selected += best
      remaining -= best
    }
    import s.implicits._
    selected.toSeq.zipWithIndex
      .map { case (id, i) => (i + 1, id, relMap(id)) }
      .toDF("rank", "vec_id", "rel")
  }

  def defs: Seq[QueryDef] = Seq(
    // MMR diversified selection: shortlist of 50 by relevance to the
    // vec_id-0 query, then 5 greedy picks trading relevance (0.7)
    // against max similarity to the already-picked (0.3). The oracle
    // replays the greedy exactly as chained CTEs over the SAME
    // 6-decimal-rounded cosines.
    QueryDef(
      "q_select_mmr",
      (s, dir) => mmrSelect(tables(s, dir).embeddings, 0L, 50, 5),
      Some {
        val step = (k: Int) => s"""
        , m$k AS (
          SELECT c.vec_id, c.rel, max(s.s) AS ms
          FROM cand c JOIN sim s ON s.ia = c.vec_id
          WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${k - 1})
            AND s.ib IN (SELECT vec_id FROM sel${k - 1})
          GROUP BY c.vec_id, c.rel
        ),
        s$k AS (
          SELECT vec_id, rel, $k AS rank FROM m$k
          ORDER BY (0.7*rel - 0.3*ms) DESC, vec_id LIMIT 1
        ),
        sel$k AS (
          SELECT vec_id FROM sel${k - 1}
          UNION ALL SELECT vec_id FROM s$k
        )"""
        """
        WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 list_inner_product(embedding::DOUBLE[],
                                    embedding::DOUBLE[]) AS n2
          FROM embeddings
        ),
        q AS (SELECT v, n2 FROM e WHERE vec_id = 0),
        cand AS (
          SELECT e.vec_id, e.v, e.n2,
                 round(list_inner_product(e.v, (SELECT v FROM q)) /
                       sqrt(e.n2 * (SELECT n2 FROM q)), 6) + 0.0 AS rel
          FROM e WHERE e.vec_id != 0
          ORDER BY rel DESC, vec_id LIMIT 50
        ),
        sim AS (
          SELECT a.vec_id AS ia, b.vec_id AS ib,
                 round(list_inner_product(a.v, b.v) /
                       sqrt(a.n2 * b.n2), 6) + 0.0 AS s
          FROM cand a JOIN cand b ON a.vec_id != b.vec_id
        ),
        s1 AS (
          SELECT vec_id, rel, 1 AS rank FROM cand
          ORDER BY rel DESC, vec_id LIMIT 1
        ),
        sel1 AS (SELECT vec_id FROM s1)""" +
          (2 to 5).map(step).mkString + """
        SELECT rank, vec_id, rel FROM (
          SELECT rank, vec_id, rel FROM s1
          UNION ALL SELECT rank, vec_id, rel FROM s2
          UNION ALL SELECT rank, vec_id, rel FROM s3
          UNION ALL SELECT rank, vec_id, rel FROM s4
          UNION ALL SELECT rank, vec_id, rel FROM s5
        )
        """
      }
    ),
    QueryDef(
      "q_ann_brute_force",
      (s, dir) => bruteForceTopK(tables(s, dir).embeddings, 10, 5),
      Some("""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                          list_inner_product(embedding::DOUBLE[],
                                             embedding::DOUBLE[]) AS n2
                   FROM embeddings),
        scored AS (
          SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
                 round(list_inner_product(q.v, c.v) / sqrt(q.n2 * c.n2), 6) + 0.0 AS cos
          FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id != q.vec_id
        )
        SELECT q_id, cand_id, cos, rnk FROM (
          SELECT *, CAST(row_number() OVER (PARTITION BY q_id
                         ORDER BY cos DESC, cand_id) AS INT) AS rnk
          FROM scored)
        WHERE rnk <= 5
      """)
    ),
    // Hash-oracled since round 18: the hyperplane bit-mix and the
    // sequential per-plane float fold replay exactly in DuckDB
    // (lshOracle above), so the "probabilistic" bucket assignment is
    // deterministic provenance like the IVF family's seed codebooks.
    QueryDef(
      "q_ann_lsh",
      (s, dir) => lshTopK(tables(s, dir).embeddings, 10, 5, 4, 64),
      Some(lshOracle)
    ),
    // IVF with the deterministic seed coarse quantizer (lloydIters=0):
    // the same seed rule the hash-green IVF-PQ coarse quantizer uses,
    // so the whole index build + probe + rescore replays exactly in SQL
    // and the query is hash-oracled. The Lloyd-refined quantizer stays
    // available (ivfTopK lloydIters>0) and keeps its recall evidence in
    // DedupSimilaritySpec — refinement moves cell boundaries, it does
    // not change the operator shape, so the oracle pins the machinery
    // and the spec pins the refinement.
    QueryDef(
      "q_ann_ivf",
      (s, dir) => ivfTopK(tables(s, dir).embeddings, 10, 5, lloydIters = 0),
      Some(s"""
        $ivfCoarseCtes,
        scored AS (
          SELECT p.q_id, l.vec_id AS cand_id,
                 round(list_inner_product(p.qv, l.v)
                       / sqrt(p.qn * l.n2), 6) + 0.0 AS cos
          FROM cellasg l JOIN probes p ON l.list_id = p.list_id
          WHERE p.q_id != l.vec_id
        )
        SELECT q_id, cand_id, cos, rnk FROM (
          SELECT *, CAST(row_number() OVER (PARTITION BY q_id
                         ORDER BY cos DESC, cand_id) AS INT) AS rnk
          FROM scored)
        WHERE rnk <= 5
      """)
    ),
    // IVF-SQ8 with the same seed coarse quantizer: float coarse probe,
    // int8 codes in the inverted lists (integer dots are engine-exact,
    // like q_ann_sq8), hash-oracled end to end.
    QueryDef(
      "q_ann_ivf_sq8",
      (s, dir) => ivfSq8TopK(tables(s, dir).embeddings, 10, 5, lloydIters = 0),
      Some(s"""
        $ivfCoarseCtes,
        lc AS (
          SELECT list_id, vec_id,
                 CASE WHEN ma > 0
                      THEN list_transform(v, x -> round(x / (ma / 127.0), 0))
                      ELSE list_transform(v, x -> 0.0) END AS cb
          FROM (SELECT *, list_max(list_transform(v, x -> abs(x))) AS ma
                FROM cellasg)
        ),
        lcn AS (SELECT list_id, vec_id, cb,
                       list_inner_product(cb, cb) AS cbn FROM lc),
        pc AS (
          SELECT q_id, list_id,
                 CASE WHEN ma > 0
                      THEN list_transform(qv, x -> round(x / (ma / 127.0), 0))
                      ELSE list_transform(qv, x -> 0.0) END AS qa
          FROM (SELECT *, list_max(list_transform(qv, x -> abs(x))) AS ma
                FROM probes)
        ),
        pcn AS (SELECT q_id, list_id, qa,
                       list_inner_product(qa, qa) AS qan FROM pc),
        scored AS (
          SELECT p.q_id, l.vec_id AS cand_id,
                 round(list_inner_product(p.qa, l.cb)
                       / sqrt(p.qan * l.cbn), 6) + 0.0 AS qcos
          FROM lcn l JOIN pcn p ON l.list_id = p.list_id
          WHERE p.q_id != l.vec_id
        )
        SELECT q_id, cand_id, qcos, rnk FROM (
          SELECT *, CAST(row_number() OVER (PARTITION BY q_id
                         ORDER BY qcos DESC, cand_id) AS INT) AS rnk
          FROM scored)
        WHERE rnk <= 5
      """)
    ),
    // Per-vector int8 quantization summary: the scale factor plus three
    // engine-exact digests of the code vector (integer checksum,
    // saturated-code count, max reconstruction error). The codes
    // themselves are compared via qsum — an order-independent integer.
    QueryDef(
      "q_embed_quantize_sq8",
      (s, dir) => {
        val qd = sq8Quantize(tables(s, dir).embeddings)
        qd.select(
          col("vec_id"),
          col("scale"),
          aggregate(col("qvec"), lit(0L), (acc, x) => acc + x).as("qsum"),
          size(filter(col("qvec"), c => abs(c) === 127)).cast("long").as("n_sat"),
          round(
            when(col("max_abs") > 0,
              array_max(transform(col("v"),
                x => abs(x - round(x / col("scale"), 0) * col("scale")))))
              .otherwise(lit(0.0)),
            9).as("max_abs_err")
        )
      },
      Some("""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        s AS (
          SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) AS max_abs
          FROM e
        )
        SELECT vec_id,
               CASE WHEN max_abs > 0 THEN max_abs / 127.0 ELSE 0.0 END AS scale,
               CAST(list_sum(CASE WHEN max_abs > 0
                    THEN list_transform(v, x ->
                         CAST(round(x / (max_abs / 127.0), 0) AS INTEGER))
                    ELSE list_transform(v, x -> 0) END) AS BIGINT) AS qsum,
               CAST(len(list_filter(CASE WHEN max_abs > 0
                    THEN list_transform(v, x ->
                         CAST(round(x / (max_abs / 127.0), 0) AS INTEGER))
                    ELSE list_transform(v, x -> 0) END,
                    c -> abs(c) = 127)) AS BIGINT) AS n_sat,
               round(CASE WHEN max_abs > 0
                    THEN list_max(list_transform(v, x ->
                         abs(x - round(x / (max_abs / 127.0), 0)
                                 * (max_abs / 127.0))))
                    ELSE 0.0 END, 9) AS max_abs_err
        FROM s
      """)
    ),
    // Quantized ANN: top-k cosine over the int8 codes — exact hash
    // oracle (integer dots are engine-exact), unlike the float-sketch
    // ANN variants which are recall-gated instead.
    QueryDef(
      "q_ann_sq8",
      (s, dir) => sq8TopK(tables(s, dir).embeddings, 10, 5),
      Some("""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        s AS (
          SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) AS max_abs
          FROM e
        ),
        qd AS (
          SELECT vec_id,
                 CASE WHEN max_abs > 0
                      THEN list_transform(v, x -> CAST(CAST(
                           round(x / (max_abs / 127.0), 0) AS INTEGER) AS DOUBLE))
                      ELSE list_transform(v, x -> 0.0) END AS qv
          FROM s
        ),
        n AS (SELECT vec_id, qv, list_inner_product(qv, qv) AS qn FROM qd),
        scored AS (
          SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
                 round(list_inner_product(q.qv, c.qv) / sqrt(q.qn * c.qn), 6) + 0.0 AS qcos
          FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id != q.vec_id
        )
        SELECT q_id, cand_id, qcos, rnk FROM (
          SELECT *, CAST(row_number() OVER (PARTITION BY q_id
                         ORDER BY qcos DESC, cand_id) AS INT) AS rnk
          FROM scored)
        WHERE rnk <= 5
      """)
    ),
    // Product quantization with the deterministic seed codebook: every
    // code and the per-vector reconstruction error are engine-exact
    // (rounded per-subspace distances, fixed-order cross-subspace sum),
    // so PQ gets a real hash oracle — the compressed-corpus dual of
    // q_embed_quantize_sq8.
    QueryDef(
      "q_embed_quantize_pq",
      (s, dir) => pqQuantize(tables(s, dir).embeddings),
      Some(pqQuantizeOracle)
    ),
    // ADC search over the PQ codes: LUT per query against the m-byte
    // codes. Exactly oracle-checkable for the same reason.
    QueryDef(
      "q_ann_pq",
      (s, dir) => pqTopK(tables(s, dir).embeddings, 10, 5),
      Some(pqTopKOracle)
    ),
    // IVF-PQ: probe nProbe seed cells, ADC over the cells' codes — the
    // only IVF variant with a full hash oracle (seed coarse quantizer).
    QueryDef(
      "q_ann_ivf_pq",
      (s, dir) => ivfPqTopK(tables(s, dir).embeddings, 10, 5),
      Some(ivfPqOracle)
    ),
    // PQ + exact rerank: ADC top-50 shortlist re-scored with exact
    // distances (the production retrieval shape; also recall-gated at
    // sf1 with higher-resolution codes in pq_planted_codes_sf1).
    QueryDef(
      "q_ann_pq_rerank",
      (s, dir) => {
        val emb = tables(s, dir).embeddings
        rerankExact(emb, pqTopK(emb, 10, 50), 5)
      },
      Some(pqRerankOracle)
    ),
    // IVF-PQ + exact rerank — the complete Faiss IVFPQ+refine stack:
    // coarse probe -> PQ-coded cells -> ADC shortlist -> exact rerank,
    // every stage deterministic and the whole pipeline hash-oracled.
    QueryDef(
      "q_ann_ivf_pq_rerank",
      (s, dir) => {
        val emb = tables(s, dir).embeddings
        rerankExact(emb, ivfPqTopK(emb, 10, 50), 5)
      },
      Some(ivfPqRerankOracle)
    )
  )

  /** Shared oracle CTE prefix for the seed-quantizer IVF paths: the
    * evenly-spaced seed centroids (the SQL mirror of ivfIndex's seed
    * codebook at lloydIters=0, nLists=16), the per-vector cell argmin
    * and the nProbe=4 query probes — all argmins on 1e-6-rounded
    * squared euclidean with list-id tie-breaks, exactly as assign()/
    * the probe windows compute them.
    */
  private val ivfCoarseCtes = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                      list_inner_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[]) AS n2
               FROM embeddings),
    nn AS (SELECT count(*) AS n FROM e),
    cents AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS list_id, v AS cv,
             list_inner_product(v, v) AS cn2
      FROM (
        SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn
        FROM e
        WHERE vec_id % (SELECT greatest(1, n // 16) FROM nn) = 0
      ) WHERE rn <= 16
    ),
    cellasg AS (
      SELECT vec_id, v, n2, list_id FROM (
        SELECT e.vec_id, e.v, e.n2, c.list_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(e.n2 - 2.0*list_inner_product(e.v, c.cv)
                                + c.cn2, 6),
                          c.list_id) AS rn
        FROM e CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT q_id, qv, qn, list_id FROM (
        SELECT e.vec_id AS q_id, e.v AS qv, e.n2 AS qn, c.list_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(e.n2 - 2.0*list_inner_product(e.v, c.cv)
                                + c.cn2, 6),
                          c.list_id) AS rn
        FROM e CROSS JOIN cents c
        WHERE e.vec_id < 10
      ) WHERE rn <= 4
    )"""

  /** Shared oracle CTE prefix: the seed codebook (sub_id, code_id, c,
    * cn2) and the per-(vec, subspace) argmin assignment — the SQL
    * mirror of pqCodebook + pqEncode (m=4, k=16, subDim=16).
    */
  private val pqAsgCtes = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    nn AS (SELECT count(*) AS n FROM e),
    seeds AS (
      SELECT vec_id, v FROM (
        SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn
        FROM e
        WHERE vec_id % (SELECT greatest(1, n // 16) FROM nn) = 0
      ) WHERE rn <= 16
    ),
    cw AS (
      SELECT sub.j AS sub_id,
             row_number() OVER (PARTITION BY sub.j ORDER BY vec_id) - 1 AS code_id,
             v[sub.j*16+1 : sub.j*16+16] AS c
      FROM seeds CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) sub
    ),
    cw2 AS (SELECT sub_id, code_id, c,
                   list_inner_product(c, c) AS cn2 FROM cw),
    subs AS (
      SELECT e.vec_id, sub.j AS sub_id, v[sub.j*16+1 : sub.j*16+16] AS sv
      FROM e CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) sub
    ),
    subs2 AS (SELECT vec_id, sub_id, sv,
                     list_inner_product(sv, sv) AS svn2 FROM subs),
    asg AS (
      SELECT vec_id, sub_id, code_id, d2 FROM (
        SELECT s.vec_id, s.sub_id, c.code_id,
               round(s.svn2 - 2.0*list_inner_product(s.sv, c.c) + c.cn2, 6) AS d2,
               row_number() OVER (PARTITION BY s.vec_id, s.sub_id
                 ORDER BY round(s.svn2 - 2.0*list_inner_product(s.sv, c.c)
                                + c.cn2, 6), c.code_id) AS rn
        FROM subs2 s JOIN cw2 c ON s.sub_id = c.sub_id
      ) WHERE rn = 1
    )"""

  private val pqQuantizeOracle = s"""
    $pqAsgCtes
    SELECT vec_id,
           CAST(max(CASE WHEN sub_id = 0 THEN code_id END) AS INT) AS c0,
           CAST(max(CASE WHEN sub_id = 1 THEN code_id END) AS INT) AS c1,
           CAST(max(CASE WHEN sub_id = 2 THEN code_id END) AS INT) AS c2,
           CAST(max(CASE WHEN sub_id = 3 THEN code_id END) AS INT) AS c3,
           round(max(CASE WHEN sub_id = 0 THEN d2 END)
               + max(CASE WHEN sub_id = 1 THEN d2 END)
               + max(CASE WHEN sub_id = 2 THEN d2 END)
               + max(CASE WHEN sub_id = 3 THEN d2 END), 6) AS recon_dist2
    FROM asg GROUP BY vec_id
  """

  private val pqTopKOracle = s"""
    $pqAsgCtes,
    lut AS (
      SELECT q.vec_id AS q_id, s.sub_id, c.code_id,
             round(s.svn2 - 2.0*list_inner_product(s.sv, c.c) + c.cn2, 6) AS qd2
      FROM subs2 s
      JOIN e q ON q.vec_id = s.vec_id AND q.vec_id < 10
      JOIN cw2 c ON s.sub_id = c.sub_id
    ),
    scored AS (
      SELECT l.q_id, a.vec_id AS cand_id,
             round(max(CASE WHEN a.sub_id = 0 THEN l.qd2 END)
                 + max(CASE WHEN a.sub_id = 1 THEN l.qd2 END)
                 + max(CASE WHEN a.sub_id = 2 THEN l.qd2 END)
                 + max(CASE WHEN a.sub_id = 3 THEN l.qd2 END), 6) AS adc_dist2
      FROM asg a
      JOIN lut l ON l.sub_id = a.sub_id AND l.code_id = a.code_id
      WHERE l.q_id != a.vec_id
      GROUP BY l.q_id, a.vec_id
    )
    SELECT q_id, cand_id, adc_dist2, rnk FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY q_id
                     ORDER BY adc_dist2, cand_id) AS INT) AS rnk
      FROM scored)
    WHERE rnk <= 5
  """

  /** PQ rerank: the ADC pipeline truncated at shortlist 50, then exact
    * squared distance on the shortlist pairs only, re-ranked.
    */
  private val pqRerankOracle = s"""
    $pqAsgCtes,
    lut AS (
      SELECT q.vec_id AS q_id, s.sub_id, c.code_id,
             round(s.svn2 - 2.0*list_inner_product(s.sv, c.c) + c.cn2, 6) AS qd2
      FROM subs2 s
      JOIN e q ON q.vec_id = s.vec_id AND q.vec_id < 10
      JOIN cw2 c ON s.sub_id = c.sub_id
    ),
    scored AS (
      SELECT l.q_id, a.vec_id AS cand_id,
             round(max(CASE WHEN a.sub_id = 0 THEN l.qd2 END)
                 + max(CASE WHEN a.sub_id = 1 THEN l.qd2 END)
                 + max(CASE WHEN a.sub_id = 2 THEN l.qd2 END)
                 + max(CASE WHEN a.sub_id = 3 THEN l.qd2 END), 6) AS adc_dist2
      FROM asg a
      JOIN lut l ON l.sub_id = a.sub_id AND l.code_id = a.code_id
      WHERE l.q_id != a.vec_id
      GROUP BY l.q_id, a.vec_id
    ),
    short AS (
      SELECT q_id, cand_id FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                    ORDER BY adc_dist2, cand_id) AS arnk
        FROM scored)
      WHERE arnk <= 50
    ),
    rr AS (
      SELECT s.q_id, s.cand_id,
             round(list_inner_product(q.v, q.v)
                 - 2.0*list_inner_product(q.v, c.v)
                 + list_inner_product(c.v, c.v), 6) AS dist2
      FROM short s
      JOIN e q ON q.vec_id = s.q_id
      JOIN e c ON c.vec_id = s.cand_id
    )
    SELECT q_id, cand_id, dist2, rnk FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY q_id
                     ORDER BY dist2, cand_id) AS INT) AS rnk
      FROM rr)
    WHERE rnk <= 5
  """

  /** IVF-PQ: the PQ CTEs plus the coarse seed centroids (the same seed
    * rows, used whole), per-vector cell assignment, nProbe=4 query
    * probes, and ADC restricted to the probed cells.
    */
  private val ivfPqScoredCtes = s"""
    $pqAsgCtes,
    cents AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS list_id, v AS cv,
             list_inner_product(v, v) AS cn2
      FROM seeds
    ),
    cellasg AS (
      SELECT vec_id, list_id FROM (
        SELECT e.vec_id, c.list_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_inner_product(e.v, e.v)
                       - 2.0*list_inner_product(e.v, c.cv) + c.cn2, 6),
                 c.list_id) AS rn
        FROM e CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT q_id, list_id FROM (
        SELECT e.vec_id AS q_id, c.list_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_inner_product(e.v, e.v)
                       - 2.0*list_inner_product(e.v, c.cv) + c.cn2, 6),
                 c.list_id) AS rn
        FROM e CROSS JOIN cents c
        WHERE e.vec_id < 10
      ) WHERE rn <= 4
    ),
    lut AS (
      SELECT q.vec_id AS q_id, s.sub_id, c.code_id,
             round(s.svn2 - 2.0*list_inner_product(s.sv, c.c) + c.cn2, 6) AS qd2
      FROM subs2 s
      JOIN e q ON q.vec_id = s.vec_id AND q.vec_id < 10
      JOIN cw2 c ON s.sub_id = c.sub_id
    ),
    scored AS (
      SELECT l.q_id, a.vec_id AS cand_id,
             round(max(CASE WHEN a.sub_id = 0 THEN l.qd2 END)
                 + max(CASE WHEN a.sub_id = 1 THEN l.qd2 END)
                 + max(CASE WHEN a.sub_id = 2 THEN l.qd2 END)
                 + max(CASE WHEN a.sub_id = 3 THEN l.qd2 END), 6) AS adc_dist2
      FROM asg a
      JOIN cellasg ca ON ca.vec_id = a.vec_id
      JOIN probes p ON p.list_id = ca.list_id
      JOIN lut l ON l.q_id = p.q_id AND l.sub_id = a.sub_id
                AND l.code_id = a.code_id
      WHERE l.q_id != a.vec_id
      GROUP BY l.q_id, a.vec_id
    )
  """

  private val ivfPqOracle = s"""
    $ivfPqScoredCtes
    SELECT q_id, cand_id, adc_dist2, rnk FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY q_id
                     ORDER BY adc_dist2, cand_id) AS INT) AS rnk
      FROM scored)
    WHERE rnk <= 5
  """

  /** IVF-PQ + exact rerank: the probed-cell ADC shortlist (50)
    * re-scored with exact distances — the full Faiss IVFPQ+refine
    * stack, hash-oracled end to end.
    */
  private val ivfPqRerankOracle = s"""
    $ivfPqScoredCtes,
    short AS (
      SELECT q_id, cand_id FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                    ORDER BY adc_dist2, cand_id) AS arnk
        FROM scored)
      WHERE arnk <= 50
    ),
    rr AS (
      SELECT sh.q_id, sh.cand_id,
             round(list_inner_product(q.v, q.v)
                 - 2.0*list_inner_product(q.v, c.v)
                 + list_inner_product(c.v, c.v), 6) AS dist2
      FROM short sh
      JOIN e q ON q.vec_id = sh.q_id
      JOIN e c ON c.vec_id = sh.cand_id
    )
    SELECT q_id, cand_id, dist2, rnk FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY q_id
                     ORDER BY dist2, cand_id) AS INT) AS rnk
      FROM rr)
    WHERE rnk <= 5
  """
}
