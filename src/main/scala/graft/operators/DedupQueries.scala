package graft.operators

import graft.{QueryDef, QueryModule}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication suite for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.
  *
  * Scale design: every variant is expressed as joins/aggregations on
  * distributed columns — no driver-side state.
  *  - exact: one hash-groupBy (map-side partial agg).
  *  - jaccard: shingle-inverted-index self-join. This is the *exact*
  *    baseline; its candidate set grows quadratically with document
  *    count for high-df shingles, which is why the scale path is LSH.
  *  - minhash_lsh: per-doc signature computed in a single projection
  *    (fold over the shingle array — no explode, no shuffle), then a
  *    band-bucket join that only pairs documents agreeing on ≥1 band;
  *    candidates are verified with exact Jaccard. Rows-only check
  *    (recall of banding is probabilistic); MinHashSpec asserts
  *    recall/precision against the exact result.
  *  - simhash: 64-bit signed-projection signature, band-blocked
  *    Hamming candidates. Rows-only + spec.
  *  - embedding near-dup: label-blocked exact cosine (oracle-checked);
  *    the unblocked scale path is SimilarityQueries' LSH.
  */
object DedupQueries extends QueryModule {

  /** doc_id + distinct 3-word shingles via the native WordShingles
    * expression (docs shorter than 3 words are dropped, matching the
    * oracle's range() emptiness).
    */
  private def shingled(t: graft.Engine.Tables): DataFrame = {
    graft.functions.SketchExpressions.register(t.spark)
    // (r21: an ensureParallelInput floor here was measured and
    // reverted — paired A/B showed the shingle pass's consumers
    // [minhash/prefix/clusters] consistently ~1.1× SLOWER with the
    // extra exchange: the downstream shuffles redistribute anyway and
    // the cached table gains nothing from more blocks.)
    t.documents
      .select(
        col("doc_id"),
        graft.functions.SketchExpressions.word_shingles(col("text")).as("shingles")
      )
      .filter(size(col("shingles")) > 0)
  }

  /** Exact Jaccard similarity on distinct-shingle sets for all pairs
    * sharing at least one shingle. Threshold on the rounded value so
    * both engines make the identical keep/drop decision.
    */
  def jaccardPairs(t: graft.Engine.Tables, threshold: Double): DataFrame = {
    // reused by both sides of the self-join — cached for the span of
    // the consuming action (at cluster scale: a scratch table dropped
    // when the job ends; CacheScope releases it in the action's finally)
    val sh = graft.CacheScope.cached(shingled(t))
    val ex = sh.select(
      col("doc_id"),
      explode(col("shingles")).as("sh"),
      size(col("shingles")).as("sz")
    )
    val a = ex.select(
      col("doc_id").as("d1"),
      col("sh"),
      col("sz").as("s1")
    )
    val b = ex.select(
      col("doc_id").as("d2"),
      col("sh"),
      col("sz").as("s2")
    )
    a.join(b, Seq("sh"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2"))
      .agg(
        count(lit(1)).as("inter"),
        first(col("s1")).as("sz1"),
        first(col("s2")).as("sz2")
      )
      .withColumn(
        "jaccard",
        round(
          col("inter") / (col("sz1") + col("sz2") - col("inter")),
          6
        )
      )
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("jaccard"))
  }

  /** EXACT threshold similarity join without the full inverted index:
    * AllPairs/PPJoin prefix filtering (Bayardo et al., WWW'07;
    * Chaudhuri's SSJoin family). Under any global token order, a pair
    * with |s1 ∩ s2| >= c shares its SMALLEST common token within the
    * first |s_i| - c + 1 tokens of BOTH sides (the other c-1 common
    * tokens sit after it), and J >= t implies inter >= ceil(t·|s_i|)
    * for each side — so indexing only each doc's first
    * sz - ceil(t·sz) + 1 tokens, ordered rarest-first by corpus
    * document frequency, is COMPLETE: identical output to the
    * all-shingles join, with candidates generated only where two
    * RARE tokens collide. ceil(t·sz) is computed in exact integer
    * arithmetic (t = num/den) so the prefix never under-shoots off a
    * float. On top of the prefix, the two PPJoin candidate filters:
    * the LENGTH filter (J >= t forces den·min(sz) >= num·max(sz),
    * checked inside the join condition so size-mismatched pairs never
    * materialize) and the POSITIONAL filter (all common tokens besides
    * the globally-smallest one sit after it in BOTH ordered lists, so
    * inter <= 1 + min(remaining suffix lengths); pairs that cannot
    * reach alpha = ceil(t/(1+t)·(sz1+sz2)) are dropped before the
    * exact verify). Both are complete: a qualifying pair always has
    * its globally-smallest common token inside both prefixes, and both
    * bounds are upper bounds on the true intersection. At 100 TB: one
    * df-count pass, one prefix inverted index (a few tokens per doc
    * instead of all), bucketed equi-join, exact verify via
    * array_intersect on the (filter-thinned) candidate pairs only.
    */
  def prefixFilterPairs(t: graft.Engine.Tables,
      num: Int = 4, den: Int = 5): DataFrame =
    verifyPairs(t,
      prefixCandidates(t, num, den,
        lengthFilter = true, positionalFilter = true),
      num, den)

  /** Candidate-pair stage of [[prefixFilterPairs]] with each PPJoin
    * filter toggleable — the spec measures the candidate-count
    * reduction each filter buys (output equality is guaranteed either
    * way; the filters only thin the exact-verify input).
    */
  def prefixCandidates(t: graft.Engine.Tables, num: Int, den: Int,
      lengthFilter: Boolean, positionalFilter: Boolean): DataFrame =
    prefixCandidatesOf(graft.CacheScope.cached(shingled(t)),
      num, den, lengthFilter, positionalFilter)

  /** [[prefixCandidates]] over an explicit (doc_id, shingles) table —
    * the spec drives this with planted corpora where each filter's
    * kill is constructed.
    */
  def prefixCandidatesOf(sh: DataFrame, num: Int, den: Int,
      lengthFilter: Boolean, positionalFilter: Boolean): DataFrame = {
    val ex = sh.select(col("doc_id"), explode(col("shingles")).as("sh"))
    val dfCount = ex.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // per-doc token list ordered (df asc, token asc) — the shared
    // global order both prefixes must use
    val ordered = ex.join(dfCount, "sh")
      .groupBy(col("doc_id"))
      .agg(
        sort_array(collect_list(struct(col("df"), col("sh")))).as("ord"),
        count(lit(1)).as("sz"))
      // ceil(num*sz/den) via integer floor((num*sz + den - 1)/den)
      .withColumn("c",
        floor((lit(num) * col("sz") + lit(den - 1)) / lit(den)).cast("long"))
      .withColumn("p", col("sz") - col("c") + lit(1))
    // prefix tokens with their 0-based position in the ordered list —
    // the positional filter needs both sides' positions
    val prefix = ordered
      .select(col("doc_id"), col("sz"),
        posexplode(slice(transform(col("ord"), _.getField("sh")),
          lit(1), col("p").cast("int"))))
      .toDF("doc_id", "sz", "pos", "sh")
    // PPJoin length filter, exact integers: J >= num/den forces
    // den*min(sz1,sz2) >= num*max(sz1,sz2) — pruned inside the join
    // condition, before any pair ever materializes
    val joinCond = {
      val base = col("a.sh") === col("b.sh") &&
        col("a.doc_id") < col("b.doc_id")
      if (lengthFilter)
        base && lit(den) * least(col("a.sz"), col("b.sz")) >=
          lit(num) * greatest(col("a.sz"), col("b.sz"))
      else base
    }
    val cand0 = prefix.as("a")
      .join(prefix.as("b"), joinCond)
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(
        first(col("a.sz")).as("sz1"),
        first(col("b.sz")).as("sz2"),
        // globally-smallest common token = min position on BOTH sides
        // (both lists share the (df, sh) order, so min-by-a.pos is it)
        min(struct(col("a.pos").as("pa"), col("b.pos").as("pb"))).as("fm"))
    // PPJoin positional filter: every other common token sits after
    // the smallest one in both lists, so inter <= 1 + min(remaining);
    // required inter is alpha = ceil(num*(sz1+sz2)/(num+den))
    val alpha = floor(
      (lit(num) * (col("sz1") + col("sz2")) + lit(num + den - 1)) /
        lit(num + den)).cast("long")
    val positional =
      lit(1) + least(
        col("sz1") - lit(1) - col("fm.pa"),
        col("sz2") - lit(1) - col("fm.pb")) >= alpha
    (if (positionalFilter) cand0.filter(positional) else cand0)
      .select(col("d1"), col("d2"))
  }

  /** Exact Jaccard verification of candidate pairs against the full
    * shingle sets — the final stage shared by every candidate route.
    */
  private def verifyPairs(t: graft.Engine.Tables, cand: DataFrame,
      num: Int, den: Int): DataFrame = {
    val sh = graft.CacheScope.cached(shingled(t))
    val full = sh.select(col("doc_id"), col("shingles"))
    cand
      .join(full.select(col("doc_id").as("d1"), col("shingles").as("s1")), "d1")
      // r22 (guide §2.5, same fix class as the CEP NFA pin): EXPLICIT
      // partition count on the exchange feeding the exact-verify stage.
      // The array_intersect verify is per-pair CPU over small rows, and
      // AQE's byte-based coalescing folded the ~6 MB candidate-pair
      // shuffle to 5 tasks on a 32-core host (profiled: 5 tasks x
      // ~1.8 s task time). Pinning numShufflePartitions (session conf,
      // deployment-sized) opts this one exchange out of coalescing;
      // the d2-join result is partition-count-invariant.
      .repartition(
        t.spark.sessionState.conf.numShufflePartitions, col("d2"))
      .join(full.select(col("doc_id").as("d2"), col("shingles").as("s2")), "d2")
      .withColumn("inter", size(array_intersect(col("s1"), col("s2"))))
      .withColumn("jaccard",
        round(col("inter") /
          (size(col("s1")) + size(col("s2")) - col("inter")), 6))
      .filter(col("jaccard") >= lit(num.toDouble / den))
      .select(col("d1"), col("d2"), col("jaccard"))
  }

  private val jaccardOracle = s"""
    WITH sh AS (
      ${Murmur3Sql.shingleSelect}
    ),
    ex AS (SELECT doc_id, unnest(shingles) AS sh, len(shingles) AS sz
           FROM sh WHERE len(shingles) > 0),
    cand AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter,
             any_value(a.sz) AS sz1, any_value(b.sz) AS sz2
      FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT d1, d2,
           round(inter * 1.0 / (sz1 + sz2 - inter), 6) AS jaccard
    FROM cand
    WHERE round(inter * 1.0 / (sz1 + sz2 - inter), 6) >= 0.8
  """

  /** Exact replay of MinHash+LSH: Murmur3Sql replays Spark's murmur3
    * per shingle, the VALUES-embedded permutation constants come from
    * MinHashSignature's own arrays, banding keys on the raw 4-slot
    * tuples (equal tuples ⇔ equal Spark band hashes), and candidates
    * are verified with the same exact-Jaccard round-then-filter. The
    * hot-bucket guard is replayed too (count > MaxBucketSize per
    * band key).
    */
  private lazy val minhashLshOracle = s"""
    WITH sh AS (
      ${Murmur3Sql.shingleSelect}
    ),
    shf AS (SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0),
    ${Murmur3Sql.minhashBandCtes},
    hot AS (SELECT band, bkey FROM bands
            GROUP BY 1, 2 HAVING count(*) > ${MinHashLsh.MaxBucketSize}),
    banded AS (SELECT b.doc_id, b.band, b.bkey FROM bands b
               ANTI JOIN hot h ON b.band = h.band AND b.bkey = h.bkey),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
    SELECT d1, d2, jaccard FROM (
      SELECT c.d1, c.d2,
             round(len(list_intersect(s1.shingles, s2.shingles)) * 1.0 /
                   ((len(s1.shingles) + len(s2.shingles))
                    - len(list_intersect(s1.shingles, s2.shingles))), 6) AS jaccard
      FROM cand c JOIN shf s1 ON s1.doc_id = c.d1
                  JOIN shf s2 ON s2.doc_id = c.d2)
    WHERE jaccard >= 0.8
  """

  /** Exact replay of SimHash banding: murmur3 halves (seeds 42/1042)
    * per DISTINCT token with the per-doc multiplicity folded in as
    * cnt×(2·bit−1), the 64-bit signature reassembled as UBIGINT, the
    * same 4×16-bit band split, hot-bucket guard, pair dedup, and
    * bit_count(xor) Hamming filter.
    */
  private lazy val simhashOracle = s"""
    WITH dt AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    tc AS (SELECT doc_id, tok, count(*) AS cnt FROM dt GROUP BY 1, 2),
    toks AS (SELECT DISTINCT tok FROM tc),
    ${Murmur3Sql.hashCtes(42, "toks", "lo")},
    ${Murmur3Sql.hashCtes(1042, "toks", "hi")},
    h64 AS (
      SELECT l.tok,
             (CASE WHEN l.h32 < 0 THEN l.h32 + 4294967296 ELSE l.h32 END) AS lo,
             (CASE WHEN h.h32 < 0 THEN h.h32 + 4294967296 ELSE h.h32 END) AS hi
      FROM lo_hash l JOIN hi_hash h USING (tok)),
    bitsum AS (
      SELECT t.doc_id, b.i,
             sum((t.cnt * (CASE WHEN b.i < 32
                   THEN ((h.lo >> b.i) & 1)
                   ELSE ((h.hi >> (b.i - 32)) & 1) END) * 2) - t.cnt) AS c
      FROM tc t JOIN h64 h USING (tok)
      CROSS JOIN (SELECT unnest(range(64)) AS i) b
      GROUP BY 1, 2),
    sig AS (
      SELECT doc_id,
             sum(CASE WHEN c > 0 THEN (1::HUGEINT << i) ELSE 0 END)::UBIGINT AS s
      FROM bitsum GROUP BY 1),
    bandt AS (
      SELECT doc_id, s, t.band, ((s >> (t.band * 16)) & 65535)::BIGINT AS bucket
      FROM sig CROSS JOIN (SELECT unnest(range(4)) AS band) t),
    hot AS (SELECT band, bucket FROM bandt
            GROUP BY 1, 2 HAVING count(*) > ${MinHashLsh.MaxBucketSize}),
    banded AS (SELECT b.* FROM bandt b ANTI JOIN hot h USING (band, bucket)),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, a.s AS s1, b.s AS s2
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
    SELECT d1, d2, bit_count(xor(s1, s2))::INT AS hamming
    FROM cand WHERE bit_count(xor(s1, s2)) <= 3
  """

  /** Target rows per semantic-dedup cluster. k is derived as
    * ceil(N / target) so the within-cluster pairwise cost per cluster
    * (~target² cosine evaluations) is a CONSTANT as the corpus grows —
    * the property the SemDeDup shape needs at 100 TB.
    */
  val SemanticTargetClusterRows = 512L

  /** Floor keeps tiny corpora from degenerating to one cluster; cap
    * bounds the driver-collected / broadcast codebook (k × dim ≈ 64 MB
    * at 65536 × 128 doubles). Past the cap a deployment shards the
    * codebook (hierarchical two-level assignment) or swaps the
    * within-cluster all-pairs for the bucketed ANN candidate
    * generator — neither changes this operator's plan shape.
    */
  val SemanticMinK = 32L
  val SemanticMaxK = 65536L

  /** Derived cluster count — integer ceil, mirrored exactly by the
    * oracle SQL's `ceil(count(*) / 512.0)` (both are exact up to 2^52
    * rows, far past any corpus row count).
    */
  def semanticK(n: Long): Int =
    math.max(
      SemanticMinK,
      math.min(SemanticMaxK, (n + SemanticTargetClusterRows - 1) / SemanticTargetClusterRows)
    ).toInt

  /** Nearest-centroid assignment for semantic dedup: (cluster_id,
    * vec_id, v, n2) for EVERY vector, pre-drop. Shared by the
    * q_dedup_semantic query and the sf1 cluster-size gate (which
    * asserts on assignment sizes, not the survivor counts the query
    * outputs).
    */
  private[graft] def semanticAssign(s: SparkSession, dir: String): (DataFrame, Int, Long) = {
    import SimilarityQueries.{assign, seedCentroids, seedVectors, vectors}
    val e = vectors(tables(s, dir).embeddings)
    val n = e.count()
    val k = semanticK(n)
    // deterministic seed codebook (the IVF builder's seed rule; the
    // <= k seed rows, k x dim bounded by SemanticMaxK, come to the
    // driver so numbering needs no partitionless window). r21 (guide
    // §2.4): the codebook rides ONE broadcast row as an array column and
    // the nearest-centroid assignment is an array_min projection — no
    // ×k crossJoin fanout, no per-row window shuffle, ties to the lower
    // list_id.
    val asg = assign(e, seedCentroids(s, seedVectors(e, n, k)))
      .select(col("list_id").as("cluster_id"), col("vec_id"), col("v"), col("n2"))
    (asg, k, n)
  }

  private[graft] def semanticDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.SketchExpressions.dot_product
    val tau = 0.8
    val (asg, _, _) = semanticAssign(s, dir)
    // within-cluster near-dup: b is dropped when a lower-id
    // cluster-mate sits within the cosine threshold
    val a = asg.select(col("cluster_id"), col("vec_id").as("a_id"),
      col("v").as("av"), col("n2").as("an"))
    val b = asg.select(col("cluster_id"), col("vec_id").as("b_id"),
      col("v").as("bv"), col("n2").as("bn"))
    val dropped = b.join(a, Seq("cluster_id"))
      .filter(col("a_id") < col("b_id"))
      .filter(round(dot_product(col("av"), col("bv")) /
        sqrt(col("an") * col("bn")), 6) >= tau)
      .select(col("b_id")).distinct()
    asg.join(dropped, col("vec_id") === col("b_id"), "left_anti")
      .select(col("cluster_id").cast("long").as("cluster_id"),
        col("vec_id"))
  }

  /** The k derivation (greatest/least/ceil) mirrors semanticK exactly;
    * seeds use row_number <= k instead of LIMIT so k can come from the
    * kk CTE.
    */
  private val semanticOracle = s"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             list_inner_product(embedding::DOUBLE[],
                                embedding::DOUBLE[]) AS n2
      FROM embeddings
    ),
    kk AS (
      SELECT greatest($SemanticMinK, least($SemanticMaxK,
               CAST(ceil(count(*) / $SemanticTargetClusterRows.0) AS BIGINT))) AS k,
             count(*) AS n
      FROM e
    ),
    seeds AS (
      SELECT vec_id, v, n2 FROM (
        SELECT vec_id, v, n2, row_number() OVER (ORDER BY vec_id) AS rn
        FROM e
        WHERE vec_id % (SELECT greatest(1, n // k) FROM kk) = 0
      ) WHERE rn <= (SELECT k FROM kk)
    ),
    cents AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS list_id,
             v AS cv, n2 AS cn2
      FROM seeds
    ),
    asg AS (
      SELECT vec_id, v, n2, list_id FROM (
        SELECT e.vec_id, e.v, e.n2, c.list_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(e.n2 - 2.0 * list_inner_product(e.v, c.cv)
                                + c.cn2, 6), c.list_id) AS rn
        FROM e CROSS JOIN cents c
      ) WHERE rn = 1
    )
    SELECT CAST(b.list_id AS BIGINT) AS cluster_id, b.vec_id
    FROM asg b
    WHERE NOT EXISTS (
      SELECT 1 FROM asg a
      WHERE a.list_id = b.list_id AND a.vec_id < b.vec_id
        AND round(list_inner_product(a.v, b.v) /
                  sqrt(a.n2 * b.n2), 6) >= 0.8
    )
  """

  def defs: Seq[QueryDef] = Seq(
    // Exact dedup: hash-groupBy on content digest, keep min doc_id.
    QueryDef(
      "q_dedup_exact",
      (s, dir) => {
        val t = tables(s, dir)
        t.documents
          .groupBy(md5(col("text")).as("content_hash"))
          .agg(
            min(col("doc_id")).as("keeper"),
            count(lit(1)).as("n_copies")
          )
      },
      Some("""
        SELECT md5(text) AS content_hash,
               min(doc_id) AS keeper, count(*) AS n_copies
        FROM documents GROUP BY 1
      """)
    ),
    // Exact n-gram Jaccard near-dup pairs (the planted duplicates sit
    // at J >= 0.9; threshold 0.8 keeps the check non-trivial).
    QueryDef(
      "q_dedup_jaccard",
      (s, dir) => jaccardPairs(tables(s, dir), 0.8),
      Some(jaccardOracle)
    ),
    // Prefix-filtered EXACT similarity join — same output as
    // q_dedup_jaccard (same oracle), scale-correct candidate
    // generation (rarest-prefix inverted index instead of all
    // shingles). PrefixFilterSpec additionally proves candidate-set
    // shrinkage vs the full index.
    QueryDef(
      "q_dedup_prefix_filter",
      (s, dir) => prefixFilterPairs(tables(s, dir)),
      Some(jaccardOracle)
    ),
    // MinHash + banded LSH with exact-Jaccard verification of the
    // banding candidates. Hash-oracled since round 18: Murmur3Sql
    // replays the murmur3 token hash in DuckDB, so the banding is no
    // longer "probabilistic" from the oracle's viewpoint — it is the
    // same deterministic function of the text. MinHashSpec still
    // asserts agreement with the exact pairs.
    QueryDef(
      "q_dedup_minhash_lsh",
      (s, dir) => MinHashLsh.nearDuplicates(shingled(tables(s, dir)), 0.8),
      Some(minhashLshOracle)
    ),
    // SimHash candidates at Hamming distance <= 3. Hash-oracled since
    // round 18 (murmur3 replay), spec keeps the Hamming-radius claim.
    QueryDef(
      "q_dedup_simhash",
      (s, dir) => SimHash.candidates(tables(s, dir).documents, 3),
      Some(simhashOracle)
    ),
    // Embedding-cosine near-dup, label-blocked (exact within block).
    QueryDef(
      "q_dedup_embedding",
      (s, dir) => {
        graft.functions.SketchExpressions.register(s)
        import graft.functions.SketchExpressions.dot_product
        val t = tables(s, dir)
        val e = t.embeddings.select(
          col("vec_id"),
          col("label"),
          col("embedding").cast("array<double>").as("v")
        )
        val withNorm = e.withColumn("dot_self", dot_product(col("v"), col("v")))
        val a = withNorm.select(
          col("label"),
          col("vec_id").as("v1"),
          col("v").as("va"),
          col("dot_self").as("na")
        )
        val b = withNorm.select(
          col("label"),
          col("vec_id").as("v2"),
          col("v").as("vb"),
          col("dot_self").as("nb")
        )
        a.join(b, Seq("label"))
          .filter(col("v1") < col("v2"))
          .withColumn(
            "cos",
            round(
              dot_product(col("va"), col("vb")) / sqrt(col("na") * col("nb")),
              6
            )
          )
          .filter(col("cos") >= 0.35)
          .select(col("label"), col("v1"), col("v2"), col("cos"))
      },
      Some("""
        WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                   FROM embeddings)
        SELECT a.label AS label, a.vec_id AS v1, b.vec_id AS v2,
               round(list_inner_product(a.v, b.v) /
                     sqrt(list_inner_product(a.v, a.v) *
                          list_inner_product(b.v, b.v)), 6) AS cos
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE round(list_inner_product(a.v, b.v) /
                    sqrt(list_inner_product(a.v, a.v) *
                         list_inner_product(b.v, b.v)), 6) >= 0.35
      """)
    ),
    // Semantic dedup (SemDeDup, Abbas et al. 2023): cluster the
    // embedding space, then drop within-cluster near-duplicates above
    // a cosine threshold, keeping the lowest id of each similar set.
    // The cluster step bounds the pairwise work — the all-pairs cost
    // is (N/k)^2 per cluster instead of N^2, and k is DERIVED from the
    // corpus size (k ≈ N / SemanticTargetClusterRows, floor 32) so the
    // per-cluster row count — and with it the pairwise work per
    // cluster — stays fixed as the corpus grows. The cap at
    // SemanticMaxK bounds the driver/broadcast codebook (k × dim);
    // past the cap a deployment shards the codebook hierarchically or
    // swaps the within-cluster all-pairs for the bucketed ANN verify
    // (SimilarityQueries), which changes the candidate generator, not
    // this plan shape. Plan shape: the k x dim codebook is a broadcast
    // (argmin assignment is a narrow pipeline), the within-cluster
    // self-join shuffles on cluster_id (AQE skew-split is the backstop
    // for a hot cluster). Seeds are the evenly-spaced vec_ids —
    // deterministic, so the whole operator (including the k
    // derivation, mirrored in the oracle SQL) is exactly
    // oracle-checkable; the production path would refine the same
    // codebook with the IVF builder's Lloyd iterations
    // (SimilarityQueries.ivfTopK), which only changes the centroid
    // values, not the plan.
    QueryDef(
      "q_dedup_semantic",
      (s, dir) => semanticDedup(s, dir),
      Some(semanticOracle)
    ),
    // Dedup-cluster canonicalization — the step every corpus dedup
    // actually ships: near-dup PAIRS alone don't dedup; transitive
    // closure groups them into clusters and one canonical doc (min id)
    // survives per cluster. Pairs → Iterations.connectedComponentsAdaptive
    // (min-label rounds while diameters are short, contraction +
    // large-star/small-star on the quotient if they are not — O(log n)
    // rounds even on long dup chains, fully distributed)
    // → keep = (doc_id == component). Oracle: DuckDB recursive CTE
    // computing min-reachable-id over the same exact-Jaccard edges.
    // The edge set comes from the PPJoin prefix-filter join — EXACT
    // (provably identical pairs to the all-shingles inverted index,
    // see prefixFilterPairs) but indexing only each doc's rare-token
    // prefix, which is the generator that survives 100 TB. (MinHash-
    // LSH candidates are the probabilistic-recall alternative at the
    // same shape; exact edges keep the composite oracle-checkable
    // end to end.)
    QueryDef(
      "q_dedup_clusters",
      (s, dir) => {
        val pairs = prefixFilterPairs(tables(s, dir), 4, 5)
        val edges = pairs.select(col("d1").as("src"), col("d2").as("dst"))
        graft.plans.Iterations
          .connectedComponentsAdaptive(edges)
          .select(
            col("vertex").as("doc_id"),
            col("component").as("canonical_id"),
            (col("vertex") === col("component")).as("keep")
          )
      },
      Some(s"""
        WITH RECURSIVE pairs AS MATERIALIZED ($jaccardOracle),
        edges AS MATERIALIZED (
          SELECT d1 AS src, d2 AS dst FROM pairs
          UNION ALL
          SELECT d2 AS src, d1 AS dst FROM pairs
        ),
        reach(vertex, node) AS (
          SELECT src, src FROM edges
          UNION
          SELECT r.vertex, e.dst FROM reach r JOIN edges e ON e.src = r.node
        )
        SELECT vertex AS doc_id, min(node) AS canonical_id,
               (vertex = min(node)) AS keep
        FROM reach GROUP BY vertex
      """)
    ),
    // Leakage-safe train/val split: near-duplicate documents must land
    // on the SAME side of an eval split, or the val set leaks through
    // paraphrases of training docs. Group key = the doc's near-dup
    // component (PPJoin edges → connected components); singletons key
    // on themselves; the side is a pure hash of the group key, so the
    // split stays reproducible across retries AND respects the cluster
    // structure. The 90/10 assignment is the same mix arithmetic the
    // sampling family uses.
    QueryDef(
      "q_split_leakage_safe",
      (s, dir) => {
        val pairs = prefixFilterPairs(tables(s, dir), 4, 5)
        val edges = pairs.select(col("d1").as("src"), col("d2").as("dst"))
        val comps = graft.plans.Iterations.connectedComponentsAdaptive(edges)
          .select(col("vertex").as("doc_id"), col("component"))
        val docs = tables(s, dir).documents.select(col("doc_id"), col("lang"))
        docs.join(comps, Seq("doc_id"), "left")
          .withColumn("group_key", coalesce(col("component"), col("doc_id")))
          .withColumn("bucket", CrossEngineMix.mix(col("group_key")) % 10)
          .select(col("doc_id"), col("lang"), col("group_key"),
            when(col("bucket") < 9, "train").otherwise("val").as("split"))
      },
      Some(s"""
        WITH RECURSIVE pairs AS MATERIALIZED ($jaccardOracle),
        edges AS MATERIALIZED (
          SELECT d1 AS src, d2 AS dst FROM pairs
          UNION ALL
          SELECT d2 AS src, d1 AS dst FROM pairs
        ),
        reach(vertex, node) AS (
          SELECT src, src FROM edges
          UNION
          SELECT r.vertex, e.dst FROM reach r JOIN edges e ON e.src = r.node
        ),
        comp AS (
          SELECT vertex AS doc_id, min(node) AS component
          FROM reach GROUP BY vertex
        )
        SELECT d.doc_id, d.lang,
               COALESCE(c.component, d.doc_id) AS group_key,
               CASE WHEN ${CrossEngineMix.mixSql(
                 "COALESCE(c.component, d.doc_id)")} % 10 < 9
                    THEN 'train' ELSE 'val' END AS split
        FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
      """)
    ),
    // Duplicate-cluster centrality: weighted PageRank over the
    // near-dup similarity graph (edge weight = exact Jaccard), 3 fixed
    // iterations — the centrality-based canonical-doc selector (the
    // min-id rule keeps the OLDEST member; centrality keeps the member
    // most representative of its cluster, the choice dataset curation
    // actually wants). The oracle replays the weighted loop as chained
    // CTEs, weights and all.
    QueryDef(
      "q_dedup_centrality",
      (s, dir) => {
        val pairs = prefixFilterPairs(tables(s, dir), 4, 5)
        val edges = pairs
          .select(col("d1").as("src"), col("d2").as("dst"),
            col("jaccard").as("w"))
          .union(pairs.select(col("d2").as("src"), col("d1").as("dst"),
            col("jaccard").as("w")))
        graft.plans.Iterations
          .pageRankWeighted(edges, iters = 3)
          .select(col("vertex").as("doc_id"),
            round(col("rank"), 6).as("rank"))
      },
      Some {
        val step = (k: Int) => s"""
        p$k AS (
          SELECT v.vertex,
                 0.15/(SELECT n FROM nn)
                   + 0.85*COALESCE(s.c, 0.0) AS rank
          FROM verts v LEFT JOIN (
            SELECT e.dst AS vertex, SUM(p.rank*e.w/o.ow) AS c
            FROM p${k - 1} p
            JOIN edges e ON p.vertex = e.src
            JOIN outw o ON o.src = e.src
            GROUP BY e.dst) s ON s.vertex = v.vertex
        )"""
        s"""
        WITH pairs AS MATERIALIZED ($jaccardOracle),
        edges AS (
          SELECT d1 AS src, d2 AS dst, jaccard AS w FROM pairs
          UNION ALL
          SELECT d2 AS src, d1 AS dst, jaccard AS w FROM pairs
        ),
        verts AS (
          SELECT src AS vertex FROM edges
          UNION SELECT dst FROM edges
        ),
        nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts),
        outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src),
        p0 AS (
          SELECT vertex, 1.0/(SELECT n FROM nn) AS rank FROM verts
        ),""" +
          (1 to 3).map(step).mkString(",") + """
        SELECT vertex AS doc_id, round(rank, 6) AS rank FROM p3
        """
      }
    ),
    // Hard-negative mining for embedding/retrieval training: for each
    // query document, the nearest neighbors by cosine that are NOT its
    // near-duplicates — cosine similarity proposes, the near-dup
    // component relation vetoes (a near-dup is a false negative that
    // poisons a contrastive batch). Brute-force scoring over the
    // 10-query broadcast (the exact baseline; at scale the candidate
    // generator swaps for the bucketed ANN paths), components from the
    // same PPJoin→CC machinery the cluster dedup uses, per-query top-3
    // on the module's rounded-cosine determinism rule.
    QueryDef(
      "q_mine_hard_negatives",
      (s, dir) => {
        val t = tables(s, dir)
        val pairs = prefixFilterPairs(t, 4, 5)
        val comps = graft.plans.Iterations
          .connectedComponentsAdaptive(
            pairs.select(col("d1").as("src"), col("d2").as("dst")))
          .select(col("vertex"), col("component"))
        val scored = SimilarityQueries.crossScores(
          SimilarityQueries.vectors(t.embeddings), 10, "cos")
        // veto pairs inside one near-dup component (either direction)
        val qc = comps.select(col("vertex").as("q_id"),
          col("component").as("q_comp"))
        val cc = comps.select(col("vertex").as("cand_id"),
          col("component").as("c_comp"))
        val vetoed = scored
          .join(broadcast(qc), Seq("q_id"), "left")
          .join(broadcast(cc), Seq("cand_id"), "left")
          .filter(col("q_comp").isNull || col("c_comp").isNull ||
            col("q_comp") =!= col("c_comp"))
        SimilarityQueries.topK(vetoed, "cos", descending = true, 3)
      },
      Some(s"""
        WITH RECURSIVE pairs AS MATERIALIZED ($jaccardOracle),
        edges AS MATERIALIZED (
          SELECT d1 AS src, d2 AS dst FROM pairs
          UNION ALL
          SELECT d2 AS src, d1 AS dst FROM pairs
        ),
        reach(vertex, node) AS (
          SELECT src, src FROM edges
          UNION
          SELECT r.vertex, e.dst FROM reach r JOIN edges e ON e.src = r.node
        ),
        comp AS (
          SELECT vertex, min(node) AS component FROM reach GROUP BY vertex
        ),
        ev AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 list_inner_product(embedding::DOUBLE[],
                                    embedding::DOUBLE[]) AS n2
          FROM embeddings
        ),
        scored AS (
          SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
                 round(list_inner_product(q.v, c.v) /
                       sqrt(q.n2 * c.n2), 6) AS cos
          FROM ev q JOIN ev c ON q.vec_id < 10 AND c.vec_id != q.vec_id
        ),
        vetoed AS (
          SELECT s.q_id, s.cand_id, s.cos
          FROM scored s
          LEFT JOIN comp cq ON cq.vertex = s.q_id
          LEFT JOIN comp cc ON cc.vertex = s.cand_id
          WHERE cq.component IS NULL OR cc.component IS NULL
             OR cq.component != cc.component
        )
        SELECT q_id, cand_id, cos, rnk FROM (
          SELECT *, CAST(row_number() OVER (PARTITION BY q_id
                         ORDER BY cos DESC, cand_id) AS INT) AS rnk
          FROM vetoed)
        WHERE rnk <= 3
      """)
    ),
    // Span-level dedup (the C4 / RefinedWeb shape): chunk every
    // document into fixed 20-word spans, keep only each span's first
    // occurrence corpus-wide ((doc_id, span_idx)-minimal), and
    // reassemble the surviving spans in document order. Scale design:
    // the keep/drop decision is a groupBy(span) min-struct aggregate —
    // map-side partials collapse a hot boilerplate span to one row per
    // mapper, unlike a row_number() window which would funnel every
    // occurrence of the hot span into a single task — followed by a
    // span-equi join back (AQE splits it if a span is genuinely hot).
    // Reassembly is one groupBy(doc_id) of sorted kept structs.
    QueryDef(
      "q_dedup_spans",
      (s, dir) => {
        val t = tables(s, dir)
        val k = SpanWords
        val spans = t.documents
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .select(
            col("doc_id"),
            posexplode(
              transform(
                sequence(
                  lit(0),
                  ceil(size(col("w")) / lit(k.toDouble)).cast("int") - 1
                ),
                i => array_join(slice(col("w"), i * k + 1, lit(k)), " ")
              )
            ).as(Seq("span_idx", "span"))
          )
        val firsts = spans
          .groupBy(col("span"))
          .agg(min(struct(col("doc_id"), col("span_idx"))).as("first_occ"))
        spans
          .join(firsts, Seq("span"))
          .withColumn(
            "keep",
            col("doc_id") === col("first_occ.doc_id") &&
              col("span_idx") === col("first_occ.span_idx")
          )
          .groupBy(col("doc_id"))
          .agg(
            count(when(col("keep"), 1)).as("spans_kept"),
            count(when(!col("keep"), 1)).as("spans_dropped"),
            coalesce(
              array_join(
                transform(
                  array_sort(
                    collect_list(
                      when(
                        col("keep"),
                        struct(col("span_idx").as("i"), col("span").as("s"))
                      )
                    )
                  ),
                  x => x.getField("s")
                ),
                " "
              ),
              lit("")
            ).as("text_dedup")
          )
      },
      Some(s"""
        WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        spans AS (
          SELECT doc_id, u.i AS span_idx, u.s AS span FROM (
            SELECT doc_id,
                   unnest([{'i': i, 's': array_to_string(w[(i*$SpanWords+1):(i*$SpanWords+$SpanWords)], ' ')}
                           for i in range(0, cast(ceil(len(w)/$SpanWords.0) AS BIGINT))]) AS u
            FROM words)
        ),
        marked AS (
          SELECT doc_id, span_idx, span,
                 row_number() OVER (PARTITION BY span ORDER BY doc_id, span_idx) = 1 AS keep
          FROM spans
        )
        SELECT doc_id,
               count(*) FILTER (WHERE keep) AS spans_kept,
               count(*) FILTER (WHERE NOT keep) AS spans_dropped,
               coalesce(array_to_string(list(span ORDER BY span_idx) FILTER (WHERE keep), ' '), '') AS text_dedup
        FROM marked GROUP BY doc_id
      """)
    ),
    // Edit-distance near-dup join (the typo/variant-title dedup family
    // beside the set-similarity ones): DISTINCT names first — dedupe
    // before pairing is the scale move, the name domain is orders of
    // magnitude smaller than the row count — then block on the head
    // noun (domain-chosen blocking key) and verify candidates with a
    // THRESHOLD-bounded Levenshtein (Spark's 3-arg levenshtein bails
    // out early past the bound; the oracle's plain levenshtein <= k is
    // the same predicate). Candidates are bounded per block; no global
    // cross join exists at any scale.
    QueryDef(
      "q_dedup_edit_distance",
      (s, dir) => {
        val t = tables(s, dir)
        val names = t.part.select(col("p_name")).distinct()
          .withColumn("blk", element_at(split(col("p_name"), " "), -1))
        val a = names.select(col("p_name").as("name_a"), col("blk"))
        val b = names.select(col("p_name").as("name_b"), col("blk"))
        a.join(b, Seq("blk"))
          .filter(col("name_a") < col("name_b"))
          .withColumn("dist",
            levenshtein(col("name_a"), col("name_b"), 3))
          .filter(col("dist") >= 0 && col("dist") <= 3)
          .select(col("name_a"), col("name_b"), col("dist"))
      },
      Some("""
        WITH names AS (
          SELECT DISTINCT p_name,
                 string_split(p_name, ' ')[-1] AS blk
          FROM part
        )
        SELECT a.p_name AS name_a, b.p_name AS name_b,
               levenshtein(a.p_name, b.p_name) AS dist
        FROM names a JOIN names b
          ON a.blk = b.blk AND a.p_name < b.p_name
        WHERE levenshtein(a.p_name, b.p_name) <= 3
      """)
    ),
    // ONLINE document dedup: the ingest-time face of span dedup — a
    // document STREAM flows through a keyed StatefulProcessor (state
    // API v2, streaming/Tws.SpanMinProcessor) holding, per span, the
    // minimum doc id seen so far; a document is a duplicate when any
    // of its spans already has a smaller canonical id. The per-bucket
    // rule is min (order-free), so a single-batch run equals the batch
    // groupBy-min — the DuckDB oracle — while the same query keeps
    // accumulating state across microbatches on a real ingest (TwsSpec
    // pins the cross-batch semantics). Scale shape: state is sharded
    // by span across the stateful operator's partitions; the verdict
    // aggregation is one groupBy(doc_id).
    QueryDef(
      "q_dedup_online",
      (s, dir) => graft.streaming.Tws.withRocksDb(s) {
        import s.implicits._
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        val k = SpanWords
        val path = s"$dir/documents.parquet"
        // the state-pinned clone is created INSIDE withRocksDb so it
        // inherits the provider pin
        val src = graft.streaming.StreamingOps
          .replaySource(s, path, s.read.parquet(path).schema)
        val spans = src
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .select(
            col("doc_id"),
            explode(
              transform(
                sequence(
                  lit(0),
                  ceil(size(col("w")) / lit(k.toDouble)).cast("int") - 1
                ),
                i => array_join(slice(col("w"), i * k + 1, lit(k)), " ")
              )
            ).as("span"))
          .select(col("span"), col("doc_id"))
          .as[graft.streaming.Tws.SpanHit]
        val verdicts = spans.groupByKey(_.span)
          .transformWithState(
            new graft.streaming.Tws.SpanMinProcessor,
            TimeMode.None(),
            OutputMode.Update())
        graft.streaming.StreamingOps.replayToMemory(verdicts.toDF(), "dedup_online") {
          _.groupBy(col("doc_id"))
            .agg(min(col("span_min")).as("first_ref"))
            .select(col("doc_id"), col("first_ref"),
              (col("first_ref") < col("doc_id")).as("is_dup"))
        }
      },
      Some(s"""
        WITH words AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        spans AS (
          SELECT doc_id,
                 unnest([array_to_string(w[(i*$SpanWords+1):(i*$SpanWords+$SpanWords)], ' ')
                         for i in range(0, cast(ceil(len(w)/$SpanWords.0) AS BIGINT))]) AS span
          FROM words
        ),
        m AS (SELECT span, min(doc_id) AS mn FROM spans GROUP BY span)
        SELECT s.doc_id, min(m.mn) AS first_ref,
               min(m.mn) < s.doc_id AS is_dup
        FROM spans s JOIN m USING (span)
        GROUP BY s.doc_id
      """)
    ),
    // Boilerplate-span census: the per-span view of the same chunking —
    // spans recurring across >= 2 distinct documents, with occurrence
    // and document counts. On a real crawl this is the navigation/
    // cookie-banner detector whose output feeds a frequency-threshold
    // strip; here the recurring spans are the planted near-duplicates.
    // One groupBy(span) with map-side partials; count(DISTINCT doc_id)
    // expands per-key, not per-corpus.
    QueryDef(
      "q_boilerplate_spans",
      (s, dir) => {
        val t = tables(s, dir)
        val k = SpanWords
        t.documents
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .select(
            col("doc_id"),
            explode(
              transform(
                sequence(
                  lit(0),
                  ceil(size(col("w")) / lit(k.toDouble)).cast("int") - 1
                ),
                i => array_join(slice(col("w"), i * k + 1, lit(k)), " ")
              )
            ).as("span")
          )
          .groupBy(col("span"))
          .agg(
            count(lit(1)).as("n_occurrences"),
            countDistinct(col("doc_id")).as("n_docs"),
            min(col("doc_id")).as("first_doc")
          )
          .filter(col("n_docs") >= 2)
      },
      Some(s"""
        WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        spans AS (
          SELECT doc_id,
                 unnest([array_to_string(w[(i*$SpanWords+1):(i*$SpanWords+$SpanWords)], ' ')
                         for i in range(0, cast(ceil(len(w)/$SpanWords.0) AS BIGINT))]) AS span
          FROM words
        )
        SELECT span, count(*) AS n_occurrences,
               count(DISTINCT doc_id) AS n_docs, min(doc_id) AS first_doc
        FROM spans GROUP BY span HAVING count(DISTINCT doc_id) >= 2
      """)
    )
  )

  /** Span width (words) for q_dedup_spans / q_boilerplate_spans. */
  private val SpanWords = 20
}

/** MinHash + banded LSH. The signature is the native
  * [[graft.functions.MinHashSignature]] expression — a tight JVM loop
  * (64 universal-hash slots over the murmur3 of each shingle), ~50x
  * faster than the equivalent aggregate/zip_with fold, computed in one
  * projection with no shuffle. 16 bands × 4 rows.
  */
object MinHashLsh {
  private val NumHashes = graft.functions.MinHashSignature.NumHashes
  private val Bands = 16
  private val RowsPerBand = NumHashes / Bands
  /** Band buckets larger than this are dropped before the self-join: a
    * degenerate bucket (a boilerplate shingle-set shared by millions of
    * docs) would turn the bucket-equi join quadratic on one hot key —
    * the df-cap convention from shingle-index dedup. Pairs inside a
    * dropped bucket stay reachable through their 15 other bands, so
    * recall degrades gracefully instead of the job degrading
    * quadratically.
    */
  val MaxBucketSize = 10000

  /** Candidate pairs from band buckets, verified with exact Jaccard on
    * the original shingle sets.
    *
    * @param shingled (doc_id, shingles) with non-empty distinct shingles
    */
  def nearDuplicates(shingled: DataFrame, threshold: Double): DataFrame = {
    graft.functions.SketchExpressions.register(shingled.sparkSession)
    // the signature table feeds banding (twice, via the self-join) and
    // the verification joins — cache it instead of recomputing the
    // shingling 4x (on a cluster: write it out as a signature table)
    val sig = graft.CacheScope.cached(shingled
      .select(
        col("doc_id"),
        col("shingles"),
        graft.functions.SketchExpressions.minhash_signature(col("shingles")).as("sig")
      ))
    // band key: (band index, hash of the 4 signature slots); bands are
    // a Scala-level loop so the slice offsets are static literals.
    val bandHashes = (0 until Bands).map(b =>
      hash(slice(col("sig"), b * RowsPerBand + 1, RowsPerBand), lit(b))
    )
    val bandedAll = sig.select(
      col("doc_id"),
      posexplode(array(bandHashes: _*)).as(Seq("band", "bucket"))
    )
    // hot-bucket guard: the over-cap bucket list is tiny by
    // construction (map-side combine collapses the count shuffle), so
    // it broadcasts, and the anti-join costs almost nothing when no
    // bucket is hot — unlike a window count, which would sort the
    // whole banded table
    val hotBuckets = bandedAll
      .groupBy("band", "bucket")
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") > MaxBucketSize)
      .select(col("band"), col("bucket"))
    // cached: both sides of the self-join read the guarded table;
    // released by the consuming action's CacheScope
    val banded = graft.CacheScope.cached(bandedAll
      .join(broadcast(hotBuckets), Seq("band", "bucket"), "left_anti"))
    val l = banded.select(col("band"), col("bucket"), col("doc_id").as("d1"))
    val r = banded.select(col("band"), col("bucket"), col("doc_id").as("d2"))
    val cand = l
      .join(r, Seq("band", "bucket"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"))
      .distinct()
    // verify candidates with exact Jaccard (from the cached sig table)
    val sets = sig.select(col("doc_id"), col("shingles"))
    // (r22: a verify-stage partition pin like prefixFilterPairs' was
    // measured here and REVERTED — paired A/B 1.64x SLOWER
    // (plans/r22/ab/t5): the banding+hot-bucket-guard candidate set is
    // small enough that the added exchange outweighs the verify
    // parallelism it buys. The prefix-filter verify keeps its pin; its
    // candidate volume is an order of magnitude larger.)
    cand
      .join(sets.withColumnRenamed("doc_id", "d1").withColumnRenamed("shingles", "sh1"), "d1")
      .join(sets.withColumnRenamed("doc_id", "d2").withColumnRenamed("shingles", "sh2"), "d2")
      .withColumn(
        "jaccard",
        round(
          size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
            size(array_union(col("sh1"), col("sh2"))),
          6
        )
      )
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("jaccard"))
  }

  /** Cross-corpus fuzzy decontamination — the MinHash counterpart of
    * the exact inverted-index q_decontaminate: benchmark and corpus
    * docs are banded with the same signature, bucket collisions become
    * candidates, and candidates are verified with exact set overlap
    * scored on BOTH Jaccard and benchmark containment
    * |doc ∩ bench| / |bench| — the asymmetric metric that catches a
    * document embedding a whole (small) benchmark item, which Jaccard
    * dilutes. Precision is exact (verification); recall follows the
    * Jaccard banding curve (16 bands × 4 rows), so a containment-only
    * hit with low Jaccard can evade the buckets — the trade every
    * banded decon makes.
    *
    * Scale shape: the bench side is small (it broadcasts through the
    * bucket join under AQE); the corpus side shuffles once on
    * (band, bucket) with the hot-bucket cap guarding degenerate keys.
    *
    * @param corpus (doc_id, shingles), non-empty distinct shingles
    * @param bench  (doc_id, shingles), the held-out benchmark docs
    */
  def contaminated(corpus: DataFrame, bench: DataFrame,
      threshold: Double): DataFrame = {
    graft.functions.SketchExpressions.register(corpus.sparkSession)
    def sigOf(df: DataFrame): DataFrame = df.select(
      col("doc_id"),
      col("shingles"),
      graft.functions.SketchExpressions.minhash_signature(col("shingles")).as("sig"))
    val sigC = graft.CacheScope.cached(sigOf(corpus))
    val sigB = graft.CacheScope.cached(sigOf(bench))
    val bandHashes = (0 until Bands).map(b =>
      hash(slice(col("sig"), b * RowsPerBand + 1, RowsPerBand), lit(b)))
    def bandOf(sig: DataFrame, idCol: String): DataFrame = sig.select(
      col("doc_id").as(idCol),
      posexplode(array(bandHashes: _*)).as(Seq("band", "bucket")))
    val bandedC = bandOf(sigC, "doc_id")
    val hot = bandedC
      .groupBy("band", "bucket")
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") > MaxBucketSize)
      .select(col("band"), col("bucket"))
    val cand = bandedC
      .join(broadcast(hot), Seq("band", "bucket"), "left_anti")
      .join(bandOf(sigB, "bench_id"), Seq("band", "bucket"))
      .select(col("doc_id"), col("bench_id"))
      .distinct()
    val setsC = sigC.select(col("doc_id"), col("shingles"))
    val setsB = sigB.select(col("doc_id").as("bench_id"), col("shingles").as("bsh"))
    // (r22: the verify-stage pin was measured here too and reverted —
    // 0.98x, neutral: the decon candidate set is small, see the
    // nearDuplicates note.)
    cand
      .join(setsC, "doc_id")
      .join(setsB, "bench_id")
      .withColumn("inter",
        size(array_intersect(col("shingles"), col("bsh"))).cast("double"))
      .withColumn("jaccard",
        round(col("inter") / size(array_union(col("shingles"), col("bsh"))), 6))
      .withColumn("containment", round(col("inter") / size(col("bsh")), 6))
      .filter(col("jaccard") >= threshold || col("containment") >= threshold)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bench_hits"),
        max(col("jaccard")).as("max_jaccard"),
        max(col("containment")).as("max_containment"))
  }
}

/** 64-bit SimHash with band-blocked Hamming candidate generation. The
  * signature is the native [[graft.functions.SimHash64]] expression
  * (multiset-weighted sign sketch in a tight loop).
  */
object SimHash {
  private val Bits = 64
  private val HamBands = 4 // 4 × 16-bit bands: catches all pairs with dist <= 3

  /** Pairs agreeing on at least one 16-bit band, kept when the full
    * 64-bit Hamming distance is <= maxDist.
    */
  def candidates(documents: DataFrame, maxDist: Int): DataFrame = {
    graft.functions.SketchExpressions.register(documents.sparkSession)
    val sig = documents.select(
      col("doc_id"),
      graft.functions.SketchExpressions.simhash64(split(col("text"), " ")).as("sig")
    )
    val bandCols = (0 until HamBands).map(b =>
      shiftright(col("sig"), b * (Bits / HamBands)).bitwiseAND(lit(0xffffL))
    )
    val bandedAll = sig.select(
      col("doc_id"),
      col("sig"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bucket"))
    )
    // same hot-bucket guard as MinHashLsh: a 16-bit band value shared
    // by a huge near-identical corpus slice would explode the
    // self-join; pairs keep 3 other bands
    val hotBuckets = bandedAll
      .groupBy("band", "bucket")
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") > MinHashLsh.MaxBucketSize)
      .select(col("band"), col("bucket"))
    // cached: both sides of the self-join read the guarded table;
    // released by the consuming action's CacheScope
    val banded = graft.CacheScope.cached(bandedAll
      .join(broadcast(hotBuckets), Seq("band", "bucket"), "left_anti"))
    val l = banded.select(col("band"), col("bucket"), col("doc_id").as("d1"), col("sig").as("sig1"))
    val r = banded.select(col("band"), col("bucket"), col("doc_id").as("d2"), col("sig").as("sig2"))
    l.join(r, Seq("band", "bucket"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"), col("sig1"), col("sig2"))
      .distinct()
      .withColumn("hamming", bit_count(col("sig1").bitwiseXOR(col("sig2"))))
      .filter(col("hamming") <= maxDist)
      .select(col("d1"), col("d2"), col("hamming"))
  }
}
