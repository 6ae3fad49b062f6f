package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: deterministic scale-up of a driver testdata directory.
  *
  * Replicates the fact tables `factor`× with key-shifted replicas —
  * every replica adds `i * KeyOffset` to its primary and foreign keys,
  * so uniqueness invariants and join fan-outs are preserved exactly
  * while row counts scale linearly. Fixed dimensions (region, nation)
  * are copied unchanged. Document text and embedding vectors are
  * perturbed per replica (deterministically) so near-duplicate
  * structure stays realistic instead of exploding into exact-duplicate
  * cliques whose pair-joins grow quadratically.
  *
  * Purpose: probe partitioning/AQE-dependent correctness drift and
  * real skew splits at ~6M-row lineitem (the "sf1" probe the small SFs
  * cannot show). The oracle runs over the same scaled parquet, so the
  * correctness contract is unchanged.
  *
  * Usage: runMain graft.ScaleUp [srcDir] [outDir] [factor]
  */
object ScaleUp {

  /** Larger than any key the driver generates at sf<=1. */
  val KeyOffset: Long = 1000000000L

  /** Id shift for planted ANN near-neighbors. Sits BETWEEN the base id
    * range (< ~1e7) and the first replica shift (KeyOffset = 1e9):
    * replicas are themselves rounded-cosine-1.000000 neighbors of
    * their original (the +1e-4 first-coordinate nudge is a ~1e-5
    * radian rotation), so the deterministic rank tie-break
    * (cos DESC, cand_id ASC) decides among the near-dup clique — the
    * planted id must sort BEFORE the replica ids or it can never
    * enter top-k regardless of how near it is.
    */
  val PlantOffset: Long = 500000000L

  /** How many ANN query vectors get a planted near-duplicate. Matches
    * the nQueries=10 the q_ann_* queries use.
    */
  val PlantedQueries: Int = 10

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Engine.session("graft-scaleup")

    def read(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scaleup] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    /** Cross with the replica index and shift the named key columns. */
    def replicate(df: DataFrame, keys: Seq[String]): DataFrame = {
      val rep = spark.range(factor).toDF("__rep")
      val crossed = df.crossJoin(rep)
      keys.foldLeft(crossed) { (d, k) =>
        d.withColumn(k, col(k) + col("__rep") * lit(KeyOffset))
      }
    }

    write(read("region"), "region")
    write(read("nation"), "nation")
    write(replicate(read("customer"), Seq("c_custkey")).drop("__rep"), "customer")
    write(replicate(read("supplier"), Seq("s_suppkey")).drop("__rep"), "supplier")
    write(replicate(read("part"), Seq("p_partkey")).drop("__rep"), "part")
    write(replicate(read("orders"), Seq("o_orderkey", "o_custkey")).drop("__rep"), "orders")
    write(
      replicate(read("lineitem"), Seq("l_orderkey", "l_partkey", "l_suppkey"))
        .drop("__rep"),
      "lineitem"
    )

    // events: the raw driver file is TIMESTAMP(NANOS) read as int64
    // nanos (Engine config); go through Tables.events so the scaled
    // copy lands as a standard micros timestamp both engines read the
    // same way.
    write(
      replicate(Engine.Tables(spark, src).events, Seq("event_id", "user_id"))
        .drop("__rep"),
      "events"
    )

    // documents: shift ids, and perturb replica text with a replica
    // tag token so replicas are near-duplicates, not exact duplicates
    // (exact clones would make every dedup pair-join output grow
    // quadratically in `factor`).
    write(
      replicate(read("documents"), Seq("doc_id"))
        .withColumn(
          "text",
          when(col("__rep") === 0, col("text"))
            .otherwise(concat(col("text"), lit(" zrep"), col("__rep")))
        )
        .drop("__rep"),
      "documents"
    )

    // embeddings: shift ids and nudge the first coordinate per replica
    // so vectors are distinct (exact ties would make top-k rank
    // assignments engine-dependent). Additionally PLANT a known
    // near-duplicate for each ANN query vector (vec_id < PlantedQueries):
    // an ε-rotated copy at vec_id + PlantOffset whose cosine to the
    // original is ~1-1e-7 — far above anything a random corpus produces
    // — so the sf1 ANN gates can assert REAL recall (the planted copy
    // must appear at rank 1) instead of a corpus-dependent floor.
    val embBase = read("embeddings")
    val planted = embBase
      .filter(col("vec_id") < PlantedQueries)
      .withColumn("vec_id", col("vec_id") + lit(PlantOffset))
      .withColumn(
        "embedding",
        // per-coordinate relative scaling <= 1e-5 — a deterministic
        // rotation (pure rescale would be cosine-invariant) SMALLER
        // than the replica nudge, so the planted copy is the true
        // nearest neighbor; 1e-5 relative still survives fp32's
        // ~1.2e-7 relative resolution
        expr(
          "transform(embedding, (x, i) -> " +
            "CAST(x * (1.0 + 0.00001 * sin(CAST(i AS DOUBLE))) AS FLOAT))"
        )
      )
    write(
      replicate(embBase, Seq("vec_id"))
        .withColumn(
          "embedding",
          expr(
            "transform(embedding, (x, i) -> " +
              "CAST(x + CASE WHEN i = 0 THEN __rep * 0.0001 ELSE 0.0 END AS FLOAT))"
          )
        )
        .drop("__rep")
        .unionByName(planted),
      "embeddings"
    )

    spark.stop()
  }
}
