package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic generator for the engine's table set (schemas as in
  * FIXTURES.md): a TPC-H-shaped star schema plus `events`, `documents`
  * and `embeddings`. Every column is a pure function of the row id and
  * a fixed seed, so the same scale factor always yields the same bytes
  * of data and the committed output digests stay valid.
  *
  * Row counts scale linearly with `sf` (sf 0.1: 600k lineitem, 150k
  * orders, 100k events, 5k documents). Each table is written as one
  * parquet file, the layout the engine's queries are tuned for.
  */
object DataGen {

  val Seed = 42L

  private val Vocab = Seq("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a",
    "scan", "batch")

  /** Uniform draw in [0, n) for column stream `k` of row `id`. */
  private def draw(id: Column, k: Int, n: Long): Column =
    pmod(xxhash64(lit(Seed), lit(k), id), lit(n))

  /** Uniform double in [0, 1) for column stream `k` of row `id`. */
  private def unit(id: Column, k: Int): Column =
    draw(id, k, 1L << 30).cast("double") / lit((1L << 30).toDouble)

  private def pick(id: Column, k: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (draw(id, k, values.size.toLong) + 1).cast("int"))

  private def money(id: Column, k: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + unit(id, k) * lit(hi - lo), 2)

  private def day(id: Column, k: Int, from: String, days: Long): Column =
    timestamp_seconds(unix_timestamp(lit(from + " 00:00:00")) + draw(id, k, days) * 86400L)

  def generate(spark: SparkSession, dir: String, sf: Double): Unit = {
    def rows(n: Long): DataFrame = spark.range(0L, n, 1L, 4).toDF("id")
    def scaled(base: Long): Long = math.max(1L, math.round(base * sf))
    val id = col("id")
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    val nCust = scaled(150000)
    val nSupp = scaled(10000)
    val nPart = scaled(200000)
    val nOrders = scaled(1500000)

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write("region", rows(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(regions.map(lit): _*), (id + 1).cast("int")).as("r_name")))
    write("nation", rows(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      pmod(id, lit(5L)).cast("int").as("n_regionkey")))
    write("customer", rows(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      draw(id, 1, 25).cast("int").as("c_nationkey"),
      money(id, 2, -999.99, 9999.99).as("c_acctbal"),
      pick(id, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment")))
    write("supplier", rows(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      draw(id, 4, 25).cast("int").as("s_nationkey"),
      money(id, 5, -999.99, 9999.99).as("s_acctbal")))
    write("part", rows(nPart).select(id.as("p_partkey"),
      concat_ws(" ",
        pick(id, 6, Seq("red", "blue", "hot", "cold", "old", "new", "large", "small")),
        pick(id, 7, Seq("bolt", "ring", "plate", "gear", "widget", "anvil", "rod", "nut")))
        .as("p_name"),
      concat(lit("Brand#"), draw(id, 8, 25).cast("string")).as("p_brand"),
      pick(id, 9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      (draw(id, 10, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + pmod(id, lit(1000L)).cast("double") / 10.0, 2).as("p_retailprice")))
    write("orders", rows(nOrders).select(id.as("o_orderkey"),
      draw(id, 11, nCust).as("o_custkey"),
      pick(id, 12, Seq("F", "O", "P")).as("o_orderstatus"),
      money(id, 13, 1000.0, 500000.0).as("o_totalprice"),
      day(id, 14, "1995-01-01", 2404).as("o_orderdate"),
      pick(id, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")))
    write("lineitem", rows(scaled(6000000)).select(
      draw(id, 16, nOrders).as("l_orderkey"),
      draw(id, 17, nPart).as("l_partkey"),
      draw(id, 18, nSupp).as("l_suppkey"),
      (draw(id, 19, 7) + 1).cast("int").as("l_linenumber"),
      (draw(id, 20, 50) + 1).cast("double").as("l_quantity"),
      money(id, 21, 900.0, 105000.0).as("l_extendedprice"),
      (draw(id, 22, 11).cast("double") / 100.0).as("l_discount"),
      (draw(id, 23, 9).cast("double") / 100.0).as("l_tax"),
      pick(id, 24, Seq("A", "N", "R")).as("l_returnflag"),
      pick(id, 25, Seq("F", "O")).as("l_linestatus"),
      day(id, 26, "1995-01-02", 2498).as("l_shipdate")))

    // events: ts rises with event_id across 30 days (the stream replay
    // order), users uniform over 1500 ids
    val nEvents = scaled(1000000)
    val step = 30L * 86400L * 1000000L / nEvents
    write("events", rows(nEvents).select(id.as("event_id"),
      timestamp_micros(lit(1704067200L * 1000000L) + id * step + draw(id, 27, step)).as("ts"),
      draw(id, 28, 1500).as("user_id"),
      pick(id, 29, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      round(unit(id, 30) * unit(id, 31) * 560.0, 2).as("value"),
      format_string("{\"k\": %d}", draw(id, 32, 100)).as("props")))

    // documents: 10-100 words over a 30-word vocabulary; one in twenty
    // is a near-duplicate (its predecessor's text plus "dup")
    val vocab = array(Vocab.map(lit): _*)
    def words(docId: Column): Column = concat_ws(" ", transform(
      sequence(lit(1), (draw(docId, 33, 91) + 10).cast("int")),
      j => element_at(vocab, (pmod(xxhash64(lit(Seed), docId, j), lit(Vocab.size.toLong)) + 1)
        .cast("int"))))
    val isDup = id > 0 && draw(id, 34, 20) === 0
    write("documents", rows(scaled(50000)).select(id.as("doc_id"),
      when(isDup, concat(words(id - 1), lit(" dup"))).otherwise(words(id)).as("text"),
      pick(id, 35, Seq("en", "en", "en", "en", "en", "en", "de", "de", "es", "es", "fr", "fr", "zh",
        "zh")).as("lang"),
      concat(lit("src"), pmod(id, lit(20L)).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))

    // embeddings: 64-d unit vectors clustered around one of 10 labels
    val label = draw(id, 36, 10)
    val raw = transform(sequence(lit(0), lit(63)), j =>
      (pmod(xxhash64(lit(Seed), label, j), lit(1000L)).cast("double") / 500.0 - 1.0) +
        (pmod(xxhash64(lit(Seed + 1), id, j), lit(1000L)).cast("double") / 500.0 - 1.0) * 0.6)
    write("embeddings", rows(scaled(20000))
      .select(id.as("vec_id"), raw.as("v"), label.cast("int").as("label"))
      .withColumn("norm", sqrt(aggregate(col("v"), lit(0.0), (acc, x) => acc + x * x)))
      .select(col("vec_id"),
        transform(col("v"), x => (x / col("norm")).cast("float")).as("embedding"),
        col("label")))
  }
}
