package graft.operators

import graft.{Engine, QueryDef, QueryModule, TempPaths}
import graft.plans.AsOfJoin
import graft.streaming.StreamingOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2.3 joins: inner/outer/semi/anti/cross, multiway, broadcast dim,
  * interval (time-range) join, as-of (temporal) join, and the
  * join-with-static contains-predicate workload that is the reference
  * fork's demo job (reference: flink-end-to-end-tests/.../streaming/
  * tests/JoinWithStaticExample.java:78-191).
  *
  * Physical strategy notes (verified via .explain):
  *  - dim joins (customer/nation/region/part/supplier) broadcast —
  *    these tables stay small at any SF (part is 0.2% of lineitem);
  *  - fact-fact joins shuffle on the join key and AQE handles skew
  *    (spark.sql.adaptive.skewJoin, our Reshape analog for batch);
  *  - the contains-join is a broadcast nested-loop by construction,
  *    mirroring the reference's replicated static slang table.
  */
object JoinQueries extends QueryModule {

  def defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_join_inner",
      (s, dir) => {
        val t = tables(s, dir)
        t.orders
          .join(t.customer, col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(
            count(lit(1)).as("n_orders"),
            Money.sumPrice(col("o_totalprice")).as("revenue")
          )
      },
      Some(s"""
        SELECT c_mktsegment, count(*) AS n_orders,
               ${Money.sumPriceSql("o_totalprice")} AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
      """)
    ),
    QueryDef(
      "q_join_left_outer",
      (s, dir) => {
        val t = tables(s, dir)
        t.customer
          .join(t.orders, col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_custkey"))
          .agg(
            count(col("o_orderkey")).as("n_orders"),
            Money.sumPrice(col("o_totalprice")).as("spend")
          )
      },
      Some(s"""
        SELECT c_custkey, count(o_orderkey) AS n_orders,
               ${Money.sumPriceSql("o_totalprice")} AS spend
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
      """)
    ),
    // Full outer: nations seen from the customer side vs supplier side
    // (only 10 suppliers → many nation keys exist on one side only).
    QueryDef(
      "q_join_full_outer",
      (s, dir) => {
        val t = tables(s, dir)
        val cn = t.customer
          .groupBy(col("c_nationkey").as("nk"))
          .agg(count(lit(1)).as("n_cust"))
        val sn = t.supplier
          .groupBy(col("s_nationkey").as("nk2"))
          .agg(count(lit(1)).as("n_supp"))
        cn.join(sn, col("nk") === col("nk2"), "full")
          .select(
            coalesce(col("nk"), col("nk2")).as("nationkey"),
            col("n_cust"),
            col("n_supp")
          )
      },
      Some("""
        SELECT coalesce(cn.nk, sn.nk2) AS nationkey, n_cust, n_supp
        FROM (SELECT c_nationkey AS nk, count(*) AS n_cust
              FROM customer GROUP BY 1) cn
        FULL JOIN (SELECT s_nationkey AS nk2, count(*) AS n_supp
                   FROM supplier GROUP BY 1) sn ON cn.nk = sn.nk2
      """)
    ),
    // LEFT SEMI (EXISTS) — reference StreamingSemiAntiJoinOperator.
    QueryDef(
      "q_join_semi",
      (s, dir) => {
        val t = tables(s, dir)
        t.customer
          .join(
            t.orders.filter(col("o_totalprice") > 400000),
            col("c_custkey") === col("o_custkey"),
            "left_semi"
          )
          .select(col("c_custkey"), col("c_name"))
      },
      Some("""
        SELECT c_custkey, c_name FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      """)
    ),
    // LEFT ANTI (NOT EXISTS).
    QueryDef(
      "q_join_anti",
      (s, dir) => {
        val t = tables(s, dir)
        t.customer
          .join(
            t.orders.filter(
              col("o_orderstatus") === "F" && col("o_totalprice") > 400000
            ),
            col("c_custkey") === col("o_custkey"),
            "left_anti"
          )
          .select(col("c_custkey"), col("c_mktsegment"))
      },
      Some("""
        SELECT c_custkey, c_mktsegment FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                          AND o_orderstatus = 'F' AND o_totalprice > 400000)
      """)
    ),
    // Cartesian product (small × small).
    QueryDef(
      "q_join_cross",
      (s, dir) => {
        val t = tables(s, dir)
        t.region.crossJoin(t.nation).select(col("r_name"), col("n_name"))
      },
      Some("SELECT r_name, n_name FROM region CROSS JOIN nation")
    ),
    // Flagship multiway star join: lineitem→orders→customer→nation→
    // region, revenue per region/nation. Dims broadcast; the
    // lineitem⇄orders join shuffles on orderkey.
    QueryDef(
      "q_join_multiway",
      (s, dir) => {
        val t = tables(s, dir)
        t.lineitem
          .join(t.orders, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
          .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(
            Money.sumDiscPrice(col("l_extendedprice"), col("l_discount"))
              .as("revenue"),
            count(lit(1)).as("n_items")
          )
      },
      Some(s"""
        SELECT r_name, n_name,
               ${Money.sumDiscPriceSql("l_extendedprice", "l_discount")} AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
      """)
    ),
    // Explicit broadcast-hash dim join.
    QueryDef(
      "q_join_broadcast_dim",
      (s, dir) => {
        val t = tables(s, dir)
        t.lineitem
          .join(broadcast(t.part), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(
            count(lit(1)).as("n"),
            Money.sumPrice(col("l_extendedprice")).as("price_sum")
          )
      },
      Some(s"""
        SELECT p_brand, count(*) AS n,
               ${Money.sumPriceSql("l_extendedprice")} AS price_sum
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
      """)
    ),
    // Join-with-static contains-predicate — the Reshape demo workload
    // (JoinWithStaticExample.java:128-151: tweet stream keyed join vs a
    // replicated slang list with substring matching). Spark-first this
    // is a broadcast nested-loop join against an inline VALUES table.
    QueryDef(
      "q_join_static_contains",
      (s, dir) => {
        val t = tables(s, dir)
        val slang = s
          .createDataFrame(
            Seq(("join", 1), ("merge", 2), ("stream", 3), ("shuffle", 4))
          )
          .toDF("word", "word_id")
        t.documents
          .join(broadcast(slang), col("text").contains(col("word")))
          .groupBy(col("word"))
          .agg(count(lit(1)).as("n_docs"))
      },
      Some("""
        SELECT word, count(*) AS n_docs
        FROM documents
        JOIN (VALUES ('join', 1), ('merge', 2), ('stream', 3), ('shuffle', 4))
             slang(word, word_id)
          ON contains(text, word)
        GROUP BY word
      """)
    ),
    // Interval join (KeyedStream.intervalJoin / StreamExecIntervalJoin:
    // purchases within 30min after a signup of the same user).
    QueryDef(
      "q_join_interval",
      (s, dir) => {
        val t = tables(s, dir)
        val sig = t.events
          .filter(col("event_type") === "signup")
          .select(
            col("user_id").as("s_user"),
            col("ts").as("s_ts"),
            col("event_id").as("s_id")
          )
        val pur = t.events
          .filter(col("event_type") === "purchase")
          .select(
            col("user_id").as("p_user"),
            col("ts").as("p_ts"),
            col("value").as("p_value")
          )
        sig
          .join(
            pur,
            col("s_user") === col("p_user") &&
              col("p_ts") >= col("s_ts") &&
              col("p_ts") <= col("s_ts") + expr("INTERVAL 30 MINUTES")
          )
          .groupBy(col("s_user"))
          .agg(
            count(lit(1)).as("n_pairs"),
            round(sum(col("p_value")), 4).as("v_sum")
          )
      },
      Some("""
        SELECT s.user_id AS s_user, count(*) AS n_pairs,
               round(sum(p.value), 4) AS v_sum
        FROM (SELECT * FROM events WHERE event_type = 'signup') s
        JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON s.user_id = p.user_id
         AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 30 MINUTE
        GROUP BY s.user_id
      """)
    ),
    // The SAME interval join executed by the real streaming engine
    // (StreamingSymmetricHashJoinExec): events replayed through a
    // monitored-dir file source, the two filtered sides watermarked
    // and equi-joined on user_id with the event-time band, join pairs
    // landed distributed via foreachBatch->parquet, then aggregated
    // batch-side. With no maxFilesPerTrigger cap every file arrives in
    // micro-batch 0, so the watermark can drop nothing and the output
    // equals the batch interval join exactly — which is the DuckDB
    // oracle. Out-of-order multi-batch state semantics are
    // StreamingSpec's job; this entry pins streaming==batch==oracle.
    QueryDef(
      "q_join_stream_stream",
      (s, dir) =>
        streamJoinPairs(s, dir, "inner")._2
          .groupBy(col("s_user"))
          .agg(
            count(lit(1)).as("n_pairs"),
            round(sum(col("p_value")), 4).as("v_sum")),
      Some("""
        SELECT s.user_id AS s_user, count(*) AS n_pairs,
               round(sum(p.value), 4) AS v_sum
        FROM (SELECT * FROM events WHERE event_type = 'signup') s
        JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON s.user_id = p.user_id
         AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 30 MINUTE
        GROUP BY s.user_id
      """)
    ),
    // LEFT OUTER stream-stream join (reference StreamExecJoin.java:61
    // supports inner/left/right/full with state on both sides): same
    // replay as q_join_stream_stream but unmatched signups must emit a
    // null-extended row — which streaming can only do AFTER the
    // watermark passes the signup's join horizon (s_ts + 30min window
    // + 10min delay). Signups inside that horizon of the stream's end
    // stay in state forever, so BOTH engines are cut at the same
    // explicit `horizon` and the comparison is exact.
    QueryDef(
      "q_join_stream_stream_left",
      (s, dir) => {
        val (events, pairs) = streamJoinPairs(s, dir, "leftOuter")
        pairs
          .crossJoin(broadcast(horizon(events)))
          .filter(col("s_ts") < col("cut"))
          .groupBy(col("s_user"))
          .agg(
            count(lit(1)).as("n_rows"),
            count(col("p_id")).as("n_matched"),
            round(coalesce(sum(col("p_value")), lit(0.0)), 4).as("v_sum"))
      },
      Some("""
        WITH mx AS (
          SELECT least(
            max(CASE WHEN event_type = 'signup' THEN ts END),
            max(CASE WHEN event_type = 'purchase' THEN ts END))
            - INTERVAL 41 MINUTE AS cut
          FROM events),
        s AS (SELECT * FROM events
              WHERE event_type = 'signup' AND ts < (SELECT cut FROM mx)),
        p AS (SELECT * FROM events WHERE event_type = 'purchase')
        SELECT s.user_id AS s_user, count(*) AS n_rows,
               count(p.event_id) AS n_matched,
               round(coalesce(sum(p.value), 0), 4) AS v_sum
        FROM s LEFT JOIN p
          ON s.user_id = p.user_id
         AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 30 MINUTE
        GROUP BY s.user_id
      """)
    ),
    // RIGHT OUTER stream-stream join: simpler horizon than the left —
    // only the kept (purchase) side needs the cut, because a purchase's
    // eviction horizon is its OWN timestamp (it can only match signups
    // at-or-before it) and matched signup partners are plain payload,
    // never null-extended. Signups stay UNFILTERED on both engines.
    QueryDef(
      "q_join_stream_stream_right",
      (s, dir) => {
        val (events, pairs) = streamJoinPairs(s, dir, "rightOuter")
        pairs
          .crossJoin(broadcast(horizon(events)))
          .filter(col("p_ts") < col("cut"))
          .groupBy(col("p_user"))
          .agg(
            count(lit(1)).as("n_rows"),
            count(col("s_id")).as("n_matched"),
            round(sum(col("p_value")), 4).as("v_sum"))
      },
      Some("""
        WITH mx AS (
          SELECT least(
            max(CASE WHEN event_type = 'signup' THEN ts END),
            max(CASE WHEN event_type = 'purchase' THEN ts END))
            - INTERVAL 41 MINUTE AS cut
          FROM events),
        s AS (SELECT * FROM events WHERE event_type = 'signup'),
        p AS (SELECT * FROM events
              WHERE event_type = 'purchase' AND ts < (SELECT cut FROM mx))
        SELECT p.user_id AS p_user, count(*) AS n_rows,
               count(s.event_id) AS n_matched,
               round(sum(p.value), 4) AS v_sum
        FROM s RIGHT JOIN p
          ON s.user_id = p.user_id
         AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 30 MINUTE
        GROUP BY p.user_id
      """)
    ),
    // FULL OUTER stream-stream join — the last of the reference's
    // inner/left/right/full family (StreamExecJoin.java:61; right outer
    // is the left-outer with sides swapped, see StreamingOps). Both
    // sides cut at ONE `horizon` C (inside both eviction guarantees:
    // signups need wm > s_ts+30min, purchases wm > p_ts). Matched-ness must be
    // judged AGAINST THE CUT SIDES, so the dumped rows are classified
    // batch-side: a pair row with an out-of-cut counterpart makes the
    // in-cut row "only"-classified exactly as the batch full join of
    // the two cut inputs would. The dump is complete for this: every
    // true pair emits eagerly and every in-cut never-matched row
    // null-extends before the cut (1min margin).
    QueryDef(
      "q_join_stream_stream_full",
      (s, dir) => {
        val (events, pairs) = streamJoinPairs(s, dir, "fullOuter")
        val d = pairs.crossJoin(broadcast(horizon(events)))
        // matched = both sides in cut (pair emission is complete)
        val matched = d
          .filter(col("s_ts") < col("cut") && col("p_ts") < col("cut"))
          .groupBy(col("s_user").as("user_id"))
          .agg(count(lit(1)).as("n_matched"),
            round(sum(col("p_value")), 4).as("v_sum"))
        // an in-cut signup is left-only iff NONE of its pairs land in
        // the cut (null p_ts from a null-extension compares to false)
        val leftOnly = d
          .filter(col("s_id").isNotNull && col("s_ts") < col("cut"))
          .groupBy(col("s_id"), col("s_user"))
          .agg(sum(when(col("p_ts") < col("cut"), 1).otherwise(0)).as("m"))
          .filter(col("m") === 0)
          .groupBy(col("s_user").as("user_id"))
          .agg(count(lit(1)).as("n_left_only"))
        val rightOnly = d
          .filter(col("p_id").isNotNull && col("p_ts") < col("cut"))
          .groupBy(col("p_id"), col("p_user"))
          .agg(sum(when(col("s_ts") < col("cut"), 1).otherwise(0)).as("m"))
          .filter(col("m") === 0)
          .groupBy(col("p_user").as("user_id"))
          .agg(count(lit(1)).as("n_right_only"))
        matched
          .join(leftOnly, Seq("user_id"), "full")
          .join(rightOnly, Seq("user_id"), "full")
          .select(col("user_id"),
            coalesce(col("n_matched"), lit(0L)).as("n_matched"),
            coalesce(col("n_left_only"), lit(0L)).as("n_left_only"),
            coalesce(col("n_right_only"), lit(0L)).as("n_right_only"),
            coalesce(col("v_sum"), lit(0.0)).as("v_sum"))
      },
      Some("""
        WITH mx AS (
          SELECT least(
            max(CASE WHEN event_type = 'signup' THEN ts END),
            max(CASE WHEN event_type = 'purchase' THEN ts END))
            - INTERVAL 41 MINUTE AS cut
          FROM events),
        s AS (SELECT user_id, ts, event_id FROM events
              WHERE event_type = 'signup' AND ts < (SELECT cut FROM mx)),
        p AS (SELECT user_id, ts, event_id, value FROM events
              WHERE event_type = 'purchase' AND ts < (SELECT cut FROM mx)),
        j AS (SELECT s.user_id AS s_user, s.event_id AS s_id,
                     p.user_id AS p_user, p.event_id AS p_id, p.value AS p_value
              FROM s FULL JOIN p
                ON s.user_id = p.user_id
               AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 30 MINUTE),
        m AS (SELECT s_user AS user_id, count(*) AS n_matched,
                     round(sum(p_value), 4) AS v_sum
              FROM j WHERE s_id IS NOT NULL AND p_id IS NOT NULL GROUP BY 1),
        l AS (SELECT s_user AS user_id, count(*) AS n_left_only
              FROM j WHERE p_id IS NULL GROUP BY 1),
        r AS (SELECT p_user AS user_id, count(*) AS n_right_only
              FROM j WHERE s_id IS NULL GROUP BY 1)
        SELECT coalesce(m.user_id, l.user_id, r.user_id) AS user_id,
               coalesce(n_matched, 0) AS n_matched,
               coalesce(n_left_only, 0) AS n_left_only,
               coalesce(n_right_only, 0) AS n_right_only,
               coalesce(v_sum, 0) AS v_sum
        FROM m
        FULL JOIN l ON m.user_id = l.user_id
        FULL JOIN r ON coalesce(m.user_id, l.user_id) = r.user_id
      """)
    ),
    // Pure range join (NO equi key): lineitem ship-days vs derived
    // promo windows, via the banded rewrite (plans/RangeJoin) — an
    // equi-join on the bin instead of a nested loop, exact predicate
    // re-checked on collisions. PlanAudit confirms no cartesian.
    QueryDef(
      "q_join_range_binned",
      (s, dir) => {
        val t = tables(s, dir)
        val epoch = lit(java.sql.Date.valueOf("1992-01-01"))
        // 40 deterministic 4-day windows from the lowest order keys
        val windows = t.orders
          .filter(col("o_orderkey") < 160)
          .select(
            col("o_orderkey").as("win_id"),
            datediff(col("o_orderdate"), epoch).cast("long").as("w_start"))
          .withColumn("w_end", col("w_start") + 3)
        val points = t.lineitem.select(
          datediff(col("l_shipdate"), epoch).cast("long").as("ship_day"),
          col("l_extendedprice"))
        graft.plans.RangeJoin
          .pointInInterval(points, "ship_day", windows, "w_start", "w_end", 4L)
          .groupBy(col("win_id"))
          .agg(
            count(lit(1)).as("n_ships"),
            Money.sumPrice(col("l_extendedprice")).as("revenue"))
      },
      Some(s"""
        WITH windows AS (
          SELECT o_orderkey AS win_id,
                 CAST(datediff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) AS w_start,
                 CAST(datediff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) + 3 AS w_end
          FROM orders WHERE o_orderkey < 160
        ),
        points AS (
          SELECT CAST(datediff('day', DATE '1992-01-01', l_shipdate) AS BIGINT) AS ship_day,
                 l_extendedprice
          FROM lineitem
        )
        SELECT win_id, count(*) AS n_ships,
               ${Money.sumPriceSql("l_extendedprice")} AS revenue
        FROM points JOIN windows
          ON ship_day >= w_start AND ship_day <= w_end
        GROUP BY win_id
      """)
    ),
    // As-of (temporal) join — reference StreamExecTemporalJoin /
    // TemporalRowTimeJoinOperator. Spark lacks this operator; see
    // graft.plans.AsOfJoin for the single-shuffle union+window design.
    asOfQuery("q_join_asof", "signup_value"),
    // Forward as-of: each purchase matched to the EARLIEST signup at
    // or after it — the other temporal direction, same single-shuffle
    // window mechanism.
    asOfQuery("q_join_asof_forward", "next_signup_value", forward = true),
    // The same backward as-of as q_join_asof, kept registered and
    // oracle-checked under its own name.
    asOfQuery("q_join_asof_native", "signup_value"),
    // LEFT OUTER as-of: purchases with no signup at-or-before keep the
    // left row with a null signup_value — the reference's
    // isLeftOuterJoin temporal-join mode
    // (TemporalRowTimeJoinOperator.java:88,134).
    asOfQuery("q_join_asof_outer", "signup_value", leftOuter = true),
    // Bucketed co-located join (§2.10 partitioning primitives): both
    // sides written bucketed+sorted on the join key, so the sort-merge
    // join reads bucket-aligned files with NO exchange — the plan a
    // fact-dim join keeps at 100 TB when both tables are bucketed.
    // The oracle is the identical join on the unbucketed parquet.
    QueryDef(
      "q_join_bucketed_colocated",
      (s, dir) => {
        val t = tables(s, dir)
        s.sql("DROP TABLE IF EXISTS orders_bktq")
        s.sql("DROP TABLE IF EXISTS customer_bktq")
        // the catalog is per-process but the warehouse dir is not: a
        // previous process's table data survives its metastore, and
        // saveAsTable refuses to reuse the location
        val warehouse = new java.io.File(s.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:"))
        for (tb <- Seq("orders_bktq", "customer_bktq")) {
          val d = new java.io.File(warehouse, tb)
          if (d.exists()) {
            d.listFiles().foreach(_.delete())
            d.delete()
          }
        }
        t.orders
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
          .mode("overwrite").saveAsTable("orders_bktq")
        t.customer
          .select(col("c_custkey"), col("c_mktsegment"))
          .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
          .mode("overwrite").saveAsTable("customer_bktq")
        s.table("orders_bktq")
          .join(s.table("customer_bktq"), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(
            count(lit(1)).as("n"),
            Money.sumPrice(col("o_totalprice")).as("total"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key")
          )
      },
      Some(s"""
        SELECT c_mktsegment, count(*) AS n,
               ${Money.sumPriceSql("o_totalprice")} AS total,
               min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
      """)
    )
  )

  /** Each purchase as-of joined to the latest signup of the same user
    * at or before it (or, `forward`, the earliest at or after it);
    * `leftOuter` keeps purchases with no such signup. The oracle is
    * DuckDB's `ASOF [LEFT] JOIN`.
    */
  private def asOfQuery(
      name: String,
      valueCol: String,
      forward: Boolean = false,
      leftOuter: Boolean = false
  ) =
    QueryDef(
      name,
      (s, dir) => {
        val t = tables(s, dir)
        val purchases = t.events
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        val signups = t.events
          .filter(col("event_type") === "signup")
          .select(col("user_id"), col("ts"), col("value").as(valueCol))
        val asOf = if (forward) AsOfJoin.joinForward _ else AsOfJoin.join _
        asOf(purchases, signups, "user_id", "ts", Seq(valueCol), leftOuter)
          .select(col("event_id"), col("value").as("p_value"), col(valueCol))
      },
      Some(s"""
        SELECT p.event_id AS event_id, p.value AS p_value,
               s.value AS $valueCol
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF ${if (leftOuter) "LEFT " else ""}JOIN (SELECT * FROM events WHERE event_type = 'signup') s
          ON p.user_id = s.user_id AND p.ts ${if (forward) "<=" else ">="} s.ts
      """)
    )

  /** The bounded stream-stream replay behind q_join_stream_stream*:
    * events.parquet replayed through the file source into
    * StreamingSymmetricHashJoinExec (`StreamingOps.intervalJoin` of
    * `joinType` on the signup and purchase sides), its pairs landed
    * distributed via foreachBatch->parquet and read back on the parent
    * session. Returns the batch events table (for `horizon`) and the
    * pairs.
    */
  private def streamJoinPairs(s: SparkSession, dir: String, joinType: String)
      : (DataFrame, DataFrame) = {
    val path = s"$dir/events.parquet"
    val raw = s.read.parquet(path)
    val src = Engine.eventTime(StreamingOps.replaySource(s, path, raw.schema))
    val joined = StreamingOps.intervalJoin(
      src.filter(col("event_type") === "signup"),
      src.filter(col("event_type") === "purchase"),
      joinType)
    val outDir = TempPaths.dir("graft_ssjoin_out").toString
    StreamingOps.runToEnd(
      s,
      joined.writeStream.foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode("append").parquet(outDir)
      },
      "ssjoin")
    (Engine.eventTime(raw), s.read.parquet(outDir))
  }

  /** The one cut C both engines apply to an outer replay: every row
    * before C has passed its eviction horizon in the stream. The
    * combined watermark is the MIN across both sides' nodes, each
    * seeing only its filtered events, so C starts from least(max signup
    * ts, max purchase ts), not the global max, minus 41min: the 30min
    * join window + the 10min watermark delay + 1min margin so no row
    * sits exactly on the eviction boundary. A 1-row aggregate, joined
    * as a broadcast: no driver-side value.
    */
  private def horizon(events: DataFrame): DataFrame =
    events.agg((least(
      max(when(col("event_type") === "signup", col("ts"))),
      max(when(col("event_type") === "purchase", col("ts"))))
      - expr("INTERVAL 41 MINUTES")).as("cut"))
}
