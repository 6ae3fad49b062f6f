package graft.operators

import graft.{QueryDef, QueryModule}
import graft.streaming.Cep
import graft.streaming.StreamingOps.Event
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** CEP pattern detection exposed as verifiable batch queries (the
  * streaming form of the same NFA is covered by CepSpec). The strict
  * 2-step pattern has an exact SQL rewrite via lag(), which is the
  * oracle.
  */
object CepQueries extends QueryModule {

  /** The events table as the typed stream the CEP front-ends read. */
  private def events(s: SparkSession, dir: String): Dataset[Event] = {
    import s.implicits._
    tables(s, dir).events
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event]
  }

  def defs: Seq[QueryDef] = Seq(
    // Strict contiguity: two consecutive 'error' events of one user
    // within 30 minutes (MATCH_RECOGNIZE PATTERN (E1 E2) semantics).
    QueryDef(
      "q_cep_double_error",
      (s, dir) => {
        val pattern = Cep.SequencePattern(
          steps = Seq(
            Cep.Step("e1", _.event_type == "error"),
            Cep.Step("e2", _.event_type == "error")
          ),
          withinMs = 30L * 60 * 1000,
          strict = true
        )
        Cep
          .detectBatch(events(s, dir), pattern)
          .toDF()
          .select(
            col("key").as("user_id"),
            element_at(col("event_ids"), 1).as("m1"),
            element_at(col("event_ids"), 2).as("m2")
          )
      },
      Some("""
        WITH o AS (
          SELECT user_id, event_id, ts, event_type,
                 lag(event_id) OVER w AS p_id,
                 lag(event_type) OVER w AS p_type,
                 lag(ts) OVER w AS p_ts
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id, p_id AS m1, event_id AS m2
        FROM o
        WHERE event_type = 'error' AND p_type = 'error'
          AND ts - p_ts <= INTERVAL 30 MINUTE
      """)
    ),
    // Relaxed contiguity (followedBy): signup followed by a purchase
    // within 30 minutes, ignoring events in between — first purchase
    // completes the match and the NFA emits exactly one match per
    // signup (each signup starts one partial). Oracle: for each
    // signup, the earliest later purchase within the bound.
    QueryDef(
      "q_cep_signup_purchase",
      (s, dir) => {
        val pattern = Cep.SequencePattern(
          steps = Seq(
            Cep.Step("signup", _.event_type == "signup"),
            Cep.Step("purchase", _.event_type == "purchase")
          ),
          withinMs = 30L * 60 * 1000,
          strict = false
        )
        Cep
          .detectBatch(events(s, dir), pattern)
          .toDF()
          .select(
            col("key").as("user_id"),
            element_at(col("event_ids"), 1).as("signup_id"),
            element_at(col("event_ids"), 2).as("purchase_id")
          )
      },
      Some("""
        WITH s AS (SELECT user_id, event_id AS signup_id, ts AS s_ts
                   FROM events WHERE event_type = 'signup'),
        cand AS (
          SELECT s.user_id, s.signup_id, p.event_id AS purchase_id,
                 row_number() OVER (PARTITION BY s.user_id, s.signup_id
                                    ORDER BY p.ts, p.event_id) AS rn
          FROM s JOIN events p
            ON p.user_id = s.user_id AND p.event_type = 'purchase'
           AND (p.ts > s.s_ts OR (p.ts = s.s_ts AND p.event_id > s.signup_id))
           AND p.ts - s.s_ts <= INTERVAL 30 MINUTE
        )
        SELECT user_id, signup_id, purchase_id FROM cand WHERE rn = 1
      """)
    ),
    // Greedy oneOrMore + SKIP_PAST_LAST_EVENT: a maximal run of
    // consecutive errors (error+ greedy) closed by the next non-error
    // event. The skip strategy suppresses the suffix matches the
    // overlapping partials would otherwise emit, so the result is
    // exactly one match per error island that has a successor event —
    // the gaps-and-islands SQL below.
    QueryDef(
      "q_cep_error_burst",
      (s, dir) => {
        val pattern = Cep.SequencePattern(
          steps = Seq(
            Cep.Step("errs", _.event_type == "error", oneOrMore = true, greedy = true),
            Cep.Step("recovery", _.event_type != "error")
          ),
          // provably inert: ts - startTs is a nonnegative epoch-ms
          // difference, always < Long.MaxValue — the NFA never expires
          // a partial, exactly matching the oracle's unbounded islands
          withinMs = Long.MaxValue,
          strict = true,
          skip = Cep.SkipPastLastEvent
        )
        Cep
          .detectBatch(events(s, dir), pattern)
          .toDF()
          .select(
            col("key").as("user_id"),
            element_at(col("event_ids"), 1).as("first_err"),
            (size(col("event_ids")) - 1).cast("long").as("n_errors"),
            element_at(col("event_ids"), -1).as("recovery_id")
          )
      },
      Some("""
        WITH o AS (
          SELECT user_id, event_id, event_type,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events
        ),
        err AS (
          SELECT user_id, event_id, rn,
                 rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS grp
          FROM o WHERE event_type = 'error'
        ),
        runs AS (
          SELECT user_id, grp, min(rn) AS srn, max(rn) AS ern,
                 CAST(count(*) AS BIGINT) AS n_errors
          FROM err GROUP BY user_id, grp
        )
        SELECT r.user_id, f.event_id AS first_err, r.n_errors,
               nx.event_id AS recovery_id
        FROM runs r
        JOIN o f  ON f.user_id = r.user_id AND f.rn = r.srn
        JOIN o nx ON nx.user_id = r.user_id AND nx.rn = r.ern + 1
      """)
    ),
    // AFTER MATCH SKIP PAST LAST EVENT on a strict double-error: a run
    // of L consecutive errors yields the floor(L/2) non-overlapping
    // pairs (1,2)(3,4)…, not the L-1 overlapping ones NO_SKIP emits
    // (q_cep_double_error covers that mode).
    QueryDef(
      "q_cep_skip_past_last",
      (s, dir) => {
        val pattern = Cep.SequencePattern(
          steps = Seq(
            Cep.Step("e1", _.event_type == "error"),
            Cep.Step("e2", _.event_type == "error")
          ),
          // provably inert (see q_cep_error_burst): the oracle's
          // non-overlapping pairs carry no time bound
          withinMs = Long.MaxValue,
          strict = true,
          skip = Cep.SkipPastLastEvent
        )
        Cep
          .detectBatch(events(s, dir), pattern)
          .toDF()
          .select(
            col("key").as("user_id"),
            element_at(col("event_ids"), 1).as("m1"),
            element_at(col("event_ids"), 2).as("m2")
          )
      },
      Some("""
        WITH o AS (
          SELECT user_id, event_id, event_type,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events
        ),
        err AS (
          SELECT user_id, event_id, rn,
                 rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS grp
          FROM o WHERE event_type = 'error'
        ),
        pos AS (
          SELECT user_id, grp, event_id,
                 row_number() OVER (PARTITION BY user_id, grp ORDER BY rn) AS p
          FROM err
        )
        SELECT a.user_id, a.event_id AS m1, b.event_id AS m2
        FROM pos a
        JOIN pos b ON b.user_id = a.user_id AND b.grp = a.grp AND b.p = a.p + 1
        WHERE a.p % 2 = 1
      """)
    ),
    // Optional quantifier under strict contiguity: signup (error?)
    // purchase — a purchase immediately after the signup, or with
    // exactly one error in between (the epsilon edge past the optional
    // step). Oracle: two mutually-exclusive lead() branches.
    QueryDef(
      "q_cep_optional_strict",
      (s, dir) => {
        val pattern = Cep.SequencePattern(
          steps = Seq(
            Cep.Step("signup", _.event_type == "signup"),
            Cep.Step("maybe_err", _.event_type == "error", optional = true),
            Cep.Step("purchase", _.event_type == "purchase")
          ),
          // provably inert (see q_cep_error_burst): the oracle's lead()
          // branches carry no time bound
          withinMs = Long.MaxValue,
          strict = true
        )
        Cep
          .detectBatch(events(s, dir), pattern)
          .toDF()
          .select(
            col("key").as("user_id"),
            element_at(col("event_ids"), 1).as("signup_id"),
            element_at(col("event_ids"), -1).as("purchase_id")
          )
      },
      Some("""
        WITH o AS (
          SELECT user_id, event_id, event_type,
                 lead(event_type) OVER w AS t1, lead(event_id) OVER w AS id1,
                 lead(event_type, 2) OVER w AS t2, lead(event_id, 2) OVER w AS id2
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id, event_id AS signup_id, id1 AS purchase_id
        FROM o WHERE event_type = 'signup' AND t1 = 'purchase'
        UNION ALL
        SELECT user_id, event_id, id2
        FROM o WHERE event_type = 'signup' AND t1 = 'error' AND t2 = 'purchase'
      """)
    ),
    // Negation, relaxed: notFollowedBy — the canonical
    // funnel-abandonment query. A signup with NO purchase in the
    // following 30 minutes (reference Pattern.notFollowedBy,
    // flink-cep/.../pattern/Pattern.java:304; a trailing notFollowedBy
    // requires within() and resolves at its expiry — here end-of-input
    // flush plays the same role for the events beyond every horizon).
    // Oracle: anti-join against later purchases inside the bound.
    QueryDef(
      "q_cep_not_followed_by",
      (s, dir) => {
        val pattern = Cep.SequencePattern(
          steps = Seq(
            Cep.Step("signup", _.event_type == "signup"),
            Cep.Step("no_purchase", _.event_type == "purchase", negated = true)
          ),
          withinMs = 30L * 60 * 1000,
          strict = false
        )
        Cep
          .detectBatch(events(s, dir), pattern)
          .toDF()
          .select(
            col("key").as("user_id"),
            element_at(col("event_ids"), 1).as("signup_id")
          )
      },
      Some("""
        SELECT user_id, event_id AS signup_id
        FROM events s
        WHERE event_type = 'signup'
          AND NOT EXISTS (
            SELECT 1 FROM events p
            WHERE p.user_id = s.user_id AND p.event_type = 'purchase'
              AND (p.ts > s.ts OR (p.ts = s.ts AND p.event_id > s.event_id))
              -- ms-boundary count == the NFA's getTime subtraction (the
              -- µs-precision INTERVAL compare would disagree when a gap
              -- straddles the bound inside one millisecond)
              AND date_diff('millisecond', s.ts, p.ts) <= 1800000
          )
      """)
    ),
    // Negation, strict: notNext — an error whose IMMEDIATE successor is
    // not a recovery click (reference Pattern.notNext,
    // flink-cep/.../pattern/Pattern.java:273). The within is inert (see
    // q_cep_error_burst), so the negation resolves on the next event or
    // at end-of-input — exactly the oracle's lead() semantics, where a
    // missing successor (NULL lead) also satisfies the negation.
    QueryDef(
      "q_cep_not_next",
      (s, dir) => {
        val pattern = Cep.SequencePattern(
          steps = Seq(
            Cep.Step("err", _.event_type == "error"),
            Cep.Step("no_click", _.event_type == "click", negated = true)
          ),
          withinMs = Long.MaxValue,
          strict = true
        )
        Cep
          .detectBatch(events(s, dir), pattern)
          .toDF()
          .select(
            col("key").as("user_id"),
            element_at(col("event_ids"), 1).as("error_id")
          )
      },
      Some("""
        WITH o AS (
          SELECT user_id, event_id, event_type,
                 lead(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS nxt
          FROM events
        )
        SELECT user_id, event_id AS error_id
        FROM o
        WHERE event_type = 'error' AND (nxt IS NULL OR nxt <> 'click')
      """)
    ),
    // Non-deterministic relaxed successor: followedByAny (reference
    // Pattern.followedByAny, flink-cep/.../pattern/Pattern.java:322).
    // EVERY purchase within the horizon of a signup forks its own
    // match — plain followedBy would bind only the first. The oracle
    // is the full pair join, which is exactly the all-successor-
    // choices semantics.
    QueryDef(
      "q_cep_followed_by_any",
      (s, dir) => {
        val pattern = Cep.SequencePattern(
          steps = Seq(
            Cep.Step("signup", _.event_type == "signup"),
            Cep.Step("purchase", _.event_type == "purchase", anyMatch = true)
          ),
          withinMs = 30L * 60 * 1000,
          strict = false
        )
        Cep
          .detectBatch(events(s, dir), pattern)
          .toDF()
          .select(
            col("key").as("user_id"),
            element_at(col("event_ids"), 1).as("signup_id"),
            element_at(col("event_ids"), 2).as("purchase_id")
          )
      },
      Some("""
        SELECT s.user_id, s.event_id AS signup_id, p.event_id AS purchase_id
        FROM events s
        JOIN events p
          ON p.user_id = s.user_id AND p.event_type = 'purchase'
          AND (p.ts > s.ts OR (p.ts = s.ts AND p.event_id > s.event_id))
          -- ms-boundary horizon == the NFA's getTime subtraction
          AND date_diff('millisecond', s.ts, p.ts) <= 1800000
        WHERE s.event_type = 'signup'
      """)
    ),
    // Pattern.consecutive (reference Pattern.java:437): a greedy
    // one-or-more loop whose contiguity is pinned STRICT inside an
    // otherwise RELAXED pattern — any unconsumed event closes the loop.
    // A single consecutive greedy loop therefore emits exactly the
    // MAXIMAL uninterrupted error runs per user (SkipPastLastEvent
    // discards the suffix partials that share the run). Contrast: the
    // same loop without `consecutive` bridges across gaps and collapses
    // each user's whole error history into one match (CepContiguitySpec
    // proves all three modes side by side).
    QueryDef(
      "q_cep_consecutive",
      (s, dir) => {
        val pattern = Cep.SequencePattern(
          steps = Seq(
            Cep.Step("errs", _.event_type == "error",
              oneOrMore = true, greedy = true, consecutive = true)
          ),
          // provably inert (see q_cep_error_burst): runs are unbounded
          withinMs = Long.MaxValue,
          strict = false,
          skip = Cep.SkipPastLastEvent
        )
        Cep
          .detectBatch(events(s, dir), pattern)
          .toDF()
          .select(
            col("key").as("user_id"),
            element_at(col("event_ids"), 1).as("first_err"),
            element_at(col("event_ids"), -1).as("last_err"),
            size(col("event_ids")).cast("long").as("n_errors")
          )
      },
      Some("""
        WITH o AS (
          SELECT user_id, event_id, event_type,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events
        ),
        err AS (
          SELECT user_id, event_id, rn,
                 rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS grp
          FROM o WHERE event_type = 'error'
        )
        SELECT user_id,
               arg_min(event_id, rn) AS first_err,
               arg_max(event_id, rn) AS last_err,
               CAST(count(*) AS BIGINT) AS n_errors
        FROM err GROUP BY user_id, grp
      """)
    ),
    // The SAME double-error pattern expressed as SQL MATCH_RECOGNIZE
    // text through graft.streaming.MatchRecognize (reference SQL
    // surface: StreamExecMatch.java:90) — proves a MATCH_RECOGNIZE
    // query migrates as text and produces the identical oracle-green
    // result. SKIP TO NEXT ROW == NO_SKIP here: a two-step
    // deterministic pattern yields at most one match per start row.
    QueryDef(
      "q_cep_sql_double_error",
      (s, dir) => {
        graft.streaming.MatchRecognize
          .detectBatch(events(s, dir), """
            MATCH_RECOGNIZE (
              PARTITION BY user_id
              ORDER BY ts
              AFTER MATCH SKIP TO NEXT ROW
              PATTERN (E1 E2)
              WITHIN INTERVAL '30' MINUTE
              DEFINE E1 AS event_type = 'error',
                     E2 AS event_type = 'error'
            )
          """)
          .toDF()
          .select(
            col("key").as("user_id"),
            element_at(col("event_ids"), 1).as("m1"),
            element_at(col("event_ids"), 2).as("m2")
          )
      },
      Some("""
        WITH o AS (
          SELECT user_id, event_id, ts, event_type,
                 lag(event_id) OVER w AS p_id,
                 lag(event_type) OVER w AS p_type,
                 lag(ts) OVER w AS p_ts
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id, p_id AS m1, event_id AS m2
        FROM o
        WHERE event_type = 'error' AND p_type = 'error'
          AND ts - p_ts <= INTERVAL 30 MINUTE
      """)
    ),
    // Error burst through the SQL front-end: greedy one-or-more (SQL
    // regex +) with the standard AFTER MATCH SKIP PAST LAST ROW —
    // text-for-text the reference's MATCH_RECOGNIZE burst query, same
    // islands oracle as q_cep_error_burst.
    QueryDef(
      "q_cep_sql_error_burst",
      (s, dir) => {
        graft.streaming.MatchRecognize
          .detectBatch(events(s, dir), """
            MATCH_RECOGNIZE (
              PARTITION BY user_id
              ORDER BY ts
              AFTER MATCH SKIP PAST LAST ROW
              PATTERN (E+ R)
              DEFINE E AS event_type = 'error',
                     R AS event_type <> 'error'
            )
          """)
          .toDF()
          .select(
            col("key").as("user_id"),
            element_at(col("event_ids"), 1).as("first_err"),
            (size(col("event_ids")) - 1).cast("long").as("n_errors"),
            element_at(col("event_ids"), -1).as("recovery_id")
          )
      },
      Some("""
        WITH o AS (
          SELECT user_id, event_id, event_type,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events
        ),
        err AS (
          SELECT user_id, event_id, rn,
                 rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS grp
          FROM o WHERE event_type = 'error'
        ),
        runs AS (
          SELECT user_id, grp, min(rn) AS srn, max(rn) AS ern,
                 CAST(count(*) AS BIGINT) AS n_errors
          FROM err GROUP BY user_id, grp
        )
        SELECT r.user_id, f.event_id AS first_err, r.n_errors,
               nx.event_id AS recovery_id
        FROM runs r
        JOIN o f  ON f.user_id = r.user_id AND f.rn = r.srn
        JOIN o nx ON nx.user_id = r.user_id AND nx.rn = r.ern + 1
      """)
    ),
    // The burst pattern with a MEASURES clause: per-variable FIRST /
    // COUNT / AVG / MIN over the loop variable plus LAST over the
    // recovery row — computed from the NFA's per-step labels
    // (Match.step_names) as collection expressions, one event_id join
    // + one per-match groupBy (MatchRecognize.withMeasures). AVG is
    // rounded to 4dp on both sides (fp summation order).
    QueryDef(
      "q_cep_sql_measures",
      (s, dir) => {
        graft.streaming.MatchRecognize
          .detectBatchWithMeasures(events(s, dir), """
            MATCH_RECOGNIZE (
              PARTITION BY user_id
              ORDER BY ts
              MEASURES FIRST(E.event_id) AS first_err,
                       COUNT(E.*) AS n_errors,
                       AVG(E.value) AS avg_err_value,
                       MIN(E.value) AS min_err_value,
                       LAST(R.event_id) AS recovery_id
              AFTER MATCH SKIP PAST LAST ROW
              PATTERN (E+ R)
              DEFINE E AS event_type = 'error',
                     R AS event_type <> 'error'
            )
          """)
          .select(
            col("key").as("user_id"),
            col("first_err"),
            col("n_errors"),
            round(col("avg_err_value"), 4).as("avg_err_value"),
            col("min_err_value"),
            col("recovery_id")
          )
      },
      Some("""
        WITH o AS (
          SELECT user_id, event_id, event_type, value,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events
        ),
        err AS (
          SELECT user_id, event_id, value, rn,
                 rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS grp
          FROM o WHERE event_type = 'error'
        ),
        runs AS (
          SELECT user_id, grp, min(rn) AS srn, max(rn) AS ern,
                 CAST(count(*) AS BIGINT) AS n_errors,
                 round(avg(value), 4) AS avg_err_value,
                 min(value) AS min_err_value
          FROM err GROUP BY user_id, grp
        )
        SELECT r.user_id, f.event_id AS first_err, r.n_errors,
               r.avg_err_value, r.min_err_value,
               nx.event_id AS recovery_id
        FROM runs r
        JOIN o f  ON f.user_id = r.user_id AND f.rn = r.srn
        JOIN o nx ON nx.user_id = r.user_id AND nx.rn = r.ern + 1
      """)
    ),
    // ALL ROWS PER MATCH output mode on the double-error pattern: one
    // row per matched input row with CLASSIFIER() (the NFA step label),
    // per-partition MATCH_NUMBER(), and MEASURES with the mode's
    // SQL-standard RUNNING semantics — each row sees the measure over
    // the match prefix up to itself (COUNT(E1.*) is already 1 on row 1;
    // SUM(E2.value) is NULL on row 1 and the E2 value on row 2). SKIP
    // TO NEXT ROW makes (start_ts, first event) unique per match, so
    // the numbering and the oracle's row_number agree.
    QueryDef(
      "q_cep_sql_all_rows",
      (s, dir) => {
        graft.streaming.MatchRecognize
          .detectBatchAllRowsWithMeasures(events(s, dir), """
            MATCH_RECOGNIZE (
              PARTITION BY user_id
              ORDER BY ts
              MEASURES COUNT(E1.*) AS n1_run, SUM(E2.value) AS s2_run
              AFTER MATCH SKIP TO NEXT ROW
              PATTERN (E1 E2)
              WITHIN INTERVAL '30' MINUTE
              DEFINE E1 AS event_type = 'error',
                     E2 AS event_type = 'error'
            )
          """)
          .select(
            col("key").as("user_id"),
            col("match_no"),
            col("row_in_match"),
            col("event_id"),
            col("classifier"),
            col("n1_run"),
            col("s2_run")
          )
      },
      Some("""
        WITH o AS (
          SELECT user_id, event_id, ts, event_type, value,
                 row_number() OVER w AS rn,
                 lag(event_id) OVER w AS p_id,
                 lag(event_type) OVER w AS p_type,
                 lag(ts) OVER w AS p_ts
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        m AS (
          SELECT user_id, p_id AS m1, event_id AS m2, value AS v2,
                 CAST(row_number() OVER (PARTITION BY user_id
                      ORDER BY rn) AS BIGINT) AS match_no
          FROM o
          WHERE event_type = 'error' AND p_type = 'error'
            AND ts - p_ts <= INTERVAL 30 MINUTE
        )
        SELECT user_id, match_no,
               CAST(u.r AS BIGINT) AS row_in_match,
               CASE u.r WHEN 1 THEN m1 ELSE m2 END AS event_id,
               CASE u.r WHEN 1 THEN 'E1' ELSE 'E2' END AS classifier,
               CAST(1 AS BIGINT) AS n1_run,
               CASE u.r WHEN 1 THEN NULL ELSE v2 END AS s2_run
        FROM m, unnest([1, 2]) AS u(r)
      """)
    ),
    // PREV navigation in DEFINE (reference: MatchCodeGenerator.scala,
    // PREV at FlinkSqlOperatorTable.java:1147-1151): two consecutive
    // value rises per user. PREV is physical — the prior row in the
    // ordered partition — so the oracle is exactly lag(); the first
    // row's PREV is NULL and `value > NULL` is not true on both sides.
    QueryDef(
      "q_cep_sql_updown",
      (s, dir) => {
        graft.streaming.MatchRecognize
          .detectBatch(events(s, dir), """
            MATCH_RECOGNIZE (
              PARTITION BY user_id
              ORDER BY ts
              AFTER MATCH SKIP TO NEXT ROW
              PATTERN (U{2})
              DEFINE U AS value > PREV(value)
            )
          """)
          .toDF()
          .select(
            col("key").as("user_id"),
            element_at(col("event_ids"), 1).as("m1"),
            element_at(col("event_ids"), 2).as("m2")
          )
      },
      Some("""
        WITH o AS (
          SELECT user_id, event_id,
                 row_number() OVER w AS rn,
                 CASE WHEN value > lag(value) OVER w THEN 1 ELSE 0 END AS rise
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT a.user_id, a.event_id AS m1, b.event_id AS m2
        FROM o a JOIN o b ON b.user_id = a.user_id AND b.rn = a.rn + 1
        WHERE a.rise = 1 AND b.rise = 1
      """)
    ),
    // Group pattern (E V)+ P (reference GroupPattern.java — a whole
    // sub-sequence under oneOrMore): per start event, the reluctant
    // loop + SKIP TO NEXT ROW yields the SHORTEST (error view)^k
    // purchase completion — exactly a lazy regex anchored at each
    // start position over the per-user event-type string, which is the
    // oracle.
    QueryDef(
      "q_cep_group_loop",
      (s, dir) => {
        val pattern = Cep.SequencePattern(
          Seq(
            Cep.Group(Seq(
              Cep.Step("E", _.event_type == "error"),
              Cep.Step("V", _.event_type == "view")
            ), oneOrMore = true),
            Cep.Step("P", _.event_type == "purchase")
          ),
          withinMs = Long.MaxValue,
          strict = true,
          skip = Cep.SkipToNext
        )
        Cep
          .detectBatch(events(s, dir), pattern)
          .toDF()
          .select(
            col("key").as("user_id"),
            element_at(col("event_ids"), 1).as("first_id"),
            ((size(col("event_ids")) - 1) / 2).cast("long").as("n_pairs"),
            element_at(col("event_ids"), -1).as("close_id")
          )
      },
      Some("""
        WITH o AS (
          SELECT user_id, event_id, event_type,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events
        ),
        s AS (
          SELECT user_id,
                 string_agg(CASE event_type WHEN 'error' THEN 'E'
                            WHEN 'view' THEN 'V' WHEN 'purchase' THEN 'P'
                            ELSE 'X' END, '' ORDER BY rn) AS str
          FROM o GROUP BY user_id
        ),
        pos AS (
          SELECT user_id, str,
                 unnest(range(1, CAST(length(str) AS BIGINT) + 1)) AS i
          FROM s
        ),
        mm AS (
          SELECT user_id, i AS srn,
                 length(regexp_extract(substr(str, CAST(i AS INT)), '^(?:EV)+?P')) AS len
          FROM pos
          WHERE regexp_matches(substr(str, CAST(i AS INT)), '^(?:EV)+?P')
        )
        SELECT mm.user_id, f.event_id AS first_id,
               CAST((mm.len - 1) // 2 AS BIGINT) AS n_pairs,
               l.event_id AS close_id
        FROM mm
        JOIN o f ON f.user_id = mm.user_id AND f.rn = mm.srn
        JOIN o l ON l.user_id = mm.user_id AND l.rn = mm.srn + mm.len - 1
      """)
    ),
    // MATCH_RECOGNIZE over an ARBITRARY relation (reference:
    // StreamExecMatch.java:90 — any input RowType): maximal runs of
    // filled orders ('F') closed by an open order ('O') per customer,
    // in o_orderdate order, through the generic front-end
    // (MatchRecognize.detectRelation) with ALL ROWS PER MATCH output.
    // The oracle is gaps-and-islands over the same ordering.
    QueryDef(
      "q_cep_sql_orders",
      (s, dir) => {
        val t = tables(s, dir)
        graft.streaming.MatchRecognize
          .detectRelation(
            t.orders.select("o_custkey", "o_orderkey", "o_orderstatus",
              "o_orderdate"),
            """
            MATCH_RECOGNIZE (
              PARTITION BY o_custkey
              ORDER BY o_orderdate, o_orderkey
              AFTER MATCH SKIP PAST LAST ROW
              PATTERN (F+ O)
              DEFINE F AS o_orderstatus = 'F',
                     O AS o_orderstatus = 'O'
            )
          """)
          .select(
            col("o_custkey"),
            col("o_orderkey"),
            col("o_orderstatus"),
            col("match_no"),
            col("row_in_match"),
            col("classifier")
          )
      },
      Some("""
        WITH o AS (
          SELECT o_custkey, o_orderkey, o_orderstatus,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) AS rn
          FROM orders
        ),
        f AS (
          SELECT o_custkey, rn,
                 rn - row_number() OVER (PARTITION BY o_custkey ORDER BY rn) AS grp
          FROM o WHERE o_orderstatus = 'F'
        ),
        runs AS (
          SELECT o_custkey, grp, min(rn) AS srn, max(rn) AS ern
          FROM f GROUP BY o_custkey, grp
        ),
        m AS (
          SELECT r.o_custkey, r.srn, r.ern
          FROM runs r
          JOIN o nx ON nx.o_custkey = r.o_custkey AND nx.rn = r.ern + 1
          WHERE nx.o_orderstatus = 'O'
        ),
        mn AS (
          SELECT *, CAST(row_number() OVER (PARTITION BY o_custkey
                         ORDER BY srn) AS BIGINT) AS match_no
          FROM m
        )
        SELECT mn.o_custkey, o.o_orderkey, o.o_orderstatus, mn.match_no,
               CAST(o.rn - mn.srn + 1 AS BIGINT) AS row_in_match,
               CASE WHEN o.rn <= mn.ern THEN 'F' ELSE 'O' END AS classifier
        FROM mn JOIN o ON o.o_custkey = mn.o_custkey
                      AND o.rn BETWEEN mn.srn AND mn.ern + 1
      """)
    ),
    // SQL PATTERN grouping (round-10): the same (E V)+ P query as
    // q_cep_group_loop, but arriving as MATCH_RECOGNIZE TEXT — the
    // tokenizer maps one-level parenthesized groups onto CepCore.Group
    // (reference: GroupPattern.java; Calcite row-pattern grammar in
    // StreamExecMatch.java:90). Same lazy-regex oracle.
    QueryDef(
      "q_cep_sql_group",
      (s, dir) => {
        graft.streaming.MatchRecognize
          .detectBatch(events(s, dir), """
            MATCH_RECOGNIZE (
              PARTITION BY user_id
              ORDER BY ts
              AFTER MATCH SKIP TO NEXT ROW
              PATTERN ((E V)+ P)
              DEFINE E AS event_type = 'error',
                     V AS event_type = 'view',
                     P AS event_type = 'purchase'
            )
          """)
          .toDF()
          .select(
            col("key").as("user_id"),
            element_at(col("event_ids"), 1).as("first_id"),
            ((size(col("event_ids")) - 1) / 2).cast("long").as("n_pairs"),
            element_at(col("event_ids"), -1).as("close_id")
          )
      },
      Some("""
        WITH o AS (
          SELECT user_id, event_id, event_type,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events
        ),
        s AS (
          SELECT user_id,
                 string_agg(CASE event_type WHEN 'error' THEN 'E'
                            WHEN 'view' THEN 'V' WHEN 'purchase' THEN 'P'
                            ELSE 'X' END, '' ORDER BY rn) AS str
          FROM o GROUP BY user_id
        ),
        pos AS (
          SELECT user_id, str,
                 unnest(range(1, CAST(length(str) AS BIGINT) + 1)) AS i
          FROM s
        ),
        mm AS (
          SELECT user_id, i AS srn,
                 length(regexp_extract(substr(str, CAST(i AS INT)), '^(?:EV)+?P')) AS len
          FROM pos
          WHERE regexp_matches(substr(str, CAST(i AS INT)), '^(?:EV)+?P')
        )
        SELECT mm.user_id, f.event_id AS first_id,
               CAST((mm.len - 1) // 2 AS BIGINT) AS n_pairs,
               l.event_id AS close_id
        FROM mm
        JOIN o f ON f.user_id = mm.user_id AND f.rn = mm.srn
        JOIN o l ON l.user_id = mm.user_id AND l.rn = mm.srn + mm.len - 1
      """)
    ),
    // SQL PATTERN alternation (round-10): PATTERN (S P | E V) — each
    // alternative is an NFA branch (reference: the Calcite row-pattern
    // grammar accepts alternation; CepCore forks a fresh partial per
    // branch). Strict adjacency makes the oracle a lead() OR-predicate.
    QueryDef(
      "q_cep_sql_alt",
      (s, dir) => {
        graft.streaming.MatchRecognize
          .detectBatch(events(s, dir), """
            MATCH_RECOGNIZE (
              PARTITION BY user_id
              ORDER BY ts
              AFTER MATCH SKIP TO NEXT ROW
              PATTERN (S P | E V)
              DEFINE S AS event_type = 'signup',
                     P AS event_type = 'purchase',
                     E AS event_type = 'error',
                     V AS event_type = 'view'
            )
          """)
          .toDF()
          .select(
            col("key").as("user_id"),
            element_at(col("event_ids"), 1).as("first_id"),
            element_at(col("event_ids"), -1).as("second_id"),
            element_at(col("step_names"), 1).as("kind")
          )
      },
      Some("""
        WITH o AS (
          SELECT user_id, event_id, event_type,
                 lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nt,
                 lead(event_id)   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nid
          FROM events
        )
        SELECT user_id, event_id AS first_id, nid AS second_id,
               CASE WHEN event_type = 'signup' THEN 'S' ELSE 'E' END AS kind
        FROM o
        WHERE (event_type = 'signup' AND nt = 'purchase')
           OR (event_type = 'error'  AND nt = 'view')
      """)
    ),
    // MEASURES over an ARBITRARY relation (round-10): ONE ROW PER MATCH
    // with per-variable aggregates computed from the generic ALL ROWS
    // relation — no join back to the input (the rows already carry
    // every column). Oracle: gaps-and-islands aggregated per island.
    QueryDef(
      "q_cep_sql_orders_measures",
      (s, dir) => {
        val t = tables(s, dir)
        graft.streaming.MatchRecognize
          .detectRelationWithMeasures(
            t.orders.select("o_custkey", "o_orderkey", "o_orderstatus",
              "o_orderdate"),
            """
            MATCH_RECOGNIZE (
              PARTITION BY o_custkey
              ORDER BY o_orderdate, o_orderkey
              MEASURES COUNT(F.*) AS n_f,
                       FIRST(F.o_orderkey) AS first_f,
                       MAX(F.o_orderkey) AS max_f,
                       LAST(O.o_orderdate) AS close_date
              AFTER MATCH SKIP PAST LAST ROW
              PATTERN (F+ O)
              DEFINE F AS o_orderstatus = 'F',
                     O AS o_orderstatus = 'O'
            )
          """)
      },
      Some("""
        WITH o AS (
          SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) AS rn
          FROM orders
        ),
        f AS (
          SELECT o_custkey, rn,
                 rn - row_number() OVER (PARTITION BY o_custkey ORDER BY rn) AS grp
          FROM o WHERE o_orderstatus = 'F'
        ),
        runs AS (
          SELECT o_custkey, grp, min(rn) AS srn, max(rn) AS ern
          FROM f GROUP BY o_custkey, grp
        ),
        m AS (
          SELECT r.o_custkey, r.srn, r.ern
          FROM runs r
          JOIN o nx ON nx.o_custkey = r.o_custkey AND nx.rn = r.ern + 1
          WHERE nx.o_orderstatus = 'O'
        ),
        mn AS (
          SELECT *, CAST(row_number() OVER (PARTITION BY o_custkey
                         ORDER BY srn) AS BIGINT) AS match_no
          FROM m
        )
        SELECT mn.o_custkey, mn.match_no,
               CAST(mn.ern - mn.srn + 1 AS BIGINT) AS n_f,
               min(CASE WHEN o.rn = mn.srn THEN o.o_orderkey END) AS first_f,
               max(o.o_orderkey) FILTER (WHERE o.rn <= mn.ern) AS max_f,
               min(CASE WHEN o.rn = mn.ern + 1 THEN o.o_orderdate END) AS close_date
        FROM mn JOIN o ON o.o_custkey = mn.o_custkey
                      AND o.rn BETWEEN mn.srn AND mn.ern + 1
        GROUP BY mn.o_custkey, mn.match_no, mn.srn, mn.ern
      """)
    ),
    // SQL PATTERN PERMUTE (round-10): PERMUTE(E, V) P — expanded to
    // the alternation (E V P | V E P) per the reference semantics
    // (Calcite row-pattern PERMUTE; Flink compiles the same
    // expansion). Strict adjacency + SKIP TO NEXT ROW makes the
    // oracle a two-lead OR-predicate.
    QueryDef(
      "q_cep_sql_permute",
      (s, dir) => {
        graft.streaming.MatchRecognize
          .detectBatch(events(s, dir), """
            MATCH_RECOGNIZE (
              PARTITION BY user_id
              ORDER BY ts
              AFTER MATCH SKIP TO NEXT ROW
              PATTERN (PERMUTE(E, V) P)
              DEFINE E AS event_type = 'error',
                     V AS event_type = 'view',
                     P AS event_type = 'purchase'
            )
          """)
          .toDF()
          .select(
            col("key").as("user_id"),
            element_at(col("event_ids"), 1).as("first_id"),
            element_at(col("event_ids"), 2).as("mid_id"),
            element_at(col("event_ids"), 3).as("close_id"),
            element_at(col("step_names"), 1).as("kind")
          )
      },
      Some("""
        WITH o AS (
          SELECT user_id, event_id, event_type,
                 lead(event_type)    OVER w AS t1,
                 lead(event_id)      OVER w AS id1,
                 lead(event_type, 2) OVER w AS t2,
                 lead(event_id, 2)   OVER w AS id2
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id, event_id AS first_id, id1 AS mid_id, id2 AS close_id,
               CASE WHEN event_type = 'error' THEN 'E' ELSE 'V' END AS kind
        FROM o
        WHERE ((event_type = 'error' AND t1 = 'view')
            OR (event_type = 'view'  AND t1 = 'error'))
          AND t2 = 'purchase'
      """)
    ),
    // SUBSET union variables (SQL:2016 row-pattern SUBSET; reference
    // accepts it via the Calcite grammar StreamExecMatch compiles): S
    // = (E, R) covers the error run AND its recovery row, so measures
    // over S aggregate the whole match while measures over E see only
    // the errors. The oracle is the q_cep_sql_measures gaps-and-islands
    // rewrite with the recovery row folded into the totals.
    QueryDef(
      "q_cep_sql_subset",
      (s, dir) => {
        graft.streaming.MatchRecognize
          .detectBatchWithMeasures(events(s, dir), """
            MATCH_RECOGNIZE (
              PARTITION BY user_id
              ORDER BY ts
              MEASURES COUNT(S.*) AS n_all,
                       SUM(S.value) AS sum_all,
                       LAST(S.event_id) AS last_id,
                       COUNT(E.*) AS n_errors
              AFTER MATCH SKIP PAST LAST ROW
              PATTERN (E+ R)
              SUBSET S = (E, R)
              DEFINE E AS event_type = 'error',
                     R AS event_type <> 'error'
            )
          """)
          .select(
            col("key").as("user_id"),
            col("n_all"),
            round(col("sum_all"), 4).as("sum_all"),
            col("last_id"),
            col("n_errors")
          )
      },
      Some("""
        WITH o AS (
          SELECT user_id, event_id, event_type, value,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events
        ),
        err AS (
          SELECT user_id, event_id, value, rn,
                 rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS grp
          FROM o WHERE event_type = 'error'
        ),
        runs AS (
          SELECT user_id, grp, min(rn) AS srn, max(rn) AS ern,
                 CAST(count(*) AS BIGINT) AS n_errors,
                 sum(value) AS sum_err
          FROM err GROUP BY user_id, grp
        )
        SELECT r.user_id, r.n_errors + 1 AS n_all,
               round(r.sum_err + nx.value, 4) AS sum_all,
               nx.event_id AS last_id, r.n_errors
        FROM runs r
        JOIN o nx ON nx.user_id = r.user_id AND nx.rn = r.ern + 1
      """)
    ),
    // RUNNING vs FINAL measure semantics in ALL ROWS PER MATCH (the
    // SQL-standard frame distinction; reference: Calcite row-pattern
    // RUNNING/FINAL, StreamExecMatch measures): FINAL sees the whole
    // match on every row, RUNNING (the mode's default) the prefix up
    // to the row; the SUBSET count runs over both variables.
    QueryDef(
      "q_cep_sql_final_running",
      (s, dir) => {
        graft.streaming.MatchRecognize
          .detectBatchAllRowsWithMeasures(events(s, dir), """
            MATCH_RECOGNIZE (
              PARTITION BY user_id
              ORDER BY ts
              MEASURES FINAL SUM(E2.value) AS s2_fin,
                       FINAL LAST(E2.event_id) AS last_id_fin,
                       RUNNING COUNT(S.*) AS n_run,
                       COUNT(E2.*) AS n2_run
              AFTER MATCH SKIP TO NEXT ROW
              PATTERN (E1 E2)
              WITHIN INTERVAL '30' MINUTE
              SUBSET S = (E1, E2)
              DEFINE E1 AS event_type = 'error',
                     E2 AS event_type = 'error'
            )
          """)
          .select(
            col("key").as("user_id"),
            col("match_no"),
            col("row_in_match"),
            col("event_id"),
            col("classifier"),
            col("s2_fin"),
            col("last_id_fin"),
            col("n_run"),
            col("n2_run")
          )
      },
      Some("""
        WITH o AS (
          SELECT user_id, event_id, ts, event_type, value,
                 row_number() OVER w AS rn,
                 lag(event_id) OVER w AS p_id,
                 lag(event_type) OVER w AS p_type,
                 lag(ts) OVER w AS p_ts
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        m AS (
          SELECT user_id, p_id AS m1, event_id AS m2, value AS v2,
                 CAST(row_number() OVER (PARTITION BY user_id
                      ORDER BY rn) AS BIGINT) AS match_no
          FROM o
          WHERE event_type = 'error' AND p_type = 'error'
            AND ts - p_ts <= INTERVAL 30 MINUTE
        )
        SELECT user_id, match_no,
               CAST(u.r AS BIGINT) AS row_in_match,
               CASE u.r WHEN 1 THEN m1 ELSE m2 END AS event_id,
               CASE u.r WHEN 1 THEN 'E1' ELSE 'E2' END AS classifier,
               v2 AS s2_fin,
               m2 AS last_id_fin,
               CAST(u.r AS BIGINT) AS n_run,
               CAST(u.r - 1 AS BIGINT) AS n2_run
        FROM m, unnest([1, 2]) AS u(r)
      """)
    ),
    // Row-pattern exclusion {- E1 -} (SQL:2016; the reference grammar
    // accepts it): the excluded row still MATCHES — the measure
    // COUNT(E1.*) proves it was seen — but is omitted from the ALL
    // ROWS output, so each double-error match emits only its second
    // row (row_in_match keeps its position in the full match).
    QueryDef(
      "q_cep_sql_exclusion",
      (s, dir) => {
        graft.streaming.MatchRecognize
          .detectBatchAllRowsWithMeasures(events(s, dir), """
            MATCH_RECOGNIZE (
              PARTITION BY user_id
              ORDER BY ts
              MEASURES COUNT(E1.*) AS n1_run
              AFTER MATCH SKIP TO NEXT ROW
              PATTERN ({- E1 -} E2)
              WITHIN INTERVAL '30' MINUTE
              DEFINE E1 AS event_type = 'error',
                     E2 AS event_type = 'error'
            )
          """)
          .select(
            col("key").as("user_id"),
            col("match_no"),
            col("row_in_match"),
            col("event_id"),
            col("classifier"),
            col("n1_run")
          )
      },
      Some("""
        WITH o AS (
          SELECT user_id, event_id, ts, event_type,
                 row_number() OVER w AS rn,
                 lag(event_type) OVER w AS p_type,
                 lag(ts) OVER w AS p_ts
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id,
               CAST(row_number() OVER (PARTITION BY user_id ORDER BY rn)
                    AS BIGINT) AS match_no,
               CAST(2 AS BIGINT) AS row_in_match,
               event_id,
               'E2' AS classifier,
               CAST(1 AS BIGINT) AS n1_run
        FROM o
        WHERE event_type = 'error' AND p_type = 'error'
          AND ts - p_ts <= INTERVAL 30 MINUTE
      """)
    ),
    // AFTER MATCH SKIP TO LAST <var> (reference AfterMatchSkipStrategy
    // .skipToLast): matching resumes AT the last X row of the emitted
    // match, so X{3} over an error run of length L chains with stride
    // 2 — starts at offsets 0, 2, 4, ... while three rows remain.
    // (SKIP PAST LAST ROW strides 3; SKIP TO NEXT ROW strides 1 — the
    // three strategies are observably distinct on this pattern.) The
    // oracle enumerates the stride-2 starts per gaps-and-islands error
    // run.
    QueryDef(
      "q_cep_sql_skip_last",
      (s, dir) => {
        graft.streaming.MatchRecognize
          .detectBatch(events(s, dir), """
            MATCH_RECOGNIZE (
              PARTITION BY user_id
              ORDER BY ts
              AFTER MATCH SKIP TO LAST X
              PATTERN (X{3})
              DEFINE X AS event_type = 'error'
            )
          """)
          .toDF()
          .select(
            col("key").as("user_id"),
            element_at(col("event_ids"), 1).as("first_id"),
            element_at(col("event_ids"), 2).as("mid_id"),
            element_at(col("event_ids"), 3).as("last_id")
          )
      },
      Some("""
        WITH o AS (
          SELECT user_id, event_id, event_type,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events
        ),
        err AS (
          SELECT user_id, event_id, rn,
                 rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS grp
          FROM o WHERE event_type = 'error'
        ),
        runs AS (
          SELECT user_id, grp, min(rn) AS srn, max(rn) AS ern
          FROM err GROUP BY user_id, grp
        ),
        starts AS (
          SELECT user_id, srn + 2 * u.k AS m1
          FROM runs, unnest(range((ern - srn - 2) // 2 + 1)) AS u(k)
          WHERE ern - srn >= 2
        )
        SELECT s.user_id,
               a.event_id AS first_id, b.event_id AS mid_id,
               c.event_id AS last_id
        FROM starts s
        JOIN o a ON a.user_id = s.user_id AND a.rn = s.m1
        JOIN o b ON b.user_id = s.user_id AND b.rn = s.m1 + 1
        JOIN o c ON c.user_id = s.user_id AND c.rn = s.m1 + 2
      """)
    ),
    // Grouped alternation (round-11): PATTERN ((E|V)+ P) — the group
    // compiles to ONE ordered-choice NFA step (CepCore.Step.choices),
    // so every loop iteration may take a different variable and each
    // consumed row is labeled with the choice that matched (reference:
    // Calcite's row-pattern grammar accepts grouped alternation;
    // Flink's NFA runs it via GroupPattern branching). The emitted
    // label string is part of the oracle check — the DuckDB regex
    // match substring must equal the classifier sequence exactly.
    QueryDef(
      "q_cep_sql_group_alt",
      (s, dir) => {
        graft.streaming.MatchRecognize
          .detectBatch(events(s, dir), """
            MATCH_RECOGNIZE (
              PARTITION BY user_id
              ORDER BY ts
              AFTER MATCH SKIP TO NEXT ROW
              PATTERN ((E|V)+ P)
              DEFINE E AS event_type = 'error',
                     V AS event_type = 'view',
                     P AS event_type = 'purchase'
            )
          """)
          .toDF()
          .select(
            col("key").as("user_id"),
            element_at(col("event_ids"), 1).as("first_id"),
            element_at(col("event_ids"), -1).as("close_id"),
            (size(col("event_ids")) - 1).cast("long").as("n_run"),
            array_join(col("step_names"), "").as("labs")
          )
      },
      Some("""
        WITH o AS (
          SELECT user_id, event_id, event_type,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS rn
          FROM events
        ),
        s AS (
          SELECT user_id,
                 string_agg(CASE event_type WHEN 'error' THEN 'E'
                            WHEN 'view' THEN 'V' WHEN 'purchase' THEN 'P'
                            ELSE 'X' END, '' ORDER BY rn) AS str
          FROM o GROUP BY user_id
        ),
        pos AS (
          SELECT user_id, str,
                 unnest(range(1, CAST(length(str) AS BIGINT) + 1)) AS i
          FROM s
        ),
        mm AS (
          SELECT user_id, i AS srn,
                 regexp_extract(substr(str, CAST(i AS INT)), '^[EV]+P') AS hit
          FROM pos
          WHERE regexp_matches(substr(str, CAST(i AS INT)), '^[EV]+P')
        )
        SELECT mm.user_id, f.event_id AS first_id, l.event_id AS close_id,
               CAST(length(mm.hit) - 1 AS BIGINT) AS n_run,
               mm.hit AS labs
        FROM mm
        JOIN o f ON f.user_id = mm.user_id AND f.rn = mm.srn
        JOIN o l ON l.user_id = mm.user_id
                AND l.rn = mm.srn + length(mm.hit) - 1
      """)
    ),
    // Bare `AFTER MATCH SKIP TO <var>` (round-11): the SQL-standard
    // shorthand for SKIP TO LAST <var> (reference Calcite grammar;
    // StreamExecMatch.java:90 compiles it to skipToLast). Same X{3}
    // pattern and stride-2 oracle as q_cep_sql_skip_last — the two
    // queries' identical output IS the equivalence proof.
    QueryDef(
      "q_cep_sql_skip_to_var",
      (s, dir) => {
        graft.streaming.MatchRecognize
          .detectBatch(events(s, dir), """
            MATCH_RECOGNIZE (
              PARTITION BY user_id
              ORDER BY ts
              AFTER MATCH SKIP TO X
              PATTERN (X{3})
              DEFINE X AS event_type = 'error'
            )
          """)
          .toDF()
          .select(
            col("key").as("user_id"),
            element_at(col("event_ids"), 1).as("first_id"),
            element_at(col("event_ids"), 2).as("mid_id"),
            element_at(col("event_ids"), 3).as("last_id")
          )
      },
      Some("""
        WITH o AS (
          SELECT user_id, event_id, event_type,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events
        ),
        err AS (
          SELECT user_id, event_id, rn,
                 rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS grp
          FROM o WHERE event_type = 'error'
        ),
        runs AS (
          SELECT user_id, grp, min(rn) AS srn, max(rn) AS ern
          FROM err GROUP BY user_id, grp
        ),
        starts AS (
          SELECT user_id, srn + 2 * u.k AS m1
          FROM runs, unnest(range((ern - srn - 2) // 2 + 1)) AS u(k)
          WHERE ern - srn >= 2
        )
        SELECT s.user_id,
               a.event_id AS first_id, b.event_id AS mid_id,
               c.event_id AS last_id
        FROM starts s
        JOIN o a ON a.user_id = s.user_id AND a.rn = s.m1
        JOIN o b ON b.user_id = s.user_id AND b.rn = s.m1 + 1
        JOIN o c ON c.user_id = s.user_id AND c.rn = s.m1 + 2
      """)
    ),
    // SUBSET union variable as a skip target (round-11): PATTERN
    // ((E|V){3}) with SUBSET U = (E, V) and AFTER MATCH SKIP TO LAST U
    // — the boundary is the last row matched to ANY member label, here
    // the 3rd row of each match, so matches chain with stride 2 over
    // runs of errors-OR-views (SKIP PAST LAST ROW would stride 3 —
    // the strategies are observably distinct). Exercises both the
    // quantified choice group ((E|V){3} unrolls to three choice steps)
    // and subset resolution in the skip strategy. Classifier labels of
    // all three rows are part of the oracle check.
    QueryDef(
      "q_cep_sql_skip_subset",
      (s, dir) => {
        graft.streaming.MatchRecognize
          .detectBatch(events(s, dir), """
            MATCH_RECOGNIZE (
              PARTITION BY user_id
              ORDER BY ts
              AFTER MATCH SKIP TO LAST U
              PATTERN ((E|V){3})
              SUBSET U = (E, V)
              DEFINE E AS event_type = 'error',
                     V AS event_type = 'view'
            )
          """)
          .toDF()
          .select(
            col("key").as("user_id"),
            element_at(col("event_ids"), 1).as("first_id"),
            element_at(col("event_ids"), 2).as("mid_id"),
            element_at(col("event_ids"), 3).as("last_id"),
            array_join(col("step_names"), "").as("labs")
          )
      },
      Some("""
        WITH o AS (
          SELECT user_id, event_id, event_type,
                 CASE event_type WHEN 'error' THEN 'E' ELSE 'V' END AS lab,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events
        ),
        ev AS (
          SELECT user_id, event_id, rn, lab,
                 rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS grp
          FROM o WHERE event_type IN ('error', 'view')
        ),
        runs AS (
          SELECT user_id, grp, min(rn) AS srn, max(rn) AS ern
          FROM ev GROUP BY user_id, grp
        ),
        starts AS (
          SELECT user_id, srn + 2 * u.k AS m1
          FROM runs, unnest(range((ern - srn - 2) // 2 + 1)) AS u(k)
          WHERE ern - srn >= 2
        )
        SELECT s.user_id,
               a.event_id AS first_id, b.event_id AS mid_id,
               c.event_id AS last_id,
               a.lab || b.lab || c.lab AS labs
        FROM starts s
        JOIN ev a ON a.user_id = s.user_id AND a.rn = s.m1
        JOIN ev b ON b.user_id = s.user_id AND b.rn = s.m1 + 1
        JOIN ev c ON c.user_id = s.user_id AND c.rn = s.m1 + 2
      """)
    ),
    // FIRST/LAST logical navigation in DEFINE — the reference's
    // canonical iterative-condition form (MatchCodeGenerator.scala
    // FIRST|LAST; MatchRecognizeITCase.scala `price < LAST(DOWN.price,
    // 1) OR LAST(DOWN.price, 1) IS NULL`). U{3} with LAST(U.value, 1)
    // = three-row rising run anchored ANYWHERE (the first U sees NULL
    // and accepts any row — unlike physical PREV, which constrains the
    // first row against its predecessor). Oracle: consecutive row
    // triples with two rises via row_number self-joins.
    QueryDef(
      "q_cep_sql_nav_run",
      (s, dir) => {
        graft.streaming.MatchRecognize
          .detectBatch(events(s, dir), """
            MATCH_RECOGNIZE (
              PARTITION BY user_id
              ORDER BY ts
              AFTER MATCH SKIP TO NEXT ROW
              PATTERN (U{3})
              DEFINE U AS value > LAST(U.value, 1) OR LAST(U.value, 1) IS NULL
            )
          """)
          .toDF()
          .select(
            col("key").as("user_id"),
            element_at(col("event_ids"), 1).as("m1"),
            element_at(col("event_ids"), 2).as("m2"),
            element_at(col("event_ids"), 3).as("m3")
          )
      },
      Some("""
        WITH o AS (
          SELECT user_id, event_id, value,
                 row_number() OVER w AS rn
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT a.user_id, a.event_id AS m1, b.event_id AS m2, c.event_id AS m3
        FROM o a
        JOIN o b ON b.user_id = a.user_id AND b.rn = a.rn + 1
        JOIN o c ON c.user_id = a.user_id AND c.rn = a.rn + 2
        WHERE b.value > a.value AND c.value > b.value
      """)
    ),
    // Offset navigation in MEASURES (reference MatchCodeGenerator
    // .scala:141 "offsets = LAST/FIRST" on the measures path, same
    // logical-navigation rule as DEFINE): over the rising-run U{3},
    // FIRST(U.event_id, 1) and LAST(U.event_id, 1) both address the
    // MIDDLE row from opposite ends, and LAST(U.value, 2) must equal
    // the first row's value — ONE ROW PER MATCH collapses RUNNING/
    // FINAL so these are whole-match navigations. Oracle: row_number
    // self-join triples with two rises.
    QueryDef(
      "q_cep_sql_nav_measures",
      (s, dir) => {
        graft.streaming.MatchRecognize
          .detectBatchWithMeasures(events(s, dir), """
            MATCH_RECOGNIZE (
              PARTITION BY user_id
              ORDER BY ts
              MEASURES FIRST(U.event_id) AS m1,
                       FIRST(U.event_id, 1) AS m2_fwd,
                       LAST(U.event_id, 1) AS m2_back,
                       LAST(U.event_id) AS m3,
                       LAST(U.value, 2) AS v1,
                       COUNT(U.*) AS n
              AFTER MATCH SKIP TO NEXT ROW
              PATTERN (U{3})
              DEFINE U AS value > LAST(U.value, 1) OR LAST(U.value, 1) IS NULL
            )
          """)
          .select(
            col("key").as("user_id"),
            col("m1"), col("m2_fwd"), col("m2_back"), col("m3"),
            round(col("v1"), 4).as("v1"), col("n"))
      },
      Some("""
        WITH o AS (
          SELECT user_id, event_id, value,
                 row_number() OVER w AS rn
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT a.user_id, a.event_id AS m1, b.event_id AS m2_fwd,
               b.event_id AS m2_back, c.event_id AS m3,
               round(a.value, 4) AS v1, CAST(3 AS BIGINT) AS n
        FROM o a
        JOIN o b ON b.user_id = a.user_id AND b.rn = a.rn + 1
        JOIN o c ON c.user_id = a.user_id AND c.rn = a.rn + 2
        WHERE b.value > a.value AND c.value > b.value
      """)
    ),
    // Cross-variable navigation on the GENERIC relation path: B binds
    // against A's matched row (bare qualified ref = LAST(A.value, 0)),
    // C against the previous matched row via the UNIVERSAL variable
    // (unqualified LAST(value, 1)) and the match's first row via
    // FIRST(A.value). ALL ROWS PER MATCH output; overlap allowed via
    // SKIP TO NEXT ROW so the oracle enumerates all qualifying triples.
    QueryDef(
      "q_cep_sql_nav_cross",
      (s, dir) => {
        val t = tables(s, dir)
        val events = t.events
          .select("event_id", "ts", "user_id", "event_type", "value")
        graft.streaming.MatchRecognize
          .detectRelation(events, """
            MATCH_RECOGNIZE (
              PARTITION BY user_id
              ORDER BY ts
              AFTER MATCH SKIP TO NEXT ROW
              PATTERN (A B C)
              DEFINE A AS event_type = 'view',
                     B AS value > A.value,
                     C AS value > LAST(value, 1) AND value > FIRST(A.value)
            )
          """)
          .select(
            col("user_id"),
            col("event_id"),
            col("classifier")
          )
      },
      Some("""
        WITH o AS (
          SELECT user_id, event_id, event_type, value,
                 row_number() OVER w AS rn
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        m AS (
          SELECT a.user_id, a.event_id AS m1, b.event_id AS m2, c.event_id AS m3
          FROM o a
          JOIN o b ON b.user_id = a.user_id AND b.rn = a.rn + 1
          JOIN o c ON c.user_id = a.user_id AND c.rn = a.rn + 2
          WHERE a.event_type = 'view'
            AND b.value > a.value
            AND c.value > b.value AND c.value > a.value
        )
        SELECT user_id, m1 AS event_id, 'A' AS classifier FROM m
        UNION ALL SELECT user_id, m2, 'B' FROM m
        UNION ALL SELECT user_id, m3, 'C' FROM m
      """)
    )
  )
}
