package graft

import graft.streaming.MatchRecognize
import graft.streaming.StreamingOps.Event
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The two one-row MEASURES front-ends agree: the same MATCH_RECOGNIZE
  * text run through the Event path (`detectBatchWithMeasures`) and the
  * relation path (`detectRelationWithMeasures`, over the same events as
  * a DataFrame) gives equal (key, measures…) multisets. Timestamps are
  * distinct within each key: the Event path breaks `ts` ties by
  * `event_id` and the relation path does not.
  */
class CepFrontEndParitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  private def ts(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)

  /** Both front-ends' (key, measures…) rows, sorted as multisets. */
  private def both(events: DataFrame, sql: String,
      measures: Seq[String]): (Seq[String], Seq[String]) = {
    import spark.implicits._
    def rows(df: DataFrame, key: String): Seq[String] =
      df.select(col(key) +: measures.map(col): _*).collect().toSeq
        .map((r: Row) => r.toSeq.mkString("|")).sorted
    (rows(MatchRecognize.detectBatchWithMeasures(events.as[Event], sql), "key"),
      rows(MatchRecognize.detectRelationWithMeasures(events, sql), "user_id"))
  }

  private def eventsDf(rows: Seq[(Long, Int, Long, String, Double)]): DataFrame = {
    import spark.implicits._
    rows.map { case (id, m, u, t, v) => Event(id, ts(m), u, t, v) }.toDF()
  }

  private def assertParity(events: DataFrame, sql: String,
      measures: Seq[String]): Seq[String] = {
    val (ev, rel) = both(events, sql, measures)
    assert(ev.nonEmpty, "the case must produce matches")
    assert(ev == rel)
    ev
  }

  test("null columns: FIRST/LAST/COUNT/MIN/MAX skip or carry NULL alike") {
    // Event.value is a primitive double, so the nullable Event column is
    // event_type: a NULL there is a row no DEFINE accepts by equality
    val events = eventsDf(Seq(
      (1, 0, 1, "a", 1.0), (2, 1, 1, null, 2.0), (3, 2, 1, "c", 3.0),
      (4, 3, 1, "b", 4.0), (5, 4, 1, "a", 5.0),
      (6, 0, 2, "a", 6.0), (7, 1, 2, null, 7.0), (8, 2, 2, null, 8.0),
      (9, 3, 2, "b", 9.0)))
    val out = assertParity(events, """MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts
      MEASURES FIRST(M.event_type) AS f, LAST(M.event_type) AS l,
        COUNT(M.event_type) AS n, COUNT(M.*) AS rows_n,
        MIN(M.event_type) AS lo, MAX(M.event_type) AS hi
      PATTERN (A M+ B)
      DEFINE A AS event_type = 'a', B AS event_type = 'b',
        M AS event_type IS NULL OR event_type <> 'b')""",
      Seq("f", "l", "n", "rows_n", "lo", "hi"))
    assert(out == Seq("1|null|c|1|2|c|c", "2|null|null|0|2|null|null"))
  }

  test("SUBSET variable aggregates its members' rows alike") {
    val events = eventsDf(Seq(
      (1, 0, 1, "a", 1.0), (2, 1, 1, "x", 2.0), (3, 2, 1, "x", 3.0),
      (4, 3, 1, "b", 4.0),
      (5, 0, 2, "a", 10.0), (6, 1, 2, "b", 20.0)))
    assertParity(events, """MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts
      MEASURES SUM(S.value) AS s_sum, COUNT(S.*) AS s_n,
        AVG(S.value) AS s_avg, FIRST(S.event_type) AS s_first,
        LAST(S.ts) AS s_last_ts
      PATTERN (A X* B)
      SUBSET S = (A, B)
      DEFINE A AS event_type = 'a', X AS event_type = 'x',
        B AS event_type = 'b')""",
      Seq("s_sum", "s_n", "s_avg", "s_first", "s_last_ts"))
  }

  test("FIRST/LAST with an offset navigate, and run out of range to NULL, alike") {
    val events = eventsDf(Seq(
      (1, 0, 1, "a", 1.0), (2, 1, 1, "u", 2.0), (3, 2, 1, "u", 3.0),
      (4, 3, 1, "u", 4.0), (5, 4, 1, "b", 5.0),
      (6, 0, 2, "a", 7.0), (7, 1, 2, "u", 8.0), (8, 2, 2, "b", 9.0)))
    val out = assertParity(events, """MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts
      MEASURES FIRST(U.value, 1) AS u2, LAST(U.value, 1) AS u_prev,
        LAST(U.event_id, 2) AS u_back2, FIRST(U.value) AS u1
      PATTERN (A U+ B)
      DEFINE A AS event_type = 'a', U AS event_type = 'u',
        B AS event_type = 'b')""",
      Seq("u2", "u_prev", "u_back2", "u1"))
    assert(out == Seq("1|3.0|3.0|2|2.0", "2|null|null|null|8.0"))
  }

  test("an optional variable that matched nothing gives NULL and 0 alike") {
    val events = eventsDf(Seq(
      (1, 0, 1, "a", 1.0), (2, 1, 1, "b", 2.0),
      (3, 0, 2, "a", 3.0), (4, 1, 2, "p", 4.0), (5, 2, 2, "b", 5.0)))
    val out = assertParity(events, """MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts
      MEASURES SUM(P.value) AS p_sum, AVG(P.value) AS p_avg,
        COUNT(P.*) AS p_n, FIRST(P.value) AS p_first, MIN(P.ts) AS p_min
      PATTERN (A P? B)
      DEFINE A AS event_type = 'a', P AS event_type = 'p',
        B AS event_type = 'b')""",
      Seq("p_sum", "p_avg", "p_n", "p_first", "p_min"))
    assert(out.head == "1|null|null|0|null|null")
  }
}
