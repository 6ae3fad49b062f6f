package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (temporal) join: for every left row, attach the columns of the
  * latest right row with the same key and `right.time <= left.time`
  * (inclusive). Inner by default — left rows with no prior right row
  * are dropped; `leftOuter = true` keeps them with null right columns,
  * the reference's isLeftOuterJoin mode (DuckDB `ASOF LEFT JOIN`).
  *
  * Reference semantics: Flink temporal/versioned join
  * (flink-table/flink-table-planner-blink/.../exec/stream/
  * StreamExecTemporalJoin.java:67, runtime operators/join/temporal/
  * TemporalRowTimeJoinOperator.java:88,134).
  *
  * Spark-first design — NOT a per-row lookup: both sides are unioned
  * with a side tag, shuffled ONCE on the key, and a per-key ordered
  * window carries the most recent right row onto left rows via one
  * `last(_, ignoreNulls = true)` over a struct of the right columns.
  * This is a single shuffle + one per-partition sort regardless of data
  * size, the same asymptotics as a sort-merge join; at cluster scale it
  * never builds a per-key map and never collects anything to the
  * driver. The struct is non-null for every right row, so the match is
  * the whole latest right row even when some of its columns are null
  * (DuckDB `ASOF JOIN` semantics). Right rows with a null key or time
  * can match nothing and are dropped before the shuffle; a left row
  * with a null key or time matches nothing. Ties at identical
  * timestamps: the right row sorts first (tag 0 < 1), so an equal-time
  * right row IS visible to the left row, matching `l.ts >= r.ts`.
  *
  * `rightCols` must not collide with left column names (rename before
  * calling).
  */
object AsOfJoin {
  private val TAG = "__asof_tag"
  private val ROW = "__asof_row"

  def join(
      left: DataFrame,
      right: DataFrame,
      key: String,
      time: String,
      rightCols: Seq[String],
      leftOuter: Boolean = false
  ): DataFrame =
    asOf(left, right, key, time, rightCols, leftOuter, col(time).asc_nulls_first)

  /** Forward as-of: attach the EARLIEST right row with `right.time >=
    * left.time` (inclusive). Same window, time-descending; at equal
    * timestamps the right row sorts first so it is visible to the left
    * row, matching `l.ts <= r.ts`.
    */
  def joinForward(
      left: DataFrame,
      right: DataFrame,
      key: String,
      time: String,
      rightCols: Seq[String],
      leftOuter: Boolean = false
  ): DataFrame =
    asOf(left, right, key, time, rightCols, leftOuter, col(time).desc_nulls_first)

  // null times sort first in both directions: only left rows can carry
  // one (right rows with a null time are dropped), and a left row ahead
  // of every right row of its key sees none of them
  private def asOf(
      left: DataFrame,
      right: DataFrame,
      key: String,
      time: String,
      rightCols: Seq[String],
      leftOuter: Boolean,
      timeOrder: Column
  ): DataFrame = {
    require(
      rightCols.forall(c => !left.columns.contains(c)),
      s"rightCols ${rightCols.mkString(",")} must not collide with left columns"
    )
    val l = left.withColumn(TAG, lit(1))
    val r = right
      .filter(col(key).isNotNull && col(time).isNotNull)
      .select(col(key), col(time), struct(rightCols.map(col): _*).as(ROW), lit(0).as(TAG))
    val w = Window
      .partitionBy(col(key))
      .orderBy(timeOrder, col(TAG))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = l.unionByName(r, allowMissingColumns = true)
      .withColumn(ROW, last(col(ROW), ignoreNulls = true).over(w))
      .filter(col(TAG) === 1)
    val kept = if (leftOuter) filled else filled.filter(col(ROW).isNotNull)
    kept.select(left.columns.map(col) ++ rightCols.map(c => col(ROW).getField(c).as(c)): _*)
  }
}
