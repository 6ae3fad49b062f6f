package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Exact money accumulation on long cents.
  *
  * The TPC-H-ish price/rate columns are exact 2-decimal values stored
  * as doubles (verified: max |x*100 - round(x*100)| < 1e-8 across the
  * testdata SFs). Summing them as doubles drifts with partitioning /
  * summation order past round(4) at 1e9+ magnitudes; summing as
  * decimal is exact but costs ~3x (UnsafeRow decimal accumulators,
  * round 2 bench). Instead: scale to integers once per row
  * (`round(x*100)` → long, exact), sum as longs (codegen-friendly,
  * map-side partial agg stays on primitives), divide back once at the
  * end. `price*(1-disc)` is exact in 1e-4 dollars and
  * `price*(1-disc)*(1+tax)` in 1e-6 dollars, since disc/tax are also
  * 2-decimal.
  *
  * Overflow bound: a single long accumulator of charge micro-units
  * (<= ~1.2e11/row) would overflow at ~7e7 rows *per group* (sf~50
  * for the 4-group Q1 shape). Every sum here therefore splits the
  * units into quotient/remainder by 1e6 and sums each in its own
  * primitive long ([[sumWideUnits]]): the remainder is < 1e6/row and
  * the quotient <= ~1.2e5/row, so both accumulators stay exact past
  * ~9e12 rows per group — beyond any 100 TB (sf~100k) group — while
  * the aggregate remains two codegen'd long sums with map-side
  * partials (no decimal accumulators, round-2 bench showed those
  * cost ~3x). The exact integer total is reconstructed as
  * hi*1e6 + lo in double at the very end; both engines evaluate the
  * same two-term IEEE expression on identical integers, so results
  * stay bit-identical even past 2^53.
  *
  * Every builder has a `...Sql` mirror producing the *same* arithmetic
  * in SQL text that parses identically in Spark SQL and DuckDB (DuckDB
  * sums BIGINT into HUGEINT — no overflow on the oracle side — and its
  * double→BIGINT cast rounds where Spark truncates, but both apply to
  * an already-integral double here).
  */
object Money {

  /** Exact integer cents / hundredths of a 2-decimal double column. */
  def cents(c: Column): Column = round(c * 100).cast("long")

  def centsSql(c: String): String = s"CAST(round(($c)*100) AS BIGINT)"

  /** Remainder/quotient split point for the two-accumulator sums. */
  private val Wide = 1000000L

  /** Exact overflow-hardened sum of a non-negative integral long-unit
    * column, returned as the exact integer total in double. Two
    * primitive long accumulators: sum(units div 1e6) and
    * sum(units mod 1e6). `(units - lo)` is an exact multiple of 1e6
    * well under 2^53, so the double division reconstructing the
    * quotient is exact. See the header note for the overflow bounds.
    */
  def sumWideUnits(units: Column): Column = {
    val lo = pmod(units, lit(Wide))
    val hi = ((units - lo) / lit(Wide)).cast("long")
    sum(hi).cast("double") * lit(Wide.toDouble) + sum(lo).cast("double")
  }

  private def sumWideUnitsSqlWith(units: String, intDiv: String): String =
    s"(CAST(sum(($units) $intDiv $Wide) AS DOUBLE) * $Wide.0" +
      s" + CAST(sum(($units) % $Wide) AS DOUBLE))"

  /** DuckDB mirror of [[sumWideUnits]] — same two-term reconstruction
    * (DuckDB's `//` is BIGINT floor division; all units non-negative).
    */
  def sumWideUnitsSql(units: String): String =
    sumWideUnitsSqlWith(units, "//")

  /** Spark-SQL-dialect twin of [[sumWideUnitsSql]] (`div` is Spark's
    * integral division) — for queries whose SPARK side is itself SQL
    * text (GROUPING SETS has no DataFrame API). Same arithmetic, same
    * values.
    */
  def sumWideUnitsSqlSpark(units: String): String =
    sumWideUnitsSqlWith(units, "div")

  /** sum(price) exactly, returned as double dollars. */
  def sumPrice(c: Column): Column =
    sumWideUnits(cents(c)) / lit(100.0)

  def sumPriceSql(c: String): String =
    s"${sumWideUnitsSql(centsSql(c))} / 100.0"

  /** Spark-SQL-dialect twin of [[sumPriceSql]]. */
  def sumPriceSqlSpark(c: String): String =
    s"${sumWideUnitsSqlSpark(centsSql(c))} / 100.0"

  /** sum(DISTINCT price) exactly — distinct classes on cents coincide
    * with distinct classes on the 2-decimal values. */
  def sumDistinctPrice(c: Column): Column =
    sum_distinct(cents(c)).cast("double") / lit(100.0)

  def sumDistinctPriceSql(c: String): String =
    s"CAST(sum(DISTINCT ${centsSql(c)}) AS DOUBLE) / 100.0"

  /** Row-level exact units: price * (1 - disc) in 1e-4 dollars. Use
    * when a query needs the pre-aggregation value — e.g. conditional
    * sums or num/denom ratios where both sides must stay integral
    * until the final division. */
  def discPriceUnits(price: Column, disc: Column): Column =
    cents(price) * (lit(100L) - cents(disc))

  def discPriceUnitsSql(price: String, disc: String): String =
    s"${centsSql(price)} * (100 - ${centsSql(disc)})"

  /** sum(price * (1 - disc)) exactly (1e-4-dollar units internally). */
  def sumDiscPrice(price: Column, disc: Column): Column =
    sumWideUnits(discPriceUnits(price, disc)) / lit(10000.0)

  def sumDiscPriceSql(price: String, disc: String): String =
    s"${sumWideUnitsSql(discPriceUnitsSql(price, disc))} / 10000.0"

  /** Row-level exact units: price * quantity in cents. Quantity must
    * be an integral-valued column (the TPC-H-ish l_quantity is);
    * Spark's double→long cast truncates where DuckDB's rounds, but
    * both agree on an already-integral double. */
  def priceQtyUnits(price: Column, qty: Column): Column =
    cents(price) * qty.cast("long")

  def priceQtyUnitsSql(price: String, qty: String): String =
    s"${centsSql(price)} * CAST($qty AS BIGINT)"

  /** sum(price * (1 - disc) * (1 + tax)) exactly (1e-6-dollar units). */
  def sumCharge(price: Column, disc: Column, tax: Column): Column =
    sumWideUnits(
      cents(price) * (lit(100L) - cents(disc)) * (lit(100L) + cents(tax))
    ) / lit(1000000.0)

  def sumChargeSql(price: String, disc: String, tax: String): String =
    s"${sumWideUnitsSql(s"${centsSql(price)} * (100 - ${centsSql(disc)}) * (100 + ${centsSql(tax)})")} / 1000000.0"
}
