package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Knuth multiplicative mix of a BIGINT key mod a prime, written once
  * for Spark and once as DuckDB SQL so the oracle replays every
  * "random" choice exactly (deterministic sampling, splits, walks).
  * The arithmetic stays in int64 on both engines: the pre-reduction
  * mod keeps every intermediate < 2^52, so neither side overflows at
  * any SF. Inputs must be non-negative (DuckDB's % keeps the
  * dividend's sign, Spark's pmod doesn't) — callers shift keys
  * positive first.
  */
private[operators] object CrossEngineMix {
  val MixP = 1000003L

  def mix(key: Column): Column =
    pmod(pmod(key, lit(MixP)) * lit(2654435761L) + lit(12345L), lit(MixP))

  /** The same mix in DuckDB SQL over a key expression. */
  def mixSql(key: String): String =
    s"((($key) % 1000003) * 2654435761 + 12345) % 1000003"
}
