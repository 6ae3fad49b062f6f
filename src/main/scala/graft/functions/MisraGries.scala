package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

import scala.collection.mutable

/** Misra–Gries heavy-hitters sketch as a merge-commutative Spark
  * `Aggregator` (register with `functions.udaf`).
  *
  * The sketch keeps at most `capacity` counters. Classic guarantees
  * (Misra & Gries 1982; merge rule from Agarwal et al., "Mergeable
  * Summaries", PODS 2012):
  *
  *  - every item with true frequency > n / capacity is present in the
  *    final summary, regardless of partitioning or merge order;
  *  - each kept counter underestimates the true count by at most
  *    n / capacity.
  *
  * Because the *surviving set* (not the guarantee) can vary with merge
  * order, callers that need deterministic output must treat the sketch
  * as a CANDIDATE GENERATOR and re-count candidates exactly in a second
  * pass — the same propose-then-verify pattern the MinHash-LSH dedup
  * path uses. `TextQueries.q_text_heavy_hitters` does exactly that, so
  * its output is exact and DuckDB-oracle-checkable while the heavy
  * lifting (full-corpus counting) never materializes more than
  * `capacity` counters per partition.
  *
  * Scale: the partial state is O(capacity) per partition independent of
  * data volume; merges are associative+commutative so Spark's two-phase
  * (partial → final) aggregation applies. At 100 TB the full pass ships
  * only `numPartitions × capacity` counters to one reducer.
  *
  * Reference surface: flink-table-runtime-blink approximate aggregates
  * delegate to sketches the same way (fixed-size mergeable state); this
  * class is written from the published algorithm, not any
  * implementation.
  */
final case class MGSummary(total: Long, counts: Map[String, Long])

class MisraGriesAgg(capacity: Int)
    extends Aggregator[String, MGSummary, MGSummary] {
  require(capacity > 0, s"capacity must be positive, got $capacity")

  override def zero: MGSummary = MGSummary(0L, Map.empty)

  override def reduce(b: MGSummary, item: String): MGSummary = {
    val counts = b.counts.get(item) match {
      case Some(c) => b.counts.updated(item, c + 1L)
      case None if b.counts.size < capacity => b.counts.updated(item, 1L)
      // decrement-all step: every tracked counter pays one unit for the
      // untracked arrival; zeroed counters free their slot. It removes
      // `capacity` units and each row adds at most one, so the rebuild
      // is amortized O(1) per row.
      case None => b.counts.collect { case (k, v) if v > 1L => k -> (v - 1L) }
    }
    MGSummary(b.total + 1L, counts)
  }

  override def merge(a: MGSummary, b: MGSummary): MGSummary = {
    val m = mutable.Map.empty[String, Long]
    m ++= a.counts
    b.counts.foreach { case (k, v) => m(k) = m.getOrElse(k, 0L) + v }
    if (m.size > capacity) {
      // mergeable-summaries rule: subtract the (capacity+1)-th largest
      // count from everything, drop non-positives → ≤ capacity survive
      val cut = m.values.toArray.sorted(Ordering[Long].reverse)(capacity)
      val dead = mutable.ArrayBuffer.empty[String]
      m.keysIterator.foreach { k =>
        val v = m(k) - cut
        if (v <= 0L) dead += k else m(k) = v
      }
      dead.foreach(m.remove)
    }
    MGSummary(a.total + b.total, m.toMap)
  }

  override def finish(r: MGSummary): MGSummary = r
  override def bufferEncoder: Encoder[MGSummary] = MisraGriesAgg.summaryEncoder
  override def outputEncoder: Encoder[MGSummary] = MisraGriesAgg.summaryEncoder
}

object MisraGriesAgg {
  /** Derived once: each derivation reflects over the case class, which
    * every plan that uses the sketch would otherwise pay for.
    */
  private val summaryEncoder: Encoder[MGSummary] = Encoders.product[MGSummary]
}
