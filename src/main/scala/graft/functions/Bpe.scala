package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** BPE merge training (Sennrich et al. 2016, "Neural Machine
  * Translation of Rare Words with Subword Units" — the
  * tokenizer-training pass every LLM data pipeline runs before
  * tokenizing a corpus).
  *
  * Scale shape: BPE statistics live on the WORD VOCABULARY, not the
  * corpus. One distributed pass aggregates the corpus to (word → count)
  * — the only pass whose cost scales with corpus size — and that
  * distinct-word table is collected to the driver, where the merge
  * loop runs in memory with zero Spark jobs. The vocabulary is small by
  * construction: tokenizer training caps it regardless of corpus bytes,
  * and the documents table has 31 distinct words at sf0.001, sf0.01
  * and sf0.1 (27,939 / 27,165 / 270,704 word occurrences).
  *
  * Determinism: the argmax tie-break is total (freq DESC, left ASC,
  * right ASC), so the merge table is a pure function of the corpus —
  * independent of partitioning and cluster size (BpeSpec pins both
  * against [[trainReference]]).
  */
object Bpe {

  final case class Merge(rank: Int, left: String, right: String, freq: Long)

  /** Greedy left-to-right application of one merge to a symbol
    * sequence — the standard BPE replacement rule.
    */
  def applyMerge(sym: Seq[String], l: String, r: String): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    var i = 0
    while (i < sym.length) {
      if (i + 1 < sym.length && sym(i) == l && sym(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += sym(i); i += 1 }
    }
    out.toSeq
  }

  private def pairsOf(sym: Seq[String]): Iterator[(String, String)] =
    sym.iterator.zip(sym.iterator.drop(1))

  /** Deterministic argmax over a pair-count map — the same total order
    * both trainers use (freq DESC, left ASC, right ASC), so the merge
    * table is independent of hash-map iteration order.
    */
  private def argmax(
      counts: scala.collection.Map[(String, String), Long]
  ): ((String, String), Long) =
    counts.minBy { case ((a, b), c) => (-c, a, b) }

  /** The corpus word vocabulary, collected to the driver: lower-cased
    * text split on single spaces, empty tokens dropped, occurrences
    * counted per word. One distributed aggregation, one collect.
    */
  def vocabulary(documents: DataFrame): Map[String, Long] =
    documents
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap

  /** Learn `numMerges` BPE merges from a (word → count) vocabulary with
    * INCREMENTAL pair counts. The pair-count map plus a pair→words
    * inverted index are built once; each round takes the argmax, and
    * only the words containing the merged pair retract their old pair
    * contributions and assert the post-merge ones, instead of
    * recounting the whole vocabulary k times.
    *
    * Words are split to character symbols (no end-of-word marker —
    * documented choice, same statistics either way for the merge
    * ranking). Stops early when no adjacent pair remains. Produces
    * byte-identical merges to [[trainReference]].
    */
  def train(vocab: Map[String, Long], numMerges: Int): Seq[Merge] =
    trainWithStats(vocab, numMerges)._1

  /** [[train]] plus per-round affected counts: how many distinct symbol
    * sequences round k recounted (the spec asserts this is a small,
    * shrinking fraction of the vocabulary).
    */
  def trainWithStats(
      vocab: Map[String, Long], numMerges: Int): (Seq[Merge], Seq[Long]) = {
    // collapse identical symbol sequences (mirrors trainReference)
    val grouped = vocab.groupMapReduce {
      case (w, _) => w.map(_.toString): Seq[String]
    } { case (_, c) => c }(_ + _)
    val words: Array[Seq[String]] = grouped.keys.toArray
    val wc: Array[Long] = words.map(grouped)

    val counts = scala.collection.mutable.Map.empty[(String, String), Long]
    val index = scala.collection.mutable.Map
      .empty[(String, String), scala.collection.mutable.Set[Int]]
    var i = 0
    while (i < words.length) {
      pairsOf(words(i)).foreach { p =>
        counts(p) = counts.getOrElse(p, 0L) + wc(i)
        index.getOrElseUpdate(
          p, scala.collection.mutable.Set.empty[Int]) += i
      }
      i += 1
    }

    val merges = ArrayBuffer.empty[Merge]
    val affectedPerRound = ArrayBuffer.empty[Long]
    var rank = 0
    while (rank < numMerges && counts.nonEmpty) {
      val ((l, r), f) = argmax(counts)
      merges += Merge(rank, l, r, f)
      val affected = index.getOrElse((l, r), Set.empty[Int]).toArray
      affectedPerRound += affected.length.toLong
      affected.foreach { idx =>
        val old = words(idx)
        val c = wc(idx)
        val merged = applyMerge(old, l, r)
        val oldPairs = pairsOf(old).toSeq
        val newPairs = pairsOf(merged).toSeq
        oldPairs.foreach { p =>
          val nv = counts.getOrElse(p, 0L) - c
          if (nv > 0L) counts(p) = nv else counts.remove(p)
        }
        newPairs.foreach(p => counts(p) = counts.getOrElse(p, 0L) + c)
        val oldSet = oldPairs.toSet
        val newSet = newPairs.toSet
        (oldSet diff newSet).foreach { p =>
          index.get(p).foreach { s => s -= idx; if (s.isEmpty) index.remove(p) }
        }
        (newSet diff oldSet).foreach { p =>
          index.getOrElseUpdate(
            p, scala.collection.mutable.Set.empty[Int]) += idx
        }
        words(idx) = merged
      }
      rank += 1
    }
    (merges.toSeq, affectedPerRound.toSeq)
  }

  /** Sequential reference implementation over an in-memory vocab — the
    * spec's ground truth (identical rules, no Spark).
    */
  def trainReference(vocab: Map[String, Long], numMerges: Int): Seq[Merge] = {
    var v: Map[Seq[String], Long] =
      vocab.groupMapReduce { case (w, _) => w.map(_.toString): Seq[String] } {
        case (_, c) => c
      }(_ + _)
    val merges = ArrayBuffer.empty[Merge]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      v.foreach { case (sym, c) =>
        sym.iterator.zip(sym.iterator.drop(1)).foreach { p =>
          counts(p) = counts.getOrElse(p, 0L) + c
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, r), f) = counts.minBy { case ((a, b), c) => (-c, a, b) }
        merges += Merge(rank, l, r, f)
        v = v.groupMapReduce { case (sym, _) => applyMerge(sym, l, r) } {
          case (_, c) => c
        }(_ + _)
        rank += 1
      }
    }
    merges.toSeq
  }

  /** The full operator: corpus → [[vocabulary]] → merge table
    * DataFrame (rank, left, right, freq).
    */
  def trainFromDocuments(documents: DataFrame, numMerges: Int): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    train(vocabulary(documents), numMerges)
      .toDF()
      .select(col("rank"), col("left"), col("right"), col("freq"))
  }

  /** Encode a word with a learned merge table: apply each rule in rank
    * order (the standard BPE encode; one left-to-right pass per rule
    * reaches that rule's fixpoint because a merged token can never
    * re-match its own rule).
    */
  def applyMerges(word: String, rules: Seq[(String, String)]): Seq[String] = {
    var sym: Seq[String] = word.map(_.toString)
    rules.foreach { case (l, r) => sym = applyMerge(sym, l, r) }
    sym
  }

  /** Tokenize the corpus with a learned merge table — the companion
    * encode pass. The rules ride the UDF closure (broadcast to every
    * executor once); the scan stays a single shuffle-on-doc_id
    * aggregation, so the pass is embarrassingly parallel at 100 TB.
    * The UDF is justified: rank-ordered merge application is
    * inherently procedural (no Column-algebra equivalent).
    */
  def tokenize(documents: DataFrame, merges: Seq[Merge]): DataFrame = {
    val rules = merges.sortBy(_.rank).map(m => (m.left, m.right))
    val nTok = udf((w: String) => applyMerges(w, rules).length)
    documents
      .select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
      .select(col("doc_id"), nTok(col("word")).as("n_tok"),
        length(col("word")).as("n_sym"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("n_tok")).as("n_bpe_tokens"),
        sum(col("n_sym")).as("n_char_symbols"))
  }
}
