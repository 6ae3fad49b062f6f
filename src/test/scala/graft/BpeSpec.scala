package graft

import graft.functions.Bpe
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BPE merge training: the trainer must be a pure function of the
  * corpus — equal to the sequential reference implementation and
  * invariant to partitioning (the determinism a 1000-executor
  * tokenizer-training run needs for reproducible vocabularies).
  */
class BpeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get
  private val dir = "/root/testdata/sf0.001"

  private def documents = Engine.Tables(spark, dir).documents

  test("applyMerge replaces greedily left-to-right") {
    assert(Bpe.applyMerge(Seq("a", "b", "a", "b", "b"), "a", "b")
      == Seq("ab", "ab", "b"))
    // overlapping occurrences consume left-first: aaa + (a,a) -> aa, a
    assert(Bpe.applyMerge(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    assert(Bpe.applyMerge(Seq("x"), "a", "b") == Seq("x"))
  }

  test("in-memory incremental trainer equals the reference at 256 merges") {
    val vocab = Bpe.vocabulary(documents)
    val ref = Bpe.trainReference(vocab, numMerges = 256)
    val (inc, affected) = Bpe.trainWithStats(vocab, numMerges = 256)
    assert(inc == ref, s"incremental != reference (first diff: ${
      inc.zip(ref).indexWhere { case (a, b) => a != b }})")
    // BPE frequencies need not be non-increasing (later merges can beat
    // earlier pair counts), but ranks are sequential and every freq is
    // positive
    assert(inc.nonEmpty && inc.map(_.rank) == inc.indices)
    assert(inc.forall(_.freq > 0))
    // the whole point of incremental counts: round k touches only the
    // words containing the merged pair, a shrinking sliver of the vocab
    val nWords = vocab.size.toLong
    assert(affected.forall(_ <= nWords))
    assert(affected.sum < affected.length * nWords / 2,
      s"rounds touched ${affected.sum} of ${affected.length * nWords} word-visits")
    // later rounds touch (on average) fewer words than early rounds
    val (early, late) = affected.splitAt(affected.length / 2)
    assert(late.sum <= early.sum,
      s"recount input did not shrink: early=${early.sum} late=${late.sum}")
  }

  test("merge table is partitioning-invariant") {
    val a = Bpe.train(Bpe.vocabulary(documents.repartition(3)), numMerges = 8)
    val b = Bpe.train(Bpe.vocabulary(documents.repartition(13)), numMerges = 8)
    assert(a == b, s"partitioning changed merges:\n $a\n $b")
  }

  test("tokenize compresses and matches per-word reference encoding") {
    val docs = documents
    val merges = Bpe.train(Bpe.vocabulary(docs), numMerges = 12)
    val rules = merges.map(m => (m.left, m.right))
    val out = Bpe.tokenize(docs, merges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // distributed per-doc counts equal a driver-side re-encode
    val expected = docs.select(col("doc_id"), col("text")).collect().map { r =>
      val words = r.getString(1).toLowerCase.split(" ").filter(_.nonEmpty)
      val nTok = words.map(w => Bpe.applyMerges(w, rules).length.toLong).sum
      val nSym = words.map(_.length.toLong).sum
      r.getLong(0) -> (nTok, nSym)
    }.toMap
    assert(out == expected)
    // the learned merges actually compress the corpus
    val (tok, sym) = out.values.foldLeft((0L, 0L)) {
      case ((a, b), (t, s)) => (a + t, b + s)
    }
    assert(tok < sym, s"no compression: tokens=$tok symbols=$sym")
  }
}
