package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Chunking coverage/overlap invariants and profiler cross-checks. */
class ChunkProfileSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"
  private lazy val spark: SparkSession = SparkTestSession.get

  test("overlapping chunks tile every document with stride 6") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val chunks = SparkEntry.queries("q_chunk_overlap")(spark, dir)
      .collect()
      .groupBy(_.getAs[Long]("doc_id"))
    assert(chunks.keySet == docs.keySet, "every document chunks")
    chunks.foreach { case (docId, rs) =>
      val n = docs(docId)
      val sorted = rs.sortBy(_.getAs[Int]("chunk_idx"))
      // starts are exactly 0, 6, 12, ... while < n
      assert(sorted.map(_.getAs[Int]("chunk_start")).toSeq ==
        (0 until n by 6).toSeq)
      sorted.foreach { r =>
        val start = r.getAs[Int]("chunk_start")
        val len = r.getAs[Int]("n_chunk_tokens")
        assert(len == math.min(8, n - start), s"doc $docId start $start")
      }
      // full coverage: last chunk reaches the end of the document
      val last = sorted.last
      assert(last.getAs[Int]("chunk_start") + last.getAs[Int]("n_chunk_tokens") == n)
      // consecutive full chunks overlap by exactly 2 tokens
      assert(sorted.zip(sorted.tail).forall { case (a, b) =>
        b.getAs[Int]("chunk_start") - a.getAs[Int]("chunk_start") == 6
      })
    }
  }

  test("exact-duplicate documents produce identical chunk hash sequences") {
    import spark.implicits._
    // the corpus plants near-dups, not byte-identical ones — build a
    // two-copy fixture (the chunk query reads only documents.parquet)
    val tmp = TempPaths.dir("graft_chunk").toString
    val text = (1 to 20).map(i => s"tok$i").mkString(" ")
    Seq(
      (1L, text, "en", "web", text.length),
      (2L, text, "en", "web", text.length),
      (3L, "different words entirely here now", "en", "web", 33)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val chunks = SparkEntry.queries("q_chunk_overlap")(spark, tmp)
    val seqs = Seq(1L, 2L, 3L).map { id =>
      chunks.filter(col("doc_id") === id)
        .orderBy("chunk_idx")
        .select("chunk_hash").collect().map(_.getString(0)).toSeq
    }
    assert(seqs(0) == seqs(1), "duplicate docs must chunk identically")
    assert(seqs(0) != seqs(2), "distinct docs must not collide")
    // 20 tokens, size 8 / stride 6 → starts 0,6,12,18
    assert(seqs(0).length == 4)
  }

  test("profiler matches directly computed per-column stats") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_profile_table")(spark, dir)
      .collect()
      .map(r => r.getAs[String]("column_name") -> r)
      .toMap
    val n = docs.count()
    Seq("doc_id", "lang", "source", "n_chars").foreach { c =>
      val r = out(c)
      assert(r.getAs[Long]("n_rows") == n)
      assert(r.getAs[Long]("n_null") ==
        docs.filter(col(c).isNull).count())
      assert(r.getAs[Long]("n_distinct") ==
        docs.select(c).na.drop().distinct().count())
      val mn = docs.agg(min(col(c)).cast("string")).head().getString(0)
      val mx = docs.agg(max(col(c)).cast("string")).head().getString(0)
      assert(r.getAs[String]("min_value") == mn)
      assert(r.getAs[String]("max_value") == mx)
    }
  }
}
