package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The partition-pruned scan keeps a hive-partitioned scratch copy of
  * the source orders table. The copy is only valid while the source is
  * unchanged — regenerating the testdata must invalidate it, or the
  * query silently serves stale rows while the oracle reads fresh ones.
  */
class ScratchCacheSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  test("partitionPrunedScan scratch copy is invalidated when the source regenerates") {
    val src = TempPaths.dir("graft_fp_src").toFile
    val base = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    base.write.mode("overwrite").parquet(s"$src/orders.parquet")

    val q = SparkEntry.queries("q_scan_partition_pruned")
    val n1 = q(spark, src.getPath).agg(sum("n")).collect()(0).getLong(0)

    // regenerate the source with half the rows: a stale scratch copy
    // would keep reporting the original counts
    base.filter(col("o_orderkey") % 2 === 0)
      .write.mode("overwrite").parquet(s"$src/orders.parquet")
    val n2 = q(spark, src.getPath).agg(sum("n")).collect()(0).getLong(0)

    assert(n1 > 0 && n2 > 0)
    assert(n2 < n1, s"stale scratch copy served after source regeneration: $n2 vs $n1")
  }
}
