package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q_audit_referential counts on clean tables are all zero (the sf0.01
  * oracle proves the shape); this spec plants NULL and dangling keys
  * in a scratch copy and asserts each is counted in the right bucket.
  */
class AuditSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  test("planted null and dangling keys land in the right audit buckets") {
    val src = "/root/testdata/sf0.001"
    val dir = TempPaths.dir("auditspec").toString
    for (t <- Seq("customer", "part", "supplier", "events"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    // orders: 2 null custkeys + 3 dangling ones
    val orders = spark.read.parquet(s"$src/orders.parquet")
    orders
      .unionByName(orders.limit(2).withColumn("o_custkey",
        lit(null).cast("long")))
      .unionByName(orders.limit(3).withColumn("o_custkey",
        col("o_custkey") + lit(10000000L)))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    // lineitem: 1 dangling partkey
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    li.unionByName(li.limit(1).withColumn("l_partkey",
        col("l_partkey") + lit(10000000L)))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

    val got = CacheScope.scoped {
      SparkEntry.queries("q_audit_referential")(spark, dir)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
    }
    assert(got(("orders.custkey", "null_key")) == 2)
    assert(got(("orders.custkey", "orphan")) == 3)
    assert(got(("lineitem.partkey", "orphan")) == 1)
    assert(got(("lineitem.partkey", "null_key")) == 0)
    // the dangling-order side effect: the planted lineitem row still
    // references a real order, so orderkey stays clean
    assert(got(("lineitem.orderkey", "orphan")) == 0)
  }
}
