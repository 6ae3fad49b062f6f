package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Dirty-input contracts on the text sources (the ingestion reality a
  * 100 TB crawl feed brings): PERMISSIVE quarantines malformed rows
  * into the corrupt-record column instead of failing the scan,
  * DROPMALFORMED filters them, FAILFAST surfaces a loud error. One
  * mode per run — the choice is a per-feed policy, and all three are
  * pinned here so none silently changes under a Spark upgrade.
  */
class MalformedRecordsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  private def writeJson(lines: Seq[String]): String = {
    val dir = TempPaths.dir("graft_dirty_json")
    java.nio.file.Files.write(dir.resolve("part-0.json"),
      lines.mkString("\n").getBytes("UTF-8"))
    dir.toString
  }

  private val lines = Seq(
    """{"id": 1, "v": 10.5}""",
    """{"id": 2, "v": """,          // truncated json
    """not json at all""",
    """{"id": 4, "v": 7.25}""")

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("v", DoubleType),
    StructField("_corrupt_record", StringType)))

  test("PERMISSIVE quarantines malformed rows in _corrupt_record") {
    val path = writeJson(lines)
    val df = spark.read.schema(schema).option("mode", "PERMISSIVE").json(path)
      .cache() // corrupt-record column requires a materialized scan
    try {
      val good = df.filter(col("_corrupt_record").isNull)
        .select(col("id"), col("v"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(good == Set((1L, 10.5), (4L, 7.25)))
      val bad = df.filter(col("_corrupt_record").isNotNull)
        .select(col("_corrupt_record")).collect().map(_.getString(0))
      assert(bad.length == 2, s"expected 2 quarantined rows, got ${bad.toSeq}")
      assert(bad.contains("not json at all"))
    } finally df.unpersist()
  }

  test("DROPMALFORMED keeps only parseable rows") {
    val path = writeJson(lines)
    val clean = StructType(schema.fields.filterNot(_.name.startsWith("_")))
    val n = spark.read.schema(clean).option("mode", "DROPMALFORMED")
      .json(path).count()
    assert(n == 2)
  }

  test("FAILFAST refuses the scan loudly") {
    val path = writeJson(lines)
    val clean = StructType(schema.fields.filterNot(_.name.startsWith("_")))
    val e = intercept[SparkException] {
      spark.read.schema(clean).option("mode", "FAILFAST").json(path).collect()
    }
    // the malformed-record error sits in the cause chain under the
    // FAILED_READ_FILE wrapper
    val chain = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(chain.toLowerCase.contains("malformed"),
      s"unexpected error chain: ${chain.take(300)}")
  }
}
