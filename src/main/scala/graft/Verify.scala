package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit =
    run(args(0), args(1), only = args.drop(2).toSet)

  /** `only` non-empty restricts to named queries (dev iteration). */
  def run(sfDir: String, outDir: String, only: Set[String]): Unit = {
    val spark = Engine.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // CacheScope.scoped: operator-internal caches live exactly as
      // long as this query's write
      try CacheScope.scoped {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: $e")
        e.getStackTrace.take(5).foreach(f => System.err.println(s"[verify]   at $f"))
        // remove any previous run's dump: a stale result under this
        // name would let the compare silently pass on old data
        val stale = Paths.get(s"$outDir/$name")
        if (Files.exists(stale)) {
          import scala.jdk.CollectionConverters._
          Files.walk(stale).iterator().asScala.toSeq.reverse
            .foreach(Files.deleteIfExists(_))
        }
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
