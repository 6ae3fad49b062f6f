package graft

import java.nio.file.{Files, Paths}

/** Optimization-evidence tool: writes `.explain("formatted")` output for
  * headline queries to <outDir>/<query>_<suffix>.txt. Usage:
  *
  *   sbt "runMain graft.PlanDump <sfDir> <outDir> <suffix> [q1,q2,...]"
  *
  * Queries that drive side effects before returning their DataFrame
  * (streaming replays, iterative driver loops) still work — the plan
  * captured is the final returned DataFrame's, which is what the bench
  * times end-to-end; the suffix in the filename ties it to a round.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names: Seq[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else Bench.headline
    Files.createDirectories(Paths.get(outDir))
    val spark = Engine.session("graft-plandump")
    names.foreach { n =>
      try {
        val df = CacheScope.scoped { SparkEntry.queries(n)(spark, sfDir) }
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(outDir, s"${n}_$suffix.txt"), plan)
        println(s"[plandump] wrote $n")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $n failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
