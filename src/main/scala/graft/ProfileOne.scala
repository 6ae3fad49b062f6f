package graft

/** Optimization-round measurement harness (guide §1: measure first).
  * Runs one headline query under the metrics collector
  * (`graft.metrics.Collector`) and prints a per-job / per-stage cost
  * breakdown: wall time, task count, executor task time, shuffle bytes
  * read/written, input bytes. Usage:
  *
  *   sbt "runMain graft.ProfileOne <sfDir> <query> [repeats]"
  *
  * The same session/configs as Bench so the numbers line up with the
  * bench record; the breakdown is diagnostic only and never feeds the
  * published JSON.
  */
object ProfileOne {

  private def report(c: metrics.Collector): Unit = {
    val jobs = c.jobs
    println(f"[profile] jobs=${jobs.size} totalJobWallMs=${jobs.map(_.wallMs).sum}")
    jobs.sortBy(-_.wallMs).take(20).foreach { j =>
      println(f"[profile]   job ${j.id}%3d ${j.wallMs}%6d ms  ${j.description}")
    }
    println("[profile] stages (by task time):")
    c.stages.sortBy(-_.runMs).take(25).foreach { s =>
      println(f"[profile]   stage ${s.id}%4d tasks=${s.numTasks}%3d " +
        f"taskMs=${s.runMs}%7d in=${s.inputBytes / 1024}%8dK " +
        f"sr=${s.shuffleReadBytes / 1024}%7dK sw=${s.shuffleWriteBytes / 1024}%7dK " +
        f"spill=${s.spillBytes / 1024}%6dK  ${s.name.take(60)}")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val repeats = if (args.length > 2) args(2).toInt else 2
    val spark = Engine.session("graft-profile")
    val col = new metrics.Collector
    spark.sparkContext.addSparkListener(col)
    names.foreach { name =>
      (1 to repeats).foreach { i =>
        col.reset()
        val t0 = System.nanoTime()
        CacheScope.scoped {
          SparkEntry.queries(name)(spark, sfDir)
            .write.mode("overwrite").format("noop").save()
        }
        val wall = (System.nanoTime() - t0) / 1e9
        // the listener bus is async: drain it so every job and stage of
        // this run is counted before reading
        org.apache.spark.GraftAccess.drainListeners(spark.sparkContext)
        println(f"[profile] === $name repeat $i wall=$wall%.3f s ===")
        report(col)
      }
    }
    spark.stop()
  }
}
