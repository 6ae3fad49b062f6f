package graft

/** Repeatable sf1 correctness gate.
  *
  * The small-SF oracle runs cannot show partitioning/AQE-dependent
  * drift (double summation order, skew-split plan changes); the 10×
  * key-shifted probe can — it caught the flagship money-sum drift.
  * This main makes that probe a one-command, committable gate:
  *
  *   1. ScaleUp  — /root/testdata/sf0.1 → sf1Dir (10× key-shifted,
  *      near-dup-preserving; skipped if the probe already exists)
  *   2. Verify   — every SparkEntry.queries entry over the probe
  *   3. tools/check.py --json — DuckDB compare, written to
  *      CORRECTNESS_sf1.json at the repo root for commit
  *   4. Sf1Gates — sketch recall at 10× volume + the AQE skew-split
  *      mechanism assertion, written to SCALECHECK_sf1.json
  *
  * Usage: runMain graft.VerifySf1 [srcDir] [sf1Dir] [outDir] [jsonOut]
  *                                [--gates-only] [--rescale]
  *                                [--only=gate1,gate2]
  * `--rescale` forces probe regeneration (after a ScaleUp fixture
  * change); `--gates-only` skips the Verify+DuckDB phase and re-runs
  * just the scale gates (iteration path — the committed
  * CORRECTNESS_sf1.json stays whatever the last full run wrote).
  * `--only=...` restricts to the named gates and MERGES their results
  * into the existing SCALECHECK_sf1.json instead of clobbering the
  * other gates' evidence.
  * Exits nonzero if any oracle-checked query or scale gate fails.
  */
object VerifySf1 {
  def main(args: Array[String]): Unit = {
    val flags = args.filter(_.startsWith("--")).toSet
    val onlyGates: Set[String] = flags.collectFirst {
      case f if f.startsWith("--only=") =>
        f.substring("--only=".length).split(",").map(_.trim).toSet
    }.getOrElse(Set.empty)
    val pos = args.filterNot(_.startsWith("--"))
    val src = pos.headOption.getOrElse("/root/testdata/sf0.1")
    val sf1 = pos.lift(1).getOrElse("/tmp/graft_sf1")
    val out = pos.lift(2).getOrElse("/tmp/verify_sf1")
    val json = pos.lift(3).getOrElse("CORRECTNESS_sf1.json")
    if (flags("--rescale") || !new java.io.File(s"$sf1/lineitem.parquet").exists())
      ScaleUp.main(Array(src, sf1))
    else
      println(s"[verify-sf1] reusing existing probe at $sf1")
    val rc = if (flags("--gates-only")) 0 else {
      Verify.run(sf1, out, only = Set.empty)
      new ProcessBuilder(
        "python3", "tools/check.py", sf1, out, "--json", json)
        .inheritIO().start().waitFor()
    }

    val spark = Engine.session("graft-sf1-gates")
    val gates =
      try Sf1Gates.run(spark, sf1, only = onlyGates)
      finally spark.stop()
    gates.foreach(g =>
      println(s"[sf1-gate] ${if (g.pass) "PASS" else "FAIL"} ${g.name}: ${g.detail}"))
    // entry lines for this run, merged over any prior file when --only
    // restricted the run (the untouched gates keep their evidence)
    // keeps gate entries AND the evidence stamp line (`"_meta": {...}`,
    // written by tools/evidence.sh) across --only merges
    val entryRe = """"([a-z0-9_]+)": \{.*\}""".r
    val prior: Seq[(String, String)] = {
      val p = java.nio.file.Paths.get("SCALECHECK_sf1.json")
      if (onlyGates.nonEmpty && java.nio.file.Files.exists(p))
        entryRe.findAllMatchIn(java.nio.file.Files.readString(p))
          .map(m => m.group(1) -> m.matched).toSeq
      else Seq.empty
    }
    val fresh = gates.map(g =>
      g.name -> s"""${Json.str(g.name)}: {"pass": ${g.pass}, "detail": ${Json.str(g.detail)}}""")
    val merged = (prior.filterNot(p => fresh.exists(_._1 == p._1)) ++ fresh)
      .sortBy(_._1)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("SCALECHECK_sf1.json"),
      merged.map("  " + _._2).mkString("{\n", ",\n", "\n}\n"))
    sys.exit(if (rc != 0 || gates.exists(!_.pass)) 1 else 0)
  }
}
