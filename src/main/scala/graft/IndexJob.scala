package graft

/** The nightly index job as a runnable main: force-build every derived
  * corpus index for each given corpus directory, then vacuum indexes
  * whose fingerprints match none of them. This is the operational entry
  * point the `CorpusIndex` layer assumes exists — run it right after a
  * corpus snapshot lands and every interactive consumer (dedup
  * consumers, search, the LM scorer) only ever pays reads.
  *
  * Usage: runMain graft.IndexJob <sfDir1,sfDir2,...> [--no-vacuum] [--no-gate]
  *
  * QUALITY GATE: before building a corpus's indexes the job runs the
  * v1 expectation suite and prints every constraint's metric. EXACT
  * invariants (threshold = 10⁶ ppm — completeness, key uniqueness,
  * declared domains, cross-field consistency) GATE the build: a corpus
  * violating one is skipped and the job exits nonzero — downstream
  * consumers should never see indexes derived from a snapshot that
  * failed its own contract. Rate-based constraints (thresholds below
  * 10⁶) are advisory prints only, since some are expected to fail by
  * design (the user_id non-key control). `--no-gate` downgrades hard
  * failures to prints for forensic runs against a known-bad snapshot.
  *
  * ALWAYS pass EVERY live corpus in ONE invocation (or use
  * `--no-vacuum` for a partial run): vacuum's retention rule is "an
  * index is live iff its fingerprint matches one of THIS run's
  * directories", so back-to-back per-corpus invocations each vacuum
  * the other corpus's perfectly-live indexes and force full rebuilds
  * on next touch.
  */
object IndexJob {
  def main(args: Array[String]): Unit = {
    val dirs = args.headOption
      .getOrElse("/root/testdata/sf0.001").split(",").toSeq
    val doVacuum = !args.contains("--no-vacuum")
    // SPARK_GRAFT_SHUFFLE (see Session): the sf10 synth builds want 128
    // partitions so the band-join explosion spreads (PLANS.md round 13)
    val spark = Session.local()
    val gate = !args.contains("--no-gate")
    var gateFailed = false
    for (d <- dirs) {
      val report = ext.Validate.expectationSuite(spark, d).collect()
      report.foreach(r => println(s"INDEXJOB quality dir=$d " +
        s"${r.getString(0)} metric_ppm=${r.getLong(1)} " +
        s"threshold_ppm=${r.getLong(2)} passed=${r.getBoolean(3)}"))
      val hard = report.filter(r => r.getLong(2) == 1000000L && !r.getBoolean(3))
      if (hard.nonEmpty && gate) {
        gateFailed = true
        println(s"INDEXJOB dir=$d SKIPPED: hard constraint(s) failed: " +
          hard.map(_.getString(0)).mkString(", "))
      } else {
        val t0 = System.nanoTime()
        val built = sources.CorpusIndex.buildAll(spark, d)
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"INDEXJOB dir=$d t=$dt%.1fs " +
          built.map { case (n, c) => s"$n=$c" }.mkString(" "))
      }
    }
    if (doVacuum) {
      val gone = sources.CorpusIndex.vacuum(spark, dirs)
      println(s"INDEXJOB vacuumed=${gone.size}" +
        (if (gone.isEmpty) "" else gone.mkString(" [", ", ", "]")))
    }
    spark.stop()
    if (gateFailed) sys.exit(1)
  }
}
