package graft

/** The nightly MAINTENANCE job for the whole persistence fleet, in four
  * steps:
  *
  *   1. COMPACT every manifest-pointer store under the given root
  *      ([[streaming.StreamApply.compactStores]] — stores are found by
  *      their `CURRENT` pointer), rewriting each live version to one file
  *      per table through the store's own atomic commit, so readers see
  *      the old layout or the new one.
  *   2. GATE each corpus directory on the v1 expectation suite, printing
  *      every constraint's metric. A failed EXACT invariant (threshold
  *      10⁶ ppm: completeness, key uniqueness, declared domains,
  *      cross-field consistency) skips that corpus's builds and makes
  *      the job exit 1: no consumer should see indexes derived from a
  *      snapshot that failed its own contract. Rate-based constraints are
  *      advisory, since some fail by design (the user_id non-key
  *      control). `--no-gate` builds anyway, for forensic runs against a
  *      known-bad snapshot.
  *   3. BUILD the corpus indexes of each corpus that passed
  *      ([[sources.CorpusIndex.buildAll]] — fingerprint-keyed, so an
  *      unchanged corpus is a no-op).
  *   4. VACUUM, once over all given directories, the indexes that match
  *      none of them. Pass EVERY live corpus in ONE run (or
  *      `--no-vacuum`): back-to-back per-corpus runs would each vacuum
  *      the other corpus's live indexes and force full rebuilds.
  *
  * A second run against an unchanged fleet compacts and builds nothing
  * (`MaintenanceJobSpec`, `CorpusIndexSpec`). Bench runs step 1 over its
  * dial stores after the dials (its `maintenance` marker).
  *
  * Usage: runMain graft.MaintenanceJob <storesRoot> [sfDir1,sfDir2,...] [--no-vacuum] [--no-gate]
  */
object MaintenanceJob {

  def main(args: Array[String]): Unit = {
    // positional args are the non-flag ones: `MaintenanceJob --no-vacuum`
    // must fall back to SPARK_GRAFT_STORES_ROOT, not treat the flag as
    // the root (discoverStores on "--no-vacuum" silently finds nothing)
    val positional = args.filterNot(_.startsWith("--"))
    val storesRoot = positional.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_STORES_ROOT", "target/graft-stores"))
    val sfDirs = positional.drop(1).headOption
      .map(_.split(",").toSeq).getOrElse(Seq.empty)
    val doVacuum = !args.contains("--no-vacuum")
    val gate = !args.contains("--no-gate")
    // SPARK_GRAFT_SHUFFLE (see Session): the sf10 synth builds want 128
    // partitions so the band-join explosion spreads (PLANS.md round 13)
    val spark = Session.local()
    val compacted = streaming.StreamApply.compactStores(spark, storesRoot)
    compacted.foreach { case (d, b, a) =>
      println(s"MAINTENANCE compacted $d files $b -> $a")
    }
    var gateFailed = false
    var built = 0
    for (d <- sfDirs) {
      val report = ext.Validate.expectationSuite(spark, d).collect()
      report.foreach(r => println(s"MAINTENANCE quality dir=$d " +
        s"${r.getString(0)} metric_ppm=${r.getLong(1)} " +
        s"threshold_ppm=${r.getLong(2)} passed=${r.getBoolean(3)}"))
      val hard = report.filter(r => r.getLong(2) == 1000000L && !r.getBoolean(3))
      if (hard.nonEmpty && gate) {
        gateFailed = true
        println(s"MAINTENANCE dir=$d SKIPPED: hard constraint(s) failed: " +
          hard.map(_.getString(0)).mkString(", "))
      } else {
        val t0 = System.nanoTime()
        val indexes = sources.CorpusIndex.buildAll(spark, d)
        val dt = (System.nanoTime() - t0) / 1e9
        built += indexes.size
        println(f"MAINTENANCE dir=$d t=$dt%.1fs " +
          indexes.map { case (n, c) => s"$n=$c" }.mkString(" "))
      }
    }
    val gone =
      if (doVacuum && sfDirs.nonEmpty) sources.CorpusIndex.vacuum(spark, sfDirs)
      else Seq.empty
    println(s"MAINTENANCE stores_compacted=${compacted.size} " +
      s"indexes=$built vacuumed=${gone.size}" +
      (if (gone.isEmpty) "" else gone.mkString(" [", ", ", "]")))
    spark.stop()
    if (gateFailed) sys.exit(1)
  }
}
