package graft

import org.apache.spark.sql.SparkSession

/** The unified nightly MAINTENANCE job for the whole persistence fleet —
  * one idempotent entry point where there used to be per-store ad-hoc
  * calls:
  *
  *   1. COMPACT every manifest-pointer store under the given root
  *      ([[streaming.StreamApply.compactStores]] — discovers stores by
  *      their `CURRENT` pointer, so a stream added next round is
  *      maintained without touching this job), rewriting each live
  *      version to one file per table through the store's own atomic
  *      commit. Readers are never disturbed: they observe the old
  *      layout or the new one.
  *   2. REFRESH the derived corpus indexes for each live corpus
  *      directory ([[sources.CorpusIndex.buildAll]] — fingerprint-keyed,
  *      so an unchanged corpus is a no-op) and VACUUM indexes orphaned
  *      by regenerated snapshots.
  *
  * Both halves are idempotent by construction: a second run against an
  * unchanged fleet compacts nothing and rebuilds nothing —
  * `MaintenanceJobSpec` asserts that, plus data identity across the
  * rewrite. The bench's steady-state streaming path runs step 1 over
  * its dial stores after the dials complete (reported in the
  * `maintenance` marker), so every round exercises the job against a
  * freshly-accreted fleet.
  *
  * Usage: runMain graft.MaintenanceJob <storesRoot> [sfDir1,sfDir2,...] [--no-vacuum]
  */
object MaintenanceJob {

  /** Run both halves; returns (compactions, index builds, vacuumed). */
  def run(spark: SparkSession, storesRoot: String, sfDirs: Seq[String],
      vacuum: Boolean = true): (Seq[(String, Long, Long)], Seq[(String, Long)], Seq[String]) = {
    val compacted = streaming.StreamApply.compactStores(spark, storesRoot)
    val built = sfDirs.flatMap(d => sources.CorpusIndex.buildAll(spark, d))
    val gone =
      if (vacuum && sfDirs.nonEmpty) sources.CorpusIndex.vacuum(spark, sfDirs)
      else Seq.empty
    (compacted, built, gone)
  }

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
    val spark = Session.local()
    val (compacted, built, gone) = run(spark, storesRoot, sfDirs, doVacuum)
    compacted.foreach { case (d, b, a) =>
      println(s"MAINTENANCE compacted $d files $b -> $a")
    }
    built.foreach { case (n, c) => println(s"MAINTENANCE index $n rows=$c") }
    println(s"MAINTENANCE stores_compacted=${compacted.size} " +
      s"indexes=${built.size} vacuumed=${gone.size}")
    spark.stop()
  }
}
