package graft

import java.nio.file.{Files, Paths}

/** Offline plan dump: writes `.explain("formatted")` for the named
  * registry queries (or all of them) to `<outDir>/<name>_<tag>.txt` —
  * the optimization rounds' evidence files (`plans/r14/...`). Plans
  * are captured from the built frames without forcing them, but
  * building a frame can itself run jobs (at sf0.1: d23_kcore's peel
  * loop 21, c10_bpe_train 14, x29_textrank 5) and materialize their
  * results, so the dump of such a query shows only the plan's tail.
  *
  * Usage: runMain graft.Plans <sfDir> <outDir> <tag> [q1,q2,...]
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag) = args.take(3)
    val only = args.lift(3).map(SparkEntry.select(_).toSet)
    val spark = Session.local()
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"), plan)
          println(s"[plans] wrote $name")
        } catch { case e: Throwable =>
          System.err.println(s"[plans] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
